package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential spec for the BPE tokenizer: the trainer replays the
  * public reference algorithm by hand, the compiled expression replays
  * the pure driver-side encoder, and subword concatenation always
  * reconstructs the word. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainFromCounts replays the hand-computed reference example") {
    // the canonical Sennrich corpus: low:5 lower:2 newest:6 widest:3.
    // Round 1 pair counts: (e,s)=9 (s,t)=9 (l,o)=7 (o,w)=7 (w,e)=8 ...
    // -> max 9, tie (e,s) vs (s,t) -> lexicographically smallest (e,s);
    // then (es,t)=9; then (l,o) vs (o,w) tie at 7 -> (l,o); then (lo,w)=7
    val counts = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.trainFromCounts(counts, numMerges = 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // the classic payoff: an UNSEEN word segments into learned units
    assert(Bpe.encodeWord("lowest", merges) == Vector("low", "est"))
    assert(Bpe.encodeWord("newest", merges) == Vector("n", "e", "w", "est"))
  }

  test("trainFromCounts stops early when every word is fused") {
    val merges = Bpe.trainFromCounts(Seq("ab" -> 3L), numMerges = 10)
    assert(merges == Seq(("a", "b")))
  }

  test("compiled BpeEncode matches the pure encoder word-for-word") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow"),
      (4L, "  leading and trailing   whitespace  "),
      (5L, ""),
      (6L, "repetition repetition repetition of representation"))
      .toDF("id", "text")
    val merges = Bpe.train(corpus, "text", numMerges = 12, maxVocab = 100)
    assert(merges.size == 12)
    val got = corpus.select($"id", Bpe.encode($"text", merges).as("sub"))
      .as[(Long, Seq[String])].collect().toMap
    val texts = corpus.as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val words = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val expect = words.flatMap(w => Bpe.encodeWord(w, merges))
      assert(got(id) == expect, s"id=$id")
    }
    // blank text encodes to the empty array, not null
    assert(got(5L) == Seq.empty)
    // a hand-written merge table: the -> the; lowest -> low est
    val fixed = Seq(("t", "h"), ("th", "e"), ("e", "s"), ("es", "t"),
      ("l", "o"), ("lo", "w"))
    assert(Seq("the lowest rate").toDF("text").select(Bpe.encode($"text", fixed))
      .as[Seq[String]].head() == Seq("the", "low", "est", "r", "a", "t", "e"))
  }

  test("subword concatenation reconstructs every word (unicode included)") {
    val merges = Seq(("a", "b"), ("ab", "c"), ("😀", "😀"))
    for (w <- Seq("abcabc", "xyzzy", "😀😀a", "café", "a")) {
      val sub = Bpe.encodeWord(w, merges)
      assert(sub.mkString == w, s"word '$w' -> $sub")
      // a surrogate pair is never split down the middle
      sub.foreach(s => assert(!Character.isLowSurrogate(s.charAt(0)), s"'$s'"))
    }
  }

  test("encode merges the FIRST occurrence of the best-rank pair") {
    // 'aaa' with merge (a,a): leftmost wins -> [aa, a], never [a, aa]
    assert(Bpe.encodeWord("aaa", Seq(("a", "a"))) == Vector("aa", "a"))
    // rank order beats position: (b,c) outranks (a,b) in 'abc'
    assert(Bpe.encodeWord("abc", Seq(("b", "c"), ("a", "b"))) ==
      Vector("a", "bc"))
  }

  test("train is layout-independent and exactly reproducible") {
    val corpus = (1 to 200).map(i =>
      (i.toLong, s"token${i % 7} shared words appear here token${i % 5}"))
      .toDF("id", "text")
    val a = Bpe.train(corpus, "text", numMerges = 8)
    val b = Bpe.train(corpus.repartition(13), "text", numMerges = 8)
    assert(a == b)
  }

  test("encodeIds: compiled ids match the pure replica; OOV maps to unk") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val vocab = Bpe.vocabulary(merges, Seq("a", "b", "c", "z"))
    // base sorted first (a=0 b=1 c=2 z=3), merge products in rank
    // order (ab=4 abc=5)
    assert(vocab == Seq("a", "b", "c", "z", "ab", "abc"))
    val df = Seq((1L, "abc zab QQ"), (2L, ""), (3L, "cab")).toDF("id", "text")
    val got = df.select($"id", Bpe.encodeIds($"text", merges, vocab).as("ids"))
      .as[(Long, Seq[Int])].collect().toMap
    // abc -> [abc]=5; zab -> z,ab = [3,4]; QQ -> Q,Q OOV = [-1,-1]
    assert(got(1L) == Seq(5, 3, 4, -1, -1))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq(2, 4)) // c, ab
    // an explicit unkId replaces the -1 default
    assert(df.filter($"id" === 1L)
      .select(Bpe.encodeIds($"text", merges, vocab, unkId = 99))
      .as[Seq[Int]].head() == Seq(5, 3, 4, 99, 99))
    // differential vs the pure replica on arbitrary words
    for (w <- Seq("ababc", "zzz", "abcabc", "q")) {
      val viaDf = Seq((0L, w)).toDF("id", "text")
        .select(Bpe.encodeIds($"text", merges, vocab))
        .as[Seq[Int]].head()
      assert(viaDf == Bpe.encodeWordIds(w, merges, vocab), s"word $w")
    }
  }

  test("vocabulary: deterministic ids, duplicate products keep first id") {
    // merge product 'ab' collides with a base symbol -> base id wins
    val v = Bpe.vocabulary(Seq(("a", "b")), Seq("ab", "a", "b"))
    assert(v == Seq("a", "ab", "b"))
    // vocabularyFromCorpus draws base symbols from the corpus words
    val corpus = Seq((1L, "dcba abcd")).toDF("id", "text")
    val fromCorpus = Bpe.vocabularyFromCorpus(corpus, "text", Seq(("a", "b")))
    assert(fromCorpus == Seq("a", "b", "c", "d", "ab"))
  }
}
