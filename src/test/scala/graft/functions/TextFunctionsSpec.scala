package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: whitespace split, blank → empty") {
    val df = Seq("a b  c", "  ", "", "single").toDF("t")
    val out = df.select(tokenCount($"t")).as[Int].collect()
    assert(out.toSeq == Seq(3, 0, 0, 1))
  }

  test("fingerprint: md5 of the trimmed text; qualityScore lies in (0, 1]") {
    val df = Seq(" x ", "x", "y").toDF("t")
    val fps = df.select(fingerprint($"t")).as[String].collect().toSeq
    assert(fps == Seq("x", "x", "y")
      .map(s => org.apache.commons.codec.digest.DigestUtils.md5Hex(s)))
    val q = Seq("the quick brown fox and the lazy dog of june").toDF("t")
      .select(qualityScore($"t")).as[Double].head()
    assert(q > 0.0 && q <= 1.0, s"q=$q")
  }

  test("wordShingles: k-windows, short text → empty") {
    val sh = Seq("a b c d").toDF("t")
      .select(wordShingles($"t", 3)).as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(wordShingles($"t", 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("wordShingles (compiled) ≡ HOF reference on edge cases") {
    // mixed whitespace, non-space leading whitespace (leading "" token),
    // blanks, single token, long docs, unicode
    val texts = Seq(
      "a b c d e", "  padded  with   spaces  ", "\tleading tab", "a\nb\nc",
      " ", "", "one", "one two", "ünïcode tökens ünïcode tökens here",
      "a  b\t\tc \n d", "x" * 50 + " y z w v",
      (1 to 200).map(i => s"t$i").mkString(" "))
    for (k <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("t")
      val got = df.select(wordShingles($"t", k)).as[Seq[String]].collect()
      val ref = df.select(wordShinglesHof($"t", k)).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"mismatch at k=$k")
    }
    // null text → null, both paths
    val nullDf = Seq[Option[String]](None).toDF("t")
    assert(nullDf.select(wordShingles($"t", 3)).head().isNullAt(0))
    assert(nullDf.select(wordShinglesHof($"t", 3)).head().isNullAt(0))
  }

  test("charNgrams (compiled) ≡ HOF reference on edge cases") {
    // unicode (multi-byte chars — grams count CODE POINTS like Spark's
    // substring), shorter-than-n, exact-n, empties, long docs
    val texts = Seq(
      "abcdef", "ab", "", " ", "abc", "ünïcödé", "日本語のテキスト",
      "mixed ünïcode and ascii 日本", "x" * 500,
      "a b c d e f g h i j k l m n o p")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("t")
      val got = df.select(charNgrams($"t", n)).as[Seq[String]].collect()
      val ref = df.select(charNgramsHof($"t", n)).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"mismatch at n=$n")
    }
    val nullDf = Seq[Option[String]](None).toDF("t")
    assert(nullDf.select(charNgrams($"t", 3)).head().isNullAt(0))
    assert(nullDf.select(charNgramsHof($"t", 3)).head().isNullAt(0))
  }

  test("segmentLangs (compiled) ≡ HOF reference; langId composition holds") {
    val texts = Seq(
      "the and of to is",                               // clean en
      "der die und das ist",                            // clean de
      "the and der die und das ist the of to is le la", // switches
      "la la la",                                       // es/fr tie → fr? (greatest code with hits)
      "xyz qqq zzz",                                    // no hits → und
      "", " ", "one",
      ("the and " * 30) + ("der die und " * 20),        // long, multi-segment
      "el la los que es le la et les est")              // es vs fr mass
    for (w <- Seq(1, 3, 10, 1 << 28)) {
      val df = texts.toDF("t")
      val got = df.select(segmentLangs($"t", w)).as[Seq[String]].collect()
      val ref = df.select(segmentLangsHof($"t", w)).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"mismatch at window=$w")
    }
    // langId ≡ the whole-doc vote (the old langIdTokens formulation)
    val df = texts.toDF("t")
    val viaSeg = df.select(langId($"t")).as[String].collect().toSeq
    val viaHof = df.select(
      langIdTokens(tokens($"t"))).as[String].collect().toSeq
    assert(viaSeg == viaHof)
    val nullDf = Seq[Option[String]](None).toDF("t")
    assert(nullDf.select(segmentLangs($"t", 3)).head().isNullAt(0))
  }

  test("portableHash: first 8 md5 hex chars as long (md5('abc') known)") {
    // md5("abc") = 900150983cd24fb0... → 0x90015098 = 2416005272
    val h = Seq("abc").toDF("t").select(portableHash($"t")).as[Long].head()
    assert(h == 2416005272L)
  }

  test("minhashSignature: equal texts → equal sigs; sig length fixed") {
    val df = Seq("x y z w", "x y z w", "totally different words here").toDF("t")
    val sigs = df.select(minhashSignature(wordShingles($"t", 2), 8))
      .as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 8)
    assert(sigs(0) != sigs(2))
  }

  test("minhashSignature (compiled) ≡ HOF reference incl. empty → null") {
    val texts = Seq("a b c d e f", "one two", "x", "", "  ",
      "dup dup dup words words", (1 to 80).map(i => s"w$i").mkString(" "))
    val df = texts.toDF("t")
    for (n <- Seq(4, 16)) {
      val got = df.select(minhashSignature(wordShingles($"t", 2), n)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
      val ref = df.select(minhashSignatureHof(wordShingles($"t", 2), n)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
      assert(got.toSeq == ref.toSeq, s"mismatch at n=$n")
    }
  }

  test("simhash32: 32-bit range, equal for equal text, near for near text") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (2 to 60).map(i => s"tok$i").mkString(" ") // one token dropped
    val df = Seq(base, base, near).toDF("t")
    val hs = df.select(simhash32($"t")).as[Long].collect()
    assert(hs.forall(h => h >= 0 && h < (1L << 32)))
    assert(hs(0) == hs(1))
    val xor = hs(0) ^ hs(2)
    assert(java.lang.Long.bitCount(xor) <= 8) // near text → small hamming
  }

  test("tokenChunks: stride windows, exact tail, no degenerate chunks") {
    def chunks(text: String, max: Int, ov: Int): Seq[Seq[String]] =
      Seq(text).toDF("t").select(tokenChunks($"t", max, ov))
        .as[Seq[String]].head().map(_.split(" ").toSeq)
    // 10 tokens, max 8, overlap 4 → starts 1, 5: [1..8], [5..10]
    val t10 = (1 to 10).map(i => s"t$i").mkString(" ")
    assert(chunks(t10, 8, 4) == Seq((1 to 8).map(i => s"t$i"), (5 to 10).map(i => s"t$i")))
    // 13 tokens → starts 1, 5, 9: last chunk reaches the end exactly
    val t13 = (1 to 13).map(i => s"t$i").mkString(" ")
    assert(chunks(t13, 8, 4).last == (9 to 13).map(i => s"t$i"))
    // shorter than one window → single chunk
    assert(chunks("a b c", 8, 4) == Seq(Seq("a", "b", "c")))
    // blank → no chunks
    assert(Seq("  ").toDF("t").select(tokenChunks($"t", 8, 4))
      .as[Seq[String]].head().isEmpty)
    // every token is covered by at least one chunk, in order
    val got = chunks(t13, 8, 4)
    assert(got.flatten.distinct == (1 to 13).map(i => s"t$i"))
    intercept[IllegalArgumentException] { tokenChunks($"t", 4, 4) }
  }

  test("simhash32 (compiled) ≡ HOF reference incl. edge cases") {
    val texts = Seq(
      "a b c d e", "  padded  with   spaces  ", "\tleading tab", "a\nb\nc",
      " ", "", "one", "repeated repeated repeated distinct",
      "ünïcode tökens here", (1 to 120).map(i => s"tok$i").mkString(" "))
    val df = texts.toDF("t")
    val got = df.select(simhash32($"t")).as[Long].collect()
    val ref = df.select(simhash32Hof($"t")).as[Long].collect()
    assert(got.toSeq == ref.toSeq)
    assert(Seq[Option[String]](None).toDF("t")
      .select(simhash32($"t")).head().isNullAt(0))
  }

  test("langId: stopword vote with deterministic tie-break") {
    val df = Seq(
      "le chat et la maison est grande",  // fr stopwords
      "der hund und die katze ist da",    // de
      "xyzzy plugh quux",                 // none → und
      "the of la le").toDF("t")           // 2 en vs 2 fr → tie → fr (max lang)
    val out = df.select(langId($"t")).as[String].collect()
    assert(out.toSeq == Seq("fr", "de", "und", "fr"))
  }

  test("segmentLangs: per-window votes, ragged tail, blank text") {
    // 10-token en run, then a 10-token de run, then a 4-token fr tail
    val en = "the cat and the dog of the house is big"
    val de = "der hund und die katze ist da der die das"
    val fr = "le chat et la"
    val df = Seq(s"$en $de $fr", en, "", "xyzzy plugh").toDF("t")
    val out = df.select(segmentLangs($"t", 10)).as[Seq[String]].collect()
    assert(out(0) == Seq("en", "de", "fr"))
    assert(out(1) == Seq("en"))
    assert(out(2) == Seq.empty)
    assert(out(3) == Seq("und")) // ragged single segment, no hits
    // window boundaries matter: a 5-token window splits the en run in two
    val w5 = df.select(segmentLangs($"t", 5)).as[Seq[String]].collect()
    assert(w5(1).size == 2 && w5(1).forall(_ == "en"))
  }

  test("quality metrics on known text") {
    val df = Seq("the quick brown fox jumps over the lazy dog again").toDF("t")
    val sw = df.select(stopwordRatio($"t")).as[Double].head()
    assert(sw == 0.2) // "the" twice in 10 tokens
    val mtl = df.select(meanTokenLength($"t")).as[Double].head()
    assert(math.abs(mtl - 4.0) < 1e-9) // 40 chars / 10 tokens
    assert(df.select(punctRatio($"t")).as[Double].head() == 0.0)
  }
}
