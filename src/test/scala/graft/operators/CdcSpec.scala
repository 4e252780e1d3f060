package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def chunksOf(rows: Seq[(Long, String)], window: Int = 8,
                       divisor: Int = 16, minLen: Int = 8,
                       maxLen: Int = 64) =
    Cdc.chunkDedup(rows.toDF("doc_id", "text"), "doc_id", "text",
        window, divisor, minLen, maxLen)
      .orderBy("doc_id", "chunk_idx").collect()

  test("divisor=1: every eligible position is a boundary -> minLen chunks + tail") {
    val got = chunksOf(Seq((1L, "abcdefghij")), window = 2, divisor = 1,
      minLen = 3, maxLen = 5)
    assert(got.map(r => (r.getAs[Long]("start"), r.getAs[Long]("chunk_len")))
      .toSeq == Seq((0L, 3L), (3L, 3L), (6L, 3L), (9L, 1L)))
  }

  test("no candidates: forced cuts at maxLen bound every chunk") {
    // divisor too large for any 32-bit hash to satisfy -> all forced
    val got = chunksOf(Seq((1L, "a" * 23)), window = 2,
      divisor = Int.MaxValue, minLen = 3, maxLen = 5)
    assert(got.map(_.getAs[Long]("chunk_len")).toSeq ==
      Seq(5L, 5L, 5L, 5L, 3L))
  }

  test("chunks are contiguous and conserve length; empty text -> no chunks") {
    val rng = new scala.util.Random(3)
    val txt = (1 to 400).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val got = chunksOf(Seq((1L, txt), (2L, "")))
    assert(got.forall(_.getLong(0) == 1L))
    var expectStart = 0L
    got.foreach { r =>
      assert(r.getAs[Long]("start") == expectStart)
      expectStart += r.getAs[Long]("chunk_len")
    }
    assert(expectStart == txt.length.toLong)
    val lens = got.map(_.getAs[Long]("chunk_len"))
    assert(lens.dropRight(1).forall(l => l >= 8L && l <= 64L))
  }

  test("resynchronization: a shifted copy shares its suffix chunks (the CDC property)") {
    val rng = new scala.util.Random(9)
    val shared = (1 to 300).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val got = chunksOf(Seq((1L, shared), (2L, "XYZQW" + shared)))
    val h1 = got.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_md5"))
    val h2 = got.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_md5"))
    // after the first content boundary inside `shared`, doc 2's cuts
    // coincide with doc 1's: all of doc 1's chunks except its first
    // must reappear verbatim in doc 2
    val missing = h1.drop(1).filterNot(h2.contains)
    assert(missing.isEmpty, s"unshared suffix chunks: ${missing.length}")
    // and those shared chunks carry n_docs = 2
    val byHash = got.groupBy(_.getAs[String]("chunk_md5"))
    h1.drop(1).foreach { h =>
      assert(byHash(h).head.getAs[Long]("n_docs") == 2L)
    }
  }

  test("identical documents: every chunk shared with n_docs = 2") {
    val txt = "content defined chunking finds shared storage segments " * 4
    val got = chunksOf(Seq((1L, txt), (2L, txt)))
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Long]("n_docs") == 2L))
  }

  test("CdcIndex: sharing served from the store == direct chunkDedup; probe prunes") {
    val root = SparkSpec.tempDir("graft-cdcidx").toString
    val rng = new scala.util.Random(21)
    val tail =
      "shared storage tail that should dedup across documents fully " * 3
    val rows = (1L to 30L).map { i =>
      (i, (1 to 60 + rng.nextInt(120)).map(_ =>
        ('a' + rng.nextInt(26)).toChar).mkString + " " + tail)
    }
    val df = rows.toDF("doc_id", "text")
    CdcIndex.build(df, "doc_id", "text", s"$root/idx", nBuckets = 8)
    val served = CdcIndex.sharing(spark, s"$root/idx")
      .collect().map(_.toString).sorted.toSeq
    val direct = Cdc.chunkDedup(df, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(served == direct)
    // probe: pick one shared chunk hash; pruned read returns exactly
    // its postings
    val someHash = CdcIndex.sharing(spark, s"$root/idx")
      .filter($"n_docs" === 30L).select("chunk_md5").head().getString(0)
    val hits = CdcIndex.probe(spark, s"$root/idx", Seq(someHash)).collect()
    // the periodic tail repeats the chunk WITHIN documents too, so
    // postings >= docs; the probe must return every posting of the
    // hash and nothing else, covering all 30 documents
    assert(hits.forall(_.getAs[String]("chunk_md5") == someHash))
    assert(hits.map(_.getAs[Long]("doc_id")).distinct.length == 30)
    val direct2 = Cdc.chunkDedup(df, "doc_id", "text")
      .filter($"chunk_md5" === someHash).count()
    assert(hits.length.toLong == direct2)
  }

  test("chunking stage is a projection; the only exchange is the hash group") {
    val df = Cdc.chunkDedup(Seq((1L, "abc " * 50)).toDF("doc_id", "text"),
      "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    // one aggregation exchange (+ its join back); no Window, no sort
    // of the corpus rows
    assert(!plan.contains("Window"), plan)
  }

  test("exchange-bearing corpus: width probe is skipped, fan-out kept, chunks identical") {
    // a post-aggregate corpus frame: its static partition count lies
    // under AQE and probing .rdd would run the upstream stages at
    // construction time — the gate must fall back to the unconditional
    // round-robin fan-out without touching the probe
    val rows = Seq((1L, "abc " * 40), (2L, "xyzw" * 25))
    val plain = chunksOf(rows)
    val aggregated = rows.toDF("doc_id", "text")
      .groupBy("doc_id").agg(first(col("text")).as("text"))
    val viaAgg = Cdc.chunkDedup(aggregated, "doc_id", "text", 8, 16, 8, 64)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(viaAgg.toSeq == plain.toSeq)
    val plan = Cdc.chunkDedup(aggregated, "doc_id", "text", 8, 16, 8, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"), plan)
  }
}
