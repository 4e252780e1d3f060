package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental dedup vs a persisted corpus index: verdicts, the
  * parquet round-trip (the index is sufficient — no corpus text is
  * needed at probe time), and the degenerate shapes. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "pack my box with five dozen liquor jugs before the night ends"),
    (3L, "a completely different sentence about distributed query engines"),
    (4L, "tiny doc")) // < 3 tokens: no shingles, exact-matchable only
    .toDF("doc_id", "text")

  private lazy val index = IncrementalDedup.buildIndex(corpus, "doc_id", "text")

  private def verdicts(batch: org.apache.spark.sql.DataFrame,
                       idx: org.apache.spark.sql.DataFrame = index) =
    IncrementalDedup.dedupAgainst(batch, idx, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

  test("exact copy, near copy, and fresh doc get the right verdicts") {
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "quick brown fox jumps over the lazy dog near the river bank"),
      (12L, "an entirely unrelated document about cooking pasta at home tonight"))
      .toDF("doc_id", "text")
    val v = verdicts(batch)
    assert(v(10L) == ("exact_dup", 1L))
    assert(v(11L)._1 == "near_dup" && v(11L)._2 == 1L)
    assert(v(12L) == ("new", -1L))
  }

  test("shingle-less docs exact-match but never near-match") {
    val batch = Seq((20L, "tiny doc"), (21L, "other tiny")).toDF("doc_id", "text")
    val v = verdicts(batch)
    assert(v(20L) == ("exact_dup", 4L))
    assert(v(21L) == ("new", -1L))
  }

  test("the index survives a parquet round-trip with identical verdicts") {
    val dir = SparkSpec.tempDir("idx").toString
    index.write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    val batch = Seq(
      (30L, "pack my box with five dozen liquor jugs before the night ends"),
      (31L, "my box with five dozen liquor jugs before the night ends"),
      (32L, "fresh content that matches nothing in the stored index at all"))
      .toDF("doc_id", "text")
    assert(verdicts(batch) == verdicts(batch, reread))
    assert(verdicts(batch, reread)(30L) == ("exact_dup", 2L))
  }

  test("exact beats near; dup_of is the smallest qualifying corpus id") {
    // a doc identical to corpus 1 also band-collides with corpus 1 —
    // the verdict must be exact_dup and sig_match null
    val batch = Seq(
      (40L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val row = IncrementalDedup.dedupAgainst(batch, index, "doc_id", "text")
      .head()
    assert(row.getString(1) == "exact_dup" && row.getLong(2) == 1L &&
      row.isNullAt(3))
  }

  test("appending accepted docs to the index catches later repeats") {
    val b1 = Seq((50L, "novel text about alpine meadows and late summer thunderstorms rolling in"))
      .toDF("doc_id", "text")
    assert(verdicts(b1)(50L)._1 == "new")
    val grown = index.unionByName(IncrementalDedup.buildIndex(b1, "doc_id", "text"))
    val b2 = Seq((60L, "novel text about alpine meadows and late summer thunderstorms rolling in"))
      .toDF("doc_id", "text")
    assert(verdicts(b2, grown)(60L) == ("exact_dup", 50L))
  }
}
