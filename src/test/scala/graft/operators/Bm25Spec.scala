package graft.operators

import graft.SparkSpec

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark hash join join"),
    (2L, "spark table scan"),
    (3L, "window sort table sort merge"),
    (4L, "hash hash hash")).toDF("id", "text")

  // reference scorer, computed independently of the operator's plan
  private def score(terms: Seq[String], tf: Map[String, Long], dl: Long,
                    n: Long, df: Map[String, Long], sumdl: Long,
                    k1: Double = 1.2, b: Double = 0.75): Long = {
    val avgdl = sumdl.toDouble / n.toDouble
    terms.distinct.flatMap { t =>
      tf.get(t).map { f =>
        val d = df(t)
        val idf = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
        math.floor(idf * (f * (k1 + 1.0)) /
          (f + k1 * ((1.0 - b) + (b * dl) / avgdl)) * 1e6).toLong
      }
    }.sum
  }

  test("topK: exact quantized scores, rank order, absent terms ignored") {
    val out = Bm25.topK(docs, "id", "text",
      Seq(1 -> "hash join", 2 -> "table zzz-missing"), k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

    val df = Map("hash" -> 2L, "join" -> 1L, "table" -> 2L)
    val n = 4L; val sumdl = 4L + 3L + 5L + 3L

    // q1: doc1 has join(tf2)+hash(tf1); doc4 hash(tf3); doc2 none of these... doc2 has no hash/join
    val s1 = score(Seq("hash", "join"), Map("hash" -> 1L, "join" -> 2L), 4L, n, df, sumdl)
    val s4 = score(Seq("hash", "join"), Map("hash" -> 3L), 3L, n, df, sumdl)
    assert(out((1, 1)) == (1L, s1) || out((1, 1)) == (4L, s4))
    val got1 = Seq(out((1, 1)), out((1, 2))).toMap
    assert(got1 == Map(1L -> s1, 4L -> s4))
    assert(out((1, 1))._2 >= out((1, 2))._2, "rank must follow score desc")

    // q2: 'zzz-missing' matches nothing and contributes nothing; docs 2,3 have 'table'
    val s2 = score(Seq("table"), Map("table" -> 1L), 3L, n, df, sumdl)
    val s3 = score(Seq("table"), Map("table" -> 1L), 5L, n, df, sumdl)
    val got2 = Seq(out((2, 1)), out((2, 2))).toMap
    assert(got2 == Map(2L -> s2, 3L -> s3))
    // shorter doc scores higher for equal tf (length normalization)
    assert(s2 > s3)
    assert(!out.contains((2, 3)))
  }

  test("topK: k cuts candidates; ties break by doc_id asc") {
    val twins = Seq((10L, "alpha beta"), (11L, "alpha beta"), (12L, "alpha beta"))
      .toDF("id", "text")
    val out = Bm25.topK(twins, "id", "text", Seq(7 -> "alpha"), k = 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 11L), "equal scores → doc_id order")
    assert(out.map(_.getLong(3)).distinct.length == 1)
  }

  test("Bm25Index: search returns exactly what the scan path returns") {
    val dir = SparkSpec.tempDir("bm25idx").toString
    Bm25Index.build(docs, "id", "text", dir, nBuckets = 8)
    val qs = Seq(1 -> "hash join", 2 -> "table spark", 3 -> "zzz-missing")
    val scan = Bm25.topK(docs, "id", "text", qs, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val idx = Bm25Index.search(spark, dir, qs, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(idx == scan, s"index path diverged:\nscan=$scan\nidx=$idx")
  }

  test("Bm25Index: probe prunes to the query terms' bucket partitions") {
    val dir = SparkSpec.tempDir("bm25idx2").toString
    Bm25Index.build(docs, "id", "text", dir, nBuckets = 8)
    val out = Bm25Index.search(spark, dir, Seq(1 -> "hash"), k = 3)
    val p = out.queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[.*bucket.*"),
      s"no bucket pruning:\n$p")
    // driver-side hash must agree with the column hash: results nonempty
    assert(out.count() > 0, "bucket mismatch pruned away real postings")
  }

  test("topK: query with no matching terms returns no rows for that qid") {
    val out = Bm25.topK(docs, "id", "text",
      Seq(1 -> "spark", 2 -> "nope"), k = 5).collect()
    assert(out.forall(_.getInt(0) == 1))
    assert(out.nonEmpty)
  }
}
