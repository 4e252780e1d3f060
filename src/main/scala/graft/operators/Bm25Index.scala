package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Persistent BM25 inverted index — the lexical twin of the IVF
  * vector index ([[Similarity.buildIvfIndex]]): build once, then serve
  * query batches reading only the term buckets they touch.
  *
  * Layout at `path`:
  *  - `postings/bucket=N/` — (term, doc_id, dl, tf) rows, partitioned
  *    by `bucket = portable_hash(term) % nBuckets`
  *  - `stats/` — one row (n, sumdl, n_buckets): the corpus-level
  *    constants PLUS the build-time bucket count, so a search can
  *    never prune with a different modulus than the one the postings
  *    were laid out with (a silent wrong-bucket probe would return
  *    incomplete rankings, not an error)
  *
  * A search resolves its terms' buckets ON THE DRIVER (same md5
  * derivation as the column hash) and pushes them as a partition
  * filter — the scan prunes to the touched `bucket=` directories, so
  * probe cost scales with the query's vocabulary, not the corpus. df
  * is recomputed from the pruned postings (exactly the probed terms'
  * df — identical numbers to the full-scan path), and the scoring
  * tail is byte-for-byte [[Bm25.scoreAndRank]]: an indexed search
  * returns EXACTLY what [[Bm25.topK]] returns.
  *
  * 100 TB shape: the build is the one (doc, term) shuffle the scan
  * path pays per query batch, amortized across every future search;
  * within a bucket, postings for one term cluster into few row groups.
  * Incremental refresh = rebuild touched buckets from changed docs
  * (the same delta pattern as IncrementalDedup's corpus index).
  */
object Bm25Index {

  /** Driver-side twin of TextFunctions.portableHash (first 8 md5 hex
    * chars as a long) — must stay in lockstep with the column version
    * or probes prune to the wrong buckets. */
  private[operators] def portableHashJvm(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Build (overwrite) the index. EAGER: runs the build jobs now. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    // tokenize must not inherit a small file's split count (the
    // Dedup.fanOut discipline) — a one-file corpus would serialize the
    // whole explode+aggregate on one or two cores
    val corpus = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    val toks = corpus.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    toks.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", TextFunctions.portableHash(col("term")) % nBuckets)
      // align the write to the bucket layout: without this every
      // shuffle partition opens a writer per bucket dir (partitions ×
      // nBuckets small files — the probe then pays footer reads and
      // task scheduling per file); keyed on bucket each dir gets ONE
      // file, and the extra postings-sized exchange is far cheaper
      // than the file-count tax it removes
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    corpus.agg(
      count(lit(1)).as("n"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("sumdl"))
      .withColumn("n_buckets", lit(nBuckets))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Search the index; same contract and numbers as [[Bm25.topK]].
    * The bucket count comes from the stats sidecar written at build
    * time — never from the caller — so the probe's driver-side bucket
    * derivation is in lockstep with the on-disk layout by
    * construction. */
  def search(spark: SparkSession, indexPath: String,
             queries: Seq[(Int, String)], k: Int = 10,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = Bm25.queryTerms(spark, queries)
    val statsAll = spark.read.parquet(s"$indexPath/stats")
    require(statsAll.columns.contains("n_buckets"),
      s"Bm25Index: $indexPath/stats has no n_buckets column — index " +
        "predates the layout-pinning sidecar; rebuild it")
    val nBuckets = statsAll.select("n_buckets").head().getInt(0)
    // control-plane: the query set is small by contract — its terms'
    // buckets resolve on the driver (via the corpus tokenizer
    // contract, see Bm25.driverTerms) and prune the postings scan
    val terms = Bm25.driverTerms(queries)
    val buckets = terms.map(t => portableHashJvm(t) % nBuckets).distinct
    val tf = spark.read.parquet(s"$indexPath/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select("doc_id", "dl", "term", "tf")
    val stats = statsAll.select("n", "sumdl")
    Bm25.scoreAndRank(tf, qTerms, stats, k, k1, b)
  }
}
