package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent CDC chunk store — the storage-dedup twin of the BM25
  * postings index ([[Bm25Index]]): chunk every document once with
  * [[Cdc]]'s content-defined boundaries, persist the chunk postings
  * bucketed by chunk hash, and serve (a) the corpus-wide sharing
  * report and (b) pruned "does this chunk already exist" probes —
  * the incoming-delta question a dedup ingest asks at 100 TB.
  *
  * Layout at `path`:
  *  - `postings/bucket=N/` — (doc_id, chunk_idx, start, chunk_len,
  *    chunk_md5) rows, `bucket = portable_hash(chunk_md5) % nBuckets`
  *  - `stats/` — one row pinning (n docs folded, n_buckets, window,
  *    divisor, min_len, max_len): the chunking PARAMETERS ride with
  *    the index, because folding a delta chunked with different
  *    parameters would store incomparable boundaries and silently
  *    destroy dedup hits (a probe would miss chunks that ARE there) —
  *    the same frozen-meta discipline as the IVF quantizer meta
  *    and the BM25 bucket modulus.
  *
  * Probes resolve their hashes' buckets ON THE DRIVER (same md5
  * derivation as the column hash) and push them as a partition
  * filter — probe cost scales with the delta's chunk count, not the
  * corpus.
  */
object CdcIndex {

  /** Build (overwrite) the chunk store. EAGER. `docs` must carry
    * (idCol, textCol); postings store the id under `doc_id`. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            nBuckets: Int = 64, window: Int = 8, divisor: Int = 16,
            minLen: Int = 8, maxLen: Int = 64): Unit = {
    require(nBuckets >= 1)
    val corpus = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    Cdc.chunks(corpus.select(col(idCol).as("doc_id"), col(textCol)),
        "doc_id", textCol, window, divisor, minLen, maxLen)
      .withColumn("bucket",
        graft.functions.TextFunctions.portableHash(col("chunk_md5")) % nBuckets)
      // one file per bucket dir (the Bm25Index.build write alignment)
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    corpus.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(nBuckets).as("n_buckets"),
        lit(window).as("window"), lit(divisor).as("divisor"),
        lit(minLen).as("min_len"), lit(maxLen).as("max_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The corpus-wide sharing report served FROM the store — identical
    * rows to [[Cdc.chunkDedup]] over the same corpus (spec-pinned):
    * (doc_id, chunk_idx, start, chunk_len, chunk_md5, n_docs). */
  def sharing(spark: SparkSession, path: String): DataFrame = {
    val postings = spark.read.parquet(s"$path/postings")
      .select("doc_id", "chunk_idx", "start", "chunk_len", "chunk_md5")
    val counts = postings.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    postings.join(counts, Seq("chunk_md5"))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        col("chunk_len"), col("chunk_md5"), col("n_docs"))
  }

  /** Pruned existence probe: postings rows for the given chunk hashes,
    * reading ONLY the buckets they land in (driver-side bucket
    * derivation from the stats-pinned modulus — never the caller's). */
  def probe(spark: SparkSession, path: String,
            chunkHashes: Seq[String]): DataFrame = {
    require(chunkHashes.nonEmpty, "probe needs at least one chunk hash")
    val nBuckets = spark.read.parquet(s"$path/stats")
      .select("n_buckets").head().getInt(0)
    val buckets = chunkHashes
      .map(h => Bm25Index.portableHashJvm(h) % nBuckets).distinct
    spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("chunk_md5").isin(chunkHashes: _*))
      .select("doc_id", "chunk_idx", "start", "chunk_len", "chunk_md5")
  }
}
