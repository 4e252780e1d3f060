package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned merge (SURVEY §7.6): the one write path of every
  * gold table that merges into existing rows — W1, W2 and W6 on hash
  * buckets, W7 on `snapshot_date`.
  *
  * A whole-table `staged ∪ (target ⟕anti staged)` rewrite reads and
  * rewrites 100 TB to merge a 100 GB batch. When the target is
  * partitioned by a column the staged batch also carries (date, tenant,
  * hash bucket), only partitions containing staged keys need to change:
  *
  *   1. persist the staged batch for the call and collect its distinct
  *      partition values (small — one shuffle of the batch, a driver
  *      list of partition names); this computes the batch, and steps
  *      3–4 read it from the cache
  *   2. read ONLY those partitions of the target (partition pruning —
  *      no full scan), with the staged batch's schema, so no job infers
  *      it from the files
  *   3. merge within them
  *   4. hash-repartition the merged rows on the partition column, so
  *      each touched partition is written by one task as one file, and
  *      write back with `partitionOverwriteMode=dynamic`, which
  *      replaces exactly the touched partitions and leaves every other
  *      partition's files untouched (per-partition commit — see the
  *      durability note below). An absent table is created by the
  *      same write.
  *
  * Cost scales with the affected-partition volume, not table volume.
  * For keys with no natural partition column, write the table
  * partitioned by `pmod(hash(key), nBuckets)` ([[bucketOf]]) — staged
  * batches then prune to the buckets their keys hash into. Use
  * [[bucketedUpsert]]/[[bucketedDeleteReload]] for that shape: they
  * stamp the bucket column AND pin the bucket count in a `_graft_buckets`
  * sidecar, failing fast if a later run supplies a different count
  * (re-hashing keys into different buckets would silently miss prior
  * rows and duplicate keys).
  *
  * Durability note: step 4 overwrites touched partitions in place via
  * dynamic-partition-overwrite. The commit is per-partition
  * (`.spark-staging` rename), so a driver crash mid-commit can leave a
  * SUBSET of the touched partitions replaced — unlike
  * [[graft.sources.AtomicTableWriter]]'s all-or-nothing swap. The merge
  * itself is idempotent (upsert/delete-reload keyed on the merge keys),
  * so the recovery procedure is simply to rerun the merge with the same
  * staged batch; partitions already replaced converge to the same
  * content. Callers that need multi-partition atomicity under
  * concurrent readers should front the table with a transactional
  * format or a manifest pointer (SURVEY §7.5).
  */
object PartitionedMerge {

  def bucketOf(keyCol: String, nBuckets: Int) =
    pmod(hash(col(keyCol)), lit(nBuckets)).as("bucket")

  /** Sidecar file pinning a bucketed table's bucket count. Underscore
    * prefix → invisible to Spark's file listing. */
  val BucketMeta = "_graft_buckets"

  def readBucketCount(spark: SparkSession, targetPath: String): Option[Int] = {
    val p = new Path(targetPath, BucketMeta)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  private def writeBucketCount(spark: SparkSession, targetPath: String, n: Int): Unit = {
    val p = new Path(targetPath, BucketMeta)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Fail fast when `n` disagrees with the table's pinned bucket count.
    * A bucketed table (has `bucket=` directories) WITHOUT a sidecar is
    * refused outright: the original count cannot be inferred from the
    * directories (high buckets may simply be empty), and merging with a
    * guessed count silently re-hashes keys past existing rows. Migrate
    * such a table by pinning its true count with [[pinBucketCount]]. */
  private def validateBucketCount(spark: SparkSession, targetPath: String, n: Int): Unit = {
    require(n > 0, s"nBuckets must be positive, got $n")
    readBucketCount(spark, targetPath) match {
      case Some(m) if m != n =>
        throw new IllegalStateException(
          s"bucket-count mismatch at $targetPath: table was written with $m buckets, " +
            s"merge requested $n — rehashing would orphan existing rows. " +
            s"Rebuild the table or pass nBuckets=$m.")
      case Some(_) => ()
      case None =>
        val root = new Path(targetPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root) &&
            fs.listStatus(root).exists(_.getPath.getName.startsWith("bucket=")))
          throw new IllegalStateException(
            s"bucketed table at $targetPath has no $BucketMeta sidecar; its bucket " +
              s"count cannot be inferred safely. Pin the true count with " +
              s"PartitionedMerge.pinBucketCount(spark, path, n) before merging.")
    }
  }

  /** Migration/recovery helper: pin an existing bucketed table's true
    * bucket count (tables created before the sidecar existed, or after
    * a crash between table create and sidecar write). */
  def pinBucketCount(spark: SparkSession, targetPath: String, n: Int): Unit = {
    require(n > 0, s"nBuckets must be positive, got $n")
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val maxBucket = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)
      require(maxBucket.isEmpty || maxBucket.max < n,
        s"found partition bucket=${maxBucket.max} at $targetPath, inconsistent with n=$n")
    }
    writeBucketCount(spark, targetPath, n)
  }

  /** [[upsert]] for hash-bucketed tables: stamps `bucket` from the
    * first merge key, validates + pins the bucket count. */
  def bucketedUpsert(spark: SparkSession, targetPath: String, staged: DataFrame,
                     keys: Seq[String], nBuckets: Int): Seq[String] =
    bucketed(spark, targetPath, staged, keys, nBuckets)(upsert)

  /** [[deleteReload]] for hash-bucketed tables. */
  def bucketedDeleteReload(spark: SparkSession, targetPath: String, staged: DataFrame,
                           keys: Seq[String], nBuckets: Int): Seq[String] =
    bucketed(spark, targetPath, staged, keys, nBuckets)(deleteReload)

  private def bucketed(spark: SparkSession, targetPath: String, staged: DataFrame,
                       keys: Seq[String], nBuckets: Int)(
      merge: (SparkSession, String, DataFrame, Seq[String], String) => Seq[String]
  ): Seq[String] = {
    validateBucketCount(spark, targetPath, nBuckets)
    val touched = merge(spark, targetPath,
      staged.withColumn("bucket", bucketOf(keys.head, nBuckets)), keys, "bucket")
    writeBucketCount(spark, targetPath, nBuckets)
    touched
  }

  /** Upsert `staged` into the partitioned table at `targetPath`.
    * `partCol` must exist in staged with target-compatible values.
    * Creates the table if absent. Returns the touched partition values. */
  def upsert(spark: SparkSession, targetPath: String, staged: DataFrame,
             keys: Seq[String], partCol: String): Seq[String] =
    pruned(spark, targetPath, staged, partCol)(MergeOps.upsert(_, staged, keys))

  /** Delete-matched + reload (W2) with the same pruning. */
  def deleteReload(spark: SparkSession, targetPath: String, stagedRows: DataFrame,
                   keys: Seq[String], partCol: String): Seq[String] =
    pruned(spark, targetPath, stagedRows, partCol)(
      MergeOps.deleteReload(_, stagedRows, stagedRows.select(keys.map(col): _*), keys))

  /** Steps 1–4 of the object doc around `merge`, which maps the pruned
    * target (projected to the staged columns) to the touched partitions'
    * new rows. An absent table is created from `staged`. `staged` is
    * released before this returns, also when it throws, so a caller
    * that had cached it loses that cache. */
  private def pruned(spark: SparkSession, targetPath: String, staged: DataFrame,
                     partCol: String)(merge: DataFrame => DataFrame): Seq[String] = {
    val fs = new Path(targetPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(targetPath))
    staged.persist()
    try {
      val parts = staged.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val rows =
        if (!exists) staged
        else merge(spark.read.schema(staged.schema).parquet(targetPath)
          // partition-pruned scan: only directories for touched values are read
          .filter(col(partCol).cast("string").isin(parts: _*))
          .select(staged.columns.map(col): _*))
      // one task, so one file, per touched partition
      rows.repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(targetPath)
      parts
    } finally staged.unpersist()
  }
}
