package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PartitionedMergeSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(root: String): Unit = {
    val init = Seq(
      ("k1", "2025-01-01", 1.0), ("k2", "2025-01-01", 2.0),
      ("k3", "2025-01-02", 3.0), ("k4", "2025-01-03", 4.0))
      .toDF("k", "day", "v")
    PartitionedMerge.upsert(spark, root, init, Seq("k"), "day")
  }

  /** Files of untouched partitions must be byte-identical (same paths,
    * same modification) after a pruned merge. */
  import scala.jdk.CollectionConverters._
  private def partFiles(root: String, day: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(root, s"day=$day")
    java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("upsert rewrites only partitions containing staged keys") {
    val root = SparkSpec.tempDir("pmerge").toString + "/t"
    mkTable(root)
    val before02 = partFiles(root, "2025-01-02")
    val before03 = partFiles(root, "2025-01-03")

    // staged touches only 2025-01-01 (update k2, insert k9)
    val staged = Seq(("k2", "2025-01-01", 20.0), ("k9", "2025-01-01", 9.0))
      .toDF("k", "day", "v")
    val touched = PartitionedMerge.upsert(spark, root, staged, Seq("k"), "day")
    assert(touched == Seq("2025-01-01"))

    val out = spark.read.parquet(root)
    assert(out.count() == 5)
    assert(out.filter($"k" === "k2").select("v").as[Double].head() == 20.0)
    assert(out.filter($"k" === "k1").select("v").as[Double].head() == 1.0)
    // untouched partitions: identical files, untouched mtimes
    assert(partFiles(root, "2025-01-02") == before02)
    assert(partFiles(root, "2025-01-03") == before03)
  }

  test("the staged batch is computed once, each touched partition gets one file, the batch is released") {
    val root = SparkSpec.tempDir("pmerge-once").toString + "/t"
    mkTable(root)
    val before03 = partFiles(root, "2025-01-03")
    spark.catalog.clearCache()
    val computed = spark.sparkContext.longAccumulator("staged rows")
    // the partition column, which both the partition collect and the write need
    val day = udf { (id: Long) => computed.add(1); if (id % 2 == 0) "2025-01-01" else "2025-01-02" }
    val n = 40
    val staged = spark.range(n).select(
      concat(lit("s"), col("id").cast("string")).as("k"),
      day(col("id")).as("day"),
      col("id").cast("double").as("v"))
    val touched = PartitionedMerge.upsert(spark, root, staged, Seq("k"), "day")
    assert(touched == Seq("2025-01-01", "2025-01-02"))
    assert(computed.value == n) // not once for the partition collect and again for the write
    touched.foreach(day => assert(partFiles(root, day).size == 1, day))
    assert(partFiles(root, "2025-01-03") == before03)
    assert(spark.read.parquet(root).count() == 4 + n)
    assert(spark.sharedState.cacheManager.isEmpty)

    // a corrupt file in a touched partition fails the merge's write
    Files.writeString(java.nio.file.Paths.get(root, "day=2025-01-01", "part-corrupt.parquet"), "x")
    val bad = Seq(("k1", "2025-01-01", 10.0)).toDF("k", "day", "v")
    intercept[Exception](PartitionedMerge.upsert(spark, root, bad, Seq("k"), "day"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("deleteReload prunes the same way") {
    val root = SparkSpec.tempDir("pmerge2").toString + "/t"
    mkTable(root)
    val before01 = partFiles(root, "2025-01-01")
    val staged = Seq(("k3", "2025-01-02", 33.0)).toDF("k", "day", "v")
    val touched = PartitionedMerge.deleteReload(spark, root, staged, Seq("k"), "day")
    assert(touched == Seq("2025-01-02"))
    val out = spark.read.parquet(root)
    assert(out.filter($"k" === "k3").select("v").as[Double].head() == 33.0)
    assert(out.count() == 4)
    assert(partFiles(root, "2025-01-01") == before01)
  }

  test("hash-bucket partitioning gives keys with no natural partition a pruned path") {
    val root = SparkSpec.tempDir("pmerge3").toString + "/t"
    val n = 8
    val init = (1 to 100).map(i => (s"k$i", i.toDouble)).toDF("k", "v")
      .withColumn("bucket", PartitionedMerge.bucketOf("k", n))
    PartitionedMerge.upsert(spark, root, init, Seq("k"), "bucket")
    val staged = Seq(("k7", 700.0)).toDF("k", "v")
      .withColumn("bucket", PartitionedMerge.bucketOf("k", n))
    val touched = PartitionedMerge.upsert(spark, root, staged, Seq("k"), "bucket")
    assert(touched.size == 1) // exactly one bucket rewritten
    val out = spark.read.parquet(root)
    assert(out.count() == 100)
    assert(out.filter($"k" === "k7").select("v").as[Double].head() == 700.0)
  }

  test("bucketedUpsert pins the bucket count; a different count fails fast") {
    val root = SparkSpec.tempDir("pmerge5").toString + "/t"
    val init = (1 to 50).map(i => (s"k$i", i.toDouble)).toDF("k", "v")
    PartitionedMerge.bucketedUpsert(spark, root, init, Seq("k"), nBuckets = 8)
    assert(PartitionedMerge.readBucketCount(spark, root).contains(8))
    // same count keeps working
    val staged = Seq(("k7", 700.0)).toDF("k", "v")
    PartitionedMerge.bucketedUpsert(spark, root, staged, Seq("k"), nBuckets = 8)
    assert(spark.read.parquet(root).filter($"k" === "k7")
      .select("v").as[Double].head() == 700.0)
    // changed count would re-hash keys into other buckets → refuse
    val e = intercept[IllegalStateException] {
      PartitionedMerge.bucketedUpsert(spark, root, staged, Seq("k"), nBuckets = 16)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
    intercept[IllegalStateException] {
      PartitionedMerge.bucketedDeleteReload(spark, root, staged, Seq("k"), nBuckets = 4)
    }
  }

  test("sidecar-less bucketed table is refused until pinBucketCount") {
    val root = SparkSpec.tempDir("pmerge6").toString + "/t"
    val init = (1 to 50).map(i => (s"k$i", i.toDouble)).toDF("k", "v")
      .withColumn("bucket", PartitionedMerge.bucketOf("k", 8))
    // simulate a pre-sidecar table (raw upsert, no metadata)
    PartitionedMerge.upsert(spark, root, init, Seq("k"), "bucket")
    val staged = Seq(("k7", 700.0)).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      // a guessed count (even a "larger, so it fits" one) must be refused:
      // the original count cannot be inferred from the directories
      PartitionedMerge.bucketedUpsert(spark, root, staged, Seq("k"), nBuckets = 32)
    }
    assert(e.getMessage.contains("pinBucketCount"))
    // migration: pin the true count, then merges proceed
    PartitionedMerge.pinBucketCount(spark, root, 8)
    PartitionedMerge.bucketedUpsert(spark, root, staged, Seq("k"), nBuckets = 8)
    assert(spark.read.parquet(root).filter($"k" === "k7")
      .select("v").as[Double].head() == 700.0)
    // pinning a count inconsistent with existing dirs is rejected
    intercept[IllegalArgumentException] {
      PartitionedMerge.pinBucketCount(spark, root + "x", 0)
    }
  }

  test("crash mid-commit recovery: rerunning the same merge converges") {
    // dynamic-partition-overwrite commits per partition, so a driver
    // crash can leave a SUBSET of touched partitions replaced (the
    // documented durability gap). The recovery contract: rerun the
    // merge with the same staged batch -> every partition converges.
    val root = SparkSpec.tempDir("pmerge-crash").toString + "/t"
    mkTable(root)
    val staged = Seq(("k2", "2025-01-01", 20.0), ("k3", "2025-01-02", 30.0))
      .toDF("k", "day", "v")
    // the "crashed" run: simulate partial commit by merging ONLY the
    // 2025-01-01 slice (one of the two touched partitions replaced)
    PartitionedMerge.upsert(spark, root,
      staged.filter($"day" === "2025-01-01"), Seq("k"), "day")
    // recovery: rerun the FULL merge with the same staged batch
    PartitionedMerge.upsert(spark, root, staged, Seq("k"), "day")
    val got = spark.read.parquet(root)
      .select("k", "v").as[(String, Double)].collect().toMap
    assert(got == Map("k1" -> 1.0, "k2" -> 20.0, "k3" -> 30.0, "k4" -> 4.0))
    // and a further identical rerun is a no-op content-wise
    PartitionedMerge.upsert(spark, root, staged, Seq("k"), "day")
    val again = spark.read.parquet(root)
      .select("k", "v").as[(String, Double)].collect().toMap
    assert(again == got)
  }

  test("pruned scan plan shows partition filters, not a full read") {
    val root = SparkSpec.tempDir("pmerge4").toString + "/t"
    mkTable(root)
    val pruned = spark.read.parquet(root)
      .filter($"day".cast("string").isin("2025-01-01"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("PartitionCount: 1"),
      s"expected partition pruning in plan:\n$plan")
  }
}
