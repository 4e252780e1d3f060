package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.DataSkipping.ColRange

class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    SparkSpec.tempDir("graft-skip").toString

  /** 1000 rows, k in [0,1000), clustered into 10 disjoint files. */
  private def writeClustered(path: String): Unit = {
    val df = (0 until 1000).map(i => (i.toLong, i % 7, s"r$i")).toDF("k", "m", "s")
      .repartitionByRange(10, $"k").sortWithinPartitions("k")
    DataSkipping.writeWithStats(df, path, Seq("k", "m"))
  }

  test("stats: one row per file, envelopes cover the data") {
    val path = tmp()
    writeClustered(path)
    val st = DataSkipping.stats(spark, path).collect()
    assert(st.length == 10)
    assert(st.map(_.getAs[Long]("cnt")).sum == 1000L)
    assert(st.map(_.getAs[Long]("min_k")).min == 0L)
    assert(st.map(_.getAs[Long]("max_k")).max == 999L)
  }

  test("pruned read: skips files, result equals the full-scan filter") {
    val path = tmp()
    writeClustered(path)
    val ranges = Seq(ColRange("k", lit(250L), lit(349L)))
    val (files, total) = DataSkipping.pruneFiles(spark, path, ranges)
    assert(total == 10)
    assert(files.nonEmpty && files.size <= 2,
      s"100-wide range over 100-row files must touch <=2 of $total (got ${files.size})")
    val pruned = DataSkipping.prunedRead(spark, path, ranges)
    val full = spark.read.parquet(path).filter($"k" >= 250L && $"k" <= 349L)
    assert(pruned.orderBy("k").collect().toSeq == full.orderBy("k").collect().toSeq)
  }

  test("unclustered column prunes nothing but stays correct") {
    val path = tmp()
    writeClustered(path)
    // m cycles 0..6 in every file: envelopes all overlap, zero skipping
    val ranges = Seq(ColRange("m", lit(3), lit(3)))
    val (files, total) = DataSkipping.pruneFiles(spark, path, ranges)
    assert(files.size == total)
    assert(DataSkipping.prunedRead(spark, path, ranges).count() ==
      spark.read.parquet(path).filter($"m" === 3).count())
  }

  test("disjoint range reads zero files and returns the table schema") {
    val path = tmp()
    writeClustered(path)
    val out = DataSkipping.prunedRead(spark, path,
      Seq(ColRange("k", lit(5000L), lit(6000L))))
    assert(out.isEmpty)
    assert(out.columns.toSeq == Seq("k", "m", "s"))
  }

  test("conjunction of ranges prunes on both dimensions") {
    val path = tmp()
    writeClustered(path)
    val ranges = Seq(ColRange("k", lit(0L), lit(99L)), ColRange("m", lit(3), lit(3)))
    val (files, _) = DataSkipping.pruneFiles(spark, path, ranges)
    assert(files.size <= 2) // k-range alone narrows it; m adds nothing here
    val got = DataSkipping.prunedRead(spark, path, ranges)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == (0L until 100L).filter(_ % 7 == 3).toSeq)
  }

  test("append: only new files are profiled, pruning covers both batches") {
    val path = tmp()
    writeClustered(path)
    val oldStats = DataSkipping.stats(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = (2000 until 2100).map(i => (i.toLong, i % 7, s"r$i"))
      .toDF("k", "m", "s").repartitionByRange(2, $"k").sortWithinPartitions("k")
    DataSkipping.appendWithStats(batch, path, Seq("k", "m"))
    val st = DataSkipping.stats(spark, path).collect()
    assert(st.length == 12) // 10 original + 2 appended
    // original rows survive the refresh byte-identical
    val kept = st.map(r => (r.getString(0), r.getLong(1))).toMap
    oldStats.foreach { case (f, c) => assert(kept(f) == c, s"stats lost for $f") }
    // a range inside the appended batch reads only appended files
    val (files, total) = DataSkipping.pruneFiles(spark, path,
      Seq(DataSkipping.ColRange("k", lit(2000L), lit(2049L))))
    assert(total == 12 && files.size <= 1, s"read ${files.size}/$total")
    assert(DataSkipping.prunedRead(spark, path,
      Seq(DataSkipping.ColRange("k", lit(2000L), lit(2049L)))).count() == 50)
    // and a cross-batch range is complete
    assert(DataSkipping.prunedRead(spark, path,
      Seq(DataSkipping.ColRange("k", lit(900L), lit(2010L)))).count() == 111)
  }

  test("zorder-clustered table prunes on either dimension") {
    val path = tmp()
    val df = (0 until 4096).map { i => (i.toLong, (i * 37 % 4096).toLong) }
      .toDF("x", "y")
    val clustered = graft.operators.ZOrder.cluster(df,
      Seq((col("x"), 0.0, 4096.0), (col("y"), 0.0, 4096.0)), bits = 6,
      numPartitions = 16)
    DataSkipping.writeWithStats(clustered, path, Seq("x", "y"))
    val (fx, total) = DataSkipping.pruneFiles(spark, path,
      Seq(ColRange("x", lit(0L), lit(255L))))
    val (fy, _) = DataSkipping.pruneFiles(spark, path,
      Seq(ColRange("y", lit(0L), lit(255L))))
    assert(total == 16)
    // a 1/16 slice of either dimension must skip most files — the
    // multi-dimensional locality a single-column sort cannot give
    assert(fx.size < total / 2, s"x-slice read ${fx.size}/$total")
    assert(fy.size < total / 2, s"y-slice read ${fy.size}/$total")
  }
}
