package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Whole-table persistence for tables that are only ever replaced
  * whole: the silver staging batches and the full-refresh gold tables
  * (W3–W5). Gold tables that merge into existing rows go through
  * [[graft.operators.PartitionedMerge]] instead.
  *
  * The reference gets atomicity from one Postgres transaction per entity
  * (run_etl_with_retries.py:60-94). Without a transactional table format
  * we emulate: write `<table>.__tmp`, rename current → `.__old`, rename
  * tmp → live, drop old. A reader never sees a half-written live table.
  * A kill between the two renames, though, leaves no live table (only
  * `.__old` and `.__tmp`) until the next overwrite replaces it: [[read]]
  * returns `None` meanwhile, and the next overwrite drops `.__old`. That
  * is safe only because no caller reads such a table to write it back.
  * Rename is atomic on HDFS and local FS; on object stores, front with a
  * manifest/catalog pointer instead (documented limitation, SURVEY §7.5).
  */
object AtomicTableWriter {

  def overwrite(df: DataFrame, tablePath: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(tablePath)
    val tmp = new Path(tablePath + ".__tmp")
    val old = new Path(tablePath + ".__old")

    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)

    df.write.mode("overwrite").parquet(tmp.toString)

    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"atomic swap: cannot retire $live")
    if (!fs.rename(tmp, live)) {
      // roll back so the live table is never absent
      if (fs.exists(old)) fs.rename(old, live)
      throw new java.io.IOException(s"atomic swap: cannot promote $tmp")
    }
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** The live table read with the `schema` it was written with, so no
    * job infers it from the files. */
  def read(spark: SparkSession, tablePath: String, schema: StructType): Option[DataFrame] = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(tablePath))) Some(spark.read.schema(schema).parquet(tablePath))
    else None
  }
}
