package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver regenerates testdata between rounds and has already
  * changed events.ts's physical layout once (raw INT64 nanoseconds →
  * logical TIMESTAMP_MICROS), silently collapsing 30 days of events
  * onto 1970 for every absolute-time query. These fixtures pin the
  * defense: the events reader decodes EVERY layout the driver has
  * shipped to the same wall-clock instants, and Tables fails LOUD on
  * a contract-violating layout instead of returning plausible rows.
  */
class TablesLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    SparkSpec.tempDir("graft-layout").toString

  // one true instant: 2024-01-15T06:30:00 UTC
  private val micros = 1705300200000000L

  test("events reader: logical TIMESTAMP_MICROS (NTZ) decodes to true instants") {
    val d = tmp()
    Seq((1L, micros, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = queries.EtlQueries.events(spark, d)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("events reader: logical TIMESTAMP (UTC-adjusted) passes through") {
    val d = tmp()
    Seq((1L, micros, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = queries.EtlQueries.events(spark, d)
    assert(got.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("events reader: raw INT64 is nanoseconds by driver convention") {
    val d = tmp()
    Seq((1L, micros * 1000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = queries.EtlQueries.events(spark, d)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("events reader: an unsupported ts layout fails loud, not plausible") {
    val d = tmp()
    Seq((1L, "2024-01-15", 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException] {
      queries.EtlQueries.events(spark, d)
    }
    assert(e.getMessage.contains("unsupported layout"))
  }

  test("Tables contract: a regenerated table with a missing column fails loud") {
    val d = tmp()
    Seq((1L, "hello", "en")).toDF("doc_id", "text", "lang") // no source
      .write.parquet(s"$d/documents.parquet")
    val e = intercept[IllegalStateException] { Tables(spark, d, "documents") }
    assert(e.getMessage.contains("contract violation") &&
      e.getMessage.contains("source"))
  }

  test("Tables contract: an incompatible column type fails loud") {
    val d2 = tmp()
    Seq(("a", "x", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$d2/documents.parquet")
    val e = intercept[IllegalStateException] { Tables(spark, d2, "documents") }
    assert(e.getMessage.contains("contract violation") &&
      e.getMessage.contains("doc_id"))
  }

  test("Tables contract: every real testdata table passes at sf0.001") {
    val d = "/root/testdata/sf0.001"
    Tables.names.foreach { n => Tables(spark, d, n).schema }
  }
}
