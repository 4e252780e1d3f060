package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val log = Seq(
    // key 1: A -> A (re-statement, collapsed) -> B -> A
    (1L, ts("2024-01-01 00:00:00"), 10L, "A"),
    (1L, ts("2024-01-02 00:00:00"), 11L, "A"),
    (1L, ts("2024-01-03 00:00:00"), 12L, "B"),
    (1L, ts("2024-01-04 00:00:00"), 13L, "A"),
    // key 2: single event
    (2L, ts("2024-01-01 12:00:00"), 20L, "X"),
    // key 3: same-ts tie broken by event id; null attr is a real state
    (3L, ts("2024-01-01 00:00:00"), 31L, null),
    (3L, ts("2024-01-01 00:00:00"), 30L, "P"),
    (3L, ts("2024-01-02 00:00:00"), 32L, "P")
  ).toDF("k", "ts", "eid", "attr")

  private lazy val hist =
    Scd2.fromChangeLog(log, Seq("k"), "ts", "eid", Seq("attr"))

  test("re-stated values collapse; changes open versions") {
    val k1 = hist.filter($"k" === 1).orderBy("version")
      .select("attr", "version").as[(String, Int)].collect()
    assert(k1.toSeq == Seq(("A", 1), ("B", 2), ("A", 3)))
  }

  test("validity intervals chain half-open and only the last is current") {
    val k1 = hist.filter($"k" === 1).orderBy("version").collect()
    assert(k1.map(_.getAs[Timestamp]("valid_from")).toSeq ==
      Seq(ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00")))
    assert(k1.map(r => Option(r.getAs[Timestamp]("valid_to"))).toSeq ==
      Seq(Some(ts("2024-01-03 00:00:00")), Some(ts("2024-01-04 00:00:00")), None))
    assert(k1.map(_.getAs[Boolean]("is_current")).toSeq == Seq(false, false, true))
  }

  test("same-timestamp events order by the tie-break; null attr is a version") {
    // eid 30 ("P") sorts before eid 31 (null) at the same ts, so the
    // history is P -> null -> P (null-safe change detection both ways)
    val k3 = hist.filter($"k" === 3).orderBy("version")
      .select("attr", "version").as[(String, Int)].collect()
    assert(k3.toSeq == Seq(("P", 1), (null, 2), ("P", 3)))
  }

  test("asOf probes match exactly one version per key") {
    val at = Scd2.asOf(hist, lit(ts("2024-01-03 12:00:00")))
    val byKey = at.groupBy("k").count().as[(Long, Long)].collect().toMap
    assert(byKey(1L) == 1 && byKey(2L) == 1 && byKey(3L) == 1)
    assert(at.filter($"k" === 1).select("attr").as[String].head() == "B")
  }

  test("singleton key is version 1 and current") {
    val k2 = hist.filter($"k" === 2).collect()
    assert(k2.length == 1 && k2(0).getAs[Int]("version") == 1 &&
      k2(0).getAs[Boolean]("is_current"))
  }
}
