package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MergeOpsSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Double)*) =
    rows.toDF("order_id", "status", "total")

  test("W1 upsert: staged wins, unmatched target survives") {
    val target = table(("1", "old", 10.0), ("2", "old", 20.0))
    val staged = table(("2", "new", 25.0), ("3", "new", 30.0))
    val out = MergeOps.upsert(target, staged, Seq("order_id"))
      .orderBy("order_id").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "old"), ("2", "new"), ("3", "new")))
  }

  test("W1 upsert is idempotent (lookback rerun safety)") {
    val target = table(("1", "old", 10.0), ("2", "old", 20.0))
    val staged = table(("2", "new", 25.0))
    val once = MergeOps.upsert(target, staged, Seq("order_id"))
    val twice = MergeOps.upsert(once, staged, Seq("order_id"))
    assert(once.orderBy("order_id").collect().toSeq ==
      twice.orderBy("order_id").collect().toSeq)
  }

  test("W2 deleteReload: all items of staged orders replaced") {
    val target = Seq(("1", "i1"), ("1", "i2"), ("2", "i3")).toDF("order_id", "item")
    val staged = Seq(("1", "i9")).toDF("order_id", "item")
    val out = MergeOps.deleteReload(target, staged, staged.select("order_id"), Seq("order_id"))
      .orderBy("order_id", "item").as[(String, String)].collect()
    assert(out.toSeq == Seq(("1", "i9"), ("2", "i3")))
  }

  test("A5 dedupLatest: keeps newest with total-order tie-break") {
    val df = Seq(
      ("SKU1", "2025-01-01", "v1"),
      ("SKU1", "2025-01-02", "v2"),
      ("SKU2", "2025-01-01", "v3"),
      ("SKU2", "2025-01-01", "v4") // tie on date → v4 wins (id desc)
    ).toDF("sku", "created_at", "variant_id")
    val out = MergeOps.dedupLatest(df, Seq($"sku"),
      Seq($"created_at".desc, $"variant_id".desc))
      .orderBy("sku").as[(String, String, String)].collect()
    assert(out.map(_._3).toSeq == Seq("v2", "v4"))
  }

  test("W6 inventory pipeline: dedup-latest per SKU + retail-first gap fill") {
    def inv(rows: (String, String, Int)*) =
      rows.toDF("product_id", "variant_id", "available")
        .withColumn("committed", lit(0)).withColumn("on_hand", lit(0))
        .withColumn("incoming", lit(0)).withColumn("reserved", lit(0))
    def vars(rows: (String, String, String)*) =
      rows.toDF("variant_id", "sku", "created_at")
    def prods(rows: (String, String)*) = rows.toDF("product_id", "status")

    val retail = InventoryPipeline.storeInventory(
      inv(("p1", "v1", 5), ("p1", "v2", 9), ("p2", "v3", 4)),
      // v1 older, v2 newer — same SKU (case/space variants normalize)
      vars(("v1", "wid-001", "2024-01-01"), ("v2", " WID-001 ", "2025-01-01"),
        ("v3", "GIz-9", "2025-01-01")),
      prods(("p1", "ACTIVE"), ("p2", "ARCHIVED")), // p2 filtered out
      "retail")
    val r = retail.orderBy("sku").collect()
    assert(r.map(_.getAs[String]("sku")).toSeq == Seq("WID-001"))
    assert(r.head.getAs[String]("variant_id") == "v2") // latest wins
    assert(r.head.getAs[Int]("available") == 9)

    val wholesale = InventoryPipeline.storeInventory(
      inv(("p9", "w1", 100), ("p9", "w2", 50)),
      vars(("w1", "WID-001", "2025-06-01"), ("w2", "NEW-1", "2025-06-01")),
      prods(("p9", "ACTIVE")),
      "wholesale")

    val combined = InventoryPipeline.combine(retail, wholesale)
      .orderBy("sku").collect()
    // WID-001 from retail (priority), NEW-1 gap-filled from wholesale
    assert(combined.map(r => (r.getAs[String]("sku"), r.getAs[String]("source_system"))).toSeq ==
      Seq(("NEW-1", "wholesale"), ("WID-001", "retail")))
  }

  test("U1 combineStores degenerates to single side") {
    val only = table(("1", "x", 1.0))
    assert(MergeOps.combineStores(Seq(only)).count() == 1)
  }

  test("snapshotDiff: insert/delete/update classified; unchanged suppressed") {
    import spark.implicits._
    val before = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val after = Seq((1L, "a", 10.0), (2L, "b", 99.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val out = MergeOps.snapshotDiff(before, after, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
  }

  test("snapshotDiff: null vs value is an update; null vs null is unchanged") {
    import spark.implicits._
    val before = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "s")
    val after = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "s")
    val out = MergeOps.snapshotDiff(before, after, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "update"), s"got $out")
  }

  test("snapshotDiff: separator-bearing values cannot mask a real change") {
    import spark.implicits._
    // key 1's VALUE carries the separator character, so a naive
    // separator-join rendering concatenates before and after
    // identically; per-column digests stay injective.
    val b1 = Seq((1L, "a\u0001b", "c"), (2L, null.asInstanceOf[String], "z"))
      .toDF("k", "s1", "s2")
    val a1 = Seq((1L, "a", "b\u0001c"), (2L, "\u0000", "z"))
      .toDF("k", "s1", "s2")
    val out = MergeOps.snapshotDiff(b1, a1, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1: the column boundary moved; 2: a real NULL became the literal
    // sentinel string; both must classify as updates
    assert(out == Map(1L -> "update", 2L -> "update"), s"got $out")
  }
}
