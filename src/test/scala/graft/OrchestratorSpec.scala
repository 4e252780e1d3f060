package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.operators.PartitionedMerge
import graft.sources.AtomicTableWriter

/** End-to-end golden test: bronze fixture JSON → full daily run → gold
  * tables, plus the rerun-idempotence property the reference's
  * overlap-lookback design depends on (daily_scheduler.py:75-81). */
class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def setupBronze(root: String): Unit = {
    def write(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write("bronze/retail/orders/batch1.json",
      Fixtures.envelope(Seq(Fixtures.orderNodes, Fixtures.orderNodeSparse), "retail", "orders"))
    write("bronze/retail/customers/batch1.json",
      Fixtures.envelope(Seq(Fixtures.customerNode), "retail", "customers"))
    write("bronze/retail/products/batch1.json",
      Fixtures.envelope(Seq(Fixtures.productNode, Fixtures.productNodeSparse), "retail", "products"))
    // wholesale carries a duplicate SKU (gap-fill check) + its own product
    val wholesaleProduct = Fixtures.productNode
      .replace("gid://shopify/Product/11", "gid://shopify/Product/91")
      .replace("gid://shopify/ProductVariant/31", "gid://shopify/ProductVariant/93")
      .replace("WID-001", "wid-001") // same SKU after normalization
      .replace(""""title": "Widget"""", """"title": "Widget W"""")
    write("bronze/wholesale/orders/batch1.json",
      Fixtures.envelope(Seq(Fixtures.orderNodes.replace("5551234", "7771")), "wholesale", "orders"))
    write("bronze/wholesale/customers/batch1.json",
      Fixtures.envelope(Seq(Fixtures.customerNodeSparse), "wholesale", "customers"))
    write("bronze/wholesale/products/batch1.json",
      Fixtures.envelope(Seq(wholesaleProduct), "wholesale", "products"))
  }

  test("daily run end-to-end: all gold tables materialize correctly") {
    val root = Files.createTempDirectory("graft-e2e").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    var hookFired = false
    assert(orch.runDaily(() => hookFired = true))
    assert(hookFired) // O7: post-success hook

    // default path is bucket-partitioned; goldTable hides the layout column
    val orders = orch.goldTable("fact_orders").get
    assert(!orders.columns.contains("bucket"))
    assert(orders.count() == 3) // R-5551234, R-5551235, W-7771
    assert(orders.filter($"order_id" === "W-7771").count() == 1)

    val items = spark.read.parquet(s"$root/gold/fact_order_items")
    assert(items.count() == 4) // 2 per full order, sparse has none

    val customers = spark.read.parquet(s"$root/gold/dim_customers")
    assert(customers.select("customer_id").as[String].collect().toSet == Set("R-777", "W-778"))

    // W6: retail-first — WID-001 resolves to the retail variant
    val inv = spark.read.parquet(s"$root/gold/fact_current_inventory")
    val wid = inv.filter($"sku" === "WID-001").collect()
    assert(wid.length == 1)
    assert(wid.head.getAs[String]("source_system") == "retail")
    assert(wid.head.getAs[String]("variant_id") == "31")

    val snap = spark.read.parquet(s"$root/gold/inventory_snapshot")
    assert(snap.filter($"sku" === "WID-001").count() == 1)
    val snapCount = snap.count() // materialize before the table is swapped

    // rerun the whole day: tables unchanged modulo ingested_at, which the
    // reference's ON CONFLICT DO UPDATE also refreshes per run
    val before = orders.drop("ingested_at").orderBy("order_id").collect().toSeq
    // W6 rides the bucketed merge path by default, like the facts
    val invBefore = orch.goldTable("fact_current_inventory").get
      .drop("ingested_at").orderBy("sku").collect().toSeq
    assert(spark.read.parquet(s"$root/gold/fact_current_inventory")
      .columns.contains("bucket"))
    assert(orch.runDaily())
    val after = orch.goldTable("fact_orders").get
      .drop("ingested_at").orderBy("order_id").collect().toSeq
    assert(before == after)
    val invAfter = orch.goldTable("fact_current_inventory").get
      .drop("ingested_at").orderBy("sku").collect().toSeq
    assert(invBefore == invAfter && !invAfter.isEmpty)
    assert(spark.read.parquet(s"$root/gold/inventory_snapshot").count() == snapCount)
  }

  test("atomic writer: overwrite swaps without losing the table") {
    val path = Files.createTempDirectory("graft-atomic").toString + "/t"
    AtomicTableWriter.overwrite(Seq(1, 2, 3).toDF("x"), path)
    assert(spark.read.parquet(path).count() == 3)
    AtomicTableWriter.overwrite(Seq(4, 5).toDF("x"), path)
    assert(spark.read.parquet(path).as[Int].collect().toSet == Set(4, 5))
    assert(AtomicTableWriter.read(spark, path + "-missing").isEmpty)
  }

  /** Day 2's wholesale bronze: order W-7771 updated to a total of 400. */
  private def stageDay2Orders(root: String, orch: Orchestrator): Unit = {
    val day2 = Fixtures.orderNodes.replace("5551234", "7771")
      .replace(""""updatedAt": "2025-12-07T11:00:00Z"""",
        """"updatedAt": "2025-12-09T08:00:00Z"""")
      .replace(""""amount": "112.50"""", """"amount": "400.00"""")
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/bronze/wholesale/orders"))
      .filter(java.nio.file.Files.isRegularFile(_)).forEach(java.nio.file.Files.delete(_))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/bronze/wholesale/orders/day2.json"),
      Fixtures.envelope(Seq(day2), "wholesale", "orders"))
    orch.stageEntity("wholesale", "W-", "orders")
  }

  test("bucketed fact merges rewrite only the touched hash buckets") {
    val root = Files.createTempDirectory("graft-bucketed").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state", factBuckets = Some(4))
    assert(orch.runDaily())
    val orders = spark.read.parquet(s"$root/gold/fact_orders")
    assert(orders.count() == 3)
    assert(orders.columns.contains("bucket")) // partition column surfaces
    // incremental day 2: only order W-7771 updated → only its bucket moves
    stageDay2Orders(root, orch)
    orch.mergeOrders("2025-12-09T09:00:00")
    val after = spark.read.parquet(s"$root/gold/fact_orders")
    assert(after.count() == 3) // upsert, not append
    assert(after.filter($"order_id" === "W-7771")
      .select("total_price").as[Double].head() == 400.0)
    assert(after.filter($"order_id" === "R-5551234")
      .select("total_price").as[Double].head() == 112.5) // untouched
  }

  test("side-by-side merges: a failed branch surfaces after its sibling commits, a rerun converges") {
    def dayTwo(name: String): (String, Orchestrator) = {
      val root = Files.createTempDirectory(name).toString
      setupBronze(root)
      val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
        s"$root/gold", s"$root/state", factBuckets = Some(4))
      assert(orch.runDaily())
      stageDay2Orders(root, orch)
      (root, orch)
    }
    val ingestedAt = "2025-12-09T09:00:00"
    val (_, clean) = dayTwo("graft-merge-clean")
    clean.mergeOrders(ingestedAt)

    val (root, faulty) = dayTwo("graft-merge-fault")
    // W2's pinned bucket count disagrees → its branch fails fast
    val items = s"$root/gold/fact_order_items"
    PartitionedMerge.pinBucketCount(spark, items, 8)
    val e = intercept[IllegalStateException](faulty.mergeOrders(ingestedAt))
    assert(e.getMessage.contains("bucket-count mismatch"))
    // the W1 branch had committed before the failure surfaced
    val w7771 = faulty.goldTable("fact_orders").get.filter($"order_id" === "W-7771")
    assert(w7771.select("total_price").as[Double].collect().toSeq == Seq(400.0))
    assert(w7771.select("ingested_at").as[String].head() == ingestedAt)
    assert(!Files.list(java.nio.file.Paths.get(root, "gold/fact_orders")).iterator()
      .asScala.exists(_.getFileName.toString.startsWith(".spark-staging")))

    PartitionedMerge.pinBucketCount(spark, items, 4)
    faulty.mergeOrders(ingestedAt)
    for ((table, keys) <- Seq("fact_orders" -> Seq("order_id"),
        "fact_order_items" -> Seq("order_id", "line_item_id"))) {
      def rows(o: Orchestrator) = o.goldTable(table).get.orderBy(keys.map(col): _*).collect().toSeq
      assert(rows(faulty) == rows(clean), table)
    }
  }

  test("legacy non-bucketed gold tables keep the whole-table merge path") {
    val root = Files.createTempDirectory("graft-legacy").toString
    setupBronze(root)
    // day 1 under the old default: whole-table, no bucket column
    val legacy = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state", factBuckets = None)
    assert(legacy.runDaily())
    assert(!spark.read.parquet(s"$root/gold/fact_orders").columns.contains("bucket"))
    // day 2 under the new bucketed default: must not crash, must merge
    val current = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state2")
    assert(current.runDaily())
    val orders = current.goldTable("fact_orders").get
    assert(orders.count() == 3) // merged, not duplicated or crashed
    assert(!spark.read.parquet(s"$root/gold/fact_orders").columns.contains("bucket"))
  }

  test("two versions of one order across bronze files collapse to the latest") {
    val root = Files.createTempDirectory("graft-dup").toString
    def write(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    val v1 = Fixtures.orderNodes
    val v2 = Fixtures.orderNodes
      .replace(""""updatedAt": "2025-12-07T11:00:00Z"""",
        """"updatedAt": "2025-12-08T09:00:00Z"""")
      .replace(""""amount": "112.50"""", """"amount": "999.00"""")
    // overlap-lookback shape: both versions present in the bronze dir
    write("bronze/retail/orders/day1.json", Fixtures.envelope(Seq(v1), "retail", "orders"))
    write("bronze/retail/orders/day2.json", Fixtures.envelope(Seq(v2), "retail", "orders"))
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    orch.stageEntity("retail", "R-", "orders")
    orch.mergeOrders("2025-12-08T10:00:00")
    val gold = spark.read.parquet(s"$root/gold/fact_orders")
    assert(gold.count() == 1) // deduped, not doubled
    assert(gold.select("total_price").as[Double].head() == 999.0) // latest wins
    assert(spark.read.parquet(s"$root/gold/fact_order_items").count() == 2)
  }

  test("O6 retry harness: succeeds on second attempt, logs attempts") {
    val log = scala.collection.mutable.Buffer[String]()
    var calls = 0
    val out = Orchestrator.withRetries("job", attempts = 2, log += _) {
      calls += 1
      if (calls == 1) throw new RuntimeException("boom")
      42
    }
    assert(out == 42 && calls == 2)
    assert(log.exists(_.contains("attempt 1/2")) && log.exists(_.contains("attempt 2/2")))
    // exhausted retries rethrow the last failure
    intercept[RuntimeException] {
      Orchestrator.withRetries("bad", attempts = 2, _ => ())(
        throw new RuntimeException("always"))
    }
  }

  test("S10 archive + delete lifecycle") {
    val dir = Files.createTempDirectory("arch")
    val f = dir.resolve("raw.json")
    Files.writeString(f, "{}")
    Orchestrator.archiveAndDelete(f.toString, Some(dir.resolve("archive").toString))
    assert(!Files.exists(f))
    assert(Files.exists(dir.resolve("archive").resolve("raw.json")))
    // delete-only variant (ARCHIVE_BUCKET=False short-circuit)
    Files.writeString(f, "{}")
    Orchestrator.archiveAndDelete(f.toString, None)
    assert(!Files.exists(f))
  }

  test("run log: watermark resolution with lookback") {
    val root = Files.createTempDirectory("graft-runlog").toString
    val log = new graft.state.EtlRunLog.Store(spark, s"$root/etl_run_log")
    val today = java.time.LocalDate.parse("2025-12-08")
    // no history → 3-day default lookback
    assert(log.resolveStartDate("retail", "orders", today) == today.minusDays(3))
    val id = log.logStart("retail", "orders", java.time.LocalDateTime.parse("2025-12-06T05:45:00"))
    log.logStagingSuccess(id, Some("2025-12-06T04:00:00Z"),
      java.time.LocalDateTime.parse("2025-12-06T05:50:00"))
    // last success 12-06, 2 days since → start = today - (2+2) = 12-04
    // (= lastDate - 2: the reference's now - (2 + days_gap))
    assert(log.resolveStartDate("retail", "orders", today) ==
      java.time.LocalDate.parse("2025-12-04"))
  }
}
