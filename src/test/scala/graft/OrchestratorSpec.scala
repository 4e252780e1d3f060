package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.PartitionedMerge
import graft.model.Schemas
import graft.sources.{AtomicTableWriter, RawReader}

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
    val root = SparkSpec.tempDir("graft-e2e").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    var hookFired = false
    assert(orch.runDaily(() => hookFired = true))
    assert(hookFired) // O7: post-success hook

    // gold facts are bucket-partitioned; goldTable hides the layout column
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
    // W6 rides the bucketed merge path, like the facts
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
    val path = SparkSpec.tempDir("graft-atomic").toString + "/t"
    AtomicTableWriter.overwrite(Seq(1, 2, 3).toDF("x"), path)
    assert(spark.read.parquet(path).count() == 3)
    AtomicTableWriter.overwrite(Seq(4, 5).toDF("x"), path)
    assert(spark.read.parquet(path).as[Int].collect().toSet == Set(4, 5))
    val schema = new org.apache.spark.sql.types.StructType().add("x", "int")
    assert(AtomicTableWriter.read(spark, path, schema).get.as[Int].collect().toSet == Set(4, 5))
    assert(AtomicTableWriter.read(spark, path + "-missing", schema).isEmpty)
  }

  /** Bytes read through the local file system while `f` runs; reads of
    * Spark's cache do not count. */
  private def fileBytesRead(f: => Unit): Long = {
    // registers the local file system's statistics if nothing has yet
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val before = stats.getLong("bytesRead")
    f
    stats.getLong("bytesRead") - before
  }

  test("staging parses the bronze batch once and leaves nothing persisted") {
    val root = SparkSpec.tempDir("graft-stage-once").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    spark.catalog.clearCache()
    val onePass = fileBytesRead(RawReader.readJson(spark, Schemas.productNode, "products",
      s"$root/bronze/retail/products").collect())
    val staging = fileBytesRead(assert(orch.stageEntity("retail", "R-", "products").isDefined))
    // four silver tables and the watermark from one parse
    assert(staging > 0 && staging < 2 * onePass,
      s"staging read $staging bytes; one read of the batch reads $onePass")
    assert(spark.sharedState.cacheManager.isEmpty)

    // a silver write that fails still releases the parsed batch
    Files.writeString(Paths.get(root, "not-a-dir"), "")
    val broken = new Orchestrator(spark, s"$root/bronze", s"$root/not-a-dir",
      s"$root/gold", s"$root/state2")
    val e = intercept[Exception](broken.stageEntity("retail", "R-", "products"))
    assert(spark.sharedState.cacheManager.isEmpty)
    // the FAILED row carries the reason, `<Class>: <first line>`
    val notes = broken.runLog.all().filter(col("status") === "FAILED")
      .select("notes").as[String].collect().toSeq
    assert(notes.size == 1 && notes.head != null &&
      notes.head.startsWith(e.getClass.getName), notes)
  }

  test("the daily run is interpreted: a second day compiles at most one generated class") {
    val CodegenKeys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val root = SparkSpec.tempDir("graft-interpreted").toString
    setupBronze(root)
    val callerKeys = CodegenKeys.map(spark.conf.get)
    assert(callerKeys == Seq("true", "FALLBACK"))
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    assert(orch.spark ne spark)
    assert(CodegenKeys.map(orch.spark.conf.get) == Seq("false", "NO_CODEGEN"))
    // the run's session keeps the caller's builder settings
    for (k <- Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions"))
      assert(orch.spark.conf.get(k) == spark.conf.get(k), k)

    assert(orch.runDaily())
    // compiled, the second day recompiles its classes: a day plans more
    // distinct classes than the codegen cache holds
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(orch.runDaily())
    val secondDay = compiles.getCount - before
    // the one class left is codegen-only: the column accessor that reads
    // W7's persisted (sku, snapshot_date) keys back from the cache, which
    // the second day is the first to merge into an existing table
    assert(secondDay <= 1, s"the second day compiled $secondDay classes")

    assert(CodegenKeys.map(spark.conf.get) == callerKeys) // caller untouched
    assert(orch.goldTable("fact_orders").get.sparkSession eq spark)
  }

  test("bucketOf homes every key to the same bucket interpreted and compiled") {
    // gold tables written compiled must keep their layout when merged
    // interpreted: a key re-homed to another bucket duplicates its row
    val root = SparkSpec.tempDir("graft-bucket-layout").toString
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    val rnd = new scala.util.Random(42)
    def sku() = Seq.fill(3 + rnd.nextInt(6))(
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_ ".charAt(rnd.nextInt(39))).mkString
    val fixture = Seq("R-5551234", "R-5551235", "W-7771", "WID-001", "wid-001")
    val keys = fixture ++ Seq(null, "", " ", "  ") ++
      Seq.fill(2000)(s"${if (rnd.nextBoolean()) "R" else "W"}-${rnd.nextInt(Int.MaxValue)}") ++
      Seq.fill(2000)(sku())
    keys.toDF("k").write.parquet(s"$root/keys")
    def buckets(s: org.apache.spark.sql.SparkSession) = {
      val df = s.read.parquet(s"$root/keys").select(col("k"), PartitionedMerge.bucketOf("k", 32))
      val rows = df.as[(Option[String], Int)].collect().toSeq.sorted
      val compiled = df.queryExecution.executedPlan
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      (compiled, rows)
    }
    val (callerCompiled, compiled) = buckets(spark)
    val (etlCompiled, interpreted) = buckets(orch.spark)
    assert(callerCompiled && !etlCompiled)
    assert(interpreted.size == keys.size)
    assert(interpreted == compiled)
    assert(interpreted.contains(None -> 10)) // hash(null) is the seed, 42
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
    val root = SparkSpec.tempDir("graft-bucketed").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
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
      val root = SparkSpec.tempDir(name).toString
      setupBronze(root)
      val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
        s"$root/gold", s"$root/state")
      assert(orch.runDaily())
      stageDay2Orders(root, orch)
      (root, orch)
    }
    val ingestedAt = "2025-12-09T09:00:00"
    val (_, clean) = dayTwo("graft-merge-clean")
    clean.mergeOrders(ingestedAt)

    val (root, faulty) = dayTwo("graft-merge-fault")
    // W2's pinned bucket count disagrees → its branch fails fast (the
    // pin must exceed every existing bucket of the 32, hence 64)
    val items = s"$root/gold/fact_order_items"
    PartitionedMerge.pinBucketCount(spark, items, 64)
    val e = intercept[IllegalStateException](faulty.mergeOrders(ingestedAt))
    assert(e.getMessage.contains("bucket-count mismatch"))
    // the W1 branch had committed before the failure surfaced
    val w7771 = faulty.goldTable("fact_orders").get.filter($"order_id" === "W-7771")
    assert(w7771.select("total_price").as[Double].collect().toSeq == Seq(400.0))
    assert(w7771.select("ingested_at").as[String].head() == ingestedAt)
    assert(!Files.list(java.nio.file.Paths.get(root, "gold/fact_orders")).iterator()
      .asScala.exists(_.getFileName.toString.startsWith(".spark-staging")))

    PartitionedMerge.pinBucketCount(spark, items, 32)
    faulty.mergeOrders(ingestedAt)
    for ((table, keys) <- Seq("fact_orders" -> Seq("order_id"),
        "fact_order_items" -> Seq("order_id", "line_item_id"))) {
      def rows(o: Orchestrator) = o.goldTable(table).get.orderBy(keys.map(col): _*).collect().toSeq
      assert(rows(faulty) == rows(clean), table)
    }
  }

  test("W7 rewrites only today's snapshot partition; earlier days keep their files") {
    val root = SparkSpec.tempDir("graft-snapshot").toString
    setupBronze(root)
    val orch = new Orchestrator(spark, s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/state")
    for ((store, prefix) <- Seq("retail" -> "R-", "wholesale" -> "W-"))
      orch.stageEntity(store, prefix, "products")
    orch.mergeProducts("2025-12-08T10:00:00")
    // an earlier day's snapshot, as a run on 2000-01-01 would have left it
    val snap = s"$root/gold/inventory_snapshot"
    spark.read.parquet(snap).withColumn("snapshot_date", lit("2000-01-01"))
      .write.mode("append").partitionBy("snapshot_date").parquet(snap)
    val old = java.nio.file.Paths.get(snap, "snapshot_date=2000-01-01")
    def files() = Files.list(old).iterator().asScala
      .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f)).toMap
    def oldRows() = spark.read.parquet(snap)
      .filter(col("snapshot_date").cast("string") === "2000-01-01").count()
    val (filesBefore, rowsBefore, total) = (files(), oldRows(), spark.read.parquet(snap).count())
    assert(filesBefore.nonEmpty && rowsBefore > 0)

    orch.mergeProducts("2025-12-08T11:00:00") // a same-day rerun
    assert(files() == filesBefore)
    assert(oldRows() == rowsBefore)
    assert(spark.read.parquet(snap).count() == total)
  }

  test("two versions of one order across bronze files collapse to the latest") {
    val root = SparkSpec.tempDir("graft-dup").toString
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
    // a failure without a message still logs its class
    val quiet = scala.collection.mutable.Buffer[String]()
    intercept[IllegalStateException] {
      Orchestrator.withRetries("quiet", attempts = 2, quiet += _)(
        throw new IllegalStateException())
    }
    assert(quiet.contains("[quiet] attempt 1 failed: java.lang.IllegalStateException"), quiet)
  }

  test("S10 archive + delete lifecycle") {
    val dir = SparkSpec.tempDir("arch")
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
    val root = SparkSpec.tempDir("graft-runlog").toString
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
