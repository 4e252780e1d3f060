package graft

import java.time.{LocalDate, LocalDateTime}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.operators.{InventoryPipeline, MergeOps, PartitionedMerge}
import graft.silver.Flatten
import graft.sources.{AtomicTableWriter, RawReader}
import graft.state.EtlRunLog

object Orchestrator {
  /** O6 — retry harness (run_etl_with_retries.py by name; "attempt 1/2"
    * echo evidenced at run_logs.txt:239,288,...): retry a merge job with
    * an attempt log, rethrowing the final failure. */
  def withRetries[T](jobName: String, attempts: Int = 2,
                     log: String => Unit = s => System.err.println(s))(f: => T): T = {
    var last: Throwable = null
    var i = 1
    while (i <= attempts) {
      log(s"[$jobName] attempt $i/$attempts")
      Try(f) match {
        case Success(v) => return v
        case Failure(e) =>
          log(s"[$jobName] attempt $i failed: ${e.getMessage}")
          last = e
      }
      i += 1
    }
    throw last
  }

  /** S12 — the Power BI refresh trigger as a [[runDaily]] onSuccess
    * hook (trigger_pbi.py end-to-end: ROPC token + dataset refresh
    * POST, [[graft.sources.PowerBiClient]]). Absent env config (the
    * reference's .env contract) degrades to a no-op, and a rejected
    * refresh logs but never fails the ETL run — the warehouse result
    * is already durable by the time the hook fires. */
  def powerBiHook(env: String => Option[String] = sys.env.get,
      client: graft.sources.PowerBiConfig => graft.sources.PowerBiClient =
        new graft.sources.PowerBiClient(_)): () => Unit =
    () => graft.sources.PowerBiConfig.fromEnv(env).foreach { cfg =>
      Try(client(cfg).triggerRefresh()) match {
        case Success(true) => ()
        case Success(false) => () // already logged by the client
        case Failure(e) =>
          System.err.println(s"[powerbi] refresh failed: ${e.getMessage}")
      }
    }

  /** S10 — bronze file lifecycle: archive the processed raw file (or
    * delete-only when no archive dir is configured, the reference's
    * ARCHIVE_BUCKET=False short-circuit, daily_scheduler.py:85-97). */
  def archiveAndDelete(path: String, archiveDir: Option[String]): Unit = {
    val src = java.nio.file.Paths.get(path)
    archiveDir.foreach { dir =>
      val target = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(target)
      java.nio.file.Files.copy(src, target.resolve(src.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    java.nio.file.Files.deleteIfExists(src)
  }
}

/** O1–O3/O7 — the daily pipeline (daily_scheduler.py:150-218) re-shaped
  * for Spark: parallel staging fan-out per (store × entity), an
  * all-staged-or-abort gate, then merges into the gold tables. The
  * entities merge serially (orders → customers → products), but within
  * one entity the gold tables that read only silver merge side by side
  * (W1 beside W2; W4, W5 and the W6 → W7 chain).
  *
  * The thread pools exist to overlap independent *jobs* (each Spark
  * action is already cluster-parallel inside); SparkSession is
  * thread-safe so the reference's connection-per-call dance
  * (daily_scheduler.py:23) has no equivalent here.
  */
/** @param factBuckets fact tables are stored hash-bucket partitioned on
  *   their merge key and merges go through
  *   [[graft.operators.PartitionedMerge]] — only buckets containing
  *   staged keys are rewritten. This is the DEFAULT (the 100 TB merge
  *   shape: daily merge cost scales with the staged batch, not the
  *   table); the bucket count is pinned in a table sidecar and a
  *   mismatched count fails fast. `bucket` is an internal layout column
  *   — read gold facts through [[goldTable]], which hides it. Pass
  *   `None` for whole-table atomic-swap rewrites (small tables,
  *   strictly atomic multi-partition visibility). */
final class Orchestrator(spark: SparkSession, bronzeDir: String,
                         silverDir: String, goldDir: String, stateDir: String,
                         factBuckets: Option[Int] = Some(32)) {

  val runLog = new EtlRunLog.Store(spark, s"$stateDir/etl_run_log")
  private val stores = Seq("retail" -> "R-", "wholesale" -> "W-")
  private val entities = Seq("orders", "customers", "products")

  private def silverPath(store: String, table: String) = s"$silverDir/staging_${store}_$table"
  private def goldPath(table: String) = s"$goldDir/$table"

  /** PHASE 1 — stage one (store, entity): bronze JSON → flatten →
    * conformed silver parquet; returns the batch watermark
    * (daily_scheduler.py:100-148). */
  def stageEntity(store: String, prefix: String, entity: String): Option[String] = {
    val path = s"$bronzeDir/$store/$entity"
    val now = LocalDateTime.now()
    val runId = runLog.logStart(store, entity, now)
    val result = Try {
      entity match {
        case "orders" =>
          val nodes = RawReader.readJson(spark, Schemas.orderNode, "orders", path)
          write(Flatten.conform(Flatten.orders(nodes, prefix), "fact_orders"),
            silverPath(store, "fact_orders"))
          write(Flatten.conform(Flatten.orderItems(nodes, prefix), "fact_order_items"),
            silverPath(store, "fact_order_items"))
          Flatten.watermark(nodes)
        case "customers" =>
          val nodes = RawReader.readJson(spark, Schemas.customerNode, "customers", path)
          write(Flatten.conform(Flatten.customers(nodes, prefix), "dim_customers"),
            silverPath(store, "dim_customers"))
          Flatten.watermark(nodes)
        case "products" =>
          val nodes = RawReader.readJson(spark, Schemas.productNode, "products", path)
          val ts = now.format(EtlRunLog.ISO)
          val day = now.toLocalDate.toString
          write(Flatten.conform(Flatten.products(nodes), "dim_products"),
            silverPath(store, "dim_products"))
          write(Flatten.conform(Flatten.variants(nodes), "dim_product_variants"),
            silverPath(store, "dim_product_variants"))
          write(Flatten.conform(Flatten.currentInventory(nodes), "fact_current_inventory"),
            silverPath(store, "fact_current_inventory"))
          write(Flatten.conform(Flatten.inventorySnapshot(nodes, ts, day), "inventory_snapshot"),
            silverPath(store, "inventory_snapshot"))
          Flatten.watermark(nodes)
        case other => throw new IllegalArgumentException(s"unknown entity $other")
      }
    }
    result match {
      case Success(wm) =>
        runLog.logStagingSuccess(runId, wm, LocalDateTime.now()); wm
      case Failure(e) =>
        runLog.logFailure(runId, e.getMessage, LocalDateTime.now()); throw e
    }
  }

  private def write(df: DataFrame, path: String): Unit =
    AtomicTableWriter.overwrite(df, path)

  private def silver(store: String, table: String): Option[DataFrame] =
    AtomicTableWriter.read(spark, silverPath(store, table))

  /** Gold-table reader for consumers: hides internal layout columns
    * (the hash `bucket` partition column on bucketed fact tables). */
  def goldTable(table: String): Option[DataFrame] =
    AtomicTableWriter.read(spark, goldPath(table))
      .map(df => if (df.columns.contains("bucket")) df.drop("bucket") else df)

  /** A gold table created by an earlier release WITHOUT bucketing (no
    * `bucket` column) must keep the whole-table merge path — stamping
    * buckets onto it would fail (and rebuilding is the operator's
    * call). Fresh tables are created bucketed. Answered from the
    * filesystem: the table is absent, or carries the bucket-count
    * sidecar or `bucket=` directories. */
  private def bucketPathUsable(table: String): Boolean = {
    val root = new Path(goldPath(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(root) ||
      fs.exists(new Path(root, PartitionedMerge.BucketMeta)) ||
      fs.listStatus(root).exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
  }

  /** R∪W staging view; degenerates to one side when the other is absent
    * (run_etl_with_retries.py:41-44). */
  private def combined(table: String): Option[DataFrame] = {
    val frames = stores.flatMap { case (st, _) => silver(st, table) }
    if (frames.isEmpty) None else Some(MergeOps.combineStores(frames))
  }

  /** Run independent merge branches side by side, each on a thread
    * created here so it inherits the caller's Spark job group. Returns
    * only after every branch has finished, rethrowing the first failure
    * in branch order — so a retry never overlaps a write still running
    * from the failed attempt. */
  private def sideBySide(branches: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(branches.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results = try branches.map(b => Future(Try(b()))).map(Await.result(_, Duration.Inf))
    finally pool.shutdown() // non-daemon threads must not pin the JVM
    results.foreach(_.get)
  }

  /** PHASE 2 — the seven merge jobs, serial per entity, the independent
    * tables of one entity side by side
    * (run_etl_with_retries.py:46-96; run_logs.txt:1613-1619). */
  def mergeOrders(ingestedAt: String): Unit = sideBySide(
    () => combined("fact_orders").foreach { staged0 =>
      // a bronze batch can carry several versions of one order (overlap
      // lookback / multiple files); MergeOps.upsert requires key-unique
      // staged input — keep the latest with a total tie-break order
      val staged = MergeOps.dedupLatest(
        staged0,
        Seq(col("order_id")),
        Seq(col("updated_at").desc, col("created_at").desc, col("order_number").desc))
        .withColumn("ingested_at", lit(ingestedAt))
      factBuckets match {
        case Some(n) if bucketPathUsable("fact_orders") =>
          PartitionedMerge.bucketedUpsert(spark, goldPath("fact_orders"),
            staged, Seq("order_id"), n)
        case _ =>
          val merged = AtomicTableWriter.read(spark, goldPath("fact_orders")) match {
            case Some(target) => MergeOps.upsert(target, staged, Seq("order_id"))
            case None => staged
          }
          write(merged, goldPath("fact_orders"))
      }
    },
    () => combined("fact_order_items").foreach { items0 =>
      // same-version item rows can repeat across batch files; exact
      // duplicates collapse, and per (order_id, line_item_id) keep a
      // deterministic survivor (reference semantics load one file per
      // run — this is the multi-file safety net)
      val items = MergeOps.dedupLatest(
        items0.dropDuplicates(),
        Seq(col("order_id"), col("line_item_id")),
        items0.columns.filterNot(Seq("order_id", "line_item_id").contains)
          .map(c => col(c).desc).toSeq)
        .withColumn("ingested_at", lit(ingestedAt))
      factBuckets match {
        case Some(n) if bucketPathUsable("fact_order_items") =>
          PartitionedMerge.bucketedDeleteReload(spark, goldPath("fact_order_items"),
            items, Seq("order_id"), n)
        case _ =>
          val merged = AtomicTableWriter.read(spark, goldPath("fact_order_items")) match {
            case Some(target) =>
              MergeOps.deleteReload(target, items, items.select("order_id"), Seq("order_id"))
            case None => items
          }
          write(merged, goldPath("fact_order_items"))
      }
    })

  def mergeCustomers(ingestedAt: String): Unit =
    combined("dim_customers").foreach { staged =>
      write(MergeOps.fullRefresh(staged).withColumn("ingested_at", lit(ingestedAt)),
        goldPath("dim_customers"))
    }

  def mergeProducts(ingestedAt: String): Unit = sideBySide(
    () => combined("dim_products").foreach(s =>
      write(s.withColumn("ingested_at", lit(ingestedAt)), goldPath("dim_products"))),
    () => combined("dim_product_variants").foreach(s =>
      write(s.withColumn("ingested_at", lit(ingestedAt)), goldPath("dim_product_variants"))),
    () => mergeInventory(ingestedAt))

  /** W6 → W7: W7 snapshots W6's merged output, so the two stay in order. */
  private def mergeInventory(ingestedAt: String): Unit = {
    // W6 — retail-first inventory pipeline
    val perStore = stores.flatMap { case (st, _) =>
      for {
        inv <- silver(st, "fact_current_inventory")
        vars <- silver(st, "dim_product_variants")
        prods <- silver(st, "dim_products")
      } yield InventoryPipeline.storeInventory(inv, vars, prods, st)
    }
    if (perStore.nonEmpty) {
      val current = perStore.reduce(InventoryPipeline.combine)
        .withColumn("ingested_at", lit(ingestedAt))
      // W6 merges through the same bucketed path as the facts (W1/W2):
      // today the table is dim-sized, but an upsert keyed on sku must
      // scale with the staged batch, not the table — whole-table
      // rewrite survives only as the legacy/opt-out path
      factBuckets match {
        case Some(n) if bucketPathUsable("fact_current_inventory") =>
          PartitionedMerge.bucketedUpsert(spark,
            goldPath("fact_current_inventory"), current, Seq("sku"), n)
        case _ =>
          val merged = AtomicTableWriter.read(spark, goldPath("fact_current_inventory")) match {
            case Some(target) => MergeOps.upsert(target, current, Seq("sku"))
            case None => current
          }
          write(merged, goldPath("fact_current_inventory"))
      }

      // W7 — idempotent snapshot append keyed (sku, snapshot_date)
      val today = LocalDate.now().toString
      val todays = spark.read.parquet(goldPath("fact_current_inventory"))
        .select(col("sku"), col("available"), col("committed"), col("on_hand"),
          col("incoming"), col("reserved"))
        .withColumn("snapshot_date", lit(today))
        .withColumn("ingested_at", lit(ingestedAt))
      val merged2 = AtomicTableWriter.read(spark, goldPath("inventory_snapshot")) match {
        case Some(target) =>
          MergeOps.snapshotAppend(target, todays, Seq("sku", "snapshot_date"))
        case None => todays
      }
      write(merged2, goldPath("inventory_snapshot"), Seq("snapshot_date"))
    }
  }

  private def write(df: DataFrame, path: String, partitionBy: Seq[String]): Unit =
    AtomicTableWriter.overwrite(df, path, partitionBy)

  /** The daily run: parallel staging → gate → serial merges → hook
    * (daily_scheduler.py:150-218). Returns true iff everything
    * succeeded; `onSuccess` models the Power BI refresh trigger (O7). */
  def runDaily(onSuccess: () => Unit = () => ()): Boolean = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4) // O1: pool of 4
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results = try {
      val staging = for ((store, prefix) <- stores; entity <- entities)
        yield Future(Try(stageEntity(store, prefix, entity)))
      staging.map(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown() // non-daemon threads must not pin the JVM
    results.foreach {
      case Failure(e) => System.err.println(s"[orchestrator] staging failed: $e")
      case _ =>
    }
    if (results.exists(_.isFailure)) return false // O2: gate

    val ingestedAt = LocalDateTime.now().format(EtlRunLog.ISO)
    val merges = Seq(
      "orders" -> (() => mergeOrders(ingestedAt)),
      "customers" -> (() => mergeCustomers(ingestedAt)),
      "products" -> (() => mergeProducts(ingestedAt)))
    val ok = merges.forall { case (name, m) => // O3: serial, O6: retried
      Try(Orchestrator.withRetries(s"merge_$name")(m())).isSuccess
    }
    if (ok) onSuccess()
    ok
  }
}
