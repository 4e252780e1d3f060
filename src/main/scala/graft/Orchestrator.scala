package graft

import java.time.{LocalDate, LocalDateTime}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
          log(s"[$jobName] attempt $i failed: ${Verify.failureReason(e)}")
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
  * Each gold table has one write path. Tables that are replaced whole
  * (the silver batches and W3–W5) swap atomically through
  * [[graft.sources.AtomicTableWriter]]. Tables that merge into existing
  * rows go through [[graft.operators.PartitionedMerge]], which rewrites
  * only the partitions the staged batch touches: W1, W2 and W6 are
  * hash-bucketed on their merge key (32 buckets, pinned in a table
  * sidecar; a mismatched count fails fast), and W7 is
  * partitioned by `snapshot_date`, so a day overwrites only its own
  * snapshot. `bucket` is an internal layout column — read gold facts
  * through [[goldTable]], which hides it.
  *
  * Each daily batch is computed once. Staging parses an entity's bronze
  * files once, into a frame persisted for the call, and writes every
  * silver table and the watermark from it; a merge persists its staged
  * batch likewise (see [[graft.operators.PartitionedMerge]]). Silver is
  * read with the schemas [[graft.silver.Flatten.silverSchemas]] derives
  * from the flatteners, and merged gold with its staged frame's schema,
  * so no job infers a schema from the files.
  *
  * The thread pools exist to overlap independent *jobs* (each Spark
  * action is already cluster-parallel inside); SparkSession is
  * thread-safe so the reference's connection-per-call dance
  * (daily_scheduler.py:23) has no equivalent here.
  *
  * Every Spark call of the daily run goes through [[spark]], a session
  * of the run's own, derived once from the caller's with `newSession()`
  * (same context, cache and builder settings), that runs interpreted:
  * `spark.sql.codegen.wholeStage=false` and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`. Compiling generated code
  * pays off on large inputs (Spark SQL, SIGMOD 2015); a daily batch is
  * 10²–10⁴ rows, and a day plans about 200 distinct generated classes
  * (whole-stage iterators, projections, orderings, column accessors)
  * against a codegen cache of 100 (`spark.sql.codegen.cache.maxEntries`,
  * static), so a compiled run recompiled all of them every day: 182
  * classes in the `etl_delta` benchmark's backfill, 199 and 200 on its
  * two delta days, 4.1 s of Janino per 9.5–10.5 s day. Interpreted, the
  * same days compile 17, 2 and 0 (only paths without an interpreted
  * twin, such as the cached-batch column accessors). `factoryMode` is an
  * internal key: its effect is pinned by OrchestratorSpec against the
  * Spark version `build.sbt` fixes. The caller's session is never
  * changed; [[goldTable]], a consumer reader, reads through it.
  */
final class Orchestrator(caller: SparkSession, bronzeDir: String,
                         silverDir: String, goldDir: String, stateDir: String) {

  /** The daily run's own interpreted session (see the class doc). */
  private[graft] val spark: SparkSession = {
    val s = caller.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  val runLog = new EtlRunLog.Store(spark, s"$stateDir/etl_run_log")
  private val stores = Seq("retail" -> "R-", "wholesale" -> "W-")
  private val entities = Seq("orders", "customers", "products")
  /** Hash buckets of the bucketed gold tables (W1, W2, W6). */
  private val FactBuckets = 32

  private def silverPath(store: String, table: String) = s"$silverDir/staging_${store}_$table"
  private def goldPath(table: String) = s"$goldDir/$table"

  /** PHASE 1 — stage one (store, entity): bronze JSON → flatten →
    * conformed silver parquet; returns the batch watermark
    * (daily_scheduler.py:100-148). The bronze batch is parsed once into
    * a frame persisted for the call: every silver table and the
    * watermark read it. */
  def stageEntity(store: String, prefix: String, entity: String): Option[String] = {
    val now = LocalDateTime.now()
    val runId = runLog.logStart(store, entity, now)
    val result = Try {
      val nodes = RawReader.readJson(spark, Flatten.nodeSchema(entity), entity,
        s"$bronzeDir/$store/$entity").persist()
      try {
        Flatten.silverTables(entity, nodes, prefix, now.format(EtlRunLog.ISO),
          now.toLocalDate.toString).foreach { case (table, df) => write(df, silverPath(store, table)) }
        Flatten.watermark(nodes)
      } finally nodes.unpersist()
    }
    result match {
      case Success(wm) =>
        runLog.logStagingSuccess(runId, wm, LocalDateTime.now()); wm
      case Failure(e) =>
        runLog.logFailure(runId, Verify.failureReason(e), LocalDateTime.now()); throw e
    }
  }

  private def write(df: DataFrame, path: String): Unit =
    AtomicTableWriter.overwrite(df, path)

  private lazy val silverSchemas = Flatten.silverSchemas(spark)

  private def silver(store: String, table: String): Option[DataFrame] =
    AtomicTableWriter.read(spark, silverPath(store, table), silverSchemas(table))

  /** Gold-table reader for consumers, in the caller's session: hides
    * internal layout columns (the hash `bucket` partition column on
    * bucketed fact tables). */
  def goldTable(table: String): Option[DataFrame] = {
    val path = new Path(goldPath(table))
    Option.when(path.getFileSystem(caller.sparkContext.hadoopConfiguration).exists(path))(
      caller.read.parquet(path.toString).drop("bucket"))
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
      PartitionedMerge.bucketedUpsert(spark, goldPath("fact_orders"),
        staged, Seq("order_id"), FactBuckets)
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
      PartitionedMerge.bucketedDeleteReload(spark, goldPath("fact_order_items"),
        items, Seq("order_id"), FactBuckets)
    })

  /** W3; W4 and W5 in [[mergeProducts]] — full refresh (`TRUNCATE` +
    * insert): the staged frame replaces the gold table whole. */
  def mergeCustomers(ingestedAt: String): Unit =
    combined("dim_customers").foreach { staged =>
      write(staged.withColumn("ingested_at", lit(ingestedAt)), goldPath("dim_customers"))
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
      // scale with the staged batch, not the table
      PartitionedMerge.bucketedUpsert(spark,
        goldPath("fact_current_inventory"), current, Seq("sku"), FactBuckets)

      // W7 — idempotent snapshot append keyed (sku, snapshot_date): a
      // same-day rerun upserts today's partition, older days stay as
      // written (run_logs.txt:455-461)
      val today = LocalDate.now().toString
      val todays = spark.read.schema(current.schema).parquet(goldPath("fact_current_inventory"))
        .select(col("sku"), col("available"), col("committed"), col("on_hand"),
          col("incoming"), col("reserved"))
        .withColumn("snapshot_date", lit(today))
        .withColumn("ingested_at", lit(ingestedAt))
      PartitionedMerge.upsert(spark, goldPath("inventory_snapshot"), todays,
        Seq("sku", "snapshot_date"), "snapshot_date")
    }
  }

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
