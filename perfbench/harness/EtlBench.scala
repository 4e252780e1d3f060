package graft.perfbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Orchestrator
import graft.sources.ShopifyClient
import graft.state.EtlRunLog

/** The paper's daily run, driven from outside: watermark → extract
  * through the in-process transport → bronze files → staging → merges →
  * refresh hook → archive. Untraced days call `Orchestrator.runDaily`
  * itself. Traced days follow runDaily's control flow and call
  * `stageEntity`, `merge*`, `withRetries` and the hook, each under its
  * own span and job group; `perfbench/trace.py` splits a stageEntity
  * span into bronze, silver, write and run-log work by the call site of
  * each Spark action. */
object EtlBench {
  val Stores: Seq[(String, String)] = Seq("retail" -> "R-", "wholesale" -> "W-")
  val Entities: Seq[String] = Seq("orders", "customers", "products")
  val Domains: Map[String, String] = Map(
    "retail" -> "acme-retail.myshopify.com",
    "wholesale" -> "acme-wholesale.myshopify.com")
  /** Bronze file shape per (store, entity), covering the three
    * FIXTURES.md §1 variants: the extractor envelope, the raw GraphQL
    * response and a bare edge list (half the edges without `node`). */
  val Shape: Map[(String, String), String] = Map(
    ("wholesale", "customers") -> "graphql",
    ("wholesale", "products") -> "bare").withDefaultValue("envelope")
  val Day0: LocalDate = LocalDate.of(2025, 12, 8)

  def query(entity: String): String =
    s"{ $entity(first: $$first, after: $$after, query: $$query) " +
      "{ edges { node { id updatedAt } } pageInfo { hasNextPage endCursor } } }"

  /** The silver tables `stageEntity` writes for each entity. */
  val SilverTables: Map[String, Seq[String]] = Map(
    "orders" -> Seq("fact_orders", "fact_order_items"),
    "customers" -> Seq("dim_customers"),
    "products" -> Seq("dim_products", "dim_product_variants",
      "fact_current_inventory", "inventory_snapshot"))

  /** SHA-256 of `Orchestrator.runDaily`'s source (its lines from
    * `def runDaily` to the closing brace, trailing blanks stripped) that
    * `EtlEpisode.tracedRun` copies. When runDaily changes, bring the copy
    * in line and pin the new digest. */
  val RunDailyDigest = "0211d81cdf7802e3a1bf4642b56470cfd47d647a4275cb37115cbc7f4435cd41"

  def runDailySource(repo: String): String = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      repo, "src/main/scala/graft/Orchestrator.scala")).asScala.map(_.stripTrailing)
    val from = lines.indexWhere(_.startsWith("  def runDaily("))
    val to = lines.indexWhere(_ == "  }", from)
    require(from >= 0 && to > from, "no Orchestrator.runDaily in the program")
    lines.slice(from, to + 1).mkString("\n")
  }

  /** Fails when the program's runDaily is not the one the traced days
    * copy, so per-layer figures never describe stale control flow. */
  def checkRunDaily(repo: String): Unit = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(runDailySource(repo).getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (digest != RunDailyDigest)
      throw new IllegalStateException(s"Orchestrator.runDaily changed (sha256 $digest, " +
        s"pinned $RunDailyDigest): update EtlEpisode.tracedRun and EtlBench.RunDailyDigest")
  }

  final case class Op(op: String, ok: Boolean, wall_s: Double,
      error_class: Option[String], error_message: Option[String])

  /** Size of every file under `path`, checksum sidecars excepted. */
  def snapshot(path: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(path)).filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getPath -> f.length).toMap
  }

  def dirBytes(path: String): (Long, Int) = {
    val fs = snapshot(path)
    (fs.values.sum, fs.size)
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRec)
    f.delete()
  }
}

/** One independent pipeline instance: its own bronze, silver, gold, run
  * log and archive under `root`, fed by the shared transport. */
final class EtlEpisode(spark: SparkSession, transport: ShopTransport,
    val root: String) {
  import EtlBench._

  val bronzeDir = s"$root/bronze"
  val silverDir = s"$root/silver"
  val goldDir = s"$root/gold"
  val stateDir = s"$root/state"
  val archiveDir = s"$root/archive"
  val orch = new Orchestrator(spark, bronzeDir, silverDir, goldDir, stateDir)
  /** Rate-limit waits the client asked for, recorded instead of slept:
    * the transport is not the rate-limited API. */
  val rateWaitMs = new AtomicLong
  private val clients = Stores.map { case (s, _) =>
    s -> new ShopifyClient(Domains(s), "bench-token", transport,
      pageSize = 250, maxPages = 1000000,
      sleeper = ms => { rateWaitMs.addAndGet(ms); () })
  }.toMap
  /** Written-bytes records of the traced run: (span, bytes, files). */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  /** The current day's spans; [[Spans.off]] outside traced days. */
  @volatile private var spans: Spans = Spans.off

  /** A second pipeline starting from a copy of this one's files. */
  def copyTo(root2: String): EtlEpisode = {
    val from = java.nio.file.Paths.get(root)
    val to = java.nio.file.Paths.get(root2)
    val paths = java.nio.file.Files.walk(from)
    try paths.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally paths.close()
    new EtlEpisode(spark, transport, root2)
  }

  private def timed[T](ops: collection.mutable.Buffer[Op], name: String)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = Try(spans.span(name)(f))
    val dt = (System.nanoTime() - t0) / 1e9
    r match {
      case Success(v) => ops.synchronized(ops += Op(name, ok = true, dt, None, None)); Some(v)
      case Failure(e) =>
        ops.synchronized(ops += Op(name, ok = false, dt, Some(e.getClass.getName),
          Some(Option(e.getMessage).getOrElse("").take(2000))))
        None
    }
  }

  private def writeBronze(store: String, entity: String, edges: Seq[String],
      extractedAt: String): String = {
    val dir = s"$bronzeDir/$store/$entity"
    Shape((store, entity)) match {
      case "envelope" =>
        clients(store).saveToFile(edges, store, entity, dir, extractedAt)
      case shape =>
        val body =
          if (shape == "graphql")
            s"""{"data": {"$entity": {"edges": [${edges.mkString(",")}]}}}"""
          else edges.zipWithIndex.map { case (e, i) =>
            // odd edges lose the `node` wrapper (FIXTURES.md §1)
            if (i % 2 == 1) e.stripPrefix("{\"node\":").stripSuffix("}") else e
          }.mkString("[", ",", "]")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val p = java.nio.file.Paths.get(dir,
          s"${entity}_${extractedAt.replaceAll("[-:T]", "").take(15)}.json")
        java.nio.file.Files.writeString(p, body)
        p.toString
    }
  }

  /** Daily run `k` (0 = backfill) at its logical time; returns the
    * run's record. */
  def day(k: Int, daySpans: Spans): Map[String, Any] = {
    spans = daySpans
    val traced = daySpans ne Spans.off
    val today = Day0.plusDays(k)
    val now = s"${today}T05:45:00Z"
    val extractedAt = s"${today}T05:45:00"
    val ops = collection.mutable.ArrayBuffer.empty[Op]
    val p = s"d$k"
    transport.now = now
    val nodes0 = transport.nodes.get
    val lastId = if (traced) 0L else maxRunId()
    val t0 = System.nanoTime()

    val since = for ((st, _) <- Stores; en <- Entities) yield (st, en) ->
      timed(ops, s"$p/state/$st/$en")(orch.runLog.resolveStartDate(st, en, today))
    val files = since.flatMap { case ((st, en), s) =>
      s.flatMap(d => timed(ops, s"$p/extract/$st/$en") {
        val edges = clients(st).extractIncremental(query(en), en, Some(d.toString))
        writeBronze(st, en, edges, extractedAt)
      }).map(f => (st, en, f))
    }
    val extracted = files.size == Stores.size * Entities.size
    if (extracted) {
      if (traced) tracedRun(p, ops)
      else timed(ops, s"$p/run_daily") {
        if (!orch.runDaily(Orchestrator.powerBiHook(_ => None)))
          throw new IllegalStateException(
            "runDaily returned false; run-log notes: " + failedNotes())
      }
    }
    timed(ops, s"$p/archive") {
      files.foreach { case (_, _, f) =>
        Orchestrator.archiveAndDelete(f, Some(s"$archiveDir/$today"))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spans = Spans.off
    // untraced staging runs inside runDaily: its per-(store, entity)
    // outcome is read back from the run log, outside the timed day
    if (!traced && extracted) ops ++= stagedFromRunLog(p, lastId)
    Map("day" -> k, "wall_s" -> wall, "nodes" -> (transport.nodes.get - nodes0),
      "since" -> since.map { case ((st, en), s) => s"$st/$en" -> s.map(_.toString) }.toMap,
      "bronze_sha256" -> files.map { case (st, en, f) =>
        s"$st/$en" -> sha256(s"$archiveDir/$today/${new File(f).getName}") }.toMap,
      "ops" -> ops.toSeq)
  }

  private def maxRunId(): Long =
    Try(orch.runLog.all().agg(max(col("id"))).head().getLong(0)).getOrElse(0L)

  /** Each staging step of an untraced day, as the run log records it:
    * its outcome, and its time from the RUNNING row to the last status
    * row (the program's own timestamps). */
  private def stagedFromRunLog(p: String, afterId: Long): Seq[Op] = {
    val rows = orch.runLog.all().filter(col("id") > afterId).collect()
    rows.groupBy(_.getAs[Long]("id")).values.map { rs =>
      val at = rs.map(r => LocalDateTime.parse(r.getAs[String]("ingestedAt")) -> r)
        .sortBy(_._1)
      val r = at.last._2
      val wall = java.time.Duration.between(at.head._1, at.last._1).toNanos / 1e9
      val name = s"$p/stage/${r.getAs[String]("storeName")}/${r.getAs[String]("entityName")}"
      if (r.getAs[String]("status") == "SUCCESS") Op(name, ok = true, wall, None, None)
      else Op(name, ok = false, wall, Some("run_log:" + r.getAs[String]("status")),
        Option(r.getAs[String]("notes")))
    }.toSeq.sortBy(_.op)
  }

  private def failedNotes(): String =
    Try(orch.runLog.all().filter(col("status") === "FAILED")
      .select("notes").collect().map(_.getString(0)).distinct.mkString(" | "))
      .getOrElse("unreadable")

  private def sha256(path: String): String = Try {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString
  }.getOrElse("missing")

  /** runDaily's control flow, each call into the program under its own
    * span: `stageEntity` fanned out on a pool of 4, the all-staged gate,
    * the three serial merges under `withRetries`, then the refresh hook.
    * [[EtlBench.checkRunDaily]] fails a traced run when `runDaily`'s
    * source no longer matches this copy. */
  private def tracedRun(p: String, ops: collection.mutable.Buffer[Op]): Unit = {
    val staged = spans.span(s"$p/stage") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = for ((st, prefix) <- Stores; en <- Entities) yield Future {
          val span = s"$p/stage/$st/$en"
          val r = timed(ops, span)(orch.stageEntity(st, prefix, en))
          SilverTables(en).foreach { t =>
            val (bytes, files) = dirBytes(s"$silverDir/staging_${st}_$t")
            writes.add(Map("span" -> s"$span/write", "bytes" -> bytes, "files" -> files))
          }
          r
        }
        fs.map(f => Await.result(f, Duration.Inf))
      } finally pool.shutdown()
    }
    if (staged.exists(_.isEmpty)) return
    val ingestedAt = LocalDateTime.now().format(EtlRunLog.ISO)
    val merges = Seq[(String, () => Unit)](
      "orders" -> (() => orch.mergeOrders(ingestedAt)),
      "customers" -> (() => orch.mergeCustomers(ingestedAt)),
      "products" -> (() => orch.mergeProducts(ingestedAt)))
    val ok = merges.forall { case (name, m) =>
      val before = EtlBench.snapshot(goldDir)
      val attempts = new AtomicLong
      val r = timed(ops, s"$p/merge/$name") {
        Orchestrator.withRetries(s"merge_$name",
          log = s => if (AttemptLine.matches(s)) attempts.incrementAndGet())(m())
      }
      val after = EtlBench.snapshot(goldDir)
      writes.add(Map("span" -> s"$p/merge/$name", "attempts" -> attempts.get,
        "bytes" -> after.collect { case (f, n) if !before.contains(f) => n }.sum,
        "files" -> after.keys.count(f => !before.contains(f))))
      r.isDefined
    }
    if (ok) spans.span(s"$p/hook")(Orchestrator.powerBiHook(_ => None)())
  }

  private val AttemptLine = """\[merge_\w+\] attempt \d+/\d+""".r
}
