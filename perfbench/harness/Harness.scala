package graft.perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: `Harness <config.json>` runs one workload
  * in this fresh JVM and writes its raw record (unit wall times, every
  * operation with its failure reason, and in a traced run every span
  * and listener event) to the config's `out` path. `perfbench/run.py`
  * generates the inputs, starts this JVM, checks the outputs and turns
  * the record into metrics. */
object Harness {
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def vmHwmKb(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
  }.getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def since0 = (System.nanoTime() - t0) / 1e9
    val cfg = Json.read(args(0))
    val workload = cfg.get("workload").asText
    val traced = cfg.get("trace").asBoolean
    val seconds = cfg.get("seconds").asDouble
    val minUnits = cfg.get("min_units").asInt
    val work = cfg.get("work").asText
    val spark = session(cfg.get("cores").asInt, work)
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "traced" -> traced,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString)

    // the measured units: daily runs, or battery passes. Another unit
    // starts only if it should end within `seconds`.
    val units = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def more(m0: Long): Boolean = units.size < minUnits || {
      val el = (System.nanoTime() - m0) / 1e9
      el + el / units.size <= seconds
    }

    workload match {
      case "etl_backfill" | "etl_delta" =>
        if (traced) EtlBench.checkRunDaily(cfg.get("repo").asText)
        val transport = new ShopTransport(cfg.get("catalog").asText, EtlBench.Domains)
        var n = 0
        def episode(): EtlEpisode = { n += 1; new EtlEpisode(spark, transport, s"$work/ep$n") }
        val roots = scala.collection.mutable.ArrayBuffer.empty[String]
        /** Run `days` under a tracer and record what the traced days did. */
        def traceDays(ep: EtlEpisode)(days: Tracer => Seq[Map[String, Any]]): Unit = {
          val (wait0, pages0) = (ep.rateWaitMs.get, transport.pages.get)
          val tr = new Tracer(spark)
          out("traced_units") = days(tr)
          out("trace") = tr.finish()
          out("writes") = ep.writes.asScala.toSeq
          out("rate_wait_s") = (ep.rateWaitMs.get - wait0) / 1e3
          out("pages") = transport.pages.get - pages0
          out("state_files") = EtlBench.dirBytes(s"${ep.stateDir}/etl_run_log")._2
          roots += ep.root
        }
        if (workload == "etl_backfill") {
          // each unit is a backfill into a new, empty pipeline; the
          // first one in this fresh JVM is the daily run users get
          out("setup_s") = Seq(since0)
          val m0 = System.nanoTime()
          var last: Option[EtlEpisode] = None
          while (more(m0)) {
            last.foreach(e => EtlBench.deleteRec(new File(e.root)))
            val ep = episode()
            units += ep.day(0, Spans.off)
            last = Some(ep)
          }
          roots ++= last.map(_.root)
          if (traced) {
            val ep = episode()
            traceDays(ep)(tr => Seq(ep.day(0, tr)))
          }
        } else {
          // set-up is a backfill; each unit is the next daily run over
          // the same gold and run log. A traced run copies the pipeline
          // after the backfill and traces the same days on the copy.
          val ep = episode()
          out("backfill") = ep.day(0, Spans.off)
          out("setup_s") = Seq(since0)
          val twin = if (traced) Some(ep.copyTo(s"$work/ep-traced")) else None
          val m0 = System.nanoTime()
          while (more(m0)) units += ep.day(units.size + 1, Spans.off)
          roots += ep.root
          twin.foreach(t => traceDays(t)(tr => units.indices.map(i => t.day(i + 1, tr))))
        }
        out("check_roots") = roots.toSeq

      case "battery" =>
        val dir = cfg.get("data").asText
        // every k-th query of each tier and every j-th graph query, by name
        def every(names: Iterable[String], k: Int) =
          names.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % k == 0 => n }
        val names = BatteryBench.Tiers.flatMap { case (_, qs) =>
          every(qs.keys.filterNot(BatteryBench.Graph), cfg.get("sample_every").asInt)
        } ++ every(BatteryBench.Graph, cfg.get("graph_every").asInt)
        out("queries") = names
        val mat = graft.operators.Materialize
        val (c0, s0) = (mat.coldBuildCount, mat.coldBuildSecs)
        // set-up: the prep, then the verification pass, which also builds
        // the durable indexes the queries use and loads their classes
        BatteryBench.prepare(spark, dir, names)
        val v0 = System.nanoTime()
        val checked = BatteryBench.dump(spark, dir, names, cfg.get("dump").asText)
        out("verify") = Map("wall_s" -> (System.nanoTime() - v0) / 1e9, "ops" -> checked)
        out("setup_s") = Seq(since0)
        val m0 = System.nanoTime()
        while (more(m0)) {
          val p0 = System.nanoTime()
          val ops = BatteryBench.pass(spark, dir, names, Spans.off, s"p${units.size + 1}")
          units += Map("wall_s" -> (System.nanoTime() - p0) / 1e9, "ops" -> ops)
        }
        // durable-cache builds of the whole run: the prep and the passes
        out("materialize") = Map("cold_builds" -> (mat.coldBuildCount - c0),
          "cold_build_s" -> (mat.coldBuildSecs - s0))
        if (traced) {
          val tr = new Tracer(spark)
          val p1 = System.nanoTime()
          val tops = BatteryBench.pass(spark, dir, names, tr, s"p${units.size + 1}")
          out("traced_units") = Seq(Map("wall_s" -> (System.nanoTime() - p1) / 1e9,
            "ops" -> tops))
          out("trace") = tr.finish()
        }
        out("cache_bytes") = EtlBench.dirBytes(
          s"${System.getProperty("java.io.tmpdir")}/graft-shared")._1
    }
    out("units") = units.toSeq
    out("rss_hwm_kb") = vmHwmKb()
    Json.write(cfg.get("out").asText, out)
    spark.stop()
  }
}
