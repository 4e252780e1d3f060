package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Starts its session from
  * `GraftSession.builder`, like `Verify` and the specs. Each
  * query is forced with a count() action; times include plan + execute
  * but share one warm session/JVM.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) in
  * round-robin passes and reports the PER-QUERY MEDIAN — single-shot
  * times on a shared machine carry ±2× noise, medians don't. `value`
  * (and its alias `median`) is the sum of per-query medians. A failed
  * query still reads −1; its first failure, and any graph or assign
  * prep crash, lands in the line's `errors` block as
  * `{"<name>": "<Class>: <first line of message>"}`. */
object Bench {
  /** Parse the `queries` map out of a previously committed bench JSON
    * line. No JSON dependency — the artifact is generated by this very
    * object, single-line, flat; exposed for the spec. */
  private[graft] def parsePriorQueries(txt: String): Map[String, Double] = {
    val block = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(block)
      .map(g => g.group(1) -> g.group(2).toDouble).toMap
  }

  /** The outlier rule for the post-battery probe: queries whose
    * battery median moved >`ratio` vs the prior committed capture,
    * worst movers first, capped; crashed medians (−1) and queries
    * absent from the prior capture never flag. */
  private[graft] def flagOutliers(results: Seq[(String, Double)],
      prior: Map[String, Double], ratio: Double = 1.3,
      cap: Int = 16): Seq[(String, Double)] =
    results
      .filter { case (n, v) =>
        prior.get(n).exists(p => p > 0 && v > 0 && v / p > ratio) }
      .sortBy { case (n, v) => -(v / prior(n)) }
      .take(cap)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // provenance gate: a contended box inflates every query ~uniformly
    // (round 8/9 lesson: load_avg 4.17 produced phantom regressions on
    // untouched queries). Sample the 1-min load BEFORE the run; past
    // the threshold the run is tagged contended and must NOT overwrite
    // the canonical committed bench_full.json.
    val loadStart = try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
    val contendedThreshold = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "3.0").toDouble
    val contended = loadStart > contendedThreshold
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // machine-speed anchor: a fixed CPU-bound workload timed before the
    // run, so a slower/throttled box is detectable from the artifact
    // alone (round-13 lesson: a uniform ~25% cross-round drift on
    // unchanged queries was unattributable without one). Single-thread
    // xorshift measures per-core speed; the 32-thread variant catches
    // lost effective parallelism (cgroup quota, SMT change). Constants
    // chosen for ~0.5 s each on the round-13 box.
    def xorshiftMix(iters: Long, seed: Long): Long = {
      var x = seed; var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      x
    }
    val anchorIters = 800000000L
    val a0 = System.nanoTime()
    val sink1 = xorshiftMix(anchorIters, 0x9E3779B97F4A7C15L)
    val anchorSec = (System.nanoTime() - a0) / 1e9
    // each thread's result is ACCUMULATED into a shared sink and folded
    // into the same elision guard as sink1 — a side-effect-free loop is
    // eligible for JIT dead-code elimination, which would let
    // anchor_mt_sec read near-zero and silently defeat the drift
    // detector it exists for
    val sinkMt = new java.util.concurrent.atomic.AtomicLong(0L)
    val am0 = System.nanoTime()
    val threads = (0 until 32).map { t =>
      val th = new Thread(() =>
        { sinkMt.addAndGet(xorshiftMix(anchorIters, t + 1L)); () })
      th.start(); th
    }
    threads.foreach(_.join())
    val anchorMtSec = (System.nanoTime() - am0) / 1e9
    if ((sink1 ^ sinkMt.get()) == 42L) System.err.println("") // un-elidable

    // warm the JVM/codegen once on the smallest query so per-query times
    // measure the engine, not first-call class loading
    try SparkEntry.queries.get("q6_forecast_revenue")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }

    // pre-warm the shared community-tier graph prep
    // (Materialize.shared) and report its build cost as its own
    // field: q128 is alphabetically first in the tier and was silently
    // paying the whole sort+zipWithIndex+encode build (r13 verdict #4),
    // so Bench owns the warm explicitly.
    val g0 = System.nanoTime()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def failed(name: String, e: Throwable): Double = {
      errors.getOrElseUpdate(name, Verify.failureReason(e))
      -1.0
    }
    val graphPrepSec = try {
      graft.queries.WarehouseQueries.spGraph(spark, sfDir)
      (System.nanoTime() - g0) / 1e9
    } catch { case e: Throwable => failed("graph_prep", e) }

    // dev loop: SPARK_GRAFT_BENCH_ONLY=q120,q121 times just those
    // queries (comma-separated name prefixes); unset = the full battery
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) }

    // pre-warm the shared community ASSIGNMENTS the same way and
    // report the cost as its own field: q212/q246 start from the
    // level-1 Louvain sweep and q180 audits q128's propagation — all
    // served from shared materializations, so their build (one
    // node-sized sweep each) must land in the artifact, not hide
    // inside whichever query runs first. A BENCH_ONLY subset that
    // selects none of the three consumers skips the warm (two
    // node-sized sweeps — pure dev-loop drag there) and reports -2
    // ("deliberately skipped") — DISTINCT from -1 ("prep crashed"),
    // so an artifact diff can tell an intentional skip from a failed
    // build (r16 advice); parsers skip both (< 0).
    val assignConsumers = Set("q180_modularity", "q212_louvain_coarse",
      "q246_louvain_fixpoint")
    val assignPrepSec =
      if (!names.exists(n => assignConsumers.contains(n._1))) -2.0
      else {
        val ga0 = System.nanoTime()
        try {
          graft.queries.WarehouseQueries.spLouvainL1(spark, sfDir).count()
          graft.queries.WarehouseQueries.spLpa3(spark, sfDir).count()
          (System.nanoTime() - ga0) / 1e9
        } catch { case e: Throwable => failed("assign_prep", e) }
      }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to runs) {
      for ((name, fn) <- names) {
        // label jobs (guide §1.5) so event logs / the UI attribute every
        // stage to its query; thread-local, cleared after the action
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable => failed(name, e); false }
        spark.sparkContext.setJobDescription(null)
        val dt = (System.nanoTime() - t0) / 1e9
        // measurement hygiene: queries must not be timed against earlier
        // queries' lingering block-manager memory. clearCache() drops
        // SQL-cache entries (persist mode); localCheckpoint blocks
        // (Materialize.once's default) are registered RDDs but NOT in
        // the SQL cache — they normally free when the plan is GC'd,
        // which visibly skewed late-alphabet queries. The finished
        // query's plan is dead here, so unpersist them explicitly.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // a crashing query must NOT read as a fast one: poison its median
        samples(name) = samples(name) :+ (if (ok) dt else -1.0)
      }
      // belt-and-braces: clearCache() after each query drops the
      // persist()-mode intermediates; a GC hint between passes also
      // releases any stray block-manager references
      System.gc()
    }
    def median(xs: Vector[Double]): Double =
      if (xs.exists(_ < 0)) -1.0
      else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    val results = names.map { case (name, _) => name -> median(samples(name)) }

    // canonical landing spot, computed early so the outlier probe can
    // read the PREVIOUS committed capture of the same artifact:
    // scale-aware default target — only a full-battery run at the
    // canonical bench SF (sf0.1) may land on bench_full.json; other
    // SFs and BENCH_ONLY subsets get their own names — an ad-hoc
    // sf0.001 smoke must never clobber the committed sf0.1 numbers
    val sfName = new java.io.File(sfDir).getName
    val defaultTarget =
      if (only.isDefined) s"bench_subset.$sfName.json"
      else if (sfName == "sf0.1") "bench_full.json"
      else s"bench_$sfName.json"
    val target = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", defaultTarget))

    // self-exonerating outlier probe (r14 verdict: within-battery
    // GC/JIT state makes single battery medians a noisy per-query
    // instrument — q213 read 4.41 s in the r14 battery but 1.11 s
    // isolated, code unchanged). Any query whose battery median moved
    // >1.3x vs the previous committed capture is re-run here, in this
    // same JVM AFTER the battery, and BOTH numbers land in the JSON
    // ("queries" = battery median, "probes" = re-probe median), so a
    // position artifact and a real regression are distinguishable from
    // the artifact alone. Bounded to the 16 worst movers.
    val prior: Map[String, Double] =
      try parsePriorQueries(java.nio.file.Files.readString(target))
      catch { case _: Throwable => Map.empty }
    val flagged = flagOutliers(results, prior)
    val probes = flagged.map { case (name, _) =>
      val fn = SparkEntry.queries(name)
      System.gc()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable => failed(name, e); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        if (ok) dt else -1.0
      }.toVector
      name -> median(ts)
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val probeJson = probes.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum // failures drag the total negative — visible
    // run-environment provenance: a contended box inflates every query
    // ~uniformly (seen round 8: +50% on untouched queries); recording
    // the 1-min load average lets round-over-round comparisons separate
    // machine noise from code regressions
    val load = try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
    val line =
      f"""{"metric":"total","value":$total%.3f,"median":$total%.3f,"runs":$runs,"load_avg":$load%.2f,"load_avg_start":$loadStart%.2f,"contended":$contended,"anchor_sec":$anchorSec%.3f,"anchor_mt_sec":$anchorMtSec%.3f,"graph_prep_sec":$graphPrepSec%.3f,"assign_prep_sec":$assignPrepSec%.3f,"cpus":"$cpus","unit":"sec","queries":$qs,"probes":$probeJson,"errors":${Verify.jsonObject(errors)},"sf":"$sfDir"}"""
    println(line)
    // durability: harness tails can truncate the printed line, losing
    // the early-alphabet per-query times — also land the complete JSON
    // in the repo so round-over-round comparisons cover every query.
    // Publication gate: a contended run may never REPLACE an existing
    // clean bench_full.json — it lands beside it as *.contended.json
    // (still committed, still auditable, never the canonical number).
    try {
      val dest =
        if (contended && java.nio.file.Files.exists(target))
          target.resolveSibling(
            target.getFileName.toString.stripSuffix(".json") + ".contended.json")
        else target
      java.nio.file.Files.writeString(dest, line + "\n")
      if (dest != target)
        System.err.println(s"[bench] load_avg_start $loadStart > " +
          s"$contendedThreshold: wrote $dest, kept clean $target")
    } catch { case _: Throwable => () } // best-effort; stdout stays canonical
    spark.stop()
  }
}
