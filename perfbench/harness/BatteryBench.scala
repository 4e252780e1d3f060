package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query battery, driven as `graft.Bench` drives it: each query is
  * forced by `count()` in one warm session, and the session's cached
  * blocks are dropped after each query. */
object BatteryBench {
  type Q = (SparkSession, String) => DataFrame

  val Tiers: Seq[(String, Map[String, Q])] = Seq(
    "analytics" -> AnalyticsQueries.queries, "etl" -> EtlQueries.queries,
    "hygiene" -> HygieneQueries.queries, "mining" -> MiningQueries.queries,
    "sketch" -> SketchQueries.queries, "text" -> TextQueries.queries,
    "vector" -> VectorQueries.queries, "warehouse" -> WarehouseQueries.queries)

  /** The GraphOps-backed queries, fixed by name. */
  val Graph: Set[String] = Set("q93_pagerank", "q128_communities",
    "q134_triangles", "q147_bfs_depth", "q155_kcore", "q170_ppr",
    "q173_hyperanf", "q175_hits", "q180_modularity", "q184_sssp",
    "q210_louvain", "q212_louvain_coarse", "q218_link_prediction",
    "q246_louvain_fixpoint", "q247_textrank")

  def tierOf(name: String): String =
    Tiers.collectFirst { case (t, qs) if qs.contains(name) => t }
      .getOrElse(throw new NoSuchElementException(s"no query $name"))

  def query(name: String): Q =
    Tiers.collectFirst { case (_, qs) if qs.contains(name) => qs(name) }
      .getOrElse(throw new NoSuchElementException(s"no query $name"))

  /** Queries that read the shared community assignments. */
  val AssignmentConsumers: Set[String] =
    Set("q180_modularity", "q212_louvain_coarse", "q246_louvain_fixpoint")

  /** Bench's set-up: one small query to load classes and compile, then
    * the shared graph (and, when a consumer runs, the community
    * assignments) built into the durable cache, so no query in the pass
    * pays for them. */
  def prepare(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    EtlQueries.queries("q6_forecast_revenue")(spark, dir).count()
    WarehouseQueries.spGraph(spark, dir)
    if (names.exists(AssignmentConsumers)) {
      WarehouseQueries.spLouvainL1(spark, dir).count()
      WarehouseQueries.spLpa3(spark, dir).count()
    }
  }

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One pass over `names`, each query under its own span, forced by
    * `count()`. */
  def pass(spark: SparkSession, dir: String, names: Seq[String], spans: Spans,
      prefix: String): Seq[Map[String, Any]] =
    run(spark, names, "rows", name =>
      spans.span(s"$prefix/q/$name")(query(name)(spark, dir).count()))

  /** The verification pass: write each query's result as parquet with the
    * DuckDB oracle SQL beside it, the layout `graft.Verify` writes and
    * `scripts/check.py` compares. */
  def dump(spark: SparkSession, dir: String, names: Seq[String],
      out: String): Seq[Map[String, Any]] = {
    val ops = run(spark, names, "written", { name =>
      query(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      true
    })
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Json.write(s"$out/oracle_sql.json", oracles)
    ops
  }

  private def run(spark: SparkSession, names: Seq[String], result: String,
      f: String => Any): Seq[Map[String, Any]] =
    names.map { name =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(f(name))
      val dt = (System.nanoTime() - t0) / 1e9
      release(spark)
      val base = Map("op" -> name, "tier" -> tierOf(name), "graph" -> Graph(name),
        "wall_s" -> dt, "ok" -> r.isSuccess)
      r.fold(e => base ++ Map("error_class" -> e.getClass.getName,
        "error_message" -> Option(e.getMessage).getOrElse("").take(2000)),
        v => base + (result -> v))
    }
}
