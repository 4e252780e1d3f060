package graft.queries

import graft.GraftSession
import graft.operators.GraphOps

/** Ad-hoc community-tier profiler (test scope; not shipped): times the
  * shared prep and each graph query warm, separating prep cost from
  * sweep cost. Usage: Test/runMain graft.queries.GraphProf [sfDir]. */
object GraphProf {
  def main(a: Array[String]): Unit = {
    val d = if (a.nonEmpty) a(0) else "/root/testdata/sf0.1"
    val s = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    t("prep(cold)") { WarehouseQueries.spGraph(s, d).dir.count() }
    val g = t("prep(warm)") { WarehouseQueries.spGraph(s, d) }
    println(s"[prof] n=${g.n} m=${g.m}")
    t("lp3-a") { GraphOps.labelPropagation(g, 3).count() }
    t("lp3-b") { GraphOps.labelPropagation(g, 3).count() }
    t("lp1") { GraphOps.labelPropagation(g, 1).count() }
    t("louvain2") { GraphOps.louvainLevel(g, 2).count() }
    t("louvain2x2") { GraphOps.louvainTwoLevel(g, 2, 2).count() }
    t("fixpoint4") { GraphOps.louvainLevels(g, 2, 4).count() }
    s.stop()
  }
}
