package graft

/** Ad-hoc single-query timing harness (test scope only; not part of the
  * library). Usage: Test/runMain graft.QTimer <query> [sfDir] [passes]. */
object QTimer {
  def main(a: Array[String]): Unit = {
    val name = a(0)
    val dir = if (a.length > 1) a(1) else "/root/testdata/sf0.1"
    val passes = if (a.length > 2) a(2).toInt else 3
    val s = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    for (i <- 1 to passes) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(s, dir).count()
      println(f"pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s  rows=$n")
    }
    s.stop()
  }
}
