package graft

/** Dev tool (test scope): dump `.explain("formatted")` output for the
  * queries touched in optimization round 17 into `plans/r17/`.
  * Run: `Test/runMain graft.DumpR17Plans <before|after> [sfDir] [q1,q2,...]`
  * — files land as plans/r17/<query>_<tag>.txt. Plans are the EXECUTED
  * ones (collect() first, so AQE has finalized) to match what the bench
  * actually runs. */
object DumpR17Plans {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else sys.env.get("R17_PLANS").map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(names.nonEmpty, "pass query names as arg 3 or R17_PLANS env")
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans/r17")
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize AQE so the printed plan is the executed one
      val formatted = org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted") match {
        case m => df.queryExecution.explainString(m)
      }
      val body = s"# $name — $tag (sfDir=$dir)\n\n" + formatted
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(s"wrote plans/r17/${name}_$tag.txt")
    }
    spark.stop()
  }
}
