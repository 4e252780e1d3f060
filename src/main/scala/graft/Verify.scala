package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (scripts/check.py), and
  * failures.json ({query: reason}, `{}` when every query ran). */
object Verify {
  /** JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in hand-written oracle SQL or in an
    * exception message would otherwise make the reader's json.load
    * fail and silently zero the artifact. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Flat JSON object of string values, in the given order. */
  private[graft] def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** The reason a failure artifact records: `<Class>: <first line of
    * message>`. */
  private[graft] def failureReason(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(m => s"${e.getClass.getName}: $m")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: GRAFT_VERIFY_ONLY=q153,q154 runs just those queries
    // (comma-separated name prefixes); unset = the full battery
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) =>
        ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = failureReason(e)
      }
    }
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObject(failures))
    val oracleOut = only match {
      case Some(ps) => SparkEntry.oracleSql.filter { case (n, _) =>
        ps.exists(n.startsWith) }
      case None => SparkEntry.oracleSql
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracleOut))
    spark.stop()
  }
}
