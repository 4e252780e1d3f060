package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; Spark
  * startup dominates otherwise). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sql = spark.sqlContext
}

object SparkSpec {
  /** One root per JVM under `java.io.tmpdir` for every directory a spec
    * creates; Spark's shutdown-delete hook removes it, with everything
    * under it, when the JVM exits. */
  private lazy val tempRoot: java.nio.file.Path =
    org.apache.spark.sql.graft.ShutdownDeleteDir
      .create(sys.props("java.io.tmpdir"), "graft-test").toPath

  /** A fresh directory `<prefix><random>` under this JVM's temp root:
    * the one way a spec makes a scratch directory. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tempRoot, prefix)

  lazy val session: SparkSession = {
    // scratch outside the checkout: Derby's derby.log and the SQL
    // warehouse dir default to CWD and left turds in the repo root
    // after every `sbt test` (r14 verdict housekeeping ask)
    val scratch = tempDir("graft-test-scratch")
    System.setProperty("derby.system.home", scratch.toString)
    val s = GraftSession.builder(4, scratch.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
