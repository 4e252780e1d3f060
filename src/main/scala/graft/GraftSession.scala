package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: `Bench`, `Verify` and the specs all start
  * their session here, so they plan under the same settings.
  *
  * Tuned for the driver's `local[32]` single-JVM harness but every knob is
  * chosen to also be the right default on a real multi-executor cluster:
  * AQE re-plans shuffles at runtime (partition coalescing + skew-join
  * splitting), shuffle partitions start at one per core (on a large
  * cluster AQE coalesces from a higher initial number), and broadcast
  * joins stay enabled for dimension tables. Each caller picks its core
  * count, its warehouse dir and its log level.
  */
object GraftSession {
  /** Default warehouse dir: Spark's own default is CWD/spark-warehouse,
    * which would litter the checkout. */
  private val defaultWarehouse: String = s"${sys.props("java.io.tmpdir")}/graft-warehouse"

  def builder(cores: Int, warehouse: String = defaultWarehouse): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
}
