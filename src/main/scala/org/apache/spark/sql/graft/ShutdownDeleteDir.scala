package org.apache.spark.sql.graft

/** A fresh directory `root/prefix-<uuid>` that Spark's shutdown-delete
  * hook removes, with everything under it, when the JVM exits. Lives
  * under org.apache.spark because `Utils` is `private[spark]`. */
object ShutdownDeleteDir {
  def create(root: String, prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(root, prefix)
}
