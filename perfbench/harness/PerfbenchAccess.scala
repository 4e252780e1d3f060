package org.apache.spark {
  /** Waiting until every listener has seen every event before the trace
    * is read. */
  object PerfbenchAccess {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution a live SQL-execution-end event carries, with
    * its planning tracker. */
  object PerfbenchSqlAccess {
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
      Option(e.qe)
  }
}
