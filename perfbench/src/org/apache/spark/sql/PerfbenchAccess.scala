package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal reads the traced run needs: draining the listener
  * bus before spans are analysed, an RDD's operation-scope name ("Scan
  * csv ...", "Exchange", ...), which tells a stage that scans the wide
  * CSV from one that scans parquet, and the query execution an execution
  * end event carries (its planning phases and scan metrics). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopeName(info: org.apache.spark.storage.RDDInfo): String =
    info.scope.map(_.name).getOrElse("")

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
