package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. Both are
  * package-private in Spark, so this shim lives inside its namespace. */
object Access {
  /** Block until every event posted so far has reached every listener,
    * so per-op counters are complete when the op's numbers are read. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The executed query behind an SQL execution-end event (null when
    * the event came from a replayed log rather than this process). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
