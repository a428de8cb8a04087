package org.apache.spark.sql.lakebench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reached from inside Spark's
  * package because both are package-private. */
object Internals {

  /** Catalyst phase durations (analysis, optimization, planning) of the
    * execution that just ended, in milliseconds. Empty when Spark posted
    * the event without its QueryExecution. */
  def phasesMs(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
