package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase durations of a finished SQL execution; the event's
  * QueryExecution is package-private to Spark SQL.
  */
object GraftBenchPhases {
  def of(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)
}
