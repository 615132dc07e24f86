package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the planning phases of the query a SQL execution ran. The
  * event's query is package-private to Spark SQL, hence this bridge. */
object PerfbenchSql {
  private val phases = Set("analysis", "optimization", "planning")

  def planningNs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.collect {
      case (p, s) if phases(p) => s.durationMs * 1000000L
    }.sum).getOrElse(0L)
}
