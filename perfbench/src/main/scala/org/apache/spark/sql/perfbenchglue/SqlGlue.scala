package org.apache.spark.sql.perfbenchglue

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the `private[sql]` QueryExecution carried by an execution-end
  * event; lives in this package only to satisfy the access modifier. */
object SqlGlue {
  /** Catalyst analysis + optimization + physical planning time of the
    * execution, from its QueryPlanningTracker; 0 when the event carries
    * no QueryExecution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values
      .map(p => p.endTimeMs - p.startTimeMs).sum).getOrElse(0L)
}
