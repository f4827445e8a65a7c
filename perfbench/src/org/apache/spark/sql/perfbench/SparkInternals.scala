package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark reads. They live in this package
  * only because Spark scopes them `private[spark]` / `private[sql]`; the
  * engine itself is never touched. */
object SparkInternals {

  /** Block until every event posted so far has reached every listener,
    * so counters read afterwards cover exactly the work done before. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Identity of the planning tracker of the SQL execution that ended. */
  def trackerId(e: SparkListenerSQLExecutionEnd): Option[Int] =
    Option(e.qe).map(qe => System.identityHashCode(qe.tracker))

  /** Catalyst phases of the SQL execution that just ended, as
    * (phase, startEpochMs, endEpochMs): analysis, optimization, planning. */
  def catalystPhases(e: SparkListenerSQLExecutionEnd): Seq[(String, Long, Long)] =
    Option(e.qe).toSeq.flatMap(qe => phases(qe.tracker))

  /** The analysis phase of a constructed DataFrame: Spark analyses it
    * eagerly, outside any SQL execution, so no listener event reports it. */
  def analysis(df: DataFrame): Option[(Int, Long, Long)] = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      val t = d.queryExecution.tracker
      t.phases.get(QueryPlanningTracker.ANALYSIS)
        .map(p => (System.identityHashCode(t), p.startTimeMs, p.endTimeMs))
    case _ => None
  }

  private def phases(t: QueryPlanningTracker): Seq[(String, Long, Long)] =
    t.phases.toSeq.map { case (name, p) => (name, p.startTimeMs, p.endTimeMs) }
}
