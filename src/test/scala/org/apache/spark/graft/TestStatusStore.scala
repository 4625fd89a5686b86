package org.apache.spark.graft

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.execution.ui.SQLAppStatusStore
import org.apache.spark.status.api.v1.StageStatus

/** Test-only reader of Spark's private[spark] status store, the
  * driver-side history of jobs, stages and SQL executions that the UI
  * and the REST API serve. It is kept with the UI off too.
  */
object TestStatusStore {
  final case class Held(jobs: Int, stages: Int, executions: Int)

  /** The completed jobs, stages and SQL executions the store holds. */
  def completed(sc: SparkContext): Held = {
    val store = sc.statusStore
    Held(
      store.jobsList(null).count(_.status != JobExecutionStatus.RUNNING),
      store.stageList(null).count(s =>
        s.status != StageStatus.ACTIVE && s.status != StageStatus.PENDING),
      new SQLAppStatusStore(store.store, None).executionsList()
        .count(_.completionTime.isDefined))
  }
}
