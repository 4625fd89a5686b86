package org.apache.spark.sql.graft

import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs and the completed stages that one piece of driver
  * code started: the one listener that the bench, the profiler and the
  * specs that pin job counts measure with. Times are the scheduler's
  * event times, in epoch milliseconds.
  */
final case class QueryCost(jobs: Seq[QueryCost.Job], stages: Seq[QueryCost.Stage])

object QueryCost {
  /** `endMs` is empty for a job still running when the body returned. */
  final case class Job(id: Int, startMs: Long, endMs: Option[Long])

  /** `runTimeMs` is the executors' run time summed over the stage's tasks. */
  final case class Stage(id: Int, name: String, submittedMs: Long, completedMs: Long,
                         runTimeMs: Long, tasks: Int)

  private val drainTimeoutMs = TimeUnit.SECONDS.toMillis(30)

  /** Block until the async listener bus has delivered every event
    * posted so far. A count read before then comes out short, so a bus
    * that has not drained within 30 s raises Spark's
    * `TimeoutException` instead. `waitUntilEmpty` is `private[spark]`,
    * reachable from this package.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(drainTimeoutMs)

  /** Run `body` and return its value with the jobs and stages it
    * started. The bus is drained before the listener is added, so no
    * earlier job is counted, and again after `body` returns, so every
    * job it started is. The listener is removed on any exit, and an
    * exception from `body` propagates unchanged.
    */
  def of[T](spark: SparkSession)(body: => T): (T, QueryCost) = {
    val sc = spark.sparkContext
    drain(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, listener.cost)
    } finally sc.removeSparkListener(listener)
  }

  private final class Listener extends SparkListener {
    private val starts = mutable.LinkedHashMap.empty[Int, Long]
    private val ends = mutable.Map.empty[Int, Long]
    private val stages = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = e.time
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ends(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val completed = si.completionTime.getOrElse(0L)
      stages += Stage(si.stageId, si.name, si.submissionTime.getOrElse(completed), completed,
        Option(si.taskMetrics).fold(0L)(_.executorRunTime), si.numTasks)
    }

    def cost: QueryCost = synchronized {
      QueryCost(starts.toList.map { case (id, t) => Job(id, t, ends.get(id)) }, stages.toList)
    }
  }
}
