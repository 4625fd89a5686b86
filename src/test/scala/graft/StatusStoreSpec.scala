package graft

import org.apache.spark.graft.TestStatusStore
import org.apache.spark.sql.graft.QueryCost
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** A graft session runs without a UI, so Spark's status store, the
  * driver-side history of jobs, stages and SQL executions that only the
  * UI reads, holds no more than `GraftSession`'s caps.
  */
class StatusStoreSpec extends SparkSpec with Eventually {

  test("after more jobs and SQL executions than the caps, the status store holds at most the caps") {
    val sc = spark.sparkContext
    val caps = TestStatusStore.Held(
      sc.getConf.get("spark.ui.retainedJobs").toInt,
      sc.getConf.get("spark.ui.retainedStages").toInt,
      sc.getConf.get("spark.sql.ui.retainedExecutions").toInt)
    assert(Seq(caps.jobs, caps.stages, caps.executions).forall(_ < 1000),
      s"$caps: the session keeps Spark's default history of 1000")
    // each query is one SQL execution of at least one job and stage
    val queries = 3 * Seq(caps.jobs, caps.stages, caps.executions).max
    (1 to queries).foreach(i => spark.range(0, 100, 1, 2).selectExpr(s"sum(id + $i)").collect())
    QueryCost.drain(sc)
    // the store trims itself on a background thread after the writes
    eventually(timeout(Span(30, Seconds))) {
      val held = TestStatusStore.completed(sc)
      assert(held.jobs <= caps.jobs && held.stages <= caps.stages &&
        held.executions <= caps.executions, s"held $held over caps $caps")
      assert(held.jobs > 0 && held.stages > 0 && held.executions > 0,
        s"held $held: the store keeps nothing, so the check is vacuous")
    }
  }
}
