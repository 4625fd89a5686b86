package graft

import org.apache.spark.graft.TestListeners
import org.apache.spark.sql.graft.QueryCost

/** `QueryCost.of` counts exactly the jobs and stages its body starts,
  * and leaves the listener bus as it found it, also when the body
  * throws.
  */
class QueryCostSpec extends SparkSpec {

  /** One bench run of `q` after an unmeasured one, so memos that a
    * first run in this JVM would fill are filled whatever ran before.
    */
  private def warmCost(q: String): QueryCost = {
    Bench.runOnce(spark, q, sfDir)
    QueryCost.of(spark)(Bench.runOnce(spark, q, sfDir))._2
  }

  // Counted at sf0.001 with a hand-written listener (onJobStart and
  // onStageCompleted, bus drained before and after) before QueryCost
  // existed: the same counts on a first and a second run. With AQE on,
  // every stage runs as a job of its own: q1_agg's three query stages
  // and the noop write.
  test("q1_agg runs exactly 4 jobs and 4 stages") {
    val cost = warmCost("q1_agg")
    assert((cost.jobs.size, cost.stages.size) == (4, 4), cost)
  }

  test("g_pagerank runs exactly 24 jobs and 24 stages") {
    val cost = warmCost("g_pagerank")
    assert((cost.jobs.size, cost.stages.size) == (24, 24), cost)
  }

  // BenchSentinel.measure's units: job_cost.trivial_ms times one
  // `range(1).count()` and agg32_ms one 32-partition sum, each two jobs
  // with AQE on (the partial aggregate's map stage, then the final
  // one). A Spark that plans them otherwise changes what both mean.
  test("BenchSentinel's trivial action and 32-partition sum each run exactly 2 jobs") {
    spark.range(1).count()
    val (_, trivial) = QueryCost.of(spark)(spark.range(1).count())
    val (_, agg32) = QueryCost.of(spark)(spark.range(0L, 1L << 20, 1L, 32).selectExpr("sum(id)").head())
    assert(trivial.jobs.size == 2, trivial)
    assert(agg32.jobs.size == 2, agg32)
  }

  test("every job recorded has ended, after it started; stages carry their tasks") {
    val cost = warmCost("q1_agg")
    assert(cost.jobs.map(_.id).distinct.size == cost.jobs.size)
    cost.jobs.foreach(j => assert(j.endMs.exists(_ >= j.startMs), j))
    cost.stages.foreach(s => assert(s.tasks > 0 && s.completedMs >= s.submittedMs, s))
  }

  test("a body that throws propagates its own exception and leaves no listener registered") {
    val sc = spark.sparkContext
    QueryCost.drain(sc)
    val before = TestListeners.registered(sc)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      QueryCost.of(spark) {
        spark.range(10).count()
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(TestListeners.registered(sc) == before)
    val (n, cost) = QueryCost.of(spark)(spark.range(10).count())
    assert(n == 10L && cost.jobs.size == 2, cost) // the count's map stage and its result
    assert(TestListeners.registered(sc) == before)
  }
}
