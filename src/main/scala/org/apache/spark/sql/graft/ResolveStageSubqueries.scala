package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ScalarSubquery, SparkPlan}

/** AQE query-stage rule: a stage's scalar subqueries are resolved on
  * the thread that plans the stage, before the stage is handed to one
  * of Spark's query-stage pools.
  *
  * Spark 4.1 runs a shuffle stage's preparation on a
  * `shuffle-exchange` thread, a query's final stage on a
  * `ResultQueryStageExecution` thread and a broadcast's collect on a
  * `broadcast-exchange` thread, and each of them waits there for the
  * scalar subqueries in its plan. A subquery is a query of its own
  * whose stages need threads of the same pools, so once every thread
  * of a bounded pool waits on a subquery, the subqueries' stages queue
  * behind them and nothing finishes: a union of 40 aggregates that each
  * filter by their own subquery hung for good with 16 threads a pool.
  * [[graft.GraftSession]] bounds the pools, so the waiting moves here:
  * every subquery of the stage starts, and the planning thread (the
  * caller's, or a subquery's own) waits for all of them. A pool thread
  * then finds each result already computed. A query with no scalar
  * subquery pays one walk of each stage's plan. A query with one pays
  * in overlap: AQE submits the stages it plans together only after
  * this rule has run for each, so a subquery no longer runs beside the
  * stages planned with it. With the cores busy either way, as in local
  * mode, that costs little: the 40-arm union at sf0.001 on 4 cores
  * took 6.2 s against 6.8 s with Spark's unbounded pools.
  *
  * The plan is returned as it came in; only the subqueries' results
  * are filled. `InSubqueryExec` (dynamic partition pruning) is left as
  * it is: it waits on a broadcast of the same query, not on a query of
  * its own.
  */
object ResolveStageSubqueries extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val subqueries = plan.flatMap(_.expressions.flatMap(_.collect { case s: ScalarSubquery => s }))
    // start them all before waiting on any
    subqueries.foreach(_.plan.prepare())
    subqueries.foreach(_.updateResult())
    plan
  }
}
