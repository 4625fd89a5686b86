package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Graph, Similarity}
import graft.pipeline.{CorpusPipeline, Flow}

/** A driver that runs the same pipelines again and again reuses its
  * query-stage threads. AQE hands shuffle stages, final stages and
  * broadcasts to three JVM-wide pools; at Spark's default sizes each
  * task started a new thread until 1024 (128 for broadcasts) were
  * alive, 43 more threads after every warm pass of the corpus flow,
  * the LSH kNN join and PageRank. Capped at 16 (see [[GraftSession]]),
  * the pools stop growing, and queries that need more threads of a
  * pool than it holds, and subqueries, still finish.
  */
class DriverThreadsSpec extends SparkSpec {

  private val pools = Prof.stagePools

  private def liveThreads(): Map[String, Int] = {
    val names = Prof.liveThreadNames()
    pools.map(p => p -> names.count(_.startsWith(p))).toMap
  }

  private def run(dir: String): Map[String, Int] = {
    CorpusPipeline.corpusE2E(spark, dir).collect()
    Similarity.knnJoinLsh(spark, dir).collect()
    Graph.pageRank(spark, dir).collect()
    liveThreads()
  }

  test("repeat runs of the corpus flow, kNN and PageRank start no query-stage threads") {
    // the cold run fills each pool up to the tasks it hands it: the
    // result-stage pool gets 15 a run, so it may reach 16 in the next
    val cold = run(SparkSpec.freshCopy(sfDir))
    val warm = Seq.fill(3)(run(SparkSpec.freshCopy(sfDir)))
    (cold +: warm).foreach(counts => pools.foreach(p => assert(counts(p) <= 16, (cold, warm))))
    warm.tail.foreach(counts => pools.foreach(p => assert(counts(p) <= warm.head(p), (cold, warm))))
  }

  /** The bodies' results, run concurrently; a deadlock fails the test
    * after `timeoutMs`.
    */
  private def within[A](timeoutMs: Long)(bodies: Seq[() => A]): Seq[A] =
    Flow.parallel(bodies.zipWithIndex.map { case (b, i) => s"branch_$i" -> b },
      maxConcurrency = 16, timeoutMs = timeoutMs)

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def views(): Unit = Seq("lineitem", "supplier", "nation")
    .foreach(t => Tables.load(spark, sfDir, t).createOrReplaceTempView(s"dt_$t"))

  /** Two broadcast joins under a scalar subquery: every branch needs a
    * shuffle, a final stage, two broadcasts and a subquery, each from
    * its own pool.
    */
  private def branch(i: Int): DataFrame =
    spark.sql(
      s"""SELECT n_name, count(*) AS n, sum(l_extendedprice) AS revenue
         |FROM dt_lineitem
         |JOIN dt_supplier ON l_suppkey = s_suppkey
         |JOIN dt_nation ON s_nationkey = n_nationkey
         |WHERE l_linenumber % 16 <> $i
         |  AND l_extendedprice > (SELECT avg(l_extendedprice) FROM dt_lineitem)
         |GROUP BY n_name""".stripMargin)

  test("16 concurrent queries with broadcasts and a subquery finish at the caps") {
    views()
    val alone = (0 until 16).map(i => sorted(branch(i).collect()))
    val together = within(120000L)((0 until 16).map(i => () => sorted(branch(i).collect())))
    assert(together == alone)
    assert(alone.forall(_.nonEmpty))
  }

  // Each arm's shuffle stage filters by a subquery of its own, whose
  // aggregate is a shuffle stage too. Were the arms' stages to wait for
  // their subqueries on shuffle threads, 16 of them would hold every
  // thread while the subqueries' stages queued behind them.
  test("one query with 40 stages that each wait on a subquery finishes at the caps") {
    views()
    val arms = 40
    val q = (0 until arms).map { i =>
      s"""SELECT $i AS arm, l_returnflag, count(*) AS n FROM dt_lineitem
         |WHERE l_extendedprice > (SELECT avg(l_extendedprice) + $i FROM dt_lineitem)
         |GROUP BY l_returnflag""".stripMargin
    }.mkString(" UNION ALL ")
    val Seq(rows) = within(120000L)(Seq(() => spark.sql(q).collect()))
    assert(rows.map(_.getInt(0)).distinct.sorted.toSeq == (0 until arms))
  }

  test("a subquery that returns two rows still fails the query with Spark's error") {
    views()
    val e = intercept[Exception] {
      spark.sql("""SELECT l_returnflag, count(*) FROM dt_lineitem
                  |WHERE l_orderkey > (SELECT l_orderkey FROM dt_lineitem)
                  |GROUP BY l_returnflag""".stripMargin).collect()
    }
    assert(e.getMessage.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS"), e)
  }
}
