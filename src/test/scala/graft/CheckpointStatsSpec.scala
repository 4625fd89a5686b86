package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointIds

import graft.operators.{Dedup, Graph}

/** A scoped checkpoint states its size: its leaf carries the exact row
  * count and row bytes that its materializing job measured, so a loop's
  * node-sized state broadcasts at plan time.
  */
class CheckpointStatsSpec extends SparkSpec {

  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.TestListenerBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  // the initial physical plan AQE starts from
  private def staticPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }

  // the sf0.001 trade graph pageRank walks (160 nodes): its joins give
  // the optimizer estimates of hundreds of MiB for KiB-sized frames
  private lazy val pairs: DataFrame = {
    val o = Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val l = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_suppkey")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }

  // pageRankOf's round inputs: undirected edges with their source degree,
  // and the uniform initial ranks
  private def roundInputs(cp: CheckpointIds.Scope): (DataFrame, DataFrame) = {
    val edges = pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    (cp(edges.join(deg, "src")), cp(deg.select(col("src").as("node"), lit(1000000L).as("r"))))
  }

  test("a scoped checkpoint's leaf reports exactly its rows and their summed bytes") {
    // variable-width rows, a null flag and 4 partitions
    val df = spark.range(0, 1000, 1, 4).select(col("id"),
      concat(lit("doc-"), col("id").cast("string")).as("s"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 3 === 0).as("f"))
    val bytes = df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).reduce(_ + _)
    val flagged = df.filter(col("f")).count()
    CheckpointIds.scoped(spark) { cp =>
      val c = cp(df)
      assert(stats(c).rowCount.contains(BigInt(c.count())))
      assert(c.count() == 1000L)
      assert(stats(c).sizeInBytes == BigInt(bytes))
      val (d, n) = cp.counting(df, "f")
      assert(n == flagged && flagged > 0, "the same job counts the true, non-null flags")
      assert(stats(d).sizeInBytes == BigInt(bytes))
    }
    val held = CheckpointIds.latest(spark, "spec.stats")(df)
    assert(stats(held).rowCount.contains(BigInt(1000)) && stats(held).sizeInBytes == BigInt(bytes))
  }

  test("a pageRankOf round broadcasts its ranks at plan time and never shuffles the edges") {
    CheckpointIds.scoped(spark) { cp =>
      val (withDeg, ranks) = roundInputs(cp)
      val round = Graph.pageRankRound(withDeg, ranks)
      val plan = staticPlan(round)
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.length == 1, plan.treeString)
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan.treeString)
      // the one exchange is the sum's, on dst; the edge side has none
      val keys = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .flatMap { case h: HashPartitioning => h.references.map(_.name) }
      assert(keys == Seq("dst"), plan.treeString)
      // broadcast of the ranks, the sum's map stage, the checkpoint's job
      val (next, jobs) = jobsOf(cp(round))
      assert(jobs == 3, s"one checkpointed round ran $jobs jobs")
      assert(next.count() == 160L)
    }
  }

  test("pageRankOf's seeded first round equals a round from the uniform ranks; 0 rounds is r₀") {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val replay = CheckpointIds.scoped(spark) { cp =>
      val (withDeg, ranks) = roundInputs(cp)
      rows(Graph.pageRankRound(withDeg, cp(Graph.pageRankRound(withDeg, ranks)))
        .select(col("node"), col("r").as("rank_micro")))
    }
    assert(rows(Graph.pageRankOf(pairs, iters = 2, topK = 1000)) == replay)
    val r0 = Graph.pageRankOf(pairs, iters = 0, topK = 1000)
    assert(r0.count() == 160L && r0.filter(col("rank_micro") =!= 1000000L).isEmpty)
  }

  test("a round whose checkpoints exceed the broadcast threshold does not broadcast") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    CheckpointIds.scoped(spark) { cp =>
      val (withDeg, ranks) = roundInputs(cp)
      val expected = cp(Graph.pageRankRound(withDeg, ranks)).collect().map(_.toString).sorted.toSeq
      try {
        spark.conf.set(key, (stats(ranks).sizeInBytes - 1).toString)
        val round = Graph.pageRankRound(withDeg, ranks)
        val got = cp(round)
        assert(staticPlan(round).collect { case j: BroadcastHashJoinExec => j }.isEmpty)
        assert(finalPlan(round).collect { case j: BroadcastHashJoinExec => j }.isEmpty,
          finalPlan(round).treeString)
        assert(got.collect().map(_.toString).sorted.toSeq == expected)
      } finally spark.conf.set(key, saved)
    }
  }

  test("clusterLabelsIn gives component-minimum labels in the rounds of a driver-side replay") {
    import spark.implicits._
    // a 12-deep chain in scrambled id order, a star and a lone pair
    val chain = Seq(9L, 4L, 11L, 2L, 7L, 12L, 5L, 10L, 3L, 8L, 6L, 13L)
    val edges = chain.zip(chain.tail) ++ Seq((20L, 21L), (20L, 22L), (23L, 20L), (30L, 31L))
    val (labels, rounds) = CheckpointIds.scoped(spark) { cp =>
      val (l, r) = Dedup.clusterLabelsIn(cp, edges.toDF("doc_a", "doc_b"))
      (l.as[(Long, Long)].collect().toMap, r)
    }
    // propagate (min over neighbors) then shortcut (label of the label)
    // until a round changes nothing, which is counted too
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lbl = nbrs.keys.map(v => v -> v).toMap
    var replay = 0
    var changed = true
    while (changed) {
      val prop = lbl.map { case (v, l) => v -> (l +: nbrs(v).map(lbl)).min }
      val short = prop.map { case (v, l) => v -> prop.getOrElse(l, l) }
      changed = short != lbl
      lbl = short
      replay += 1
    }
    assert(labels == lbl)
    assert(labels.values.toSet == Set(2L, 20L, 30L))
    assert(rounds == replay && rounds > 2, s"$rounds rounds against the replay's $replay")
  }

  test("partsGraph's memo reads a lineitem rewritten in place, and frees the stale triangles") {
    val dir = Files.createTempDirectory("graft_parts").toString
    val fresh = Files.createTempDirectory("graft_parts_fresh").toString
    Files.copy(Paths.get(Tables.path(sfDir, "lineitem")), Paths.get(Tables.path(dir, "lineitem")))
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    Graph.dropSharedCache(spark)
    val before = rows(Graph.clusteringCoeff(spark, dir))
    val stale = Graph.sharedCacheRddIds(spark)
    assert(stale.nonEmpty)
    // rewrite the same path with half the orders
    val half = Tables.load(spark, dir, "lineitem").filter(col("l_orderkey") % 2 === 0)
    half.write.parquet(Tables.path(fresh, "lineitem"))
    val staged = s"$dir/staged"
    spark.read.parquet(Tables.path(fresh, "lineitem")).write.parquet(staged)
    Files.delete(Paths.get(Tables.path(dir, "lineitem")))
    Files.move(Paths.get(staged), Paths.get(Tables.path(dir, "lineitem")))
    val after = rows(Graph.clusteringCoeff(spark, dir))
    val expected = rows(Graph.clusteringCoeff(spark, fresh))
    assert(after == expected)
    assert(after != before, "the rewrite must change the clustering for the check to bite")
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(stale.forall(id => !live.contains(id)), "the replaced snapshot's blocks are freed")
    Graph.dropSharedCache(spark)
  }
}
