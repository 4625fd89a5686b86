package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, QueryCost}

import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, Graph, Similarity}
import graft.queries.Relational
import graft.sinks.TableStore

/** Checkpoint lifetimes. Every operator takes its checkpoints through
  * `CheckpointIds.scoped`, so after a call the only checkpoints left
  * persisted are the ones its result reads, and a failing round leaves
  * none at all; what calls share is held by `CheckpointIds.shared` until
  * a new version or `release` frees it.
  *
  * The persisted-id diffs are race-free: suites run one after another
  * in one forked JVM, and the ContextCleaner only ever REMOVES ids, so
  * an id that is new after a call was persisted by that call.
  */
class CheckpointScopeSpec extends SparkSpec {

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // two triangles joined by a bridge, plus a pendant node
  private lazy val pairs: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L), (1L, 7L))
      .toDF("src", "dst")
  }

  // a K4 clique with a pendant triangle, canonical a < b
  private lazy val canonical: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("a", "b")
  }

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "pageRankOf" -> (() => Graph.pageRankOf(pairs, iters = 3, topK = 5)),
    "pprOf" -> (() => Graph.pprOf(pairs,
      spark.range(1, 3).select(col("id").as("snode")), iters = 3, topK = 5)),
    "labelPropOf" -> (() => Graph.labelPropOf(pairs, iters = 3)),
    "ktrussOf" -> (() => Graph.ktrussOf(canonical, k = 4, rounds = 4)),
    "ktrussFullOf" -> (() => Graph.ktrussFullOf(canonical, k = 4, rounds = 4)),
    "kcoreOf" -> (() => Graph.kcoreOf(pairs, k = 2, rounds = 8)),
    "ssspOf" -> (() => Graph.ssspOf(pairs.withColumn("w", col("src") + 1L), iters = 4, topK = 5)),
    "betweennessOf" -> (() => Graph.betweennessOf(pairs, iters = 3, nSources = 3, topK = 5)),
    "hyperballNodes" -> (() => Graph.hyperballNodes(spark, pairs, iters = 5, b = 7)),
    "closenessOf" -> (() => Graph.closenessOf(pairs, iters = 3, nLandmarks = 3, topK = 5)),
    "clusterLabels" -> (() => Dedup.clusterLabels(
      pairs.select(col("src").as("doc_a"), col("dst").as("doc_b")))),
    "embCoreset" -> (() => Similarity.embCoreset(spark, sfDir, k = 4)),
    "trianglesOf" -> (() => Graph.trianglesOf(canonical)),
    "clusteringCoeffOf" -> (() => Graph.clusteringCoeffOf(canonical, topK = 5)),
    "adamicAdarOf" -> (() => Graph.adamicAdarOf(
      pairs.select(col("src").as("c"), col("dst").as("s")), maxDeg = 50, topK = 5)),
    "jaccardPairsOf" -> (() => Graph.jaccardPairsOf(
      pairs.select(col("src").as("s"), col("dst").as("p")), maxFeatureDeg = 50, topK = 5)),
    "ntileDecilesOf" -> (() => Relational.ntileDecilesOf(
      pairs.select(col("src").as("o_custkey"), (col("dst") * 1.5).as("spend")))),
    "snmDedup" -> (() => Dedup.snmDedup(spark, sfDir)),
    "embKmeans" -> (() => Similarity.embKmeans(spark, sfDir, k = 4, iters = 2)))

  loops.foreach { case (name, run) =>
    test(s"$name leaves persisted only the checkpoints its result reads") {
      val before = persisted()
      val result = run()
      val leaked = persisted() -- before -- CheckpointIds.of(result)
      assert(leaked.isEmpty,
        s"$name left checkpoints $leaked persisted that its result never reads")
      // the kept checkpoints are the ones the result needs: reading it
      // twice finds every block
      val first = result.collect().map(_.toString).sorted.toSeq
      assert(first.nonEmpty, s"$name returned no rows — the check is vacuous")
      assert(result.collect().map(_.toString).sorted.toSeq == first)
    }
  }

  test("round boundary: a round's checkpoint is freed once the next round returns") {
    val before = persisted()
    var byRound = Vector.empty[Seq[Int]]
    var invariant = Seq.empty[Int]
    val (last, rounds) = CheckpointIds.scoped(spark) { cp =>
      val edges = cp(pairs)
      invariant = CheckpointIds.of(edges)
      val init = cp(edges.select(col("src").as("node"), lit(0L).as("r")))
      byRound :+= CheckpointIds.of(init)
      cp.iterate(init, 4) { state =>
        val live = persisted()
        // the state's checkpoint and the loop-invariant frame are live;
        // every earlier round's checkpoint is already freed
        assert(byRound.last.forall(live.contains))
        assert(invariant.forall(live.contains))
        assert(byRound.init.flatten.forall(id => !live.contains(id)))
        val next = cp(state.join(edges.select(col("src").as("node")), "node")
          .select(col("node"), (col("r") + 1L).as("r")))
        byRound :+= CheckpointIds.of(next)
        next
      }(_ => false)
    }
    assert(rounds == 4)
    assert(persisted() -- before == CheckpointIds.of(last).toSet,
      "on exit only the returned frame's checkpoint stays; the " +
        "loop-invariant frame and every superseded round are freed")
    assert(last.agg(max("r")).head.getLong(0) == 4L)
  }

  test("a step that throws in round 2 frees every checkpoint of the scope and rethrows unchanged") {
    val boom = new IllegalStateException("round 2 fails")
    val before = persisted()
    var taken = Seq.empty[Int]
    val thrown = intercept[IllegalStateException] {
      CheckpointIds.scoped(spark) { cp =>
        val edges = cp(pairs)
        val init = cp(edges.select(col("src").as("node"), lit(0L).as("r")))
        taken ++= CheckpointIds.of(edges, init)
        cp.iterate((init, 0), 4) { case (state, r) =>
          if (r == 1) throw boom
          val next = cp(state.select(col("node"), (col("r") + 1L).as("r")))
          taken ++= CheckpointIds.of(next)
          (next, r + 1)
        }(_ => false)
      }
    }
    assert(thrown eq boom)
    assert(taken.length == 3, s"edges, init and round 1 are checkpointed: $taken")
    val leaked = persisted() -- before
    assert(leaked.isEmpty, s"checkpoints $leaked outlive the failed scope")
  }

  test("adamicAdarStats and mergeCdc leave nothing they took persisted") {
    import spark.implicits._
    val before = persisted()
    val (capped, wedges) = Graph.adamicAdarStats(spark, sfDir)
    assert(capped > 0L && wedges > 0L, s"capped=$capped wedges=$wedges: the check is vacuous")
    val base = Files.createTempDirectory("graft_cdc_scope").toString + "/t"
    val feed = Seq((1L, 10.0, "insert", 1L), (1L, 11.0, "update", 2L), (2L, 20.0, "insert", 1L))
      .toDF("id", "v", "op", "seq")
    assert(TableStore.mergeCdc(spark, base, feed, Seq("id")) == 1L)
    assert(TableStore.readCdcCurrent(spark, base).count() == 2L)
    val leaked = persisted() -- before
    assert(leaked.isEmpty, s"checkpoints $leaked outlive the calls that took them")
  }

  test("shared holds one build per key and version; a new version and release free it") {
    val before = persisted()
    var builds = 0
    def hold(key: String, version: Int, df: DataFrame): DataFrame =
      CheckpointIds.shared(spark, key, version) { cp => builds += 1; cp(df) }
    val first = hold("spec.shared", 1, pairs)
    val again = hold("spec.shared", 1, pairs.filter(col("src") > 2L))
    assert(again eq first, "the same version returns the held frame")
    assert(builds == 1 && persisted() -- before == CheckpointIds.of(first).toSet,
      "and takes no new checkpoint")
    val other = hold("spec.other", 1, pairs)
    val second = hold("spec.shared", 2, pairs.filter(col("src") > 2L))
    assert(CheckpointIds.of(first).nonEmpty)
    assert(persisted() -- before == CheckpointIds.of(second, other).toSet,
      "a new version frees the frames it replaces; other keys keep theirs")
    assert(CheckpointIds.held(spark).toSet == CheckpointIds.of(second, other).toSet)
    assert(second.count() == 5L && other.count() == 8L)
    CheckpointIds.release(spark)
    assert(CheckpointIds.held(spark).isEmpty)
    val freed = CheckpointIds.of(second, other).toSet
    assert(persisted().intersect(freed).isEmpty, "release frees every hold")
    assert(!spark.sparkContext.getRDDStorageInfo.exists(r => freed(r.id)),
      "and its blocks are gone when it returns")
  }

  test("g_clustering's shared pass: release frees the checkpoint blocks (r7 driver pathology)") {
    // The r7 driver-box pathology: dropping the memo cleared the memo
    // map but left the localCheckpoint'ed pp/stream RDD blocks to
    // the lazy ContextCleaner, so a long one-JVM bench sweep
    // accumulated orphaned MEMORY_AND_DISK blocks until eviction
    // churn dominated (g_clustering 67.7 s vs its own ~12.6 s base).
    // The observable is the SPECIFIC ids the hold records — global
    // persistent-RDD counts would race the async ContextCleaner
    // collecting other suites' orphans (review finding, round 8):
    // after every release, none of the held ids may remain persisted.
    CheckpointIds.release(spark) // clear any earlier suite's artifacts
    (1 to 4).foreach { i =>
      SparkEntry.queries("g_clustering")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val mine = CheckpointIds.held(spark)
      assert(mine.nonEmpty,
        s"iteration $i: the shared pass recorded no checkpoint ids — " +
          "the observable is vacuous")
      val persistedNow = spark.sparkContext.getPersistentRDDs.keySet
      assert(mine.forall(persistedNow.contains),
        s"iteration $i: recorded ids $mine not all persisted — " +
          "the id capture is broken")
      CheckpointIds.release(spark)
      val persistedAfter = spark.sparkContext.getPersistentRDDs.keySet
      val leaked = mine.filter(persistedAfter.contains)
      assert(leaked.isEmpty,
        s"iteration $i: checkpoint RDDs $leaked survive release " +
          "— orphaned blocks accumulate across a bench sweep exactly " +
          "as in BENCH_r07")
    }
  }

  test("partsGraph's hold reads a lineitem rewritten in place, and frees the stale triangles") {
    val dir = Files.createTempDirectory("graft_parts").toString
    val fresh = Files.createTempDirectory("graft_parts_fresh").toString
    Files.copy(Paths.get(Tables.path(sfDir, "lineitem")), Paths.get(Tables.path(dir, "lineitem")))
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    CheckpointIds.release(spark)
    val before = rows(Graph.clusteringCoeff(spark, dir))
    val stale = CheckpointIds.held(spark)
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
    CheckpointIds.release(spark)
  }

  test("stageTimeOrdered frees its staging checkpoint once every batch is written") {
    val out = java.nio.file.Files.createTempDirectory("graft_stage").resolve("feed").toString
    val before = persisted()
    graft.streaming.StreamStage.stageTimeOrdered(
      pairs.withColumn("ts", col("src") * 10L + col("dst")), "ts", out, nFiles = 3)
    val leaked = persisted() -- before
    assert(leaked.isEmpty, s"stageTimeOrdered left checkpoints $leaked persisted")
    assert(spark.read.parquet(out).count() == 8L)
  }

  test("embCoreset checkpoints its distances only while another round reads them") {
    val (_, cost) = QueryCost.of(spark)(Similarity.embCoreset(spark, sfDir, k = 4).collect())
    // k = 4 runs 3 rounds and 3 checkpoints: the seed's distances and
    // rounds 1–2's, each materialized by the one job that measures its
    // size. Checkpointing round 3's distances too, which nothing reads,
    // took 17 jobs; inferring the embeddings' schema with a job of its
    // own, 16.
    assert(cost.jobs.size == 15, s"embCoreset(k = 4) ran ${cost.jobs.size} jobs")
  }
}
