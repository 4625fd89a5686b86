package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, QueryCost}

import graft.operators.{Dedup, Graph, Similarity}

/** Checkpoint lifetimes of the iterative operators. Every loop takes
  * its checkpoints through `CheckpointIds.scoped`, so after a call the
  * only checkpoints left persisted are the ones its result reads, and a
  * failing round leaves none at all.
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
    "embCoreset" -> (() => Similarity.embCoreset(spark, sfDir, k = 4)))

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

  test("latest holds one checkpoint per key and frees the one it replaces") {
    val before = persisted()
    val first = CheckpointIds.latest(spark, "spec.latest")(pairs)
    val other = CheckpointIds.latest(spark, "spec.other")(pairs)
    val second = CheckpointIds.latest(spark, "spec.latest")(pairs.filter(col("src") > 2L))
    assert(CheckpointIds.of(first).nonEmpty)
    assert(persisted() -- before == CheckpointIds.of(second, other).toSet,
      "the second call under a key frees the first; other keys keep theirs")
    assert(second.count() == 5L && other.count() == 8L)
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
