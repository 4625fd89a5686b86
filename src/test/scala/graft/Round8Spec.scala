package graft

import graft.operators.{Dedup, Similarity}
import graft.pipeline.Flow
import graft.queries.Analytics
import graft.sinks.ManifestStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, Row}

/** Round-5 verdict closures:
  *   - dedup_embedding rebuilt on LSH band candidates: no cartesian in
  *     the plan, recall ≥ 0.95 vs the exact all-pairs oracle.
  *   - ann_knn_join broadcast blocks bounded as the corpus grows.
  *   - connected components converge in O(log n) rounds (path
  *     doubling), pinned on a diameter-64 chain.
  *   - manifest publishes are atomic under racing writers.
  *   - salted join bounds per-reducer rows on a Zipf-hot key.
  *   - CMS reduce validates its index rows; Flow.parallel bounds pool,
  *     time, and failure blast radius; bloomGate survives concurrency.
  */
class Round8Spec extends SparkSpec {

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedup_embedding plans no cartesian join over the corpus") {
    val plan = Dedup.embeddingCosine(spark, sfDir).queryExecution.executedPlan
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"),
      s"LSH-blocked dedup must not plan a nested-loop cross join:\n$plan")
  }

  test("dedup_embedding: no false positives, recall >= 0.95 vs exact all-pairs") {
    val approx = pairSet(
      Dedup.embeddingCosine(spark, sfDir).select("vec_a", "vec_b").collect())
    val exact = pairSet(
      Dedup.embeddingCosineExact(spark, sfDir).select("vec_a", "vec_b").collect())
    assert(exact.nonEmpty, "spec corpus should contain qualifying pairs")
    assert(approx.subsetOf(exact),
      s"exact-verify step admits only true pairs; extras: ${approx.diff(exact).take(5)}")
    val recall = approx.intersect(exact).size.toDouble / exact.size
    RecallLog.record("dedup_embedding", "recall_vs_exact", recall)
    RecallLog.record("dedup_embedding", "exact_pairs", exact.size.toDouble)
    assert(recall >= 0.95, s"recall=$recall exact=${exact.size} approx=${approx.size}")
  }

  test("knnJoin broadcast blocks stay bounded as the corpus grows") {
    val target = 32L << 20
    for (rows <- Seq(1000L, 2000000L, 1000000000L); dim <- Seq(64, 1024)) {
      val blocks = Similarity.knnBlockCount(rows, dim, target)
      val rowBytes = 8L + 16L + 4L * dim + 24L
      val perBlockBytes = math.ceil(rows.toDouble / blocks) * rowBytes
      assert(perBlockBytes <= target + rowBytes,
        s"rows=$rows dim=$dim → $blocks blocks of ~${perBlockBytes / (1 << 20)} MB")
    }
    // monotone: 100× corpus → more blocks, never a bigger block
    assert(Similarity.knnBlockCount(100000000L, 64) >
      Similarity.knnBlockCount(1000000L, 64))
  }

  test("knnJoinLsh code depth holds bucket occupancy constant as the corpus grows") {
    // occupancy law: n / 2^bits <= target (above the floor depth)
    for (n <- Seq(2000L, 20000L, 1000000L, 1000000000L)) {
      val bits = Similarity.lshDepth(n, 4, 128L)
      assert(n.toDouble / (1L << bits) <= 128.0 || bits == 30,
        s"n=$n → $bits bits, occupancy ${n.toDouble / (1L << bits)}")
    }
    // the spec corpora stay at the floor depth, so measured recall
    // floors keep applying to exactly the plan the spec runs
    assert(Similarity.lshDepth(500L, 4, 128L) == 4)
    assert(Similarity.lshDepth(2000L, 4, 128L) == 4)
    // 10× the bench corpus deepens the codes instead of densifying
    // the buckets; the billion-row point stays sane
    assert(Similarity.lshDepth(20000L, 4, 128L) == 8)
    assert(Similarity.lshDepth(1000000000L, 4, 128L) == 23)
  }

  test("cluster labels converge in O(log n) rounds on a diameter-64 chain") {
    import spark.implicits._
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) =
      org.apache.spark.sql.graft.CheckpointIds.scoped(spark)(Dedup.clusterLabelsIn(_, chain))
    val ls = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ls.length == 65)
    assert(ls.forall(_._2 == 0L),
      s"all chain nodes belong to component 0: ${ls.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds <= 8, s"path doubling should need ~log2(64) rounds, took $rounds")
  }

  test("manifest commits are atomic: racing publishes never expose a partial version") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mrace").toString + "/manifest"
    def gen(g: Int) = (0 until 40)
      .map(i => (s"gen${g}_file_$i", i.toLong, i + 9L, 100L))
      .toDF("file", "min_key", "max_key", "n_rows")
    ManifestStore.publish(spark, base, gen(0))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val (v, df) = ManifestStore.current(spark, base)
        val rows = df.select("file").collect().map(_.getString(0))
        if (rows.length != 40)
          failures.add(s"v$v exposed ${rows.length}/40 manifest rows")
        else if (rows.map(_.split("_")(0)).distinct.length != 1)
          failures.add(s"v$v mixed generations")
      }
    })
    reader.start()
    try Flow.parallel(Seq(
      ("pub_a", () => (1 to 3).map(g => ManifestStore.publish(spark, base, gen(g)))),
      ("pub_b", () => (4 to 6).map(g => ManifestStore.publish(spark, base, gen(g))))))
    finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty, s"readers saw incomplete manifests: $failures")
    // every publish claimed a distinct, contiguous version
    assert(ManifestStore.versions(spark, base) == (1L to 7L))
  }

  test("salted join bounds per-reducer rows on a Zipf-hot key distribution") {
    val n = 100000
    val nKeys = 20
    val salts = 8
    // Zipf(s=1.2) keys via inverse CDF over uniform u — key 0 holds
    // ~28% of all rows, the skew the uniform testdata never has
    val weights = (1 to nKeys).map(r => 1.0 / math.pow(r, 1.2))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val u = (col("id") + 0.5) / n
    val key = cum.init.zipWithIndex.reverse.foldLeft(lit(nKeys - 1): Column) {
      case (acc, (c, i)) => when(u <= c, lit(i)).otherwise(acc)
    }
    val facts = spark.range(n).select(
      key.cast("long").as("k"),
      lit(1.0).as("l_quantity"),
      pmod(xxhash64(col("id")), lit(salts)).as("salt"))
      .localCheckpoint()
    val hottest = facts.groupBy("k").count()
      .agg(max("count")).head.getLong(0)
    val hottestSalted = facts.groupBy("k", "salt").count()
      .agg(max("count")).head.getLong(0)
    assert(hottest >= n / 5, s"zipf generator should produce a hot key, max=$hottest")
    assert(hottestSalted <= hottest / salts * 1.5,
      s"salting should split the hot key ~evenly: $hottest → $hottestSalted with $salts salts")
    // and the salted operator still computes the right answer on it
    import spark.implicits._
    val dims = (0 until nKeys).map(i => (i.toLong, i * 10.0)).toDF("k2", "k_total")
    val got = Analytics.saltedJoinOn(facts, dims, salts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = facts.groupBy("k").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq, "salted join must equal the unsalted aggregate")
  }

  test("approx count-distinct within the HLL++ rsd of the exact counts") {
    val exact = queries.Relational.qDistinct(spark, sfDir).head
    val approx = queries.Relational.approxDistinct(spark, sfDir).head
    val errs = Seq(0, 1).map { i =>
      math.abs(approx.getLong(i) - exact.getLong(i)).toDouble /
        math.max(exact.getLong(i), 1L)
    }
    RecallLog.record("q_distinct_approx", "max_rel_error", errs.max)
    // rsd is configured at 0.01; 5x headroom keeps the gate stable
    assert(errs.max < 0.05, s"relative errors $errs exceed the sketch bound")
  }

  test("CountMinSketch.reduce skips nulls and fails loudly on malformed index rows") {
    val cms = graft.functions.Aggregators.CountMinSketch(2, 8)
    val b = cms.zero
    assert(cms.reduce(b, null).forall(_ == 0L), "null input row must be a no-op")
    intercept[IllegalArgumentException] { cms.reduce(cms.zero, Seq(1)) }
    intercept[IllegalArgumentException] { cms.reduce(cms.zero, Seq(1, 8)) }
    intercept[IllegalArgumentException] { cms.reduce(cms.zero, Seq(-1, 2)) }
    val ok = cms.reduce(cms.zero, Seq(3, 7))
    assert(ok(3) == 1L && ok(8 + 7) == 1L && ok.sum == 2L)
  }

  test("Flow.parallel times out hung branches and cancels siblings on failure") {
    intercept[java.util.concurrent.TimeoutException] {
      Flow.parallel(Seq(("hang", () => { Thread.sleep(600000); 1 })), timeoutMs = 500)
    }
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[RuntimeException] {
      Flow.parallel(Seq(
        ("doomed", () => { Thread.sleep(100); throw new RuntimeException("boom") }),
        ("sibling", () => {
          try { Thread.sleep(600000); 1 }
          catch {
            case _: InterruptedException =>
              interrupted.set(true)
              throw new RuntimeException("interrupted")
          }
        })))
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!interrupted.get && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(interrupted.get, "failing branch must cancel still-running siblings")
  }

  test("Flow.parallel observes a failure declared AFTER a slower sibling") {
    // completions are consumed in completion order, so a failing branch
    // behind a long-running one must surface immediately (and cancel
    // the sibling), not after the sibling finishes
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.currentTimeMillis()
    val boom = intercept[RuntimeException] {
      Flow.parallel(Seq(
        ("slow_first", () => {
          try { Thread.sleep(600000); 1 }
          catch {
            case _: InterruptedException =>
              interrupted.set(true)
              throw new RuntimeException("interrupted")
          }
        }),
        ("doomed_second", () => { Thread.sleep(100); throw new RuntimeException("boom") })))
    }
    assert(boom.getMessage.contains("doomed_second"),
      s"the doomed branch's failure must surface, got: ${boom.getMessage}")
    assert(System.currentTimeMillis() - t0 < 60000,
      "failure must be observed long before the slow branch would finish")
    val deadline = System.currentTimeMillis() + 10000
    while (!interrupted.get && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(interrupted.get, "the slow sibling must be cancelled")
  }

  test("TopKByScore with k = 0 returns empty instead of throwing") {
    val topk = graft.functions.Aggregators.TopKByScore(0)
    assert(topk.reduce(topk.zero, (1.0, 7L)).isEmpty)
    assert(topk.merge(topk.zero, topk.zero).isEmpty)
  }

  test("quality-model training is deterministic under any partitioning") {
    // per-doc gradient contributions round to integer micros BEFORE the
    // sum, so the learned weights — and every score — must be identical
    // whether the corpus sits in 1 partition or 7
    val a = queries.TextQueries.textQualityModel(spark, sfDir, repartitionTo = Some(1))
      .collect().map(_.toSeq)
    val b = queries.TextQueries.textQualityModel(spark, sfDir, repartitionTo = Some(7))
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("quality model distills the rule bundle well above the majority prior") {
    val out = queries.TextQueries.textQualityModel(spark, sfDir).collect()
    val n = out.length.toDouble
    val acc = out.count(r => r.getBoolean(2) == r.getBoolean(3)) / n
    val prior = math.max(out.count(_.getBoolean(3)) / n, out.count(!_.getBoolean(3)) / n)
    RecallLog.record("text_quality_model", "train_accuracy", acc)
    RecallLog.record("text_quality_model", "majority_prior", prior)
    assert(acc >= 0.9, s"accuracy $acc below 0.9")
    assert(acc > prior + 0.2, s"accuracy $acc does not beat the prior $prior")
  }

  test("k-center coreset matches a driver-side greedy replay exactly") {
    val k = 6
    val out = Similarity.embCoreset(spark, sfDir, k = k).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // replay the greedy selection with the native cosine's exact
    // accumulation order (left-to-right float-to-double, dot/(√na·√nb))
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def distMicro(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      math.round((1.0 - cos) * 1e6)
    }
    var center = vecs.head._2
    val minDist = scala.collection.mutable.Map(vecs.map { case (id, v) =>
      id -> distMicro(v, center) }: _*)
    var expect = List((1, vecs.head._1, 0L))
    for (r <- 2 to k) {
      val (cid, radius) = minDist.toSeq.maxBy { case (id, d) => (d, -id) }
      expect ::= ((r, cid, radius))
      center = vecs.find(_._1 == cid).get._2
      vecs.foreach { case (id, v) =>
        minDist(id) = math.min(minDist(id), distMicro(v, center)) }
    }
    RecallLog.record("emb_coreset", "greedy_replay_exact_match",
      if (out.toSeq == expect.reverse) 1.0 else 0.0)
    assert(out.toSeq == expect.reverse,
      s"coreset ${out.toSeq} != greedy replay ${expect.reverse}")
    // coverage radius is non-increasing
    assert(out.map(_._3).drop(1).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("concurrent bloomGate invocations do not clobber each other's views") {
    val Seq(a, b) = Flow.parallel(Seq(
      ("gate_a", () => Dedup.bloomGate(spark, sfDir).collect().toSeq),
      ("gate_b", () => Dedup.bloomGate(spark, sfDir).collect().toSeq)))
    val solo = Dedup.bloomGate(spark, sfDir).collect().toSeq
    assert(a == solo && b == solo,
      "concurrent invocations must agree with the sequential result")
  }
}
