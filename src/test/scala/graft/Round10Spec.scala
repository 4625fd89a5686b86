package graft

import graft.queries.TextQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryCost

/** Round-6 specs: the incremental BPE trainer at real vocab sizes.
  *
  * The round-5 weakness was architectural: one Spark job per merge
  * round cannot reach 30–50k-merge vocabularies (driver scheduling
  * throughput, not data volume). The rewrite keeps corpus-scale work
  * in ONE distributed (word, freq) aggregate and trains driver-side
  * over the vocab-bounded type table with incrementally-maintained
  * pair counts. These specs pin the three claims that make that safe:
  * exactness (differential vs a naive full-recount replay), O(1) job
  * count in nMerges, and per-round work ∝ affected-word mass.
  */
class Round10Spec extends SparkSpec {

  /** Naive reference trainer: full positional pair recount + argmax
    * with the (count desc, pair asc) tie-break + greedy splice of
    * EVERY word, every round — the semantics the round-5 Spark loop
    * executed, kept as the differential oracle for the incremental
    * trainer.
    */
  private def naiveBpe(types: Array[(String, Long)], nMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    var words = types.map { case (w, f) => (w.toCharArray.map(_.toString), f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (s, f) =>
        var i = 0
        while (i + 1 < s.length) {
          counts.update((s(i), s(i + 1)), counts.getOrElse((s(i), s(i + 1)), 0L) + f)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val (p, n) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank, p._1, p._2, n))
        words = words.map { case (s, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == p._1 && s(i + 1) == p._2) {
              out += (p._1 + p._2); i += 2
            } else { out += s(i); i += 1 }
          }
          (out.toArray, f)
        }
      }
    }
    merges.result()
  }

  private def typeTable(dir: String): Array[(String, Long)] = {
    import spark.implicits._
    val toksCol = split(trim(regexp_replace(lower(col("text")), "[^a-z ]+", " ")), " ", -1)
    Tables.load(spark, dir, "documents")
      .select(explode(toksCol).as("word"))
      .filter(length(col("word")) > 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // mirror the trainer's default driver-side bound (minFreq >= 2 +
      // top-V cap) so the naive replay models the SHIPPED path
      .filter(col("freq") >= 2)
      .orderBy(col("freq").desc, col("word")).limit(65536)
      .as[(String, Long)].collect()
  }

  test("BPE driver-side type table is bounded: minFreq prunes hapax, maxTypes caps rows") {
    import spark.implicits._
    // corpus: two repeated words + three hapax words; default minFreq=2
    // must keep only the repeated types, and maxTypes=1 must keep only
    // the (freq desc, word) leader — the collected-row bound VERDICT r6
    // asked to pin (an unbounded table is the driver OOM at web scale)
    val tmp = java.nio.file.Files.createTempDirectory("bpe_bound").toString
    Seq((1L, "alpha alpha alpha beta beta gamma delta epsilon", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (_, wordsDefault, _) = TextQueries.bpeLearnStats(spark, tmp, 4)
    val keptDefault = wordsDefault.select("word").as[String].collect().toSet
    assert(keptDefault == Set("alpha", "beta"),
      s"minFreq=2 default kept $keptDefault, expected the non-hapax types only")
    val (_, wordsCapped, _) =
      TextQueries.bpeLearnStats(spark, tmp, 4, minFreq = 1L, maxTypes = 1)
    val keptCapped = wordsCapped.select("word").as[String].collect().toSeq
    assert(keptCapped == Seq("alpha"),
      s"maxTypes=1 kept $keptCapped, expected the single highest-freq type")
  }

  test("incremental BPE == naive full-recount BPE for 64 merges on real data") {
    val types = typeTable(sfDir)
    val expected = naiveBpe(types, 64)
    val (got, _, _) = TextQueries.bpeLearnStats(spark, sfDir, 64)
    assert(got == expected,
      s"first divergence: ${got.zip(expected).find { case (a, b) => a != b }}")
    RecallLog.record("text_bpe", "exact_match_vs_recount_64", 1.0)
  }

  test("BPE Spark job count is O(1) in nMerges") {
    val (merges, cost) = QueryCost.of(spark)(TextQueries.textBpe(spark, sfDir, nMerges = 512).collect())
    // the round-5 loop ran >= 3 jobs PER MERGE (1536+ here); the
    // rewrite runs the type aggregate + the result collect only — a
    // generous ceiling still catches any per-merge job creep
    assert(cost.jobs.size <= 16, s"jobs=${cost.jobs.size} for ${merges.length} merges")
    assert(merges.length > 64, s"only ${merges.length} merges learned")
  }

  // ---- sink_merge: CDC MERGE with deletes ----

  private def cdcDf(rows: Seq[(Long, Double, String, Long)]) = {
    import spark.implicits._
    rows.toDF("id", "v", "op", "seq")
  }

  test("CDC merge: within-batch last-op-wins; delete of absent key is a no-op") {
    import graft.sinks.TableStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cdc_sem").toString + "/t"
    // key 1: insert then update (update wins); key 2: insert then
    // delete (nets out to nothing); key 3: delete of a key that never
    // existed (must not fail, must not create a row)
    TableStore.mergeCdc(spark, base, cdcDf(Seq(
      (1L, 10.0, "insert", 1L), (1L, 11.0, "update", 2L),
      (2L, 20.0, "insert", 1L), (2L, 0.0, "delete", 2L),
      (3L, 0.0, "delete", 1L))), Seq("id"))
    val t1 = TableStore.readCdcCurrent(spark, base)
      .as[(Long, Double)].collect().toMap
    assert(t1 == Map(1L -> 11.0), s"got $t1")
    // a later batch deletes key 1 -> empty table at v2
    TableStore.mergeCdc(spark, base, cdcDf(Seq((1L, 0.0, "delete", 1L))), Seq("id"))
    assert(TableStore.readCdcCurrent(spark, base).count() == 0)
    assert(graft.sinks.ManifestStore.versions(spark, s"$base/manifest") == Seq(1L, 2L))
  }

  test("CDC merge: racing publishers serialize with no lost updates") {
    import graft.sinks.{ManifestStore, TableStore}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cdc_race").toString + "/t"
    TableStore.mergeCdc(spark, base,
      cdcDf((1L to 100L).map(k => (k, k * 10.0, "insert", 0L))), Seq("id"))
    // two concurrent mergers: A deletes keys 1-50, B inserts 101-120.
    // The tryPublish CAS forces the loser to re-merge against the
    // winner's table, so BOTH effects must land regardless of order.
    graft.pipeline.Flow.parallel(Seq(
      ("cdc_a", () => TableStore.mergeCdc(spark, base,
        cdcDf((1L to 50L).map(k => (k, 0.0, "delete", 1L))), Seq("id"))),
      ("cdc_b", () => TableStore.mergeCdc(spark, base,
        cdcDf((101L to 120L).map(k => (k, 7.0, "insert", 1L))), Seq("id")))))
    val fin = TableStore.readCdcCurrent(spark, base)
      .select("id").as[Long].collect().toSet
    assert(fin == ((51L to 100L) ++ (101L to 120L)).toSet,
      s"lost update: ${fin.size} keys")
    // serial history: exactly one version per committed batch
    assert(ManifestStore.versions(spark, s"$base/manifest") == Seq(1L, 2L, 3L))
  }

  test("manifest retention sweeps old versions, keeps current readable") {
    import graft.sinks.ManifestStore
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("retain").toString + "/m"
    (1 to 5).foreach(i =>
      ManifestStore.publish(spark, base, Seq((i, s"f$i")).toDF("v", "file")))
    assert(ManifestStore.versions(spark, base) == Seq(1L, 2L, 3L, 4L, 5L))
    val swept = ManifestStore.retain(spark, base, keep = 2)
    assert(swept == Seq(1L, 2L, 3L))
    assert(ManifestStore.versions(spark, base) == Seq(4L, 5L))
    val (v, df) = ManifestStore.current(spark, base)
    assert(v == 5L && df.select("file").as[String].collect().toSeq == Seq("f5"))
    // idempotent at the floor: keep >= remaining sweeps nothing
    assert(ManifestStore.retain(spark, base, keep = 2).isEmpty)
  }

  // ---- graph analytics ----

  test("triangles: hand graph counts exactly (K4 minus an edge = 2)") {
    import graft.operators.Graph
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val r = Graph.trianglesOf(pairs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 5L, 2L)))
  }

  test("pagerank: hand star graph — hub outranks leaves, mass ordering stable") {
    import graft.operators.Graph
    import spark.implicits._
    // star: hub 1 connected to leaves 2..5 (undirected via symmetrize)
    val pairs = (2L to 5L).map(l => (1L, l)).toDF("src", "dst")
    val got = Graph.pageRankOf(pairs, iters = 5, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.head._1 == 1L, s"hub must rank first: ${got.toSeq}")
    // all four leaves tie exactly (same integer arithmetic path) and
    // sit strictly below the hub
    val leaves = got.tail
    assert(leaves.map(_._2).distinct.length == 1 && leaves.head._2 < got.head._2)
    assert(leaves.map(_._1).toSeq == (2L to 5L), "ties break on node id")
    // hand-replay of the integer recurrence: leaves send r div 1, hub
    // sends r div 4 to each leaf
    var hub = 1000000L; var leaf = 1000000L
    for (_ <- 1 to 5) {
      val nh = 150000L + 85L * (4L * leaf) / 100L
      val nl = 150000L + 85L * (hub / 4L) / 100L
      hub = nh; leaf = nl
    }
    assert(got.head._2 == hub && leaves.head._2 == leaf,
      s"integer replay mismatch: got ${got.head._2}/${leaves.head._2}, want $hub/$leaf")
  }

  test("label propagation: bridged cliques split into two exact communities") {
    import graft.operators.Graph
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} bridged by edge (3,4). Four
    // synchronous min-tie-break rounds hand-replay to: clique A all
    // labeled 1, clique B all labeled 3 (the bridge pulls 4's label
    // history through 3's side but B's majority holds at 3).
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.labelPropOf(pairs, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $got")
  }

  test("label propagation is idempotent on disjoint cliques (labels = min id)") {
    import graft.operators.Graph
    import spark.implicits._
    // disjoint triangles: each clique settles on its min id within two
    // rounds (round 1 can hand the min node a neighbor's label; round
    // 2 pulls it back) — 4 rounds must not drift
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graph.labelPropOf(pairs, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L),
      s"got $got")
  }

  test("cusum flags the level-shift day on a hand series") {
    import graft.queries.TimeSeries
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    // 10 days at 100, then 10 at 200: floor-mean 150, CUSUM walks to
    // −500 at day 10 and back to 0 — the shift boundary is the peak
    val series = (0 until 20).map(i => (i, if (i < 10) 100L else 200L)).toDF("i", "y")
      .select(date_add(to_date(lit("2020-01-01")), col("i")).as("d"), col("y"))
    val rows = TimeSeries.cusumOf(series).collect()
    val flagged = rows.filter(_.getBoolean(3)).map(_.getDate(0).toString).toSeq
    assert(flagged == Seq("2020-01-10"), s"flagged $flagged")
    val atPeak = rows.find(_.getDate(0).toString == "2020-01-10").get
    assert(atPeak.getLong(2) == -500L, s"peak cusum ${atPeak.getLong(2)}")
    assert(rows.last.getLong(2) == 0L, "cusum must return to ~0 at the end")
  }

  test("seasonal-naive backtest equals the week-ago value on a hand series") {
    import graft.queries.TimeSeries
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val series = (0 until 14).map(i => (i, (i + 1) * 10L)).toDF("i", "y")
      .select(date_add(to_date(lit("2020-01-01")), col("i")).as("d"), col("y"))
    val rows = TimeSeries.snaiveOf(series).collect()
    assert(rows.length == 7, s"${rows.length} backtest rows")
    assert(rows.forall(r => r.getLong(1) - r.getLong(2) == 70L),
      "every forecast must trail the actual by exactly 7 days' growth")
    assert(rows.forall(_.getLong(3) == 70L), "abs_err = 70 on the linear ramp")
  }

  // ---- mm_neardup: perceptual media near-dup ----

  test("mm_neardup banding == brute-force hamming<=7 all-pairs (pigeonhole)") {
    import graft.operators.Multimodal
    val media = Multimodal.withNearDupMedia(Tables.load(spark, sfDir, "documents"))
    val sigs = Multimodal.blockhashSig(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 7
    } yield {
      val (a, b) = (sigs(i), sigs(j))
      if (a._1 < b._1) (a._1, b._1) else (b._1, a._1)
    }).toSet
    val got = Multimodal.payloadNearDup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"banded=${got.size} brute=${brute.size}, diff e.g. ${(brute diff got).take(3)}")
    assert(got.nonEmpty, "plant must make the gate non-vacuous")
    // every planted same-group member pair is caught (the re-encoded
    // copies the exact-md5 gate misses)
    val planted = sigs.map(_._1).filter(_ % 28 == 0)
      .groupBy(id => (id / 28) % 8).values.filter(_.length > 1)
    val plantPairs = planted.flatMap(g =>
      for { i <- g.indices; j <- (i + 1) until g.length }
        yield (math.min(g(i), g(j)), math.max(g(i), g(j)))).toSet
    val caught = plantPairs.intersect(got).size.toDouble / plantPairs.size
    RecallLog.record("mm_neardup", "banding_vs_bruteforce_exact", 1.0)
    RecallLog.record("mm_neardup", "planted_group_recall", caught)
    assert(caught >= 0.9, s"planted recall $caught")
  }

  test("mm_neardup plans no cartesian: candidates come from a band equi-join") {
    import graft.operators.Multimodal
    val media = Multimodal.withNearDupMedia(Tables.load(spark, sfDir, "documents"))
    val plan = Multimodal.payloadNearDup(media).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
  }

  test("BPE per-round work is proportional to affected-word mass") {
    val (merges, _, touched) = TextQueries.bpeLearnStats(spark, sfDir, 64)
    val nTypes = typeTable(sfDir).length
    assert(merges.length == 64)
    assert(touched.length == 64)
    // a full recount rewrites nTypes words per round; the incremental
    // trainer must touch only the words containing the merged pair —
    // on this corpus that is a small fraction of rounds * nTypes
    val full = 64L * nTypes
    assert(touched.map(_.toLong).sum * 4 < full,
      s"touched=${touched.sum} vs full-recount $full (nTypes=$nTypes)")
    // and no single round may silently degrade to a full rewrite
    assert(touched.max < nTypes, s"round touched ${touched.max} of $nTypes types")
  }
}
