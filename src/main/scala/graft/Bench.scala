package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, ParquetRead}

/** Benchmark main — one JSON line on stdout, per the driver contract.
  *
  * Headline queries only: the relational/dedup/text/ANN/events paths
  * whose throughput is the engine's figure of merit. Sink round-trip
  * queries (tmp-dir writes) and streaming-parity queries (stream
  * machinery startup) measure IO plumbing, not query speed, and are
  * correctness-gated by Verify instead.
  *
  * Each query runs once cold (codegen + file-listing), then THREE warm
  * iterations: the reported per-query number is the warm MEDIAN, with
  * min and spread (max−min) riding along — single warm runs on this
  * box swing ±15–40% per query, which cannot distinguish a real 40%
  * regression from noise. Round-over-round deltas are quoted on
  * medians.
  *
  * A scale-step block then re-runs the heaviest document/embedding
  * operators against a deterministic 10× synthetic blow-up of the
  * documents + embeddings tables (built once under /tmp, reused across
  * runs) and reports the 10×/1× time ratio per query — the first
  * empirical check that the "scale-safe" plans scale sub-linearly in
  * practice, not just by plan audit. Set SPARK_GRAFT_SKIP_SCALE=1 to
  * skip it.
  *
  * Emission contract (VERDICT r12 #1, r14 #1): a contract-shaped
  * SKELETON line (value 0.0, queries {}, blocks [], job_cost zeros)
  * prints IMMEDIATELY after session init — before any benchmark
  * work — and the parseable summary line is then RE-printed after
  * every headline entry, every 10 extended entries, and every
  * completed block, each a complete contract-shaped JSON object
  * (metric/value/unit/queries/sf always present), so a driver kill at
  * ANY point leaves a parseable line on stdout. `blocks` lists only
  * blocks that actually COMPLETED; skipped ones appear solely in
  * `skipped_blocks` (advice, round 13). A wall-clock budget
  * (SPARK_GRAFT_BENCH_BUDGET_S, default 1200 s) truncates headline/
  * extended between entries and skips scale/streaming when exceeded
  * (reported in `skipped_blocks`/`truncated_entries`); one stderr
  * heartbeat per entry timestamps where the clock goes; and the
  * [[BenchSentinel.measure]] per-job fixed-cost probe rides in every emission
  * (`job_cost`: `trivial_ms` is one trivial action (2 jobs under AQE),
  * `agg32_ms` one 32-partition sum) beside [[BenchSentinel]]'s CPU
  * channel.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_agg", "q_join", "q_topk", "q_window", "q_daily", "q_subquery",
    "q_distinct", "t_dedup_key",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
    "text_langid", "text_quality", "text_tokens", "text_fingerprint",
    "ann_bruteforce", "ann_lsh",
    "e_window_agg", "e_sessionize")

  // Heavier operators benched separately so perf work on them is
  // measurable round-over-round; the 20-query headline stays frozen
  // for comparability with earlier rounds.
  val extended: Seq[String] = Seq(
    "text_tfidf", "dedup_clusters", "ann_knn_join", "ann_knn_lsh",
    "dedup_incremental", "dedup_semantic", "q_rolling_7d",
    "dedup_substring", "emb_rproj", "t_scd2", "ann_pq",
    "q_heavy_hitters_sketch", "dedup_bloom_gate", "text_dsir", "text_surprisal",
    "emb_pca",
    // round-5 late additions
    "text_bm25", "text_pmi", "emb_kmeans", "q_rolling_median",
    "dedup_substring_remove",
    // round-6 additions
    "mm_neardup", "ann_sq", "g_pagerank", "g_communities", "ts_cusum",
    // round-6 late additions (pure-read analytics only — the sink/
    // stream entries stay correctness-gated in Verify per the note
    // above)
    "q_moments", "t_quantile_bin", "e_attribution", "t_group_split",
    "ann_mips", "dq_fk",
    // round-6 batch-5 additions
    "g_jaccard", "text_boilerplate", "ts_residual_anomaly",
    "dedup_quarantine", "e_seq_pattern", "emb_mmr",
    "g_sssp", "ts_acf", "text_transfer", "ann_hamming", "dedup_cdc",
    "dedup_snm", "g_kcore",
    "text_rake", "dedup_cross_source", "dedup_band_plan",
    "text_gram_decay", "t_feature_asof", "emb_drift", "mm_entropy",
    "e_funnel_window", "text_langid_eval", "ann_lsh_sweep",
    "ann_knn_eval", "text_summary", "ann_cascade", "dedup_semantic_sweep",
    "g_clustering", "dq_observe",
    // round-7 additions (pure-read analytics only, per the note above)
    "ann_ivfpq", "g_adamic_adar", "dedup_containment", "ts_mann_kendall",
    "q_streaks", "t_purged_folds", "text_zipf", "ann_ivf_sweep",
    "t_skew_advisor",
    // round-8 addition (sink_time_travel is a sink entry — stays
    // correctness-gated per the policy above)
    "q_bloom_join_rule",
    // round-8 batch-2 additions (e_stream_quota is a stream entry and
    // q_mv_rewrite's cost is its MV write — both stay correctness-gated)
    "g_components", "t_impute", "text_encoding", "ts_strength",
    "mm_integrity",
    // round-8 batch-3 additions (sink_restore/sink_drop_column are
    // sink entries — correctness-gated per the policy above)
    "q_pit_join", "ts_holt", "t_feature_hash", "t_neg_sample",
    "ann_range",
    // round-8 batch-4 additions (sink_part_evolve is a sink entry and
    // e_stream_union a stream entry — correctness-gated; so is
    // dq_completeness, whose cost is its staged lake write)
    "ts_periodogram", "text_heldout", "t_scale", "dq_ks_drift",
    // round-9 addition (the catalog/streaming entries are sink/stream
    // ops — correctness-gated per the policy above)
    "g_closeness",
    // round-10 additions (the K32-K34 catalog entries are sink ops —
    // correctness-gated per the policy above)
    "g_hyperball", "ann_knn_lsh_tuned", "dedup_minhash_tuned",
    "g_betweenness", "ann_filtered", "ann_ivf_filtered",
    // round-10 batch 2: the iterative truss peel, the sketch-read
    // centrality, HW backtest, and the two heaviest lake protocols
    "g_ktruss", "g_harmonic_all", "ts_holt_winters",
    "sink_catalog_mor", "sink_branch")

  /** The scale-step set: the heaviest operators over the tables the
    * 10× blow-up synthesizes (documents/embeddings since round 6;
    * orders/lineitem since round 7, so the graph family — the worst
    * theoretical exponents in the repo — finally has empirical scale
    * evidence, per VERDICT r6 #2/#4).
    */
  val scaleStep: Seq[String] = Seq(
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_substring",
    "dedup_substring_remove", "dedup_incremental",
    "emb_kmeans", "ann_pq", "ann_knn_lsh", "text_dsir", "text_bm25",
    "text_boilerplate", "dedup_quarantine", "dedup_snm", "dedup_cdc",
    "g_pagerank", "g_kcore", "g_clustering",
    // round-8 additions (VERDICT r7 #6): the IVF family and the two
    // biggest text extended entries, never stepped before
    "ann_ivfpq", "ann_ivf_sweep", "text_transfer", "text_rake",
    // round-8 batch 2: CC over the 10× trade graph (pointer jumping —
    // rounds grow log(diameter), per-round work edge-linear)
    "g_components",
    // round-8 batch 3/4: the two heaviest new read ops, both
    // fact-join-bound over the blown-up orders/lineitem (expected
    // ≈linear: probes are |C|·m scan-side; the PIT equi-join fan-out
    // is |facts|·versions-per-key)
    "t_neg_sample", "q_pit_join")

  /** Build (once; cached by a _DONE marker) a deterministic `factor`×
    * blow-up of documents + embeddings under /tmp. Replica 0 is the
    * base data verbatim; replica r > 0 gets ids offset by r·maxId and
    * content made DISSIMILAR to every other replica — otherwise each
    * row would gain `factor−1` exact/near duplicates and pair-ops
    * would grow quadratically in the replication, measuring the plant
    * instead of the scale-up:
    *   - documents: every alphanumeric RUN suffixed `zr<r>` (a
    *     bijective rename at exactly the granularity the repo's
    *     alnum-run tokenizer produces — within-replica similarity
    *     structure is preserved exactly, across replicas no shingle
    *     ever matches). The suffix MUST fuse into the SAME normalized
    *     token: an earlier `_r<r>` variant split at the underscore
    *     and injected a replica token between every pair of real
    *     tokens, collapsing every 3-shingle to a bracketed
    *     unigram/bigram — unigram df ≫ trigram df, so PPJoin prefix
    *     fan-out measured 443× base instead of 10× (the generator
    *     manufactured a denser corpus, not a bigger one);
    *   - embeddings: dimensions cyclically rotated by r (norms and
    *     within-replica pairwise dot products are invariant under a
    *     common permutation; across replicas the rotated dots decay
    *     to noise).
    * Duplicate DENSITY therefore stays constant while volume grows
    * `factor`× — the regime a real 10× corpus growth has.
    */
  private[graft] def ensureScaled(spark: SparkSession, sfDir: String, factor: Int): String = {
    val base = new java.io.File(sfDir).getName
    // v3: adds replicated part (t_neg_sample's step); each suffix
    // bump invalidates stale caches that lack the newer tables
    val out = s"/tmp/graft_scale${factor}x_v3_$base"
    val marker = new java.io.File(s"$out/_DONE")
    if (!marker.exists()) {
      val reps = spark.range(factor).select(col("id").cast("int").as("rep"))
      val docs = ParquetRead(spark, s"$sfDir/documents.parquet")
      val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
      docs.crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("rep") * nDocs).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("([a-zA-Z0-9]+)"),
              concat(lit("$1zr"), col("rep").cast("string"))))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = ParquetRead(spark, s"$sfDir/embeddings.parquet")
      val nVecs = emb.agg(max("vec_id")).head.getLong(0) + 1
      val d = size(col("embedding"))
      emb.crossJoin(broadcast(reps))
        .select(
          (col("vec_id") + col("rep") * nVecs).as("vec_id"),
          concat(slice(col("embedding"), col("rep") + 1, d - col("rep")),
            slice(col("embedding"), lit(1), col("rep"))).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      // trade tables (graph-family steps): `factor` disconnected
      // replicas with key-offset renumbering — node and edge count
      // grow factor×, the degree distribution is invariant, so
      // duplicate/triangle DENSITY stays constant while volume grows
      // (the same constant-density regime the document blow-up holds).
      // o_orderkey/l_orderkey share one offset so the join keys still
      // line up within each replica.
      val orders = ParquetRead(spark, s"$sfDir/orders.parquet")
      val li = ParquetRead(spark, s"$sfDir/lineitem.parquet")
      val oMax = orders.agg(max("o_orderkey").cast("long"),
        max("o_custkey").cast("long")).head
      val (maxO, maxC) = (oMax.getLong(0) + 1, oMax.getLong(1) + 1)
      val lMax = li.agg(max("l_suppkey").cast("long"),
        max("l_partkey").cast("long")).head
      val (maxS, maxP) = (lMax.getLong(0) + 1, lMax.getLong(1) + 1)
      orders.crossJoin(broadcast(reps))
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxO)
        .withColumn("o_custkey", col("o_custkey") + col("rep") * maxC)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      li.crossJoin(broadcast(reps))
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxO)
        .withColumn("l_suppkey", col("l_suppkey") + col("rep") * maxS)
        .withColumn("l_partkey", col("l_partkey") + col("rep") * maxP)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // part replicates under the SAME l_partkey offset so lineitem's
      // foreign keys stay resolvable within each replica (t_neg_sample
      // probes the contiguous part-key space modulo |part|)
      ParquetRead(spark, s"$sfDir/part.parquet")
        .crossJoin(broadcast(reps))
        .withColumn("p_partkey", col("p_partkey") + col("rep") * maxP)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      marker.createNewFile()
    }
    out
  }

  /** A query's bench timing: the median, min and spread (max − min) of
    * its warm runs, and `iters`, every run in RUN ORDER (cold first)
    * so run-over-run degradation inside one JVM — the r7 g_clustering
    * pathology — is visible in the artifact itself rather than
    * inferred from cross-block comparisons.
    */
  private[graft] final case class Timing(median: Double, min: Double, spread: Double,
                                         iters: Seq[Double])

  /** One timed run of query `name` over `dir`, in seconds. */
  private[graft] def runOnce(spark: SparkSession, name: String, dir: String): Double = {
    // free every checkpoint held across calls (the G2/G8 triangle
    // stream, D3's candidates) before EVERY timed run: the bench grades
    // the full pipeline at each scale, not memo reuse — otherwise the
    // scale-step ratio of a shared-pass operator would measure
    // cache-hit arithmetic and read as fake sub-linearity
    CheckpointIds.release(spark)
    val t0 = System.nanoTime()
    // full materialization: a bare .count() lets Catalyst prune the
    // projected expressions (and drop final sorts) under
    // Aggregate(count(1)), so pure-projection queries would report the
    // scan, not the work; the noop sink evaluates every column
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Time query `name` over `dir` the way every bench block grades it:
    * one cold run (codegen + file listing), then three warm runs. `each`
    * sees every run's seconds as it finishes.
    */
  private[graft] def timeQuery(spark: SparkSession, name: String, dir: String,
                               each: Double => Unit = _ => ()): Timing = {
    def run(): Double = {
      val sec = runOnce(spark, name, dir)
      each(sec)
      sec
    }
    val cold = run()
    // drop the previous query's broadcast/cache garbage so each
    // measurement sees a clean heap, not its predecessor's GC debt
    spark.catalog.clearCache()
    System.gc()
    val warm = Seq.fill(3)(run())
    val sorted = warm.sorted
    Timing(sorted(sorted.length / 2), sorted.head, sorted.last - sorted.head, cold +: warm)
  }

  /** `{"k":v,…}` with three decimals: the artifact's number maps. */
  private[graft] def json(vals: collection.Seq[(String, Double)]): String =
    vals.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

  /** Spawn [[BenchScale]] in a fresh JVM (same java, same classpath,
    * same JVM options — read off this process) and parse its one JSON
    * line into (raw scale_step object, ratio pairs). None on any
    * failure — the caller then degrades to the in-process block.
    *
    * `budgetS` is the REMAINING wall budget of the parent bench
    * (VERDICT r14 #1: the spawned block ran unbudgeted, so a run whose
    * headline+extended finished inside budget still blew past it by
    * the whole scale block); BenchScale truncates between entries once
    * exceeded and reports the cut honestly in its own line.
    */
  private def runIsolatedScale(sfDir: String, factor: Int, budgetS: Double)
      : Option[(String, Seq[(String, Double)])] =
    try {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs)
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.BenchScale"); cmd.add(sfDir); cmd.add(factor.toString)
      cmd.add(f"$budgetS%.0f")
      val pb = new ProcessBuilder(cmd)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().toList
      val code = proc.waitFor()
      val line = out.reverseIterator.find(_.trim.startsWith("{"))
      if (code != 0 || line.isEmpty) return None
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(line.get.trim)
      val ratioNode = node.get("ratio")
      val ratios = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val it = ratioNode.fieldNames()
      while (it.hasNext) { val k = it.next(); ratios += (k -> ratioNode.get(k).asDouble()) }
      Some((line.get.trim, ratios.toSeq))
    } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    // Driver contract: ONE parseable JSON line on stdout. Round 6's
    // driver artifact came back `parsed: null` because other stdout
    // writers (Spark/Ivy banners, third-party prints) pushed the JSON
    // line out of the captured tail — so stdout is handed to stderr
    // for the whole run and restored only to print the result, making
    // the JSON the FIRST (and only) stdout line regardless of what
    // anything else prints.
    val realOut = System.out
    System.setOut(System.err)
    scala.Console.withOut(System.err) { runBench(realOut) }
  }

  private def runBench(realOut: java.io.PrintStream): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession
      .builder(appName = "graft-bench", master = s"local[$cpus]",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    // ERROR, not WARN: the contract is ONE JSON line on stdout; the
    // remaining WARNs (WindowExec on deliberately-global bounded
    // windows, e.g. the |days|-row rolling frames) are design-noted in
    // their operators and only spam the bench tail here.
    spark.sparkContext.setLogLevel("ERROR")

    // load sentinel (VERDICT r11 #3): fixed-cost probe + loadavg
    // recorded beside every entry so the artifact self-reports its
    // noise level (see [[BenchSentinel]])
    def benchOne(name: String, dir: String): Timing = {
      val t = timeQuery(spark, name, dir)
      BenchSentinel.record(spark, name)
      t
    }

    // Wall-clock budget (VERDICT r12 #1, tightened r14 #1): BENCH_r12/
    // r13 came back rc 124 / parsed null — r12 because the summary
    // printed only after the FULL suite, r13 because the first
    // emission still waited for the whole headline BLOCK and the
    // driver's kill landed before it. Three fixes, all here: (a) a
    // contract-shaped SKELETON line (value 0.0, queries {}, blocks [],
    // job_cost zeros) prints IMMEDIATELY after session init — before
    // any benchmark work — and the line is then RE-EMITTED after every
    // headline entry, every 10 extended entries, and every block, each
    // emission a complete contract object enriched with everything
    // done so far, so a kill at ANY point leaves a parseable line on
    // stdout; (b) a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S,
    // default 1200 s) truncates headline/extended between entries and
    // skips later blocks once exceeded, exiting rc 0 with a partial
    // artifact instead of being killed with none; (c) one stderr
    // heartbeat per entry, so the next rc-124 log tail shows WHERE the
    // clock went instead of dying silently at session init.
    val startNanos = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNanos) / 1e9
    val budgetS: Double = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1200.0)
    def overBudget: Boolean = elapsedS > budgetS
    val skippedBlocks = scala.collection.mutable.ArrayBuffer[String]()
    val truncatedEntries = scala.collection.mutable.ArrayBuffer[String]()

    def heartbeat(msg: String): Unit = {
      System.err.println(f"BENCH-HEARTBEAT elapsed=$elapsedS%.1f $msg")
      System.err.flush()
    }

    def jsonField(rs: collection.Seq[(String, Timing)], f: Timing => Double): String =
      json(rs.map { case (k, t) => k -> f(t) })

    // the headline results accumulate HERE so emissions mid-block see
    // the entries finished so far (r14 #1: the first parseable line
    // must not wait for the block)
    val results = scala.collection.mutable.ArrayBuffer[(String, Timing)]()
    def total: Double = results.map(_._2.median).sum

    // Per-job fixed-cost probe (the second calibration channel — see
    // [[BenchSentinel.measure]]): measured right after the skeleton emission
    // so it rides in every later line; sweep/iterative entry deltas
    // are then adjudicated against it in-artifact (jobs × per-job
    // cost, where one job costs trivial_ms / 2: trivial_ms times one
    // trivial action, 2 jobs under AQE) instead of via a separate
    // runMain after the fact.
    // Until measured, the skeleton carries zeros (contract shape kept).
    var jobCostJson = ""","job_cost":{"trivial_ms":0.00,"agg32_ms":0.00}"""

    // One contract-shaped line per emission: metric/value/unit/
    // queries/sf are always present (the headline block runs first and
    // IS the metric), later emissions append the richer fields. The
    // driver's parser reads whichever line its tail capture retains —
    // every emission parses to a valid summary. `blocks` lists only
    // blocks that COMPLETED (skipped ones live solely in
    // skipped_blocks — a parser keying on `blocks` must never misread
    // a truncated run as complete; advice, round 13).
    def emit(blocks: Seq[String], extras: String): Unit = {
      val skipJson =
        if (skippedBlocks.isEmpty && truncatedEntries.isEmpty) ""
        else {
          // count + first-3 names only: the driver captures a ~2 KB
          // stdout tail, and a fully-truncated extended block is 124
          // names ≈ 2 KB by itself — it would push the line's own
          // contract fields out of the capture
          val sk = skippedBlocks.map("\"" + _ + "\"").mkString("[", ",", "]")
          val tr = truncatedEntries.take(3).map("\"" + _ + "\"").mkString("[", ",", "]")
          s""","skipped_blocks":$sk,"truncated_n":${truncatedEntries.size},"truncated_first":$tr"""
        }
      val blocksJson = blocks.map("\"" + _ + "\"").mkString("[", ",", "]")
      realOut.println(f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":${jsonField(results.toSeq, _.median)},"blocks":$blocksJson$extras$skipJson$jobCostJson,"elapsed_s":$elapsedS%.1f,"budget_s":$budgetS%.0f${BenchSentinel.compactJson},"sf":"$sfDir","full":"BENCH_FULL_latest.json"}""")
      realOut.flush()
    }

    // FIRST emission: the skeleton, before any benchmark work — a
    // driver kill from here on always finds a parseable contract line
    emit(Seq.empty, "")
    heartbeat("session up, skeleton emitted; measuring job cost")
    val (jobCostMs, aggCostMs) = BenchSentinel.measure(spark, nTrivial = 30, nAgg = 8)
    jobCostJson = f""","job_cost":{"trivial_ms":$jobCostMs%.2f,"agg32_ms":$aggCostMs%.2f}"""
    emit(Seq.empty, "")
    heartbeat(f"job cost measured (trivial action, 2 jobs under AQE: $jobCostMs%.1f ms); headline starts")

    // names that have drifted out of the registry are REPORTED, not
    // silently absent — otherwise a rename would keep a complete block
    // out of `blocks` forever with no artifact field explaining why
    // (review pass 3, round 14); completion is judged against the
    // KNOWN names
    val knownHeadline = headline.filter(SparkEntry.queries.contains)
    val knownExtended = extended.filter(SparkEntry.queries.contains)
    ((headline ++ extended).toSet -- SparkEntry.queries.keySet).foreach(n =>
      heartbeat(s"WARNING bench entry '$n' is not in SparkEntry.queries"))

    // headline: re-emit the contract line after EVERY entry (r14 #1)
    knownHeadline.foreach { n =>
      if (overBudget) truncatedEntries += n
      else {
        val t = benchOne(n, sfDir)
        results += (n -> t)
        heartbeat(f"headline ${results.size}/${knownHeadline.size} $n median=${t.median}%.3f")
        emit(Seq.empty, s""","headline_done":${results.size},"headline_n":${knownHeadline.size}""")
      }
    }
    // a block is listed in `blocks` only when EVERY entry ran — a
    // budget-truncated block stays out (its names are in
    // truncated_entries), per the round-13 advice on blocks honesty
    def headlineBlock: Seq[String] =
      if (results.size == knownHeadline.size) Seq("headline") else Seq.empty
    emit(headlineBlock, "")
    heartbeat(s"headline block done (${results.size}/${headline.size})")

    val ext = scala.collection.mutable.ArrayBuffer[(String, Timing)]()
    def extTotalJson = f""","extended_total":${ext.map(_._2.median).sum}%.3f"""
    knownExtended.foreach { n =>
      if (overBudget) truncatedEntries += n
      else {
        val t = benchOne(n, sfDir)
        ext += (n -> t)
        heartbeat(f"extended ${ext.size}/${knownExtended.size} $n median=${t.median}%.3f")
        if (ext.size % 10 == 0)
          emit(headlineBlock,
            extTotalJson + s""","extended_done":${ext.size},"extended_n":${knownExtended.size}""")
      }
    }
    def extBlock: Seq[String] =
      if (ext.size == knownExtended.size) Seq("extended") else Seq.empty
    emit(headlineBlock ++ extBlock, extTotalJson)
    heartbeat(s"extended block done (${ext.size}/${knownExtended.size})")

    // scale-step: heaviest operators at 10× volume. Run in a FRESH
    // JVM ([[BenchScale]]) so the committed ratios are ISOLATED
    // two-decade measurements — three rounds of session-tail blocks
    // reported 10–15× ratios whose isolated truth was 5–7× (the
    // accumulated JVM/GC debt of the ~100-entry session ahead of the
    // block, not super-linear work). Falls back to the in-process
    // block (flagged "isolated":false) only if the spawn fails.
    val (scaleJsonStr, scaleRatios, scaledTimings) =
      if (sys.env.contains("SPARK_GRAFT_SKIP_SCALE"))
        ("", Seq.empty[(String, Double)], Seq.empty[(String, Timing)])
      else if (overBudget) {
        skippedBlocks += "scale_step"
        ("", Seq.empty[(String, Double)], Seq.empty[(String, Timing)])
      } else runIsolatedScale(sfDir, 10, budgetS - elapsedS) match {
        case Some((line, ratios)) =>
          (s""","scale_step":$line""", ratios, Seq.empty[(String, Timing)])
        case None =>
          val factor = 10
          val scaledDir = ensureScaled(spark, sfDir, factor)
          val baseline = (results ++ ext).toMap
          val scaled = scaleStep.filter(SparkEntry.queries.contains).flatMap { n =>
            if (overBudget) { truncatedEntries += n; None }
            else Some(n -> benchOne(n, scaledDir))
          }
          val ratios = scaled.flatMap { case (n, t) =>
            baseline.get(n).map(b => n -> t.median / math.max(b.median, 1e-9)) }
          val complete = scaled.size == scaleStep.count(SparkEntry.queries.contains)
          (f""","scale_step":{"factor":$factor,"isolated":false,"complete":$complete,"queries":${jsonField(scaled, _.median)},"ratio":${json(ratios)},"total":${scaled.map(_._2.median).sum}%.3f}""", ratios, scaled)
      }

    // blocks honesty (advice, round 13): a block name enters the
    // emitted `blocks` array only when the block actually RAN — a
    // skipped scale/streaming block lives solely in skipped_blocks
    val doneBlocks = scala.collection.mutable.ArrayBuffer[String]()
    doneBlocks ++= headlineBlock
    doneBlocks ++= extBlock
    // a budget-truncated scale block stays OUT of `blocks` (its line
    // carries "complete":false and its own truncated names) — the
    // blocks-honesty contract from the r13 advice
    if (scaleJsonStr.nonEmpty && !scaleJsonStr.contains("\"complete\":false"))
      doneBlocks += "scale"

    val ratioWorstEarly = scaleRatios.sortBy(-_._2).take(3).map { case (k, r) =>
      f"""{"q":"$k","ratio":$r%.2f}""" }.mkString("[", ",", "]")
    emit(doneBlocks.toSeq,
      extTotalJson + s""","scale_ratio_worst":$ratioWorstEarly""")

    // streaming micro-batch throughput (VERDICT r7 #5): events/sec
    // over the staged feed for 5 representative state-store pipelines
    val streamEntries =
      if (sys.env.contains("SPARK_GRAFT_SKIP_STREAMING")) Seq.empty
      else if (overBudget) { skippedBlocks += "streaming"; Seq.empty }
      else graft.streaming.StreamBench.run(spark, sfDir)
    val streamingJson =
      if (streamEntries.isEmpty) ""
      else {
        val evps = streamEntries.map(e => e.name -> e.eventsPerSec)
        // per-entry JOB COUNTS (r14 #2): jobs × job_cost.trivial_ms / 2
        // (trivial_ms is one trivial action, 2 jobs under AQE) is the
        // in-artifact arithmetic that separates dispatch cost from
        // state-store work on a slow box — readable beside the sentinel
        val jobsJson = streamEntries
          .map(e => "\"" + e.name + "\":" + e.jobs).mkString("{", ",", "}")
        f""","streaming":{"events":${streamEntries.headOption.fold(0L)(_.events)},"queries":${json(streamEntries.map(e => e.name -> e.sec))},"queries_min":${json(streamEntries.map(e => e.name -> e.minSec))},"events_per_sec":${json(evps)},"jobs":$jobsJson,"total":${streamEntries.map(_.sec).sum}%.3f}"""
      }

    // per-iteration times (run order: cold, then warm) for every
    // entry whose median exceeds 5 s — the degradation observable
    // VERDICT r7 #2 asked for. The scale-step block is INCLUDED
    // (prefixed "scale:") — the r7 g_clustering pathology lived in
    // exactly that session-tail block, so excluding it would omit
    // the evidence the field exists to carry
    val slow = (results ++ ext ++
      scaledTimings.map { case (n, t) => (s"scale:$n", t) })
      .filter(_._2.median > 5.0)
    val itersJson =
      if (slow.isEmpty) ""
      else ",\"iters\":" + slow.map { case (k, t) =>
        "\"" + k + "\":" + t.iters.map(v => f"$v%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")

    // compact summary as the LAST fields of the line: the driver
    // captures only a 2000-char tail, which in r7 cut the headline
    // block entirely (VERDICT r7 "What's wrong" #3) — everything a
    // reader needs must survive tail truncation
    val worst = (results ++ ext).sortBy(-_._2.median).take(5)
    val worstJson = worst.map { case (k, t) =>
      f"""{"q":"$k","med":${t.median}%.3f,"min":${t.min}%.3f}""" }.mkString("[", ",", "]")
    val ratioWorst = scaleRatios.sortBy(-_._2).take(3)
    val ratioWorstJson = ratioWorst.map { case (k, r) =>
      f"""{"q":"$k","ratio":$r%.2f}""" }.mkString("[", ",", "]")
    val summaryJson =
      f""","summary":{"headline_total":$total%.3f,"extended_total":${ext.map(_._2.median).sum}%.3f,"worst":$worstJson,"scale_ratio_worst":$ratioWorstJson}"""

    val streamingTotalJson =
      if (streamEntries.isEmpty) ""
      else f""","streaming_total":${streamEntries.map(_.sec).sum}%.3f"""
    // the FULL verbose record (per-query medians/mins/spreads for all
    // ~300 entries, scale step, streaming, iters) outgrew both the
    // driver's JSON-line parser (BENCH_r08/r09 parsed: null) and its
    // 2000-char stdout tail — so it goes to a FILE in cwd, where the
    // end-of-round snapshot commit picks it up (VERDICT r9 "Next
    // round" #7)
    val fullLine = f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":${jsonField(results, _.median)},"queries_min":${jsonField(results, _.min)},"queries_spread":${jsonField(results, _.spread)},"extended":${jsonField(ext, _.median)},"extended_min":${jsonField(ext, _.min)},"extended_spread":${jsonField(ext, _.spread)},"extended_total":${ext.map(_._2.median).sum}%.3f$scaleJsonStr$streamingJson$itersJson$jobCostJson,"sf":"$sfDir"$summaryJson${BenchSentinel.json}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL_latest.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Exception => () } // read-only cwd: stdout lines below still carry the summary
    // final emission of the contract line, now with every COMPLETED
    // block's compact rollups (skipped blocks stay out of `blocks` —
    // advice, round 13); a run that got this far also prints the
    // BENCH-SUMMARY human line
    if (streamEntries.nonEmpty) doneBlocks += "streaming"
    emit(doneBlocks.toSeq,
      extTotalJson + streamingTotalJson +
        s""","worst":$worstJson,"scale_ratio_worst":$ratioWorstJson""")
    realOut.println(f"""BENCH-SUMMARY {"metric":"headline_total","value":$total%.3f,"unit":"sec","extended_total":${ext.map(_._2.median).sum}%.3f,"worst":$worstJson,"scale_ratio_worst":$ratioWorstJson$streamingTotalJson$jobCostJson${BenchSentinel.compactJson},"sf":"$sfDir"}""")
    realOut.flush()
    spark.stop()
  }
}
