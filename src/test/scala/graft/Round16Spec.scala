package graft

/** Round-8 specs: the D2 PPJoin candidate law at the 10× scale step,
  * the same empirical treatment Round14Spec gave ann_knn_lsh (the other
  * VERDICT r7 pin, the G2/G8 shared-cache leak, is CheckpointScopeSpec's).
  */
class Round16Spec extends SparkSpec {

  test("dedup_ngram_jaccard: PPJoin candidates are corpus-linear at the 10x scale step") {
    import graft.operators.Dedup
    // The claimed scale law (Dedup.ngramJaccard): with duplicate
    // density held constant (the generator's contract — replicas are
    // shingle-disjoint bijective renames), prefix-filtered candidates
    // grow linearly with the corpus: pairs/doc ≈ invariant across the
    // step. The naive Σ df² quadratic form exists only pre-filter.
    // This measures the law rather than trusting it — VERDICT r7 #3
    // flagged the 10.93× wall ratio as needing exactly this pin.
    val scaled = Bench.ensureScaled(spark, sfDir, 10)
    def load(dir: String): (Long, Long) = {
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      val (_, cand) = Dedup.ngramJaccardCandidates(spark, dir)
      (n, cand.count())
    }
    val (n1, p1) = load(sfDir)
    val (n10, p10) = load(scaled)
    assert(n10 == 10 * n1, s"scale step must be 10x: $n1 -> $n10")
    // per-doc candidate load must hold within 2× across the step —
    // replica hash renames can reorder df-tied prefixes slightly, so
    // exact 10× is not guaranteed, but quadratic growth (100×) is
    // three doublings away from this bound
    val perDoc1 = p1.toDouble / n1
    val perDoc10 = p10.toDouble / n10
    assert(perDoc10 <= 2.0 * math.max(perDoc1, 1e-9),
      s"candidates/doc grew ${perDoc1} -> ${perDoc10} across the 10x " +
        "step — super-linear candidate growth, the PPJoin law is broken")
    RecallLog.record("dedup_ngram_jaccard", "cand_per_doc_1x", perDoc1)
    RecallLog.record("dedup_ngram_jaccard", "cand_per_doc_10x", perDoc10)
  }

  test("graft_table TVF: pinned version isolation, loud bad-pin failure, pushdown into the pinned scan") {
    import graft.sinks.ManifestStore
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val base = java.nio.file.Files.createTempDirectory("tvf_spec").toString
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(base + "/even")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .write.mode("overwrite").parquet(base + "/odd")
    def manifestOf(p: String) = spark.read.parquet(p)
      .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n_rows"))
    val man = base + "/man"
    ManifestStore.publish(spark, man, manifestOf(base + "/even"))
    val pinnedBefore = spark.sql(s"SELECT count(*) AS n FROM graft_table('$man', 1)")
      .head.getLong(0)
    // the lake moves on; the pin must not
    ManifestStore.publish(spark, man,
      manifestOf(base + "/even").unionByName(manifestOf(base + "/odd")))
    val pinnedAfter = spark.sql(s"SELECT count(*) AS n FROM graft_table('$man', 1)")
      .head.getLong(0)
    val latest = spark.sql(s"SELECT count(*) AS n FROM graft_table('$man')")
      .head.getLong(0)
    assert(pinnedAfter == pinnedBefore, "pinned v1 changed after a later publish")
    assert(latest == orders.count(), "unpinned read must see the latest version")
    // a never-committed pin fails analysis loudly, names the options
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$man', 99)").collect()
    }
    assert(err.getMessage.contains("99"), s"bad-pin error must name the version: ${err.getMessage}")
    // the TVF result is a stock parquet relation: predicates reach the
    // pinned scan as PushedFilters, not a post-scan filter only
    val plan = spark.sql(
      s"SELECT o_orderkey FROM graft_table('$man', 1) WHERE o_orderkey = 42")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"),
      s"filter must push into the pinned scan:\n$plan")
  }

  test("BloomJoinRewrite: plants might_contain on the probe side, preserves the join result, respects the flag") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.BloomJoinRewrite
    BloomJoinRewrite.ensure(spark)
    val flag = "spark.graft.bloomJoinPushdown"
    def joined = {
      val dim = Tables.load(spark, sfDir, "customer")
        .filter(col("c_acctbal") > 9000).select("c_custkey")
      Tables.load(spark, sfDir, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }
    val plain = joined.collect()
    try {
      spark.conf.set(flag, "true")
      val rewritten = joined
      val opt = rewritten.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"flag on: the bloom pre-filter must land in the optimized plan:\n$opt")
      assert(rewritten.collect().toSeq == plain.toSeq,
        "bloom pushdown changed the join result — it must be a pure pre-filter")
    } finally spark.conf.unset(flag)
    // flag off (default): plans untouched — the other registry
    // entries' joins must never see this rule
    assert(!joined.queryExecution.optimizedPlan.toString.contains("might_contain"),
      "flag off: no rewrite may happen")
  }

  test("BloomJoinRewrite: a nondeterministic creation side is never sketched") {
    // review finding (round 8): the rewrite duplicates the creation
    // subtree into the scalar subquery, so a nondeterministic filter
    // (rand) would build the bloom from a DIFFERENT evaluation than
    // the join sees and wrongly pre-drop probe rows. Guard: no
    // might_contain may appear when the filter is nondeterministic.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.BloomJoinRewrite
    BloomJoinRewrite.ensure(spark)
    val flag = "spark.graft.bloomJoinPushdown"
    try {
      spark.conf.set(flag, "true")
      val dim = Tables.load(spark, sfDir, "customer")
        .filter(rand(7) < 0.5).select("c_custkey")
      val out = Tables.load(spark, sfDir, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"))
      assert(!out.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "nondeterministic creation side must not be duplicated into a bloom")
    } finally spark.conf.unset(flag)
  }

  test("hand-data: graft_table TVF returns exactly the pinned rows (literal 5-row lake)") {
    // the §6 standing-gate hand-data spec for K24: fixed literal rows,
    // expected output computed by hand, independent of any oracle SQL
    import graft.sinks.ManifestStore
    import org.apache.spark.sql.functions._
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val base = java.nio.file.Files.createTempDirectory("tvf_hand").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .coalesce(1).write.parquet(base + "/a")
    Seq((3L, 30.0), (4L, 40.0), (5L, 50.0)).toDF("k", "v")
      .coalesce(1).write.parquet(base + "/b")
    def manifestOf(p: String) = spark.read.parquet(p)
      .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n_rows"))
    val man = base + "/man"
    ManifestStore.publish(spark, man, manifestOf(base + "/a"))
    ManifestStore.publish(spark, man,
      manifestOf(base + "/a").unionByName(manifestOf(base + "/b")))
    // hand-computed: v1 = {10, 20} → n=2 sum=30; latest adds {30,40,50} → n=5 sum=150
    val v1 = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM graft_table('$man', 1)").head
    assert((v1.getLong(0), v1.getDouble(1)) == ((2L, 30.0)), s"v1 got $v1")
    val v2 = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM graft_table('$man')").head
    assert((v2.getLong(0), v2.getDouble(1)) == ((5L, 150.0)), s"latest got $v2")
  }

  test("hand-data: BloomJoinRewrite join equals the hand-computed result on literal rows") {
    // the §6 standing-gate hand-data spec for Q50: 4 fact rows, 2 dim
    // rows, one selective dim filter — join result computed by hand
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.BloomJoinRewrite
    import spark.implicits._
    BloomJoinRewrite.ensure(spark)
    val base = java.nio.file.Files.createTempDirectory("bloom_hand").toString
    Seq((1L, 100.0), (2L, 200.0), (2L, 250.0), (3L, 300.0)).toDF("fk", "amt")
      .write.parquet(base + "/fact")
    Seq((1L, "keep"), (2L, "keep"), (3L, "drop")).toDF("dk", "tag")
      .write.parquet(base + "/dim")
    val flag = "spark.graft.bloomJoinPushdown"
    try {
      spark.conf.set(flag, "true")
      val out = spark.read.parquet(base + "/fact")
        .join(spark.read.parquet(base + "/dim").filter(col("tag") === "keep"),
          col("fk") === col("dk"))
        .agg(count(lit(1)).as("n"), sum("amt").as("s"))
      assert(out.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "the rewrite must fire on this shape")
      val r = out.head
      // hand-computed: keys {1,2} survive the dim filter → rows
      // (1,100), (2,200), (2,250) → n=3, sum=550
      assert((r.getLong(0), r.getDouble(1)) == ((3L, 550.0)), s"got $r")
    } finally spark.conf.unset(flag)
  }

  test("sink_optimize: OPTIMIZE with nothing to compact is a no-op, not a failure") {
    // threshold 0 puts every manifest file above the small-file bar —
    // the healthy-table case larger SFs reach naturally; before the
    // round-8 guard this threw UNABLE_TO_INFER_SCHEMA on the empty
    // spark.read.parquet list
    val out = graft.queries.IOQueries.sinkOptimize(spark, sfDir,
      smallRowThreshold = 0L)
    val rows = out.collect()
    assert(rows.nonEmpty, "no-op OPTIMIZE must still return the rollup")
    assert(rows.forall(!_.getBoolean(rows.head.fieldIndex("optimized"))),
      "nothing was rewritten, so the optimized flag must be false")
  }
}
