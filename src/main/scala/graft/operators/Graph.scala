package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointIds

import graft.Tables

/** Graph analytics over relationally-derived graphs — the genre of
  * corpus/warehouse work where the GRAPH is an artifact of joins
  * (who-bought-from-whom, co-occurrence) rather than stored edges.
  * Complements [[Dedup.clusterLabels]] (D8's connected components):
  * these are the centrality/structure measures that run AFTER an
  * entity graph exists.
  *
  * Everything here is exact integer arithmetic (micro-longs, `div`),
  * so the DuckDB oracle replays bit-for-bit — the same determinism
  * contract every iterative operator in this repo holds (k-means, GD
  * training, connected components).
  */
object Graph {

  /** The orders⋈lineitem trade join with the shared node-id encoding
    * (customers even `2·custkey`, suppliers odd `2·suppkey+1`,
    * `l_partkey` riding along for the part-mediated graphs) — the one
    * derivation every graph operator starts from, factored so the
    * encoding cannot drift between operators (review finding, round
    * 8). Column pruning drops whichever columns a caller ignores, so
    * sharing costs nothing in the scan.
    */
  private def tradeRows(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
    // spread the few-split lineitem scan before the join: the broadcast
    // probe, node-id arithmetic and every consumer's first partial
    // aggregate otherwise run at the scan's split count (3 tasks at
    // sf0.1 — measured r15 as the serial first stage of every
    // trade-graph operator; the partsGraph build got the same fix in
    // r14). Row-preserving round-robin: every consumer aggregates or
    // distincts, so placement never reaches the output.
    val l = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_partkey")
      .repartition(spark.sparkContext.defaultParallelism)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cust_node"),
        (col("l_suppkey") * 2 + 1).as("supp_node"),
        col("o_custkey"), col("l_suppkey"), col("l_partkey"))
  }

  /** A directed (src, dst, …) pair set walked in both directions: every
    * row plus its reverse, any other column (an edge weight) riding
    * along.
    */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.unionByName(pairs.select(col("dst").as("src") +: col("src").as("dst") +:
      pairs.columns.filterNot(Set("src", "dst")).toSeq.map(col): _*))

  /** G1: fixed-iteration PageRank over the customer↔supplier trade
    * graph (nodes: customers as `2·custkey`, suppliers as
    * `2·suppkey+1`; one undirected edge per distinct
    * customer-bought-from-supplier fact, walked in both directions —
    * reference's relational data graded as a graph, the
    * "who is central to the trade network" question).
    *
    * Determinism/oracle contract: ranks are micro-longs; one
    * iteration is `r' = 150000 + (85 · Σ_in (r div deg)) div 100`
    * (damping 0.85 with every double replaced by exact integer ops),
    * so `iters` unrolled CTE stages in DuckDB reproduce the Spark
    * loop exactly — no tolerance, hash-match.
    *
    * Scale shape: the edge list is built ONCE (distinct pair join,
    * then symmetrized) and `localCheckpoint`ed with its degree column
    * riding along, so each of the `iters` rounds is exactly one
    * edges⋈ranks equi-join (ranks is nodes-sized, the small side at
    * any SF; its checkpoint states its size, so the plan broadcasts it
    * and never shuffles the edges) plus one map-side-combined sum
    * shuffled on dst. Round 1 reads the edges alone: r₀ is uniform.
    * Per-round traffic is O(|edges|) longs, rounds are checkpointed so
    * plans stay constant-size — the D8 iterative pattern. Dangling
    * nodes cannot exist (symmetrized edges give every node out-degree
    * ≥ 1).
    */
  def pageRank(spark: SparkSession, dir: String,
               iters: Int = 5, topK: Int = 20): DataFrame = {
    val bought = tradeRows(spark, dir)
      .select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .distinct()
    pageRankOf(bought, iters, topK)
  }

  /** [[pageRank]]'s core over ANY distinct directed pair set (walked
    * in both directions) — split out so specs can feed hand graphs.
    */
  private[graft] def pageRankOf(pairs: DataFrame, iters: Int, topK: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val edges = undirected(pairs)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      val ranks =
        if (iters == 0) deg.select(col("src").as("node"), lit(1000000L).as("r"))
        else {
          val withDeg = cp(edges.join(deg, "src"))
          // r₀ is 1e6 at every node, so round 1 reads no rank frame:
          // each edge carries `1000000 div d`
          val first = cp(rankSum(withDeg.select(col("dst"), expr("1000000L div d").as("c"))))
          cp.iterate(first, iters - 1)(ranks => cp(pageRankRound(withDeg, ranks)))(_ => false)._1
        }
      ranks
        .orderBy(col("r").desc, col("node"))
        .limit(topK)
        .select(col("node"), col("r").as("rank_micro"))
    }

  /** One [[pageRankOf]] round over the edges with their source's
    * degree (`src`, `dst`, `d`) and the previous round's `ranks`
    * (`node`, `r`).
    */
  private[graft] def pageRankRound(withDeg: DataFrame, ranks: DataFrame): DataFrame =
    rankSum(withDeg
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst"), expr("r div d").as("c")))

  // a round's new ranks from its per-edge contributions (`dst`, `c`)
  private def rankSum(contrib: DataFrame): DataFrame =
    contrib.groupBy("dst").agg(sum("c").as("s"))
      .select(col("dst").as("node"), expr("150000L + (85L * s) div 100L").as("r"))

  /** G4: personalized PageRank — G1's walk with the teleport
    * concentrated on a SEED COHORT (one nation's customers): "who is
    * central to THESE buyers" instead of the whole network, the
    * recommendation/fraud-neighborhood primitive (seeded random walk
    * ≈ relatedness to the cohort). Same exact-integer contract as G1:
    * r_i(v) = (150000 if v ∈ seeds else 0) + (85·Σ_in r_{i−1} div d)
    * div 100, r_0 = 1e6 on seeds and 0 elsewhere — every double
    * replaced by integer ops, so `iters` unrolled CTE stages in
    * DuckDB replay hash-exact.
    *
    * Scale shape is G1's: edges built once and checkpointed with
    * degrees riding along; the per-node reset vector is checkpointed
    * once and joined back each round (nodes-sized — AQE broadcasts
    * it); per-round traffic is O(|edges|) longs. Non-seed mass decays
    * geometrically, which is why the top-k concentrates around the
    * cohort's actual trading partners.
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
                           iters: Int = 5, topK: Int = 20): DataFrame = {
    val bought = tradeRows(spark, dir)
      .select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .distinct()
    val seeds = Tables.load(spark, dir, "customer")
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("snode"))
    pprOf(bought, seeds, iters, topK)
  }

  /** [[personalizedPageRank]]'s core over ANY distinct directed pair
    * set (walked both directions) and seed-node set.
    */
  private[graft] def pprOf(pairs: DataFrame, seeds: DataFrame,
                           iters: Int, topK: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val edges = undirected(pairs)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      val reset = cp(deg.select(col("src").as("node"))
        .join(seeds.select(col("snode").as("node"), lit(150000L).as("rv")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("rv"), lit(0L)).as("reset")))
      val withDeg = cp(edges.join(deg, "src"))
      val init = cp(reset
        .select(col("node"), when(col("reset") > 0, 1000000L).otherwise(0L).as("r")))
      val (ranks, _) = cp.iterate(init, iters) { ranks =>
        cp(withDeg
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .select(col("dst"), expr("r div d").as("c"))
          .groupBy("dst").agg(sum("c").as("s"))
          .join(reset.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("dst").as("node"),
            (col("reset") + expr("(85L * s) div 100L")).as("r")))
      }(_ => false)
      ranks.join(reset, Seq("node"))
        .orderBy(col("r").desc, col("node"))
        .limit(topK)
        .select(col("node"), col("r").as("rank_micro"),
          (col("reset") > 0).as("is_seed"))
    }

  /** G3: community detection by synchronous label propagation (LPA,
    * Raghavan et al. 2007) over the customer↔supplier trade graph —
    * the clustering that groups a trade network into dense buying
    * blocs without a k parameter, and the standard cheap community
    * pass over any relationally-derived entity graph.
    *
    * Determinism/oracle contract: every node starts labeled with its
    * own id; each of the `iters` SYNCHRONOUS rounds relabels every
    * node with its neighbors' most frequent label, ties broken to the
    * SMALLEST label (classic async LPA is run-order-dependent; the
    * synchronous min-tie-break variant is a pure function of the
    * graph, so `iters` unrolled CTE stages in DuckDB replay it
    * hash-exact — the G1 contract). Fixed rounds, not
    * run-to-convergence: synchronous LPA can 2-cycle on bipartite
    * structure, so convergence is not claimed and not needed for a
    * deterministic community assignment.
    *
    * Scale shape: the symmetrized edge list is checkpointed once;
    * each round is one edges⋈labels equi-join (labels is nodes-sized
    * — AQE broadcasts it at small SF, hash-joins at scale) feeding
    * two map-side-combinable aggregations: (dst, label) → count, then
    * dst → max(struct(count, −label)) — the argmax-by-(count, min
    * label) without a window over the full adjacency stream. Per-round
    * traffic is O(|edges|) longs; rounds are checkpointed so plans
    * stay constant-size (the D8/G1 iterative pattern).
    */
  def labelProp(spark: SparkSession, dir: String, iters: Int = 4): DataFrame = {
    val bought = tradeRows(spark, dir)
      .select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .distinct()
    labelPropOf(bought, iters)
  }

  /** [[labelProp]]'s core over ANY distinct directed pair set (walked
    * in both directions) — split out so specs can feed hand graphs.
    */
  private[graft] def labelPropOf(pairs: DataFrame, iters: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val edges = cp(undirected(pairs))
      val init = cp(edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
      val (labels, _) = cp.iterate(init, iters) { labels =>
        cp(edges
          .join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("dst").as("node"), (-col("m.nl")).as("label")))
      }(_ => false)
      labels.select(col("node"), col("label").as("community")).orderBy("node")
    }

  /** G2: exact triangle counting over the co-ordered-parts graph
    * (undirected edge between two parts iff some order contains both —
    * the co-occurrence projection every market-basket / related-items
    * pipeline builds).
    *
    * Scale shape — the classic degree-orientation bound (Schank &
    * Wagner; MapReduce formulation in Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer"): orient every edge
    * from its lower-(degree, id) endpoint to the higher one. The
    * oriented out-degree is O(√|E|) REGARDLESS of how skewed the raw
    * degree distribution is. Counting then runs the EDGE-ITERATOR
    * form — per base edge (u, v), |N⁺(u) ∩ N⁺(v)| via an in-place
    * array intersect of the two oriented adjacency lists — instead of
    * the wedge self-join, which materialized Σ deg⁺² wedge rows
    * through a shuffle (round 6's dominant graph cost). Each triangle
    * is counted exactly once (its three nodes form one ascending
    * (deg, id) path u→v→w whose base edge u→v holds w in the
    * intersection). The oriented pass and the triangle stream are
    * built once and SHARED with G8 ([[partsGraph]]).
    *
    * The co-occurrence pair build self-joins lineitem per order —
    * bounded by per-order line counts (an order is a few lines at any
    * SF), never corpus-quadratic.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val (pp, stream) = partsGraph(spark, dir)
    trianglesFrom(pp, stream)
  }

  /** WORK-MASS probe for the scale artifact (VERDICT r14 #3): the
    * operator-independent work units at `dir` — parts-graph nodes/
    * edges/TRIANGLES (the G2/G8/G15 family's work is triangle-mass-
    * bounded) and trade-graph edges (the iterative family's per-round
    * work is edge-linear). BenchScale records these at BOTH decades so
    * a step ratio can be WORK-NORMALIZED: a 13× time ratio over a 10×
    * triangle mass is 1.3× per unit work (overhead), not super-linear
    * work — the distinction three rounds of raw ratios could not make.
    */
  def workMass(spark: SparkSession, dir: String): Map[String, Long] = {
    val row = triangles(spark, dir).head()
    val tradeEdges = tradeRows(spark, dir)
      .select("cust_node", "supp_node").distinct().count()
    // document-family units (VERDICT r14 #7): dedup_cdc's shuffle and
    // arithmetic are chunk-linear (the chunker is O(total chars) and
    // chunk count tracks chars/mask); text_dsir's two aggregates and
    // doc reduce are token-linear. The 10× blow-up's `zr<r>` token
    // rename grows BOTH faster than 10× (every alnum run gains 3–4
    // chars), which raw time ratios read as super-linear compute —
    // these units let the artifact normalize that out.
    val docs = Tables.load(spark, dir, "documents")
    val cdcChunks = Dedup.cdcChunksOf(Dedup.withBoilerplate(docs), 16, 64).count()
    val dsirTokens = docs
      .select(explode(graft.queries.TextQueries.normToks).as("tok"))
      .filter(length(col("tok")) > 0).count()
    Map(
      "parts_nodes" -> row.getLong(0),
      "parts_edges" -> row.getLong(1),
      "parts_triangles" -> row.getLong(2),
      "trade_edges" -> tradeEdges,
      "cdc_chunks" -> cdcChunks,
      "dsir_tokens" -> dsirTokens)
  }

  /** The work-mass unit each graph scale-step entry's cost tracks —
    * what [[graft.BenchScale]] divides the time ratio by.
    */
  val workUnitOf: Map[String, String] = Map(
    "g_clustering" -> "parts_triangles",
    "g_pagerank" -> "trade_edges",
    "g_kcore" -> "trade_edges",
    "g_components" -> "trade_edges",
    "dedup_cdc" -> "cdc_chunks",
    "text_dsir" -> "dsir_tokens")

  /** [[triangles]]'s core over ANY distinct undirected edge set given
    * as (a, b) with a < b — split out so specs can feed hand graphs.
    */
  private[graft] def trianglesOf(pairs: DataFrame): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val pp = cp(pairs)
      trianglesFrom(pp, triangleStream(orientedOf(pp)))
    }

  /** Degree-oriented edge list (low (deg, id) endpoint → high) of a
    * distinct undirected (a, b) pair set — the Schank–Wagner
    * orientation bounding out-degree at O(√E) regardless of hub skew.
    */
  private def orientedOf(pp: DataFrame): DataFrame = {
    val deg = pp.select(col("a").as("n"))
      .unionByName(pp.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDegs = pp
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    withDegs
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
  }

  /** Triangle STREAM of an oriented edge list: one row per base edge
    * (u, v) that closes ≥ 1 triangle, carrying the array of closing
    * nodes `closing` = N⁺(u) ∩ N⁺(v). Each triangle appears exactly
    * once — at its ascending-(deg, id) base edge — so
    * Σ size(closing) is the exact global count and the
    * (u, v, w ∈ closing) credits are the exact per-node counts.
    *
    * This replaces the wedge self-join (e1⋈e2 on dst=src, then the
    * closing-edge join): that plan MATERIALIZES every wedge —
    * Σ deg⁺² rows, the dominant term of G8's old 15 s — where the
    * adjacency form ships each oriented neighbor array (≤ O(√E)
    * elements by the orientation bound) to its edges and intersects
    * in place: traffic is edge-linear in array payloads, and nothing
    * wedge-shaped ever crosses a shuffle.
    */
  private def triangleStream(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy(col("src").as("n"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // re-derive each node's out-edges by exploding its own adjacency
    // row, carrying `nu` alongside — the identical (src, dst, nu) rows
    // the oriented⋈adj(src) join produced, one join cheaper (r14; the
    // payload mass is the same either way, the join just re-attached
    // what the adjacency row already held)
    adj.select(col("n").as("src"), col("nbrs").as("nu"),
        explode(col("nbrs")).as("dst"))
      .join(adj.select(col("n").as("dst"), col("nbrs").as("nv")), Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nu"),
          coalesce(col("nv"), array().cast("array<bigint>"))).as("closing"))
      .filter(size(col("closing")) > 0)
  }

  private def trianglesFrom(pp: DataFrame, stream: DataFrame): DataFrame = {
    val deg = pp.select(col("a").as("n"))
      .unionByName(pp.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val tri = stream.agg(
      coalesce(sum(size(col("closing")).cast("long")), lit(0L)).as("n_triangles"))
    val counts = pp.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    counts.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** G15: k-truss decomposition by synchronous edge peeling over the
    * co-ordered-parts graph — the cohesion rung ABOVE G7's k-core:
    * a k-core keeps nodes with k neighbors (a star qualifies — no
    * cohesion), a k-truss keeps only edges lying in ≥ k−2 triangles
    * among surviving edges, so every kept relationship is embedded in
    * overlapping triads — the community primitive product and fraud
    * work use when label propagation's communities are too loose
    * (Cohen 2008, the standard truss definition).
    *
    * Triangles are enumerated ONCE with G2's machinery —
    * degree-oriented adjacency arrays intersected in place (O(√E)
    * fan-out bound, nothing wedge-shaped crosses a shuffle), off the
    * shared cached stream G2/G8 amortize. Round 1 takes per-edge
    * support straight from that stream; rounds 2..k peel an
    * ALIVE-TRIANGLE LIST (the round-11 design, shipped in 74e5a5a):
    * a triangle is alive iff all three edges survive, and support
    * over the current edge set is exactly the alive triangles per
    * edge — so each round filters the shrinking alive list with
    * broadcast semi-joins against the survivor set (a >2M-edge core
    * degrades to hash semi-joins, no driver OOM path) and re-counts,
    * never re-running a wedge join. The list materializes only AFTER
    * the first drop, as the dense core's triangles, not the corpus's.
    * Result BIT-IDENTICAL to the kept full recompute (support is
    * monotone under peeling — spec-pinned against [[ktrussFullOf]] on
    * hand graphs AND the real parts graph). `rounds` fixed rounds
    * unrolled, checkpointed, with the no-drop fixpoint early-exit
    * (the G7 contract: fixed-round semantics replayed bit-for-bit by
    * the DuckDB unrolled-CTE oracle, not a convergence loop).
    */
  def ktruss(spark: SparkSession, dir: String,
             k: Int = 4, rounds: Int = 4): DataFrame = {
    // reuse the SHARED cached triangle stream for round 1 — the same
    // pass g_triangles/g_clustering amortize; the peel then never
    // re-enumerates the full graph's triangles
    val (pp, stream) = partsGraph(spark, dir)
    ktrussOf(pp, k, rounds, Some(stream))
  }

  /** Per-edge support (triangle counts) from an already-enumerated
    * triangle stream; edges in no triangle get no row.
    */
  private def supportFromStream(stream: DataFrame): DataFrame =
    stream
      .select(col("src").as("u"), col("dst").as("v"),
        explode(col("closing")).as("w"))
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))

  /** One full support pass: per-edge triangle counts over `edges`
    * (canonical a < b pairs); edges in no triangle get no row.
    */
  private def edgeSupport(edges: DataFrame): DataFrame =
    supportFromStream(triangleStream(orientedOf(edges)))

  /** [[ktruss]]'s core over ANY distinct undirected canonical (a < b)
    * pair set — split out so specs can feed hand graphs (a K4 clique
    * is a stable 4-truss; a pendant triangle peels at k=4).
    */
  private[graft] def ktrussOf(pairs: DataFrame, k: Int, rounds: Int,
                              stream: Option[DataFrame] = None): DataFrame = {
    // k ≤ 2 is degenerate (threshold 0 keeps every edge) and the
    // credits-only rebuild below would silently DROP triangle-free
    // edges instead — refuse rather than answer wrong
    require(k >= 3, s"k-truss is defined for k >= 3 (got $k); " +
      "the 2-truss is the whole graph")
    val edges = pairs.select("a", "b")
    // Triangles are enumerated ONCE (the wedge-join pass — from the
    // shared cached stream when available). Round 1 takes per-edge
    // support straight off that stream; the peel then keeps a list of
    // ALIVE triangles (a triangle is alive iff all three edges
    // survive; support(e) over the current edge set = alive triangles
    // containing e), so no round ever re-runs a wedge join. The alive
    // list materializes only AFTER the first drop — as triangles whose
    // three edges all sit in the (small, BROADCAST) survivor set, i.e.
    // the dense core's triangles, not the corpus's (checkpointing the
    // full triple table measured as half the operator's cost).
    val triples = stream.getOrElse(triangleStream(orientedOf(edges)))
      .select(col("src").as("u"), col("dst").as("v"),
        explode(col("closing")).as("w"))
      .select(
        least(col("u"), col("v")).as("a1"), greatest(col("u"), col("v")).as("b1"),
        least(col("u"), col("w")).as("a2"), greatest(col("u"), col("w")).as("b2"),
        least(col("v"), col("w")).as("a3"), greatest(col("v"), col("w")).as("b3"))

    def supportOf(tri: DataFrame): DataFrame = tri
      .select(explode(array(
        struct(col("a1").as("a"), col("b1").as("b")),
        struct(col("a2").as("a"), col("b2").as("b")),
        struct(col("a3").as("a"), col("b3").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))

    // Flag triangles touching the DROPPED edge set of the round — the
    // r14 incremental peel: per round only the (small) dropped set is
    // broadcast and joined, where the r13 shape broadcast the (big,
    // ~|surviving core|) survivor set three times per round AND
    // re-aggregated support over the full alive list. Support is
    // updated by DECREMENT from the dead triangles instead, which is
    // exact: a triangle dies in the round its first edge drops, each
    // dead triangle is one flagged row, and a surviving edge loses
    // exactly the dead triangles containing it. Broadcast is guarded
    // by the dropped-count upper bound; a huge first cut (sparse
    // graph) degrades to hash joins rather than a driver OOM.
    def flagDead(tri: DataFrame, dropped: DataFrame, droppedUpper: Long): DataFrame = {
      def side(aCol: String, bCol: String, flag: String) = {
        val d = dropped.select(col("a").as(aCol), col("b").as(bCol),
          lit(true).as(flag))
        if (droppedUpper <= 2_000_000L) broadcast(d) else d
      }
      tri.join(side("a1", "b1", "d1"), Seq("a1", "b1"), "left")
        .join(side("a2", "b2", "d2"), Seq("a2", "b2"), "left")
        .join(side("a3", "b3", "d3"), Seq("a3", "b3"), "left")
        .withColumn("dead",
          coalesce(col("d1"), lit(false)) || coalesce(col("d2"), lit(false)) ||
            coalesce(col("d3"), lit(false)))
        .select("a1", "b1", "a2", "b2", "a3", "b3", "dead")
    }

    def survivors(sup: DataFrame): DataFrame =
      sup.filter(col("sup") >= k - 2).select("a", "b")
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      // round 1: support from the full triangle stream; an edge in no
      // triangle has sup 0 < k-2 and drops here. The support frame is
      // kept (and decremented) across rounds. State: (support, alive
      // triangles — None until the first peel, survivor count,
      // previous survivor count).
      val sup1 = cp(supportOf(triples))
      val init = (sup1, Option.empty[DataFrame], survivors(sup1).count(), edges.count())
      val ((supFrame, _, _, _), _) = cp.iterate(init, rounds - 1) {
        case (supFrame, alive, survCount, prevCount) =>
          // dropped = this round's cut (triangle-free edges never appear
          // in supFrame — they are in no triangle, so they cannot kill
          // one); prevCount - survCount bounds it above for the
          // broadcast guard
          val dropped = supFrame.filter(col("sup") < k - 2).select("a", "b")
          val flagged = cp(flagDead(alive.getOrElse(triples), dropped, prevCount - survCount))
          // decrement surviving edges by their dead-triangle count; edges
          // of dead triangles that themselves dropped simply never match
          val decrements = flagged.filter(col("dead"))
            .select(explode(array(
              struct(col("a1").as("a"), col("b1").as("b")),
              struct(col("a2").as("a"), col("b2").as("b")),
              struct(col("a3").as("a"), col("b3").as("b")))).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"))
            .groupBy("a", "b").agg(count(lit(1)).as("dec"))
          val next = cp(supFrame.filter(col("sup") >= k - 2)
            .join(decrements, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("sup") - coalesce(col("dec"), lit(0L))).as("sup")))
          (next, Some(flagged.filter(!col("dead")).select("a1", "b1", "a2", "b2", "a3", "b3")),
            survivors(next).count(), survCount)
      } { case (_, _, survCount, prevCount) => survCount >= prevCount }
      val surv = survivors(supFrame)
      surv.select(col("a").as("node")).unionByName(surv.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("truss_degree"))
        .orderBy("node")
    }
  }

  /** The pre-round-11 full-recompute peel — one complete triangle pass
    * per round. Kept as the EQUIVALENCE REFERENCE the incremental
    * [[ktrussOf]] is spec-pinned against (Round24Spec): same survivors
    * every round by support monotonicity under peeling.
    */
  private[graft] def ktrussFullOf(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss is defined for k >= 3 (got $k)")
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val (e0, n0) = cp.counting(pairs.select("a", "b"))
      // State: (edges, edge count, previous round's edge count); an
      // unchanged count means the peel converged.
      val ((e, _, _), _) = cp.iterate((e0, n0, -1L), rounds) { case (e, n, _) =>
        val (next, nextN) = cp.counting(edgeSupport(e).filter(col("sup") >= k - 2).select("a", "b"))
        (next, nextN, n)
      } { case (_, n, prevN) => n == prevN }
      e.select(col("a").as("node")).unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("truss_degree"))
        .orderBy("node")
    }
  }

  /** G2/G8 shared pass — the co-ordered-parts pair graph and its
    * oriented triangle stream, built ONCE per snapshot of `lineitem` and
    * held checkpointed ([[CheckpointIds.shared]]): the two registry
    * entries computed the identical 3-way join independently until
    * round 7 (g_clustering alone was 18% of the extended bench), and
    * `g_triangles`, `g_ktruss`, `g_clustering` and [[workMass]] share
    * it now. The stream is triangle-mass-bounded (only
    * triangle-closing base edges survive the filter), so pinning it is
    * cheap; at 100 TB this is the "materialize the shared intermediate
    * view" decision a production pipeline makes explicitly.
    *
    * The hold is keyed on the table's path and versioned by its
    * [[Tables.snapshot]], so a `lineitem` rewritten in place is read
    * again and its stale triangles are freed. Bench releases every hold
    * before each timed run, so a run grades the full pipeline, never
    * memo reuse.
    */
  private def partsGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val snap = Tables.snapshot(spark, dir, "lineitem")
    CheckpointIds.shared(spark, s"Graph.partsGraph ${snap._1}", snap) { cp =>
      // spread the few-split parquet scan before the self-join: the
      // broadcast-join probe, pair generation and partial distinct
      // otherwise all run at the scan's task count (3 tasks at
      // sf0.1 — measured as the build's serial bottleneck, r14)
      val l1 = Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism)
      val pp = cp(l1.as("x").join(l1.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct())
      (pp, cp(triangleStream(orientedOf(pp))))
    }
  }

  /** G5: item-item Jaccard similarity over the supplier↔part
    * bipartite graph (suppliers as items, their shipped part sets as
    * feature sets) — the co-occurrence "similar items" primitive
    * behind collaborative filtering, substitute detection, and entity
    * canonicalization: J(a,b) = |P(a) ∩ P(b)| / |P(a) ∪ P(b)|.
    *
    * Scale shape (the G2 lesson applied to similarity): the naive
    * supplier×supplier form is quadratic, but every pair with a
    * nonzero intersection shares ≥ 1 part, so candidates come from a
    * per-part self-join — fan-out Σ_p deg(p)², bounded by capping
    * part degree (`maxFeatureDeg`). A part shipped by "everyone" is a
    * stop-word feature: it contributes ~0 Jaccard signal at deg² cost
    * — the hub drop every MinHash/PPJoin pipeline applies. The cap
    * filters the BIPARTITE edges before set sizes are counted, so the
    * similarity is exact over the capped feature universe (the
    * contract, stated rather than hidden). Everything after is two
    * index-linear shuffles: one (part) self-join grouped to
    * intersection counts, one join against per-supplier set sizes.
    *
    * Integer-micro Jaccard with (micro desc, a, b) tie-break →
    * hash-exact DuckDB oracle.
    */
  def jaccardPairs(spark: SparkSession, dir: String,
                   maxFeatureDeg: Int = 50, topK: Int = 25): DataFrame = {
    val sp = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()
    jaccardPairsOf(sp, maxFeatureDeg, topK)
  }

  /** G8: local clustering coefficient — G2's triangle count localized
    * per node: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), how close v's
    * neighborhood is to a clique. The per-node number is what
    * community/fraud work actually consumes (a high-degree node with
    * near-zero cc is a hub bridging strangers — bot/broker shape; a
    * high-cc node sits inside a tight cell), where G2's global count
    * only characterizes the graph.
    *
    * Scale shape: G2's shared oriented triangle stream
    * ([[partsGraph]] — built once per dir, adjacency-intersect form,
    * no wedge materialization) with two explodes over the
    * triangle-mass-bounded stream — each closed triangle credits its
    * THREE corners — then a node-sized aggregate joined to degrees.
    * Integer micro cc, top `topK` by (cc desc, node) among nodes
    * with deg ≥ 2 → hash-exact oracle.
    */
  def clusteringCoeff(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val (pp, stream) = partsGraph(spark, dir)
    clusteringFrom(pp, stream, topK)
  }

  /** [[clusteringCoeff]]'s core over ANY distinct undirected pair set. */
  private[graft] def clusteringCoeffOf(pairs: DataFrame, topK: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val pp = cp(pairs)
      clusteringFrom(pp, cp(triangleStream(orientedOf(pp))), topK)
    }

  private def clusteringFrom(pp: DataFrame, stream: DataFrame, topK: Int): DataFrame = {
    val deg = pp.select(col("a").as("n"))
      .unionByName(pp.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // each triangle credits its three corners: the base edge's two
    // endpoints get |closing| each, every closing node gets 1 — two
    // explodes over the triangle-mass-bounded stream, never a wedge
    val endpointCredits = stream.select(
      explode(array(col("src"), col("dst"))).as("n"),
      size(col("closing")).cast("long").as("c"))
    val closingCredits = stream.select(
      explode(col("closing")).as("n"), lit(1L).as("c"))
    val triNodes = endpointCredits.unionByName(closingCredits)
      .groupBy("n").agg(sum("c").as("tri"))
    deg.join(triNodes, Seq("n"), "left")
      .filter(col("d") >= 2)
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        expr("(2000000 * coalesce(tri, 0)) div (d * (d - 1))").as("cc_micro"))
      .orderBy(col("cc_micro").desc, col("node"))
      .limit(topK)
  }

  /** G7: k-core extraction by synchronous peeling — the density
    * filter run before any expensive graph analytics: iteratively
    * delete nodes with degree < k; what survives is the maximal
    * subgraph where EVERYONE has ≥ k neighbors. On the trade graph
    * this separates the committed many-relationship core from
    * one-off purchasers — the "engaged subgraph" cut that
    * community/centrality passes (G1/G3) should run on, and the
    * standard cohesion measure (Seidman 1983).
    *
    * Determinism/oracle: peeling is SYNCHRONOUS (all sub-k nodes of a
    * round drop together), so each round is a pure function of the
    * previous edge set and `rounds` unrolled CTE stages replay the
    * loop exactly. `rounds` is fixed (not run-to-convergence): each
    * extra round only re-confirms a converged core, so equal
    * intermediate states replay identically on both engines; the
    * spec pins that the default converges within the budget on the
    * bench graph.
    *
    * Scale shape: per round one degree aggregate (map-side combined)
    * + two semi-joins of the edge list against the surviving node
    * set (nodes-sized, AQE-broadcast); edges shrink monotonically;
    * rounds checkpointed (the D8/G1 iterative pattern).
    */
  def kcore(spark: SparkSession, dir: String,
            k: Int = 3, rounds: Int = 8): DataFrame = {
    val bought = tradeRows(spark, dir)
      .select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .distinct()
    kcoreOf(bought, k, rounds)
  }

  /** [[kcore]]'s core over ANY distinct directed pair set (walked in
    * both directions).
    */
  private[graft] def kcoreOf(pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val (e0, n0) = cp.counting(undirected(pairs))
      // Early-exit on convergence (r14): an unchanged edge COUNT means
      // no node dropped, so every remaining fixed round recomputes the
      // identical edge set — the result is bit-identical with or
      // without them (the scaladoc's own "extra rounds only re-confirm
      // a converged core"). The count comes from the job that
      // materializes the round's checkpoint — no job of its own.
      // State: (edges, edge count, previous round's edge count).
      val ((e, _, _), _) = cp.iterate((e0, n0, -1L), rounds) { case (e, n, _) =>
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("src")
        val (next, nextN) = cp.counting(e.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst"))
        (next, nextN, n)
      } { case (_, n, prevN) => n == prevN }
      e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_degree"))
        .orderBy("node")
    }

  /** G6: weighted single-source shortest paths by Bellman-Ford rounds
    * — relationship STRENGTH as distance on the trade graph: each
    * customer↔supplier edge weighs `max(1, 1e6 div n_facts)` micro
    * (more order lines → closer), and the output is the `topK`
    * nearest nodes to the minimum-id customer within `iters` hops.
    * This is "how close is X to this account, weighted by volume" —
    * the fraud/recommendation neighborhood query BFS hop counts
    * (Q35) cannot answer because all hops count equally there.
    *
    * Exactness/oracle: distances are exact longs (weights integer,
    * INF = 10¹⁵ sentinel safely above any 6-hop sum), each round is
    * `dist' = least(dist, min_incoming(dist_src + w))` — a pure
    * min-plus semiring step — so `iters` unrolled CTE stages replay
    * the Spark loop bit-for-bit. Ties in the final ranking break on
    * node id.
    *
    * Scale shape (the G1 pattern on the min-plus semiring): edges ⋈
    * dist equi-join + one map-side-combinable min per round, dist is
    * nodes-sized (AQE broadcasts it), edges checkpointed once, rounds
    * checkpointed so plans stay constant-size. Bounded `iters` is the
    * production contract (k-hop neighborhood), not a convergence
    * loop.
    */
  def sssp(spark: SparkSession, dir: String,
           iters: Int = 6, topK: Int = 20): DataFrame = {
    val weighted = tradeRows(spark, dir)
      .groupBy(col("cust_node").as("src"), col("supp_node").as("dst"))
      .agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), expr("1000000L div n")).as("w"))
    ssspOf(weighted, iters, topK)
  }

  /** [[sssp]]'s core over ANY weighted directed pair set (walked both
    * directions; source = the minimum node id).
    */
  private[graft] def ssspOf(weighted: DataFrame, iters: Int, topK: Int): DataFrame =
    CheckpointIds.scoped(weighted.sparkSession) { cp =>
      val INF = 1000000000000000L
      val edges = cp(undirected(weighted))
      val srcId = edges.agg(min("src")).head.getLong(0)
      val dist0 = cp(edges.select(col("src").as("node")).distinct()
        .withColumn("dist", when(col("node") === srcId, 0L).otherwise(INF)))
      // Frontier relaxation (r14): a synchronous Bellman-Ford round only
      // produces new candidates through nodes whose distance IMPROVED
      // last round — an unchanged node's out-edges were already applied.
      // Relaxing from the frontier alone yields the identical dist after
      // every round while the per-round edges⋈state join shrinks with
      // the frontier (to nothing once converged). State: (dist, frontier).
      val ((dist, _), _) = cp.iterate((dist0, dist0.filter(col("dist") < INF)), iters) {
        case (dist, frontier) =>
          val relax = edges
            .join(frontier.select(col("node").as("src"), col("dist").as("sd")), "src")
            .groupBy(col("dst").as("node"))
            .agg(min(col("sd") + col("w")).as("cand"))
          val joined = cp(dist.join(relax, Seq("node"), "left")
            .select(col("node"), col("dist").as("prev"),
              least(col("dist"), coalesce(col("cand"), lit(INF))).as("dist")))
          (joined.select("node", "dist"),
            joined.filter(col("dist") < col("prev")).select("node", "dist"))
      }(_ => false)
      dist.filter(col("dist") < INF)
        .orderBy(col("dist"), col("node"))
        .limit(topK)
        .select(col("node"), col("dist").as("dist_micro"))
    }

  /** G9: Adamic–Adar link prediction over the customer↔part
    * bipartite graph — score customer pairs by their shared PARTS,
    * each common part w contributing 1/ln(deg(w)): a rare part both
    * bought is strong relatedness evidence, a commodity everyone buys
    * is weak (Adamic & Adar 2003) — the link-prediction upgrade of
    * G5's unweighted Jaccard, the classic "related accounts" feature
    * in recommendation/fraud graphs. Parts are the intermediaries
    * (NOT suppliers: the customer↔supplier graph in this schema is
    * near-complete bipartite — every supplier trades with ~every
    * customer — which both degenerates the measure and explodes the
    * wedge join; part degrees sit around 30 at every SF, the sparse
    * regime AA is built for). Two customers are never adjacent in
    * the bipartite graph, so every scored pair is a genuine
    * prediction.
    *
    * Scale shape (G5's argument sharpened by the measure itself):
    * candidates come from the per-part wedge join — fan-out
    * Σ deg(w)², bounded by capping intermediary degree at `maxDeg`.
    * Dropping hubs is PRINCIPLED here, not just economical: a hub's
    * contribution is 1/ln(deg) → ~0, so the discarded wedges carry
    * the least signal per unit of deg² cost — the same reason the
    * measure discounts them. Scores are exact over the capped
    * universe (the G5 contract, stated).
    *
    * Exactness: per-part weight = floor(1e6/ln(d) + 0.5) micro —
    * ONE micro-rounded ln per part (the text_pmi pattern), exact
    * long sums after; full (aa desc, a, b) tie-break; TakeOrdered
    * top-K → hash-exact DuckDB oracle.
    */
  def adamicAdar(spark: SparkSession, dir: String,
                 maxDeg: Int = 50, topK: Int = 25): DataFrame = {
    val cs = tradeRows(spark, dir)
      .select(col("o_custkey").as("c"), col("l_partkey").as("s"))
      .distinct()
    adamicAdarOf(cs, maxDeg, topK)
  }

  /** [[adamicAdar]]'s candidate (wedge) count and capped-edge count,
    * split out so the scale spec can MEASURE the hub-cap law: wedge
    * rows = Σ_w d_w(d_w − 1) ≤ (maxDeg − 1) · |capped edges| — the
    * bound that makes candidate generation index-linear by
    * construction. Round15Spec builds the 10× trade tables and
    * asserts it at both scales.
    */
  private[graft] def adamicAdarStats(spark: SparkSession, dir: String,
                                     maxDeg: Int = 50): (Long, Long) = {
    val cs = tradeRows(spark, dir)
      .select(col("o_custkey").as("c"), col("l_partkey").as("s"))
      .distinct()
    val sdeg = cs.groupBy("s").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= maxDeg)
      .select("s")
    CheckpointIds.scoped(spark) { cp =>
      val (capped, nCapped) = cp.counting(cs.join(sdeg, "s"))
      val wedges = capped.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.c") =!= col("y.c")).count()
      (nCapped, wedges)
    }
  }

  /** [[adamicAdar]]'s core over ANY distinct (c, s) bipartite edge
    * set — split out so specs can feed hand graphs.
    */
  private[graft] def adamicAdarOf(cs: DataFrame, maxDeg: Int, topK: Int): DataFrame = {
    val sdeg = cs.groupBy("s").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= maxDeg)
      .select(col("s"),
        floor(lit(1e6) / log(col("d")) + 0.5).cast("long").as("w_micro"))
    // partition by the JOIN KEY before the checkpoint: AQE coalesces
    // the small capped frame to a handful of partitions and the wedge
    // self-join then ran at that task count (measured 4 tasks × ~2 s
    // at sf0.1, r14); hash-partitioned on s, both self-join sides
    // already satisfy the join's distribution — full parallelism with
    // no extra exchange
    val capped = CheckpointIds.scoped(cs.sparkSession)(cp => cp(cs.join(sdeg, "s")
      .repartition(cs.sparkSession.sparkContext.defaultParallelism, col("s"))))
    capped.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.c") < col("y.c"))
      .select(col("x.c").as("a"), col("y.c").as("b"), col("x.w_micro"))
      // pin the pair-aggregate's parallelism: its shuffle is few BYTES
      // but wedge-mass CPU, so AQE's byte-sized coalescing squeezed
      // the final aggregate onto 4 tasks (2.3 s wall at sf0.1, r14);
      // an explicit key repartition satisfies the aggregate's
      // distribution at core count — at scale this exchange is the
      // one the aggregate needed anyway
      .repartition(cs.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_micro")).as("aa_micro"))
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** [[jaccardPairs]]'s core over ANY distinct (s, p) bipartite edge
    * set — split out so specs can feed hand graphs.
    */
  private[graft] def jaccardPairsOf(sp: DataFrame, maxFeatureDeg: Int,
                                    topK: Int): DataFrame = {
    val pdeg = sp.groupBy("p").agg(count(lit(1)).as("pd"))
    val capped = CheckpointIds.scoped(sp.sparkSession)(cp => cp(
      sp.join(pdeg.filter(col("pd") <= maxFeatureDeg), "p")
        .select("s", "p")
        // partition by the join key — the G9 wedge-parallelism fix
        .repartition(sp.sparkSession.sparkContext.defaultParallelism, col("p"))))
    val ssize = capped.groupBy("s").agg(count(lit(1)).as("sz"))
    val inter = capped.as("x").join(capped.as("y"),
        col("x.p") === col("y.p") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(ssize.select(col("s").as("a"), col("sz").as("sa")), "a")
      .join(ssize.select(col("s").as("b"), col("sz").as("sb")), "b")
      .select(col("a"), col("b"), col("n_shared"),
        (col("sa") + col("sb") - col("n_shared")).as("n_union"),
        expr("(1000000L * n_shared) div (sa + sb - n_shared)").as("jaccard_micro"))
      .orderBy(col("jaccard_micro").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** G10: connected components over the REPEAT-trade graph — the
    * customer↔supplier edge kept only where the pair traded in at
    * least `minOrders` distinct orders (the full trade graph is
    * near-complete bipartite — see [[adamicAdar]]'s note — so raw CC
    * is one giant blob; thresholding to repeat relationships is the
    * standard "strong-ties backbone" projection, and the component
    * question "which trading blocs exist once one-off trades are
    * discounted" is the useful one). GraphFrames' `connectedComponents`
    * surface, Spark-native.
    *
    * Algorithm: delegates to [[graft.operators.Dedup#clusterLabels]]
    * — the shared min-label propagation + pointer-jumping core
    * (O(log diameter) rounds, checkpointed; see D8's scaladoc for the
    * scale argument). Labels converge to the component's minimum node
    * id, a pure function of the graph — schedule-independent — so the
    * DuckDB oracle can reach the same labels by a completely different
    * route (recursive-CTE transitive closure + min per node, viable
    * at oracle SF only).
    *
    * Output: one row per node with its component label and the
    * component's size — the partition map a downstream per-bloc
    * rollup or quarantine step consumes.
    */
  def components(spark: SparkSession, dir: String,
                 minOrders: Int = 2): DataFrame = {
    val repeat = tradeRows(spark, dir)
      .groupBy(col("cust_node").as("doc_a"), col("supp_node").as("doc_b"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
      .select("doc_a", "doc_b")
    val labels = Dedup.clusterLabels(repeat)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("node"), col("lbl").as("component"), col("comp_size"))
      .orderBy("node")
  }

  /** G11: LANDMARK harmonic centrality over the trade graph — "who
    * sits close to everything" without the all-pairs cost: exact
    * closeness needs V BFS trees (O(V·E), dead at scale), so the
    * production form fixes L landmark sources and measures every
    * node's harmonic sum Σ 1/d(node, lm) against them (Potamias et
    * al.'s landmark scheme; HyperBall is the sketch alternative and
    * would land as a `spec` op). Work is ONE multi-source BFS with
    * (node, landmark) state — V·L rows, L fixed — per round: an
    * equi-join frontier expansion + a min-combine, the same
    * scale shape as G6, linear in E·L per hop.
    *
    * Determinism/oracle contract: unweighted hop distances within
    * `iters` hops; per-landmark contribution = `1000000 div d` (exact
    * integer micro, no doubles anywhere); landmarks = the L smallest
    * node ids (deterministic); full (harmonic desc, node) tie-break;
    * top-K via TakeOrdered. The DuckDB oracle replays the BFS as an
    * unrolled CTE — bit-exact.
    */
  def closeness(spark: SparkSession, dir: String, iters: Int = 4,
                nLandmarks: Int = 8, topK: Int = 20): DataFrame =
    closenessOf(tradePairs(spark, dir), iters, nLandmarks, topK)

  /** G13: landmark betweenness centrality — Brandes' algorithm from a
    * fixed source cohort, the "who do shortest paths FLOW THROUGH"
    * triad-completer next to G1 (flow by random walk) and G11
    * (distance to landmarks). Exact all-sources betweenness is
    * O(V·E) — the same trap G11's landmarks dodge — so sources are
    * the L smallest node ids (deterministic) and the result is the
    * standard landmark estimate, scaled per source budget.
    *
    * Two phases, both rounds of equi-joins (the D8 iterative shape):
    * FORWARD per round r — frontier⋈edges, group by (dst, source),
    * path counts σ summed over predecessors, anti-join keeps first
    * (=shortest) discoveries only; BACKWARD down the BFS DAG —
    * dependency δ(u) = Σ_{v: d(v)=d(u)+1} σ(u)·(1e6 + δ(v)) div σ(v),
    * accumulated level by level, each (node, source) receiving its
    * whole δ in exactly one round. All arithmetic is integer micro
    * with `div` truncation — deterministic at any parallelism, and a
    * driver-side Brandes replay with the same arithmetic matches
    * EXACTLY (the spec's equality check, no tolerance). Per-round
    * traffic is O(E·L); state is (node, source)-sized.
    */
  def betweenness(spark: SparkSession, dir: String, iters: Int = 4,
                  nSources: Int = 8, topK: Int = 20): DataFrame =
    betweennessOf(tradePairs(spark, dir), iters, nSources, topK)

  private[graft] def betweennessOf(pairs: DataFrame, iters: Int,
                                   nSources: Int, topK: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val edges = cp(undirected(pairs))
      val sources = edges.select(col("src").as("node")).distinct()
        .orderBy("node").limit(nSources)
      // Per-level frames (r14): each BFS level is its own checkpointed
      // frame — the accumulated dist is a union of materialized frames
      // (free to read), never re-checkpointed per round, and the
      // backward pass reads level r as frames(r) instead of filtering
      // the whole accumulated table. The state is the level vector, so
      // every level stays live through the backward pass.
      val init = Vector(cp(sources
        .select(col("node"), col("node").as("s"), lit(0).as("d"), lit(1L).as("sigma"))))
      val (frames, _) = cp.iterate(init, iters) { frames =>
        // anti-join build side: the LAST TWO levels suffice (VERDICT r14
        // #4, measured r15). relax emits neighbors of distance-(r-1)
        // nodes; on an undirected graph a neighbor's true distance is
        // within 1 of r-1, so any previously-seen (node, s) it can
        // re-emit lives in frames(r-1) or frames(r-2) — levels ≤ r-3
        // cannot be adjacent to the frontier and only inflate the build
        // side (O(rounds × reached) read volume across the loop).
        val seen = frames.takeRight(2).reduce(_ unionByName _)
        val relax = edges
          .join(frames.last.select(col("node").as("src"), col("s"), col("sigma")), "src")
          .groupBy(col("dst").as("node"), col("s"))
          .agg(sum("sigma").as("sigma"))
          .withColumn("d", lit(frames.length))
        frames :+ cp(relax
          .join(seen.select("node", "s"), Seq("node", "s"), "left_anti")
          .select("node", "s", "d", "sigma"))
      }(_ => false)
      // backward: level-r deltas feed level r-1; a node's whole δ
      // arrives in one round, so the union of round frames is the total
      val deltaFrames = (iters to 1 by -1).foldLeft(List.empty[DataFrame]) { (later, r) =>
        val deltaAt = later.headOption.getOrElse(
          frames(iters).select(col("node"), col("s"), lit(0L).as("dm")))
        val vRows = frames(r)
          .join(deltaAt, Seq("node", "s"), "left")
          .select(col("node").as("dst"), col("s"),
            col("sigma").as("v_sigma"),
            coalesce(col("dm"), lit(0L)).as("v_dm"))
        val uRows = frames(r - 1)
          .select(col("node").as("src"), col("s"), col("sigma").as("u_sigma"))
        cp(edges
          .join(vRows, Seq("dst"))
          .join(uRows, Seq("src", "s"))
          .select(col("src").as("node"), col("s"),
            expr("(u_sigma * (1000000L + v_dm)) div v_sigma").as("dm"))
          .groupBy("node", "s").agg(sum("dm").as("dm"))) :: later
      }
      deltaFrames.reduce(_ unionByName _)
        .filter(col("node") =!= col("s"))
        .groupBy("node")
        .agg(sum("dm").as("betweenness_micro"))
        .orderBy(col("betweenness_micro").desc, col("node"))
        .limit(topK)
    }

  /** G12: HyperBall neighborhood-function sketches — G11's sketch
    * sibling (VERDICT r9 "Next round" #4). Every node carries an HLL
    * register array sketching its ball B(v, r) = {nodes within
    * distance ≤ r}; one round is `sketch(v) ← max(sketch(v),
    * max over neighbors u of sketch(u))` — the HLL union IS
    * register-wise max ([[graft.functions.Aggregators.RegisterMax]]),
    * associative and map-side-combinable, so a round is ONE edges⋈state
    * equi-join plus one combine-aggregate moving m-int sketches, never
    * node sets. log-diameter rounds give the neighborhood function
    * N(r) = Σ_v |B(v, r)| for ALL nodes at O(E·m·log d) — the
    * all-nodes distance-distribution answer whose exact form is the
    * O(V·E) trap G11's landmarks exist to avoid.
    *
    * Output: one row per radius — estimated reachable pairs, the
    * per-radius delta, the cumulative fraction of the final mass
    * (micro), and the effective-diameter flag (first radius covering
    * ≥90% — the standard HyperANF readout). Deterministic (fixed
    * xxhash64 seed, integer-micro estimates) but sketch-approximate →
    * rows-only; the spec replays exact BFS ball sizes on the testdata
    * graph and records the measured per-radius and per-node error in
    * RECALL_r10.
    */
  /** The distinct customer→supplier trade pairs every ball/distance
    * operator walks — shared so the spec's exact-BFS replay runs over
    * the SAME graph the sketches do.
    */
  private[graft] def tradePairs(spark: SparkSession, dir: String): DataFrame =
    tradeRows(spark, dir)
      .select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .distinct()

  def hyperball(spark: SparkSession, dir: String, iters: Int = 8,
                b: Int = 7): DataFrame = {
    val perNode = hyperballNodes(spark, tradePairs(spark, dir), iters, b)
    val spark2 = spark
    import spark2.implicits._
    // iters+1 scalar rows — metadata-scale, assembled driver-side
    val byRadius = perNode.groupBy("r")
      .agg(sum("ball_micro").as("pairs_micro"), count(lit(1)).as("n_nodes"))
      .orderBy("r")
      .collect().map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
    // an edgeless graph has no state rows at all — degrade to the
    // empty readout like the rest of the G family, instead of
    // NoSuchElementException on .last (review, round 11)
    if (byRadius.isEmpty)
      return Seq.empty[(Int, Long, Long, Long, Boolean)]
        .toDF("r", "pairs_est_micro", "n_nodes", "frac_micro", "is_effective_diameter")
    val finalMass = math.max(1L, byRadius.last._2)
    val rows = byRadius.map { case (r, pairs, nNodes) =>
      (r, pairs, nNodes, pairs * 1000000L / finalMass)
    }
    val effR = rows.find(_._4 >= 900000L).map(_._1).getOrElse(iters)
    rows.toSeq
      .map { case (r, pairs, nNodes, frac) => (r, pairs, nNodes, frac, r == effR) }
      .toDF("r", "pairs_est_micro", "n_nodes", "frac_micro", "is_effective_diameter")
  }

  /** G14: ALL-NODES harmonic centrality from G12's sketches — the
    * HyperANF centrality readout: H(v) = Σ_{r≥1} (|B(v,r)|−|B(v,r−1)|)/r
    * estimated per node from the SAME register state HyperBall already
    * computes, one window projection over the per-round ball table —
    * no extra graph pass. This is the answer G11's landmarks
    * approximate from L sources, now for EVERY node at O(E·m·log d):
    * the standard sketch route to corpus-wide centrality ranking.
    * Ball deltas are clamped at 0 (the raw↔linear-counting crossover
    * can dip an estimate a hair even though registers only grow);
    * integer-micro `div` keeps the readout deterministic. Rows-only;
    * the spec grades the estimates and the top-K ranking against the
    * exact BFS harmonic, numbers in RECALL_r10.
    */
  def hyperballHarmonic(spark: SparkSession, dir: String, iters: Int = 8,
                        b: Int = 7, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perNode = hyperballNodes(spark, tradePairs(spark, dir), iters, b)
    val w = Window.partitionBy("node").orderBy("r")
    perNode
      .withColumn("prev", lag("ball_micro", 1).over(w))
      .filter(col("r") >= 1)
      .select(col("node"),
        greatest(expr("(ball_micro - prev) div r"), lit(0L)).as("contrib"))
      .groupBy("node").agg(sum("contrib").as("harmonic_micro"))
      .orderBy(col("harmonic_micro").desc, col("node"))
      .limit(topK)
  }

  /** [[hyperball]]'s per-node neighborhood function: (node, r,
    * ball_micro) for every round — the sketch estimates the spec
    * compares against exact BFS ball sizes.
    */
  private[graft] def hyperballNodes(spark: SparkSession, pairs: DataFrame,
                                    iters: Int, b: Int): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnShim, GraftHllSketch, HllBallMicro}
    CheckpointIds.scoped(spark) { cp =>
      val edges = cp(undirected(pairs))
      val regMax = udaf(graft.functions.Aggregators.RegisterMaxBytes)
      // init: each node's sketch holds exactly itself (byte-packed —
      // register idx = low b bits of xxhash64, value ρ = 1 + trailing
      // zeros of the remaining bits; GraftHllSketch.init replicates the
      // engine's own xxhash64 seed-42 exactly). One typed map over V
      // rows, once — the hot path below never touches a lambda.
      val spark2 = spark
      import spark2.implicits._
      val bb = b
      val state0 = cp(edges.select(col("src").as("node")).distinct().as[Long]
        .map(n => (n, GraftHllSketch.init(n, bb)))
        .toDF("node", "regs"))
      // HLL estimate via the codegen'd native readout, micro-floored
      // per node BEFORE any cross-node sum (partition-order-proof)
      def readout(state: DataFrame, r: Int): DataFrame =
        state.select(col("node"), lit(r).as("r"),
          ColumnShim.column(HllBallMicro(ColumnShim.expression(col("regs")), bb)).as("ball_micro"))
      // State: (registers, per-radius readouts, converged).
      val ((state, perRound, _), rounds) =
        cp.iterate((state0, Vector(readout(state0, 0)), false), iters) {
          case (state, perRound, _) =>
            val contrib = edges
              .join(state.select(col("node").as("src"), col("regs")), "src")
              .select(col("dst").as("node"), col("regs"))
            // CONVERGENCE early-exit: registers only grow, so an unchanged
            // round means every later round is identical — stop paying the
            // edge join and replicate the final estimates for the remaining
            // radii. The prev-vs-next compare rides INSIDE the round's own
            // checkpoint (one extra node-sized join in the same action, r14)
            // so the convergence readout is a cheap scan of materialized
            // rows, not a separate join job per round.
            val next = cp(state.unionByName(contrib)
              .groupBy("node").agg(regMax(col("regs")).as("regs"))
              .join(state.select(col("node"), col("regs").as("prev_regs")),
                Seq("node"), "left")
              // null-safe compare (advice r14): state is initialized over the
              // symmetric edge union so prev_regs can never be null today, but
              // a plain =!= would read a null as "unchanged" and silently
              // converge early if an init change ever violated that
              .select(col("node"), col("regs"),
                not(col("regs") <=> col("prev_regs")).as("chg")))
            val converged = next.filter(col("chg")).limit(1).count() == 0L
            val regs = next.select("node", "regs")
            (regs, perRound :+ readout(regs, perRound.length), converged)
        }(_._3)
      (perRound ++ (rounds + 1 to iters).map(readout(state, _))).reduce(_ unionByName _)
    }
  }

  /** [[closeness]]'s core over ANY undirected pair set. */
  private[graft] def closenessOf(pairs: DataFrame, iters: Int,
                                 nLandmarks: Int, topK: Int): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession) { cp =>
      val edges = cp(undirected(pairs))
      val landmarks = edges.select(col("src").as("node")).distinct()
        .orderBy("node").limit(nLandmarks)
      // Frontier BFS (r14): unweighted first arrival IS the min
      // distance, so each round relaxes only the nodes REACHED last
      // round and appends the newly-discovered (node, lm) pairs — where
      // the previous shape re-aggregated and re-checkpointed the whole
      // accumulated dist table every round. The accumulated state is a
      // union of already-materialized per-round frames (free to read),
      // and the per-round join/agg volume shrinks with the frontier.
      // State: the per-level frames, most recent (the frontier) first.
      val init = List(cp(landmarks.select(col("node"), col("node").as("lm"), lit(0L).as("dist"))))
      val (distFrames, _) = cp.iterate(init, iters) { distFrames =>
        // the last two levels suffice as the anti-join build side — the
        // same distance-±1 argument as the betweenness forward pass
        val seen = distFrames.take(2).reduce(_ unionByName _)
        val relax = edges
          .join(distFrames.head.select(col("node").as("src"), col("lm"), col("dist")), "src")
          .groupBy(col("dst").as("node"), col("lm"))
          .agg(min(col("dist") + 1L).as("dist"))
        cp(relax.join(seen.select("node", "lm"), Seq("node", "lm"), "left_anti")) :: distFrames
      }(_ => false)
      val dist = distFrames.reduce(_ unionByName _)
      dist.filter(col("dist") > 0) // a landmark's distance to itself carries no signal
        .withColumn("h", expr("1000000L div dist"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_landmarks"), sum("h").as("harmonic_micro"))
        .orderBy(col("harmonic_micro").desc, col("node"))
        .limit(topK)
    }
}
