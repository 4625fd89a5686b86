package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, ColumnShim, HyperplaneCodes, MinHashSignature, ParquetRead, ShingleHashes, SimHash64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus deduplication (SURVEY.md §2 D1–D5) — the first pass of any
  * LLM training-data pipeline.
  *
  * Scale architecture (the part that matters at 100 TB):
  *   - Nothing here is all-pairs on the corpus. Candidate pairs always
  *     come from an equi-join on a bounded blocking key (content hash,
  *     shared shingle, LSH band bucket, simhash band), so Spark executes
  *     them as ordinary shuffle joins — skew-handled by AQE.
  *   - Signatures (minhash, simhash) are computed with higher-order
  *     array functions inside the scan projection: per-document work,
  *     no explode-shuffle-reaggregate cycle, no UDFs.
  *   - The exact-verify step (true Jaccard / true cosine) runs only on
  *     the candidate set, which LSH theory bounds near-linearly for a
  *     fixed similarity threshold.
  *   - Frequency-capped shingles (`maxDf`) drop degenerate hot blocks
  *     ("the end"-type shingles shared by everything) — the classic
  *     stop-shingle cap that keeps the inverted index join skew-free.
  */
object Dedup {

  /** D1: exact dedup on the md5 of normalized text. One shuffle on the
    * 128-bit hash; survivors = min doc_id per group (deterministic).
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(md5(normText(col("text"))).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .orderBy("content_hash")

  /** D14: dedup via DELETION VECTORS — D1's decision expressed as a
    * lakehouse operation: instead of rewriting the corpus minus its
    * duplicates (data movement ∝ corpus), the non-keeper rows are
    * recorded as (file, row_index) pairs in a manifest sidecar and
    * every reader applies the vector with an anti-join — data
    * movement ∝ DUPLICATES, the payload files never rewrite (the
    * Delta deletion-vector / Iceberg positional-delete pattern).
    * Row addresses come from the parquet reader's own
    * `_metadata.file_name`/`row_index` columns — stable physical
    * positions, no synthetic id column to maintain.
    *
    * The corpus gets a planted duplicate slice first (every 9th doc's
    * text becomes one of 3 shared blobs — M6's convention), so the
    * vector is provably non-empty; keepers are min doc_id per content
    * hash (D1's rule). The vector publishes through the atomic
    * manifest commit, so readers flip to the deduped view all at
    * once. Output: the deduped corpus's aggregate + how many rows the
    * vector suppressed — the oracle replays the planting and the
    * keep-min rule directly, so a vector that deletes a keeper or
    * misses a duplicate breaks the hash.
    */
  def deleteVectors(spark: SparkSession, dir: String,
                    baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_dv").toString)
    val lake = base + "/lake"
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(lit("DUP_"), expr("doc_id div 9") % 3))
          .otherwise(col("text")).as("text"))
      .repartition(8).write.mode("overwrite").parquet(lake)
    val rows = ParquetRead(spark, lake)
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"),
        col("_metadata.file_name").as("file"),
        col("_metadata.row_index").as("row_index"))
    val keepers = rows.groupBy("h").agg(min("doc_id").as("keep_id"))
    val dv = rows.join(keepers, "h")
      .filter(col("doc_id") =!= col("keep_id"))
      .select("file", "row_index")
    graft.sinks.ManifestStore.publish(spark, base + "/dv", dv)
    // the reader path: lake + vector anti-join = the deduped view
    val (_, vec) = graft.sinks.ManifestStore.current(spark, base + "/dv")
    val deduped = rows.join(vec, Seq("file", "row_index"), "left_anti")
    deduped.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        sum(octet_length(encode(col("text"), "UTF-8"))).as("total_bytes"))
      .crossJoin(vec.agg(count(lit(1)).as("n_deleted")))
  }

  /** Spread single-file document reads across all cores: the per-doc
    * shingle/signature math is CPU-bound and must not serialize onto
    * the scan's one-partition task. On a cluster this is the shuffle
    * the downstream join needs anyway.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Distinct 3-gram shingle set per document, exploded to an inverted
    * index (shingle → doc), optionally df-capped.
    */
  private def shingleIndex(docs: DataFrame, n: Int, maxDf: Option[Int]): DataFrame = {
    val idx = spread(docs)
      .select(col("doc_id"), explode(wordShingles(col("text"), n)).as("shingle"))
    maxDf.fold(idx) { cap =>
      // stop-shingle cap: drop shingles present in more than `cap` docs.
      // The df count is a broadcast-sized aggregate (distinct shingles
      // above a cap are few by Zipf) — candidate recall for pairs whose
      // overlap is not dominated by stop-shingles is unaffected.
      val hot = idx.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("shingle")
      idx.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  /** D2: exact n-gram Jaccard near-dup with PREFIX FILTERING (the
    * PPJoin family — Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08). Exact: returns every pair with
    * J ≥ threshold, same output as a naive inverted-index self-join,
    * but the join only touches each document's *prefix* shingles.
    *
    * Why it scales: a naive shingle self-join is O(Σ df²) over ALL
    * shingles — the common ones dominate and blow up quadratically.
    * Order each document's shingle set by ascending global document
    * frequency (rare first; ties on the shingle string → total order)
    * and keep only the first `|s| − ⌈t·|s|⌉ + 1` shingles: any pair
    * with J ≥ t must share ≥1 *prefix* shingle (J ≥ t ⟹ overlap
    * ≥ t·max(|a|,|b|); if all shared shingles sat past a's prefix,
    * overlap ≤ ⌈t·|a|⌉ − 1 — contradiction). So the self-join runs on
    * the rare (low-df) half of the index only, and Σ df² collapses.
    * A length filter (t·|a| ≤ |b|) prunes candidates further, and the
    * exact Jaccard is verified per candidate from the full sets.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.5, n: Int = 3): DataFrame =
    ngramPairs(spark, dir, threshold, n).orderBy("doc_a", "doc_b")

  /** [[ngramJaccard]]'s pairs in no order, for consumers that impose
    * none of their own: [[clusterLabels]] checkpoints a union of both
    * edge directions, and Catalyst keeps a sort under a union, so a
    * sorted input cost a range-partition sample job and a range
    * shuffle that nothing read.
    */
  private[graft] def ngramPairs(spark: SparkSession, dir: String,
                                threshold: Double = 0.5, n: Int = 3): DataFrame = {
    val (sets, cand) = ngramJaccardCandidates(spark, dir, threshold, n)
    // exact verify on candidates only, from the full hashed sets
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** D2's prefix-filtered candidate stage, exposed so the scale spec
    * (Round16Spec) can measure the candidate LAW directly: with
    * duplicate density held constant, PPJoin candidates are
    * corpus-linear (pairs/doc ≈ invariant across a 10× step) — the
    * quadratic Σ df² form exists only pre-filter. Returns (sets,
    * candidates) so the public operator verifies from the same sets.
    */
  private[graft] def ngramJaccardCandidates(
      spark: SparkSession, dir: String,
      threshold: Double = 0.5, n: Int = 3): (DataFrame, DataFrame) = {
    // Per-doc distinct shingle sets as 8-byte hash ids (the native
    // codegen'd [[ShingleHashes]] — one compiled loop per row), built
    // once behind the spread exchange. Every downstream join/intersect
    // moves longs, not ~25-byte gram strings — ~3× less shuffle and
    // far cheaper compares. Jaccard over the hashed sets equals true
    // Jaccard unless ids collide within a pair's union
    // (P ≈ |union|²/2⁶⁵ — negligible).
    // No explicit size(sh) > 0 filter (r14): it was redundant —
    // empty-set docs yield no index rows so they can never be
    // candidates, and every consumer inner-joins against candidate
    // docs. Removing it takes the pushed-down double evaluation of
    // shingle_hashes out of the VERIFY-side scans; the index side
    // still gets an equivalent filter re-inferred under the explode
    // (InferFiltersFromGenerate), which is the optimizer's own
    // trade-off, not this operator's.
    val sets = spread(Tables.load(spark, dir, "documents")
        .select(col("doc_id"), shingleHashesCol(col("text"), n).as("sh")))
    val sz = size(col("sh"))
    // prefix length = |s| − ⌈t·|s|⌉ + 1, computed from the carried sz
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    // Global ascending-df order (rarest first), ties on the hash — the
    // classic PPJoin prefix order. It costs a df aggregate plus a
    // per-doc window rank over the inverted index (two index-linear
    // shuffles), and collapses the candidate set to near the true pair
    // count: measured 429k → ~1k candidates on the 5k-doc bench corpus
    // vs per-row lexicographic prefixes, 15 s → ~4 s end-to-end.
    val idx = sets.select(col("doc_id"), sz.as("sz"), explode(col("sh")).as("h"))
    // df via an unordered window over h, not groupBy+join: the index
    // must shuffle by h either way (for the join it would too), but the
    // window form skips materializing the df aggregate and joining it
    // back — one pass, same two index-linear exchanges (by h, by doc)
    // NOT checkpointed (r14 negative result, kept for the record): the
    // prefix frame sits on both sides of the candidate self-join and
    // the window pass does run twice — but the broadcast-side copy
    // builds CONCURRENTLY with the probe side on idle cores, so the
    // duplicate work costs ~no wall clock, while a checkpoint barrier
    // serialized the two and measured 2.5 -> 4.4 s
    val prefix = idx
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "h")))
      .filter(col("pos") <= prefixLen)
      .select("doc_id", "sz", "h", "pos")
    // minimum overlap for J ≥ t: inter ≥ t/(1+t)·(|a|+|b|)
    val minInter = ceil(lit(threshold / (1 + threshold)) * (col("a.sz") + col("b.sz")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t ⟹ t·|a| ≤ |b| and t·|b| ≤ |a|
          col("b.sz") >= ceil(lit(threshold) * col("a.sz")) &&
          col("a.sz") >= ceil(lit(threshold) * col("b.sz")) &&
          // positional filter: elements past this match bound the
          // remaining possible overlap (valid at each pair's FIRST
          // common element, which both prefixes are guaranteed to
          // contain — later matches can only over-admit, and the
          // exact verify below removes those)
          lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >= minInter)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (sets, cand)
  }

  /** D22: shingle-containment detection — the ASYMMETRIC near-dup
    * relation Jaccard cannot see: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|,
    * "how much of a lives inside b". A short document quoted wholesale
    * by a long one has tiny Jaccard (the union is dominated by b) but
    * containment ≈ 1 — exactly the quote/boilerplate-embed/
    * subset-page structure a training-corpus dedup must catch (Lee et
    * al.'s substring work at the document-set level). Emits every
    * DIRECTED pair with C ≥ threshold.
    *
    * Scale shape: no length filter exists for containment (a 10-gram
    * doc can live inside a 10k-gram one — PPJoin's symmetric prefix
    * bounds don't apply), so candidates come from the hashed inverted
    * index under the STOP-SHINGLE df cap: Σ df² over kept shingles ≤
    * cap · |index| — index-linear by construction, the D2-cap/G9-hub
    * argument. The cap is part of the operator CONTRACT (pairs whose
    * every shared shingle is hotter than the cap are out of scope —
    * such overlap is boilerplate mass, not quotation), and the oracle
    * replays the same cap, so the result is exact over the capped
    * universe. Exact verify on candidates from the full hashed sets;
    * joins move 8-byte hashes, never gram strings.
    */
  def containment(spark: SparkSession, dir: String,
                  threshold: Double = 0.8, n: Int = 3,
                  maxDf: Int = 50): DataFrame = {
    val (sets, idx) = containmentIndex(spark, dir, n)
    val kept = idx.filter(col("df") <= maxDf)
    // Capped-intersection COUNT per directed pair: the same equi-join
    // that generated candidates, AGGREGATED instead of deduplicated —
    // one row per shared kept shingle, so count(1) per (inner, outer)
    // is exactly |sh(a) ∩ sh(b)| restricted to df ≤ maxDf shingles.
    // (r14 optimization: the distinct + array_intersect-every-candidate
    // verify paid ~2.3M set intersections at sf0.1; the count is the
    // same shuffle the distinct already did, and the bound below
    // shrinks the exact verify to near-result pairs.)
    val counted = kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .agg(count(lit(1)).as("capped_inter"))
    // Per-doc stats: full distinct-shingle count and how many of them
    // are hot (df > maxDf). The full intersection decomposes as
    // capped_inter + |hot(a) ∩ hot(b)| ≤ capped_inter +
    // min(nhot_a, nhot_b) — an upper bound with no false negatives, so
    // filtering on it before the exact verify admits every pair that
    // could reach the threshold (the PPJoin-style positional-filter
    // move applied to containment). The margin 1e-4 covers the
    // round(·, 4) in the final score: round(x,4) ≥ t ⟺ x ≥ t − 5e-5.
    val stats = idx.groupBy("doc_id").agg(
      count(lit(1)).as("sz"),
      sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("nhot"))
    // stats is one row per document — broadcast only when the corpus
    // is provably broadcast-sized (the G15 keepAlive guard pattern);
    // a 100 TB corpus degrades to a shuffle join, never a driver OOM
    val statsB = if (Tables.rows(spark, dir, "documents") <= 2_000_000L)
      broadcast(stats) else stats
    val surv = counted
      .join(statsB.select(col("doc_id").as("inner_id"),
        col("sz").as("sza"), col("nhot").as("nhot_a")), Seq("inner_id"))
      .join(statsB.select(col("doc_id").as("outer_id"),
        col("nhot").as("nhot_b")), Seq("outer_id"))
      .filter((col("capped_inter") + least(col("nhot_a"), col("nhot_b")))
        .cast("double") / col("sza") >= threshold - 1e-4)
      .select("inner_id", "outer_id")
    // exact verify from the full hashed sets — unchanged semantics,
    // now over the bound's survivors instead of every candidate
    surv
      .join(sets.select(col("doc_id").as("inner_id"), col("sh").as("sha")), Seq("inner_id"))
      .join(sets.select(col("doc_id").as("outer_id"), col("sh").as("shb")), Seq("outer_id"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment",
        round(col("inter").cast("double") / size(col("sha")), 4))
      .filter(col("containment") >= threshold)
      .select("inner_id", "outer_id", "containment")
      .orderBy("inner_id", "outer_id")
  }

  /** [[containment]]'s candidate stage, split out so the scale spec
    * can MEASURE the df-cap law instead of trusting it: returns the
    * per-doc hashed shingle sets and the DISTINCT directed candidate
    * pairs from the capped inverted index. The law: pre-dedup
    * candidate rows ≤ (maxDf − 1) · |kept index| (each kept index row
    * meets at most maxDf − 1 partners in its bucket), so distinct
    * pairs are index-linear with the cap constant — Round15Spec
    * builds the 10× corpus and asserts it at both scales.
    */
  private[graft] def containmentCandidates(spark: SparkSession, dir: String,
                                           n: Int = 3, maxDf: Int = 50)
      : (DataFrame, DataFrame) = {
    val (sets, kept) = containmentKeptIndex(spark, dir, n, maxDf)
    val cand = kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .distinct()
    (sets, cand)
  }

  /** ONE definition of the capped inverted index — the candidate stage
    * and the law spec both consume it, so the bound the spec measures
    * can never drift from the pipeline the operator runs (review r7
    * finding: the first cut duplicated this block verbatim).
    */
  private[graft] def containmentKeptIndex(spark: SparkSession, dir: String,
                                          n: Int = 3, maxDf: Int = 50)
      : (DataFrame, DataFrame) = {
    val (sets, idx) = containmentIndex(spark, dir, n)
    (sets, idx.filter(col("df") <= maxDf))
  }

  /** The (sets, df-annotated inverted index) pair both the kept index
    * and [[containment]]'s per-doc stats derive from. No explicit
    * size(sh) > 0 filter on sets: it was semantically redundant
    * (empty-set docs yield no index rows, so they can never be
    * candidates, and every downstream use is an inner join against
    * candidate docs), and its pushdown double-evaluated
    * `shingle_hashes` in the verify-side scans (r14 plan audit). The
    * index-side scans still carry an equivalent inferred filter from
    * the explode (InferFiltersFromGenerate) — the optimizer's own
    * skip-empty-rows trade-off.
    */
  private def containmentIndex(spark: SparkSession, dir: String, n: Int)
      : (DataFrame, DataFrame) = {
    val sets = spread(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), shingleHashesCol(col("text"), n).as("sh")))
    // df via the unordered window in the index's own h-exchange (the
    // D2 pattern: no separate aggregate + join-back)
    val idx = sets.select(col("doc_id"), explode(col("sh")).as("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
    (sets, idx)
  }

  /** MinHash signature: native codegen'd expression
    * ([[org.apache.spark.sql.graft.MinHashSignature]]) — the whole
    * normalize → tokenize → shingle → k-min pipeline in one compiled
    * loop per row, no intermediate arrays, runs at scan speed. The
    * Column-HOF formulation of the same sketch is interpreted
    * (CodegenFallback) and was the corpus scan's bottleneck.
    */
  def minhashSignature(text: Column, n: Int, k: Int): Column =
    ColumnShim.column(MinHashSignature(ColumnShim.expression(text), n, k))

  /** Hashed distinct n-gram shingle set (array<long>) — native codegen
    * ([[org.apache.spark.sql.graft.ShingleHashes]]).
    */
  def shingleHashesCol(text: Column, n: Int): Column =
    ColumnShim.column(ShingleHashes(ColumnShim.expression(text), n))

  /** D3: MinHash + LSH banding. Candidates = pairs sharing ≥1 band
    * bucket (equi-join on (band, band-hash) — bounded buckets, no
    * all-pairs); then exact Jaccard verification of candidates only.
    * With k=128, bands=32 (r=4), P(candidate | J=0.7) ≈ 0.9998.
    * Probabilistic → no SQL oracle; the spec checks candidates ⊆ exact
    * pairs and recall vs [[ngramJaccard]].
    */
  def minhashLsh(spark: SparkSession, dir: String,
                 threshold: Double = 0.5, n: Int = 3,
                 k: Int = 128, bands: Int = 32): DataFrame = {
    val r = k / bands
    val documents = Tables.load(spark, dir, "documents")
    // signature: one codegen'd expression per row; the repartition both
    // spreads the single-file scan across cores and materializes the
    // signature before the band explode references it per-element
    val sigs = spread(documents.select(col("doc_id"),
      minhashSignature(col("text"), n, k).as("sig")))
    val banded = sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // materialized once: cand feeds the verify join AND (twice) the
    // candidate-id semi-filter below — unmaterialized, the band
    // self-join + distinct re-ran three times per query (r14; only the
    // signature exchange below it is deduped by AQE reuse)
    // One candidate frame is held, per (documents snapshot, n, k, bands):
    // a call with the same inputs reuses it, and one with others frees
    // it, so a long-lived JVM keeps one pair-sized block set, not one
    // per call. Invocations construct-then-consume sequentially
    // (Verify/Bench both materialize each query before building the
    // next), so the superseded frame has no live reader.
    val cand = CheckpointIds.shared(spark, "Dedup.minhashLsh.cand",
        (Tables.snapshot(spark, dir, "documents"), n, k, bands)) { cp =>
      cp(banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
    }
    // exact verify on candidates only: semi-join first so the string
    // shingle sets are computed for candidate docs alone, not the corpus
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shSets = documents.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashesCol(col("text"), n).as("sh"))
    val withSets = cand
      .join(shSets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(shSets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
    withSets
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** D23: D3 driven END-TO-END by D19's planner (VERDICT r9 "Next
    * round" #3's dedup half) — the (bands, rows-per-band) split stops
    * being a hand-picked constant: [[bandPlan]] integrates the LSH
    * S-curve's false-positive + false-negative area over the unit
    * interval for every factorization of the signature budget and the
    * minimizing split feeds [[minhashLsh]] directly. Change the
    * threshold and the banding follows it — a 0.9 near-dup threshold
    * plans fewer, wider bands (harder pruning) without anyone
    * re-deriving the S-curve by hand. Same verified-pairs output
    * contract as D3 (probabilistic candidates, exact Jaccard verify) →
    * rows-only; the spec pins planner propagation, the no-false-
    * positives subset law, and the recall floor, numbers in RECALL_r10.
    */
  def minhashLshTuned(spark: SparkSession, dir: String,
                      threshold: Double = 0.5, n: Int = 3,
                      k: Int = 128): DataFrame = {
    val (bands, rows) = chosenBandSplit(spark, dir, k, threshold)
    require(bands * rows == k, s"planner split $bands x $rows != budget $k")
    minhashLsh(spark, dir, threshold, n, k, bands = bands)
  }

  /** The planner's pick: the (bands, rows) row [[bandPlan]] flags
    * `is_chosen` (driver-side — the plan table is divisor-lattice
    * sized, a few rows).
    */
  private[graft] def chosenBandSplit(spark: SparkSession, dir: String,
                                     k: Int, threshold: Double): (Int, Int) = {
    val r = bandPlan(spark, dir, k, threshold)
      .filter(col("is_chosen")).select("bands", "rows_per_band").head
    (r.getInt(0), r.getInt(1))
  }

  /** 64-bit SimHash of the token multiset, packed into a long. Bit j is
    * the sign of Σ_tokens (2·bit_j(hash(token)) − 1). The 64 bit-sums
    * are unrolled Scala-side (shift amounts must be literals), each an
    * `aggregate` over the per-token hashes — higher-order functions
    * only, stays in codegen, zero shuffle.
    */
  def simhash64(toks: Column): Column =
    simhashFromHashes(transform(toks, t => xxhash64(t)))

  /** SimHash bit-packing over an already-computed hash array. Split out
    * so pipelines can materialize the (cheap to store, expensive to
    * recompute) hash array behind an exchange before the 64 interpreted
    * aggregates each re-read it.
    */
  def simhashFromHashes(hashes: Column): Column = {
    val bitCols = (0 until 64).map { j =>
      val bitSum = aggregate(hashes, lit(0L),
        (s, h) => s + shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1)
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** D4: SimHash near-dup, hamming ≤ maxHamming. Candidate generation
    * by the pigeonhole principle: split the 64-bit signature into
    * (maxHamming+1) bands — any pair within the hamming budget must
    * agree exactly on ≥1 band, so an equi-join on (band, band-bits)
    * finds ALL such pairs (this one is exact-by-construction, but the
    * signature itself is a lossy sketch → rows-only check + spec).
    */
  def simhashNearDup(spark: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val docs = spread(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        ColumnShim.column(SimHash64(ColumnShim.expression(col("text")))).as("sig"))
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bits"))
    }
    val banded = docs.select(
      col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** D6: the pipeline composite — near-dup detection feeding a
    * keep-best-quality policy. For every near-dup pair the
    * lower-quality document (fewer tokens; ties → higher doc_id) is
    * dropped; survivors are the corpus minus losers. This is the shape
    * an actual training-data pipeline ships: detect (D2/D3), rank
    * (X2-style quality), resolve (anti-join). Fully deterministic →
    * SQL oracle.
    */
  def keepBest(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccard(spark, dir, threshold)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
    val losers = pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("n_tokens").as("qa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("n_tokens").as("qb")), Seq("doc_b"))
      .select(
        when(col("qa") < col("qb"), col("doc_a"))
          .when(col("qb") < col("qa"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Deterministic boilerplate injection for D7: every 7th document
    * gets the same two trailing sentences, simulating the repeated
    * footer/disclaimer text real web corpora carry. The synthetic
    * testdata has no naturally repeated sentences, so without this the
    * D7 gate passes vacuously (0 rows = 0 rows); the oracle SQL applies
    * the identical derivation, so the check stays exact.
    */
  private[graft] val boilerplate =
    ". Subscribe to our newsletter for the latest updates. All rights reserved"
  private[graft] def withBoilerplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(boilerplate)))
        .otherwise(col("text")).as("text"))

  /** D7: paragraph/sentence-level exact dedup — the sub-document pass
    * that catches boilerplate repeated across otherwise-distinct pages
    * (headers, disclaimers, nav text). Sentences explode out of the
    * scan, hash, and aggregate in one shuffle on the hash; emitted are
    * hashes occurring more than once, with occurrence/document counts
    * and the canonical keeper. At 100 TB the output feeds a semi-join
    * back against the corpus to strip the repeated spans. (Input passes
    * through [[withBoilerplate]] so the gate exercises real collisions
    * at every SF.)
    */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    spread(withBoilerplate(Tables.load(spark, dir, "documents")))
      .select(col("doc_id"), explode(split(col("text"), "\\.\\s+")).as("sent"))
      .filter(length(trim(col("sent"))) > 0)
      .select(col("doc_id"), md5(trim(lower(col("sent")))).as("sent_hash"))
      .groupBy("sent_hash")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("keep_doc"))
      .filter(col("n_occ") > 1)
      .orderBy("sent_hash")

  /** D19: MinHash-LSH band planning — the S-curve analysis that
    * chooses D3's (bands, rows) split PRINCIPLED instead of by
    * folklore: for every factorization b·r = k of the signature
    * budget, the collision probability at similarity s is
    * p(s) = 1 − (1 − s^r)^b; the false-positive area is ∫₀ᵗ p and
    * the false-negative area ∫ₜ¹ (1 − p). The chosen split minimizes
    * their sum — at 100 TB the FP area is exactly the wasted verify
    * compute and the FN area the duplicates that survive, so this
    * table IS the index-sizing decision, emitted as data.
    *
    * Exactness (the pow-ulp trap): `pow()` differs between JVM and
    * libm in the last ulp, so powers are evaluated by LEFT-FOLD
    * MULTIPLICATION in both engines — identical operation sequence →
    * bit-equal doubles — and each grid point micro-rounds BEFORE the
    * integer area sum (the X15 contract). Pure planning compute
    * (configs × grid rows), no corpus scan.
    */
  def bandPlan(spark: SparkSession, dir: String, k: Int = 128,
               threshold: Double = 0.5, grid: Int = 1000): DataFrame = {
    import spark.implicits._
    // every factorization b·r = k: enumerate ALL divisors of k (for
    // the shipped k=128 these are exactly the 8 power-of-two splits;
    // a non-power-of-two budget, e.g. k=96, gets its full divisor
    // lattice rather than a silently truncated subset)
    val splits = (1 to k).filter(k % _ == 0).map(r => (k / r, r))
    val cfg = splits.toDF("bands", "rows_per_band")
    val pts = spark.range(grid).select((col("id") + 0.5) / grid as "s")
    def powFold(base: Column, e: Column): Column =
      aggregate(sequence(lit(1), e), lit(1.0), (acc, _) => acc * base)
    val curve = cfg.crossJoin(pts)
      .withColumn("sr", powFold(col("s"), col("rows_per_band")))
      .withColumn("p", lit(1.0) - powFold(lit(1.0) - col("sr"), col("bands")))
      .select(col("bands"), col("rows_per_band"), col("s"),
        // floor(x+0.5), not round(): Spark's round() goes through
        // Double.toString→BigDecimal and can disagree with a C round
        // in the last ulp; floor on the raw double is exact binary
        floor(col("p") * 1e6 + 0.5).cast("long").as("p_micro"))
    val areas = curve.groupBy("bands", "rows_per_band")
      .agg(
        // floor, not a bare cast: DuckDB's double→BIGINT cast ROUNDS
        // while Spark's truncates — floor is explicit on both engines
        floor(sum(when(col("s") < threshold, col("p_micro")).otherwise(0L)) / grid)
          .cast("long").as("fp_area_micro"),
        floor(sum(when(col("s") >= threshold, lit(1000000L) - col("p_micro"))
          .otherwise(0L)) / grid).cast("long").as("fn_area_micro"))
      .withColumn("total_err_micro", col("fp_area_micro") + col("fn_area_micro"))
    val best = areas.agg(min(struct(col("total_err_micro"), col("bands"))).as("m"))
      .select(col("m.total_err_micro").as("be"), col("m.bands").as("bb"))
    areas.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"), col("fp_area_micro"),
        col("fn_area_micro"), col("total_err_micro"),
        (col("total_err_micro") === col("be") && col("bands") === col("bb"))
          .as("is_chosen"))
      .orderBy(col("bands").desc)
  }

  /** D18: cross-source duplication matrix — D2's verified near-dup
    * pairs rolled up by SOURCE pair: entry (a, b) counts near-dup
    * pairs spanning sources a and b, plus the distinct documents
    * involved. The diagonal is within-slice redundancy; the
    * OFF-diagonAL is leakage between corpus slices — the number a
    * train/eval split designer must see before trusting any split
    * boundary (X27 makes leakage structurally impossible only for
    * splits aligned to this matrix's blocks), and the
    * per-distributor dedup bill in multi-vendor corpus assembly.
    *
    * Cost: D2's index-linear PPJoin plus one broadcast join of the
    * (Zipf-small) pair list against the doc→source projection and a
    * sources²-bounded aggregate — the matrix is free relative to the
    * pair mining it reuses.
    */
  def crossSourceMatrix(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val src = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val pairs = ngramJaccard(spark, dir, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("doc_a"), col("doc_b"))
    val nPairs = pairs.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = pairs
      .select(col("source_a"), col("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("source_a", "source_b")
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
      .orderBy("source_a", "source_b")
  }

  /** D17: sorted-neighborhood near-dup blocking (Hernández & Stolfo's
    * SNM, the classic entity-resolution blocking rung): sort the
    * corpus by a cheap normalized key, compare each record only with
    * its `window−1` successors, exact-verify the candidates. Two
    * passes with complementary keys (normalized PREFIX, and the
    * prefix of the REVERSED text) so an edit near either end of a
    * document cannot hide it from both orderings — the standard
    * multi-pass SNM recipe. Complements D2/D3: candidate count is
    * exactly `(passes·(window−1))·n` by CONSTRUCTION (no skew, no
    * banding variance), the property that made SNM the ER-pipeline
    * staple; recall depends on near-dups sorting nearby (measured in
    * the spec, not contractual).
    *
    * Plan shape: the window adjacency is an EQUI-join — each row
    * explodes `window−1` (rank + offset) probes against the rank
    * column (no range join, no BNLJ; plan-asserted). The global sort
    * rank is a single window at corpus-row granularity; at 100 TB
    * the same algorithm runs per range-partition with a `window`-row
    * boundary overlap (noted, not needed at bench scale). Exact
    * verify reuses D2's hashed shingle sets; 4-dp Jaccard, full
    * tie-break → DuckDB-oracled via string shingles (hash collisions
    * negligible, the D2 contract).
    */
  def snmDedup(spark: SparkSession, dir: String, window: Int = 5,
               threshold: Double = 0.5, n: Int = 3): DataFrame = {
    val norm = (c: Column) =>
      substring(regexp_replace(lower(c), "[^a-z0-9]+", " "), 1, 32)
    // checkpointed: referenced by both sort passes AND both sides of
    // the exact verify — uncheckpointed that is 4 corpus scans + 4
    // shingle passes
    val docs = CheckpointIds.scoped(spark)(cp => cp(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), shingleHashesCol(col("text"), n).as("sh"),
        norm(col("text")).as("k1"), norm(reverse(col("text"))).as("k2"))
      .filter(size(col("sh")) > 0)))
    def passPairs(key: String): DataFrame = {
      // global rank WITHOUT the single-partition window: range
      // partitioning + per-partition sort + zipWithIndex (T12's
      // global-id machinery) assigns the identical (key, doc_id)
      // total-order ranks with every partition sorting only its own
      // range — a Window.orderBy here collapsed the whole corpus onto
      // one task and benched ~8× at the 10× scale step
      val session = docs.sparkSession
      import session.implicits._
      // checkpointed: the rank map is referenced twice by the
      // adjacency self-join — uncheckpointed, the sort + zipWithIndex
      // jobs re-run per reference
      val ranked = CheckpointIds.scoped(session)(cp => cp(docs
        .select(col("doc_id"), col(key).as("k"))
        .repartitionByRange(
          session.sparkContext.defaultParallelism, col("k"), col("doc_id"))
        .sortWithinPartitions("k", "doc_id")
        .select(col("doc_id"))
        .as[Long].rdd.zipWithIndex()
        .toDF("doc_id", "rn")))
      ranked
        .withColumn("d", explode(sequence(lit(1), lit(window - 1))))
        .select(col("doc_id").as("id_a"), (col("rn") + col("d")).as("brn"))
        .join(ranked.select(col("doc_id").as("id_b"), col("rn").as("brn")), "brn")
        .select(col("id_a"), col("id_b"))
    }
    val cand = passPairs("k1").unionByName(passPairs("k2"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** D16: content-defined chunking (CDC) dedup — the rsync/LBFS/
    * restic primitive D11's FIXED token windows cannot be: chunk
    * boundaries are cut where a rolling hash of the trailing `w`
    * characters satisfies `h mod mask == 0`, so boundaries are a
    * function of LOCAL CONTENT alone. Insert one character at the
    * front of a document and every fixed-stride chunking loses every
    * chunk; CDC re-synchronizes within ~one chunk and the rest of the
    * document still dedups (spec-pinned). This is how backup/storage
    * dedup survives shifted content, and the right chunk-level rung
    * between D7's exact sentences and D11's token spans.
    *
    * Determinism/oracle: the polynomial fold `(acc·31 + code) mod
    * 2^20` over character codes is pure integer arithmetic — DuckDB
    * replays bit-for-bit (list_reduce with the same prepended-zero
    * seed). Docs shorter than `w` produce a single whole-doc chunk on
    * both engines (Spark's `sequence` descends when start > stop —
    * guarded; DuckDB's generate_series is empty).
    *
    * Scale shape: D7's exactly — chunk hashes explode out of the scan
    * projection (O(n·w) arithmetic per row, embarrassingly parallel),
    * one shuffle on the 128-bit hash finds cross-doc duplicates;
    * chunk STRINGS never leave the scan. Input passes through
    * [[withBoilerplate]] so cross-doc duplicate chunks exist at every
    * SF.
    */
  def cdcDedup(spark: SparkSession, dir: String,
               w: Int = 16, mask: Int = 64): DataFrame =
    cdcChunksOf(withBoilerplate(Tables.load(spark, dir, "documents")), w, mask)
      .groupBy(col("h").as("chunk_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("keep_doc"),
        min("clen").cast("long").as("chunk_len"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_hash")

  /** [[cdcDedup]]'s chunker over ANY (doc_id, text) frame — split out
    * so the insertion-robustness spec can feed shifted hand docs.
    * Emits one (doc_id, h = md5(chunk), clen) row per chunk.
    */
  private[graft] def cdcChunksOf(docs: DataFrame, w: Int, mask: Int): DataFrame = {
    import org.apache.spark.sql.graft.{CdcBoundaries, ColumnShim}
    // boundary scan is the native O(n) rolling-hash expression
    // (org.apache.spark.sql.graft.CdcBoundaries) — bit-identical to
    // the w-refold the oracle evaluates, w× cheaper and compiled.
    // Each stage still materializes its array once per row: a
    // multiply-referenced Column is INLINED (re-evaluated) at every
    // reference site, and `b` is read five times by the chunk builder
    // (CollapseProject keeps multi-referenced projections apart).
    val cuts = ColumnShim.column(
      CdcBoundaries(ColumnShim.expression(col("text")), w, mask))
    val bounds = concat(
      array(lit(0)), filter(col("cuts"), x => x < col("n")), array(col("n")))
    val chunks = transform(sequence(lit(1), size(col("b")) - 1),
      j => struct(
        md5(col("text").substr(element_at(col("b"), j) + 1,
          element_at(col("b"), j + 1) - element_at(col("b"), j))).as("h"),
        (element_at(col("b"), j + 1) - element_at(col("b"), j)).as("clen")))
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"), cuts.as("cuts"))
      .select(col("doc_id"), col("text"), bounds.as("b"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.h").as("h"), col("c.clen").as("clen"))
  }

  /** D11: exact duplicated-substring detection at w-token granularity —
    * the "exact substring dedup" pass from training-data dedup practice
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): verbatim spans copied between otherwise-distinct
    * documents (quotes, licenses, templated text) that document-level
    * near-dup misses because the containing docs are dissimilar.
    *
    * Plan shape: every doc explodes to its (n_tokens − w + 1) sliding
    * w-token span hashes inside the scan projection (higher-order
    * `transform` over `sequence` — no UDF), then ONE shuffle groups
    * span hashes to find those spanning ≥ 2 docs, and an equi-join
    * (duplicated-span side is Zipf-small → AQE broadcasts it) maps
    * survivors back to per-doc counts. Nothing is all-pairs; the blowup
    * is ×w rows of (id, 128-bit hash) — the same index-linear budget as
    * the shingle index, which is how the suffix-array formulation of
    * this op is approximated on a shared-nothing engine. Input passes
    * through [[withBoilerplate]] so the gate exercises real collisions
    * at every SF.
    *
    * Output: per document containing at least one duplicated span —
    * how many distinct duplicated spans, and the widest span fan-out.
    */
  def substringDedup(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val spanHashes = when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - w + 1),
          i => md5(concat_ws(" ", slice(toks, i, lit(w))))))
      .otherwise(array().cast("array<string>"))
    val spans = spread(withBoilerplate(Tables.load(spark, dir, "documents")))
      .select(col("doc_id"), explode(spanHashes).as("h"))
    // flag on TOTAL occurrences (count(*), not distinct docs): a span
    // repeated many times WITHIN one document is duplicate mass too
    // (Lee et al. semantics — any repeated span)
    val dup = spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
      .select("h", "n_docs")
    spans.join(dup, "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_dup_spans"),
        max("n_docs").as("max_span_docs"))
      .orderBy("doc_id")
  }

  /** D13: duplicated-substring REMOVAL — the rewrite step D11 only
    * detects (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": repeated spans are cut from every
    * occurrence but one). Each flagged `w`-token span keeps its
    * globally-first occurrence — min (doc_id, start), a deterministic
    * keeper at any parallelism — and every other occurrence's token
    * positions are removed from their documents.
    *
    * Plan shape: the span index is the SAME index-linear shuffle pair
    * as D11 (hash spans in the scan, one groupBy h); the keeper rides
    * that aggregate as `min(struct(doc_id, i))` — no second pass, no
    * window over the occurrence stream. Covered positions fan out ≤ w×
    * flagged occurrences (duplicate mass, not corpus mass), distinct
    * per (doc, pos), and re-join the corpus by doc_id once. The
    * per-row rebuild filters tokens against that doc's removed-position
    * list (bounded by doc length; a production rewrite would carry a
    * bitmap instead of an int array, same plan).
    *
    * Output per document: token count, removed-token count, and the md5
    * of the cleaned token stream — the compare-friendly form of the
    * rewritten corpus (the oracle reconstructs the identical cleaned
    * text in SQL).
    */
  def substringRemove(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val toksCol = split(col("text"), " ", -1)
    val docs = spread(withBoilerplate(Tables.load(spark, dir, "documents")))
      .select(col("doc_id"), toksCol.as("toks"))
    val spans = docs
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("toks")) - (w - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(w)))))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("i"), col("h"))
    // flag on TOTAL occurrences (any repeated span — within-document
    // repeats included, per Lee et al.); the keeper is still the
    // global min (doc_id, start), deterministic at any parallelism
    val flagged = spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("i"))).as("keep"))
      .filter(col("n_occ") >= 2)
      .select("h", "keep")
    val covered = spans.join(flagged, "h")
      .filter(!(col("doc_id") === col("keep.doc_id") && col("i") === col("keep.i")))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (w - 1))).as("pos"))
      .distinct()
    val rm = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"), collect_list("pos").as("rm"))
    docs.join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        // Spark's filter-lambda index is 0-based; rm positions are
        // 1-based (matching the oracle's 1-based list lambdas)
        md5(concat_ws(" ", filter(col("toks"), (x, i) =>
          !array_contains(coalesce(col("rm"), array().cast("array<int>")), i + 1))))
          .as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** D8: near-dup cluster resolution — connected components over the
    * D2 pair graph, so transitive chains (A~B, B~C) collapse into ONE
    * cluster instead of independent pairwise decisions. This is the
    * step that makes dedup sound: keep-one-per-pair can keep A and C
    * even though they're both near B.
    *
    * Algorithm: iterative min-label propagation — every node adopts
    * the minimum label in its neighborhood until fixpoint. Each
    * iteration is one join + one aggregate (shuffles linear in edge
    * count); rounds ≤ graph diameter, and near-dup clusters are
    * shallow (dups of a common source), so 2–4 rounds in practice.
    * `localCheckpoint` truncates the lineage each round — without it
    * the plan doubles per iteration. This is the Spark-native
    * formulation of the "large-star/small-star" connected-components
    * pattern (Kiveris et al., "Connected Components in MapReduce").
    *
    * Output: one row per multi-document cluster (cluster_id = min
    * member, member count) — the survivor set is "cluster_id kept,
    * everything else dropped".
    */
  def dedupClusters(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame =
    clusterLabels(ngramPairs(spark, dir, threshold).select("doc_a", "doc_b"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** D15: per-document cluster resolution with mega-cluster
    * QUARANTINE — the corpus-side action plan D8's cluster report
    * feeds. Normal-sized near-dup clusters resolve keep-one (the
    * min-id exemplar survives, siblings drop), but a cluster far
    * above normal size is a template farm / SEO spam ring — no single
    * exemplar is trustworthy, so the WHOLE cluster is quarantined for
    * review instead of laundered into the corpus through its min-id
    * member (the FineWeb/RefinedWeb practice of treating cluster size
    * itself as a quality signal).
    *
    * Scale shape: the label graph exists only over documents that
    * appear in a near-dup pair (Zipf-small vs the corpus), so the
    * labels and the cluster-size aggregate are tiny relations —
    * both sides of the corpus join-back broadcast; the corpus scan is
    * touched exactly once. Deterministic (exact components via D8's
    * machinery, min-id exemplar, integer size cap) → DuckDB-oracled
    * via the same recursive-CTE components as `dedup_clusters`.
    */
  def clusterQuarantine(spark: SparkSession, dir: String,
                        threshold: Double = 0.5, maxCluster: Int = 4): DataFrame = {
    val labels = clusterLabels(
      ngramPairs(spark, dir, threshold).select("doc_a", "doc_b"))
    val sized = labels.groupBy("lbl").agg(count(lit(1)).as("sz"))
    Tables.load(spark, dir, "documents").select("doc_id")
      .join(labels.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .join(sized, Seq("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"),
        when(col("lbl").isNull, lit("keep"))
          .when(col("sz") >= maxCluster, lit("quarantine"))
          .when(col("doc_id") === col("lbl"), lit("keep")) // lbl = min member
          .otherwise(lit("drop")).as("action"))
      .orderBy("doc_id")
  }

  /** Connected-component labels (id → min-member-id of its component)
    * for an undirected pair graph — the shared core of D8 and the
    * composite corpus pipeline. See [[dedupClusters]] for the
    * algorithm/scale discussion.
    */
  def clusterLabels(pairs: DataFrame): DataFrame =
    CheckpointIds.scoped(pairs.sparkSession)(cp => clusterLabelsIn(cp, pairs)._1)

  /** [[clusterLabels]] inside the caller's checkpoint scope, with the
    * number of propagate+shortcut rounds it took to converge — the
    * deep-graph spec pins the O(log n) bound on it.
    */
  private[graft] def clusterLabelsIn(cp: CheckpointIds.Scope,
                                     pairs: DataFrame): (DataFrame, Int) = {
    val edges = cp(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val init = cp(edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")))
    def propagate(ls: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(ls.select(col("id").as("dst"), col("lbl").as("dst_lbl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("dst_lbl").as("nbr_min"))
      ls.select("id", "lbl").join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
          (coalesce(col("nbr_min"), col("lbl")) < col("lbl")).as("chg"))
    }
    // Pointer jumping (path doubling): label ← label-of-label. Every
    // label is itself a node id (the invariant: lbl(v) is the min id
    // seen so far in v's component), so one labels⋈labels hop halves
    // the depth of every pointer chain. Alternating propagate (moves
    // information one EDGE) with shortcut (halves POINTER chains)
    // converges in O(log diameter) rounds instead of O(diameter) —
    // the difference between 6 and 64 shuffles on a 64-deep chain.
    // Kiveris et al.'s star-contraction achieves the same bound; the
    // shortcut formulation reuses the existing labels relation with
    // one extra equi-join per round and no graph rewriting.
    def shortcut(ls: DataFrame): DataFrame = {
      val hop = ls.select(col("id").as("lbl"), col("lbl").as("lbl2"))
      ls.join(hop, Seq("lbl"), "left")
        .select(col("id"),
          coalesce(col("lbl2"), col("lbl")).as("lbl"),
          (col("chg") || coalesce(col("lbl2"), col("lbl")) < col("lbl")).as("chg"))
    }
    // Each step is checkpointed (an unmaterialized inner step would
    // re-execute its join+aggregate for both of the next step's
    // references to it); the checkpoint's own job counts the rows with
    // chg set, so convergence costs no job of its own. Both steps only
    // ever LOWER labels, so a round with neither step changing anything
    // is a fixpoint of neighbor-min — labels are componentwise-constant
    // minima. State: (labels, rows the round changed).
    val ((labels, _), rounds) = cp.iterate((init, 1L), Int.MaxValue) { case (labels, _) =>
      val (next, changed) = cp.counting(shortcut(cp(propagate(labels))), "chg")
      (next.select("id", "lbl"), changed)
    }(_._2 == 0L)
    (labels, rounds)
  }

  /** D5: embedding-cosine near-dup — pairs of `embeddings` with
    * similarity ≥ threshold, found WITHOUT materializing the O(n²)
    * cross product. Candidates come from random-hyperplane LSH band
    * buckets (the same [[Similarity.hyperplanes]]/`HyperplaneCodes`
    * blocking that backs [[Similarity.knnJoinLsh]]): two vectors are a
    * candidate iff they share a bucket in ≥ 1 of the `nTables` tables,
    * so the self-join is an ordinary equi-join on (table, code) moving
    * (id, id) pairs only — vectors re-join by key for the exact cosine
    * verify. Shuffle volume is CANDIDATE-linear; how far below n² the
    * candidate count lands is a property of the data and the
    * threshold: near-dup corpora (clustered vectors, thresholds ≥
    * ~0.7) collide orders of magnitude below all-pairs, while a weak
    * threshold over near-orthogonal vectors degenerates toward
    * all-pairs for ANY hyperplane-LSH parameterization (the 0.63 vs
    * 0.5 per-bit gap at sim 0.4 is thin) — there, bound the work with
    * [[semanticDedup]]'s O(n·k) cluster-then-verify instead of a pair
    * enumeration. The default threshold mirrors the testdata's
    * clustered embeddings; raise bitsPerTable with corpus density so
    * bucket df stays bounded.
    *
    * LSH candidate generation is probabilistic (a qualifying pair can
    * land in disjoint buckets in every table), so this op is rows-only
    * for the driver; recall vs the exact all-pairs oracle
    * ([[embeddingCosineExact]]) is pinned ≥ 0.95 in Round8Spec, along
    * with a plan assertion that no BroadcastNestedLoopJoin appears.
    * Defaults are sized for the WORST admitted pair: at sim = 0.4 a
    * hyperplane bit agrees with p = 1 − arccos(0.4)/π ≈ 0.63, so a
    * 4-bit table collides with p ≈ 0.63⁴ ≈ 0.16 and 24 tables give
    * boundary recall ≈ 1 − (1 − 0.16)²⁴ ≈ 0.98 (higher sims are
    * strictly easier). A tighter threshold needs far fewer tables.
    */
  def embeddingCosine(spark: SparkSession, dir: String,
                      threshold: Double = 0.4,
                      nTables: Int = 24, bitsPerTable: Int = 4,
                      seed: Long = 42L): DataFrame = {
    val e = spread(Tables.load(spark, dir, "embeddings"))
    val dim = Similarity.embeddingDim(spark, dir)
    val planes = Similarity.hyperplanes(dim, nTables, bitsPerTable, seed)
    val codes = ColumnShim.column(
      HyperplaneCodes(ColumnShim.expression(col("embedding")), planes))
    val buckets = e.select(col("vec_id"), posexplode(codes))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "code"))
    val pairs = buckets
      .join(buckets.select(col("vec_id").as("vec_b"), col("tbl"), col("code")),
        Seq("tbl", "code"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .distinct()
    pairs
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("vec_b"))
      .withColumn("sim", round(VectorFunctions.cosine(col("ea"), col("eb")), 4))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** The exact all-pairs form of [[embeddingCosine]] — kept ONLY as the
    * recall oracle for its spec (a deliberate cartesian: fine at spec
    * SF, forbidden at scale per SURVEY §5's "never materialize O(n²)").
    */
  private[graft] def embeddingCosineExact(spark: SparkSession, dir: String,
                                          threshold: Double = 0.4): DataFrame = {
    val e = spread(Tables.load(spark, dir, "embeddings"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", round(VectorFunctions.cosine(col("ea"), col("eb")), 4))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** D10: INCREMENTAL dedup — the production topology: a new delta
    * batch (here doc_id ≥ 400) is deduped AGAINST the already-ingested
    * base corpus, never base-vs-base. Exact hash membership first
    * (cheapest), then a delta×base inverted-index join for near-dups
    * among the survivors — candidate pairs are bounded by
    * |delta| · df(shared shingles), independent of base size growth
    * run over run. Verdicts: exact_dup > near_dup > new, with the
    * smallest matching base doc as evidence.
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       splitAt: Long = 400, threshold: Double = 0.5,
                       n: Int = 3): DataFrame = {
    val docs = spread(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), md5(normText(col("text"))).as("h"),
        shingleHashesCol(col("text"), n).as("sh"))
    val base = docs.filter(col("doc_id") < splitAt)
    val delta = docs.filter(col("doc_id") >= splitAt)
    // exact: content-hash membership in the base (semi-ish join keeping
    // the smallest matching base doc as evidence)
    val exact = delta.as("d")
      .join(base.as("b"), col("d.h") === col("b.h"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("match_id"))
      .withColumn("verdict", lit("exact_dup"))
    // near: inverted-index join of the remaining delta against the base
    val rest = delta.join(exact.select(col("doc_id")), Seq("doc_id"), "left_anti")
    def index(df: DataFrame, side: String) =
      df.filter(size(col("sh")) > 0)
        .select(col("doc_id").as(s"${side}_id"), size(col("sh")).as(s"${side}_sz"),
          explode(col("sh")).as("hash"))
    val inter = index(rest, "d").join(index(base, "b"), "hash")
      .groupBy("d_id", "b_id", "d_sz", "b_sz")
      .agg(count(lit(1)).as("i"))
      .filter(round(col("i") / (col("d_sz") + col("b_sz") - col("i")), 4) >= threshold)
    val near = inter.groupBy(col("d_id").as("doc_id"))
      .agg(min("b_id").as("match_id"))
      .withColumn("verdict", lit("near_dup"))
    val dup = exact.unionByName(near)
    val fresh = delta.select("doc_id")
      .join(dup.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("match_id", lit(null).cast("long"))
      .withColumn("verdict", lit("new"))
    dup.unionByName(fresh)
      .select("doc_id", "verdict", "match_id")
      .orderBy("doc_id")
  }

  /** D12: bloom-gated incremental membership — the "have we ingested
    * this document before?" gate a re-crawl runs before any expensive
    * near-dup work. The base corpus compresses into ONE fixed-size
    * bloom sketch (an aggregate: map-side partials, bitset-sized state
    * across the shuffle — the base is never re-shuffled per delta
    * batch); the sketch broadcasts to the delta scan as a map-side
    * `might_contain` predicate. Bloom filters have no false negatives,
    * so unflagged delta docs are provably new without touching the
    * base; the (few) flagged docs are exact-verified with a hash join
    * scoped to just them, removing false positives. Output is exact —
    * every delta doc tagged `dup` (with its earliest base match) or
    * `new` — so the oracle is plain SQL, while the plan does
    * base-scan + delta-scan + candidate-sized join instead of a full
    * delta×base shuffle.
    *
    * The delta batch is the re-crawl shape: genuinely-new documents
    * plus a re-keyed slice of the base (every 50th doc under a fresh
    * doc_id) — a crawler re-delivering pages it already fetched. The
    * re-ingested slice guarantees the `dup` path is exercised (never
    * vacuously green) at any SF. Re-keys are NEGATIVE (−doc_id − 1) so
    * they can never collide with a real doc_id at any corpus size.
    */
  // Temp views are session-global, so concurrent bloomGate invocations
  // (e.g. two Flow.parallel branches) must not share view names — each
  // call gets a unique suffix and drops its views after the (eager)
  // analysis of the returned plan resolves them.
  private val bloomGateCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  def bloomGate(spark: SparkSession, dir: String, splitAt: Long = 400): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val tag = bloomGateCalls.incrementAndGet()
    val baseView = s"graft_bg_base_$tag"
    val deltaView = s"graft_bg_delta_$tag"
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(normText(col("text"))).as("h"))
    val base = docs.filter(col("doc_id") < splitAt)
    base.createOrReplaceTempView(baseView)
    docs.filter(col("doc_id") >= splitAt)
      .unionByName(base.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("h")))
      .createOrReplaceTempView(deltaView)
    try spark.sql(
      s"""WITH bf AS (
         |  SELECT graft_bloom_agg(xxhash64(h), 1000L, 16384L) AS b
         |  FROM $baseView
         |), flagged AS (
         |  SELECT doc_id, h FROM $deltaView
         |  WHERE graft_might_contain((SELECT b FROM bf), xxhash64(h))
         |), verified AS (
         |  SELECT f.doc_id, min(b.doc_id) AS match_id
         |  FROM flagged f JOIN $baseView b ON f.h = b.h
         |  GROUP BY f.doc_id
         |)
         |SELECT d.doc_id,
         |  CASE WHEN v.match_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
         |  v.match_id
         |FROM $deltaView d LEFT JOIN verified v ON d.doc_id = v.doc_id
         |ORDER BY doc_id""".stripMargin)
    finally {
      spark.catalog.dropTempView(baseView)
      spark.catalog.dropTempView(deltaView)
    }
  }

  /** D9: SemDeDup-style semantic dedup — assign every embedding to its
    * nearest seed vector (the cluster), then keep only the member most
    * similar to the seed. Seeds (here: the lowest `k` vec_ids; in
    * production the k-means centroids from [[Similarity.ivfAnn]]'s
    * training step) are a broadcast — the corpus side is ONE scan with
    * a map-side argmax, then one shuffle for the per-cluster keep
    * decision. O(n·k), never O(n²): the cluster radius bounds which
    * vectors can be near-duplicates, so the pairwise step D5 needs
    * disappears entirely.
    */
  /** D21: SemDeDup threshold sweep — D9 keeps one exemplar per
    * cluster unconditionally; the published SemDeDup (Abbas et al.
    * 2023) DROPS only members within ε of each other, and ε is the
    * knob that decides how much corpus survives. This sweep measures
    * the drop-rate curve over candidate ε (member dropped iff its
    * cosine to the cluster's keeper ≥ 1 − ε) — the A21/D19 pattern:
    * the tuning decision emitted as data rather than folklore,
    * because at 100 TB each ε point IS a corpus-size/diversity
    * trade worth millions of documents.
    *
    * Cost: D9's assignment plus one keeper-rehydration join and a
    * |eps|× fan-out of (id, id, sim) rows — cluster-linear, never
    * pairwise. Deterministic (4-dp cosines both engines, integer
    * micro thresholds compared through bit-equal doubles) →
    * hash-exact oracle.
    */
  def semanticSweep(spark: SparkSession, dir: String, k: Int = 8,
                    // this corpus is weakly similar (sim-to-keeper tops
                    // out ~0.49), so the informative ε grid sits high;
                    // a near-dup production corpus sweeps ε ∈ [0.01,0.1]
                    epsMicro: Seq[Int] = Seq(600000, 750000, 900000)): DataFrame = {
    val e = spread(Tables.load(spark, dir, "embeddings"))
    val seeds = broadcast(
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < k)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_emb")))
    // rank-1 selections as mergeable struct-max aggregates (see
    // semanticDedup); the embedding rides inside the struct — it can
    // never influence the ordering because (sim, ns) ties are
    // impossible within one vec_id (seed ids are distinct)
    val asg = CheckpointIds.scoped(spark)(cp => cp(e.crossJoin(seeds)
      .select(col("vec_id"),
        struct(
          round(VectorFunctions.cosine(col("embedding"), col("seed_emb")), 4).as("sim"),
          (-col("seed_id")).as("ns"), col("embedding").as("emb")).as("cand"))
      .groupBy("vec_id").agg(max("cand").as("m"))
      .select(col("vec_id"), col("m.emb").as("embedding"),
        (-col("m.ns")).as("cluster_id"), col("m.sim").as("sim"))))
    val keepers = asg
      .groupBy("cluster_id")
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nv"),
        col("embedding").as("emb"))).as("kp"))
      .select(col("cluster_id"), (-col("kp.nv")).as("keep_id"),
        col("kp.emb").as("keep_emb"))
    asg.join(keepers, "cluster_id")
      .select(col("vec_id"), col("keep_id"),
        round(VectorFunctions.cosine(col("embedding"), col("keep_emb")), 4).as("sim_keep"))
      .withColumn("eps_micro", explode(typedlit(epsMicro)))
      .groupBy("eps_micro")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("vec_id") =!= col("keep_id") &&
          col("sim_keep") * 1e6 >= lit(1000000) - col("eps_micro"), 1L)
          .otherwise(0L)).as("n_dropped"))
      .select(col("eps_micro"), col("n_total"), col("n_dropped"),
        (col("n_total") - col("n_dropped")).as("n_kept"),
        expr("(1000000 * n_dropped) div n_total").as("drop_rate_micro"))
      .orderBy("eps_micro")
  }

  def semanticDedup(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = spread(Tables.load(spark, dir, "embeddings"))
    val seeds = broadcast(
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < k)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_emb")))
    // both rank-1 selections are mergeable struct-max AGGREGATES, not
    // windows (the Round-4 keep-first lesson, desc order via negated
    // tie columns): the n·k assignment stream takes one map-side
    // combine instead of a full per-key sort exchange, and the keeper
    // election ships one row per (cluster, partition)
    val asg = e.crossJoin(seeds)
      .select(col("vec_id"),
        struct(
          round(VectorFunctions.cosine(col("embedding"), col("seed_emb")), 4).as("sim"),
          (-col("seed_id")).as("ns")).as("cand"))
      .groupBy("vec_id").agg(max("cand").as("m"))
      .select(col("vec_id"), (-col("m.ns")).as("cluster_id"), col("m.sim").as("sim"))
    asg.groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("sim"), (-col("vec_id")).as("nv"))).as("kp"))
      .select(col("cluster_id"), col("n_members"),
        (-col("kp.nv")).as("keep_id"), col("kp.sim").as("keep_sim"))
      .orderBy("cluster_id")
  }
}
