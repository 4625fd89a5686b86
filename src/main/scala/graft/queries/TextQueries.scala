package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, ColumnShim, LangIdExpr, MinGramMd5, TextStatsExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators over the `documents` table (SURVEY.md §2
  * X1–X4) — the per-document quality/language/token metadata a
  * training-data pipeline computes before filtering.
  *
  * All four are single-pass narrow maps over the corpus scan (no
  * shuffle except the final presentation ORDER BY, which a real
  * pipeline would not do): at 100 TB these run at full scan throughput
  * inside WholeStageCodegen — every function is composed from
  * `sql.functions`, no UDFs.
  */
object TextQueries {

  /** THE corpus tokenizer — whitespace-normalized lowercase tokens —
    * shared by the rule bundle (X14), the LM scorers (X15/X19), the
    * drift monitor (X21), and the quality model (X20). X20's features
    * and their X14 label source MUST tokenize identically, so there is
    * exactly one definition.
    */
  private[graft] def normToks: Column =
    split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ", -1)

  /** The stopword-evidence list shared by X14 and X20. */
  private[queries] val stopWords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** X1: dictionary language ID. The marker "tables" are literal sets
    * compiled into the expression — the degenerate (and fastest)
    * broadcast. Scored by the native [[LangIdExpr]] (one compiled
    * tokenize-and-score pass per row; the when-chain Column form
    * re-evaluated the interpreted tokenize ~10× per row). Output
    * includes the ground-truth `lang` column so accuracy is
    * inspectable; the oracle replays the identical scoring in SQL.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        ColumnShim.column(LangIdExpr(ColumnShim.expression(col("text")), langMarkers))
          .as("pred_lang"))
      .orderBy("doc_id")

  /** X2: quality scoring — length, punctuation density, stopword ratio,
    * digit ratio, and a composite keep/drop flag (the C4-style filter
    * shape).
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    // one compiled counting pass per row ([[TextStatsExpr]]); the
    // pure-Column form re-evaluated the interpreted tokenize for every
    // ratio. Ratio division + rounding stay in Column arithmetic —
    // numerically identical to before (and to the oracle).
    val enStop = langMarkers.toMap.apply("en")
    val st = col("st")
    def ratio(num: Column, den: Column): Column =
      round(num.cast("double") / greatest(den, lit(1L)), 4)
    d.select(col("doc_id"),
        ColumnShim.column(TextStatsExpr(ColumnShim.expression(col("text")), enStop)).as("st"))
      .select(
        col("doc_id"),
        st.getField("n_chars").as("n_chars"),
        st.getField("n_tokens").as("n_tokens"),
        ratio(st.getField("n_stop"), st.getField("n_tokens")).as("stopword_ratio"),
        ratio(st.getField("n_punct"), st.getField("n_chars")).as("punct_ratio"),
        ratio(st.getField("n_digit"), st.getField("n_chars")).as("digit_ratio"),
        (st.getField("n_tokens") >= 20 && st.getField("n_tokens") <= 1000).as("keep")
      ).orderBy("doc_id")
  }

  /** X14: Gopher-style quality rule bundle (Rae et al., "Scaling
    * Language Models: ... Gopher", the repetition/quality heuristics
    * most corpus pipelines inherit): hard per-document predicates —
    * word-count bounds, mean-word-length bounds, symbol and digit
    * ratio caps, minimum stopword evidence — each emitted as its own
    * flag so a pipeline can tune thresholds from the flag marginals
    * before committing to the conjunction (`keep`).
    *
    * All ratios compare in integer space (micro-units / cross-
    * multiplied) — no double formatting to diverge across engines.
    * Single narrow pass over the scan, fully codegen'd; at 100 TB this
    * runs at scan throughput like X2.
    */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val toks = normToks
    val stop = stopWords
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"), col("text"),
        size(col("toks")).as("n_words"),
        // mean word length in micro-units by exact integer-ish floor:
        // token chars = normalized string minus separators
        floor(length(concat_ws("", col("toks"))).cast("long") * lit(1000000L) /
          greatest(size(col("toks")), lit(1))).cast("long").as("mean_wlen_micro"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-z0-9\\s]", ""))).as("n_symbol"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"),
        size(filter(col("toks"), t => t.isInCollection(stop))).as("n_stop"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("mean_wlen_micro"),
        col("n_stop"),
        col("n_words").between(50, 100000).as("r_nwords"),
        col("mean_wlen_micro").between(3000000L, 10000000L).as("r_wlen"),
        (col("n_symbol") * 10 <= length(col("text"))).as("r_symbol"),
        (col("n_digit") * 5 <= length(col("text"))).as("r_digit"),
        (col("n_stop") >= 2).as("r_stop"),
        (col("n_words").between(50, 100000) &&
          col("mean_wlen_micro").between(3000000L, 10000000L) &&
          col("n_symbol") * 10 <= length(col("text")) &&
          col("n_digit") * 5 <= length(col("text")) &&
          col("n_stop") >= 2).as("keep"))
      .orderBy("doc_id")
  }

  /** X15: unigram-LM surprisal scoring — the honest, self-contained
    * form of the "perplexity filter" every corpus pipeline runs: train
    * a unigram model on the corpus itself (token counts), then score
    * each document by its mean token surprisal −ln p(tok). Low-scoring
    * docs are repetitive/templated; high scorers are token salad —
    * both tails get reviewed or cut. (A production KenLM n-gram model
    * slots into the same two-pass plan: global aggregate → per-token
    * score → per-doc reduce.)
    *
    * Scale shape: one shuffle builds counts (partial agg map-side);
    * the count table is vocabulary-bounded so the score join
    * AQE-broadcasts it (never a corpus shuffle); the scalar total rides
    * a 1-row broadcast cross join. Per-token surprisal is rounded to
    * integer micro-nats BEFORE the per-doc sum (the text_tfidf trick),
    * so cross-engine doubles never aggregate.
    */
  def textSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = normToks
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(toksCol).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("total").cast("double") / col("cnt")) * 1e6).cast("long").as("m"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("m").as("sum_surprisal_micro"))
      .withColumn("mean_surprisal_micro", expr("sum_surprisal_micro DIV n_toks"))
      .orderBy("doc_id")
  }

  /** X19: bigram-LM surprisal — the conditional upgrade of X15's
    * unigram filter: score each document by its mean −ln p(tok | prev),
    * p estimated from corpus bigram counts with add-1 smoothing over
    * the observed vocabulary (p = (c(l,r)+1) / (c(l·)+V)). Repetitive
    * boilerplate scores LOW (its transitions are memorized); token
    * salad scores HIGH — the two tails every corpus pipeline reviews.
    *
    * Scale shape: bigrams come from a zip of two shifted slices in the
    * scan projection (per-row, no self-join); counts are one shuffle
    * with map-side combine; the count tables are vocabulary-bounded so
    * the score join AQE-broadcasts; V and doc scores follow the X15
    * pattern (micro-nat integer rounding BEFORE the per-doc sum).
    * Documents with fewer than two tokens have no transitions and are
    * excluded (deterministic row count).
    */
  def textBigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = normToks
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), toksCol.as("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = docs.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("l"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("r"))).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(toksCol).as("tok")).filter(length(col("tok")) > 0)
      .agg(countDistinct("tok").as("v"))
    // both counts via unordered windows in the exchanges the stream
    // passes through anyway — no groupBy + join-back (the text_tfidf /
    // ngram-jaccard df rework): bigram count in the (l, r) exchange,
    // context count in the (l) exchange
    bigrams
      .withColumn("c_lr", count(lit(1)).over(Window.partitionBy("l", "r")))
      .withColumn("c_l", count(lit(1)).over(Window.partitionBy("l")))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("c_l") + col("v")).cast("double") / (col("c_lr") + 1)) * 1e6)
          .cast("long").as("m"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("m").as("sum_surprisal_micro"))
      .withColumn("mean_surprisal_micro", expr("sum_surprisal_micro DIV n_bigrams"))
      .orderBy("doc_id")
  }

  /** X16: DSIR-style importance scoring (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its hashed-n-gram features
    * are under a TARGET distribution (here: the English subset — in
    * production, a curated high-quality corpus) than under the raw
    * corpus. Features are tokens hashed into 256 buckets (md5-prefix —
    * deterministic and engine-portable); both distributions are add-1
    * smoothed bucket unigram models; a document's score is its mean
    * per-token log importance ratio, the quantity DSIR resamples on.
    *
    * Scale shape: two bucket-count aggregates over the exploded token
    * stream (map-side combined, 256-row results), one 1-row totals
    * broadcast, and a 256-row broadcast join back onto the token
    * stream — the corpus is scanned twice and shuffled only by doc_id
    * for the final per-doc reduce. Ratios round to integer micro-nats
    * BEFORE the per-doc sum (the X15 trick) so doubles never aggregate.
    */
  def textDsir(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = normToks
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(toksCol).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("bucket", substring(md5(col("tok")), 1, 2))
    val raw = toks.groupBy("bucket").agg(count(lit(1)).as("r_cnt"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy("bucket").agg(count(lit(1)).as("t_cnt"))
    val dists = raw.join(tgt, Seq("bucket"), "left").na.fill(0L, Seq("t_cnt"))
    val totals = dists.agg(sum("r_cnt").as("r_total"), sum("t_cnt").as("t_total"))
    val scored = dists.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round((log((col("t_cnt") + 1).cast("double") / (col("t_total") + 256)) -
               log((col("r_cnt") + 1).cast("double") / (col("r_total") + 256))) * 1e6)
          .cast("long").as("m"))
    toks.join(broadcast(scored), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("m").as("sum_logratio_micro"))
      .withColumn("mean_logratio_micro", expr("sum_logratio_micro DIV n_toks"))
      .orderBy("doc_id")
  }

  /** X21: corpus drift monitor — per-bucket KL(delta ‖ base) of the
    * hashed-token distribution between an incoming batch (doc_id ≥
    * splitAt, D10's delta convention) and the already-ingested base:
    * the "did this crawl batch shift the corpus?" gate a continuously-
    * ingesting pipeline runs before committing a snapshot. Shares
    * X16's hashed-bucket model (md5-prefix buckets, add-1 smoothing,
    * integer micro/nano-nat rounding) so the DuckDB oracle replays it
    * exactly.
    *
    * Scale shape: the exploded token stream feeds ONE conditional
    * aggregate (base and delta counted in the same groupBy — one
    * shuffle, 256 result rows); totals ride a 1-row broadcast cross
    * join; everything after the aggregate is 256-row arithmetic. The
    * summary statistic is Σ kl_term over exact longs — consumers
    * alert on the total, triage on the per-bucket terms.
    */
  def textDrift(spark: SparkSession, dir: String, splitAt: Long = 400): DataFrame = {
    val toksCol = normToks
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(toksCol).as("tok"))
      .filter(length(col("tok")) > 0)
      .select((col("doc_id") >= splitAt).as("is_delta"),
        substring(md5(col("tok")), 1, 2).as("bucket"))
    val observed = toks.groupBy("bucket").agg(
      sum(when(col("is_delta"), 1L).otherwise(0L)).as("d_cnt"),
      sum(when(col("is_delta"), 0L).otherwise(1L)).as("b_cnt"))
    // every one of the 256 buckets carries smoothed probability mass
    // (the +1/+256 denominators), so buckets with zero tokens on BOTH
    // sides still contribute a nonzero KL term whenever the totals
    // differ — a groupBy of observed buckets alone would understate
    // the Σ kl_term alert statistic. Join against the full hex spine.
    val spine = spark.range(256)
      .select(format_string("%02x", col("id")).as("bucket"))
    val counts = spine.join(observed, Seq("bucket"), "left")
      .na.fill(0L, Seq("d_cnt", "b_cnt"))
    val totals = counts.agg(sum("d_cnt").as("d_total"), sum("b_cnt").as("b_total"))
    val q = (col("d_cnt") + 1).cast("double") / (col("d_total") + 256)
    val p = (col("b_cnt") + 1).cast("double") / (col("b_total") + 256)
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("b_cnt"), col("d_cnt"),
        round((log(q) - log(p)) * 1e6).cast("long").as("logratio_micro"),
        round(q * (log(q) - log(p)) * 1e9).cast("long").as("kl_term_nano"))
      .orderBy("bucket")
  }

  /** X17: BPE merge learning (Sennrich et al. 2016) — learn the first
    * `nMerges` byte-pair merges from the corpus, at real tokenizer
    * vocab sizes. BPE trains on WORD TYPES, not corpus positions: ONE
    * distributed aggregate collapses the corpus to a (word, freq)
    * table bounded by vocabulary size — the sufficient statistic for
    * the whole training run — and the merge loop then runs driver-side
    * over that bounded table with INCREMENTALLY-maintained pair counts
    * (the HuggingFace-tokenizers architecture): a where-used index
    * maps each pair to the word types containing it, so merging a pair
    * touches only the affected types (delta the pair counts, never a
    * full recount), and a lazy-deletion max-heap yields each round's
    * argmax in O(log) with the (count desc, pair asc) tie-break.
    *
    * Versus the round-5 one-Spark-job-per-merge loop: the Spark job
    * count is now O(1) in `nMerges` (one aggregate + one collect —
    * Round10Spec pins it), and per-merge work is proportional to the
    * merged pair's occurrence mass, so 50k merges are seconds of
    * driver arithmetic, not days of job scheduling. At 100 TB the
    * corpus-scale work stays in the one distributed aggregate; the
    * driver holds only word types (`minFreq` > 1 prunes the
    * hapax-legomena tail that dominates noisy web vocabularies, the
    * SentencePiece posture). Greedy left-to-right splice + the total
    * tie-break order keep the learned table deterministic on any
    * partitioning. Iterative → not SQL-expressible → rows-only driver
    * check; exactness is pinned by hand-computed corpora in Round6Spec
    * and the job/touch bounds in Round10Spec.
    */
  def textBpe(spark: SparkSession, dir: String, nMerges: Int = 8,
              minFreq: Long = 2L, maxTypes: Int = 65536): DataFrame = {
    import spark.implicits._
    bpeLearn(spark, dir, nMerges, minFreq, maxTypes)._1
      .toDF("rank", "left", "right", "pair_freq")
      .orderBy("rank")
  }

  /** Shared BPE trainer: returns the ranked merges AND the word-type
    * table in its final segmentation (word, syms, freq) — the learn
    * loop's end state IS the tokenizer's lookup table, so X18 gets
    * word-type tokenization for free.
    */
  private def bpeLearn(spark: SparkSession, dir: String, nMerges: Int,
                       minFreq: Long = 2L, maxTypes: Int = 65536)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val (merges, words, _) = bpeLearnStats(spark, dir, nMerges, minFreq, maxTypes)
    (merges, words)
  }

  /** [[bpeLearn]] plus per-round instrumentation: `touched(r)` = how
    * many word types round r's merge actually rewrote — the quantity
    * Round10Spec bounds to prove per-round work ∝ affected-word mass.
    */
  private[graft] def bpeLearnStats(
      spark: SparkSession, dir: String, nMerges: Int, minFreq: Long = 2L,
      maxTypes: Int = 65536)
      : (Seq[(Int, String, String, Long)], DataFrame, Seq[Int]) = {
    import spark.implicits._
    val toksCol = split(trim(regexp_replace(lower(col("text")), "[^a-z ]+", " ")), " ", -1)
    // the ONLY corpus-scale work: one distributed (word, freq)
    // aggregate. The driver-side type table is BOUNDED two ways, both
    // defaults, because at web scale minFreq=1 collects every distinct
    // token type to the driver (the one genuine driver bottleneck this
    // operator can have): minFreq ≥ 2 drops the hapax-legomena tail
    // that dominates noisy web vocabularies, and maxTypes keeps the
    // top-V types by (freq desc, word) via TakeOrderedAndProject — ≤ V
    // rows per partition cross the wire, which is also what real
    // tokenizer trainers (SentencePiece/HF) do with their vocab caps.
    // The hand-pinned exactness specs pass minFreq=1 explicitly: they
    // verify the merge ALGORITHM on corpora whose words are deliberate
    // singletons; the defaults are the 100 TB posture.
    val types: Array[(String, Long)] = Tables.load(spark, dir, "documents")
      .select(explode(toksCol).as("word"))
      .filter(length(col("word")) > 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("word"))
      .limit(maxTypes)
      .as[(String, Long)].collect()

    val nTypes = types.length
    val syms: Array[Array[String]] =
      types.map { case (w, _) => w.toCharArray.map(_.toString) }
    val freqs: Array[Long] = types.map(_._2)

    // positional adjacent-pair counts of one word (a pair repeated at
    // several positions counts each position, matching the exploded
    // arrays_zip aggregate this replaces)
    def pairCounts(s: Array[String]): scala.collection.mutable.HashMap[(String, String), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        i += 1
      }
      m
    }
    // greedy left-to-right non-overlapping splice of (l, r) -> l+r
    def splice(s: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out += (l + r); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.toArray
    }

    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    var w = 0
    while (w < nTypes) {
      pairCounts(syms(w)).foreach { case (p, c) =>
        counts.update(p, counts.getOrElse(p, 0L) + c * freqs(w))
        where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += w
      }
      w += 1
    }
    // max-heap: highest count first, then lexicographically SMALLEST
    // (l, r); entries go stale when counts change — lazy deletion
    // revalidates against `counts` at pop time
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = b._2.compareTo(a._2)
          if (cl != 0) cl else b._3.compareTo(a._3)
        }
      }
    }
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((l, r), c) => pq.enqueue((c, l, r)) }

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val touched = Seq.newBuilder[Int]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      var best: (Long, String, String) = null
      while (best == null && pq.nonEmpty) {
        val cand = pq.dequeue()
        if (counts.get((cand._2, cand._3)).contains(cand._1)) best = cand
      }
      if (best == null) exhausted = true
      else {
        val (n, l, r) = best
        merges += ((rank, l, r, n))
        val affected = where.getOrElse((l, r), scala.collection.mutable.HashSet.empty).toArray
        touched += affected.length
        affected.foreach { widx =>
          val old = syms(widx)
          val neu = splice(old, l, r)
          val oldPc = pairCounts(old)
          val newPc = pairCounts(neu)
          val pairs = oldPc.keySet ++ newPc.keySet
          pairs.foreach { p =>
            val delta = (newPc.getOrElse(p, 0) - oldPc.getOrElse(p, 0)).toLong * freqs(widx)
            if (delta != 0L) {
              val c = counts.getOrElse(p, 0L) + delta
              if (c <= 0L) counts.remove(p)
              else { counts.update(p, c); pq.enqueue((c, p._1, p._2)) }
            }
            if (newPc.contains(p) && !oldPc.contains(p))
              where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += widx
            else if (oldPc.contains(p) && !newPc.contains(p))
              where.get(p).foreach { s => s -= widx; if (s.isEmpty) where.remove(p) }
          }
          syms(widx) = neu
        }
        rank += 1
      }
    }
    val wordsDf = spark.createDataFrame(
      types.indices.map(i => (types(i)._1, syms(i).toSeq, freqs(i))))
      .toDF("word", "syms", "freq")
    (merges.result(), wordsDf, touched.result())
  }

  /** X18: BPE tokenization with the learned merges — the APPLY side of
    * X17, done the 100 TB way: the corpus never replays merge splices.
    * The learn loop's final word table already holds every word TYPE's
    * segmentation, so tokenizing the corpus is one broadcast join from
    * exploded words to `size(syms)` — per-doc BPE token counts at
    * shuffle-join cost, independent of the merge count. Words outside
    * the trained table (single letters here) are their own piece.
    * Derives from the iterative trainer → rows-only check; counts
    * pinned by hand on a fixed corpus in Round6Spec.
    */
  def textBpeApply(spark: SparkSession, dir: String, nMerges: Int = 8,
                   minFreq: Long = 2L, maxTypes: Int = 65536): DataFrame = {
    val (_, words) = bpeLearn(spark, dir, nMerges, minFreq, maxTypes)
    val pieces = broadcast(words.select(col("word"), size(col("syms")).as("n_pieces")))
    val toksCol = split(trim(regexp_replace(lower(col("text")), "[^a-z ]+", " ")), " ", -1)
    // OOV fallback = character count: a word type outside the bounded
    // trained table (single letters, the pruned hapax tail) counts as
    // its untrained character-level segmentation — conservative, and
    // exact for the single-char case the length>1 training filter
    // always excludes
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(toksCol).as("word"))
      .filter(length(col("word")) > 0)
      .join(pieces, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_pieces"), length(col("word")))).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** X3: token counting — whitespace tokens and a BPE-ish piece count
    * (letter runs / single digits / single punctuation), the cheap
    * stand-in for a real pre-tokenizer when budgeting token counts for
    * a 100 TB corpus.
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("ws_tokens"),
        bpeishCount(col("text")).cast("long").as("bpeish_tokens"))
      .orderBy("doc_id")

  /** X4: content fingerprinting — md5-prefix content id (shard/dedup
    * key) plus a winnowing-style robust fingerprint: the minimum of the
    * per-shingle hashes, stable under small edits at either end of the
    * document.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("content_id"),
        // native one-pass min-of-gram-md5s ([[MinGramMd5]]); the
        // transform-over-shingles Column form is interpreted
        ColumnShim.column(MinGramMd5(ColumnShim.expression(col("text")), 3))
          .as("min_shingle_hash"))
      .orderBy("doc_id")

  /** X5: PII redaction — URLs, then emails, then long digit runs are
    * replaced with typed placeholder tags, applied in that order so an
    * address inside a URL is counted once. Counts come from the
    * pre-replacement text of each stage; the redacted text is surfaced
    * as an md5 so the oracle can verify the full transform without
    * hauling text through the compare. Single narrow projection — scan
    * throughput at any corpus size.
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val urlRe = "https?://[^\\s]+"
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val numRe = "[0-9]{4,}"
    val txt = col("text")
    val noUrl = regexp_replace(txt, urlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, emailRe, "<EMAIL>")
    val clean = regexp_replace(noEmail, numRe, "<NUM>")
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(txt, lit(urlRe), lit(0))).as("n_urls"),
        size(regexp_extract_all(noUrl, lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(noEmail, lit(numRe), lit(0))).as("n_nums"),
        md5(clean).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** X36: encoding-artifact gate — the corpus-hygiene signal that
    * catches BROKEN TEXT rather than bad content: U+FFFD replacement
    * characters (a decoder already gave up), C0 control characters
    * outside \t\n\r (binary junk that survived extraction), and
    * CP-1252-through-UTF-8 mojibake ("â€¦"-family sequences, the
    * signature of a double-encoding bug upstream). Clean non-ASCII
    * (accented words, CJK) is NOT flagged — the non-ASCII ratio rides
    * along as a plain diagnostic so the gate can't be mistaken for an
    * ASCII filter. Every web-scale corpus pipeline runs this before
    * tokenization: mojibake inflates vocab and poisons dedup keys.
    *
    * The synthetic corpus is pure ASCII, so artifacts are PLANTED
    * deterministically (doc_id residues; one suffix carries a clean
    * "café" + a mojibake "â€™", the others U+FFFD / BEL) and the
    * detectors run on the planted text — the oracle plants
    * byte-identical suffixes via chr() and must agree hash-exact.
    * Counting is replace()-length-diff for fixed sequences and one
    * regexp class removal for C0 — all BMP single-code-unit chars, so
    * Spark's UTF-16 length and DuckDB's codepoint length agree.
    * Single narrow projection: scan throughput at any corpus size.
    */
  def textEncoding(spark: SparkSession, dir: String): DataFrame =
    encodingGateOf(Tables.load(spark, dir, "documents"))

  /** [[textEncoding]]'s core over ANY (doc_id, text) frame — split out
    * so specs can feed hand documents (clean ASCII, clean non-ASCII,
    * and a doc_id = 11·13·17 row that collects every plant at once).
    */
  private[graft] def encodingGateOf(docs: DataFrame): DataFrame = {
    val repl = "�"
    val mojiPrefix = "â€" // CP-1252 punctuation family
    val t = col("planted")
    def cnt(seq: String) =
      ((length(t) - length(regexp_replace(t,
        lit(java.util.regex.Pattern.quote(seq)), lit(""))))
        / seq.length).cast("long")
    docs
      .withColumn("planted", concat(col("text"),
        when(col("doc_id") % 11 === 0,
          lit(" café isn" + mojiPrefix + "™t")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(repl)).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit("\u0007")).otherwise(lit(""))))
      .select(
        col("doc_id"),
        cnt(repl).as("n_repl"),
        (length(t) - length(regexp_replace(t,
          lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), lit("")))).cast("long").as("n_ctrl"),
        cnt(mojiPrefix).as("n_moji"),
        expr("1000000L * length(regexp_replace(planted, '[\\\\x00-\\\\x7f]', '')) div length(planted)")
          .as("nonascii_micro"))
      .withColumn("is_suspect",
        col("n_repl") > 0 || col("n_ctrl") > 0 || col("n_moji") > 0)
      .orderBy("doc_id")
  }

  /** X6: repetition scoring (Gopher-style quality signal) — the
    * fraction of word 2-grams / 3-grams that are repeats. High values
    * flag boilerplate/spam for the quality filter. Positional grams
    * minus their distinct count, all inside one scan projection.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    def dupFrac(n: Int) = {
      val g = wordGrams(col("text"), n)
      round((size(g) - size(array_distinct(g))).cast("double") /
        greatest(size(g), lit(1)), 4)
    }
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(wordGrams(col("text"), 2)).as("n_2grams"),
        dupFrac(2).as("dup_2gram_frac"),
        dupFrac(3).as("dup_3gram_frac"))
      .orderBy("doc_id")
  }

  /** X7: TF-IDF top terms per document. tf from one explode+aggregate
    * (map-side combine), df from a second aggregate over (term, doc)
    * pairs, idf quantized to integer MICRO-nats so the ranking is
    * exactly reproducible across engines (double ln products differ in
    * the last ulp between libms; integer tf·idf_micro cannot). The
    * tf⋈df join keys on term — the same partitioning the df aggregate
    * just produced, so AQE reuses the exchange.
    */
  def textTfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_micro").desc, col("term"))
    // df via an unordered window in the term exchange (not groupBy +
    // join-back): the tf table would have to shuffle by term for that
    // join anyway — the window form computes df in place, one exchange
    // and one join fewer (the dedup_ngram_jaccard df rework, reapplied)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_micro",
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)) * 1e6).cast("long"))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("doc_id", "rnk", "term", "tf", "df", "score_micro")
      .orderBy("doc_id", "rnk")
  }

  /** X8: document chunking — fixed-size token windows with overlap
    * (`chunkSize` tokens every `stride`), the standard prep step that
    * turns variable-length documents into training-sequence-sized
    * pieces. Chunk starts are `i·stride` while they fall inside the
    * document, so consecutive chunks share `chunkSize − stride` tokens
    * of context and the final chunk may be short. One generator
    * (`explode` over the start indices) + per-row `slice` — a narrow
    * map, no shuffle, and the fan-out is bounded by tokens/stride so
    * output size is a fixed multiple of corpus size at any scale.
    * Chunks are surfaced as md5 + token count (the compare-friendly
    * form); a production pipeline would keep the text.
    */
  def textChunk(spark: SparkSession, dir: String,
                chunkSize: Int = 64, stride: Int = 48): DataFrame =
    Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), floor((col("n") - 1) / stride).cast("int")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** X9: sequence packing — documents concatenated in deterministic
    * order within each source shard and split at a fixed token budget
    * (`seqLen`): each document's sequence id is its exclusive running
    * token offset ÷ seqLen. This is the concat-and-chunk packing step
    * that turns a filtered corpus into fixed-length training rows.
    * Packing is PER SOURCE (the shard key), so the running-sum window
    * parallelizes across shards — no global sequential pass; output per
    * (source, seq_id) is the packed stats row.
    */
  def textPack(spark: SparkSession, dir: String, seqLen: Int = 256): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_toks"))
      .withColumn("cum_excl", coalesce(sum("n_toks").over(w), lit(0L)))
      .withColumn("seq_id", floor(col("cum_excl") / seqLen).cast("long"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("source", "seq_id")
  }

  /** X10: benchmark decontamination — corpus documents sharing any
    * 8-gram with the benchmark/eval set are flagged (the overlap check
    * every training run owes its eval suite). The benchmark side
    * (eval suites are MBs, not TBs) collapses to a distinct gram set
    * and BROADCASTS; the corpus side streams through the scan — no
    * corpus-side shuffle before the per-doc overlap rollup, which is
    * exactly the 100 TB shape. Output per contaminated doc: how many
    * distinct grams leaked and from how many benchmark docs.
    */
  def textDecontaminate(spark: SparkSession, dir: String,
                        benchMax: Int = 20, n: Int = 8): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("text"), n))).as("gram"))
    val bench = grams.filter(col("doc_id") < benchMax)
      .select(col("gram"), col("doc_id").as("bench_id")).distinct()
    grams.filter(col("doc_id") >= benchMax)
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(
        countDistinct("gram").as("n_shared_grams"),
        countDistinct("bench_id").as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** X11: domain-mixture rebalancing plan — per-source token mass,
    * its natural share, and the deterministic keep-rate that levels
    * every source to an equal token budget (rate capped at 1 for
    * under-represented sources, i.e. downsample the head, keep the
    * tail whole). Integer micro-units for cross-engine determinism.
    * Pairs with T8: this computes the per-stratum rates T8 applies.
    */
  def textMixture(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy()
    Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
      .withColumn("total", sum("n_tokens").over(all))
      .withColumn("n_src", count(lit(1)).over(all))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") * 1000000L / col("total")).cast("long").as("share_micro"),
        least(lit(1000000L),
          round(col("total") * lit(1000000.0) / (col("n_src") * col("n_tokens"))))
          .cast("long").as("keep_rate_micro"))
      .orderBy("source")
  }

  /** X12: corpus-wide top-K n-grams — the global boilerplate detector
    * ("lorem ipsum", cookie banners, license headers surface here
    * first). Explode per-doc DISTINCT bigrams (document frequency, not
    * raw term frequency, so one spammy doc can't promote a gram), then
    * one map-side-combined count and a distributed TakeOrdered top-K —
    * no global sort, each partition ships only its K best. Tie-break on
    * the gram string keeps the cut deterministic.
    */
  /** X13: vocabulary build — the top-V terms by corpus frequency with
    * contiguous stable ids (the tokenizer-training / embedding-table
    * prep step). Fact-scale work is one map-side-combined term count +
    * a distributed TakeOrdered cut; id assignment (a rank window) runs
    * on the V survivors only, never the corpus. Ties break on the term
    * so the vocabulary is reproducible.
    */
  /** X35: Zipf rank–frequency fit — the corpus-health diagnostic
    * paired with X33's Heaps-law curve: natural text follows
    * freq(rank) ∝ rank^(−s) with s ≈ 1; a slope far from −1 flags a
    * degenerate corpus (template farms flatten the head, OCR noise
    * fattens the tail), and the R² says whether a power law holds at
    * all — the two numbers a curator reads before trusting token
    * statistics from a new source. OLS on (ln rank, ln freq) over the
    * top-V vocabulary.
    *
    * Exactness (the X15 contract): ONE micro-rounded ln per
    * coordinate, exact long sums after (V ≤ 1000 → Σxy ≤ V·(ln V·1e6)²
    * ≈ 1e17 < int64), the closing slope/R² doubles assembled once on
    * bit-equal integers in the same operation order both engines.
    * Rank = row_number over the V SURVIVORS only (X13's pattern — the
    * window never sees the corpus), full (freq desc, term) total
    * order.
    */
  def textZipf(spark: SparkSession, dir: String, topV: Int = 1000): DataFrame = {
    val w = Window.orderBy(col("freq").desc, col("term"))
    val ranked = Tables.load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topV)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
        floor(log(col("freq").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
    val g = ranked.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // slope/R² assembled once on bit-equal longs; numerators exceed
    // int64 (micro² · V² terms) → exact decimal(38,0)/HUGEINT products
    val num = (col("n").cast("decimal(38,0)") * col("sxy")
      - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
    val denX = (col("n").cast("decimal(38,0)") * col("sxx")
      - col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    val denY = (col("n").cast("decimal(38,0)") * col("syy")
      - col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
    g.select(col("n").as("n_types"),
      floor(num / denX * 1e6 + 0.5).cast("long").as("slope_micro"),
      floor(num / denX * (num / denY) * 1e6 + 0.5).cast("long").as("r2_micro"))
  }

  def textVocab(spark: SparkSession, dir: String, vocabSize: Int = 100): DataFrame = {
    val w = Window.orderBy(col("freq").desc, col("term"))
    Tables.load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(vocabSize)
      .withColumn("token_id", row_number().over(w) - 1)
  }

  def textTopgrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(wordGrams(col("text"), 2))).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(k)

  /** X20: TRAINED quality classifier — distill the X14 rule bundle
    * into a hashed-linear model, the fastText-style quality-filter
    * step of modern corpus pipelines (DCLM/FineWeb shape: expensive
    * labels once, a cheap compiled scorer at corpus scale; here the
    * label source is the rule bundle itself, i.e. rule distillation).
    *
    * Features (integer micro-units, each in [0, 1e6]): bias, capped
    * word count, mean word length, symbol ratio, digit ratio, stopword
    * fraction, and `buckets` hashed-unigram frequency buckets — one
    * narrow projection, computed once and checkpointed.
    *
    * Training is batch gradient descent with the k-means/PCA split:
    * one MERGEABLE aggregate per iteration (bounded explode to
    * (feature, contribution) rows → map-side partial sums), and only
    * the d-long gradient crosses the driver boundary. Determinism at
    * any parallelism: each doc's gradient contribution is rounded to
    * an integer micro BEFORE the sum, so gradients — and therefore the
    * learned micro-weights — are exact long arithmetic, independent of
    * partitioning and merge order (spec-pinned by training twice under
    * different repartitionings).
    *
    * The sigmoid's double math makes the scores unreplayable in
    * DuckDB (and the bucket hash is Spark's xxhash64) → rows-only;
    * Round8Spec pins weight determinism and training accuracy ≥ the
    * majority-class prior (the number lands in RECALL_r05.json).
    */
  def textQualityModel(spark: SparkSession, dir: String,
                       iters: Int = 40, lrMicro: Long = 3000000L,
                       buckets: Int = 16,
                       repartitionTo: Option[Int] = None): DataFrame = {
    val toks = normToks
    val stop = stopWords
    val nToks = greatest(size(col("toks")), lit(1))
    def microFrac(num: Column): Column =
      least(lit(1000000L), floor(num.cast("long") * lit(1000000L) / nToks).cast("long"))
    val bucketFeats = (0 until buckets).map { b =>
      microFrac(size(filter(col("toks"),
        t => pmod(xxhash64(t), lit(buckets)) === b)))
    }
    val feats = array(
      Seq(
        lit(1000000L),                                                // bias
        least(lit(1000000L), size(col("toks")).cast("long") * 2000L), // words / 500, capped
        least(lit(1000000L), floor(length(concat_ws("", col("toks")))
          .cast("long") * lit(100000L) / nToks).cast("long")),        // mean word len / 10
        least(lit(1000000L), floor((length(col("text")) -
          length(regexp_replace(col("text"), "[^a-z0-9\\s]", "")))
          .cast("long") * lit(1000000L) / greatest(length(col("text")), lit(1))).cast("long")),
        least(lit(1000000L), floor((length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long") * lit(1000000L) / greatest(length(col("text")), lit(1))).cast("long")),
        microFrac(size(filter(col("toks"), t => t.isInCollection(stop))))
      ) ++ bucketFeats: _*)
    val d = 6 + buckets
    // features + rule label, computed once; every GD iteration re-reads
    // these materialized rows instead of re-running the tokenization.
    // repartitionTo exists for the determinism spec — training must
    // produce identical weights under ANY partitioning.
    val base = textGopherRules(spark, dir).select(col("doc_id"), col("keep"))
      .join(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"), toks.as("toks"))
          .select(col("doc_id"), feats.as("x")),
        Seq("doc_id"))
      .select(col("doc_id"), col("x"), col("keep").cast("double").as("y"))
    // the raw features are read only until the standardized ones are
    // materialized: the scope frees them then
    val (labeled, n) = CheckpointIds.scoped(spark) { cp =>
      val (raw, n) = cp.counting(repartitionTo.fold(base)(p => base.repartition(p)))
      // Standardize every non-bias feature to zero-mean/unit-variance
      // micro-ints — raw features are all non-negative, and un-centered
      // GD spends its budget fitting the bias instead of separating.
      // μ and σ derive from EXACT long sums (Σx, Σx² via one mergeable
      // aggregate), so the standardized ints — like the gradients — are
      // identical under any partitioning.
      // Σv fits a long up to ~9e12 docs, but Σv² (v ≤ 1e6 → v² ≤ 1e12)
      // would overflow past ~9.2e6 docs — sum it as decimal(38,0), which
      // is still EXACT integer arithmetic (order-independent), just wider
      val stats = raw
        .select(posexplode(col("x")).as(Seq("b", "v")))
        .groupBy("b").agg(sum("v").as("s"),
          sum((col("v") * col("v")).cast("decimal(38,0)")).as("s2"))
        .collect().map(r =>
          r.getInt(0) -> (r.getLong(1), r.getDecimal(2).toBigInteger)).toMap
      val mu = (0 until d).map(b => stats(b)._1.toDouble / n).toArray
      val sd = (0 until d).map { b =>
        math.sqrt(math.max(0.0, new java.math.BigDecimal(stats(b)._2).doubleValue() / n -
          mu(b) * mu(b)))
      }.toArray
      val muLit = typedlit(mu.toSeq)
      val sdLit = typedlit(sd.map(s => if (s < 1e-9) 1.0 else s).toSeq)
      val keepBias = typedlit((0 until d).map(b => if (sd(b) < 1e-9) 1 else 0))
      val labeled = cp(raw
        .select(col("doc_id"),
          zip_with(col("x"), sequence(lit(0), lit(d - 1)), (xi, b) =>
            when(element_at(keepBias, b + 1) === 1, xi) // constant cols (bias) pass through
              // clip at ±10σ (1e7 micro): a near-constant feature's σ
              // shrinks like Δ/√n, so an unclipped outlier z-score grows
              // with corpus size and could overflow the long dot product
              .otherwise(greatest(lit(-10000000L), least(lit(10000000L),
                round((xi.cast("double") - element_at(muLit, b + 1)) /
                  element_at(sdLit, b + 1) * 1e6).cast("long"))))).as("x"),
          col("y")))
      (labeled, n)
    }
    var w = Array.fill(d)(0L) // micro-weights
    def zCol(weights: Array[Long]): Column =
      aggregate(zip_with(col("x"), typedlit(weights.toSeq), (xi, wi) => xi * wi),
        lit(0L), (acc, p) => acc + p).cast("double") / 1e12
    def sig(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))
    for (_ <- 0 until iters) {
      // the margin is computed ONCE per row as a scalar projection —
      // HOF lambdas are interpreted with no loop-invariant hoisting,
      // so a sig(z) inside the transform would re-run the d-term dot
      // product and the exp() for every one of the d elements
      val grad = labeled
        .select(col("x"), (sig(zCol(w)) - col("y")).as("err"))
        .select(posexplode(transform(col("x"),
          xi => round(col("err") * xi).cast("long"))).as(Seq("b", "g")))
        .groupBy("b").agg(sum("g").as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = w.indices.map(b =>
        w(b) - math.round(lrMicro.toDouble * grad.getOrElse(b, 0L) / n / 1e6)).toArray
    }
    labeled
      .select(col("doc_id"),
        round(sig(zCol(w)) * 1e6).cast("long").as("score_micro"),
        (sig(zCol(w)) >= 0.5).as("predicted"),
        (col("y") > 0.5).as("label"))
      .orderBy("doc_id")
  }

  /** X24: character-entropy quality signal — per-document Shannon
    * entropy of the character distribution, the classic gibberish /
    * binary-junk / keyboard-mash detector (natural text sits ~2.5–4.5
    * bits; runs of one char or base64 blobs fall outside).
    *
    * Shape: explode chars → hash-aggregate (doc, char) counts → one
    * window sum for the doc total → integer-term aggregate back to one
    * row per doc. Everything is codegen'd hash aggregation; the
    * partial agg collapses the exploded stream to vocab-bounded
    * (doc × distinct-char) rows BEFORE any shuffle, so wire traffic is
    * ~alphabet-sized per document at any corpus scale. (A per-row HOF
    * formulation is tempting — zero shuffle — but interpreted lambda
    * eval re-evaluates subtrees embedded in the closure per ELEMENT:
    * an `array_sort` referenced inside a `filter` lambda re-sorts the
    * array for every element, O(n²·log n) per doc. Measured: minutes
    * per partition at sf0.01. Aggregates are the honest Spark shape.)
    * Per-char entropy terms are micro-rounded to longs BEFORE the
    * final sum, so the reduction is order-free integer arithmetic and
    * the DuckDB oracle (same grouped-explode form) matches exactly.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    // drop the trailing "" Spark's limit=-1 split appends (DuckDB's
    // string_split has no such artifact)
    val chars = filter(split(col("text"), ""), x => x =!= "")
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), chars.as("chars"))
    val counts = base
      .select(col("doc_id"), explode(col("chars")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
    val byDoc = counts
      .withColumn("n", sum("cnt").over(Window.partitionBy("doc_id")))
    // -(c/n)·ln(c/n) in micro-nats per distinct char, as a long
    val agg = byDoc
      .select(col("doc_id"), col("n"),
        round(-(col("cnt") / col("n")) * log(col("cnt") / col("n")) * 1e6)
          .cast("long").as("term"))
      .groupBy("doc_id")
      .agg(max("n").as("n_chars"),
        count(lit(1)).cast("int").as("n_distinct"),
        sum("term").as("entropy_micro"))
    // empty-text docs vanish in the explode — restore them as zeros
    base.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct"), lit(0)).as("n_distinct"),
        coalesce(col("entropy_micro"), lit(0L)).as("entropy_micro"))
      .orderBy("doc_id")
  }

  /** X23: PMI collocations — the corpus's top-K word pairs by pointwise
    * mutual information, ln(P(ab)/(P(a)P(b))), with a minimum bigram
    * count (rare pairs make PMI explode; every collocation extractor
    * thresholds). The phrase-mining step behind tokenizer vocab
    * extensions and boilerplate-phrase detection.
    *
    * Shape at scale: positional bigrams come from shifted-slice zips in
    * the scan projection (the X19 pattern); unigram and bigram counts
    * are partial-aggregated groupBys; the count-join fan-in is
    * vocab-bounded (distinct tokens/pairs, not corpus rows); totals are
    * one broadcast row. The final top-K is `orderBy().limit()` — Spark
    * plans TakeOrderedAndProject, a per-partition top-K merge, so the
    * full scored pair table never concentrates anywhere.
    *
    * All probabilities reduce to exact long counts; the single double
    * expression (one ln) is written with identical association on both
    * engines and micro-rounded, so the oracle matches exactly.
    */
  def textPmi(spark: SparkSession, dir: String, topK: Int = 20, minCount: Int = 5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), normToks.as("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = docs.select(
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("l"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("r"))).as("p"))
      .select(col("p.l").as("w1"), col("p.r").as("w2"))
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val totals = bigrams.agg(count(lit(1)).as("n_bi"))
      .crossJoin(uni.agg(sum("c_w").as("n_uni")))
    bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro",
        round(log((col("c_ab").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("c_a") * col("c_b"))) * 1e6).cast("long"))
      .select("w1", "w2", "c_ab", "pmi_micro")
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** X22: BM25 top-k retrieval — score every document against a fixed
    * query set with Lucene-form BM25 (idf = ln(1 + (N−df+0.5)/(df+0.5)),
    * always positive) and return the k best docs per query. The
    * retrieval step behind dataset curation-by-query (targeted domain
    * upsampling, eval-set mining) over a web-scale corpus.
    *
    * Scale shape: the query vocabulary is filtered IN the corpus scan
    * (`isin` over a literal set), so the per-term exchange moves only
    * postings of query terms — O(|corpus ∩ query vocab|), not the full
    * inverted index. df comes from a window inside that same exchange
    * (the dedup_ngram_jaccard/text_tfidf rework — no aggregate+join
    * back), corpus stats (N, Σdl) are ONE tiny global aggregate
    * broadcast everywhere, and the final per-query top-k is the
    * mergeable [[graft.functions.Aggregators.TopKByScore]] — partial
    * map-side buffers mean k rows per partition cross the shuffle, so a
    * handful of queries never concentrates the full candidate set on
    * single reducers the way a window rank would.
    *
    * Determinism: per-(doc, term) contributions are micro-rounded then
    * summed as longs, so scores are exact integers at any parallelism;
    * ties break on doc_id asc inside the aggregate, matching the
    * oracle's `ORDER BY score_micro DESC, doc_id`. BM25 constants are
    * spelled as the same double literals on both sides (2.2 = k1+1,
    * 0.25 = 1−b, not computed) so both engines parse identical doubles.
    */
  def textBm25(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    import spark.implicits._
    // (q_id, term) — fixed query set over the corpus vocabulary
    val querySet = Seq(
      (0L, "spark"), (0L, "query"), (0L, "join"),
      (1L, "stream"), (1L, "window"), (1L, "batch"),
      (2L, "hash"), (2L, "merge"), (2L, "sort"),
      (3L, "customer"), (3L, "data"), (3L, "table"))
    val qTerms = querySet.map(_._2).distinct
    val withDl = Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), filter(normToks, t => t =!= "").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = withDl
      // doc-level prune BEFORE the explode fan-out: a doc sharing no
      // term with any query never produces a posting row at all
      .filter(arrays_overlap(col("toks"), typedlit(qTerms)))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    val contrib = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(querySet.toDF("q_id", "term")), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn",
        (col("tf") * lit(2.2)) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") * col("n_docs") / col("sum_dl")))))
      .withColumn("c_micro", round(col("idf") * col("tfn") * 1e6).cast("long"))
    val scored = contrib.groupBy("q_id", "doc_id")
      .agg(sum("c_micro").as("score_micro"))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(topK))
    scored.groupBy("q_id")
      .agg(topk(col("score_micro").cast("double"), col("doc_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("e._2").as("doc_id"), col("e._1").cast("long").as("score_micro"))
      .orderBy("q_id", "rnk")
  }

  /** X26: exact phrase search over a positional index — per-document
    * occurrence counts of fixed multi-token phrases, the exact-match
    * retrieval rung under X22's BM25 bag-of-words ranking (boilerplate
    * hunting, targeted curation-by-phrase, quote mining all need
    * positions, not term frequencies).
    *
    * Scale shape: the positional postings (doc, pos, term) are born in
    * the corpus scan and immediately filtered to the PHRASE vocabulary
    * (`isin` over a literal set — postings of non-query terms never
    * exist). Adjacency is then the anchor-vote trick: a posting at
    * position p matching phrase slot i votes for anchor p−i, and an
    * anchor holding ALL `plen` slots is a full occurrence — ONE
    * map-side-combinable aggregate keyed (phrase, doc, anchor)
    * replaces the textbook chain of plen−1 positional self-joins
    * (each a full shuffle of the postings list). A slot can match a
    * given anchor at most once (one token per position), so
    * `count(*) = plen` is exact, and overlapping occurrences (e.g.
    * "batch batch batch" twice inside 4 repeats) fall out naturally
    * as distinct anchors. Slot table is a broadcast literal; traffic
    * is O(postings of phrase terms), never corpus-bounded.
    */
  def textPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val phrases = Seq(
      (0L, "window batch"), (1L, "batch batch batch"),
      (2L, "spark table small"), (3L, "data row column"))
    val slots = phrases
      .flatMap { case (id, p) =>
        val ts = p.split(' ')
        ts.zipWithIndex.map { case (t, i) => (id, p, i, t, ts.length) }
      }.toDF("phrase_id", "phrase", "slot", "term", "plen")
    val vocab = phrases.flatMap(_._2.split(' ')).distinct
    val postings = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(filter(normToks, t => t =!= "")).as(Seq("pos", "term")))
      .filter(col("term").isin(vocab: _*))
    postings.join(broadcast(slots), "term")
      .select(col("phrase_id"), col("phrase"), col("plen"),
        col("doc_id"), (col("pos") - col("slot")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("phrase_id", "phrase", "plen", "doc_id", "anchor")
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === col("plen"))
      .groupBy("phrase_id", "phrase", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy("phrase_id", "doc_id")
  }

  /** X25: per-domain document cap — keep at most `cap` documents per
    * source/domain, chosen by a deterministic hash order (the C4 /
    * RefinedWeb "limit pages per domain" curation rule: without it a
    * handful of template-heavy domains dominate the corpus mixture).
    * The kept set is a deterministic uniform sample WITHIN each domain
    * because the Knuth multiplicative hash of doc_id is
    * order-uniform — not "first N by crawl order", which would bias
    * toward whatever the ingest happened to list first.
    *
    * Scale shape: the naive form — `row_number() over (partition by
    * source order by h)` then `rank <= cap` — shuffles and SORTS every
    * corpus row into its domain's reducer, and a mega-domain (the
    * exact thing the cap exists for) becomes one straggler reducer
    * sorting its whole domain. Instead the per-domain keeper set is
    * the bounded mergeable top-k aggregate
    * ([[graft.functions.Aggregators.TopKByScore]] on score = −h):
    * partial buffers cap at `cap` entries map-side, so ≤ cap rows per
    * (domain, partition) cross the wire regardless of domain skew —
    * traffic is O(domains · cap · parallelism), corpus rows stay put.
    * Per-domain totals (the drop accounting every curation report
    * needs) ride the SAME aggregate, and the domain table that comes
    * back is vocab-bounded, never corpus-bounded.
    *
    * Determinism: h = (doc_id · 2654435761) mod 2^32 (exact in a
    * double up to 2^32, negated for the aggregate's desc order) with
    * doc_id-asc ties — a total order both engines replay; the oracle's
    * window form is the semantic spec, this aggregate is the plan that
    * survives the skew.
    */
  /** X27: group-aware train/val/test split — assignment is a pure
    * function of the document's SOURCE, not its row, so every document
    * from one domain lands in the same split. This is the
    * leakage-safe split an eval pipeline needs: near-duplicate and
    * template-sibling documents cluster within domains, and a row-hash
    * split (T7) would scatter them across train and test, leaking
    * training text into the benchmark. Group-hashing closes that
    * channel by construction — cross-split source overlap is
    * IMPOSSIBLE, not just unlikely (spec-pinned).
    *
    * Shape: split = md5-prefix of the salted source name bucketed
    * 256-ways (~80/10/10 by hex thresholds) — computed in the scan
    * projection, zero shuffles before the 3-group summary aggregate.
    * The assignment is frozen forever for a given source name: domains
    * that arrive in tomorrow's crawl land deterministically without
    * reshuffling today's split (the C4/Dolma reproducibility
    * property). Per-split doc/source/char tallies are the oracle
    * surface; both engines replay the identical md5 arithmetic.
    */
  def tGroupSplit(spark: SparkSession, dir: String): DataFrame = {
    val b = substring(md5(concat(lit("split2:"), col("source"))), 1, 2)
    val split = when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    Tables.load(spark, dir, "documents")
      .withColumn("split", split)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("n_chars").as("total_chars"))
      .orderBy("split")
  }

  /** X28: corpus-novelty scoring — for every document, the fraction
    * of its DISTINCT 5-grams that appear in no other document. X6
    * measures repetition WITHIN a document; this is the cross-corpus
    * complement: boilerplate (navigation chrome, licenses, templated
    * listings) scores near 0, original prose near 1 — the signal
    * curation uses to down-weight template farms that aren't
    * near-duplicates of any single page (D2/D3 can't see them because
    * no PAIR is similar; the SHARED-GRAM mass is the tell).
    *
    * Shape: per-doc distinct gram md5s in the scan projection →
    * explode → one (gram → doc-frequency) aggregate (map-side
    * combined, corpus-linear like D7's paragraph hashing) → AQE
    * broadcast-or-hash join back on the gram hash → per-doc
    * aggregate. Gram strings never shuffle — only 128-bit hashes.
    * Exactness: counts are longs, the one ratio is micro-rounded at
    * the end; both engines replay the identical tokenizer + gram
    * construction.
    */
  def textNovelty(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val grams = wordShingles(col("text"), n)
    val docGrams = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(transform(grams, g => md5(g))).as("h"))
    val df = docGrams.groupBy("h").agg(count(lit(1)).as("df"))
    docGrams.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") * 1e6 / col("n_grams"))
          .cast("long").as("novelty_micro"))
      .orderBy("doc_id")
  }

  def textDomainCap(spark: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val topk = udaf(graft.functions.Aggregators.TopKByScore(cap))
    val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), (-h.cast("double")).as("nh"))
      .groupBy("source")
      .agg(topk(col("nh"), col("doc_id")).as("keep"),
        count(lit(1)).as("n_source"))
      .select(col("source"), col("n_source"),
        posexplode(col("keep")).as(Seq("pos", "e")))
      .select(col("source"), col("e._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("keep_rank"), col("n_source"))
      .orderBy("source", "keep_rank")
  }

  /** X34: extractive key-sentence selection (TextRank-lite) — pick
    * each document's most CENTRAL sentence: score(s) = Σ over the
    * doc's other sentences of |shared normalized tokens| (degree
    * centrality on the sentence-similarity graph — one power-
    * iteration short of TextRank, deterministic and integer-exact),
    * winner by (score desc, position asc). The data-prep use is
    * snippet/preview generation and lead-sentence heuristics for
    * retrieval indexing — summarization as a corpus operator, no
    * model required.
    *
    * Scale: the sentence graph is PER-DOCUMENT (explode → per-doc
    * token self-join bounded by sentences²-per-doc, never corpus²);
    * token strings shuffle once keyed by (doc, token). Integer
    * overlap counts, total-order tie-break, md5 of the winning
    * sentence → hash-exact oracle.
    */
  def textSummary(spark: SparkSession, dir: String): DataFrame = {
    val sents = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), "\\.\\s+")))
      .filter(length(trim(col("col"))) > 0)
      .select(col("doc_id"), col("pos"), trim(col("col")).as("sent"))
    val toks = sents.select(col("doc_id"), col("pos"),
        explode(array_distinct(split(
          trim(regexp_replace(lower(col("sent")), "[^a-z0-9]+", " ")), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
    val overlap = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") === col("b.tok") &&
          col("a.pos") =!= col("b.pos"))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"))
      .agg(count(lit(1)).as("score"))
    val best = sents.join(overlap, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"), col("sent"),
        coalesce(col("score"), lit(0L)).as("score"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sents"),
        max(struct(col("score"), (-col("pos")).cast("long").as("np"),
          col("sent"))).as("m"))
    best.select(col("doc_id"), col("n_sents"),
        (-col("m.np")).cast("int").as("best_pos"),
        col("m.score").as("score"), md5(col("m.sent")).as("sent_md5"))
      .orderBy("doc_id")
  }

  /** X33: n-gram novelty decay curve — the empirical Heaps'-law
    * diagnostic behind "is more of this source still worth
    * ingesting?": documents are consumed in doc_id order, and each
    * bucket of `bucketSize` docs reports how many NEVER-SEEN-BEFORE
    * distinct n-grams it contributed, plus the cumulative total. A
    * flattening curve is diminishing returns — the signal corpus
    * curators read before buying/crawling more of a source (and the
    * corpus-level complement of X28's per-doc novelty).
    *
    * One pass, no cumulative distinct: a gram's contribution lands
    * entirely at its FIRST occurrence (min doc_id per gram hash), so
    * the curve is a vocabulary-sized min-aggregate + a bucket
    * histogram + one tiny window cumsum — corpus-linear, no
    * quadratic rescan of prefixes.
    */
  def textGramDecay(spark: SparkSession, dir: String,
                    n: Int = 3, bucketSize: Int = 50): DataFrame = {
    val first = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(transform(array_distinct(wordShingles(col("text"), n)),
          g => md5(g))).as("h"))
      .groupBy("h").agg(min("doc_id").as("fd"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first.groupBy(expr(s"fd div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("new_grams"))
      .withColumn("cum_grams", sum("new_grams").over(w))
      .orderBy("bucket")
  }

  /** X32: language-ID confusion matrix — X1's predictions folded
    * against the corpus's generator labels: entry (lang, pred_lang)
    * counts documents. The per-class error structure (which languages
    * leak into which) is what a filter designer reads before setting
    * a language threshold — aggregate accuracy hides that 'es'
    * confusions land in 'fr', not uniformly. Classifier EVALUATION
    * as a first-class corpus operator: the same roll-up works for
    * any (truth, predicted) column pair.
    */
  def textLangidEval(spark: SparkSession, dir: String): DataFrame =
    textLangid(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** X31: RAKE keyphrase extraction (Rose et al. 2010, Rapid
    * Automatic Keyword Extraction) — the unsupervised keyphrase
    * baseline: candidate phrases are maximal stopword-free token
    * runs, each word scores `degree/frequency` over the phrase
    * co-occurrence graph (degree = Σ length of phrases containing
    * the word — words that travel in long phrases score high), and a
    * phrase scores the sum of its word scores. Corpus-level roll-up:
    * every distinct phrase scored once against corpus-wide word
    * stats, with its occurrence count riding along.
    *
    * Phrase segmentation is the gaps-and-islands idiom: non-stopword
    * tokens keep their original position, `run = pos − rank` is
    * constant exactly within a maximal stopword-free run — one
    * window, no per-token conditionals, identical in both engines
    * (the 1-based/0-based position offset cancels inside the
    * subtraction). Word scores are integer micro (`1e6·deg div
    * freq`) before the phrase sum, so everything after the window is
    * exact long arithmetic → hash-exact oracle.
    *
    * Scale: one corpus explode + one per-doc window (the X8/E2
    * shape), then vocabulary-sized aggregates; phrase strings group
    * once. `maxPhraseLen` caps the candidate tail (RAKE noise
    * control), not the window.
    */
  def textRake(spark: SparkSession, dir: String,
               topK: Int = 20, maxPhraseLen: Int = 3): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(normToks))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    val nonstop = toks.filter(!col("tok").isInCollection(stopWords))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("run", col("pos") - col("rn"))
    val phrases = nonstop.groupBy("doc_id", "run")
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= maxPhraseLen)
    val words = phrases.select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
    val wordScore = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"), expr("(1000000L * deg) div freq").as("wscore"))
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), max("plen").as("plen"))
    distinctPhrases
      .select(col("phrase"), col("n_occ"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, "w")
      .groupBy("phrase")
      .agg(max("n_occ").as("n_occ"), max("plen").as("plen"),
        sum("wscore").as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
      .select("phrase", "plen", "n_occ", "score_micro")
  }

  /** X30: cross-source surprisal transfer matrix — train a unigram
    * model on EACH source, score EVERY source's token stream under
    * it: entry (m, t) is the mean add-one-smoothed surprisal of
    * target source t under model source m. The diagonal is X15's
    * self-surprisal; the OFF-diagonal is the domain-transfer signal
    * mixture designers actually weigh (DoReMi/DSIR-style: a target
    * domain that stays low-surprisal under another domain's model is
    * redundant with it; one that spikes is novel coverage).
    *
    * Exactness: the X15 contract — each token's surprisal is rounded
    * to integer micro BEFORE summing, so sums are merge-order-free
    * exact longs; add-one smoothing over the GLOBAL vocab size keeps
    * OOV tokens finite and both engines replay the identical double
    * `ln` on bit-equal integer inputs.
    *
    * Scale shape (round-8 rework): the token STREAM is collapsed to
    * the per-source term-frequency table FIRST (one corpus-linear
    * map-side-combined aggregate — the same table the models train
    * on), and every later join runs at VOCAB scale: each (target,
    * tok, t_cnt) TF row fans out ×|sources| against the broadcast
    * source list and hash-joins the (m_source, tok) count table, so
    * per-pair surprisal sums are t_cnt-WEIGHTED — identical integers
    * (m depends only on (m_source, tok); Σ_occurrences m ≡
    * Σ_tok t_cnt·m, exact in longs) at a fraction of the shuffle:
    * the previous corpus×|sources| scoring join moved every token
    * OCCURRENCE (measured 37 s at the 10× step); the TF form moves
    * each distinct (source, tok) once — smaller by the mean token
    * frequency, and never corpus × corpus.
    */
  def textTransfer(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(normToks).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy(col("source").as("m_source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("m_source").agg(sum("cnt").as("total"))
    val vocab = counts.select("tok").distinct().agg(count(lit(1)).as("v"))
    val sources = counts.select("m_source").distinct()
    val tf = counts.select(col("m_source").as("target_source"),
      col("tok"), col("cnt").as("t_cnt"))
    tf.crossJoin(broadcast(sources))
      .join(counts, Seq("m_source", "tok"), "left")
      .join(broadcast(totals), "m_source")
      .crossJoin(broadcast(vocab))
      .select(col("m_source"), col("target_source"), col("t_cnt"),
        round(log((col("total") + col("v")).cast("double") /
          (coalesce(col("cnt"), lit(0L)) + lit(1L))) * 1e6).cast("long").as("m"))
      .groupBy("m_source", "target_source")
      .agg(sum("t_cnt").as("n_toks"), sum(col("t_cnt") * col("m")).as("sum_micro"))
      .select(col("m_source"), col("target_source"), col("n_toks"),
        expr("sum_micro div n_toks").as("mean_surprisal_micro"))
      .orderBy("m_source", "target_source")
  }

  /** X29: per-source boilerplate line removal (the CCNet/RefinedWeb
    * cleaning pass): a sentence is boilerplate for a source when it
    * appears in ≥ `thresholdPct`% of that source's documents —
    * nav/footer/disclaimer text that D7 merely DETECTS globally. The
    * per-source fractional threshold is what distinguishes template
    * text ("All rights reserved" on 90% of a domain's pages) from a
    * merely popular sentence, and the output is the CLEANED document
    * (surviving sentences re-joined in original order, fingerprinted)
    * rather than a report.
    *
    * Plan shape: one explode in the scan projection → one
    * (source, sent_hash) doc-frequency aggregate (map-side combined,
    * corpus-linear) joined against per-source doc counts (sources are
    * few → AQE broadcasts); the boilerplate set is Zipf-small, so the
    * join-back onto the sentence stream broadcasts too; one final
    * per-doc aggregate reassembles. Sentence STRINGS cross the first
    * shuffle only inside the per-doc reassembly group — frequency
    * counting moves 128-bit hashes.
    *
    * Deterministic (exact counts, md5 fingerprint of the reassembled
    * text, original sentence order preserved via pos) → DuckDB-oracled
    * hash-exact. Input passes through [[graft.operators.Dedup
    * .withBoilerplate]] so real boilerplate exists at every SF.
    */
  def textBoilerplate(spark: SparkSession, dir: String,
                      thresholdPct: Int = 10): DataFrame = {
    // the D7 injection, with `source` kept (withBoilerplate projects
    // it away): same literal, same every-7th-doc rule
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(graft.operators.Dedup.boilerplate)))
          .otherwise(col("text")).as("text"))
    val sents = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\\.\\s+")))
      .filter(length(trim(col("col"))) > 0)
      .select(col("doc_id"), col("source"), col("pos"),
        trim(col("col")).as("sent"),
        md5(trim(lower(col("col")))).as("h"))
    val srcDocs = docs.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_src_docs"))
    val dropped = sents.groupBy("source", "h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(srcDocs, "source")
      .filter(col("df") * 100 >= lit(thresholdPct) * col("n_src_docs"))
      .select(col("source"), col("h"), lit(1).as("is_bp"))
    sents.join(dropped, Seq("source", "h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("is_bp").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips nulls → only kept sentences enter; the
        // (pos, sent) struct sort restores original document order
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("is_bp").isNull, struct(col("pos"), col("sent"))))),
          x => x.getField("sent")), ". ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** X37: held-out perplexity evaluation — fit the add-1-smoothed
    * bigram LM (X19's scorer) on a TRAIN split only and score the
    * held-out split per source, the eval loop every corpus-quality
    * iteration runs: X19 scores documents under a model that saw
    * them (fine for outlier detection, circular for evaluation);
    * this is the honest number — unseen test bigrams pay the full
    * smoothed surprisal, so a source whose test half diverges from
    * its train half surfaces immediately (and comparing per-source
    * rows ranks which domains the LM transfers to, X30's matrix
    * collapsed to its honest diagonal). Split by doc_id % 5 — the
    * deterministic hash split (T7), not random.
    *
    * Scale shape: train bigram/context counts are two
    * map-side-combinable aggregates; test bigrams LEFT-join them on
    * the bigram key (unseen → coalesce 0, the smoothing floor) plus
    * a 1-row vocab broadcast; per-token micro-rounded ln before the
    * exact per-source sums (X15's contract). The join keys here are
    * token strings — at 100 TB both sides would carry 8-byte token
    * hashes instead (the D2/X29 move); left as strings so the oracle
    * joins literally.
    */
  def textHeldout(spark: SparkSession, dir: String): DataFrame =
    textHeldoutOf(Tables.load(spark, dir, "documents"))

  /** [[textHeldout]]'s core over ANY (doc_id, source, text) frame. */
  private[graft] def textHeldoutOf(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"), normToks.as("toks"))
      .filter(size(col("toks")) >= 2)
    def bigramsOf(d: DataFrame) = d.select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("l"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("r"))).as("p"))
      .select(col("doc_id"), col("source"), col("p.l").as("l"), col("p.r").as("r"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val trainBg = bigramsOf(train)
    val pc = trainBg.groupBy("l", "r").agg(count(lit(1)).as("c_lr"))
    val cc = trainBg.groupBy("l").agg(count(lit(1)).as("c_l"))
    val vocab = train.select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0).agg(countDistinct("tok").as("v"))
    bigramsOf(docs.filter(col("doc_id") % 5 === 0))
      .join(pc, Seq("l", "r"), "left")
      .join(cc, Seq("l"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("source"), col("doc_id"),
        round(log((coalesce(col("c_l"), lit(0L)) + col("v")).cast("double") /
          (coalesce(col("c_lr"), lit(0L)) + 1)) * 1e6).cast("long").as("m"))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        expr("sum(m) div count(1)").as("mean_surprisal_micro"))
      .orderBy("source")
  }

  /** T35: hashing-trick feature vectorization (Weinberger et al.,
    * ICML 2009) — project each document's token stream into a FIXED
    * d-dimensional sparse vector by hashing tokens to buckets, with a
    * second hash choosing the sign so colliding tokens cancel in
    * expectation instead of biasing upward. The point vs X13's
    * vocabulary build: NO corpus-wide vocab state exists — no global
    * dictionary shuffle, no OOV problem, the feature space is fixed
    * before the first byte is read, and two independently-processed
    * corpora land in the SAME space (the property streaming/federated
    * featurization needs at 100 TB).
    *
    * Exactness: bucket and sign derive from md5 hex via ascii
    * arithmetic — both engines produce identical md5 strings and
    * identical ascii/substr, so the vectors replay bit-equal (the
    * mm_integrity idiom, folded to an integer the T7 way). Scale
    * shape: one scan-side codegen projection (md5 + ascii are
    * builtins) + one map-side-combinable (doc, bucket) aggregate;
    * output is the sparse COO form, ≤ min(tokens, d) rows per doc.
    */
  def featureHash(spark: SparkSession, dir: String, nBuckets: Int = 64): DataFrame =
    featureHashOf(Tables.load(spark, dir, "documents"), nBuckets)

  /** [[featureHash]]'s core over ANY (doc_id, text) frame. */
  private[graft] def featureHashOf(docs: DataFrame, nBuckets: Int): DataFrame = {
    val m = md5(col("tok"))
    def a(i: Int) = ascii(substring(m, i, 1))
    docs
      .select(col("doc_id"), explode(normToks).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        pmod(((a(1) * 131 + a(2)) * 131 + a(3)) * 131 + a(4), lit(nBuckets))
          .cast("long").as("bucket"),
        when(a(5) % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "bucket")
      .agg(sum("sgn").as("v"))
      .orderBy("doc_id", "bucket")
  }
}
