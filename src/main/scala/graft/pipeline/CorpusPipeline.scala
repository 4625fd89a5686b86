package graft.pipeline

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** P2: the full training-data preparation pipeline as ONE composed
  * graft Flow — the end-to-end shape every LLM corpus build runs:
  *
  *   quality filter → exact dedup → near-dup cluster resolution →
  *   chunk accounting → per-source corpus stats
  *
  * Each stage is the already-verified operator re-used on the previous
  * stage's survivor set (lineage stays lazy across tasks — Catalyst
  * optimizes the WHOLE pipeline as one plan per action, and the only
  * materialization is the iterative cluster step's checkpoints).
  *
  * Scale shape: quality filtering is scan-side; exact dedup is one
  * hash aggregate; near-dup pairs come from the PPJoin inverted index
  * (computed once, endpoints filtered to survivors — identical to
  * running it on the survivor subset, since pairwise Jaccard is
  * oblivious to other documents); cluster resolution touches only the
  * pair graph (tiny); chunk counts are arithmetic, not an explode.
  */
object CorpusPipeline {

  def corpusE2E(spark: SparkSession, dir: String,
                threshold: Double = 0.5,
                chunkStride: Int = 48): DataFrame = {
    import Flow._
    flow("corpus-prep") {
      val quality = task("quality_filter") {
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            tokenCount(col("text")).cast("long").as("n_toks"))
          .filter(col("n_toks").between(20, 1000))
      }
      val exactDeduped = task("exact_dedup") {
        val keep = quality
          .groupBy(md5(normText(col("text"))).as("h"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        quality.join(keep, "doc_id")
      }
      val nearDupSurvivors = task("near_dup_resolve") {
        val ids = exactDeduped.select("doc_id")
        val pairs = Dedup.ngramPairs(spark, dir, threshold)
          .select("doc_a", "doc_b")
          .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        val drops = Dedup.clusterLabels(pairs)
          .filter(col("id") =!= col("lbl"))
          .select(col("id").as("doc_id"))
        exactDeduped.join(drops, Seq("doc_id"), "left_anti")
      }
      task("corpus_stats") {
        // chunk count in closed form: ⌊(n−1)/stride⌋+1 (X8's start
        // grid) — no generator needed for accounting
        nearDupSurvivors
          .withColumn("n_chunks",
            (floor((col("n_toks") - 1) / chunkStride) + 1).cast("long"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chunks").as("n_chunks"),
            sum("n_toks").as("n_tokens"))
          .orderBy("source")
      }
    }
  }
}
