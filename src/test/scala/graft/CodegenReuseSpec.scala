package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.operators.{Graph, Similarity}
import graft.pipeline.CorpusPipeline

/** A pipeline run again in the same JVM reuses the classes that Spark's
  * whole-stage codegen compiled for its first run. The input is a fresh
  * copy of the testdata in a new directory each time, as a scheduled
  * flow would see it, so nothing is reused through a path-keyed memo.
  *
  * One run of the corpus flow, the LSH kNN join and PageRank compiles
  * about 200 classes, replayed in the same order on every run: a cache
  * smaller than that evicts each class just before it is needed again,
  * and the second run compiles nearly all of them anew (195 of 203 with
  * Spark's default of 100 entries).
  */
class CodegenReuseSpec extends SparkSpec {

  private def freshCopy(): String = {
    val dst = Files.createTempDirectory("graft_codegen_reuse")
    Files.list(Paths.get(sfDir)).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while the three calls run and materialize. */
  private def run(dir: String): Long = {
    val before = compiles()
    CorpusPipeline.corpusE2E(spark, dir).collect()
    Similarity.knnJoinLsh(spark, dir).collect()
    Graph.pageRank(spark, dir).collect()
    compiles() - before
  }

  test("a repeat run on a fresh copy of its input compiles at most 10 % as many classes") {
    // the session sizes the cache, so it must exist before the cache is
    // first touched; the first run then starts cold whatever ran before
    spark.sparkContext
    org.apache.spark.graft.TestCodegenCache.clear()
    val first = run(freshCopy())
    val second = run(freshCopy())
    assert(second <= first / 10,
      s"the second run compiled $second classes, the first $first")
  }
}
