package graft

import Bench.json

/** The scale-step block as its OWN main, run in a FRESH JVM
  * (spawned by [[Bench]], or standalone:
  * `runMain graft.BenchScale <sfDir> <factor>`).
  *
  * Why a separate process: three rounds of committed bench artifacts
  * showed session-tail step ratios of 10–15× for operators whose
  * isolated two-decade runs measure 5–7× — accumulated JVM/GC/broadcast
  * debt from the ~100-entry bench session ahead of the block, not
  * super-linear work (r9/r10 "What's wrong" #1). Running BOTH decades
  * (1× and `factor`×) in one fresh JVM makes the committed ratio an
  * isolated measurement by construction — same methodology, now
  * structural.
  *
  * Prints ONE JSON line: `{"factor":N,"isolated":true,"base":{1×
  * medians},"queries":{N× medians},"ratio":{N×/1×},"total":sec,
  * "iters":{per-run times for entries over 5 s}}`.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val realOut = System.out
    System.setOut(System.err)
    scala.Console.withOut(System.err) { run(args, realOut) }
  }

  private def run(args: Array[String], realOut: java.io.PrintStream): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // wall budget in seconds, handed down by the parent bench as ITS
    // remaining budget (VERDICT r14 #1: this block ran unbudgeted, so
    // the whole bench overshot by the scale block's full runtime).
    // Checked BETWEEN entries — entries already started run to
    // completion; standalone runs default to unbudgeted.
    val budgetS = args.lift(2).flatMap(s =>
      scala.util.Try(s.toDouble).toOption).getOrElse(Double.MaxValue)
    val startNanos = System.nanoTime()
    def overBudget: Boolean = (System.nanoTime() - startNanos) / 1e9 > budgetS
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession
      .builder(appName = "graft-bench-scale", master = s"local[$cpus]",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val scaledDir = Bench.ensureScaled(spark, sfDir, factor)
    // interleave decades per query (1× immediately before its N×) so
    // any residual drift biases the RATIO as little as possible; the
    // load sentinel samples after each decade so a loaded segment is
    // attributable to the specific ratio it distorted. The budget is
    // checked before each entry: once exceeded the remaining names are
    // reported as truncated instead of silently run past the parent's
    // wall budget (VERDICT r14 #1).
    val truncated = scala.collection.mutable.ArrayBuffer[String]()
    val rows = Bench.scaleStep.flatMap { n =>
      if (overBudget) { truncated += n; None }
      else {
        val base = Bench.timeQuery(spark, n, sfDir)
        BenchSentinel.record(spark, s"$n@1x")
        val big = Bench.timeQuery(spark, n, scaledDir)
        BenchSentinel.record(spark, s"$n@${factor}x")
        Some((n, base, big))
      }
    }
    val truncJson =
      if (truncated.isEmpty) ""
      else s""","truncated_n":${truncated.size},"truncated_first":${
        truncated.take(3).map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val completeJson = s""","complete":${truncated.isEmpty}"""
    // PRELIMINARY emission before the (un-budgeted) work-mass passes:
    // the parent parses the LAST JSON line, so a kill during work-mass
    // still leaves every finished timing on stdout instead of voiding
    // the whole block — the same emit-before-risky-work contract the
    // r14 #1 bench fix established (review pass 3, round 14)
    realOut.println(
      f"""{"factor":$factor,"isolated":true$completeJson,"base":${json(rows.map(r => r._1 -> r._2.median))},"queries":${json(rows.map(r => r._1 -> r._3.median))},"ratio":${json(rows.map(r => r._1 -> r._3.median / math.max(r._2.median, 1e-9)))},"total":${rows.map(_._3.median).sum}%.3f$truncJson,"work_pending":true}""")
    realOut.flush()
    // WORK-MASS channel (VERDICT r14 #3): operator-independent work
    // units at both decades — triangles for the parts-graph family,
    // edges for the trade-graph iteratives — so each graph entry's
    // time ratio can be divided by its WORK ratio in-artifact. A 13×
    // time ratio over a 10× triangle mass normalizes to 1.3× per unit
    // of work; raw ratios alone cannot distinguish densification from
    // overhead. Measured AFTER the timed runs (its own passes, cache
    // dropped) so it never contaminates a timing. Skipped (honestly —
    // the preliminary line above stays as the artifact) when the
    // parent's budget is already exceeded.
    if (overBudget) { spark.stop(); return }
    org.apache.spark.sql.graft.CheckpointIds.release(spark)
    val workBase = graft.operators.Graph.workMass(spark, sfDir)
    org.apache.spark.sql.graft.CheckpointIds.release(spark)
    val workScaled = graft.operators.Graph.workMass(spark, scaledDir)
    val workJson = workBase.keys.toSeq.sorted.map { k =>
      val (b, s) = (workBase(k), workScaled(k))
      f""""$k":{"base":$b,"scaled":$s,"ratio":${s.toDouble / math.max(1L, b)}%.3f}"""
    }.mkString(",\"work\":{", ",", "}")
    val workNorm = rows.flatMap { case (n, base, big) =>
      graft.operators.Graph.workUnitOf.get(n).map { unit =>
        val wRatio = workScaled(unit).toDouble / math.max(1L, workBase(unit))
        val tRatio = big.median / math.max(base.median, 1e-9)
        n -> tRatio / math.max(wRatio, 1e-9)
      }
    }
    val workNormJson =
      if (workNorm.isEmpty) ""
      else s""","ratio_worknorm":${json(workNorm)}"""
    val iters = rows.filter(_._3.median > 5.0).map { case (n, _, big) =>
      "\"" + n + "\":" + big.iters.map(v => f"$v%.3f").mkString("[", ",", "]")
    }
    val itersJson = if (iters.isEmpty) "" else iters.mkString(",\"iters\":{", ",", "}")
    val line =
      f"""{"factor":$factor,"isolated":true$completeJson,"base":${json(rows.map(r => r._1 -> r._2.median))},"queries":${json(rows.map(r => r._1 -> r._3.median))},"ratio":${json(rows.map(r => r._1 -> r._3.median / math.max(r._2.median, 1e-9)))}$workJson$workNormJson,"total":${rows.map(_._3.median).sum}%.3f$truncJson$itersJson${BenchSentinel.json}}"""
    realOut.println(line)
    realOut.flush()
    spark.stop()
  }
}
