package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.QueryCost

/** The profiler: one query at a time, timed by the bench's own loop
  * ([[Bench.timeQuery]]) and measured by the one cost listener
  * ([[QueryCost]]). It is test code, so it does not ship in the
  * product jar. Run `sbt "Test/runMain graft.Prof <mode> …"`:
  *
  *   - `time <sfDir> <query>…`: each run's wall time, persisted RDDs
  *     and used heap, then the warm median and min;
  *   - `stages <sfDir> <query> [warmRuns=1]`: the jobs and stages of
  *     one run after `warmRuns` unmeasured ones, stages by task time,
  *     and the driver gap outside jobs;
  *   - `scale <sfDir> <query>…`: the warm median at 1× and over the
  *     bench's 10× blow-up ([[Bench.ensureScaled]]), and their ratio;
  *   - `plans <sfDir> <query>…`: formatted physical plans;
  *   - `jobcost`: the per-job fixed cost ([[BenchSentinel.measure]]);
  *   - `stream <sfDir>`: the streaming throughput block
  *     ([[graft.streaming.StreamBench]]), one entry a line.
  *
  * A mode is a function of a session and its arguments; only `main`
  * builds and stops a session.
  */
object Prof {
  val modes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "time" -> time, "stages" -> stages, "scale" -> scale, "plans" -> plans,
    "jobcost" -> jobCost, "stream" -> stream)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse {
      System.err.println(s"usage: graft.Prof <${modes.keys.toSeq.sorted.mkString("|")}> <args>...")
      sys.exit(2)
    }
    // before any other Spark call: the first session to generate code
    // sizes the JVM's codegen cache (see GraftSession)
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try mode(spark, args.toSeq.tail)
    finally spark.stop()
  }

  def time(spark: SparkSession, args: Seq[String]): Unit = {
    val dir +: queries = args
    val rt = Runtime.getRuntime
    queries.foreach { q =>
      var run = 0
      val t = Bench.timeQuery(spark, q, dir, each = { sec =>
        run += 1
        println(f"RUN $q $run t=$sec%.3f persistedRDDs=${spark.sparkContext.getPersistentRDDs.size} " +
          s"usedHeapMB=${(rt.totalMemory - rt.freeMemory) >> 20}")
      })
      println(f"TIME $q $dir median=${t.median}%.3f min=${t.min}%.3f")
    }
  }

  def stages(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(dir, q, rest @ _*) = args
    (1 to rest.headOption.fold(1)(_.toInt)).foreach(_ => Bench.runOnce(spark, q, dir))
    spark.catalog.clearCache()
    System.gc()
    val (t, cost) = QueryCost.of(spark)(Bench.runOnce(spark, q, dir))
    println(f"TOTAL $q $t%.3f s  jobs=${cost.jobs.size}  stages=${cost.stages.size}")
    val t0 = (cost.jobs.map(_.startMs) ++ cost.stages.map(_.submittedMs)).minOption.getOrElse(0L)
    println("-- jobs (start..end ms rel) --")
    cost.jobs.sortBy(_.startMs).foreach { j =>
      println(f"job ${j.id}%4d  ${j.startMs - t0}%6d.." +
        j.endMs.fold("running")(e => f"${e - t0}%6d  (${e - j.startMs}%5d ms)"))
    }
    println("-- stages by task time (submit..complete) --")
    cost.stages.sortBy(-_.runTimeMs).take(30).foreach { s =>
      println(f"stage ${s.id}%4d wall=${s.completedMs - s.submittedMs}%5d ms task=${s.runTimeMs}%6d ms " +
        f"tasks=${s.tasks}%3d  ${s.name.takeWhile(_ != '\n').take(90)}")
    }
    val wall = cost.jobs.flatMap(j => j.endMs.map(_ - j.startMs)).sum
    println(f"sum(job walls)=$wall ms  over ${cost.jobs.size} jobs  " +
      f"(t=${t * 1000}%.0f ms; gap=${t * 1000 - wall}%.0f ms outside jobs)")
  }

  def scale(spark: SparkSession, args: Seq[String]): Unit = {
    val dir +: queries = args
    val scaled = Bench.ensureScaled(spark, dir, 10)
    queries.foreach { q =>
      val base = Bench.timeQuery(spark, q, dir).median
      val big = Bench.timeQuery(spark, q, scaled).median
      println(f"SCALE $q base=$base%.3f scaled=$big%.3f ratio=${big / base}%.2f")
    }
  }

  def plans(spark: SparkSession, args: Seq[String]): Unit = {
    val dir +: queries = args
    queries.foreach { q =>
      println(s"========== $q ==========")
      println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(FormattedMode))
    }
  }

  def jobCost(spark: SparkSession, args: Seq[String]): Unit = {
    val (perJob, perShuffle) = BenchSentinel.measure(spark)
    println(f"JOBCOST per-trivial-job ms=$perJob%.2f")
    println(f"JOBCOST per-32task-agg ms=$perShuffle%.2f")
  }

  def stream(spark: SparkSession, args: Seq[String]): Unit =
    graft.streaming.StreamBench.run(spark, args.head).foreach { e =>
      println(f"STREAM ${e.name}%-22s med=${e.sec}%6.2fs min=${e.minSec}%6.2fs " +
        f"events=${e.events} evps=${e.eventsPerSec}%,.0f jobs=${e.jobs}")
    }
}
