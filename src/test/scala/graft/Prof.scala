package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.{CheckpointIds, QueryCost}

import scala.jdk.CollectionConverters._

/** The profiler: one query at a time, timed by the bench's own loop
  * ([[Bench.timeQuery]]) and measured by the one cost listener
  * ([[QueryCost]]). It is test code, so it does not ship in the
  * product jar. Run `sbt "Test/runMain graft.Prof <mode> …"`:
  *
  *   - `time <sfDir> <query>…`: each run's wall time, persisted RDDs,
  *     the checkpoints held across calls ([[CheckpointIds.held]]; the
  *     rest of the persisted RDDs are the run's own) and used heap, then
  *     the warm median and min;
  *   - `stages <sfDir> <query> [warmRuns=1]`: the jobs and stages of
  *     one run after `warmRuns` unmeasured ones, stages by task time,
  *     and the driver gap outside jobs;
  *   - `scale <sfDir> <query>…`: the warm median at 1× and over the
  *     bench's 10× blow-up ([[Bench.ensureScaled]]), and their ratio;
  *   - `plans <sfDir> <query>…`: formatted physical plans;
  *   - `jobcost`: the per-job fixed cost ([[BenchSentinel.measure]]);
  *   - `stream <sfDir>`: the streaming throughput block
  *     ([[graft.streaming.StreamBench]]), one entry a line;
  *   - `threads <sfDir> <runs> <query>…`: `runs` runs of the queries,
  *     each over a fresh copy of `sfDir`; after each run, the heap
  *     after GC and the live threads, in all and per driver pool
  *     ([[threadPools]]).
  *
  * A mode is a function of a session and its arguments; only `main`
  * builds and stops a session.
  */
object Prof {
  val modes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "time" -> time, "stages" -> stages, "scale" -> scale, "plans" -> plans,
    "jobcost" -> jobCost, "stream" -> stream, "threads" -> threads)

  /** Thread-name prefixes of AQE's three query-stage pools, which
    * [[GraftSession]] caps at 16.
    */
  val stagePools: Seq[String] = Seq("shuffle-exchange-", "ResultQueryStageExecution-", "broadcast-exchange-")

  /** The driver pools that `threads` counts: [[stagePools]] and the
    * block manager's two, which Spark fixes at 100 each.
    */
  val threadPools: Seq[String] =
    stagePools ++ Seq("block-manager-ask-thread-pool-", "block-manager-storage-async-thread-pool-")

  /** The names of the JVM's live threads. */
  def liveThreadNames(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)

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
          s"held=${CheckpointIds.held(spark).size} " +
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
    val (perAction, perShuffle) = BenchSentinel.measure(spark)
    println(f"JOBCOST per-trivial-action ms=$perAction%.2f (2 jobs under AQE)")
    println(f"JOBCOST per-32task-agg ms=$perShuffle%.2f")
  }

  def stream(spark: SparkSession, args: Seq[String]): Unit =
    graft.streaming.StreamBench.run(spark, args.head).foreach { e =>
      println(f"STREAM ${e.name}%-22s med=${e.sec}%6.2fs min=${e.minSec}%6.2fs " +
        f"events=${e.events} evps=${e.eventsPerSec}%,.0f jobs=${e.jobs}")
    }

  def threads(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(dir, runs, queries @ _*) = args
    val rt = Runtime.getRuntime
    def used: Long = rt.totalMemory - rt.freeMemory
    (1 to runs.toInt).foreach { run =>
      val copy = SparkSpec.freshCopy(dir)
      queries.foreach(q => Bench.runOnce(spark, q, copy))
      // the listeners see the whole run; then collect until the heap
      // stops falling. A collection queues Spark's ContextCleaner, which
      // frees unreachable blocks on its own thread, so wait between
      // collections (as the benchmark's retained-heap probe does)
      QueryCost.drain(spark.sparkContext)
      def collect(): Long = { System.gc(); used }
      var heap = collect()
      var rounds = 0
      var fell = true
      while (fell && rounds < 5) {
        Thread.sleep(100)
        val next = collect()
        rounds += 1
        fell = next < heap * 0.99
        heap = math.min(heap, next)
      }
      val names = liveThreadNames()
      val pools = threadPools.map(p => s"${p.stripSuffix("-")}=${names.count(_.startsWith(p))}")
      println(f"THREADS run=$run heapMB=${heap / 1048576.0}%.1f live=${names.size} ${pools.mkString(" ")}")
    }
  }
}
