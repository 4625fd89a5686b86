package graft

import org.apache.spark.sql.SparkSession

import scala.util.Try

/** Tuned SparkSession factory for the graft engine.
  *
  * Every knob here is chosen for the 100 TB / many-executor target and
  * merely *also* works on `local[32]`:
  *   - AQE on (runtime coalescing, skew-join splitting, join-strategy
  *     demotion) so static shuffle-partition counts don't need to be
  *     right at every scale factor;
  *   - shuffle partitions default to the core count locally — on a real
  *     cluster deployments override this to 2–3× total cores and AQE
  *     coalesces back down;
  *   - broadcast threshold 16 MiB: all true dimension tables
  *     (region/nation/supplier, LSH centroid sets, language-marker
  *     tables) stay map-side at any SF, while array-heavy corpus
  *     tables never qualify (see the inline note on the config);
  *   - 256 MiB parquet split size keeps task counts sane on wide scans;
  *   - compiled codegen classes outlive the call that compiled them, so
  *     a pipeline run again in the same JVM reuses them. Spark keeps
  *     them in one JVM-wide LRU cache of 100 entries. One pass of the
  *     LLM corpus flow, the LSH kNN join and PageRank needs 194–200
  *     classes, replayed in the same order every pass, so at 100 the
  *     LRU evicted each class just before it was needed again and every
  *     pass recompiled ~190 of them; the reference ETL flow (sources,
  *     sinks, SQL) needs 82 and already fit. Here the cache holds 1000,
  *     and class names leave out the codegen stage id, which AQE
  *     assigns in planning order: the same stage planned under another
  *     id reuses its class, and the corpus pass needs 166.
  *   - no UI history: the UI is off, but Spark's status store still
  *     keeps every job, stage, task and SQL execution (with its plan
  *     text) up to its UI caps of 1000 jobs, 1000 stages, 100000 tasks
  *     a stage and 1000 executions, ~32 KB of driver heap a job. No
  *     result reads it, so the session keeps the last 10 jobs, stages
  *     and executions, enough for `SparkStatusTracker` to read the
  *     latest action. A stage keeps its last 100 tasks: at 10 retained
  *     stages the default would let a few wide stages hold 10^6 task
  *     records. Measured over warm passes of PageRank, near-dup
  *     clusters and label propagation in one JVM (`local[2]` on a
  *     4-core box, sf0.001), the heap after GC grew 2.57 MB a pass with
  *     Spark's caps and 0.9–1.2 MB with caps of 1, 10 or 50, and the
  *     listener threads' CPU was the same for all three (+0.02 s a pass
  *     for the trimming).
  *     A session that turns the UI on can raise them with `.config`.
  *   - query-stage threads are reused: AQE hands each shuffle stage,
  *     each query's final stage and each broadcast to one of three
  *     JVM-wide pools (`shuffle-exchange`, `ResultQueryStageExecution`,
  *     `broadcast-exchange`), whose core size equals their cap of 1024,
  *     1024 and 128 threads. Below the cap every task starts a new
  *     thread even when idle ones wait, and a thread lives 60 s after
  *     its last task with ~22 KB of thread-local heap. A warm pass of
  *     the corpus flow, the LSH kNN join and PageRank started 28
  *     shuffle and 15 result-stage threads, so a driver that ran the
  *     pass again and again held 43 more threads and ~0.9 MB more heap
  *     after each pass. Here each pool holds 16, as Spark's subquery
  *     pool and AQE's stage-creator pool do, and a pass starts none
  *     once they are full. A pool thread computes a stage's partitions
  *     and submits its job, runs a query's final job, or collects one
  *     broadcast, whose build side under AQE is a stage already done.
  *     Spark 4.1 also has it wait for the scalar subqueries in its
  *     stage, whose own stages need the same pools: 16 such waits
  *     would hold a pool while the subqueries queue behind them. So
  *     the session's [[org.apache.spark.sql.graft.ResolveStageSubqueries]]
  *     rule resolves them on the thread that plans the stage, and no
  *     pool thread waits on a task of its own pool. Outside AQE
  *     (streaming micro-batches) a broadcast whose build side holds
  *     another broadcast or a subquery still waits on a pool thread,
  *     so more than 16 such broadcasts at once can stall: the same
  *     trade Spark makes with its 16-thread subquery pool.
  *
  * Precondition for the static settings (the codegen cache and the
  * pool caps): Spark reads each of them once per JVM, the cache size
  * when the JVM first generates code and each cap when its pool is
  * first used. They take effect only if a session built here is active
  * at that moment; otherwise the JVM keeps Spark's defaults (a cache of
  * 100, pools of 1024, 1024 and 128) for its life. Build the session
  * before any other Spark call.
  */
object GraftSession {
  def builder(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      // native graft expressions on the SQL surface (graft_cosine, …)
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 16 MiB: dimension tables (region/nation/supplier, centroid sets,
      // marker lists) are KBs and always qualify; array-heavy corpus
      // tables (shingle sets, embeddings) must NOT qualify — their
      // deserialized footprint is several× the plan's serialized
      // estimate and repeated broadcasts become driver-heap churn
      .config("spark.sql.autoBroadcastJoinThreshold", (16L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.ts is TIMESTAMP(NANOS) — read as nanos long (see Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      // no UI to show the history: see the scaladoc
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      // static: sized once per JVM, from the session that compiles
      // first. 1000 holds several pipelines of the working sets above
      // (166 and 78 classes per pass with these settings). A cached
      // class retains ~23 KB of heap, so a full cache is ~23 MB.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // static: each pool is sized when first used (see the scaladoc)
      .config("spark.sql.shuffleExchange.maxThreadThreshold", "16")
      .config("spark.sql.resultQueryStage.maxThreadThreshold", "16")
      .config("spark.sql.broadcastExchange.maxThreadThreshold", "16")

  /** Run `body` with `settings` on the session's conf, then hand the
    * conf back as it was. The keys are set inside the scope, so a
    * `set` that throws (a static key) still restores the keys set
    * before it. On exit each key set here goes back to its prior
    * value, or is unset when it had none; a key that only held its
    * default counts as unset, since `getOption` would read the
    * default back as if it were set. The body's exception propagates
    * with any restore failure added as suppressed.
    *
    * Spark reads the conf when it optimizes and runs a plan, not when
    * the frame is built: a result that must run under the settings
    * has to be materialized inside `body` (`collect`,
    * `localCheckpoint`, a finished stream). The conf is the session's,
    * so a query running concurrently in the same session sees the
    * settings too.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val explicit = conf.getAll
    val prior = settings.map { case (k, _) => k -> explicit.get(k) }
    var applied = 0
    // puts back every key set so far, and returns what failed
    def restore(): Seq[Throwable] =
      prior.take(applied).reverse.flatMap { case (k, v) =>
        Try(v.fold(conf.unset(k))(conf.set(k, _))).failed.toOption
      }
    val result = try {
      settings.foreach { case (k, v) => conf.set(k, v); applied += 1 }
      body
    } catch {
      case e: Throwable =>
        // the body's exception is the one that propagates
        restore().foreach(e.addSuppressed)
        throw e
    }
    restore() match {
      case Seq() => result
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
