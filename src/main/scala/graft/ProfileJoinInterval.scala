package graft

import graft.streaming.StreamStage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetRead

/** Scratch profiler for the s_join_interval streaming outlier
  * (VERDICT r8 "Next round" #6): replays the StreamBench feed and
  * times the stream-stream interval join under tuning variations,
  * printing per-run batch counts / output rows / state rows from the
  * query progress — the observables that tell state churn apart from
  * output volume and per-batch fixed cost.
  */
object ProfileJoinInterval {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_pji").toString
    val feed = base + "/feed"
    val raw = Tables.eventsTsAsNanosLong(spark, sfDir)
    val maxId = raw.agg(max("event_id")).head.getLong(0) + 1
    val reps = spark.range(2).select(col("id").as("rep"))
    val replicated = raw.crossJoin(broadcast(reps))
      .withColumn("event_id", col("event_id") + col("rep") * maxId)
      .drop("rep")
    StreamStage.stageTimeOrdered(replicated, "ts", feed, 16)
    val schema = ParquetRead(spark, feed).schema
    println(s"feed rows=${ParquetRead(spark, feed).count()}")

    def run(tag: String, filesPerTrigger: Int, stateParts: Int,
            providerRocks: Boolean = false): Unit = {
      val spKey = "spark.sql.shuffle.partitions"
      val prior = spark.conf.get(spKey)
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val priorProv = spark.conf.getOption(provKey)
      spark.conf.set(spKey, stateParts.toString)
      if (providerRocks) spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val fmtKey = "spark.sql.streaming.join.stateFormatVersion"
      val priorFmt = spark.conf.getOption(fmtKey)
      if (tag.contains("fmt3")) spark.conf.set(fmtKey, "3")
      try {
        def stream() = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger)
          .parquet(feed)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        def once(): (Double, Long, Long, Int) = {
          val src = if (tag.contains("1src")) {
            val s = stream(); () => s
          } else { () => stream() }
          val clicks = src().filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
            .withWatermark("click_ts", "1 hour")
          val purchases = src().filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "1 hour")
          val joined = purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("click_ts") <= col("p_ts") &&
              col("click_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
          val ckpt = base + s"/ckpt_${tag}_${System.nanoTime()}"
          val t0 = System.nanoTime()
          val q = joined.writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val sec = (System.nanoTime() - t0) / 1e9
          val progs = q.recentProgress
          if (tag.contains("dump")) progs.foreach { p =>
            val st = p.stateOperators.map(s =>
              s"commit=${s.allUpdatesTimeMs}+${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString("; ")
            println(s"  batch=${p.batchId} in=${p.numInputRows} dur=${p.durationMs} state[$st]")
          }
          val outRows = progs.map(_.sink.numOutputRows).sum
          val stateRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
          (sec, outRows, stateRows, progs.count(_.numInputRows > 0))
        }
        once() // cold
        val runs = Seq.fill(3)(once())
        val med = runs.map(_._1).sorted.apply(1)
        println(f"$tag%-34s med=$med%6.2fs out=${runs.head._2}%8d stateMax=${runs.head._3}%8d batches=${runs.head._4}%3d")
      } finally {
        spark.conf.set(spKey, prior)
        priorProv match {
          case Some(v) => spark.conf.set(provKey, v)
          case None    => spark.conf.unset(provKey)
        }
        priorFmt match {
          case Some(v) => spark.conf.set(fmtKey, v)
          case None    => spark.conf.unset(fmtKey)
        }
      }
    }

    // r9 findings (sf0.1, 200k events, quiet box): the join's cost is
    // a ~1 s per-batch floor (4 state stores/partition + 2 sources);
    // sp and provider move it <25%, batch count moves it linearly
    run("baseline fpt=2 sp=8", 2, 8)
    run("fpt=2 sp=4", 2, 4)
    run("fmt3 rocks fpt=2 sp=8", 2, 8, providerRocks = true)
    run("fpt=4 sp=8 (shipped)", 4, 8)
    run("fmt3 rocks fpt=4 sp=8", 4, 8, providerRocks = true)
    spark.stop()
  }
}
