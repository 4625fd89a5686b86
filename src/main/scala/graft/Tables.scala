package graft

import org.apache.spark.sql.graft.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's "point the pipeline at a data file" model
  * (reference: week_1/data_ingest/data_ingest.py:22 `get_data`), except
  * the reader is Spark's vectorized parquet scan: column pruning and
  * predicate pushdown reach the file scan for free once plans stay
  * declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** A table's snapshot: its qualified path, the total length of its
    * files and their latest modification time, read through Hadoop's
    * `FileSystem` (`java.io.File.lastModified` reads 0 on HDFS and
    * object stores). Every per-dataset memo keys on it, so a table
    * rewritten in place in the same JVM misses the memo.
    */
  def snapshot(spark: SparkSession, dir: String, name: String): (String, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path(dir, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var (length, modified) = (0L, 0L)
    while (files.hasNext) {
      val f = files.next()
      length += f.getLen
      modified = math.max(modified, f.getModificationTime)
    }
    (fs.makeQualified(p).toString, length, modified)
  }

  private val rowsMemo = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]

  /** A table's row count, memoized per [[snapshot]]: a dataset property
    * that operators consult for sizing decisions (broadcast or shuffle,
    * block and bucket sizes), never a result. Without the memo each
    * plan construction pays a count job on a static dataset.
    */
  def rows(spark: SparkSession, dir: String, name: String): Long =
    rowsMemo.getOrElseUpdate(snapshot(spark, dir, name), load(spark, dir, name).count())

  /** `events.ts` has shipped in three on-disk encodings across
    * testdata generations: parquet TIMESTAMP(NANOS) — which Spark's
    * TimestampType (micros) cannot hold, so the session reads it as a
    * nanos LongType via `spark.sql.legacy.parquet.nanosAsLong` — plus
    * TIMESTAMP(MICROS) with and without timezone (pandas writes NTZ).
    * Normalize all of them to one shape: a micros UTC `ts` timestamp
    * for calendar ops plus an exact nanos long `ts_ns` for
    * gap/session arithmetic (bit-equal to the DuckDB oracle's
    * `epoch_ns(ts)` in every encoding — the session timezone is
    * pinned to UTC, so the NTZ→TZ cast preserves the wall clock).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = ParquetRead(spark, path(dir, name))
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          // integer `div`, NOT `/`: lossy long→double at ~1.7e18 shifts
          // the truncation point by up to ~1 µs (observed vs DuckDB)
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalStateException(s"unsupported events.ts encoding: $other")
    }
  }

  /** The events table with `ts` as an exact nanos LONG regardless of
    * the on-disk encoding — the shape the file-stream operators stage
    * to disk so their `ts div 1000` micro-batch arithmetic is
    * encoding-independent.
    */
  def eventsTsAsNanosLong(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.select(df.columns.filter(_ != "ts_ns").map {
      case "ts" => df("ts_ns").as("ts")
      case c => df(c)
    }: _*)
  }

  /** Register every table as a temp view so `spark.sql(...)` works —
    * the reference's query layer is arbitrary SQL
    * (week_1/data_ingest/data_ingest.py:109 `query_data_from_table`).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
