package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, ParquetRead}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Managed-table storage — the reference's `store_table_in_db`
  * (week_1/data_ingest/data_ingest.py:50: pandas `to_sql` with
  * `if_exists = replace|append|fail`), its compressed local write
  * (week_2/data_ingest/pipeline.py:191 `write_data_locally`: gzip
  * parquet / csv), its datalake upload (GCS), and its warehouse load
  * (week_2/data_ingest/etl_gcs_to_gbq.py: BigQuery load).
  *
  * Spark-first: tables are parquet directories; write modes map onto
  * `SaveMode`; the "datalake" is a hive-partitioned layout (partition
  * pruning replaces the reference's per-file naming convention); the
  * "warehouse load" is a keyed upsert (read-merge-atomic-swap), which is
  * what BQ's `WRITE_TRUNCATE`-per-key semantics amount to.
  *
  * Scale notes: writes are executor-parallel (one file per task);
  * `replace` is a directory-level atomic swap, not a row-level delete;
  * the upsert shuffles once on the key and keeps the latest version via
  * a window — at 100 TB you'd bucket the table by the key so the merge
  * join is shuffle-free, which `repartition(key)` here stands in for.
  */
object TableStore {

  /** replace | append | fail — the reference's `if_exists` contract. */
  def store(df: DataFrame, path: String, mode: String): Unit = {
    val saveMode = mode match {
      case "replace" => SaveMode.Overwrite
      case "append"  => SaveMode.Append
      case "fail"    => SaveMode.ErrorIfExists
      case other     => sys.error(s"unknown write mode '$other' (replace|append|fail)")
    }
    df.write.mode(saveMode).parquet(path)
  }

  /** Compressed columnar write (reference writes gzip parquet). */
  def writeCompressed(df: DataFrame, path: String, codec: String = "gzip"): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", codec).parquet(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Hive-style partitioned datalake layout. Reads with a filter on the
    * partition column scan only the matching directories (partition
    * pruning) — the property that makes a 100 TB lake queryable.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed table: pre-shuffled on the key at write time so
    * subsequent joins/aggregations on that key run with NO exchange —
    * the 100 TB answer to repeatedly joining the same fact tables.
    * (Bucketing requires the table catalog, hence saveAsTable; the
    * session's warehouse dir points at scratch space.)
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Keyed upsert: new batch wins over existing rows with the same key.
    * Read-merge-swap with a window keep-latest. The swap never deletes
    * the live table before the replacement is in place: the new table
    * is fully written to a staging dir, the old dir is renamed aside,
    * the staging dir renamed in, and only then is the old copy deleted.
    * Each rename is atomic on HDFS-like filesystems, so a reader sees
    * either the old or the new table (a reader racing the two renames
    * can observe a brief not-found and should retry); a crash leaves
    * the data recoverable in `__old`/`__staging` rather than lost.
    * True snapshot isolation needs a table format with a commit log
    * (Delta/Iceberg) — out of scope for a parquet-directory store.
    */
  def upsert(spark: SparkSession, path: String, batch: DataFrame, keys: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    // within-batch dedup first: a batch carrying the same key twice
    // (e.g. a replayed stream micro-batch) must land as one row —
    // without this the first-ever batch (no existing table to merge
    // against) would store duplicates verbatim
    val tagged = batch.dropDuplicates(keys).withColumn("__v", lit(1))
    val merged =
      if (fs.exists(target)) {
        val existing = ParquetRead(spark, path).withColumn("__v", lit(0))
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
        existing.unionByName(tagged)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn", "__v")
      } else tagged.drop("__v")
    swapInto(fs, path, merged)
  }

  /** Additive rollup merge — the materialized-view maintenance sink:
    * the stored table holds MERGEABLE partials (counts, integer-micro
    * sums), and each call folds a batch's partials in with one
    * keys-grouped sum over `stored ∪ batch` — work proportional to
    * |rollup| + |batch|, never the fact history. Every non-key column
    * must be additive (the caller keeps raw/integer partials and
    * rounds only at presentation, or merges would compound rounding).
    * Same rename-aside swap as [[upsert]], so a reader sees the old or
    * the new rollup, never a half-written one.
    */
  def mergeAdditive(spark: SparkSession, path: String, batch: DataFrame,
                    keys: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val valueCols = batch.columns.filterNot(keys.contains)
    val merged =
      if (fs.exists(target))
        ParquetRead(spark, path).unionByName(batch)
          .groupBy(keys.map(col): _*)
          .agg(valueCols.map(c => sum(c).as(c)).head,
            valueCols.map(c => sum(c).as(c)).tail: _*)
      else batch
    swapInto(fs, path, merged)
  }

  /** K13: full CDC apply — MERGE with deletes, the half of a warehouse
    * load [[upsert]] lacks: a change feed row is (`opCol` ∈
    * insert|update|delete, key cols, payload cols, `seqCol` = feed
    * position), and applying a batch must honor within-batch ordering
    * (insert→update→delete of one key in one batch nets out to the
    * LAST op) before merging against the stored table.
    *
    * Shape: ONE key-partitioned shuffle resolves the batch (window
    * keep-highest-seq) and merges it against the current snapshot
    * (union + keep-batch-over-stored, then drop keys whose winning op
    * is `delete`) — work ∝ |table| + |batch| with no row-level
    * rewrites, the right trade for an immutable-file store (Delta/
    * Iceberg MERGE rewrites only matched files; a parquet-dir store
    * has no file index, so the merge rewrites the table but never
    * scans history twice).
    *
    * Commit protocol: the merged snapshot lands in an immutable
    * `data_<writer>` dir, then a one-row manifest (data dir, row
    * count, based-on version) commits via [[ManifestStore.tryPublish]]
    * at EXACTLY basedOn+1 — if a concurrent merger won that version,
    * this writer's merge is based on a stale snapshot, so it deletes
    * its staged data, re-reads the new current version, RE-MERGES, and
    * retries (Iceberg-style optimistic concurrency). Committed
    * versions therefore form a serial history: every version's table
    * equals its predecessor plus one whole CDC batch — racing
    * publishers lose no updates (spec-raced in Round10Spec). Readers
    * pin a committed manifest and can never observe a partial table.
    * Returns the committed version.
    */
  def mergeCdc(spark: SparkSession, base: String, cdc: DataFrame, keys: Seq[String],
               opCol: String = "op", seqCol: String = "seq",
               maxRetries: Int = 50): Long = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // within-batch last-op-wins (op name breaks exact-seq ties
    // deterministically; a real feed has unique positions)
    val wBatch = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    // the retry loop must not recompute the feed; the scope frees it
    // once the merge commits
    CheckpointIds.scoped(spark) { cp =>
      val resolved = cp(cdc
        .withColumn("__rn", row_number().over(wBatch))
        .filter(col("__rn") === 1).drop("__rn", seqCol))
      var committed = Option.empty[Long]
      var attempt = 0
      while (committed.isEmpty && attempt <= maxRetries) {
        attempt += 1
        val basedOn = ManifestStore.versions(spark, s"$base/manifest").lastOption.getOrElse(0L)
        val merged =
          if (basedOn == 0L) resolved.filter(col(opCol) =!= "delete").drop(opCol)
          else {
            val current = readCdcVersion(spark, base, basedOn)
              .withColumn(opCol, lit("update")).withColumn("__v", lit(0))
            val wMerge = Window.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
            current.unionByName(resolved.withColumn("__v", lit(1)))
              .withColumn("__rn", row_number().over(wMerge))
              .filter(col("__rn") === 1 && col(opCol) =!= "delete")
              .drop("__rn", "__v", opCol)
          }
        val writerId = java.util.UUID.randomUUID().toString.take(12)
        val dataDir = s"$base/data_$writerId"
        merged.write.mode(SaveMode.ErrorIfExists).parquet(dataDir)
        val nRows = ParquetRead(spark, dataDir).count()
        import spark.implicits._
        val manifest = Seq((dataDir, nRows, basedOn))
          .toDF("data_dir", "n_rows", "based_on")
        if (ManifestStore.tryPublish(spark, s"$base/manifest", manifest, basedOn + 1))
          committed = Some(basedOn + 1)
        // lost the version race: this merge used a stale base snapshot —
        // discard it and re-merge against the winner's table
        else fs.delete(new Path(dataDir), true)
      }
      committed.getOrElse(throw new java.io.IOException(
        s"CDC merge under $base lost the commit race $maxRetries times"))
    }
  }

  /** The table as of a committed CDC version. */
  def readCdcVersion(spark: SparkSession, base: String, version: Long): DataFrame = {
    val manifest = spark.read.json(s"$base/manifest/manifest_v$version")
    ParquetRead(spark, manifest.select("data_dir").head.getString(0))
  }

  /** The current committed CDC table (highest version). */
  def readCdcCurrent(spark: SparkSession, base: String): DataFrame = {
    val (v, _) = ManifestStore.current(spark, s"$base/manifest")
    readCdcVersion(spark, base, v)
  }

  /** Rename-aside publish shared by [[upsert]] and [[mergeAdditive]]:
    * write to `__staging`, move the live table to `__old`, move staging
    * live, drop `__old`. Each rename is atomic on HDFS-like
    * filesystems; a crash leaves data recoverable in the side dirs.
    */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       merged: DataFrame): Unit = {
    val target = new Path(path)
    val tmp = new Path(path + "__staging")
    val old = new Path(path + "__old")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    val hadTarget = fs.exists(target)
    if (hadTarget) fs.rename(target, old)
    fs.rename(tmp, target)
    if (hadTarget) fs.delete(old, true)
  }

  /** Versioned snapshot write: each call lands a new immutable
    * `v=N` directory under `base` — append-only table history, so
    * readers pin a snapshot while writers publish the next one (the
    * poor-man's time travel; a commit-log format generalizes this).
    * Returns the version just written.
    */
  def writeVersion(df: DataFrame, base: String): Int = {
    val fs = new Path(base).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val next = latestVersion(fs, base).getOrElse(0) + 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$base/v=$next")
    next
  }

  /** Read a pinned snapshot (or the latest when `version` is None). */
  def readVersion(spark: SparkSession, base: String,
                  version: Option[Int] = None): DataFrame = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, base)).getOrElse(
      throw new IllegalStateException(s"no versions under $base"))
    ParquetRead(spark, s"$base/v=$v")
  }

  private def latestVersion(fs: org.apache.hadoop.fs.FileSystem,
                            base: String): Option[Int] = {
    val p = new Path(base)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toInt }
      .maxOption
  }
}
