package graft.queries

import graft.{GraftSession, Tables}
import graft.sinks.TableStore
import graft.sources.{FvecsIO, Ingest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointIds, ParquetRead}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Source/sink operators (SURVEY.md §2 S1–S4, K1–K5) surfaced as
  * driver-verifiable queries.
  *
  * Pattern: derive a dataset from the canonical parquet testdata, push
  * it through the source/sink under test (write → read back), then
  * produce a small deterministic aggregate. The DuckDB oracle computes
  * the same aggregate straight from the original parquet — so a
  * hash-match proves the round-trip was lossless, not just that the
  * code ran.
  */
object IOQueries {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(s"graft_$prefix").toString

  /** S1: parquet scan with projection+filter pushed down to the file. */
  def srcParquet(spark: SparkSession, dir: String): DataFrame =
    Ingest.read(spark, Tables.path(dir, "lineitem"))
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
      .orderBy("l_returnflag")

  /** S2: CSV round-trip with an explicit read schema (the no-inference
    * scale path).
    */
  def srcCsv(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    val src = Tables.load(spark, dir, "lineitem").select(cols.map(col): _*)
    val out = tmpDir("csv") + "/lineitem_csv"
    TableStore.writeCsv(src, out)
    // files written as part-*.csv — read the directory back
    Ingest.readCsv(spark, out, Some(src.schema))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("total"))
      .orderBy("l_returnflag")
  }

  /** S3: JSON round-trip with schema inference; dates come back as
    * strings and are normalized by cast — the reference's "URL or file
    * in, table out" ingestion shape.
    */
  def srcJson(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val out = tmpDir("json") + "/orders_json"
    src.write.mode("overwrite").json(out)
    Ingest.readJson(spark, out)
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        max("o_orderdate").as("last_date"))
      .orderBy("o_orderstatus")
  }

  /** S4: extension-based format auto-detection over all three formats. */
  def srcAutodetect(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val base = tmpDir("auto")
    nation.write.mode("overwrite").parquet(s"$base/nation.parquet")
    TableStore.writeCsv(nation, s"$base/nation.csv")
    nation.write.mode("overwrite").json(s"$base/nation.json")
    val perFmt = Seq("parquet", "csv", "json").map { fmt =>
      val df = Ingest.read(spark, s"$base/nation.$fmt",
        if (fmt == "csv") Some(nation.schema) else None)
      df.agg(lit(fmt).as("fmt"), count(lit(1)).as("n"),
        sum(col("n_nationkey").cast("long")).as("key_sum"))
    }
    perFmt.reduce(_ unionByName _).orderBy("fmt")
  }

  /** S9: remote-URL ingestion — the reference's DEFAULT input flow
    * (reference: week_1/data_ingest/data_ingest.py:40-48 downloads the
    * source URL with wget before reading). A CSV derived from `region`
    * is served over a loopback HTTP server and ingested via
    * [[Ingest.read]] with the URL — the full production path (URL →
    * staged local file → extension dispatch → schema'd CSV parse); the
    * only test-specific part is that the host is 127.0.0.1 (the sandbox
    * has no egress). The oracle reads `region` straight from parquet —
    * a hash match proves the HTTP round-trip was lossless.
    */
  def srcUrl(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(spark, dir, "region")
    val base = tmpDir("url")
    TableStore.writeCsv(region.coalesce(1), s"$base/serve")
    val part = new java.io.File(s"$base/serve").listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val served = java.nio.file.Paths.get(base, "region.csv")
    java.nio.file.Files.copy(part.toPath, served)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val bytes = java.nio.file.Files.readAllBytes(served)
      exchange.sendResponseHeaders(200, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.start()
    try {
      // read() stages eagerly, so the server can stop before the (lazy)
      // scan of the staged copy runs
      Ingest.read(spark, s"http://127.0.0.1:${server.getAddress.getPort}/region.csv",
          Some(region.schema))
        .orderBy("r_regionkey")
    } finally server.stop(0)
  }

  /** S5: schema evolution on read — two parquet batches with different
    * schemas (an added column) merged by `mergeSchema`: old rows surface
    * the new column as null. This is how a long-lived datalake table
    * absorbs producer schema changes without rewriting history; the
    * merge is footer-metadata-only, no data scan. Disjoint key ranges
    * per batch keep the check content-exact.
    */
  def srcSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val base = tmpDir("evo") + "/orders_evo"
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$base/batch=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$base/batch=2")
    spark.read.option("mergeSchema", "true").parquet(base)
      .groupBy(coalesce(col("o_orderstatus"), lit("PRE_EVOLUTION")).as("status"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("status")
  }

  /** S6: incremental high-watermark ingestion — the CDC-lite pattern
    * behind every recurring batch load: first run stores history up to
    * a cutoff; the next run reads the stored table's MAX(date) (a
    * metadata-scale scalar lookup) and appends only rows strictly
    * newer. The oracle aggregates the FULL source table — a match
    * proves the two incremental passes reached exact parity with a
    * from-scratch load (no dropped rows, no duplicates). At 100 TB the
    * watermark filter prunes the source scan to the new partitions.
    */
  def srcIncremental(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val store = tmpDir("incr") + "/orders_incr"
    TableStore.store(orders.filter(col("o_orderdate") < lit("1998-01-01")), store, "replace")
    val wmUs = ParquetRead(spark, store)
      .agg(max(unix_micros(col("o_orderdate").cast("timestamp")))).head.getLong(0)
    TableStore.store(
      orders.filter(unix_micros(col("o_orderdate").cast("timestamp")) > wmUs),
      store, "append")
    ParquetRead(spark, store)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("yr")
  }

  /** K9: versioned snapshot table — two writes land as immutable
    * `v=1`/`v=2` directories; a reader pinned to v1 still sees the
    * pre-update snapshot after v2 publishes (time-travel lite). The
    * aggregate of each pinned read is checked against the source —
    * proving snapshots are isolated AND lossless.
    */
  def sinkVersioned(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val base = tmpDir("ver") + "/orders_ver"
    TableStore.writeVersion(orders.filter(col("o_orderdate") < lit("1998-01-01")), base)
    TableStore.writeVersion(orders, base)
    val v1 = TableStore.readVersion(spark, base, Some(1))
      .agg(lit("v1_pinned").as("snapshot"), count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
    val v2 = TableStore.readVersion(spark, base, None)
      .agg(lit("v2_latest").as("snapshot"), count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
    v1.unionByName(v2).orderBy("snapshot")
  }

  /** K24: SQL-surface time travel — `VERSION AS OF` expressed as the
    * `graft_table('<base>'[, version])` table-valued function over
    * the manifest-versioned lake (K9/K23's machinery lifted onto the
    * SQL surface via `injectTableFunction`; see
    * [[org.apache.spark.sql.graft.GraftTableFunction]]). Lands the
    * orders table in two committed versions (v1 = pre-1998 history,
    * v2 = v1's files carried + the 1998 arrivals appended — file-level
    * append, nothing rewritten), then aggregates BOTH snapshots from
    * plain SQL: the pinned v1 read must see history exactly as
    * committed even though the lake has moved on. The TVF resolves
    * the pin to a parquet scan of the version's file list at analysis
    * time, so the query plan is a stock pruned scan — time travel is
    * a metadata-plane choice, free at execution (the Delta/Iceberg
    * snapshot model).
    */
  def sinkTimeTravelSql(spark: SparkSession, dir: String): DataFrame = {
    // the TVF must exist even in sessions built without GraftExtensions
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val base = tmpDir("ttravel")
    val lake = base + "/lake"
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    orders.filter(col("o_orderdate") < lit("1998-01-01"))
      .repartition(2).write.mode("overwrite").parquet(lake + "/hist")
    orders.filter(col("o_orderdate") >= lit("1998-01-01"))
      .repartition(2).write.mode("overwrite").parquet(lake + "/y1998")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    val v1 = manifestOf(lake + "/hist")
    graft.sinks.ManifestStore.publish(spark, man, v1)
    graft.sinks.ManifestStore.publish(spark, man,
      v1.unionByName(manifestOf(lake + "/y1998")))
    spark.sql(
      s"""SELECT 'v1_pinned' AS snapshot, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft_table('$man', 1)
         |UNION ALL
         |SELECT 'v2_latest', count(*), round(sum(o_totalprice), 2)
         |FROM graft_table('$man')
         |ORDER BY snapshot""".stripMargin)
  }

  /** K29: SQL-NATIVE catalog over the manifest lake — the DSv2
    * `TableCatalog` rung ([[org.apache.spark.sql.graft.GraftCatalog]]):
    * `CREATE TABLE` / `INSERT INTO` / `SELECT` / `VERSION AS OF` run as
    * plain SQL against `graft.lake.*`, with every INSERT publishing ONE
    * atomic manifest version (the reference's `to_sql`-then-query loop,
    * reference: week_1/data_ingest/data_ingest.py:120-178, fully
    * SQL-native — K24 covered pinned READS via a TVF; this is the
    * write path on the standard catalog surface).
    *
    * Two INSERTs land orders as versions 1 and 2; the readback
    * aggregates the PINNED v1 snapshot (must equal the first batch
    * exactly, even though the lake moved on) and the latest snapshot
    * (both batches) — all four statements pure SQL. Commit-per-INSERT,
    * version isolation, concurrent-INSERT serialization and
    * CREATE/DROP semantics are spec-pinned in Round20Spec where the
    * oracle can't reach.
    */
  def sinkCatalogSql(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .createOrReplaceTempView("orders_cat_src")
    // idempotent per invocation (bench iterates in one JVM): drop +
    // recreate resets the version history to [1, 2] every run
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_cat")
    spark.sql(
      """CREATE TABLE graft.lake.orders_cat (
        |  o_orderkey BIGINT, o_orderstatus STRING,
        |  o_totalprice DOUBLE, o_orderdate DATE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_cat
        |SELECT * FROM orders_cat_src WHERE o_orderdate < DATE'1997-07-01'""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_cat
        |SELECT * FROM orders_cat_src WHERE o_orderdate >= DATE'1997-07-01'""".stripMargin)
    spark.sql(
      """SELECT 'v1_pinned' AS snapshot, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_cat VERSION AS OF 1
        |UNION ALL
        |SELECT 'v2_latest', count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_cat
        |ORDER BY snapshot""".stripMargin)
  }

  /** K39: MERGE-ON-READ row-level writes through the catalog
    * ([[org.apache.spark.sql.graft.GraftDeltaOperation]],
    * `SupportsDelta`) — the other half of the Delta/Iceberg row-level
    * design space next to K32's copy-on-write: a table created with
    * `TBLPROPERTIES('graft.merge-on-read.key'='<bigintCol>')` turns
    * DELETE/UPDATE/MERGE into EQUALITY-DELETE files + new data files,
    * never rewriting a committed data file — at 100 TB a DML touching
    * 100 rows costs ~100 rows of IO instead of `touched files ×
    * rewrite`, the write-amplification trade that makes MoR the
    * streaming-CDC-ingest mode. Reads apply the deletes by the
    * Iceberg sequence-number rule (a delete masks only STRICTLY OLDER
    * data files — what lets one UPDATE delete and reinsert the same
    * key); compaction is INSERT OVERWRITE from the masked self-read.
    *
    * The flow: full load → keyed DELETE (every 7th key) → keyed
    * UPDATE (+1000 on every 5th surviving key). Output rows carry the
    * pre-DML snapshot (time travel), the post-DML masked read, and a
    * protocol row whose values are ACTUALS read from the manifest:
    * total delete-file keys, and a carried flag that is 1.0 only if
    * every v1 data file survived both DMLs untouched — a rewrite
    * anywhere breaks the hash.
    */
  def sinkCatalogMor(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_mor_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_mor")
    spark.sql(
      """CREATE TABLE graft.lake.orders_mor (
        |  o_orderkey BIGINT NOT NULL, o_orderstatus STRING, o_totalprice DOUBLE)
        |TBLPROPERTIES('graft.merge-on-read.key'='o_orderkey')""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_mor SELECT * FROM orders_mor_src")
    val manBase = catalogRoot + "/lake/orders_mor/manifest"
    val v1Files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 1L).map(_.file).toSet
    spark.sql("DELETE FROM graft.lake.orders_mor WHERE o_orderkey % 7 = 0")
    spark.sql(
      """UPDATE graft.lake.orders_mor SET o_totalprice = o_totalprice + 1000.0
        |WHERE o_orderkey % 5 = 0""".stripMargin)
    val v3 = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 3L)
    val deleteKeys = v3.filter(_.file.startsWith("deletes_")).map(_.nRows).sum
    val carried = if (v1Files.subsetOf(v3.map(_.file).toSet)) 1.0 else 0.0
    spark.sql(
      s"""SELECT 'v1_full' AS snapshot, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_mor VERSION AS OF 1
         |UNION ALL
         |SELECT 'v3_mor', count(*), round(sum(o_totalprice), 2)
         |FROM graft.lake.orders_mor
         |UNION ALL
         |SELECT 'x_protocol', ${deleteKeys}L, $carried
         |ORDER BY snapshot""".stripMargin)
  }

  /** K42: POSITIONAL-delete merge-on-read through the catalog
    * ([[org.apache.spark.sql.graft.GraftPosDeltaOperation]]) — the
    * Iceberg v2 position-delete / Delta deletion-vector shape, closing
    * K39's read-side trade: a table created with
    * `TBLPROPERTIES('graft.merge-on-read.mode'='position')` turns
    * DELETE/UPDATE/MERGE into `(file, row_index)` DELETE VECTORS (the
    * DML scan knows both for free via the `_file`/`_pos` metadata-
    * column row id), and masked reads apply them as a batch-level
    * index remap — so a snapshot with LIVE deletes keeps the
    * VECTORIZED parquet path and whole-stage codegen, where K39's
    * equality masks force row-based scans. At 100 TB this is the mode
    * for read-heavy tables under continuous CDC: O(changed rows)
    * writes AND columnar reads.
    *
    * Flow mirrors K39 (same DMLs, same readback shape) so the two
    * modes are directly comparable: full load → keyed DELETE (every
    * 7th) → keyed UPDATE (+1000 on every 5th survivor). The protocol
    * rows carry ACTUALS: total position-delete rows and the
    * carried-by-reference flag ('x_protocol'), then the posdel FILE
    * count and a COLUMNAR flag read from the masked read's OWN
    * executed plan ('y_columnar') — a regression to row-based scans
    * breaks the hash, which is the round-11 acceptance criterion.
    */
  def sinkCatalogMorPos(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_morpos_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_morpos")
    spark.sql(
      """CREATE TABLE graft.lake.orders_morpos (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        |TBLPROPERTIES('graft.merge-on-read.mode'='position')""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_morpos SELECT * FROM orders_morpos_src")
    val manBase = catalogRoot + "/lake/orders_morpos/manifest"
    val v1Files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 1L).map(_.file).toSet
    spark.sql("DELETE FROM graft.lake.orders_morpos WHERE o_orderkey % 7 = 0")
    spark.sql(
      """UPDATE graft.lake.orders_morpos SET o_totalprice = o_totalprice + 1000.0
        |WHERE o_orderkey % 5 = 0""".stripMargin)
    val v3 = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 3L)
    val posDel = v3.filter(_.file.startsWith("posdel_"))
    val carried = if (v1Files.subsetOf(v3.map(_.file).toSet)) 1.0 else 0.0
    // the acceptance ACTUAL: the masked read (live delete vectors!)
    // must still plan a COLUMNAR batch scan — read from the executed
    // plan, not asserted in prose
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case other => other.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    }
    val maskedScans = scans(
      spark.table("graft.lake.orders_morpos").queryExecution.executedPlan)
    val columnar =
      if (maskedScans.nonEmpty && maskedScans.forall(_.supportsColumnar)) 1.0 else 0.0
    spark.sql(
      s"""SELECT 'v1_full' AS snapshot, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_morpos VERSION AS OF 1
         |UNION ALL
         |SELECT 'v3_mor', count(*), round(sum(o_totalprice), 2)
         |FROM graft.lake.orders_morpos
         |UNION ALL
         |SELECT 'x_protocol', ${posDel.map(_.nRows).sum}L, $carried
         |UNION ALL
         |SELECT 'y_columnar', ${posDel.length}L, $columnar
         |ORDER BY snapshot""".stripMargin)
  }

  /** K40: METADATA TABLES — the Iceberg `t.history` / `t.files`
    * surface ([[org.apache.spark.sql.graft.GraftMetaTable]]): a lake
    * table's commit history and current file list as plain SQL
    * relations, resolved by identifier suffix (`cat.ns.t.history`),
    * joinable and aggregatable like any table. This is the operational
    * introspection every lakehouse runs on — audit "what changed at
    * v3", monitor file counts before OPTIMIZE, drive retention — and
    * it is manifest-sized by construction: no data file opens.
    *
    * Flow: two INSERTs then a DELETE (v1..v3); the readback pulls
    * per-version row totals from `history` and the current live row
    * total from `files` (data files only — the K39 delete split is a
    * `history` column). Values are protocol ACTUALS from the metadata
    * relations; the oracle replays the counts from raw parquet, so a
    * history row drifting from what the commits actually did breaks
    * the hash. (`files`' per-file rows are task-count-dependent —
    * the operator aggregates them; the row-level shape is spec-pinned
    * on hand data instead.)
    */
  def sinkMetaTables(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_meta_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_meta")
    spark.sql(
      """CREATE TABLE graft.lake.orders_meta (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_meta
        |SELECT * FROM orders_meta_src WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_meta
        |SELECT * FROM orders_meta_src WHERE o_orderkey % 2 <> 0""".stripMargin)
    spark.sql("DELETE FROM graft.lake.orders_meta WHERE o_orderstatus = 'F'")
    spark.sql(
      """SELECT 'history' AS src, version, n_rows
        |FROM graft.lake.orders_meta.history
        |UNION ALL
        |SELECT 'files',
        |  (SELECT max(version) FROM graft.lake.orders_meta.history),
        |  sum(n_rows)
        |FROM graft.lake.orders_meta.files WHERE NOT is_delete
        |ORDER BY src, version""".stripMargin)
  }

  /** K46: WRITE DISTRIBUTION for bucketed INSERTs —
    * `RequiresDistributionAndOrdering` on a real V2 write
    * ([[org.apache.spark.sql.graft.GraftBucketedInsertWrite]]): the
    * write asks Spark to CLUSTER incoming rows by the bucket transform
    * (resolved through the catalog's own `bucket` function — the
    * Iceberg write-distribution contract), so each bucket lands in
    * exactly ONE task and the single-pass router writes ONE file per
    * bucket per INSERT regardless of the source's partitioning. The V1
    * path fanned out up to tasks × buckets files and leaned on
    * callers' REPARTITION hints; at 100 TB, file-count discipline at
    * WRITE time is what keeps the storage-partitioned read path (K34)
    * and the metadata plane (K43) from drowning in small files.
    *
    * Flow: a bucket(8) table takes one INSERT from a DELIBERATELY
    * 16-way-repartitioned source. The protocol row carries ACTUALS:
    * total data files (must be 8) and a one-per-bucket-dir flag; the
    * aggregate readback (and the SPJ layout, proven in K34) rides the
    * same hash.
    */
  def sinkCatalogBucketedDist(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_bdist_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_bdist")
    spark.sql(
      """CREATE TABLE graft.lake.orders_bdist (
        |  o_orderkey BIGINT, o_custkey BIGINT,
        |  o_orderstatus STRING, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_bdist
        |SELECT /*+ REPARTITION(16) */ * FROM orders_bdist_src""".stripMargin)
    val manBase = catalogRoot + "/lake/orders_bdist/manifest"
    val files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 1L).map(_.file)
    val oneEach =
      if (files.length == 8 &&
          files.map(f => f.split('/')(1)).distinct.length == 8) 1.0 else 0.0
    spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_bdist GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'x_protocol', ${files.length}L, $oneEach
         |ORDER BY o_orderstatus""".stripMargin)
  }

  /** K47: `ALTER COLUMN ... SET/DROP DEFAULT` — the CURRENT default
    * drifts while the EXISTENCE default stays pinned at what it was
    * when the column appeared (the whole point of storing the pair
    * separately, K44): rows in files written BEFORE the column
    * existed keep projecting the ORIGINAL backfill value after any
    * number of SET DEFAULT edits, omitted-column INSERTs materialize
    * whatever the CURRENT default is at write time, and DROP DEFAULT
    * returns later inserts to null-fill — every step a metadata-only
    * meta-file swap, no file rewritten at any table size.
    *
    * Flow: v1 inserts half the keys pre-ADD ('old' by existence),
    * ADD DEFAULT 'old', v2 inserts a quarter omitting the column
    * ('old' by current), SET DEFAULT 'new', v3 inserts the rest
    * omitting it ('new') — the three populations land under one
    * grouped hash; the protocol row pins the carried-files
    * (metadata-only) actual across BOTH alters.
    */
  def sinkCatalogSetDefault(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("orders_sdef_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_sdef")
    spark.sql(
      """CREATE TABLE graft.lake.orders_sdef (
        |  o_orderkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_sdef
        |SELECT * FROM orders_sdef_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val manBase = catalogRoot + "/lake/orders_sdef/manifest"
    val v1Files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 1L).map(_.file).toSet
    spark.sql(
      "ALTER TABLE graft.lake.orders_sdef ADD COLUMN seg STRING DEFAULT 'old'")
    spark.sql(
      """INSERT INTO graft.lake.orders_sdef (o_orderkey, o_totalprice)
        |SELECT * FROM orders_sdef_src WHERE o_orderkey % 4 = 1""".stripMargin)
    spark.sql(
      "ALTER TABLE graft.lake.orders_sdef ALTER COLUMN seg SET DEFAULT 'new'")
    spark.sql(
      """INSERT INTO graft.lake.orders_sdef (o_orderkey, o_totalprice)
        |SELECT * FROM orders_sdef_src WHERE o_orderkey % 4 = 3""".stripMargin)
    val vLast = org.apache.spark.sql.graft.GraftLakeTable.manifestRowsFull(spark,
      manBase, graft.sinks.ManifestStore.versions(spark, manBase).last)
    val carried = if (v1Files.subsetOf(vLast.map(_.file).toSet)) 1.0 else 0.0
    spark.sql(
      s"""SELECT seg, count(*) AS n, round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_sdef GROUP BY seg
         |UNION ALL
         |SELECT 'x_protocol', count(*), $carried
         |FROM graft.lake.orders_sdef WHERE seg IS NULL
         |ORDER BY seg""".stripMargin)
  }

  /** K45: `OPTIMIZE ... ZORDER` on the CALL surface — T16's
    * bit-interleave curve wired into K37's rewrite commit and K35's
    * stats skipping ([[org.apache.spark.sql.graft.GraftProcedures]]):
    * `CALL graft.system.optimize(t, target, zorder => array('x','y'))`
    * rewrites the whole layout range-partitioned on the interleaved
    * key, so every output file is one curve segment with a TIGHT
    * min/max box on BOTH dimensions in the manifest — a 2-D box
    * predicate then prunes to the files whose segment crosses the box
    * (rectangle skipping), where a single-column sort only ever
    * pruned one axis. At 100 TB this is the difference between a
    * box query reading the intersecting curve segments' bytes and
    * reading a full sorted dimension.
    *
    * Flow: four fragment INSERTs, the ZORDER rewrite, then a 2-D box
    * aggregate and the full aggregate (both replayed by the oracle).
    * The protocol row carries ACTUALS: the metrics row's
    * rewritten-file count, and a pruning flag read from the box
    * query's OWN executed scan — it must touch fewer than HALF the
    * files (the tight curve-segment law is spec-pinned at ≤ 1/4 on
    * a uniform hand grid).
    */
  def sinkCatalogZorder(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .selectExpr("o_custkey % 256 AS xk",
        "CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS yb",
        "o_totalprice")
      .createOrReplaceTempView("orders_zo_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_zo")
    spark.sql(
      """CREATE TABLE graft.lake.orders_zo (
        |  xk BIGINT, yb BIGINT, o_totalprice DOUBLE)""".stripMargin)
    (0 until 4).foreach { s =>
      spark.sql(
        s"""INSERT INTO graft.lake.orders_zo
           |SELECT /*+ REPARTITION(1) */ * FROM orders_zo_src
           |WHERE abs(hash(xk, yb, o_totalprice)) % 4 = $s""".stripMargin)
    }
    val total = spark.table("graft.lake.orders_zo").count()
    val target = math.max(1L, math.ceil(total / 16.0).toLong)
    val metrics = spark.sql(
      s"""CALL graft.system.optimize('lake.orders_zo', $target,
         |  array('xk', 'yb'))""".stripMargin).collect().head
    val box = spark.sql(
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_zo
        |WHERE xk BETWEEN 32 AND 63 AND yb BETWEEN 64 AND 127""".stripMargin)
    // the pruning ACTUAL: files the box scan touches, from its own
    // executed plan (manifest-stats skipping over the zordered layout)
    def filesTouched(df: org.apache.spark.sql.DataFrame): Long = {
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case other => other.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      }
      scans(df.queryExecution.executedPlan).map(_.scan).map {
        case g: org.apache.spark.sql.graft.GraftLakeScan => g.inner match {
          case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            p.fileIndex.inputFiles.length.toLong
          case _ => -1L
        }
        case _ => -1L
      }.sum
    }
    val touched = filesTouched(box)
    val manBase = catalogRoot + "/lake/orders_zo/manifest"
    val nFiles = org.apache.spark.sql.graft.GraftLakeTable.manifestRowsFull(spark,
      manBase, graft.sinks.ManifestStore.versions(spark, manBase).last).length
    val pruned = if (touched > 0 && touched * 2 < nFiles) 1.0 else 0.0
    spark.sql(
      s"""SELECT '1_box' AS step, n, total FROM (
         |  SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
         |  FROM graft.lake.orders_zo
         |  WHERE xk BETWEEN 32 AND 63 AND yb BETWEEN 64 AND 127)
         |UNION ALL
         |SELECT '2_full', count(*), round(sum(o_totalprice), 2)
         |FROM graft.lake.orders_zo
         |UNION ALL
         |SELECT '3_protocol', ${metrics.getLong(0)}L, $pruned
         |ORDER BY step""".stripMargin)
  }

  /** K44: COLUMN DEFAULT VALUES through the catalog — Spark's
    * `SUPPORT_COLUMN_DEFAULT_VALUE` surface on the manifest lake:
    * `ALTER TABLE ADD COLUMN ... DEFAULT <literal>` is a METADATA-ONLY
    * commit (the default rides the schema JSON as Spark's
    * CURRENT/EXISTS default metadata pair). Rows in files committed
    * BEFORE the column existed project the EXISTENCE default at read
    * (the parquet readers' existence-default fill — no file rewrite,
    * no null backfill job); INSERTs that omit the column materialize
    * the CURRENT default at analysis; explicit values win. At 100 TB
    * this is the difference between "add a column with a default" =
    * one meta write vs a full-table rewrite. Non-literal defaults are
    * refused by Spark's constant-folding gate (spec-pinned).
    *
    * Flow: v1 inserts half the keys pre-ADD (their rows must read the
    * default, not NULL), the ADD lands, v2 inserts rows OMITTING the
    * column, v3 inserts explicit values. The protocol row carries the
    * metadata-only ACTUAL: every v1 data file survives the ADD
    * byte-identically (carried flag).
    */
  def sinkCatalogDefault(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("orders_def_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_def")
    spark.sql(
      """CREATE TABLE graft.lake.orders_def (
        |  o_orderkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_def
        |SELECT * FROM orders_def_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val manBase = catalogRoot + "/lake/orders_def/manifest"
    val v1Files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 1L).map(_.file).toSet
    spark.sql(
      "ALTER TABLE graft.lake.orders_def ADD COLUMN segment STRING DEFAULT 'std'")
    spark.sql(
      """INSERT INTO graft.lake.orders_def (o_orderkey, o_totalprice)
        |SELECT * FROM orders_def_src
        |WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 <> 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_def
        |SELECT o_orderkey, o_totalprice, 'vip'
        |FROM orders_def_src
        |WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0""".stripMargin)
    val v3 = org.apache.spark.sql.graft.GraftLakeTable.manifestRowsFull(spark,
      manBase, graft.sinks.ManifestStore.versions(spark, manBase).last)
    val carried = if (v1Files.subsetOf(v3.map(_.file).toSet)) 1.0 else 0.0
    spark.sql(
      s"""SELECT segment, count(*) AS n, round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_def GROUP BY segment
         |UNION ALL
         |SELECT 'x_protocol', count(*), $carried
         |FROM graft.lake.orders_def WHERE segment IS NULL
         |ORDER BY segment""".stripMargin)
  }

  /** K43: the `t.partitions` METADATA TABLE + metadata relations AT a
    * version ([[org.apache.spark.sql.graft.GraftMetaTable]]) — the
    * Iceberg `t.partitions` rollup: partition value (the K34 bucket
    * directory) → live files, rows, on-disk bytes, computed from the
    * manifest on the driver (one file-status per live file, no data
    * opened). `VERSION AS OF` now resolves for metadata relations
    * too: `t.partitions VERSION AS OF 2` is the layout a reader
    * pinned at v2 sees, `t.history VERSION AS OF 2` truncates to
    * commits ≤ 2 — what layout monitoring and partition-completeness
    * gates (T38) read instead of listing the filesystem.
    *
    * Flow: a bucket(4) table, two half-slice INSERTs, a DELETE. The
    * bucket VALUES are Spark-hash-assigned (not replayable in an
    * external engine), so the hashed output pins (a) the replayable
    * per-snapshot ROW TOTALS read back through the partitions rollup
    * (pinned v2 and latest), and (b) protocol ACTUALS only the
    * correct rollup produces: 4 partitions at both versions, exactly
    * one file per bucket per INSERT at v2 (the single-pass bucket
    * router's layout law), positive bytes everywhere, and the
    * history truncation law at the pin.
    */
  def sinkMetaPartitions(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_mparts_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_mparts")
    spark.sql(
      """CREATE TABLE graft.lake.orders_mparts (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(4, o_orderkey))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_mparts
        |SELECT * FROM orders_mparts_src WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_mparts
        |SELECT * FROM orders_mparts_src WHERE o_orderkey % 2 <> 0""".stripMargin)
    spark.sql("DELETE FROM graft.lake.orders_mparts WHERE o_orderstatus = 'F'")
    val v2 = spark.sql(
      "SELECT * FROM graft.lake.orders_mparts.partitions VERSION AS OF 2")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val v3 = spark.sql("SELECT * FROM graft.lake.orders_mparts.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val histPinned = spark.sql(
      "SELECT count(*) FROM graft.lake.orders_mparts.history VERSION AS OF 2")
      .head.getLong(0)
    val histAll = spark.sql("SELECT count(*) FROM graft.lake.orders_mparts.history")
      .head.getLong(0)
    val v2Ok =
      if (v2.length == 4 && v2.forall(p => p._2 == 2L && p._1.startsWith("__graft_bucket=")))
        1.0 else 0.0
    val v3Ok = if (v3.length == 4 && v3.forall(_._4 > 0L)) 1.0 else 0.0
    val histOk = if (histPinned == 2L && histAll == 3L) 1.0 else 0.0
    spark.sql(
      s"""SELECT '1_v2_rollup' AS step, ${v2.map(_._3).sum}L AS n, $v2Ok AS ok
         |UNION ALL
         |SELECT '2_v3_rollup', ${v3.map(_._3).sum}L, $v3Ok
         |UNION ALL
         |SELECT '3_history_pin', ${histPinned}L, $histOk
         |ORDER BY step""".stripMargin)
  }

  /** K48: `t.partitions_history` — the K43 partitions rollup swept
    * across EVERY retained version
    * ([[org.apache.spark.sql.graft.GraftMetaTable]]): layout drift
    * over time (file-count growth, row-mass movement, rewrite effect)
    * as one queryable relation — the input a partition-TTL policy
    * audit or compaction scheduler reads instead of replaying pinned
    * `VERSION AS OF` rollups version by version. Bytes come from ONE
    * recursive listing per write dir shared across all versions
    * (carried files share dirs — never a per-file status call), and a
    * version whose unreferenced files VACUUM already reclaimed reports
    * bytes NULL while its manifest-true row counts stay readable (the
    * pinned single-version `t.partitions` read instead fails the
    * named retention error — both contracts spec-pinned).
    *
    * Flow: three commits (even-key INSERT, odd-key INSERT, a
    * status-F DELETE rewrite) → the history shows the per-version
    * row mass; the hashed output pins each version's replayable
    * total plus protocol ACTUALS only the correct sweep produces:
    * exactly one flat partition row per version, positive bytes
    * everywhere (nothing swept), monotone file counts across the two
    * appends, and the `VERSION AS OF 2` truncation law.
    */
  def sinkMetaPartitionsHistory(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_phist_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_phist")
    spark.sql(
      """CREATE TABLE graft.lake.orders_phist (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_phist
        |SELECT * FROM orders_phist_src WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_phist
        |SELECT * FROM orders_phist_src WHERE o_orderkey % 2 <> 0""".stripMargin)
    spark.sql("DELETE FROM graft.lake.orders_phist WHERE o_orderstatus = 'F'")
    val hist = spark.sql(
      """SELECT version, partition, n_files, n_rows, bytes
        |FROM graft.lake.orders_phist.partitions_history""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
    val byV = hist.groupBy(_._1)
    val rowsAt = (v: Long) => byV.get(v).map(_.map(_._4).sum).getOrElse(-1L)
    val pinned = spark.sql(
      """SELECT count(*) FROM
        |graft.lake.orders_phist.partitions_history VERSION AS OF 2""".stripMargin)
      .head.getLong(0)
    val shapeOk =
      if (hist.length == 3 && hist.forall(h => h._2 == "" && h._5 > 0L) &&
          byV.keySet == Set(1L, 2L, 3L))
        1.0 else 0.0
    val lawOk =
      if (pinned == 2L &&
          byV(1L).map(_._3).sum <= byV(2L).map(_._3).sum &&
          hist.forall(_._3 > 0L))
        1.0 else 0.0
    spark.sql(
      s"""SELECT '1_v1' AS step, ${rowsAt(1L)}L AS n, $shapeOk AS ok
         |UNION ALL SELECT '2_v2', ${rowsAt(2L)}L, $lawOk
         |UNION ALL SELECT '3_v3', ${rowsAt(3L)}L, 1.0
         |ORDER BY step""".stripMargin)
  }

  /** K49: MANIFEST-FED SCAN STATISTICS
    * ([[org.apache.spark.sql.graft.GraftManifestStats]]) — every graft
    * scan now reports `SupportsReportStatistics` off the manifest:
    * exact `numRows` from the per-file row counts K11 has always
    * carried, `sizeInBytes` from the per-file on-disk lengths the
    * commit's one recursive write-dir listing measures (new manifest
    * field `bytes`; carried files keep theirs by reference, pre-K49
    * manifests degrade to a rows × schema-width estimate). Why it
    * matters at 100 TB: a V2 relation with NO statistics planes at the
    * conf default ("huge"), so before this round a catalog dim table
    * never auto-broadcast and every lake join paid two shuffles — the
    * single most expensive planner default in the repo. With the
    * stats, Spark's static planner picks BroadcastHashJoin for a small
    * dim table on its own, with no hint and no AQE rescue — the
    * Delta/Iceberg snapshot-statistics shape at metadata cost (zero
    * extra IO per query: the stats ride the manifest rows the scan
    * already resolved). Stats are computed on the POST-PUSHDOWN file
    * list, so a stat-pruned scan reports its pruned size (the
    * `FileScan` contract).
    *
    * Flow: nation (25 rows, fixed at every SF) and customer land as
    * catalog tables; the dim join runs WITHOUT a broadcast hint. The
    * protocol row carries ACTUALS read from the plans, not prose: the
    * dim scan's reported numRows (must be exactly 25) and a flag that
    * is 1.0 only if the STATIC physical plan (before AQE could rescue
    * it from runtime sizes) chose BroadcastHashJoin AND the reported
    * sizeInBytes is positive and under the broadcast threshold.
    * Exact bytes-vs-listing equality and the MoR/bucketed paths'
    * stats are spec-pinned where the oracle can't reach.
    */
  def sinkCatalogStats(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "nation")
      .select("n_nationkey", "n_name")
      .createOrReplaceTempView("nation_stats_src")
    Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .createOrReplaceTempView("cust_stats_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.stats_dim")
    spark.sql("DROP TABLE IF EXISTS graft.lake.stats_cust")
    spark.sql("CREATE TABLE graft.lake.stats_dim (n_nationkey INT, n_name STRING)")
    spark.sql("INSERT INTO graft.lake.stats_dim SELECT * FROM nation_stats_src")
    spark.sql(
      """CREATE TABLE graft.lake.stats_cust (
        |  c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE)""".stripMargin)
    spark.sql("INSERT INTO graft.lake.stats_cust SELECT * FROM cust_stats_src")
    val joined = spark.sql(
      """SELECT n_name AS tag, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS total
        |FROM graft.lake.stats_cust c JOIN graft.lake.stats_dim n
        |  ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name""".stripMargin)
    // the ACTUALS: reported stats off the dim scan's own relation, and
    // the join strategy off the STATIC plan (sparkPlan — AQE's runtime
    // rescue would mask a stats regression)
    val dimStats = spark.table("graft.lake.stats_dim")
      .queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }.getOrElse(throw new IllegalStateException("no V2 scan relation for stats_dim"))
    val reportedRows = if (dimStats.numRows.isPresent) dimStats.numRows.getAsLong else -1L
    val bytesOk = dimStats.sizeInBytes.isPresent &&
      dimStats.sizeInBytes.getAsLong > 0L &&
      dimStats.sizeInBytes.getAsLong <
        spark.sessionState.conf.autoBroadcastJoinThreshold
    val staticBroadcast =
      joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin")
    val ok = if (bytesOk && staticBroadcast) 1.0 else 0.0
    joined.unionAll(spark.sql(
      s"SELECT '__stats_protocol', ${reportedRows}L, $ok"))
      .orderBy("tag")
  }

  /** K50: PARTITION-TRANSFORM EVOLUTION on the catalog —
    * `CALL graft.system.set_bucketing(t, col, n)`
    * ([[org.apache.spark.sql.graft.GraftProcedures]]): a METADATA-ONLY
    * meta swap appends a new bucket spec to the table's spec history;
    * old files keep the routing of the spec they were written under,
    * identified by the per-file `spec` id their manifest rows carry (a
    * per-ROW tag, not a version cutoff — an INSERT racing the
    * evolution stays labeled with the spec it actually routed by, so
    * SPJ can never silently group a wrong-spec file). While specs are
    * mixed the scan DEGRADES from key-grouped to the flat stat-pruned
    * read — correct at all times, co-location suspended (Iceberg's
    * exact contract after spec evolution); `CALL system.optimize`
    * counts old-spec files as rewrite candidates regardless of size,
    * so one OPTIMIZE converges the layout and the key-grouped scan
    * comes back under the NEW spec. At 100 TB: re-bucketing is one
    * metadata write now + an incremental rewrite whenever, instead of
    * a synchronous full-table rewrite blocking every writer.
    *
    * Flow: bucket(2) create → INSERT evens → evolve to bucket(4) →
    * INSERT odds → mixed read (correct, FLAT scan — the actual read
    * from the executed plan) → OPTIMIZE full rewrite → converged read
    * (correct, bucket(4) key-grouped scan again, every manifest row on
    * the new spec). The protocol row pins the new spec id returned by
    * the CALL and the conjunction of the plan/manifest actuals;
    * refusal matrix and SPJ-restoration are spec-pinned.
    */
  def sinkCatalogBucketEvolve(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_bevo_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_bevo")
    spark.sql(
      """CREATE TABLE graft.lake.orders_bevo (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(2, o_orderkey))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_bevo
        |SELECT * FROM orders_bevo_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val newSpecId = spark.sql(
      "CALL graft.system.set_bucketing('lake.orders_bevo', 'o_orderkey', 4)")
      .head.getLong(0)
    spark.sql(
      """INSERT INTO graft.lake.orders_bevo
        |SELECT * FROM orders_bevo_src WHERE o_orderkey % 2 <> 0""".stripMargin)

    def scanKinds(df: DataFrame): Seq[String] = {
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case other => other.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.getClass.getSimpleName
        }
      }
      scans(df.queryExecution.executedPlan)
    }
    def specsNow(): Set[Long] = {
      val manBase = catalogRoot + "/lake/orders_bevo/manifest"
      org.apache.spark.sql.graft.GraftLakeTable.manifestRowsFull(spark, manBase,
        graft.sinks.ManifestStore.versions(spark, manBase).last)
        .map(_.spec).toSet
    }
    val agg = "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total " +
      "FROM graft.lake.orders_bevo"
    val mixed = spark.sql(agg).head
    val mixedFlat = scanKinds(spark.table("graft.lake.orders_bevo"))
      .forall(k => !k.contains("GraftBucketedScan"))
    val mixedSpecs = specsNow() == Set(0L, newSpecId)
    spark.sql("CALL graft.system.optimize('lake.orders_bevo', 1000000000)")
    val conv = spark.sql(agg).head
    val convGrouped = scanKinds(spark.table("graft.lake.orders_bevo"))
      .exists(_.contains("GraftBucketedScan"))
    val convSpecs = specsNow() == Set(newSpecId)
    val ok =
      if (mixedFlat && mixedSpecs && convGrouped && convSpecs) 1.0 else 0.0
    spark.sql(
      s"""SELECT '1_mixed' AS step, ${mixed.getLong(0)}L AS n,
         |  ${mixed.getDouble(1)} AS total
         |UNION ALL
         |SELECT '2_converged', ${conv.getLong(0)}L, ${conv.getDouble(1)}
         |UNION ALL
         |SELECT '3_protocol', ${newSpecId}L, $ok
         |ORDER BY step""".stripMargin)
  }

  /** K51: SNAPSHOT-ISOLATED MULTI-STATEMENT TRANSACTIONS on the
    * catalog (`CALL graft.system.begin_txn / commit_txn / abort_txn` —
    * [[org.apache.spark.sql.graft.GraftProcedures]]): `begin_txn`
    * opens a REAL catalog table seeded with the source's snapshot BY
    * REFERENCE (`../<table>/<rel>` manifest rows — zero data copied,
    * stats/bytes preserved so pruning and statistics keep working);
    * any number of ordinary SQL DML statements run against it,
    * snapshot-isolated from the source by construction; `commit_txn`
    * verifies the source still sits at the pinned base version
    * (optimistic concurrency — a concurrent commit ABORTS, never
    * merges silently), moves the fresh write dirs into the source dir
    * and publishes the whole net effect as ONE CAS-gated manifest
    * version. Readers see all three statements' effects at exactly one
    * version boundary or not at all — the branch-and-squash shape, at
    * metadata cost regardless of table size.
    *
    * Flow: base INSERT (v1) → begin_txn → INSERT + DELETE + UPDATE
    * inside the transaction → isolation ACTUALS read from the source
    * (content unchanged, still ONE committed version) → commit_txn →
    * the per-status rollup of the net effect, the commit version (2 —
    * three statements, one version), and the protocol flag
    * (isolation held + workspace dropped + carried/fresh counts sane).
    * Conflict-abort, abort_txn and the unreferenced-on-lost-race
    * contract are spec-pinned where the oracle can't reach.
    */
  def sinkCatalogTxnMulti(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_txn1_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_txn1")
    spark.sql(
      """CREATE TABLE graft.lake.orders_txn1 (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_txn1
        |SELECT * FROM orders_txn1_src WHERE o_orderkey % 3 <> 0""".stripMargin)
    val baseCount = spark.table("graft.lake.orders_txn1").count()
    val opened = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_txn1')").head
    val (txnTable, baseV) = (opened.getString(0), opened.getLong(1))
    spark.sql(
      s"""INSERT INTO graft.$txnTable
         |SELECT * FROM orders_txn1_src WHERE o_orderkey % 3 = 0""".stripMargin)
    spark.sql(s"DELETE FROM graft.$txnTable WHERE o_orderstatus = 'F'")
    spark.sql(
      s"""UPDATE graft.$txnTable SET o_totalprice = o_totalprice + 1000
         |WHERE o_orderkey % 5 = 0""".stripMargin)
    // isolation ACTUALS: the source is untouched by all three
    // statements — same content, still exactly one committed version
    val manBase = catalogRoot + "/lake/orders_txn1/manifest"
    val isoOk = spark.table("graft.lake.orders_txn1").count() == baseCount &&
      graft.sinks.ManifestStore.versions(spark, manBase) == Seq(1L)
    val committed = spark.sql(
      s"CALL graft.system.commit_txn('lake.orders_txn1', '$txnTable')").head
    val (commitV, carried, fresh) =
      (committed.getLong(0), committed.getLong(1), committed.getLong(2))
    val dropped = !spark.catalog.tableExists(s"graft.$txnTable")
    val ok =
      if (isoOk && baseV == 1L && dropped && carried >= 0L && fresh > 0L) 1.0
      else 0.0
    spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_txn1
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT '__txn_protocol', ${commitV}L, $ok
         |ORDER BY status""".stripMargin)
  }

  /** K52: GROUP TRANSACTIONS — multi-table atomicity plus bucketed
    * scope on K51's begin/commit/abort surface ([[org.apache.spark.sql
    * .graft.GraftProcedures]]): `begin_txn('lake.a,lake.b')` opens one
    * snapshot-seeded workspace per table under a single transaction
    * id, and commit runs a TWO-PHASE group commit — each table's next
    * version is claimed as a reader-suppressed PENDING version
    * (atomic rename carrying a `_pending_<txnId>` marker; concurrent
    * CAS writers block behind the claim instead of publishing around
    * it), then ONE create-exclusive journal file
    * (`.txn_journal/committed_<txnId>`) flips every claim visible at
    * once — the single atomic commit point, the same shape as an
    * Iceberg REST catalog's multi-table CAS. Readers of the group see
    * the whole transaction or none of it; a racer on ANY group table
    * aborts the WHOLE group. Bucketed tables participate: the
    * workspace copies the source's full meta, so DML routes buckets
    * identically and carried references keep their storage-partitioned
    * layout.
    *
    * Flow: flat + BUCKETED table seeded from orders → group begin →
    * INSERT on the flat workspace, DELETE + UPDATE on the bucketed one
    * → isolation actuals → group commit (both tables flip to v2) → a
    * SECOND group transaction that loses to a racer on the flat table
    * and must leave NEITHER table changed → per-table rollups + the
    * protocol row. The pending-claim visibility law, crash recovery
    * and vacuum rollback are spec-pinned where the oracle can't reach
    * (Round27Spec).
    */
  def sinkCatalogTxnGroup(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_grp_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_grp_f")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_grp_b")
    spark.sql(
      """CREATE TABLE graft.lake.orders_grp_f (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.lake.orders_grp_b (
        |  o_orderkey BIGINT, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(4, o_orderkey))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_grp_f
        |SELECT * FROM orders_grp_src WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_grp_b
        |SELECT o_orderkey, o_totalprice FROM orders_grp_src
        |WHERE o_orderkey % 2 = 1""".stripMargin)
    val (fCount, bCount) = (spark.table("graft.lake.orders_grp_f").count(),
      spark.table("graft.lake.orders_grp_b").count())
    val opened = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_grp_f,lake.orders_grp_b')")
      .collect()
    val wsF = opened.map(_.getString(0)).find(_.contains("orders_grp_f")).get
    val wsB = opened.map(_.getString(0)).find(_.contains("orders_grp_b")).get
    spark.sql(
      s"""INSERT INTO graft.$wsF
         |SELECT * FROM orders_grp_src
         |WHERE o_orderkey % 2 = 1 AND o_orderstatus = 'O'""".stripMargin)
    spark.sql(s"DELETE FROM graft.$wsB WHERE o_orderkey % 10 = 5")
    spark.sql(
      s"""UPDATE graft.$wsB SET o_totalprice = o_totalprice + 1000
         |WHERE o_orderkey % 10 = 1""".stripMargin)
    // isolation actuals: neither source moved
    val isoOk = spark.table("graft.lake.orders_grp_f").count() == fCount &&
      spark.table("graft.lake.orders_grp_b").count() == bCount
    val committed = spark.sql("CALL graft.system.commit_txn(" +
      s"'lake.orders_grp_f,lake.orders_grp_b', '$wsF,$wsB')").collect()
    val atomicOk = committed.length == 2 && committed.forall(_.getLong(0) == 2L) &&
      !spark.catalog.tableExists(s"graft.$wsF") &&
      !spark.catalog.tableExists(s"graft.$wsB")
    // group txn 2: a racer on the FLAT table must abort the WHOLE
    // group — the bucketed table's workspace effect must not leak
    val opened2 = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_grp_f,lake.orders_grp_b')")
      .collect().map(_.getString(0))
    val ws2F = opened2.find(_.contains("orders_grp_f")).get
    val ws2B = opened2.find(_.contains("orders_grp_b")).get
    spark.sql(s"DELETE FROM graft.$ws2F WHERE o_orderkey >= 0") // would wipe
    spark.sql(s"DELETE FROM graft.$ws2B WHERE o_orderkey >= 0") // would wipe
    spark.sql("INSERT INTO graft.lake.orders_grp_f VALUES (-1, 'RACER', 0.0)")
    val conflictOk =
      try {
        spark.sql("CALL graft.system.commit_txn(" +
          s"'lake.orders_grp_f,lake.orders_grp_b', '$ws2F,$ws2B')").collect()
        false
      } catch { case e: Exception => e.getMessage.contains("moved to") }
    spark.sql(s"CALL graft.system.abort_txn('$ws2F,$ws2B')").collect()
    val ok = if (isoOk && atomicOk && conflictOk) 1.0 else 0.0
    spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_grp_f
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT '__bucketed', count(*), round(sum(o_totalprice), 2)
         |FROM graft.lake.orders_grp_b
         |UNION ALL
         |SELECT '__txn_protocol', 2, $ok
         |ORDER BY status""".stripMargin)
  }

  /** K60: TRANSACTIONS ON MERGE-ON-READ TABLES (r14 #5) — K51/K52's
    * begin/commit/abort surface widened to K39 equality-delete tables.
    * The two moves that make it sound: (a) the workspace manifest is
    * seeded at the SOURCE'S VERSION NUMBER, so workspace DML seqs are
    * identical to the seqs the rows land with on the source, and
    * carried delete files (self-contained: key values + seq) keep
    * masking exactly what they masked; (b) commit REPLAYS one source
    * version per workspace STATEMENT (pending claims flipped by one
    * journal point — all-or-nothing visibility unchanged) instead of
    * squashing, because equality deletes mask strictly-OLDER data:
    * an insert-then-delete transaction collapsed onto one seq would
    * resurrect the inserted rows. Position-delete tables still refuse
    * (their delete files address data files BY PATH, which a carried
    * reference renames — the mask would silently detach).
    *
    * Flow: MoR load (v1) → pre-txn DELETE (v2, a live delete file the
    * workspace must carry correctly) → txn: reinsert the deleted 'O'
    * rows, DELETE every 5th key (masks the reinserts too — the
    * intra-txn delete-after-insert law, IN the hash), UPDATE every
    * 11th → isolation actuals → commit (versions 3,4,5 — statement
    * granularity, time-travel-addressable) → a second transaction
    * loses to a racing MoR-table INSERT and must leave no trace →
    * rollup + per-statement snapshot + protocol rows.
    */
  def sinkCatalogTxnMor(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_txm_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_txm")
    spark.sql(
      """CREATE TABLE graft.lake.orders_txm (
        |  o_orderkey BIGINT NOT NULL, o_orderstatus STRING, o_totalprice DOUBLE)
        |TBLPROPERTIES('graft.merge-on-read.key'='o_orderkey')""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_txm SELECT * FROM orders_txm_src")
    spark.sql("DELETE FROM graft.lake.orders_txm WHERE o_orderkey % 7 = 0")
    val manBase = catalogRoot + "/lake/orders_txm/manifest"
    val v2Count = spark.table("graft.lake.orders_txm").count()
    val v2Files = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 2L).map(_.file).toSet
    val opened = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_txm')").head
    val (txnTable, baseV) = (opened.getString(0), opened.getLong(1))
    spark.sql(
      s"""INSERT INTO graft.$txnTable
         |SELECT * FROM orders_txm_src
         |WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'O'""".stripMargin)
    spark.sql(s"DELETE FROM graft.$txnTable WHERE o_orderkey % 5 = 0")
    spark.sql(
      s"""UPDATE graft.$txnTable SET o_totalprice = o_totalprice + 1000
         |WHERE o_orderkey % 11 = 0""".stripMargin)
    // isolation actuals: three MoR statements later the source is
    // byte-identical — same masked count, still versions 1..2 only
    val isoOk = spark.table("graft.lake.orders_txm").count() == v2Count &&
      graft.sinks.ManifestStore.versions(spark, manBase) == Seq(1L, 2L)
    val committed = spark.sql(
      s"CALL graft.system.commit_txn('lake.orders_txm', '$txnTable')").head
    val commitV = committed.getLong(0)
    val dropped = !spark.catalog.tableExists(s"graft.$txnTable")
    // statement granularity: the commit published versions 3,4,5 and
    // every v2 file (the pre-txn data AND its delete file) carried by
    // reference into the final snapshot
    val v5 = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, 5L)
    val carriedOk = v2Files.subsetOf(v5.map(_.file).toSet) &&
      graft.sinks.ManifestStore.versions(spark, manBase) == (1L to 5L)
    val stmt1Count = spark.sql(
      "SELECT count(*) FROM graft.lake.orders_txm VERSION AS OF 3")
      .head.getLong(0)
    // conflict law: a racer's MoR-table commit aborts the whole
    // transaction, and the aborted workspace leaves no trace
    val opened2 = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_txm')").head.getString(0)
    spark.sql(s"DELETE FROM graft.$opened2 WHERE o_orderkey >= 0") // would wipe
    spark.sql("INSERT INTO graft.lake.orders_txm VALUES (-1, 'RACER', 0.0)")
    val conflictOk =
      try {
        spark.sql(
          s"CALL graft.system.commit_txn('lake.orders_txm', '$opened2')").collect()
        false
      } catch { case e: Exception => e.getMessage.contains("moved to") }
    spark.sql(s"CALL graft.system.abort_txn('$opened2')").collect()
    val ok =
      if (isoOk && baseV == 2L && commitV == 5L && dropped && carriedOk &&
          conflictOk) 1.0
      else 0.0
    spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_txm
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT '__stmt_granularity', ${stmt1Count}L, 1.0
         |UNION ALL
         |SELECT '__txn_protocol', ${commitV}L, $ok
         |ORDER BY status""".stripMargin)
  }

  /** K61: TRANSACTIONS ON SPEC-EVOLVED TABLES — the last
    * refusal-matrix row closed (r14, pulled forward from the r15
    * list): a table whose bucket spec has EVOLVED (K50 — files from
    * multiple layout generations live side by side, each tagged with
    * the spec it was written under) participates in K51/K52/K60
    * transactions with NO special machinery, because everything
    * spec-shaped already travels: the workspace meta is a byte copy
    * of the source's (full spec history — DML routes by the same
    * current spec), carried manifest rows keep their per-file `spec`
    * tag verbatim, fresh commits stamp the current id, and the squash
    * preserves `spec` through the publish. A `set_bucketing` racing
    * the transaction ABORTS the commit through the metaSha pin —
    * layout evolution serializes against open transactions exactly
    * like ALTER.
    *
    * Flow: bucket(2) create → INSERT evens (spec 0) → evolve to
    * bucket(4) → INSERT odds (new spec) → txn: INSERT synthetic 'P'
    * rows at negative keys + a stats-prunable UPDATE over them (the
    * base files provably carry, so the law is observable) →
    * isolation actuals → commit (ONE version) → actuals from the
    * manifest: the spec SET is preserved through the carry ({0, new})
    * and every transaction-fresh file is stamped with the CURRENT
    * spec → rollup + protocol row. The racing-evolution abort law is
    * spec-pinned in Round28Spec.
    */
  def sinkCatalogTxnEvolve(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_txe_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_txe")
    spark.sql(
      """CREATE TABLE graft.lake.orders_txe (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(2, o_orderkey))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_txe
        |SELECT * FROM orders_txe_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val sid = spark.sql(
      "CALL graft.system.set_bucketing('lake.orders_txe', 'o_orderkey', 4)")
      .head.getLong(0)
    spark.sql(
      """INSERT INTO graft.lake.orders_txe
        |SELECT * FROM orders_txe_src WHERE o_orderkey % 2 = 1""".stripMargin)
    val manBase = catalogRoot + "/lake/orders_txe/manifest"
    val baseCount = spark.table("graft.lake.orders_txe").count()
    val opened = spark.sql(
      "CALL graft.system.begin_txn('lake.orders_txe')").head
    val (txnTable, baseV) = (opened.getString(0), opened.getLong(1))
    // stats-prunable DML: the synthetic rows live at NEGATIVE keys,
    // so the follow-up statements (o_orderkey < 0) provably miss
    // every base file and the pre-evolution layout CARRIES — which is
    // what the spec-preservation law needs to observe (a whole-range
    // DML would legitimately rewrite everything under the current
    // spec)
    spark.sql(
      s"""INSERT INTO graft.$txnTable
         |SELECT -o_orderkey, 'P', o_totalprice FROM orders_txe_src
         |WHERE o_orderkey % 10 = 3""".stripMargin)
    spark.sql(
      s"""UPDATE graft.$txnTable SET o_totalprice = o_totalprice + 1000
         |WHERE o_orderkey < 0""".stripMargin)
    val isoOk = spark.table("graft.lake.orders_txe").count() == baseCount &&
      graft.sinks.ManifestStore.versions(spark, manBase) == Seq(1L, 2L)
    val committed = spark.sql(
      s"CALL graft.system.commit_txn('lake.orders_txe', '$txnTable')").head
    val commitV = committed.getLong(0)
    val dropped = !spark.catalog.tableExists(s"graft.$txnTable")
    val rows = org.apache.spark.sql.graft.GraftLakeTable
      .manifestRowsFull(spark, manBase, commitV)
    // the spec laws: carried files keep BOTH layout generations'
    // tags; every transaction-fresh file is stamped the CURRENT spec
    val carriedSpecs = rows.filter(_.seq < commitV).map(_.spec).toSet
    val freshSpecs = rows.filter(_.seq == commitV).map(_.spec).toSet
    val specOk = carriedSpecs == Set(0L, sid) && freshSpecs == Set(sid)
    val ok =
      if (isoOk && baseV == 2L && commitV == 3L && dropped && specOk) 1.0
      else 0.0
    spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_txe
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT '__txn_protocol', ${commitV}L, $ok
         |ORDER BY status""".stripMargin)
  }

  /** K53: MANIFEST NDV/NULL-COUNT STATISTICS → COST-BASED JOIN ORDER.
    * K49 gave every graft scan exact rows/bytes (the broadcast fix);
    * this rung carries per-file approx-NDV (HLL sketch, lgK=9 ≈ 512 B,
    * cast-to-string so one sketch shape covers every stat column) and
    * null counts in the manifest, merges them DRIVER-SIDE at
    * scan-stats time (a DataSketches union over the pruned file list —
    * metadata cost), and surfaces them through DSv2 `columnStats()`,
    * which Spark transforms into the attribute statistics
    * `CostBasedJoinReorder`/`JoinEstimation` consume. At 100 TB the
    * planner default this fixes is join ORDER: with NDVs the optimizer
    * pulls the selective dim ahead of the wide one regardless of how
    * the SQL was written.
    *
    * Flow: a fact + two dims derived from lineitem (dim_a 1000 keys,
    * dim_b 10 keys), the 3-way join WRITTEN worst-dim-first; actuals
    * assert the CBO plan pulls dim_b ahead of dim_a while the
    * stats-off plan follows the written order, then return the join
    * rollup. The merge laws (mixed pre/post-K53 snapshots report NO
    * NDV, conf-off write path) are spec-pinned in Round27Spec.
    */
  def sinkCatalogCbo(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .createOrReplaceTempView("cbo_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.cbo_fact_e")
    spark.sql("DROP TABLE IF EXISTS graft.lake.cbo_dim_ae")
    spark.sql("DROP TABLE IF EXISTS graft.lake.cbo_dim_be")
    spark.sql(
      "CREATE TABLE graft.lake.cbo_fact_e (k1 BIGINT, k2 BIGINT, q DOUBLE)")
    spark.sql("CREATE TABLE graft.lake.cbo_dim_ae (k BIGINT, a STRING)")
    spark.sql("CREATE TABLE graft.lake.cbo_dim_be (k BIGINT, b STRING)")
    spark.sql(
      """INSERT INTO graft.lake.cbo_fact_e
        |SELECT l_orderkey % 1000, l_orderkey % 500, l_quantity
        |FROM cbo_src""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.cbo_dim_ae
        |SELECT id, concat('a', id) FROM range(0, 1000)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.cbo_dim_be
        |SELECT id, concat('b', id) FROM range(0, 10)""".stripMargin)
    val q =
      """SELECT db.b AS grp, count(*) AS n, round(sum(f.q), 2) AS total
        |FROM graft.lake.cbo_fact_e f
        |JOIN graft.lake.cbo_dim_ae da ON f.k1 = da.k
        |JOIN graft.lake.cbo_dim_be db ON f.k2 = db.k
        |GROUP BY db.b""".stripMargin
    def leafOrder(): Seq[String] =
      spark.sql(q).queryExecution.optimizedPlan.collectLeaves().flatMap(_.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.name()
      }).map(_.split('.').last)
    val defaultOrder = leafOrder()
    val (cboOrder, result) = GraftSession.withConf(spark,
        "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true") {
      (leafOrder(), spark.sql(q).collect())
    }
    val reordered =
      cboOrder.indexOf("cbo_dim_be") < cboOrder.indexOf("cbo_dim_ae") &&
        defaultOrder.indexOf("cbo_dim_be") > defaultOrder.indexOf("cbo_dim_ae")
    val ok = if (reordered) 1.0 else 0.0
    import spark.implicits._
    result.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("grp", "n", "total")
      .union(Seq(("__cbo_protocol", 3L, ok)).toDF("grp", "n", "total"))
      .orderBy("grp")
  }

  /** K54: SCOPED (incremental) OPTIMIZE ZORDER — `CALL graft.system
    * .optimize(t, target, zorder => array(...), where => '<pred>')`
    * rewrites ONLY the files the K35 stat comparator cannot prove
    * predicate-free; every other file carries BY REFERENCE through the
    * replace commit. At 100 TB a full-table ZORDER is a table-sized
    * job (VERDICT r12 #5 called K45's whole-layout rewrite out); the
    * scoped form is Iceberg's `rewrite_data_files(filter)` — Z-order
    * convergence region by region, e.g. yesterday's partition after
    * each daily load, at yesterday's cost.
    *
    * Flow: four region-disjoint INSERTs (each file's `r` min=max pins
    * its region) → a ZORDER scoped to `r = 1` → actuals: the three
    * out-of-region file sets carry with their NAMES unchanged, the
    * r=1 files are replaced by curve-ordered ones, content identical;
    * then the per-region rollup + protocol row. The file-identity law
    * and the untranslatable-predicate refusal are spec-pinned in
    * Round27Spec.
    */
  def sinkZorderScoped(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .createOrReplaceTempView("zs_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.zs_t")
    spark.sql(
      """CREATE TABLE graft.lake.zs_t (
        |  r BIGINT, x BIGINT, y BIGINT, q DOUBLE)""".stripMargin)
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.lake.zs_t
           |SELECT l_orderkey % 4, l_partkey, l_suppkey, l_quantity
           |FROM zs_src WHERE l_orderkey % 4 = $i""".stripMargin)
    }
    val manBase = catalogRoot + "/lake/zs_t/manifest"
    def files(): Map[String, String] = {
      val v = graft.sinks.ManifestStore.versions(spark, manBase).last
      org.apache.spark.sql.graft.GraftLakeTable
        .manifestRowsFull(spark, manBase, v)
        .map(r => r.file -> r.stats.get("r").map(_.head).getOrElse("?")).toMap
    }
    val before = files()
    spark.sql(
      """CALL graft.system.optimize('lake.zs_t', 100000,
        |zorder => array('x','y'), where => 'r = 1')""".stripMargin).collect()
    val after = files()
    val outBefore = before.filter(_._2 != "1").keySet
    val inBefore = before.filter(_._2 == "1").keySet
    // the law: out-of-scope files carry with their NAMES; in-scope
    // files are gone, replaced by fresh curve-ordered ones
    val carriedOk = outBefore.subsetOf(after.keySet) &&
      inBefore.intersect(after.keySet).isEmpty &&
      after.keySet.diff(outBefore).nonEmpty
    val ok = if (carriedOk) 1.0 else 0.0
    spark.sql(
      s"""SELECT cast(r AS STRING) AS grp, count(*) AS n,
         |  round(sum(q), 2) AS total
         |FROM graft.lake.zs_t GROUP BY r
         |UNION ALL
         |SELECT '__scoped_protocol', 4L, $ok
         |ORDER BY grp""".stripMargin)
  }

  /** K55: BRANCH/TAG READS ON THE SQL SURFACE — K38's RefStore
    * attached to catalog tables (`CALL graft.system.set_ref(table,
    * name, kind[, version])`, refs living at `<tableDir>/refs`), with
    * `VERSION AS OF '<name>'` resolving non-integer version strings
    * through it — so the write-audit-publish branch workflow is
    * queryable in plain SQL, like integer version pins are (K24/K29).
    *
    * Flow: v1 clean load → `main` branch + `release` tag; a CORRUPT
    * batch commits v2 (real commit — but main still pins v1, so SQL
    * readers through 'main' never see it: the isolation law); the
    * audit reads THROUGH `VERSION AS OF 'audit'`, finds the planted
    * negatives, the fix lands (v3 DELETE + v4 correct insert) and
    * main FAST-FORWARDS (one ref flip, no data moved). Output: the
    * per-status rollup read through 'main', the count pinned by the
    * immutable 'release' tag, and the protocol actuals. Tag
    * immutability, unknown-ref remedy and numeric-name refusal are
    * spec-pinned in Round27Spec.
    */
  def sinkBranchSql(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("bsql_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.bsql_t")
    spark.sql(
      """CREATE TABLE graft.lake.bsql_t (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.bsql_t
        |SELECT * FROM bsql_src WHERE o_orderstatus <> 'F'""".stripMargin)
    spark.sql("CALL graft.system.set_ref('lake.bsql_t', 'main', 'branch')").collect()
    spark.sql("CALL graft.system.set_ref('lake.bsql_t', 'release', 'tag')").collect()
    val v1Count = spark.table("graft.lake.bsql_t").count()
    // the corrupt batch: F rows with negated prices — commits for real
    spark.sql(
      """INSERT INTO graft.lake.bsql_t
        |SELECT o_orderkey, o_orderstatus, -o_totalprice FROM bsql_src
        |WHERE o_orderstatus = 'F'""".stripMargin)
    spark.sql("CALL graft.system.set_ref('lake.bsql_t', 'audit', 'branch')").collect()
    // isolation: SQL through 'main' still reads the v1 snapshot while
    // the table head (and the audit branch) hold the corrupt batch
    val mainDuring = spark.sql(
      "SELECT count(*) AS n FROM graft.lake.bsql_t VERSION AS OF 'main'")
      .head.getLong(0)
    val auditNegatives = spark.sql(
      """SELECT count(*) AS n FROM graft.lake.bsql_t VERSION AS OF 'audit'
        |WHERE o_totalprice < 0""".stripMargin).head.getLong(0)
    // the fix: drop the corrupt rows, land the correct batch
    spark.sql("DELETE FROM graft.lake.bsql_t WHERE o_totalprice < 0")
    spark.sql(
      """INSERT INTO graft.lake.bsql_t
        |SELECT * FROM bsql_src WHERE o_orderstatus = 'F'""".stripMargin)
    // fast-forward: one ref flip publishes the audited state to main
    spark.sql("CALL graft.system.set_ref('lake.bsql_t', 'main', 'branch')").collect()
    spark.sql("CALL graft.system.set_ref('lake.bsql_t', 'audit', 'branch')").collect()
    val releaseCount = spark.sql(
      "SELECT count(*) AS n FROM graft.lake.bsql_t VERSION AS OF 'release'")
      .head.getLong(0)
    val ok =
      if (mainDuring == v1Count && auditNegatives > 0L &&
          releaseCount == v1Count) 1.0
      else 0.0
    spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.bsql_t VERSION AS OF 'main'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT '__release_tag', $releaseCount, 1.0
         |UNION ALL
         |SELECT '__ref_protocol', 4, $ok
         |ORDER BY status""".stripMargin)
  }

  /** K56: METADATA-ONLY DELETE — `DELETE WHERE <pred>` drops every
    * file whose min/max stats + K53 null counts PROVE all rows match
    * (the [[org.apache.spark.sql.graft.GraftGroupScan.mustMatchAll]]
    * dual of the K35 pruning comparator) from the manifest WITHOUT
    * reading it; only boundary files (provably-matching-some, not
    * provably-matching-all) pay the read-and-rewrite. The Delta/
    * Iceberg partition-delete fast path: at 100 TB, `DELETE WHERE day
    * < cutoff` is O(metadata) for the interior days and one file-set
    * rewrite at the boundary. Null safety is part of the proof: a
    * file with nulls in a referenced column never metadata-drops
    * under a non-null-safe predicate (a null row does not match, but
    * would vanish with the file).
    *
    * Flow: four day-range INSERTs (each file's day window disjoint) →
    * `DELETE WHERE day <= 2` → actuals from the manifests: the wholly-
    * inside files VANISH with zero new files attributable to them, the
    * out-of-range files carry BY NAME, only the boundary insert's
    * files are rewritten → remaining rollup + protocol row. The
    * exact-boundary zero-rewrite and the null-file-must-rewrite laws
    * are spec-pinned in Round27Spec.
    */
  def sinkDeleteMetadata(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("dm_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.dm_t")
    spark.sql(
      "CREATE TABLE graft.lake.dm_t (day BIGINT, k BIGINT, v DOUBLE)")
    // insert i covers days [2i, 2i+1]: DELETE day <= 2 wholly covers
    // insert 0, splits insert 1 at the boundary, misses inserts 2-3
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.lake.dm_t
           |SELECT ${2 * i} + ((o_orderkey DIV 4) % 2), o_orderkey, o_totalprice
           |FROM dm_src WHERE o_orderkey % 4 = $i""".stripMargin)
    }
    val manBase = catalogRoot + "/lake/dm_t/manifest"
    def filesByDay(): Map[String, (String, String)] = {
      val v = graft.sinks.ManifestStore.versions(spark, manBase).last
      org.apache.spark.sql.graft.GraftLakeTable
        .manifestRowsFull(spark, manBase, v)
        .map(r => r.file -> r.stats.get("day")
          .map(s => (s.head, s(1))).getOrElse(("?", "?"))).toMap
    }
    val before = filesByDay()
    spark.sql("DELETE FROM graft.lake.dm_t WHERE day <= 2")
    val after = filesByDay()
    val inside = before.filter { case (_, (_, mx)) => mx.toDouble <= 2.0 }.keySet
    val outside = before.filter { case (_, (mn, _)) => mn.toDouble > 2.0 }.keySet
    val boundary = before.keySet -- inside -- outside
    // the laws: interior files vanish, outside files carry BY NAME,
    // new files number at most the boundary rewrite's output
    val newFiles = after.keySet -- before.keySet
    val ok =
      if (inside.nonEmpty && boundary.nonEmpty &&
          inside.intersect(after.keySet).isEmpty &&
          outside.subsetOf(after.keySet) &&
          boundary.intersect(after.keySet).isEmpty &&
          newFiles.nonEmpty) 1.0
      else 0.0
    spark.sql(
      s"""SELECT cast(day AS STRING) AS grp, count(*) AS n,
         |  round(sum(v), 2) AS total
         |FROM graft.lake.dm_t GROUP BY day
         |UNION ALL
         |SELECT '__meta_delete_protocol', 4L, $ok
         |ORDER BY grp""".stripMargin)
  }

  /** K57: EQUI-HEIGHT HISTOGRAMS from the manifest — every commit's
    * stats pass also writes a 33-point per-file QUANTILE VECTOR per
    * numeric column (`percentile_approx`, native codegen'd agg,
    * ~0.7 KB/col/file); at scan-stats time the pruned snapshot's
    * vectors merge driver-side (each defines a piecewise-linear CDF;
    * the snapshot histogram inverts their row-weighted MIXTURE into 32
    * equi-height bins) and surface through DSv2 `columnStats()`
    * alongside K53's NDV and typed min/max — so `FilterEstimation`
    * sees THROUGH skew instead of interpolating uniformly over
    * [min, max]. At 100 TB this is what keeps a CBO plan honest on the
    * real (Zipfian) key distributions: a range predicate over a
    * 90%-point-mass column estimates ~5% where uniform says ~50%.
    *
    * Flow: a skewed fact from lineitem (90% of rows at x=5, 10% spread
    * to 999) in two commits (the MIXTURE path, not one vector) → the
    * CBO estimate for `x > 500` must land within 3× of the actual AND
    * at least 3× below the uniform interpolation → per-status rollup +
    * protocol flags. Estimator-consumption law spec-pinned in
    * Round27Spec.
    */
  def sinkCatalogHistogram(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .createOrReplaceTempView("histo_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.histo_t")
    spark.sql("CREATE TABLE graft.lake.histo_t (x BIGINT, q DOUBLE)")
    (0 until 2).foreach { half =>
      spark.sql(
        s"""INSERT INTO graft.lake.histo_t
           |SELECT CASE WHEN l_orderkey % 10 = 0 THEN l_orderkey % 1000 ELSE 5 END,
           |  l_quantity
           |FROM histo_src WHERE l_orderkey % 2 = $half""".stripMargin)
    }
    val actual = spark.sql(
      "SELECT count(*) FROM graft.lake.histo_t WHERE x > 500").head.getLong(0)
    val totalRows = spark.table("graft.lake.histo_t").count()
    val est = GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      spark.table("graft.lake.histo_t").where("x > 500")
        .queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
    }
    // uniform-over-[min,max] interpolation would estimate ~half the
    // table; the histogram estimate must track the skewed actual
    val uniformEst = totalRows / 2
    val ok =
      if (actual > 0L && est.exists(e =>
          e < uniformEst / 3 && e <= actual * 3 && e >= actual / 3)) 1.0
      else 0.0
    spark.sql(
      s"""SELECT cast(x AS STRING) AS grp, count(*) AS n,
         |  round(sum(q), 2) AS total
         |FROM graft.lake.histo_t WHERE x > 900 GROUP BY x
         |UNION ALL
         |SELECT '__histogram_protocol', 32L, $ok
         |ORDER BY grp""".stripMargin)
  }

  /** K58: DELETE-MASS-ADJUSTED SCAN STATISTICS (r14 #4, K49's
    * honest-rows rung) — a merge-on-read table's reported stats
    * subtract the DISTINCT equality-delete key count (exact under the
    * key-uniqueness contract equality deletes already carry; the same
    * per-file counts sink_catalog_mor hashes) and scale `sizeInBytes`
    * by the surviving fraction. At 100 TB the planner default this
    * fixes is the STATIC broadcast: a dim that is half delete-masked
    * would otherwise report 2× its servable bytes and fall off the
    * `autoBroadcastJoinThreshold` cliff, costing every downstream join
    * two shuffles for rows that no read will ever produce.
    *
    * Flow: a MoR dim from customer → equality-DELETE half its keys
    * (no compaction — live delete files) → actuals: the scan's
    * reported numRows must equal the masked count EXACTLY and its
    * bytes must track the surviving fraction; then the LAW: with the
    * broadcast threshold pinned BETWEEN the adjusted and the raw size
    * (3/4 of raw), the static plan must still BroadcastHashJoin — an
    * unadjusted report would exceed the threshold and shuffle. The
    * fact join rollup + protocol row are the hashed output.
    */
  def sinkCatalogStatsMor(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .createOrReplaceTempView("smor_dim_src")
    Tables.load(spark, dir, "orders")
      .select("o_custkey", "o_totalprice")
      .createOrReplaceTempView("smor_fact_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.smor_dim")
    spark.sql(
      """CREATE TABLE graft.lake.smor_dim (
        |  c_custkey BIGINT NOT NULL, c_nationkey INT, c_acctbal DOUBLE)
        |TBLPROPERTIES('graft.merge-on-read.key'='c_custkey')""".stripMargin)
    spark.sql("INSERT INTO graft.lake.smor_dim SELECT * FROM smor_dim_src")
    spark.sql("DELETE FROM graft.lake.smor_dim WHERE c_custkey % 2 = 0")
    val manBase = catalogRoot + "/lake/smor_dim/manifest"
    val manRows = org.apache.spark.sql.graft.GraftLakeTable.manifestRowsFull(
      spark, manBase, graft.sinks.ManifestStore.versions(spark, manBase).last)
    val rawBytes = manRows
      .filterNot(r => r.file.startsWith("deletes_")).map(_.bytes).sum
    val maskedCount = spark.table("graft.lake.smor_dim").count()
    val st = spark.table("graft.lake.smor_dim")
      .queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }.getOrElse(throw new IllegalStateException("no V2 scan for smor_dim"))
    val rowsOk = st.numRows.isPresent && st.numRows.getAsLong == maskedCount
    val bytesAdjusted = st.sizeInBytes.isPresent &&
      st.sizeInBytes.getAsLong < rawBytes * 3 / 4 &&
      st.sizeInBytes.getAsLong > rawBytes / 4
    // the broadcast law: threshold strictly between adjusted and raw
    val (staticBroadcast, joined) = GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> (rawBytes * 3 / 4).toString) {
      val j = spark.sql(
        """SELECT c_nationkey AS grp, count(*) AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM smor_fact_src f JOIN graft.lake.smor_dim d
          |  ON f.o_custkey = d.c_custkey
          |GROUP BY c_nationkey""".stripMargin)
      (j.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        j.collect())
    }
    val ok = if (rowsOk && bytesAdjusted && staticBroadcast) 1.0 else 0.0
    import spark.implicits._
    joined.map(r => (r.getInt(0).toString, r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("grp", "n", "total")
      .union(Seq(("__morstats_protocol",
        if (st.numRows.isPresent) st.numRows.getAsLong else -1L, ok))
        .toDF("grp", "n", "total"))
      .orderBy("grp")
  }

  /** K59: DATE-COLUMN EQUI-HEIGHT HISTOGRAMS (r14 #7, K57 v2) — the
    * per-file quantile vectors are written over each DATE column's
    * EPOCH-DAY proxy (order-isomorphic, and exactly the double
    * embedding `FilterEstimation` uses for date arithmetic), typed
    * min/max surface as epoch-day values, and the merged mixture
    * histogram bins in days — so a range predicate over a skewed
    * CALENDAR (the commonest real filter: `day > cutoff` on a table
    * whose ingest is bursty) estimates through the skew instead of
    * interpolating uniformly over [first_day, last_day].
    *
    * Flow: a fact whose date column has 90% of rows on ONE day and
    * 10% spread over the year, two commits (the mixture path) → the
    * CBO estimate for `d > midyear` must land within 3× of the actual
    * AND at least 3× below the uniform interpolation → December
    * rollup + protocol row.
    */
  def sinkCatalogHistogramDate(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .createOrReplaceTempView("histod_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.histod_t")
    spark.sql("CREATE TABLE graft.lake.histod_t (d DATE, q DOUBLE)")
    (0 until 2).foreach { half =>
      spark.sql(
        s"""INSERT INTO graft.lake.histod_t
           |SELECT CASE WHEN l_orderkey % 10 = 0
           |  THEN date_add(DATE'2024-01-01', cast(l_orderkey % 365 AS INT))
           |  ELSE DATE'2024-01-05' END,
           |  l_quantity
           |FROM histod_src WHERE l_orderkey % 2 = $half""".stripMargin)
    }
    val actual = spark.sql(
      "SELECT count(*) FROM graft.lake.histod_t WHERE d > DATE'2024-07-01'")
      .head.getLong(0)
    val totalRows = spark.table("graft.lake.histod_t").count()
    val est = GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      spark.table("graft.lake.histod_t").where("d > DATE'2024-07-01'")
        .queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
    }
    // uniform over [2024-01-01, 2024-12-30] puts ~half the table past
    // midyear; the day-binned histogram must track the ~5% actual
    val uniformEst = totalRows / 2
    val ok =
      if (actual > 0L && est.exists(e =>
          e < uniformEst / 3 && e <= actual * 3 && e >= actual / 3)) 1.0
      else 0.0
    spark.sql(
      s"""SELECT cast(d AS STRING) AS grp, count(*) AS n,
         |  round(sum(q), 2) AS total
         |FROM graft.lake.histod_t WHERE d > DATE'2024-11-30' GROUP BY d
         |UNION ALL
         |SELECT '__histogram_date_protocol', 32L, $ok
         |ORDER BY grp""".stripMargin)
  }

  /** K41: atomic `CREATE TABLE AS SELECT` / `REPLACE TABLE AS SELECT`
    * through the staging catalog ([[org.apache.spark.sql.graft
    * .GraftStagedTable]]): the table builds INVISIBLY (meta + data +
    * manifest under a dot-prefixed staging dir) and becomes real in
    * one commit — CTAS by a single sentinel-checked directory rename,
    * RTAS by moving staged data dirs + one overwrite manifest version
    * + a meta swap. Without staging, Spark's fallback exposes an empty
    * table mid-CTAS and orphans it on failure; with it, a failed
    * CTAS/RTAS leaves no trace / the old table byte-identical
    * (spec-pinned in Round23Spec, where the failure paths live).
    *
    * Flow here: CTAS a filtered projection, then RTAS the same name
    * into a DIFFERENT SCHEMA (the per-status rollup) — the schema
    * flip riding the commit is exactly what a naive drop-and-recreate
    * cannot do atomically. Readbacks after each statement; the oracle
    * replays both from raw parquet.
    */
  def sinkCtas(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_ctas_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_ctas")
    spark.sql(
      """CREATE TABLE graft.lake.orders_ctas AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders_ctas_src WHERE o_orderstatus <> 'P'""".stripMargin)
    val ctas = spark.sql(
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_ctas""".stripMargin).collect().head
    spark.sql(
      """REPLACE TABLE graft.lake.orders_ctas AS
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS status_total
        |FROM orders_ctas_src GROUP BY o_orderstatus""".stripMargin)
    val rtas = spark.sql(
      """SELECT count(*) AS n, cast(sum(n_orders) AS double) AS total
        |FROM graft.lake.orders_ctas""".stripMargin).collect().head
    import spark.implicits._
    Seq(("1_ctas", ctas.getLong(0), ctas.getDouble(1)),
        ("2_rtas", rtas.getLong(0), rtas.getDouble(1)))
      .toDF("step", "n", "total").orderBy("step")
  }

  /** One catalog root per JVM: the catalog INSTANCE is cached by the
    * session's CatalogManager at first use, so its `root` option must
    * never change within a JVM — per-invocation freshness comes from
    * DROP + CREATE inside [[sinkCatalogSql]], not from a new root.
    */
  private[graft] lazy val catalogRoot: String = tmpDir("catalog") + "/lake_root"

  private[graft] def ensureCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", catalogRoot)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
  }

  /** K30: SQL `DELETE FROM` over the catalog — K14's targeted erasure
    * on the standard SQL surface ([[org.apache.spark.sql.graft
    * .GraftLakeTable.deleteWhere]]): survivors land in a fresh
    * immutable data dir and commit as ONE new manifest version;
    * DELETE's null semantics (a NULL predicate does not delete) come
    * from the survivors filter `NOT coalesce(cond, false)`. The
    * pre-delete snapshot stays readable via `VERSION AS OF` — erasure
    * completes at VACUUM retention (K18), the Delta/Iceberg contract,
    * and the readback aggregates BOTH snapshots so the oracle checks
    * history isolation and the deletion in one hash.
    */
  def sinkCatalogDelete(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_del_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_del")
    spark.sql(
      """CREATE TABLE graft.lake.orders_del (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_del SELECT * FROM orders_del_src")
    spark.sql(
      """DELETE FROM graft.lake.orders_del
        |WHERE o_orderstatus = 'F' AND o_totalprice < 150000.0""".stripMargin)
    spark.sql(
      """SELECT 'v1_pre_delete' AS snapshot, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_del VERSION AS OF 1
        |UNION ALL
        |SELECT 'v2_post_delete', count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_del
        |ORDER BY snapshot""".stripMargin)
  }

  /** K31: SQL `ALTER TABLE ADD COLUMN` over the catalog — K19's
    * schema evolution on the standard SQL surface: the meta file
    * evolves (atomic temp-write + rename), files written BEFORE the
    * evolution simply lack the column and the parquet reader
    * null-fills it, files after carry it — nothing is rewritten. The
    * readback buckets legacy rows under the null fill, so the oracle
    * hash proves both the null-fill semantics and that post-evolution
    * INSERTs carry the new column.
    */
  def sinkCatalogEvolve(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
      .createOrReplaceTempView("orders_ev_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_ev")
    spark.sql(
      "CREATE TABLE graft.lake.orders_ev (o_orderkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      """INSERT INTO graft.lake.orders_ev
        |SELECT o_orderkey, o_totalprice FROM orders_ev_src
        |WHERE o_orderdate < DATE'1997-01-01'""".stripMargin)
    spark.sql("ALTER TABLE graft.lake.orders_ev ADD COLUMNS (o_orderstatus STRING)")
    spark.sql(
      """INSERT INTO graft.lake.orders_ev
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders_ev_src
        |WHERE o_orderdate >= DATE'1997-01-01'""".stripMargin)
    spark.sql(
      """SELECT coalesce(o_orderstatus, '_legacy') AS status_bucket,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_ev
        |GROUP BY 1 ORDER BY status_bucket""".stripMargin)
  }

  /** K32: SQL `MERGE INTO` over the catalog — the standard warehouse
    * upsert statement (the reference's `if_exists='append'`-then-dedupe
    * loop done properly, reference: week_1/data_ingest/data_ingest
    * .py:65-104) through Spark's `SupportsRowLevelOperations`
    * group-based rewrite ([[org.apache.spark.sql.graft
    * .GraftRowLevelOperation]]): the scan reads the touched FILES
    * (runtime group filtering prunes on the manifest's per-file
    * min/max key stats), matched rows are deleted/updated, unmatched
    * source rows inserted, and ONE manifest version commits the
    * rewritten groups plus every untouched file CARRIED BY REFERENCE.
    * The source halves prices and suffixes statuses so the readback
    * buckets discriminate updated (target status, summed price),
    * carried (target rows untouched), deleted ('F' matches), and
    * inserted ('…S' statuses) provenance in one hash; the pre-merge
    * snapshot stays readable via `VERSION AS OF`. One-version-per-
    * MERGE, carry-by-reference, carry-over-row safety, and the
    * concurrent MERGE/INSERT race are pinned in Round21Spec.
    */
  def sinkCatalogMerge(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    orders.filter(col("o_orderkey") % 4 < lit(3))
      .createOrReplaceTempView("orders_mrg_base")
    orders.filter(col("o_orderkey") % 4 >= lit(2))
      .select(col("o_orderkey"),
        concat(col("o_orderstatus"), lit("S")).as("o_orderstatus"),
        (col("o_totalprice") / 2).as("o_totalprice"))
      .createOrReplaceTempView("orders_mrg_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_mrg")
    spark.sql(
      """CREATE TABLE graft.lake.orders_mrg (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_mrg SELECT * FROM orders_mrg_base")
    spark.sql(
      """MERGE INTO graft.lake.orders_mrg t USING orders_mrg_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.o_orderstatus = 'FS' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      """SELECT 'v1_pre_merge' AS snapshot, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_mrg VERSION AS OF 1
        |GROUP BY snapshot, o_orderstatus
        |UNION ALL
        |SELECT 'v2_post_merge', o_orderstatus, count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_mrg
        |GROUP BY 1, o_orderstatus
        |ORDER BY snapshot, o_orderstatus""".stripMargin)
  }

  /** K33: SQL `UPDATE` over the catalog — the same group-based
    * copy-on-write engine as K32 with command UPDATE: touched files
    * are rewritten with the assignment applied, untouched files carry
    * by reference, pre-update history stays pinned. The readback
    * aggregates both snapshots by status so the hash proves exactly
    * the 'F' bucket moved and every other row is byte-stable.
    */
  def sinkCatalogUpdate(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("orders_upd_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_upd")
    spark.sql(
      """CREATE TABLE graft.lake.orders_upd (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_upd SELECT * FROM orders_upd_src")
    spark.sql(
      """UPDATE graft.lake.orders_upd
        |SET o_totalprice = o_totalprice / 2 WHERE o_orderstatus = 'F'""".stripMargin)
    spark.sql(
      """SELECT 'v1_pre_update' AS snapshot, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_upd VERSION AS OF 1
        |GROUP BY snapshot, o_orderstatus
        |UNION ALL
        |SELECT 'v2_post_update', o_orderstatus, count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_upd
        |GROUP BY 1, o_orderstatus
        |ORDER BY snapshot, o_orderstatus""".stripMargin)
  }

  /** K34: storage-partitioned catalog tables — K6's co-located join
    * through the DSv2 path, no `saveAsTable` ([[org.apache.spark.sql
    * .graft.GraftBucketed]]): both tables are `PARTITIONED BY
    * (bucket(8, custkey))`, every INSERT routes rows into per-bucket
    * files, the scans report `KeyGroupedPartitioning` over the
    * catalog-registered `bucket` function, and Spark's storage-
    * partitioned join plans the orders⋈customer equi-join with NO
    * Exchange on either side (plan-asserted in Round21Spec; broadcast
    * is disabled here so the shuffle-free property is what executes).
    * At 100 TB this is the mechanism that deletes the fact-join
    * shuffle — bucket count chosen like Hive bucketing, since it is
    * also the scan parallelism.
    */
  def sinkCatalogBucketed(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("orders_bkt_src")
    Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment")
      .createOrReplaceTempView("customer_bkt_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_bkt")
    spark.sql("DROP TABLE IF EXISTS graft.lake.customer_bkt")
    spark.sql(
      """CREATE TABLE graft.lake.orders_bkt (
        |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(
      """CREATE TABLE graft.lake.customer_bkt (
        |  c_custkey BIGINT, c_mktsegment STRING)
        |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
    spark.sql("INSERT INTO graft.lake.orders_bkt SELECT * FROM orders_bkt_src")
    spark.sql("INSERT INTO graft.lake.customer_bkt SELECT * FROM customer_bkt_src")
    GraftSession.withConf(spark,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // materialize under the no-broadcast conf so the executed join
      // is the storage-partitioned one the operator exists to prove
      CheckpointIds.scoped(spark)(cp => cp(spark.sql(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  round(sum(o_totalprice), 2) AS total
          |FROM graft.lake.orders_bkt o
          |JOIN graft.lake.customer_bkt c ON o.o_custkey = c.c_custkey
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)))
    }
  }

  /** K35: manifest-stats data skipping on catalog reads — the per-file
    * min/max stats every INSERT commits (K32's machinery) now prune
    * plain SELECTs too ([[org.apache.spark.sql.graft
    * .GraftPrunedScanBuilder]]): pushed filters knock provably-empty
    * files out of the scan's file list before Spark lists or opens
    * them, then parquet row-group skipping stacks on top. Three
    * INSERTs land disjoint o_orderdate eras, so the range query's
    * plan touches one era's files (file-count pruning plan-asserted
    * in Round22Spec); the readback also runs a numeric-key point
    * band and an untranslatable predicate (modulo) that must fall
    * back to the full list — correctness never depends on a prune.
    */
  def sinkCatalogPrune(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .createOrReplaceTempView("orders_pr_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_pr")
    spark.sql(
      """CREATE TABLE graft.lake.orders_pr (
        |  o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)""".stripMargin)
    Seq("o_orderdate < DATE'1996-01-01'",
      "o_orderdate >= DATE'1996-01-01' AND o_orderdate < DATE'1997-01-01'",
      "o_orderdate >= DATE'1997-01-01'").foreach { era =>
      spark.sql(s"INSERT INTO graft.lake.orders_pr SELECT * FROM orders_pr_src WHERE $era")
    }
    spark.sql(
      """SELECT 'date_band' AS q, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM graft.lake.orders_pr
        |WHERE o_orderdate BETWEEN DATE'1996-03-01' AND DATE'1996-09-30'
        |UNION ALL
        |SELECT 'key_band', count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_pr WHERE o_orderkey BETWEEN 100 AND 2000
        |UNION ALL
        |SELECT 'no_prune_mod', count(*), round(sum(o_totalprice), 2)
        |FROM graft.lake.orders_pr WHERE o_orderkey % 7 = 3
        |ORDER BY q""".stripMargin)
  }

  /** K36: `TIMESTAMP AS OF` time travel through the catalog — K24/K29
    * pinned reads by VERSION; this is the wall-clock surface every
    * lakehouse reader actually uses ("the table as the 9am job saw
    * it"). Commit instants are the manifest version directories'
    * mtimes, NORMALIZED by the winning publisher to be strictly
    * increasing in version order (Delta's in-commit-timestamp pattern
    * — raw rename mtimes are the staging instant and coarse-mtime
    * stores can collapse adjacent commits onto one tick); resolution
    * picks the latest version committed at or before the pin
    * ([[org.apache.spark.sql.graft.GraftCatalog.loadTable]]). The
    * entry pins at version 1's own commit instant (strictly before
    * version 2's by the normalization invariant) and the
    * readback aggregates that snapshot against latest; boundary
    * semantics (at-or-before, same-millis → highest version,
    * before-first-commit error) are spec-pinned with CONTROLLED
    * mtimes in Round22Spec.
    */
  def sinkCatalogTimeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
      .createOrReplaceTempView("orders_tt_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_tt")
    spark.sql(
      """CREATE TABLE graft.lake.orders_tt (
        |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_tt
        |SELECT * FROM orders_tt_src WHERE o_orderdate < DATE'1997-01-01'""".stripMargin)
    spark.sql(
      """INSERT INTO graft.lake.orders_tt
        |SELECT * FROM orders_tt_src WHERE o_orderdate >= DATE'1997-01-01'""".stripMargin)
    val t1 = graft.sinks.ManifestStore
      .versionsWithTimes(spark, s"$catalogRoot/lake/orders_tt/manifest").head._2
    spark.sql(
      s"""SELECT 'v1_as_of_commit_ts' AS snapshot, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM graft.lake.orders_tt TIMESTAMP AS OF timestamp_millis(${t1}L)
         |UNION ALL
         |SELECT 'v2_latest', count(*), round(sum(o_totalprice), 2)
         |FROM graft.lake.orders_tt
         |ORDER BY snapshot""".stripMargin)
  }

  /** K37: table maintenance on the SQL `CALL` surface — Spark 4's
    * `ProcedureCatalog` rung ([[org.apache.spark.sql.graft
    * .GraftProcedures]], the Iceberg `CALL catalog.system.*` shape):
    * four quarter-sliced single-file INSERTs fragment the table, `CALL
    * graft.system.optimize` bin-packs them through the shared
    * replace-commit (one new version, at-size files would carry by
    * reference), `CALL graft.system.vacuum` sweeps the pre-compaction
    * versions and GCs their now-unreferenced data files — and the
    * readback must still aggregate every inserted row byte-exactly,
    * which is the whole point: maintenance moves METADATA and file
    * layout, never data. Structural pins (file counts, carried
    * big file, disk GC, swept-pin failure) live in Round22Spec.
    */
  def sinkCatalogCall(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .createOrReplaceTempView("orders_call_src")
    spark.sql("DROP TABLE IF EXISTS graft.lake.orders_opt")
    spark.sql(
      """CREATE TABLE graft.lake.orders_opt (
        |  o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)""".stripMargin)
    Seq("< DATE'1995-01-01'",
      ">= DATE'1995-01-01' AND o_orderdate < DATE'1996-01-01'",
      ">= DATE'1996-01-01' AND o_orderdate < DATE'1997-01-01'",
      ">= DATE'1997-01-01'").foreach { era =>
      spark.sql(
        s"""INSERT INTO graft.lake.orders_opt
           |SELECT /*+ REPARTITION(1) */ * FROM orders_call_src
           |WHERE o_orderdate $era""".stripMargin)
    }
    spark.sql("CALL graft.system.optimize('lake.orders_opt', 100000000)")
    // grace_hours=0: this flow QUIESCES before vacuuming (no in-flight
    // writer), so the orphan-GC age gate can be waived to actually
    // reclaim the just-compacted files; production callers keep the
    // 24h default
    spark.sql("CALL graft.system.vacuum('lake.orders_opt', 1, 0)")
    spark.sql(
      """SELECT 'post_maintenance' AS snapshot, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(DISTINCT o_orderkey) AS n_keys
        |FROM graft.lake.orders_opt""".stripMargin)
  }

  /** K1: replace / append / fail write-mode semantics
    * (reference: `if_exists` in week_1/data_ingest/data_ingest.py:50).
    * Emits the table row count observed after each step; `fail` must
    * raise and leave the table untouched.
    */
  def sinkModes(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val path = tmpDir("modes") + "/t"
    TableStore.store(src, path, "replace")
    val afterReplace = ParquetRead(spark, path).count()
    TableStore.store(src, path, "append")
    val afterAppend = ParquetRead(spark, path).count()
    val failRaised =
      try { TableStore.store(src, path, "fail"); false }
      catch { case _: Throwable => true }
    val afterFail = ParquetRead(spark, path).count()
    import spark.implicits._
    Seq(
      ("1_replace", afterReplace, true),
      ("2_append", afterAppend, true),
      ("3_fail", afterFail, failRaised)
    ).toDF("step", "n_rows", "ok").orderBy("step")
  }

  /** K11: external-warehouse store through the JDBC-shaped
    * [[graft.sinks.WarehouseWriter]] interface — the reference's
    * Postgres path (reference: week_1/data_ingest/data_ingest.py:66
    * `store_table_in_db` via a SQLAlchemy engine URL). The gate drives
    * replace/append/fail through the interface; here it binds to the
    * file-backed double (no DB server in the sandbox), production binds
    * [[graft.sinks.JdbcWarehouse]] with zero caller changes.
    */
  def sinkJdbc(spark: SparkSession, dir: String): DataFrame = {
    val wh: graft.sinks.WarehouseWriter =
      new graft.sinks.FileWarehouse(tmpDir("jdbc_wh"))
    val src = Tables.load(spark, dir, "nation").select("n_nationkey", "n_name")
    wh.write(src, "nation", "replace")
    val afterReplace = wh.read(spark, "nation").count()
    wh.write(src, "nation", "append")
    val afterAppend = wh.read(spark, "nation").count()
    val failRaised =
      try { wh.write(src, "nation", "fail"); false }
      catch { case _: Throwable => true }
    val afterFail = wh.read(spark, "nation").count()
    wh.write(src, "nation", "replace")
    val afterRestore = wh.read(spark, "nation").count()
    import spark.implicits._
    Seq(
      ("1_replace", afterReplace, true),
      ("2_append", afterAppend, true),
      ("3_fail", afterFail, failRaised),
      ("4_replace_again", afterRestore, true)
    ).toDF("step", "n_rows", "ok").orderBy("step")
  }

  /** K2: compressed parquet write (reference writes gzip parquet,
    * week_2/data_ingest/pipeline.py:191) — each codec must round-trip
    * identical data.
    */
  def sinkCompress(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val base = tmpDir("codec")
    val rows = Seq("gzip", "snappy", "zstd").map { codec =>
      TableStore.writeCompressed(src, s"$base/$codec", codec)
      ParquetRead(spark, s"$base/$codec")
        .agg(lit(codec).as("codec"), count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("total"))
    }
    rows.reduce(_ unionByName _).orderBy("codec")
  }

  /** K3: CSV write with header + read-back. */
  def sinkCsv(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
    val out = tmpDir("csvsink") + "/daily"
    TableStore.writeCsv(daily, out)
    Ingest.readCsv(spark, out, Some(daily.schema)).orderBy("d", "event_type")
  }

  /** K4: hive-partitioned datalake write; the read-back filter on the
    * partition column prunes to one directory (PartitionFilters in the
    * explain — verified in the spec).
    */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val lake = tmpDir("lake") + "/orders_lake"
    TableStore.writePartitioned(orders, lake, Seq("o_orderstatus"))
    ParquetRead(spark, lake)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  // unique across JVMs: the warehouse dir outlives the session, so a
  // per-process counter alone collides with tables from prior runs
  private val bucketRunId: String =
    java.lang.Long.toHexString(System.nanoTime())
  private val bucketCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** K6: bucketed co-located join — both tables pre-shuffled on the
    * join key at write time, so the join itself plans with NO exchange
    * on either side (asserted in IOSpec). At 100 TB this converts every
    * recurring fact-fact join from a full shuffle into a local merge.
    */
  def sinkBucketed(spark: SparkSession, dir: String): DataFrame = {
    val id = s"${bucketRunId}_${bucketCounter.incrementAndGet()}"
    val ordersT = s"graft_orders_b$id"
    val lineitemT = s"graft_lineitem_b$id"
    TableStore.writeBucketed(
      Tables.load(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
      ordersT, "o_orderkey", 8)
    TableStore.writeBucketed(
      Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      lineitemT, "l_orderkey", 8)
    spark.table(ordersT)
      .join(spark.table(lineitemT), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderpriority")
  }

  /** K7: ORC round-trip — the second columnar format a warehouse
    * interop layer needs (Spark-native writer/reader; predicate
    * pushdown and column pruning work the same as parquet). The oracle
    * computes the aggregate straight from the source parquet, so a
    * match proves the ORC write → read was lossless.
    */
  def sinkOrc(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val out = tmpDir("orc") + "/orders_orc"
    src.write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** K8: small-file compaction — the datalake maintenance pass. A
    * fragmented table (64 files here; in production, thousands of
    * per-micro-batch files) is rewritten to a handful of scan-sized
    * files. At 100 TB this is the difference between a listing+open
    * storm and clean 256 MiB scans; the rewrite is one shuffle-free
    * coalesce. Emits before/after file counts and row parity.
    */
  def sinkCompact(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "events").select("event_id", "event_type", "value")
    val frag = tmpDir("compact") + "/frag"
    val tidy = tmpDir("compact") + "/tidy"
    src.repartition(64).write.mode("overwrite").parquet(frag)
    def nFiles(p: String): Long =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet")).toLong
    val fragged = ParquetRead(spark, frag)
    fragged.coalesce(4).write.mode("overwrite").parquet(tidy)
    val nRows = ParquetRead(spark, tidy).count()
    import spark.implicits._
    Seq(("1_fragmented", nFiles(frag), nFiles(frag) >= 32),
        ("2_compacted", nFiles(tidy), nFiles(tidy) <= 4),
        ("3_rows_kept", nRows, nRows == src.count()))
      .toDF("step", "n", "ok").orderBy("step")
  }

  /** P1: the reference's full ETL as a graft Flow — ingest → transform
    * (first-10-cols + constant column, the reference's exact transform)
    * → store → query, with task retries and logging
    * (reference: week_2/data_ingest/pipeline.py:203 `main_flow`).
    * The flow stays one Spark application: lineage is intact across
    * tasks, nothing materializes until the store task writes.
    */
  def flowE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Flow._
    flow("graft-etl") {
      val raw = task("ingest", TaskConfig(retries = 2)) {
        Ingest.read(spark, Tables.path(dir, "lineitem"))
      }
      val transformed = task("transform") {
        raw.select(raw.columns.take(10).map(col): _*)
          .withColumn("transformation",
            lit("this is an artificial transformation just to practice prefect"))
      }
      val stored = task("store") {
        val path = tmpDir("flow") + "/lineitem_etl"
        TableStore.store(transformed, path, "replace")
        ParquetRead(spark, path)
      }
      task("query") {
        stored.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"),
            max("transformation").as("note"))
          .orderBy("l_returnflag")
      }
    }
  }

  /** P3: parameterized backfill — the reference's parameterized
    * mainflow loops the whole ETL over a LIST of sources
    * (reference: week_2/data_ingest/parametrized.py:364 `mainflow`,
    * the `isinstance(url, list)` branch at :387). Here the parameter
    * is a year-partition: one Flow run per year ingests that slice and
    * appends it into a hive-partitioned lake (`yr=NNNN`), and the final
    * read-back aggregates the whole lake. The oracle computes the same
    * per-year rollup straight from the source — parity proves every
    * backfill run landed its partition exactly once, none twice.
    * Each run's filter prunes the source scan to its year; the lake
    * read groups by the partition column (no data-file scan needed for
    * the key).
    */
  def pBackfill(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Flow._
    val lake = tmpDir("backfill") + "/orders_lake"
    Seq(1995, 1996, 1997).foreach { y =>
      flow(s"backfill-$y") {
        val slice = task("ingest", TaskConfig(retries = 2)) {
          Tables.load(spark, dir, "orders")
            .filter(year(col("o_orderdate")) === y)
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("yr"))
        }
        task("store") {
          slice.write.mode("append").partitionBy("yr").parquet(lake)
        }
      }
    }
    ParquetRead(spark, lake)
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("yr")
  }

  /** P4: task-result caching — the reference's
    * `cache_key_fn=task_input_hash, cache_expiration` surface
    * (reference: week_2/data_ingest/parametrized.py:80,144). A month
    * aggregate runs as a cached task over the call sequence
    * month 1 → month 2 → month 1 again: the repeat must serve from
    * cache (body_runs stays 2) while returning a result identical to
    * the fresh run. The oracle recomputes the per-month aggregates and
    * pins the expected cumulative body-run counts — a hash match proves
    * both the cache hit AND that the memoized result is value-identical
    * to recomputation.
    */
  def pFlowCache(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Flow
    import spark.implicits._
    Flow.clearCache()
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    def monthAgg(m: Int): (Long, Double) =
      Flow.cachedTask("month_agg", Seq(dir, m), Flow.CacheConfig(ttlMs = 86400000L)) {
        runs.incrementAndGet()
        val r = Tables.load(spark, dir, "orders")
          .filter(month(col("o_orderdate")) === m)
          .agg(count(lit(1)), round(sum("o_totalprice"), 2)).head
        (r.getLong(0), r.getDouble(1))
      }
    val calls = Seq(1, 2, 1).zipWithIndex.map { case (m, i) =>
      val (n, total) = monthAgg(m)
      (i + 1, m, n, total, runs.get())
    }
    calls.toDF("call_idx", "month", "n", "total", "body_runs")
      .orderBy("call_idx")
  }

  /** K5: warehouse upsert — batch 2 overlaps batch 1 and must win.
    * Final state: keys 0 mod 3 from batch 1 untouched, keys 1 mod 3
    * overwritten with the +1000 price, keys 2 mod 3 inserted.
    */
  def sinkWarehouse(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val wh = tmpDir("wh") + "/warehouse"
    val batch1 = orders.filter(col("o_orderkey") % 3 <= 1)
    val batch2 = orders.filter(col("o_orderkey") % 3 >= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    TableStore.upsert(spark, wh, batch1, Seq("o_orderkey"))
    TableStore.upsert(spark, wh, batch2, Seq("o_orderkey"))
    ParquetRead(spark, wh)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** K13: CDC MERGE with deletes — the full change-data-capture apply
    * K5's upsert lacks: a feed batch of (op ∈ insert|update|delete,
    * key, payload, seq) nets out within-batch (k%4==2 is updated at
    * seq 1 and deleted at seq 3 — the delete must win) and then merges
    * against the stored snapshot through
    * [[graft.sinks.TableStore.mergeCdc]]'s versioned optimistic
    * commit. Final state: keys 0 mod 4 untouched from the initial
    * load, 1 mod 4 carry the +1000 update, 2 mod 4 are DELETED, 3 mod
    * 4 are fresh inserts at +500 — the oracle replays exactly that
    * arithmetic over `orders`.
    */
  def sinkMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = tmpDir("cdc") + "/orders_cdc"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val k = col("o_orderkey") % 4
    // v1: the initial snapshot lands as an all-insert batch
    TableStore.mergeCdc(spark, base,
      orders.filter(k <= 2)
        .withColumn("op", lit("insert")).withColumn("seq", lit(0L)),
      Seq("o_orderkey"))
    // v2: one feed batch with updates, inserts, deletes, and a
    // within-batch supersede (update@1 then delete@3 of the same keys)
    val batch = orders.filter(k === 2)
      .withColumn("o_totalprice", col("o_totalprice") + 9999.0)
      .withColumn("op", lit("update")).withColumn("seq", lit(1L))
      .unionByName(orders.filter(k === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .withColumn("op", lit("insert")).withColumn("seq", lit(1L)))
      .unionByName(orders.filter(k === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("update")).withColumn("seq", lit(2L)))
      .unionByName(orders.filter(k === 2)
        .withColumn("op", lit("delete")).withColumn("seq", lit(3L)))
    TableStore.mergeCdc(spark, base, batch, Seq("o_orderkey"))
    TableStore.readCdcCurrent(spark, base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** K14: targeted key erasure with manifest-pruned file rewrites —
    * the GDPR right-to-be-forgotten shape: remove every row belonging
    * to a doomed customer range from a lake WITHOUT rewriting the
    * table. The lake is sort-clustered on `o_custkey` (K10) so each
    * file covers a narrow key range; the erase planner intersects the
    * doomed range against the CURRENT manifest's per-file [min,max]
    * driver-side and rewrites ONLY intersecting files — every other
    * file is carried into the next manifest version BY REFERENCE (its
    * path, bounds, and row count copy over; zero data movement). At
    * 100 TB an erasure request touches a handful of files out of a
    * million, so rewrite traffic scales with the doomed keys' file
    * footprint, not table size — the same reason Delta/Iceberg DELETE
    * is a metadata-plus-touched-files operation. The v2 manifest
    * publishes through [[graft.sinks.ManifestStore]]'s atomic rename
    * commit: readers flip v1→v2 with no partial state, and a reader
    * pinned to v1 still sees the pre-erasure table (the retention
    * window is the compliance clock). Output: the surviving table's
    * aggregate (oracle-checked against the raw table under the same
    * predicate) plus proof that carry-forward actually happened.
    */
  def sinkDelete(spark: SparkSession, dir: String,
                 lo: Long = 100, hi: Long = 120,
                 baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("erase"))
    val lake = base + "/lake"
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(lake)
    def bounds(df: DataFrame) = df
      .groupBy(input_file_name().as("file"))
      .agg(min("o_custkey").as("min_key"), max("o_custkey").as("max_key"),
        count(lit(1)).as("n_rows"))
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      bounds(ParquetRead(spark, lake)))
    val (_, manifest) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val files = manifest.select("file", "min_key", "max_key", "n_rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a file is touched only if its key range intersects the doomed one
    val (doomed, carried) = files.partition(f => f._2 <= hi && f._3 >= lo)
    val rewritten =
      if (doomed.isEmpty) Array.empty[(String, Long, Long, Long)]
      else {
        val rw = base + "/rewrite_v2"
        ParquetRead(spark, doomed.map(_._1): _*)
          .filter(col("o_custkey") < lo || col("o_custkey") > hi)
          .write.mode("overwrite").parquet(rw)
        bounds(ParquetRead(spark, rw))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
    import spark.implicits._
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      (carried ++ rewritten).toSeq.toDF("file", "min_key", "max_key", "n_rows"))
    val (_, v2) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val curFiles = v2.select("file").collect().map(_.getString(0))
    val state =
      if (curFiles.isEmpty)
        spark.range(1).select(lit(0L).as("n"), lit(null).cast("double").as("total"))
      else ParquetRead(spark, curFiles: _*)
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    // file split boundaries are an execution detail; the oracle-stable
    // facts are the surviving aggregate and THAT carry-forward happened
    state.select(col("n"), col("total"),
      lit(doomed.nonEmpty && carried.nonEmpty).as("pruned"))
  }

  /** K10: sort-clustered datalake write — `repartitionByRange` on the
    * query key + `sortWithinPartitions` gives every parquet file a
    * narrow, non-overlapping key range, so a key-range read touches one
    * file's row groups and parquet min/max statistics skip the rest
    * (the poor man's Z-order; at 100 TB this is the difference between
    * a full scan and reading one file per predicate). The aggregate
    * matches the original table under the same filter — proving the
    * clustering write was lossless.
    */
  def sinkSorted(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val out = tmpDir("sorted") + "/orders_sorted"
    orders.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(out)
    ParquetRead(spark, out)
      .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 5000)
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  /** S8: custom binary vector source — the embeddings table round-trips
    * through `.fvecs` (the ANN-world interchange format) via graft's
    * DataSource V2 reader ([[graft.sources.FvecsDataSource]]): a
    * distributed binary write, then a SPLIT read (3 partitions per
    * file) whose per-vector checksums must match the original parquet.
    * Proves record-boundary byte-range planning, id stability under
    * splitting, and lossless float round-trip.
    */
  def srcFvecs(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("fvecs") + "/emb_fvecs"
    FvecsIO.write(Tables.load(spark, dir, "embeddings"), out, nFiles = 4)
    spark.read.format("graft-fvecs").option("nSplits", "3").load(out)
      .select(col("vec_id"), size(col("embedding")).as("dim"),
        round(aggregate(col("embedding"), lit(0.0), (a, x) => a + x.cast("double")), 4)
          .as("vsum"))
      .orderBy("vec_id")
  }

  /** K15: bloom-augmented manifest point lookup — per-file bloom
    * filters over a NON-clustered column, the data-skipping rung
    * min/max zone maps cannot reach. The lake is hash-clustered on
    * `o_custkey`, so every file spans (nearly) the full `o_orderkey`
    * range — a range manifest prunes nothing for an orderkey lookup.
    * But each orderkey lives in exactly ONE file, so a per-file bloom
    * over `xxhash64(o_orderkey)` (built with graft's registered
    * BloomFilterAggregate, one read-back aggregate grouped by
    * `input_file_name`, bytes base64'd into the JSON manifest) lets
    * the reader test each file's bloom against the probe keys
    * DRIVER-SIDE — manifest rows, not data — and open only matching
    * files. Blooms have no false negatives, so pruning can never drop
    * a real row; false positives only cost an extra file read (≤ fpp ·
    * n_files expected), and the exact key filter after the scan keeps
    * the result precise. This is Parquet-bloom/Iceberg-style point
    * lookup: at 100 TB a key probe touches O(probes) files out of a
    * million, driven entirely by sidecar metadata. Output: per-probe
    * aggregates (oracle: the same filter straight on the raw table)
    * plus `pruned` asserting the scan really skipped files.
    */
  def sinkBloomIndex(spark: SparkSession, dir: String): DataFrame =
    bloomIndexLookup(spark, dir)._1

  /** [[sinkBloomIndex]]'s core, also returning (bloom-matching files,
    * total files) so the pruning strength is spec-assertable.
    */
  private[graft] def bloomIndexLookup(spark: SparkSession, dir: String)
      : (DataFrame, Int, Long) = {
    import org.apache.spark.sql.graft.GraftFunctions
    GraftFunctions.register(spark)
    val base = tmpDir("bloomidx")
    val lake = base + "/lake"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.repartition(16, col("o_custkey"))
      .write.mode("overwrite").parquet(lake)
    // manifest: one row per file — row count + a bloom of its orderkeys.
    // Bloom capacity derives from the ACTUAL table size (one bounded
    // count): a fixed estimate saturates at bigger SFs and the false-
    // positive rate quietly eats the pruning. ~16 bits/key ≈ 0.5% fpp.
    val estPerFile = math.max(20000L,
      Tables.load(spark, dir, "orders").count() / 16 * 2)
    val nBits = estPerFile * 16
    val manifest = ParquetRead(spark, lake)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        base64(expr(s"graft_bloom_agg(xxhash64(o_orderkey), ${estPerFile}L, ${nBits}L)"))
          .as("bloom_b64"))
    graft.sinks.ManifestStore.publish(spark, base + "/manifest", manifest)
    // probe keys: the table's min and max orderkey — deterministic and
    // present at any SF (two 1-row driver lookups, bounded control flow)
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).collect().head
    val probes = Seq(mm.getLong(0), mm.getLong(1)).distinct
    // hash each probe with the SAME xxhash64 the bloom build used —
    // evaluated through the engine so the seed/variant can never drift
    // from the aggregate side (`might_contain` itself only accepts
    // constant/scalar-subquery blooms, so per-file tests run driver-side
    // on the collected manifest rows — sidecar metadata, not data)
    import spark.implicits._
    val probeHashes = probes.toDF("k").select(xxhash64(col("k")))
      .collect().map(_.getLong(0))
    val (_, man) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val files = man.select("file", "bloom_b64").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val hit = files.filter { case (_, b64) =>
      val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          // MIME decoder: Spark's base64() chunks at 76 chars with CRLF
          java.util.Base64.getMimeDecoder.decode(b64)))
      probeHashes.exists(bloom.mightContainLong)
    }.map(_._1)
    val nFiles = files.length.toLong
    // the scan reads ONLY bloom-matching files; the exact key filter
    // keeps the result precise through any bloom false positive
    val out = ParquetRead(spark, hit: _*)
      .filter(col("o_orderkey").isin(probes: _*))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("pruned", lit(hit.length < nFiles))
      .orderBy("o_orderkey")
    (out, hit.length, nFiles)
  }

  /** K18: VACUUM — the data-file garbage collector every
    * manifest-backed lake eventually needs: rewrites (K8 compaction,
    * K14 erasure) and failed writers leave files on disk that no
    * LIVE manifest version references — unreferenced rewrites,
    * never-committed orphans. Vacuum lists the disk, subtracts every
    * file referenced by the retained manifest versions, and deletes
    * the rest. Referenced-set arithmetic runs on MANIFEST rows
    * (sidecar metadata); the only storage ops are the list and the
    * deletes — at 100 TB this is why vacuum is a metadata job, not a
    * table scan. Deleting only against the retained-version set is
    * the same reader contract as K17: a reader pinned within
    * retention never loses a file under it.
    *
    * The demo plants all three populations: v1 files (superseded by
    * a compacting rewrite), v2 files (live), and an orphan from a
    * simulated failed writer. The oracle checks the surviving
    * table; the spec pins what it can't see — exactly the
    * unreferenced files died, the live set survives byte-identical.
    */
  def sinkVacuum(spark: SparkSession, dir: String,
                 baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("vacuum"))
    val lake = base + "/lake"
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    orders.repartition(8).write.mode("overwrite").parquet(lake + "/gen1")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    graft.sinks.ManifestStore.publish(spark, base + "/manifest", manifestOf(lake + "/gen1"))
    // compaction rewrite supersedes gen1; commit points at gen2
    ParquetRead(spark, lake + "/gen1").coalesce(2)
      .write.mode("overwrite").parquet(lake + "/gen2")
    graft.sinks.ManifestStore.publish(spark, base + "/manifest", manifestOf(lake + "/gen2"))
    // a failed writer's orphan: on disk, referenced by nothing
    orders.limit(10).coalesce(1).write.mode("overwrite").parquet(lake + "/orphan")
    // vacuum: live = files of the retained (latest) version. Both the
    // manifest entries (input_file_name() renderings) and the disk
    // listing (FileSystem Path renderings) normalize through the SAME
    // representation — new Path(_).toUri — because any divergence
    // between the two (URL-encoding, scheme/authority normalization,
    // non-local FS) would otherwise fail DESTRUCTIVELY: every live
    // file misses the match and gets deleted. The subset guard below
    // turns a residual mismatch into an abort instead of data loss.
    def norm(s: String): String = new Path(s).toUri.toString
    val (_, cur) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val live = cur.select("file").collect().map(r => norm(r.getString(0))).toSet
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(lake), true)
    val onDisk = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) onDisk += f.getPath
    }
    val onDiskSet = onDisk.map(p => norm(p.toUri.toString)).toSet
    require(live.nonEmpty && live.subsetOf(onDiskSet),
      s"vacuum aborted: live set is not a non-empty subset of the disk " +
        s"listing (${live.size} live, ${(live -- onDiskSet).size} unmatched) " +
        "— path-representation mismatch would delete live data")
    val doomed = onDisk.filterNot(p => live.contains(norm(p.toUri.toString)))
    doomed.foreach(p => fs.delete(p, false))
    ParquetRead(spark, live.toSeq: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("vacuumed", lit(doomed.nonEmpty))
      .orderBy("month")
  }

  /** K17: partition-TTL retention — the lakehouse expiry sweep
    * (retention policy / GDPR storage-limitation at PARTITION
    * granularity): the lake is month-partitioned, and expiring
    * everything before the cutoff publishes a new manifest version
    * that simply OMITS the expired partitions' files — surviving
    * files carry by reference, nothing is rewritten, and readers
    * pinned to v1 still see the full history until their version is
    * retention-swept ([[graft.sinks.ManifestStore]]'s contract).
    * This is the complement of K14's row-level targeted erasure:
    * deletion aligned to the partition layout is METADATA-ONLY — the
    * reason time-partitioning is the first schema decision every
    * 100 TB fact table makes. The spec pins the scale property the
    * oracle can't see: v2's files are a strict subset of v1's and no
    * data file is written by the sweep.
    */
  def sinkTtl(spark: SparkSession, dir: String, retainFrom: String = "1997-01",
              baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("ttl"))
    val lake = base + "/lake"
    Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice")
      .write.mode("overwrite").partitionBy("month").parquet(lake)
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      ParquetRead(spark, lake)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"), min("month").as("month")))
    val (_, v1) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      v1.filter(col("month") >= retainFrom))
    val (_, v2) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val survivors = v2.select("file").collect().map(_.getString(0))
    val nV1 = v1.count()
    spark.read.option("basePath", lake).parquet(survivors: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("pruned", lit(survivors.length < nV1))
      .orderBy("month")
  }

  /** P7: diamond-DAG orchestration over real tables — [[graft
    * .pipeline.Dag]] layers a declared dependency graph into
    * topological waves (scan → two independent aggregates → a report
    * that needs both) and runs each wave's tasks concurrently through
    * Flow.parallel. The wave number is a pure function of the
    * declared edges, so (task, wave, value) is deterministic and the
    * oracle replays it straight from the tables. Cycle / unknown-dep
    * / duplicate-name declarations fail at submit time (spec-pinned
    * in Round14Spec) — before any cluster work, the property that
    * distinguishes a DAG scheduler from a task list.
    */
  def pDag(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dag
    val results = Dag.run[Long](Seq(
      Dag.Task("scan", Nil,
        () => Tables.load(spark, dir, "lineitem").count()),
      Dag.Task("orders_agg", Seq("scan"),
        () => Tables.load(spark, dir, "orders").count()),
      Dag.Task("customer_agg", Seq("scan"),
        () => Tables.load(spark, dir, "customer").count()),
      Dag.Task("report", Seq("orders_agg", "customer_agg"),
        () => Tables.load(spark, dir, "orders").count() +
          Tables.load(spark, dir, "customer").count())))
    import spark.implicits._
    results.map(r => (r.name, r.wave, r.value)).toDF("task", "wave", "value")
      .orderBy("wave", "task")
  }

  /** S13: gzip-compressed JSONL ingestion — the wire format web-scale
    * corpora actually arrive in (CommonCrawl derivatives, API export
    * dumps): newline-delimited JSON, gzip per file. Spark reads the
    * codec transparently; the catch worth stating is that gzip is
    * NOT splittable — each .gz file is one task, so parallelism =
    * file count. The mitigation is exactly what the writer side here
    * does (many files from a parallel write); a single fat .gz from
    * an upstream vendor gets recompressed or re-sharded at the edge
    * before anything heavy (S1's parquet conversion). Round-trip
    * verified field-exact: the oracle aggregates the same columns
    * straight from parquet.
    */
  def srcJsonlGz(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("jsonlgz") + "/docs_jsonl"
    Tables.load(spark, dir, "documents")
      .select(to_json(struct(
        col("doc_id"), col("lang"), col("source"), col("n_chars"))).as("value"))
      .write.mode("overwrite").option("compression", "gzip").text(out)
    spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .json(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  /** K23: CHANGE DATA FEED between committed versions — Delta's
    * `table_changes()` surface: given two manifest versions, derive
    * the ROW-LEVEL diff (insert / update pre+post / delete) from the
    * LAKE ALONE — no upstream change log required, which is the point:
    * downstream incremental consumers (T18/T25's view maintenance,
    * E23's CDC apply) subscribe to a table they don't own, and the
    * table's versions are the only contract. The feed is derived by
    * reading both versions' file sets (planned driver-side from
    * manifest rows, K11's metadata-skipping shape) and one full-outer
    * join on the key: v1-only → delete, v2-only → insert, both with
    * different payloads → update with pre/post images.
    *
    * At 100 TB the full-outer is key-partitioned on both sides and
    * the output is change-mass-sized; production formats shortcut
    * further by diffing only files that CHANGED between the versions
    * (carried files cancel — K14/K21's by-reference carry makes the
    * candidate file set small), stated as the scale refinement. The
    * demo's v2 applies deletes (keys ≡ 2 mod 5), updates (≡ 1 mod 5,
    * +100), and inserts (the post-cutoff months); the oracle replays
    * the same derivation from the raw table, so every change row,
    * image, and type sits under the hash.
    */
  def sinkCdf(spark: SparkSession, dir: String, cutoff: String = "1997-01",
              baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("cdf"))
    val lake = base + "/lake"
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select(col("o_orderkey"), col("o_totalprice"), col("month"))
    val v1data = orders.filter(col("month") < cutoff)
    v1data.repartition(4).write.mode("overwrite").parquet(lake + "/gen1")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    graft.sinks.ManifestStore.publish(spark, man, manifestOf(lake + "/gen1"))
    val k5 = col("o_orderkey") % 5
    v1data.filter(k5 =!= 2)
      .withColumn("o_totalprice",
        when(k5 === 1, round(col("o_totalprice") + 100.0, 2))
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("month") >= cutoff))
      .repartition(4).write.mode("overwrite").parquet(lake + "/gen2")
    graft.sinks.ManifestStore.publish(spark, man, manifestOf(lake + "/gen2"))
    tableChanges(spark, man, 1L, 2L)
  }

  /** The K23 reader primitive: row-level changes between two committed
    * manifest versions, derived from the lake alone.
    */
  private[graft] def tableChanges(spark: SparkSession, manifestBase: String,
                                  fromV: Long, toV: Long): DataFrame = {
    def filesOf(v: Long): Array[String] =
      spark.read.json(new Path(new Path(manifestBase), s"manifest_v$v").toString)
        .select("file").collect().map(_.getString(0))
    val pre = ParquetRead(spark, filesOf(fromV): _*)
      .select(col("o_orderkey"), col("o_totalprice").as("pre_price"))
    val post = ParquetRead(spark, filesOf(toV): _*)
      .select(col("o_orderkey"), col("o_totalprice").as("post_price"))
    pre.join(post, Seq("o_orderkey"), "full_outer")
      .withColumn("_change_type",
        when(col("post_price").isNull, "delete")
          .when(col("pre_price").isNull, "insert")
          .when(col("pre_price") =!= col("post_price"), "update")
          .otherwise("unchanged"))
      .filter(col("_change_type") =!= "unchanged")
      .select(col("_change_type"), col("o_orderkey"), col("pre_price"), col("post_price"))
      .orderBy("_change_type", "o_orderkey")
  }

  /** K22: zero-copy SHALLOW CLONE — Delta's dev/test sandbox
    * primitive: a clone is a NEW manifest store whose v1 simply
    * references the source table's live files — no data moves, the
    * clone is a metadata write regardless of table size (at 100 TB
    * the difference between "give the analyst a sandbox" being
    * seconds or a day). Writes then DIVERGE: an append to the clone
    * publishes clone-v2 with its own new files while the source's
    * manifest never changes — and because K18's vacuum deletes only
    * against its OWN store's retained versions, cloning implies a
    * shared-file GC contract (source vacuum must not reap files a
    * live clone references; production formats track this by clone
    * lineage, stated here as the operational caveat).
    *
    * The demo clones the source, appends a delta to the CLONE only,
    * and reads both: the clone sees source ∪ delta, the source is
    * bit-identical to pre-clone. Oracle replays both populations from
    * the raw table; zero-copy (no data file written by the clone
    * step) and source-isolation are spec-pinned.
    */
  def sinkClone(spark: SparkSession, dir: String,
                baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("clone"))
    val srcLake = base + "/src_lake"
    val srcMan = base + "/src_manifest"
    val cloneMan = base + "/clone_manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice")
    orders.filter(col("month") < "1997-01")
      .repartition(4).write.mode("overwrite").parquet(srcLake + "/gen1")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    graft.sinks.ManifestStore.publish(spark, srcMan, manifestOf(srcLake + "/gen1"))
    // CLONE: one metadata publish referencing the source's live files
    val (_, srcV1) = graft.sinks.ManifestStore.current(spark, srcMan)
    graft.sinks.ManifestStore.publish(spark, cloneMan,
      srcV1.select("file", "n_rows"))
    // the clone diverges: an append lands under the CLONE's store only
    val deltaDir = base + "/clone_lake/delta1"
    orders.filter(col("month") >= "1997-01")
      .repartition(2).write.mode("overwrite").parquet(deltaDir)
    val (_, cloneV1) = graft.sinks.ManifestStore.current(spark, cloneMan)
    graft.sinks.ManifestStore.publish(spark, cloneMan,
      cloneV1.select("file", "n_rows").unionByName(manifestOf(deltaDir)))
    val (_, cloneCur) = graft.sinks.ManifestStore.current(spark, cloneMan)
    val cloneFiles = cloneCur.select("file").collect().map(_.getString(0))
    val (_, srcCur) = graft.sinks.ManifestStore.current(spark, srcMan)
    val srcN = ParquetRead(spark,
      srcCur.select("file").collect().map(_.getString(0)): _*).count()
    ParquetRead(spark, cloneFiles: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("source_rows", lit(srcN))
      .orderBy("month")
  }

  /** K21: OPTIMIZE — manifest-aware small-file compaction (Delta
    * OPTIMIZE / Iceberg rewrite_data_files, completing the K8→K11
    * story: K8 compacts a directory blindly; this plans the rewrite
    * from MANIFEST rows and publishes it as a versioned commit).
    * Small files are detected metadata-only (n_rows below threshold
    * in the sidecar — at 100 TB the planner never lists or opens
    * storage); ONLY those files are read and rewritten into few
    * key-sorted replacements, every healthy file carries into the
    * new version by reference, and the swap is one atomic manifest
    * commit — readers pinned to v1 keep the fragmented layout until
    * retention sweeps it (K9's contract), and K18's vacuum later
    * GC's the superseded fragments. Rewrite traffic ∝ fragmented
    * mass, never table size.
    *
    * The demo plants the two populations (one month landed 16-way
    * fragmented, the rest landed healthy), optimizes, and reads back
    * through v2. The oracle checks the data is untouched (rollup ≡
    * raw table); the spec pins the mechanics the oracle can't see —
    * fewer files in v2, healthy files carried verbatim, fragments
    * gone from v2 but alive on disk for v1 readers.
    */
  // threshold separates the planted populations at every testdata SF
  // (fragment shards carry ≤ ~120 rows, healthy halves ≥ ~750); in
  // production this is the target-file-size dial
  def sinkOptimize(spark: SparkSession, dir: String,
                   smallRowThreshold: Long = 500L,
                   baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("optimize"))
    val lake = base + "/lake"
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice")
    // a fragmented landing (one month arrived as 16 shards) next to a
    // healthy one — the mixed layout every long-lived table grows
    orders.filter(col("month") === "1997-01").repartition(16)
      .write.mode("overwrite").parquet(lake + "/frag")
    orders.filter(col("month") =!= "1997-01").repartition(2)
      .write.mode("overwrite").parquet(lake + "/ok")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    graft.sinks.ManifestStore.publish(spark, man,
      manifestOf(lake + "/frag").unionByName(manifestOf(lake + "/ok")))
    // OPTIMIZE: plan from manifest rows only (metadata), rewrite the
    // small set sorted+coalesced, publish carried ∪ compacted
    val (_, v1) = graft.sinks.ManifestStore.current(spark, man)
    val small = v1.filter(col("n_rows") < smallRowThreshold)
      .select("file").collect().map(_.getString(0))
    val kept = v1.filter(col("n_rows") >= smallRowThreshold)
      .select("file", "n_rows")
    // OPTIMIZE over a healthy table is a NO-OP, not a failure: with
    // no file under the threshold (larger SFs push every shard past
    // it, or the caller lowers the dial) there is nothing to rewrite
    // and nothing to publish — v2 stays v1. An empty-list
    // spark.read.parquet would throw UNABLE_TO_INFER_SCHEMA here.
    if (small.nonEmpty) {
      ParquetRead(spark, small: _*)
        .repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(lake + "/compacted")
      graft.sinks.ManifestStore.publish(spark, man,
        kept.unionByName(manifestOf(lake + "/compacted")))
    }
    val (_, v2) = graft.sinks.ManifestStore.current(spark, man)
    val files = v2.select("file").collect().map(_.getString(0))
    ParquetRead(spark, files: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("optimized", lit(files.length < v1.count()))
      .orderBy("month")
  }

  /** S15: XML ingestion — Spark 4's BUILT-IN XML source (the
    * spark-xml package merged into core, SPARK-44265): enterprise
    * feeds (B2B order interchange, config exports, SOAP-era APIs)
    * still arrive as XML, and the rowTag reader turns each element
    * into a row with the same explicit-schema discipline as every
    * other source here (no inference scan). Round-trips a
    * deterministic order feed through the XML writer and back; the
    * oracle aggregates the same rows straight from parquet, so the
    * hash proves the render → XML → parse cycle is field-exact —
    * including the double round-trip, the classic XML-feed hazard.
    */
  def srcXml(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("xml") + "/orders_xml"
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
    spark.read.format("xml")
      .option("rowTag", "order")
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .load(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** S14: multiLine JSON-ARRAY ingestion — the other JSON wire shape
    * (S13's JSONL is line-delimited; REST API exports and config
    * dumps arrive as ONE top-level array `[ {...}, {...} ]`, often
    * pretty-printed across lines). Line-oriented readers silently
    * produce corrupt records on this shape; Spark's `multiLine=true`
    * parses the whole document and yields one row per array element.
    * The trade to state: a multiLine JSON file is NOT splittable —
    * the whole file is one task (the S11/S13 story again), so fat
    * API dumps get exploded to JSONL or parquet at the edge before
    * anything heavy; this operator IS that edge step. The staged
    * array file is assembled deterministically (sorted elements)
    * from the orders slice; the oracle aggregates the same rows
    * straight from parquet, so the hash proves array parsing loses
    * and invents nothing.
    */
  def srcJsonMultiline(spark: SparkSession, dir: String): DataFrame = {
    val base = tmpDir("json_multiline")
    val lines = tmpDir("json_multiline_stage") + "/jsonl"
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 20 === 0)
      .select(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))).as("value"))
      .write.mode("overwrite").text(lines)
    // assemble the single array document (sorted for determinism) —
    // bounded edge-side staging of the demo wire file, not a data path
    val fs = new Path(lines).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val elems = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(new Path(lines), false)
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(f.getPath), java.nio.charset.StandardCharsets.UTF_8))
        var l = in.readLine()
        while (l != null) { if (l.nonEmpty) elems += l; l = in.readLine() }
        in.close()
      }
    }
    val doc = elems.sorted.mkString("[\n  ", ",\n  ", "\n]\n")
    val outFile = new Path(base + "/orders.json")
    val os = fs.create(outFile, true)
    os.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
    spark.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("multiLine", "true")
      .json(base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** S12: fixed-width record ingestion — the mainframe/legacy-feed
    * layout (COBOL copybook shape: no delimiters, fields at byte
    * offsets, zero-padded numerics). Records are rendered
    * deterministically from `orders`, round-tripped through a text
    * file, and re-parsed by POSITION (`substring` + casts, all
    * codegen'd in the scan projection — the same parse shape as
    * S10's regex logs but offset-addressed, which is both faster and
    * the only option when the layout has no separators at all). The
    * oracle projects the same fields straight from parquet, so a
    * hash match proves every field of every record survived the
    * render → fixed-width → parse cycle exactly — including the
    * leading-zero numeric padding that breaks naive `trim`+cast
    * pipelines. Embarrassingly parallel at any scale (fixed-length
    * lines split perfectly).
    */
  def srcFixedWidth(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("fixedw") + "/orders_fw"
    Tables.load(spark, dir, "orders")
      .select(concat(
        lpad(col("o_orderkey").cast("string"), 10, "0"),
        lpad(col("o_custkey").cast("string"), 10, "0"),
        rpad(col("o_orderstatus"), 1, " "),
        lpad(round(col("o_totalprice") * 1e6).cast("long").cast("string"), 14, "0"),
        date_format(col("o_orderdate"), "yyyy-MM-dd")).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(
        substring(col("value"), 1, 10).cast("long").as("o_orderkey"),
        substring(col("value"), 11, 10).cast("long").as("o_custkey"),
        substring(col("value"), 21, 1).as("o_orderstatus"),
        substring(col("value"), 22, 14).cast("long").as("price_micro"),
        substring(col("value"), 36, 10).cast("date").as("d"))
      .orderBy("o_orderkey")
  }

  /** S11: quoted/multiline CSV ingestion — the CSV edge cases that
    * break naive pipelines: fields containing the DELIMITER, embedded
    * DOUBLE QUOTES, and embedded NEWLINES. A note column exercising
    * all three is constructed deterministically, round-tripped
    * through a quoted CSV write and a `multiLine` read, and
    * re-emitted as per-row md5 fingerprints — the oracle rebuilds the
    * same note straight from the parquet table, so a hash match
    * proves every row survived BYTE-EXACT (quoting, escaping, and
    * record-splitting all correct), not just that row counts agree.
    *
    * Scale note, stated because it is the real cost of this format:
    * `multiLine` CSV cannot split files on newlines (a newline may be
    * inside a quoted field), so parallelism degrades to one task per
    * FILE — acceptable here because the writer controls file count;
    * a 100 TB feed of such CSV should be landed as many files, or
    * re-encoded to parquet at the edge (S1) before anything heavy.
    */
  def srcCsvQuoted(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("csvq") + "/orders_quoted"
    val note = concat(
      lit("order \""), col("o_orderkey").cast("string"),
      lit("\", priority, line1\nline2 for cust "),
      col("o_custkey").cast("string"))
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        note.as("note"))
      .write.mode("overwrite")
      .option("header", true).option("escape", "\"")
      .csv(out)
    spark.read
      .option("header", true).option("multiLine", true).option("escape", "\"")
      .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, note STRING")
      .csv(out)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        md5(col("note")).as("note_md5"),
        length(col("note")).cast("long").as("note_len"))
      .orderBy("o_orderkey")
  }

  /** S10: regex-structured log ingestion — access-log lines, the
    * rawest shape a lake ingests, parsed into typed columns with
    * `regexp_extract` evaluated inside the scan projection (no UDF,
    * codegen'd). Lines are rendered deterministically from `events`,
    * round-tripped through text files, and re-parsed; the oracle
    * computes the same aggregate straight from the parquet table, so
    * a hash match proves FIELD-EXACT parsing of every line (string,
    * int, and long fields all survive). At 100 TB the parse is
    * embarrassingly parallel (newline-split text), and malformed
    * lines surface as nulls/empties filterable into a quarantine —
    * S7's contract for text feeds.
    */
  def srcLogs(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("logs") + "/access_log"
    Tables.load(spark, dir, "events")
      .select(concat(
        lit("10.0."), (col("user_id") % 256).cast("string"), lit(".1 - u"),
        col("user_id").cast("string"),
        lit(" ["), expr("ts_ns div 1000000000").cast("string"),
        lit("] \"GET /t/"), col("event_type"), lit(" HTTP/1.1\" "),
        (lit(200) + when(col("event_id") % 20 === 0, 204).otherwise(0)).cast("string"),
        lit(" "), (col("event_id") % 997).cast("string")).as("value"))
      .write.mode("overwrite").text(out)
    val re = "^(\\S+) - (\\S+) \\[(\\d+)\\] \"(\\S+) (\\S+) HTTP/1\\.1\" (\\d+) (\\d+)$"
    spark.read.text(out)
      .select(
        regexp_extract(col("value"), re, 5).as("path"),
        regexp_extract(col("value"), re, 6).cast("int").as("status"),
        regexp_extract(col("value"), re, 7).cast("long").as("bytes"),
        regexp_extract(col("value"), re, 3).cast("long").as("epoch_s"))
      .groupBy("path", "status")
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"),
        min("epoch_s").as("min_ts_s"), max("epoch_s").as("max_ts_s"))
      .orderBy("path", "status")
  }

  /** Q45: dynamic partition pruning — the run-time half of partition
    * pruning: the fact lake is hive-partitioned by ship month, and the
    * selective filter lives on a DIMENSION attribute (quarter), so no
    * static rule can know which fact partitions matter at plan time.
    * Catalyst's DPP plants the broadcast dim's join keys as a runtime
    * `dynamicpruning` subquery INSIDE the fact scan's partition
    * filters: the scan lists only the months the filtered dim
    * actually produced — at 100 TB that is the difference between
    * reading 3 month-partitions and reading 84 (the star-schema
    * pattern every warehouse fact query depends on). The spec pins
    * the plan shape (`dynamicpruning#` present in the scan's
    * PartitionFilters), not just the answer; the oracle replays the
    * join from raw tables, proving pruning dropped no rows.
    */
  def qDpp(spark: SparkSession, dir: String): DataFrame = {
    val lake = tmpDir("dpp") + "/lineitem_by_month"
    Tables.load(spark, dir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .select("ship_month", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").partitionBy("ship_month").parquet(lake)
    // the dim comes from an INDEPENDENT table (orders), carrying the
    // attribute the user filters on — the join key is only discovered
    // by running the dim query, which is exactly what DPP exploits
    val dim = Tables.load(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()
      .withColumn("yr", substring(col("ship_month"), 1, 4))
      .withColumn("q", substring(col("ship_month"), 6, 2))
      .filter(col("yr") === "1996" && col("q").isin("01", "02", "03"))
      .select("ship_month")
    ParquetRead(spark, lake)
      .join(broadcast(dim), "ship_month")
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("total"))
      .orderBy("ship_month")
  }

  /** T25: incremental JOIN maintenance — the materialized-view rung
    * past T18's aggregate-only rollup: keep `orders ⋈ customer`
    * materialized while BOTH sides receive deltas, without re-joining
    * the full tables. The delta algebra for disjoint appends
    * (A∪ΔA)⋈(B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB: the first term is
    * the STORED view read back from parquet (the one expensive join,
    * paid once), the three delta terms each probe only delta-sized
    * input against the other side — at 100 TB a daily delta is ~0.1%
    * of the fact table, so refresh work is ∝ |Δ|·matches, not |A⋈B|
    * (the view-maintenance result of Blakeley et al., and what every
    * lakehouse "incremental model" (dbt) does under the hood). The
    * dimension-side probes broadcast; a fact-side probe at scale rides
    * the base table's bucketing (K6) so nothing reshuffles. Output:
    * the refreshed view aggregated per nation — the oracle joins the
    * FULL tables from scratch, so a hash match proves the four-term
    * union IS the join, deltas double- and dropped-row-free.
    */
  def tIncrJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select("o_custkey", "o_totalprice", "o_orderkey")
    val cust = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    // disjoint splits standing in for "yesterday's table + today's feed"
    val (oldO, newO) = (orders.filter(col("o_orderkey") % 5 =!= 0),
      orders.filter(col("o_orderkey") % 5 === 0))
    val (oldC, newC) = (cust.filter(col("c_custkey") % 7 =!= 0),
      cust.filter(col("c_custkey") % 7 === 0))
    def joined(o: DataFrame, c: DataFrame) =
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select("c_nationkey", "o_totalprice")
    // day 1: the full base join is computed once and STORED
    val stored = tmpDir("incr_join") + "/mv"
    joined(oldO, oldC).write.mode("overwrite").parquet(stored)
    // day 2: three delta-sized joins refresh the view — the stored
    // term is a parquet read-back, never recomputed
    val refreshed = ParquetRead(spark, stored)
      .unionByName(joined(newO, oldC))
      .unionByName(joined(oldO, newC))
      .unionByName(joined(newO, newC))
    refreshed.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_nationkey")
  }

  /** T26: referential-integrity audit — the FK health check a
    * warehouse load runs before anything joins: for every declared
    * child→parent edge of the schema graph, count orphans (child keys
    * with no parent row) and parent coverage (how many parent keys are
    * actually referenced). TPC-H testdata is intact by construction,
    * so a deterministic corrupted slice (child rows replayed with
    * NEGATED keys — keys that can never exist) is injected into each
    * child first; the oracle replays the same injection, so the
    * orphan counts are hash-checked, not vacuously zero.
    *
    * Scale shape: one LEFT JOIN + one aggregate per FK — dimension
    * parents broadcast, the one fact-sized parent (orders under
    * lineitem) hash-joins on its natural key; everything map-side
    * combines to a single row per FK. No distinct on the child side:
    * orphan and coverage counts come out of the same join pass.
    */
  def dqFk(spark: SparkSession, dir: String): DataFrame = {
    def audit(fk: String, child: DataFrame, parent: DataFrame,
              small: Boolean): DataFrame = {
      val p = parent.toDF("pk")
      val joined = child.toDF("k")
        .join(if (small) broadcast(p) else p, col("k") === col("pk"), "left")
      joined.agg(
          count(lit(1)).as("n_child"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphan"),
          countDistinct(col("pk")).as("n_ref_parent"))
        .crossJoin(p.agg(count(lit(1)).as("n_parent")))
        .select(lit(fk).as("fk"), col("n_child"), col("n_orphan"),
          col("n_parent"), col("n_ref_parent"))
    }
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    // the corrupted slice: every 1000th row re-lands with its FK made
    // strictly negative (-(k+1): keys start at 0, so a plain negation
    // of key 0 would collide with a real parent)
    def inject(df: DataFrame, key: String, pick: org.apache.spark.sql.Column) =
      df.select(col(key)).unionByName(
        df.filter(pick).select((-(col(key) + 1)).as(key)))
    val audits = Seq(
      audit("orders.o_custkey->customer",
        inject(orders, "o_custkey", col("o_orderkey") % 1000 === 1),
        Tables.load(spark, dir, "customer").select("c_custkey"), small = true),
      audit("lineitem.l_orderkey->orders",
        inject(lineitem, "l_orderkey", col("l_orderkey") % 1000 === 1),
        orders.select("o_orderkey"), small = false),
      audit("lineitem.l_partkey->part",
        inject(lineitem, "l_partkey", col("l_orderkey") % 1000 === 1),
        Tables.load(spark, dir, "part").select("p_partkey"), small = true),
      audit("lineitem.l_suppkey->supplier",
        inject(lineitem, "l_suppkey", col("l_orderkey") % 1000 === 1),
        Tables.load(spark, dir, "supplier").select("s_suppkey"), small = true))
    audits.reduce(_ unionByName _).orderBy("fk")
  }

  /** K16: write-audit-publish — the blue-green deploy of data: a
    * candidate batch is STAGED invisibly, a DQ audit runs against the
    * staged copy, and only a passing batch is atomically published as
    * the next readable version; a failing batch leaves no trace a
    * reader can observe (the Iceberg WAP / staging-branch pattern,
    * and the missing half of T10's gate — which flags rows but has no
    * publish protocol to withhold).
    *
    * Flow here: v1 publishes clean; a second candidate arrives with
    * planted violations (every 500th key's price negated, one null
    * status) — its audit counts violations against the STAGED parquet
    * (never the live table), fails, and the candidate is discarded
    * with the manifest still at v1; the corrected batch re-stages,
    * passes, and publishes v2. Readers flip v1→v2 atomically via the
    * ManifestStore rename commit and can never see the bad batch —
    * at 100 TB the audit costs one scan of the candidate (not the
    * table) and a bad nightly load costs zero reader-visible
    * downtime. Output: one row per stage with the audit verdict and
    * the version the stage left current — all replayed arithmetically
    * by the oracle, so the protocol's outcome (not just its
    * bookkeeping) is hash-checked.
    */
  def sinkWap(spark: SparkSession, dir: String,
              baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("wap"))
    val manifestDir = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def audit(staged: DataFrame) = staged.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= 0 || col("o_orderstatus").isNull, 1L)
          .otherwise(0L)).as("n_bad"))
      .collect().head
    // every recorded value is the protocol's ACTUAL outcome (audit
    // result, did-publish, version visible to readers after the
    // stage), not a narration — the oracle replays what SHOULD have
    // happened, so a protocol bug (publishing a failing batch,
    // version drift) breaks the hash
    def stage(name: String, batch: DataFrame): (Long, Long, Boolean, Long) = {
      val path = s"$base/staged_$name"
      batch.write.mode("overwrite").parquet(path)
      val a = audit(ParquetRead(spark, path))
      val (n, bad) = (a.getLong(0), a.getLong(1))
      if (bad == 0L) {
        import spark.implicits._
        graft.sinks.ManifestStore.publish(spark, manifestDir,
          Seq((path, n)).toDF("path", "n_rows"))
      }
      val visible = graft.sinks.ManifestStore.versions(spark, manifestDir)
        .lastOption.getOrElse(0L)
      (n, bad, bad == 0L, visible)
    }
    val s1 = stage("v1", orders)
    // the corrupted nightly load: every 7th key's price negated
    val corrupt = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 7 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    val s2 = stage("candidate", corrupt)
    val s3 = stage("fixed",
      corrupt.filter(col("o_totalprice") > 0 && col("o_orderstatus").isNotNull))
    val (_, cur) = graft.sinks.ManifestStore.current(spark, manifestDir)
    val liveRows = ParquetRead(spark,
      cur.select("path").collect().head.getString(0)).count()
    import spark.implicits._
    Seq(("1_publish_clean", s1), ("2_reject_corrupt", s2),
        ("3_publish_fixed", s3))
      .map { case (st, (n, bad, pub, ver)) => (st, n, bad, pub, ver) }
      .toDF("stage", "n_rows", "n_violations", "published", "current_version")
      .withColumn("live_rows", lit(liveRows))
      .orderBy("stage")
  }

  /** K38: BRANCHES and TAGS on the manifest lake — the Iceberg ref
    * system over [[graft.sinks.ManifestStore]]'s version history via
    * [[graft.sinks.RefStore]]: a branch is a mutable name→version
    * pointer, a tag an immutable one, and because every manifest
    * version is a complete snapshot, reading a ref IS reading the
    * manifest at its head — so branch creation, audit-branch commits,
    * rollback, fast-forward publish and release pinning are all
    * O(refs) metadata commits that never move a data file.
    *
    * The flow runs K16's write-audit-publish AS a branch workflow
    * (the Iceberg-documented WAP successor): main is created at v1
    * and tagged `release`; an `audit` branch forks from main; a
    * corrupted candidate COMMITS on the branch (v2 — real commit,
    * reader-visible through the branch ref, exactly how a human
    * audits a staged load), the audit reads THROUGH the branch, finds
    * the planted violations and ROLLS THE BRANCH BACK (a ref flip —
    * main never saw anything); the fixed batch commits (v3), passes,
    * and publishing is a fast-forward of main's ref to the branch
    * head. The `release` tag still pins v1 after main moves — the
    * reproducibility contract tags exist for. Every output value is
    * a protocol ACTUAL (ref resolution, rows read through the ref),
    * so the oracle's arithmetic replay hash-checks the semantics:
    * branch isolation, rollback invisibility, fast-forward identity,
    * tag pinning.
    */
  def sinkBranch(spark: SparkSession, dir: String,
                 baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("branch"))
    val versionsDir = base + "/versions"
    val refsDir = base + "/refs"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def commitSnapshot(name: String, df: DataFrame): Long = {
      val path = s"$base/data/$name"
      df.write.mode("overwrite").parquet(path)
      val files = ParquetRead(spark, path)
        .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n_rows"))
      graft.sinks.ManifestStore.publish(spark, versionsDir, files)
    }
    def readRef(name: String): DataFrame = {
      val (_, v) = graft.sinks.RefStore.resolve(spark, refsDir, name)
      val (_, man) = graft.sinks.ManifestStore.at(spark, versionsDir, Some(v))
      ParquetRead(spark, man.select("file").collect().map(_.getString(0)): _*)
    }
    def refVersion(name: String): Long =
      graft.sinks.RefStore.resolve(spark, refsDir, name)._2

    val v1 = commitSnapshot("full", orders)
    graft.sinks.RefStore.set(spark, refsDir, "main", "branch", v1)
    graft.sinks.RefStore.set(spark, refsDir, "release", "tag", v1)
    graft.sinks.RefStore.set(spark, refsDir, "audit", "branch",
      refVersion("main"))
    val step3 = ("3_create_branch", "audit", "branch", refVersion("audit"), 0L,
      readRef("audit").count(), readRef("main").count())
    // the corrupted nightly load COMMITS on the branch (every 7th
    // key's price negated) — visible through `audit`, never `main`
    val corrupt = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 7 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    val v2 = commitSnapshot("candidate", corrupt)
    graft.sinks.RefStore.set(spark, refsDir, "audit", "branch", v2)
    val nBad = readRef("audit")
      .filter(col("o_totalprice") <= 0 || col("o_orderstatus").isNull).count()
    // audit failed → roll the BRANCH back to main's head (a ref flip;
    // v2 stays in the version store, unreachable from any ref)
    graft.sinks.RefStore.set(spark, refsDir, "audit", "branch",
      refVersion("main"))
    val step4 = ("4_reject_candidate", "audit", "branch", refVersion("audit"),
      nBad, readRef("audit").count(), readRef("main").count())
    val fixed = corrupt
      .filter(col("o_totalprice") > 0 && col("o_orderstatus").isNotNull)
    val v3 = commitSnapshot("fixed", fixed)
    graft.sinks.RefStore.set(spark, refsDir, "audit", "branch", v3)
    val nBadFixed = readRef("audit")
      .filter(col("o_totalprice") <= 0 || col("o_orderstatus").isNull).count()
    // audit passed → publish = fast-forward main to the branch head
    if (nBadFixed == 0L)
      graft.sinks.RefStore.set(spark, refsDir, "main", "branch",
        refVersion("audit"))
    val step5 = ("5_publish_main", "main", "branch", refVersion("main"),
      nBadFixed, readRef("main").count(), readRef("main").count())
    val step6 = ("6_tag_pinned", "release", "tag", refVersion("release"), 0L,
      readRef("release").count(), readRef("main").count())
    val step1 = ("1_create_main", "main", "branch", v1, 0L,
      step3._6, step3._6)
    val step2 = ("2_tag_release", "release", "tag", v1, 0L,
      step3._6, step3._6)
    import spark.implicits._
    Seq(step1, step2, step3, step4, step5, step6)
      .toDF("step", "ref_name", "kind", "at_version", "n_bad",
        "ref_rows", "main_rows")
      .orderBy("step")
  }

  /** K25: MULTI-TABLE atomic transaction — one commit spanning two
    * tables, the catalog-level ACID that single-table formats
    * (classic Delta) cannot express and catalog-versioned ones
    * (Iceberg REST / Nessie, LakeFS) exist for: a rollup pair that
    * must agree (both partition the same fact set) is published by
    * ONE catalog manifest listing BOTH tables' complete file lists,
    * so readers see the pair flip together or not at all — there is
    * no window where table A is new and table B old.
    *
    * Mechanics: data files stage under per-transaction directories
    * (invisible — readers resolve files only through the committed
    * catalog manifest), and commit is [[graft.sinks.ManifestStore]]'s
    * single atomic rename. The demo runs the full failure story:
    * txn 1 commits both tables over half the facts; a CRASHED writer
    * stages full-data files for ONE table and dies before the
    * catalog publish (its files stay orphaned on disk, never
    * readable); txn 2 commits both tables over the full facts. The
    * output reads back through the final catalog version and carries
    * the cross-table invariant (grand counts and micro totals equal
    * across the pair) — if the half-transaction had leaked, the
    * hashes break. At 100 TB the catalog manifest is table-count ×
    * file-count rows of metadata; data files never rewrite for the
    * commit itself.
    */
  def sinkTxn(spark: SparkSession, dir: String,
              baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("txn"))
    val catalog = base + "/catalog"
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
    def monthly(src: DataFrame) = src
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("g"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 1e6).cast("long")).as("total_micro"))
    def byPriority(src: DataFrame) = src
      .groupBy(col("o_orderpriority").as("g"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 1e6).cast("long")).as("total_micro"))
    // stage a table's files for a transaction (the write is eager;
    // visibility waits for the catalog commit) and return its
    // catalog-manifest rows
    def stageFiles(txn: String, table: String, df: DataFrame): DataFrame = {
      val path = s"$base/lake/$table/$txn"
      df.write.mode("overwrite").parquet(path)
      ParquetRead(spark, path)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(table).as("table"), col("file"), col("n_rows"))
    }
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    // txn 1: both tables over half the facts — ONE commit
    graft.sinks.ManifestStore.publish(spark, catalog,
      stageFiles("txn1", "orders_monthly", monthly(half))
        .unionByName(stageFiles("txn1", "orders_by_priority", byPriority(half))))
    // the crashed writer: full-data files staged for ONE table, death
    // before the catalog publish — a reader must never see this
    stageFiles("txn_crashed", "orders_monthly", monthly(orders))
    // txn 2: both tables over the full facts — ONE commit
    val v2 = graft.sinks.ManifestStore.publish(spark, catalog,
      stageFiles("txn2", "orders_monthly", monthly(orders))
        .unionByName(stageFiles("txn2", "orders_by_priority", byPriority(orders))))
    val (ver, cat) = graft.sinks.ManifestStore.current(spark, catalog)
    require(ver == v2, s"catalog head $ver != committed $v2")
    def summary(table: String): DataFrame = {
      val files = cat.filter(col("table") === table)
        .select("file").collect().map(_.getString(0))
      ParquetRead(spark, files: _*)
        .agg(count(lit(1)).as("n_groups"),
          sum("n").as("grand_n"),
          sum(col("total_micro").cast("decimal(38,0)")).cast("long")
            .as("grand_total_micro"))
        .select(lit(table).as("tbl"), col("n_groups"), col("grand_n"),
          col("grand_total_micro"))
    }
    // the pair is 2 rows: collect once and rebuild locally instead of
    // localCheckpoint (whose persisted RDD a returned-lazy frame could
    // never free — the graph shared-cache leak class)
    val Array(r1, r2) = summary("orders_monthly")
      .unionByName(summary("orders_by_priority")).orderBy("tbl").collect()
    val consistent = r1.getLong(2) == r2.getLong(2) && r1.getLong(3) == r2.getLong(3)
    import spark.implicits._
    Seq(r1, r2).map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("tbl", "n_groups", "grand_n", "grand_total_micro")
      .withColumn("catalog_version", lit(ver))
      .withColumn("consistent", lit(consistent))
      .orderBy("tbl")
  }

  /** P6: dirty-partition incremental recompute — the "make for data"
    * contract behind dbt incremental models and every sane nightly
    * build: each output partition records a FINGERPRINT of its input
    * slice (an order-independent sum of per-row hashes — one
    * aggregate, no row comparison), and a rebuild recomputes ONLY
    * partitions whose current input fingerprint differs from the
    * manifest's, carrying every clean partition forward by reference.
    * Here one month of orders is modified between builds: the v2
    * build fingerprints the new source (one cheap pass), finds
    * exactly that month dirty, recomputes its aggregate from a scan
    * FILTERED to the dirty months (partition-pruned on a partitioned
    * source), and re-publishes everything else untouched — at 100 TB
    * a late-arriving correction to one day reprocesses one day, and
    * the fingerprint pass is the only full read. Versions publish
    * through the ManifestStore's atomic commit; the manifest records
    * which build produced each partition, so the spec can pin
    * "exactly one month was recomputed". Oracle: the modified source
    * aggregated from scratch — carry-forward bugs (stale or doubled
    * partitions) break the hash.
    */
  def pDirtyPartitions(spark: SparkSession, dir: String,
                       baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("dirty"))
    val monthCol = date_format(col("o_orderdate"), "yyyy-MM").as("month")
    val srcA = Tables.load(spark, dir, "orders")
      .select(monthCol, col("o_orderkey"), col("o_totalprice"))
    // the between-builds change: one month's prices corrected +100
    val srcB = srcA.withColumn("o_totalprice",
      when(col("month") === "1996-03", col("o_totalprice") + 100.0)
        .otherwise(col("o_totalprice")))
    // fingerprint + build in ONE aggregate: order-independent sum of
    // per-row hashes rides alongside the partition's real aggregate
    def build(src: DataFrame, version: Long) = src.groupBy("month")
      .agg(sum(xxhash64(col("o_orderkey"), col("o_totalprice"))
        .cast("decimal(38,0)")).as("fp"),
        count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("version_built", lit(version))
    graft.sinks.ManifestStore.publish(spark, base + "/manifest", build(srcA, 1L))
    // v2: fingerprint the new source, diff against the manifest
    val (_, v1) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val fpB = srcB.groupBy("month")
      .agg(sum(xxhash64(col("o_orderkey"), col("o_totalprice"))
        .cast("decimal(38,0)")).as("fp_new"))
    val dirty = fpB.join(v1.select(col("month"), col("fp")), Seq("month"), "left")
      .filter(col("fp").isNull || col("fp") =!= col("fp_new"))
      .select("month").collect().map(_.getString(0))
    val rebuilt = build(srcB.filter(col("month").isin(dirty: _*)), 2L)
    val carried = v1.filter(!col("month").isin(dirty: _*))
      .select("month", "fp", "n", "total", "version_built")
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      carried.unionByName(rebuilt))
    val (_, v2) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    v2.select(col("month"), col("n"), col("total"))
      .orderBy("month")
  }

  /** S7: corrupt-tolerant JSONL ingestion — real feeds carry broken
    * lines, and a 100 TB load must quarantine them, not die. Every 7th
    * record is truncated mid-object before the write; the PERMISSIVE
    * read with an explicit schema + `_corrupt_record` routes bad lines
    * to the quarantine column and parses the rest. The oracle computes
    * the same good/bad split from the source table arithmetic — a match
    * proves no good row was dropped and no bad row leaked through.
    * (Explicit schema also means NO inference scan — one pass at scale.)
    */
  def srcJsonlCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = tmpDir("jsonl") + "/orders_jsonl"
    Tables.load(spark, dir, "orders")
      .select(to_json(struct(col("o_orderkey"), col("o_totalprice"))).as("line"),
        col("o_orderkey"))
      .select(when(col("o_orderkey") % 7 === 0, substring(col("line"), 1, 20))
        .otherwise(col("line")).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .agg(
        count(col("o_orderkey")).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        round(sum("o_totalprice"), 2).as("total_good"))
  }

  /** T21: schema-contract gate — the ingest check that runs BEFORE any
    * row is read: diff the arriving feed's schema against the declared
    * contract and report per-column verdicts (ok / missing /
    * unexpected / type_mismatch) so a drifted upstream fails loudly at
    * the gate instead of as nulls or corrupt casts mid-pipeline (the
    * value-level rules in T10 assume the shape already matched). Pure
    * metadata: one footer read, zero data scanned at any corpus size.
    * The demo contract deliberately drifts from the feed — a declared
    * column the feed lacks, an undeclared column it carries, one type
    * change — so every verdict class is exercised, never vacuous.
    */
  def dqSchemaContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val contract = Seq(
      ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
      ("o_orderstatus", "string"), ("o_totalprice", "decimal(12,2)"),
      ("o_orderdate", "timestamp"), ("o_channel", "string"))
      .toDF("column", "expected")
    val actual = ParquetRead(spark, Tables.path(dir, "orders")).schema
      // ntz and ltz both arrive as plain TIMESTAMP through the oracle's
      // reader — normalize so the contract compares the logical type
      .map(f => (f.name, f.dataType.simpleString.replace("timestamp_ntz", "timestamp")))
      .toSeq.toDF("column", "actual")
    contract.join(actual, Seq("column"), "full_outer")
      .withColumn("verdict",
        when(col("expected").isNull, lit("unexpected"))
          .when(col("actual").isNull, lit("missing"))
          .when(col("expected") === col("actual"), lit("ok"))
          .otherwise(lit("type_mismatch")))
      .orderBy("column")
  }

  /** P4: concurrent independent flow branches — three unrelated table
    * summaries submitted simultaneously through [[graft.pipeline.Flow.parallel]]
    * (the reference's concurrent task runner): each branch's jobs
    * interleave in the one shared application instead of queueing
    * back-to-back. Results assemble in declaration order, so the
    * output (and its oracle) is deterministic even though completion
    * order is not.
    */
  def pParallel(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Flow
    def summarize(table: String, groupExpr: org.apache.spark.sql.Column): (Long, Long) = {
      val r = Tables.load(spark, dir, table)
        .agg(countDistinct(groupExpr).as("g"), count(lit(1)).as("n"))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    // ONE list carries both the label and the work — output labels
    // cannot drift from task order
    val branches: Seq[(String, () => (Long, Long))] = Seq(
      ("events", () => summarize("events", col("event_type"))),
      ("lineitem", () => summarize("lineitem", col("l_returnflag"))),
      ("orders", () => summarize("orders", date_format(col("o_orderdate"), "yyyy-MM"))))
    val results = Flow.parallel(branches.map { case (b, f) => (s"${b}_summary", f) })
    import spark.implicits._
    branches.map(_._1).zip(results)
      .map { case (b, (g, n)) => (b, g, n) }
      .toDF("branch", "n_groups", "n_rows")
      .orderBy("branch")
  }

  /** K11: manifest-backed datalake write + manifest-pruned read — the
    * metadata half of a lakehouse table format: K10's sort-clustered
    * write makes file key ranges non-overlapping, and a MANIFEST
    * sidecar (per-file min/max/rows, built in ONE read-back aggregate
    * on `input_file_name`) lets a reader plan the file list
    * driver-side from manifest rows alone. At 100 TB the expensive
    * part of a selective scan is LISTING and footer-reading a million
    * files, not reading the survivors — manifest pruning is why
    * Delta/Iceberg readers don't touch storage to plan. The output
    * proves both halves: the range query's result (oracle-checked
    * against the raw table) and that pruning actually skipped files.
    *
    * The manifest publishes through [[graft.sinks.ManifestStore]]'s
    * atomic temp-write + rename commit, so a reader pinned to a
    * committed version can never see a partial file list under
    * concurrent publish (the race is spec-exercised in Round8Spec).
    */
  def sinkManifest(spark: SparkSession, dir: String,
                   lo: Long = 1000, hi: Long = 5000): DataFrame = {
    val base = tmpDir("manifest")
    val lake = base + "/lake"
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(lake)
    graft.sinks.ManifestStore.publish(spark, base + "/manifest",
      ParquetRead(spark, lake)
        .groupBy(input_file_name().as("file"))
        .agg(min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          count(lit(1)).as("n_rows")))
    val (_, manifest) = graft.sinks.ManifestStore.current(spark, base + "/manifest")
    val wanted = manifest
      .filter(col("max_key") >= lo && col("min_key") <= hi)
      .select("file").collect().map(_.getString(0))
    val filesTotal = manifest.count()
    // only intersecting files are opened; the residual predicate still
    // applies inside them (manifest bounds are per-file, not per-row).
    // Zero intersecting files is a legitimate outcome (range outside
    // the table) — answer from the manifest alone, opening nothing.
    val hit =
      if (wanted.isEmpty)
        spark.range(1).select(lit(0L).as("n"),
          lit(null).cast("double").as("total"))
      else
        ParquetRead(spark, wanted: _*)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    // file split boundaries are an execution detail — the oracle-stable
    // facts are the query result and THAT files were skipped
    hit.select(col("n"), col("total"),
      lit(wanted.length < filesTotal).as("pruned"))
  }

  /** K20: dynamic partition overwrite — the idempotent-backfill
    * primitive (Hive/Spark `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic`, Delta's `replaceWhere`): a
    * corrected re-land of ONE month replaces exactly that month's
    * partition directory and touches nothing else, so re-running a
    * backfill job is idempotent and concurrent months never
    * interfere. Static overwrite mode would TRUNCATE THE WHOLE TABLE
    * before writing the one month — the classic production data-loss
    * foot-gun this mode exists to prevent, and the reason the setting
    * is scoped to the write and restored after. At 100 TB this is how
    * every partition-aligned recompute publishes (P6's dirty-partition
    * planner decides WHICH partitions; this is the write contract that
    * lands them).
    *
    * The demo: full month-partitioned load, then month `fixMonth`
    * re-lands with a +10 price correction via dynamic overwrite. The
    * oracle replays load + correction from the raw table; the spec
    * pins what the oracle can't see — untouched partitions' FILES are
    * byte-identical (not rewritten), the fixed month's files are
    * replaced.
    */
  def sinkDynamicOverwrite(spark: SparkSession, dir: String,
                           fixMonth: String = "1997-03",
                           baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("dyn_overwrite"))
    val lake = base + "/lake"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice")
    orders.write.mode("overwrite").partitionBy("month").parquet(lake)
    GraftSession.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      orders.filter(col("month") === fixMonth)
        .withColumn("o_totalprice", round(col("o_totalprice") + 10.0, 2))
        .write.mode("overwrite").partitionBy("month").parquet(lake)
    }
    ParquetRead(spark, lake)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("corrected", col("month") === fixMonth)
      .orderBy("month")
  }

  /** K19: WRITE-side schema evolution through the manifest commit —
    * the first drift a production feed causes: a batch arrives with an
    * ADDED column. Read-side `mergeSchema` (S5) can union footers, but
    * a lake needs the schema to be a VERSIONED, committed fact: here
    * every manifest row carries its file's schema version, the
    * table-level schema (as DDL) rides the manifest, and an appending
    * batch whose schema is an additive superset evolves the table
    * schema atomically inside the SAME [[graft.sinks.ManifestStore]]
    * rename-commit that publishes its files — old files carry by
    * reference (never rewritten), and readers plan the evolved schema
    * DRIVER-SIDE from manifest metadata, null-filling missing columns
    * via `spark.read.schema(evolved)` with zero footer scans (the
    * Delta/Iceberg `mergeSchema`-on-write rung; column renames/maps
    * are the next rung up, out of scope and stated). A batch whose
    * shared columns CHANGE TYPE is rejected at submit time and
    * publishes nothing — drift that can't null-fill must fail the
    * writer, not corrupt the readers (spec-pinned, with the
    * no-rewrite and pinned-old-version contracts).
    *
    * Output: channel-level rollup over the evolved read — the
    * pre-evolution files surface the added column as null, and the
    * oracle replays both batches (null channel for batch 1) from the
    * raw table, so the evolve-then-read cycle is value-exact.
    */
  def sinkSchemaEvolve(spark: SparkSession, dir: String,
                       cutoff: String = "1997-01",
                       baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("schema_evolve"))
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    // batch 1: the original feed schema
    evolveAppend(spark, base + "/lake/batch1", man,
      orders.filter(col("month") < cutoff).select("o_orderkey", "o_totalprice"))
    // batch 2: the same feed after upstream drift — one added column
    evolveAppend(spark, base + "/lake/batch2", man,
      orders.filter(col("month") >= cutoff)
        .select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_orderkey") % 3 === 0, "web").otherwise("store").as("channel")))
    val (_, cur) = graft.sinks.ManifestStore.current(spark, man)
    val rows = cur.select("file", "schema_version", "ddl").collect()
    val evolvedDdl = rows.maxBy(_.getLong(1)).getString(2)
    val files = rows.map(_.getString(0))
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(evolvedDdl))
      .parquet(files: _*)
      .groupBy(coalesce(col("channel"), lit("pre_evolution")).as("channel"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("evolved", lit(rows.map(_.getLong(1)).max > 1L))
      .orderBy("channel")
  }

  /** The K19 writer primitive (E30's streaming sink reuses it): stage
    * `batch` under its own directory, then publish ONE atomic manifest
    * version whose rows are the previous version's files BY REFERENCE
    * plus the new batch's files. Schema rule: identical → same
    * schema_version; additive superset / subset on shared-type columns
    * → schema_version + 1 with the union DDL; any shared-column TYPE
    * conflict → IllegalArgumentException BEFORE anything publishes.
    * Returns the committed manifest version.
    */
  private[graft] def evolveAppend(spark: SparkSession, batchDir: String,
                                  manifestBase: String,
                                  batch: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.types.StructType
    batch.write.mode("overwrite").parquet(batchDir)
    val onDisk = ParquetRead(spark, batchDir)
    val incoming = onDisk.schema
    val prev = graft.sinks.ManifestStore.versions(spark, manifestBase).lastOption
      .map(_ => graft.sinks.ManifestStore.current(spark, manifestBase)._2)
    val (schemaV, ddl) = prev match {
      case None => (1L, incoming.toDDL)
      case Some(cur) =>
        val rows = cur.select("schema_version", "ddl").collect()
        val curV = rows.map(_.getLong(0)).max
        val curSchema = StructType.fromDDL(
          rows.find(_.getLong(0) == curV).get.getString(1))
        val conflicts = curSchema.flatMap { f =>
          incoming.find(_.name == f.name).collect {
            case g if g.dataType != f.dataType =>
              s"${f.name}: ${f.dataType.simpleString} -> ${g.dataType.simpleString}"
          }
        }
        require(conflicts.isEmpty,
          s"schema evolution rejected — type conflicts on shared columns: " +
            conflicts.mkString(", "))
        val added = incoming.filterNot(f => curSchema.exists(_.name == f.name))
        // no NEW columns → no evolution (a batch missing lake columns
        // is fine as-is: the evolved-schema read null-fills them)
        if (added.isEmpty) (curV, curSchema.toDDL)
        else (curV + 1, StructType(curSchema.fields ++ added).toDDL)
    }
    val newRows = onDisk
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("schema_version", lit(schemaV))
      .withColumn("ddl", lit(ddl))
    val manifest = prev match {
      case None => newRows
      case Some(cur) =>
        // carried files keep THEIR schema_version/ddl — a reader
        // pinned to an old version (K9's contract) sees its exact
        // schema; only the table-level max row set evolves
        cur.select("file", "n_rows", "schema_version", "ddl").unionByName(newRows)
    }
    graft.sinks.ManifestStore.publish(spark, manifestBase, manifest)
  }

  /** T18: incremental aggregate maintenance — keep a monthly revenue
    * rollup current as batches land WITHOUT rescanning history: the
    * stored rollup holds MERGEABLE partials (count + raw double sum —
    * rounding only at presentation, so merge never compounds rounding),
    * a new batch aggregates only its own rows, and the refresh is
    * `stored ∪ delta-partials → one combine` — work proportional to
    * |delta| + |rollup|, not |history|. This is the materialized-view
    * maintenance loop every warehouse runs at 100 TB, built from the
    * same partial/final contract Spark's own aggregates use (the
    * reason every custom Aggregator here must be mergeable). The
    * oracle recomputes the rollup from ALL of orders — merged
    * partials must be indistinguishable from a full rebuild.
    */
  def tIncrRollup(spark: SparkSession, dir: String,
                  cutoff: String = "1997-01-01"): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_totalprice"))
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("month").agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
    // day 1: history is rolled up once and STORED (partials, not
    // presentation values)
    val stored = tmpDir("incr_rollup") + "/rollup"
    partials(orders.filter(col("month") < lit(cutoff.substring(0, 7))))
      .write.mode("overwrite").parquet(stored)
    // day 2: a new batch lands; only ITS rows aggregate, then one
    // rollup-sized combine refreshes the store
    val delta = partials(orders.filter(col("month") >= lit(cutoff.substring(0, 7))))
    ParquetRead(spark, stored).unionByName(delta)
      .groupBy("month")
      .agg(sum("n").as("n"), round(sum("total"), 2).as("total"))
      .orderBy("month")
  }

  /** T38: partition-completeness gate (dq_completeness) — the audit
    * every scheduled consumer runs before trusting a feed: compare the
    * CALENDAR the source implies (every month between its first and
    * last) against the partitions that actually LANDED in the lake's
    * manifest, and report each expected partition as landed-with-count
    * or hole. The check is METADATA-ONLY — manifest rows carry
    * per-file (month, n_rows), so at 100 TB the gate costs a manifest
    * scan, never a data read; this is the "did yesterday land?"
    * primitive P6's dirty-partition planner and every SLA monitor sit
    * on. The demo plants deterministic holes (every 7th month by
    * index) so the gate has something to catch; holes surface as
    * landed=false with an n_rows=0 sentinel (never NULL).
    */
  def dqCompleteness(spark: SparkSession, dir: String,
                     baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("completeness"))
    val man = base + "/manifest"
    val monthly = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    // land everything EXCEPT the planted holes, month-partitioned
    val holes = monthly.select("month").distinct()
      .withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("month")) - 1)
      .filter(col("i") % 7 === 3).select("month")
    monthly.join(broadcast(holes), Seq("month"), "left_anti")
      .write.partitionBy("month").mode("overwrite").parquet(base + "/lake")
    graft.sinks.ManifestStore.publish(spark, man,
      ParquetRead(spark, base + "/lake")
        .groupBy(input_file_name().as("file"))
        .agg(min("month").as("month"), count(lit(1)).as("n_rows")))
    // the audit: expected calendar (from the source's span) vs the
    // manifest — metadata-only, the lake is never scanned
    val (_, cur) = graft.sinks.ManifestStore.current(spark, man)
    val landed = cur.groupBy("month").agg(sum("n_rows").as("n_landed"))
    // expected = the full calendar the source SPAN implies, not the
    // months that happen to be present — a feed that skipped a month
    // entirely must still surface it as a hole
    val expected = monthly.agg(min("month").as("lo"), max("month").as("hi"))
      .select(explode(sequence(
        to_date(col("lo"), "yyyy-MM"), to_date(col("hi"), "yyyy-MM"),
        expr("interval 1 month"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("month"))
    expected
      .join(landed, Seq("month"), "left")
      .select(col("month"),
        col("n_landed").isNotNull.as("landed"),
        coalesce(col("n_landed"), lit(0L)).as("n_rows"))
      .orderBy("month")
  }

  /** K28: partition-spec evolution (Iceberg's flagship metadata move:
    * CHANGE the table's partitioning going forward without rewriting a
    * byte of history — old files keep the old layout, new files land
    * under the new one, and the manifest records each file's partition
    * VALUES so the planner prunes BOTH layouts in one query). Here the
    * table starts month-partitioned and evolves to (month, priority):
    * a query filtering on month AND priority prunes old files on month
    * only (priority becomes a residual row filter inside them) and new
    * files on both dimensions — at 100 TB, re-partitioning by rewrite
    * is a table-sized job while spec evolution is one commit, which is
    * why directory-encoded (Hive-style) layouts fossilize and
    * manifest-encoded ones don't.
    *
    * Each generation reads back through its own `basePath` so Spark
    * recovers the directory-encoded partition columns. The oracle
    * checks the straddling query's answer against the raw table; the
    * spec pins the mechanics — zero rewrite at evolution, the exact
    * per-layout pruned file sets, residual-vs-partition filtering.
    */
  def sinkPartitionEvolve(spark: SparkSession, dir: String,
                          cutoff: String = "1997-01",
                          qLo: String = "1996-10", qHi: String = "1997-03",
                          target: String = "1-URGENT",
                          baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("part_evolve"))
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice", "o_orderpriority")
    def rowsOf(path: String, spec: Long, partPriority: Boolean) =
      ParquetRead(spark, path)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"), min("month").as("month"),
          (if (partPriority) min("o_orderpriority")
           else lit(null).cast("string")).as("priority"))
        .withColumn("spec_version", lit(spec))
    // spec 1: month layout
    orders.filter(col("month") < cutoff)
      .write.partitionBy("month").mode("overwrite").parquet(base + "/lake/gen1")
    graft.sinks.ManifestStore.publish(spark, man,
      rowsOf(base + "/lake/gen1", 1L, partPriority = false))
    // EVOLVE: new spec applies to new files only — one commit, no rewrite
    orders.filter(col("month") >= cutoff)
      .write.partitionBy("month", "o_orderpriority").mode("overwrite")
      .parquet(base + "/lake/gen2")
    val (_, v1) = graft.sinks.ManifestStore.current(spark, man)
    // the JSON manifest drops v1's all-null priority column on
    // read-back — union with allowMissingColumns restores it as null
    // ("this file is not priority-partitioned")
    graft.sinks.ManifestStore.publish(spark, man,
      v1.unionByName(rowsOf(base + "/lake/gen2", 2L, partPriority = true),
        allowMissingColumns = true))
    // plan the straddling query from the manifest: both layouts pruned
    val (_, cur) = graft.sinks.ManifestStore.current(spark, man)
    val filesTotal = cur.count()
    val wanted = cur.filter(col("month") >= qLo && col("month") <= qHi &&
        (col("priority").isNull || col("priority") === target))
      .select("file").collect().map(_.getString(0))
    def gen(tag: String) = wanted.filter(_.contains(s"/$tag/"))
    // a layout can legitimately contribute ZERO files (range entirely
    // on one side of the cutoff) — answer from metadata, open nothing
    def read(files: Array[String], basePath: String) =
      if (files.isEmpty)
        spark.range(0).select(lit(0.0).as("o_totalprice"),
          lit("").as("o_orderpriority"))
      else spark.read.option("basePath", basePath).parquet(files: _*)
        .select("o_totalprice", "o_orderpriority")
    // old layout: priority is a residual ROW filter; new layout: both
    // dimensions already pruned at file level
    val part1 = read(gen("gen1"), base + "/lake/gen1")
      .filter(col("o_orderpriority") === target).select("o_totalprice")
    val part2 = read(gen("gen2"), base + "/lake/gen2").select("o_totalprice")
    part1.unionByName(part2)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("pruned", lit(wanted.length < filesTotal))
      .withColumn("n_specs", lit(2L))
  }

  /** K26: RESTORE to an earlier version as a NEW commit (Delta
    * `RESTORE TABLE ... TO VERSION AS OF` / Iceberg rollback): undo a
    * bad commit by publishing the pinned version's file list FORWARD
    * as the next version — pure metadata, zero data files written or
    * deleted, and history stays intact (the bad version remains
    * readable for forensics; K18's vacuum is what eventually reclaims
    * anything it orphaned). This is the recovery half of K9's
    * versioning contract: time travel READS the past, restore makes
    * the past current again — at 100 TB the difference between a
    * one-rename fix and re-landing a table.
    *
    * The demo lands two month-bands, "accidentally" commits a version
    * that drops the later band's files, restores to v1, and reads
    * back through the current version. The oracle checks the restored
    * table is indistinguishable from never having lost data; the spec
    * pins the mechanics — v3's file list ≡ v1's, nothing written
    * during restore, v2 still serving the damaged snapshot.
    */
  def sinkRestore(spark: SparkSession, dir: String,
                  cutoff: String = "1997-01",
                  baseOverride: Option[String] = None): DataFrame = {
    val base = baseOverride.getOrElse(tmpDir("restore"))
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("month", "o_orderkey", "o_totalprice")
    def manifestOf(path: String) = ParquetRead(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    orders.filter(col("month") < cutoff)
      .repartition(3).write.mode("overwrite").parquet(base + "/lake/genA")
    orders.filter(col("month") >= cutoff)
      .repartition(3).write.mode("overwrite").parquet(base + "/lake/genB")
    // v1: the healthy table
    graft.sinks.ManifestStore.publish(spark, man,
      manifestOf(base + "/lake/genA").unionByName(manifestOf(base + "/lake/genB")))
    // v2: the bad commit — a botched retention job drops genB's files
    val (_, v1) = graft.sinks.ManifestStore.current(spark, man)
    graft.sinks.ManifestStore.publish(spark, man,
      v1.filter(col("file").contains("/genA/")))
    // v3: RESTORE TO VERSION 1 — republish v1's rows by reference
    val (_, pinned) = graft.sinks.ManifestStore.at(spark, man, Some(1L))
    graft.sinks.ManifestStore.publish(spark, man, pinned.select("file", "n_rows"))
    val (curV, cur) = graft.sinks.ManifestStore.current(spark, man)
    val files = cur.select("file").collect().map(_.getString(0))
    ParquetRead(spark, files: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("restored_from_version", lit(1L))
      .withColumn("current_version", lit(curV))
      .orderBy("month")
  }

  /** K27: DROP COLUMN as a metadata commit + REORG PURGE (Delta
    * `ALTER TABLE DROP COLUMN` + `REORG TABLE ... APPLY (PURGE)`,
    * Iceberg schema evolution): the drop is one manifest publish that
    * narrows the TABLE schema while every data file stays byte-intact
    * — readers plan the narrowed schema and the parquet reader never
    * materializes the dead column. The later REORG physically purges
    * it by rewriting ONLY files whose recorded physical schema still
    * carries the column; files born after the drop are already narrow
    * and carry forward by reference. Rewrite traffic ∝ pre-drop mass,
    * never table size — at 100 TB the instant-drop/deferred-purge
    * split is the only affordable shape for schema shrink.
    *
    * Manifest rows carry both the table schema of the version
    * (`table_ddl`, stamped on every row — a version property) and the
    * file's physical footer schema (`file_ddl`), so the REORG planner
    * selects its rewrite set metadata-only (K21's discipline: never
    * probe storage footers). The oracle checks the final table equals
    * the source projected without the column; the spec pins the
    * mechanics — the drop wrote nothing, REORG rewrote exactly the
    * wide files, post-REORG footers are physically narrow.
    */
  def sinkDropColumn(spark: SparkSession, dir: String,
                     cutoff: String = "1997-01",
                     baseOverride: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val base = baseOverride.getOrElse(tmpDir("drop_column"))
    val man = base + "/manifest"
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    def landed(path: String, df: org.apache.spark.sql.DataFrame,
               schemaV: Long): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      val onDisk = ParquetRead(spark, path)
      onDisk.groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("schema_version", lit(schemaV))
        .withColumn("table_ddl", lit(onDisk.schema.toDDL))
        .withColumn("file_ddl", lit(onDisk.schema.toDDL))
    }
    // v1: the wide feed (carries the soon-to-die column)
    graft.sinks.ManifestStore.publish(spark, man,
      landed(base + "/lake/batch1",
        orders.filter(col("month") < cutoff)
          .select("month", "o_orderkey", "o_totalprice", "o_orderpriority"), 1L))
    // v2: DROP COLUMN o_orderpriority — metadata only, zero data writes
    val (_, v1) = graft.sinks.ManifestStore.current(spark, man)
    val wideDdl = v1.select("table_ddl").head.getString(0)
    val narrow = StructType(
      StructType.fromDDL(wideDdl).fields.filterNot(_.name == "o_orderpriority"))
    graft.sinks.ManifestStore.publish(spark, man,
      v1.withColumn("schema_version", lit(2L))
        .withColumn("table_ddl", lit(narrow.toDDL)))
    // v3: a post-drop append lands already-narrow files
    val (_, v2) = graft.sinks.ManifestStore.current(spark, man)
    graft.sinks.ManifestStore.publish(spark, man,
      v2.unionByName(landed(base + "/lake/batch2",
        orders.filter(col("month") >= cutoff)
          .select("month", "o_orderkey", "o_totalprice"), 2L)))
    // v4: REORG PURGE — rewrite set chosen from file_ddl, metadata-only
    val (_, v3) = graft.sinks.ManifestStore.current(spark, man)
    val wide = v3.filter(col("file_ddl").contains("o_orderpriority"))
      .select("file").collect().map(_.getString(0))
    val purgedDir = base + "/lake/purged"
    spark.read.schema(narrow).parquet(wide: _*)
      .repartition(2).write.mode("overwrite").parquet(purgedDir)
    val purgedRows = ParquetRead(spark, purgedDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("schema_version", lit(2L))
      .withColumn("table_ddl", lit(narrow.toDDL))
      .withColumn("file_ddl", lit(narrow.toDDL))
    graft.sinks.ManifestStore.publish(spark, man,
      v3.filter(!col("file_ddl").contains("o_orderpriority"))
        .unionByName(purgedRows))
    val (curV, cur) = graft.sinks.ManifestStore.current(spark, man)
    val files = cur.select("file").collect().map(_.getString(0))
    spark.read.schema(narrow).parquet(files: _*)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .withColumn("purged", lit(true))
      .withColumn("current_version", lit(curV))
      .orderBy("month")
  }
}
