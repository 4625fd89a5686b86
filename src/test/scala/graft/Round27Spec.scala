package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.graft.GraftLakeTable

import graft.sinks.ManifestStore

/** Round-13 specs, batch 1: the four round-12 ADVICE fixes on the
  * transaction/catalog plane — idempotent commit_txn recovery, the
  * SHA-256 schema pin, activity-gated (not dir-mtime-gated) vacuum of
  * transaction workspaces, and meta-safe bucket/merge-key names.
  */
class Round27Spec extends SparkSpec {

  private val cat = "graft"

  private def ensure(): Unit = graft.queries.IOQueries.ensureCatalog(spark)

  private def tableDir(table: String): String =
    graft.queries.IOQueries.catalogRoot + s"/lake/$table"
  private def manBase(table: String): String = tableDir(table) + "/manifest"

  private def fs = new Path(graft.queries.IOQueries.catalogRoot)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def latestRows(table: String): Seq[GraftLakeTable.ManifestRow] = {
    val mb = manBase(table)
    GraftLakeTable.manifestRowsFull(spark, mb,
      ManifestStore.versions(spark, mb).last)
  }

  test("commit_txn is idempotent across a crash between dir moves and the " +
      "publish: a retry completes instead of dying on its own half-moved work") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.txn_idem")
    spark.sql(s"CREATE TABLE $cat.lake.txn_idem (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.txn_idem SELECT id, id*1.0 FROM range(0, 5)")
    val txn = spark.sql(
      s"CALL $cat.system.begin_txn('lake.txn_idem')").head.getString(0)
    spark.sql(s"INSERT INTO $cat.$txn VALUES (100, 1.0)")
    spark.sql(s"INSERT INTO $cat.$txn VALUES (200, 2.0)")
    // simulate the crash window: one (but not all) fresh write dirs
    // already moved under the source, exactly what a driver death
    // between the rename loop and the CAS publish leaves behind
    val txnLeaf = txn.split('.').last
    val txnMan = manBase(txnLeaf)
    val rows = GraftLakeTable.manifestRowsFull(spark, txnMan,
      ManifestStore.versions(spark, txnMan).last)
    val freshDirs = rows.filterNot(_.file.startsWith("../"))
      .map(_.file.split('/').head).distinct
    assert(freshDirs.size >= 2, s"need >=2 fresh dirs, got $freshDirs")
    val moved = freshDirs.head
    assert(fs.rename(new Path(tableDir(txnLeaf), moved),
      new Path(tableDir("txn_idem"), moved)))
    // the retried commit must treat source-gone+target-present as
    // already moved and complete the transaction
    spark.sql(s"CALL $cat.system.commit_txn('lake.txn_idem', '$txn')").collect()
    val got = spark.table(s"$cat.lake.txn_idem")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 3.0),
      (4L, 4.0), (100L, 1.0), (200L, 2.0)))
    // a dir missing from BOTH sides is corruption, named
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.txn_idem2")
    spark.sql(s"CREATE TABLE $cat.lake.txn_idem2 (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.txn_idem2 VALUES (1, 1.0)")
    val txn2 = spark.sql(
      s"CALL $cat.system.begin_txn('lake.txn_idem2')").head.getString(0)
    spark.sql(s"INSERT INTO $cat.$txn2 VALUES (9, 9.0)")
    val txn2Leaf = txn2.split('.').last
    val man2 = manBase(txn2Leaf)
    val fresh2 = GraftLakeTable.manifestRowsFull(spark, man2,
      ManifestStore.versions(spark, man2).last)
      .filterNot(_.file.startsWith("../")).map(_.file.split('/').head).distinct
    fresh2.foreach(d => fs.delete(new Path(tableDir(txn2Leaf), d), true))
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_txn('lake.txn_idem2', '$txn2')").collect()
    }
    assert(err.getMessage.contains("missing from both"), err.getMessage)
    spark.sql(s"CALL $cat.system.abort_txn('$txn2')").collect()
  }

  test("txn marker pins the schema with a full SHA-256 digest, not a 32-bit " +
      "hash; a schema change still refuses at commit") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.txn_sha")
    spark.sql(s"CREATE TABLE $cat.lake.txn_sha (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.txn_sha VALUES (1, 1.0)")
    val txn = spark.sql(
      s"CALL $cat.system.begin_txn('lake.txn_sha')").head.getString(0)
    val txnLeaf = txn.split('.').last
    val markerPath = new Path(tableDir(txnLeaf), "_graft_txn.json")
    val in = fs.open(markerPath)
    val markerTxt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // 64 hex chars = a full SHA-256, the collision-safe identity the
    // 32-bit String.hashCode pin was not (advice, round 12); the pin
    // covers the FULL meta text, so bucketing changes refuse too
    assert("\"metaSha\":\"[0-9a-f]{64}\"".r.findFirstIn(markerTxt).isDefined,
      markerTxt)
    spark.sql(s"ALTER TABLE $cat.lake.txn_sha ADD COLUMN w STRING")
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_txn('lake.txn_sha', '$txn')").collect()
    }
    assert(err.getMessage.contains("schema changed"), err.getMessage)
    spark.sql(s"CALL $cat.system.abort_txn('$txn')").collect()
  }

  test("vacuum judges a transaction workspace stale by LAST ACTIVITY (marker " +
      "+ newest manifest version), not by directory mtime") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.txn_idle")
    spark.sql(s"CREATE TABLE $cat.lake.txn_idle (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.txn_idle VALUES (1, 1.0)")
    val txn = spark.sql(
      s"CALL $cat.system.begin_txn('lake.txn_idle')").head.getString(0)
    spark.sql(s"INSERT INTO $cat.$txn VALUES (2, 2.0)")
    val txnLeaf = txn.split('.').last
    val wsDir = new Path(tableDir(txnLeaf))
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    // a >24h-old WORKSPACE whose latest statement is recent: backdate
    // the dir and the begin marker, leave the manifest versions fresh
    fs.setTimes(wsDir, old, old)
    fs.setTimes(new Path(wsDir, "_graft_txn.json"), old, old)
    spark.sql(s"CALL $cat.system.vacuum('lake.txn_idle', 10, 0)").collect()
    assert(fs.exists(new Path(wsDir, "_graft_txn.json")),
      "a live long-running transaction must not be swept")
    spark.sql(s"INSERT INTO $cat.$txn VALUES (3, 3.0)")
    spark.sql(s"CALL $cat.system.commit_txn('lake.txn_idle', '$txn')").collect()
    assert(spark.table(s"$cat.lake.txn_idle").count() == 3L)
    // a workspace with NO activity inside the window sweeps: backdate
    // everything, including every manifest version file
    val txn2 = spark.sql(
      s"CALL $cat.system.begin_txn('lake.txn_idle')").head.getString(0)
    val ws2 = new Path(tableDir(txn2.split('.').last))
    fs.setTimes(ws2, old, old)
    fs.setTimes(new Path(ws2, "_graft_txn.json"), old, old)
    fs.listStatus(new Path(ws2, "manifest"))
      .foreach(st => fs.setTimes(st.getPath, old, old))
    spark.sql(s"CALL $cat.system.vacuum('lake.txn_idle', 10, 0)").collect()
    assert(!fs.exists(ws2), "an abandoned workspace must sweep")
  }

  test("K52 group txn: a two-table transaction (one flat, one bucketed) " +
      "commits atomically — both tables flip at one journal point") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_b")
    spark.sql(s"CREATE TABLE $cat.lake.grp_a (k BIGINT, v STRING)")
    spark.sql(
      s"""CREATE TABLE $cat.lake.grp_b (k BIGINT, v DOUBLE)
         |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.lake.grp_a VALUES (1,'a'),(2,'b')")
    spark.sql(s"INSERT INTO $cat.lake.grp_b SELECT id, id*1.0 FROM range(0, 20)")
    val opened = spark.sql(
      s"CALL $cat.system.begin_txn('lake.grp_a,lake.grp_b')").collect()
    assert(opened.length == 2)
    val wss = opened.map(_.getString(0))
    val (wsA, wsB) = (wss.find(_.contains("grp_a")).get,
      wss.find(_.contains("grp_b")).get)
    // the workspaces share ONE transaction id
    assert(wsA.split("__txn_").last == wsB.split("__txn_").last)
    spark.sql(s"INSERT INTO $cat.$wsA VALUES (3,'c')")
    spark.sql(s"DELETE FROM $cat.$wsB WHERE k >= 10")
    spark.sql(s"INSERT INTO $cat.$wsB VALUES (100, 100.0)")
    // isolation: neither source sees anything yet
    assert(spark.table(s"$cat.lake.grp_a").count() == 2L)
    assert(spark.table(s"$cat.lake.grp_b").count() == 20L)
    val out = spark.sql(
      s"CALL $cat.system.commit_txn('lake.grp_a,lake.grp_b', '$wsA,$wsB')")
      .collect()
    assert(out.length == 2 && out.forall(_.getLong(0) == 2L))
    assert(spark.table(s"$cat.lake.grp_a").count() == 3L)
    val bRows = spark.table(s"$cat.lake.grp_b")
      .collect().map(_.getLong(0)).sorted
    assert(bRows.toSeq == ((0L until 10L) :+ 100L))
    // the bucketed table still reads storage-partitioned after the txn
    // (carried refs keep their __graft_bucket path component)
    assert(!spark.catalog.tableExists(s"$cat.$wsA"))
    assert(!spark.catalog.tableExists(s"$cat.$wsB"))
    // committing a STRICT SUBSET of a group refuses
    val opened2 = spark.sql(
      s"CALL $cat.system.begin_txn('lake.grp_a,lake.grp_b')").collect()
    val ws2A = opened2.map(_.getString(0)).find(_.contains("grp_a")).get
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_txn('lake.grp_a', '$ws2A')").collect()
    }
    assert(err.getMessage.contains("commit together"), err.getMessage)
    spark.sql(s"CALL $cat.system.abort_txn('${opened2.map(_.getString(0)).mkString(",")}')")
      .collect()
  }

  test("K52 group txn: a racer on ONE table aborts the WHOLE group — " +
      "no table shows a partial effect, and no claim leaks") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_c")
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_d")
    spark.sql(s"CREATE TABLE $cat.lake.grp_c (k BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.lake.grp_d (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.grp_c VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $cat.lake.grp_d VALUES (1, 1.0)")
    val wss = spark.sql(
      s"CALL $cat.system.begin_txn('lake.grp_c,lake.grp_d')")
      .collect().map(_.getString(0))
    wss.foreach(ws => spark.sql(s"INSERT INTO $cat.$ws VALUES (9, 9.0)"))
    // racer lands on grp_d only
    spark.sql(s"INSERT INTO $cat.lake.grp_d VALUES (2, 2.0)")
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_txn('lake.grp_c,lake.grp_d', " +
        s"'${wss.mkString(",")}')").collect()
    }
    assert(err.getMessage.contains("moved to"), err.getMessage)
    // NEITHER table shows the transaction's effect
    assert(spark.table(s"$cat.lake.grp_c").count() == 1L)
    assert(spark.table(s"$cat.lake.grp_d").count() == 2L)
    // and later writes proceed normally (no suppressed claim wedges
    // the version counter)
    spark.sql(s"INSERT INTO $cat.lake.grp_c VALUES (3, 3.0)")
    assert(spark.table(s"$cat.lake.grp_c").count() == 2L)
  }

  test("K52 pending-claim law: a claimed version is invisible to readers and " +
      "blocks CAS writers until the journal commit point; abort rolls it back") {
    ensure()
    import org.apache.spark.sql.functions.lit
    val base = graft.queries.IOQueries.catalogRoot + "/lake/pend_t/manifest"
    val journal = graft.queries.IOQueries.catalogRoot + "/lake/.test_journal"
    def mf(tag: String) = spark.range(1)
      .select(lit(s"data_x/$tag.parquet").as("file"), lit(1L).as("n_rows"),
        lit("").as("txn"))
    assert(ManifestStore.tryPublish(spark, base, mf("v1"), 1L))
    // phase-1 claim at v2
    assert(ManifestStore.tryPublishPending(spark, base, mf("v2"), 2L, "aa11", journal))
    assert(ManifestStore.versions(spark, base) == Seq(1L),
      "a pending claim must be invisible")
    // a CAS writer targeting v2 blocks (fails), never silently skips past
    assert(!ManifestStore.tryPublish(spark, base, mf("other"), 2L))
    assert(ManifestStore.versions(spark, base) == Seq(1L))
    // commit point: one journal file flips it visible
    fs.mkdirs(new Path(journal))
    fs.create(new Path(journal, "committed_aa11"), false).close()
    assert(ManifestStore.versions(spark, base) == Seq(1L, 2L))
    // the first resolving read finalized the claim: marker + crumb gone
    assert(!fs.exists(new Path(base, "manifest_v2/_pending_aa11")))
    assert(!fs.exists(new Path(base, "pending_v2_aa11")))
    // an aborted claim rolls back completely and frees the number
    assert(ManifestStore.tryPublishPending(spark, base, mf("v3"), 3L, "bb22", journal))
    assert(ManifestStore.versions(spark, base) == Seq(1L, 2L))
    ManifestStore.abortPending(spark, base, 3L, "bb22")
    assert(ManifestStore.versions(spark, base) == Seq(1L, 2L))
    assert(ManifestStore.tryPublish(spark, base, mf("v3b"), 3L),
      "an aborted claim must free its version number")
    assert(ManifestStore.versions(spark, base) == Seq(1L, 2L, 3L))
  }

  test("K52 crash recovery: a committed-journal retry finalizes; vacuum " +
      "rolls back an abandoned uncommitted claim after the grace window") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_e")
    spark.sql(s"CREATE TABLE $cat.lake.grp_e (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.grp_e VALUES (1, 1.0)")
    // an abandoned phase-1 claim (txn died before its commit point)
    import org.apache.spark.sql.functions.lit
    val mb = manBase("grp_e")
    val journal = graft.queries.IOQueries.catalogRoot + "/.txn_journal"
    val ghost = spark.range(1)
      .select(lit("data_ghost/g.parquet").as("file"), lit(1L).as("n_rows"),
        lit("").as("txn"))
    assert(ManifestStore.tryPublishPending(spark, mb, ghost, 2L, "cc33", journal))
    assert(spark.table(s"$cat.lake.grp_e").count() == 1L,
      "the abandoned claim must stay invisible")
    // fresh claim: vacuum must NOT roll it back (grace window)
    spark.sql(s"CALL $cat.system.vacuum('lake.grp_e', 10, 0)").collect()
    assert(fs.exists(new Path(mb, "manifest_v2/_pending_cc33")))
    // age it past the staging window -> vacuum rolls it back
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    fs.setTimes(new Path(mb, "manifest_v2"), old, old)
    spark.sql(s"CALL $cat.system.vacuum('lake.grp_e', 10, 0)").collect()
    assert(!fs.exists(new Path(mb, "manifest_v2")),
      "vacuum must roll back an aged uncommitted claim")
    // the freed number is writable again
    spark.sql(s"INSERT INTO $cat.lake.grp_e VALUES (2, 2.0)")
    assert(spark.table(s"$cat.lake.grp_e").count() == 2L)
  }

  test("K52 bucketed txn: DML in a bucketed workspace routes buckets, and " +
      "a bucketing change on the source refuses at commit") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.grp_bk")
    spark.sql(
      s"""CREATE TABLE $cat.lake.grp_bk (k BIGINT, v DOUBLE)
         |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.lake.grp_bk SELECT id, id*1.0 FROM range(0, 16)")
    val ws = spark.sql(
      s"CALL $cat.system.begin_txn('lake.grp_bk')").head.getString(0)
    spark.sql(s"INSERT INTO $cat.$ws VALUES (100, 1.0)")
    // the workspace write routed through the bucket layout
    val wsLeaf = ws.split('.').last
    val freshFiles = latestRows(wsLeaf).filterNot(_.file.startsWith("../"))
    assert(freshFiles.nonEmpty &&
      freshFiles.forall(_.file.contains("__graft_bucket=")),
      freshFiles.map(_.file).mkString(", "))
    // a concurrent set_bucketing on the source is a meta change: refuse
    spark.sql(s"CALL $cat.system.set_bucketing('lake.grp_bk', 'none', 0)").collect()
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_txn('lake.grp_bk', '$ws')").collect()
    }
    assert(err.getMessage.contains("schema changed"), err.getMessage)
    spark.sql(s"CALL $cat.system.abort_txn('$ws')").collect()
    assert(spark.table(s"$cat.lake.grp_bk").count() == 16L)
  }

  test("K53 manifest NDV stats: per-file HLL sketches + null counts merge into " +
      "DSv2 column stats, and the CBO reorders a 3-way lake join on them") {
    ensure()
    import org.apache.spark.sql.catalyst.plans.logical.Join
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.cbo_fact")
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.cbo_dim_a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.cbo_dim_b")
    spark.sql(s"CREATE TABLE $cat.lake.cbo_fact (k1 BIGINT, k2 BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.lake.cbo_dim_a (k BIGINT, a STRING)")
    spark.sql(s"CREATE TABLE $cat.lake.cbo_dim_b (k BIGINT, b STRING)")
    spark.sql(
      s"""INSERT INTO $cat.lake.cbo_fact
         |SELECT id % 1000, id % 500, id * 1.0 FROM range(0, 20000)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.lake.cbo_dim_a
         |SELECT id, concat('a', id) FROM range(0, 1000)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.lake.cbo_dim_b
         |SELECT id, concat('b', id) FROM range(0, 10)""".stripMargin)
    // the merged NDV reaches the logical plan's attribute stats (the
    // merge is CBO-gated, so flip the conf for the read)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val attrStats =
      try spark.table(s"$cat.lake.cbo_dim_b").queryExecution
        .optimizedPlan.stats.attributeStats
      finally spark.conf.set("spark.sql.cbo.enabled", "false")
    val kStat = attrStats.find(_._1.name == "k").map(_._2)
    assert(kStat.exists(_.distinctCount.exists(dc =>
      dc.toLong >= 9 && dc.toLong <= 11)), s"dim_b k NDV: $kStat")
    assert(kStat.exists(_.nullCount.exists(_.toLong == 0L)))

    def leafOrder(sql: String): Seq[String] = {
      val plan = spark.sql(sql).queryExecution.optimizedPlan
      plan.collectLeaves().flatMap(_.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.name()
      }).map(_.split('.').last)
    }
    // written in the WORST order: the wide dim first, the tiny
    // selective dim last
    val q =
      s"""SELECT count(*) AS n FROM $cat.lake.cbo_fact f
         |JOIN $cat.lake.cbo_dim_a da ON f.k1 = da.k
         |JOIN $cat.lake.cbo_dim_b db ON f.k2 = db.k""".stripMargin
    val defaultOrder = leafOrder(q)
    val cboOrder = GraftSession.withConf(spark,
      "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true")(leafOrder(q))
    // with NDV stats, joining the 10-row/10-NDV dim first costs
    // 20000·10/500 = 400 intermediate rows vs 20000 the other way —
    // the reorder must pull dim_b ahead of dim_a
    assert(cboOrder.indexOf("cbo_dim_b") < cboOrder.indexOf("cbo_dim_a"),
      s"cbo order: $cboOrder (default was $defaultOrder)")
    assert(defaultOrder.indexOf("cbo_dim_b") > defaultOrder.indexOf("cbo_dim_a"),
      s"default order should follow the written SQL: $defaultOrder")
  }

  test("K53 NDV stats law: a mixed pre/post-K53 snapshot reports NO distinct " +
      "count (never a wrong one); ndv write-path can be disabled by conf") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.cbo_mixed")
    spark.sql(s"CREATE TABLE $cat.lake.cbo_mixed (k BIGINT, v DOUBLE)")
    spark.conf.set("spark.graft.stats.ndv.enabled", "false")
    try spark.sql(
      s"INSERT INTO $cat.lake.cbo_mixed SELECT id, id*1.0 FROM range(0, 100)")
    finally spark.conf.unset("spark.graft.stats.ndv.enabled")
    spark.sql(
      s"INSERT INTO $cat.lake.cbo_mixed SELECT id, id*1.0 FROM range(100, 200)")
    val attrStats = spark.table(s"$cat.lake.cbo_mixed")
      .queryExecution.optimizedPlan.stats.attributeStats
    val kStat = attrStats.find(_._1.name == "k").map(_._2)
    assert(!kStat.exists(_.distinctCount.isDefined),
      s"mixed snapshot must not report NDV: $kStat")
    // rows/bytes still exact
    assert(spark.table(s"$cat.lake.cbo_mixed")
      .queryExecution.optimizedPlan.stats.rowCount.exists(_.toLong == 200L))
  }

  test("K54 scoped OPTIMIZE: out-of-scope files carry BY NAME through a " +
      "where-scoped ZORDER and bin-pack; untranslatable predicates refuse") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.zs_spec")
    spark.sql(s"CREATE TABLE $cat.lake.zs_spec (r BIGINT, x BIGINT, y BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO $cat.lake.zs_spec
           |SELECT $i, id % 100, (id * 7) % 100 FROM range(0, 1000)""".stripMargin)
    }
    def fileRegions(): Map[String, String] =
      latestRows("zs_spec").map(r =>
        r.file -> r.stats.get("r").map(_.head).getOrElse("?")).toMap
    val before = fileRegions()
    assert(before.values.toSet == Set("0", "1", "2"))
    spark.sql(
      s"""CALL $cat.system.optimize('lake.zs_spec', 100000,
         |zorder => array('x','y'), where => 'r = 2')""".stripMargin).collect()
    val after = fileRegions()
    val outFiles = before.filter(_._2 != "2").keySet
    assert(outFiles.subsetOf(after.keySet),
      "out-of-scope files must carry with their names unchanged")
    assert(before.filter(_._2 == "2").keySet.intersect(after.keySet).isEmpty,
      "in-scope files must be replaced")
    assert(spark.table(s"$cat.lake.zs_spec").count() == 3000L)
    // scoped bin-pack: region-0 files stay even though they are small
    spark.sql(
      s"""CALL $cat.system.optimize('lake.zs_spec', 100000,
         |where => 'r = 1')""".stripMargin).collect()
    val after2 = fileRegions()
    assert(after.filter(_._2 == "0").keySet.subsetOf(after2.keySet),
      "scoped bin-pack must not touch out-of-scope files")
    assert(spark.table(s"$cat.lake.zs_spec").count() == 3000L)
    // a predicate the stat comparator cannot prune on refuses loudly
    val err = intercept[Exception] {
      spark.sql(
        s"""CALL $cat.system.optimize('lake.zs_spec', 100000,
           |where => 'x + y > 10')""".stripMargin).collect()
    }
    assert(err.getMessage.contains("not translatable"), err.getMessage)
  }

  test("K55 refs on SQL: branch isolation, tag immutability, unknown-ref " +
      "remedy, numeric-name refusal, metadata tables through a ref") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.ref_spec")
    spark.sql(s"CREATE TABLE $cat.lake.ref_spec (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.ref_spec VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"CALL $cat.system.set_ref('lake.ref_spec', 'main', 'branch')").collect()
    spark.sql(s"CALL $cat.system.set_ref('lake.ref_spec', 'pin', 'tag')").collect()
    spark.sql(s"INSERT INTO $cat.lake.ref_spec VALUES (3, 3.0)")
    // isolation: the branch pins v1 while the head moved to v2
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.lake.ref_spec VERSION AS OF 'main'")
      .head.getLong(0) == 2L)
    assert(spark.table(s"$cat.lake.ref_spec").count() == 3L)
    // metadata tables resolve refs against the BASE table
    val filesAtMain = spark.sql(
      s"SELECT count(*) FROM $cat.lake.ref_spec.files VERSION AS OF 'main'")
      .head.getLong(0)
    val filesNow = spark.sql(
      s"SELECT count(*) FROM $cat.lake.ref_spec.files").head.getLong(0)
    assert(filesAtMain < filesNow, s"$filesAtMain vs $filesNow")
    // a tag refuses to move
    val tagErr = intercept[Exception] {
      spark.sql(
        s"CALL $cat.system.set_ref('lake.ref_spec', 'pin', 'tag', 2)").collect()
    }
    assert(tagErr.getMessage.contains("immutable"), tagErr.getMessage)
    // unknown refs name the remedy; numeric names refuse at creation
    val unknownErr = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $cat.lake.ref_spec VERSION AS OF 'nope'").collect()
    }
    assert(unknownErr.getMessage.contains("set_ref"), unknownErr.getMessage)
    val numErr = intercept[Exception] {
      spark.sql(
        s"CALL $cat.system.set_ref('lake.ref_spec', '7', 'branch')").collect()
    }
    assert(numErr.getMessage.contains("non-numeric"), numErr.getMessage)
    // drop_ref removes resolution
    spark.sql(s"CALL $cat.system.drop_ref('lake.ref_spec', 'main')").collect()
    intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $cat.lake.ref_spec VERSION AS OF 'main'").collect()
    }
    // integer pins still work beside refs
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.lake.ref_spec VERSION AS OF 1")
      .head.getLong(0) == 2L)
  }

  test("review pass 1 pins: idempotent re-claim keeps the breadcrumb (a retry " +
      "must not expose its own uncommitted claim), journal files retire after " +
      "commit, 128-bit txn ids") {
    ensure()
    import org.apache.spark.sql.functions.lit
    val base = graft.queries.IOQueries.catalogRoot + "/lake/pend_r/manifest"
    val journal = graft.queries.IOQueries.catalogRoot + "/lake/.test_journal_r"
    def mf(tag: String) = spark.range(1)
      .select(lit(s"data_x/$tag.parquet").as("file"), lit(1L).as("n_rows"),
        lit("").as("txn"))
    assert(ManifestStore.tryPublish(spark, base, mf("v1"), 1L))
    assert(ManifestStore.tryPublishPending(spark, base, mf("v2"), 2L, "dd44", journal))
    // the F1 law: a same-txn re-claim WINS idempotently and the
    // breadcrumb survives — the claim stays suppressed, not exposed
    assert(ManifestStore.tryPublishPending(spark, base, mf("v2"), 2L, "dd44", journal),
      "re-claiming your own pending version must succeed")
    assert(fs.exists(new Path(base, "pending_v2_dd44")),
      "the re-claim must not delete the live breadcrumb")
    assert(ManifestStore.versions(spark, base) == Seq(1L),
      "an uncommitted claim must stay invisible after a re-claim")
    // a DIFFERENT txn losing to it must not disturb the crumb either
    assert(!ManifestStore.tryPublishPending(spark, base, mf("x"), 2L, "ee55", journal))
    assert(fs.exists(new Path(base, "pending_v2_dd44")))
    assert(ManifestStore.versions(spark, base) == Seq(1L))
    ManifestStore.abortPending(spark, base, 2L, "dd44")
    // end-to-end: a successful group commit leaves NO journal file, no
    // markers, no crumbs (eager finalize + journal retirement), and
    // its workspaces carried a 128-bit txn id
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.jr_a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.jr_b")
    spark.sql(s"CREATE TABLE $cat.lake.jr_a (k BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.lake.jr_b (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.jr_a VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $cat.lake.jr_b VALUES (1, 1.0)")
    val wss = spark.sql(s"CALL $cat.system.begin_txn('lake.jr_a,lake.jr_b')")
      .collect().map(_.getString(0))
    assert(wss.head.split("__txn_").last.length == 32,
      s"txn id must be the full 128-bit uuid: ${wss.head}")
    wss.foreach(ws => spark.sql(s"INSERT INTO $cat.$ws VALUES (2, 2.0)"))
    spark.sql(s"CALL $cat.system.commit_txn('lake.jr_a,lake.jr_b', " +
      s"'${wss.mkString(",")}')").collect()
    val journalDir = new Path(graft.queries.IOQueries.catalogRoot, ".txn_journal")
    val lingering =
      if (!fs.exists(journalDir)) Array.empty[String]
      else fs.listStatus(journalDir).map(_.getPath.getName)
        .filter(_.contains(wss.head.split("__txn_").last))
    assert(lingering.isEmpty, s"journal must retire: ${lingering.mkString(",")}")
    Seq("jr_a", "jr_b").foreach { t =>
      val names = fs.listStatus(new Path(manBase(t))).map(_.getPath.getName)
      assert(!names.exists(_.startsWith("pending_")), names.mkString(","))
    }
    assert(spark.table(s"$cat.lake.jr_a").count() == 2L)
    assert(spark.table(s"$cat.lake.jr_b").count() == 2L)
  }

  test("review pass 1 pins: all-null columns report null counts but NO NDV " +
      "(CBO divides by it); column stats are CBO-gated; legal exotic column " +
      "names still bucket") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.nullndv")
    spark.sql(s"CREATE TABLE $cat.lake.nullndv (k BIGINT, dead STRING)")
    spark.sql(
      s"INSERT INTO $cat.lake.nullndv SELECT id, CAST(NULL AS STRING) FROM range(0, 50)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val attrStats =
      try spark.table(s"$cat.lake.nullndv")
        .queryExecution.optimizedPlan.stats.attributeStats
      finally spark.conf.set("spark.sql.cbo.enabled", "false")
    val dead = attrStats.find(_._1.name == "dead").map(_._2)
    assert(dead.exists(_.nullCount.exists(_.toLong == 50L)), s"dead: $dead")
    assert(!dead.exists(_.distinctCount.isDefined),
      s"all-null column must not report an NDV: $dead")
    // CBO off -> the sketch merge never runs and no attribute stats
    // surface (the expensive path is gated, not just unused)
    val offStats = spark.table(s"$cat.lake.nullndv")
      .queryExecution.optimizedPlan.stats.attributeStats
    assert(offStats.isEmpty, s"cbo-off must surface no column stats: $offStats")
    // blacklist, not whitelist: a space/dollar name is legal and buckets
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.spacecol")
    spark.sql(s"CREATE TABLE $cat.lake.spacecol (`order id` BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.spacecol VALUES (1, 1.0)")
    spark.sql(
      s"CALL $cat.system.set_bucketing('lake.spacecol', 'order id', 4)").collect()
    spark.sql(s"INSERT INTO $cat.lake.spacecol VALUES (2, 2.0)")
    assert(spark.table(s"$cat.lake.spacecol").count() == 2L)
  }

  test("K56 metadata DELETE: a file-aligned delete commits ZERO new files; " +
      "a file with nulls in the predicate column must rewrite, not drop") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.md_t")
    spark.sql(s"CREATE TABLE $cat.lake.md_t (day BIGINT, v DOUBLE)")
    (0 until 3).foreach { d =>
      spark.sql(
        s"INSERT INTO $cat.lake.md_t SELECT $d, id * 1.0 FROM range(0, 100)")
    }
    val newVersionFiles = { () =>
      val mb = manBase("md_t")
      val v = ManifestStore.versions(spark, mb).last
      GraftLakeTable.manifestRowsFull(spark, mb, v).filter(_.seq == v)
    }
    // file-aligned: every day-0 file has min=max=0, zero nulls -> the
    // whole delete is a manifest edit, no file read or written
    spark.sql(s"DELETE FROM $cat.lake.md_t WHERE day < 1")
    assert(newVersionFiles().isEmpty,
      "a file-aligned DELETE must commit zero new files")
    assert(spark.table(s"$cat.lake.md_t").count() == 200L)
    // a file with NULL days cannot prove "every row matches day < 2":
    // the null row does not match and must survive a rewrite
    spark.sql(
      s"INSERT INTO $cat.lake.md_t VALUES (1, -1.0), (CAST(NULL AS BIGINT), -2.0)")
    spark.sql(s"DELETE FROM $cat.lake.md_t WHERE day < 2")
    val left = spark.table(s"$cat.lake.md_t").collect()
      .map(r => (if (r.isNullAt(0)) -99L else r.getLong(0), r.getDouble(1)))
    assert(left.count(_._1 == 2L) == 100L)
    assert(left.contains((-99L, -2.0)),
      "the null-day row must survive the delete")
    assert(left.length == 101L)
    // the rewrite happened (new files exist): the null file could not
    // metadata-drop
    assert(newVersionFiles().nonEmpty)
  }

  test("E42 followRef stream: unpublished commits are not delivered, a " +
      "lagging ref makes the stream wait, a dropped ref fails with the remedy") {
    ensure()
    import org.apache.spark.sql.functions.{count, lit}
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.refstream_t")
    spark.sql(s"CREATE TABLE $cat.lake.refstream_t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.lake.refstream_t SELECT id, id*1.0 FROM range(0, 10)")
    spark.sql(s"CALL $cat.system.set_ref('lake.refstream_t', 'main', 'branch')").collect()
    val ckpt = java.nio.file.Files.createTempDirectory("refstream").toString + "/ckpt"
    def drain(name: String): Long = {
      val q = spark.readStream.option("followRef", "main")
        .table(s"$cat.lake.refstream_t")
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    assert(drain("rs1") == 10L)
    // head moves, the ref does not: the stream WAITS (delivers nothing)
    spark.sql(s"INSERT INTO $cat.lake.refstream_t SELECT id, id*1.0 FROM range(10, 15)")
    assert(drain("rs2") == 0L, "unpublished commits must not deliver")
    // publish: one ref flip delivers exactly the published versions
    spark.sql(s"CALL $cat.system.set_ref('lake.refstream_t', 'main', 'branch')").collect()
    assert(drain("rs3") == 5L)
    // a dropped ref fails the poll with K55's named remedy
    spark.sql(s"CALL $cat.system.drop_ref('lake.refstream_t', 'main')").collect()
    val err = intercept[Exception] { drain("rs4") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("no ref")), msgs(err).mkString(" | "))
  }

  test("K57 histograms: the snapshot's equi-height histogram (mixture of " +
      "per-file quantile vectors) lets FilterEstimation see through skew") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.hist_t")
    spark.sql(s"CREATE TABLE $cat.lake.hist_t (x BIGINT, v DOUBLE)")
    // 90% of rows at x=5, 10% spread over [0, 999] — two files so the
    // mixture path (not a single vector) is exercised
    (0 until 2).foreach { half =>
      spark.sql(
        s"""INSERT INTO $cat.lake.hist_t
           |SELECT CASE WHEN id % 10 = 0 THEN id % 1000 ELSE 5 END, id * 1.0
           |FROM range(${half * 50000}, ${half * 50000 + 50000})""".stripMargin)
    }
    val actual = spark.sql(
      s"SELECT count(*) FROM $cat.lake.hist_t WHERE x > 500").head.getLong(0)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val (est, attrStats) =
      try {
        val df = spark.table(s"$cat.lake.hist_t").where("x > 500")
        val plan = df.queryExecution.optimizedPlan
        (plan.stats.rowCount.map(_.toLong),
          spark.table(s"$cat.lake.hist_t").queryExecution
            .optimizedPlan.stats.attributeStats)
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    val xStat = attrStats.find(_._1.name == "x").map(_._2)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      import org.apache.spark.sql.connector.read.SupportsReportStatistics
      val v2 = spark.table(s"$cat.lake.hist_t").queryExecution.optimizedPlan
        .collectFirst { case s: DataSourceV2ScanRelation =>
          s.scan.asInstanceOf[SupportsReportStatistics].estimateStatistics() }
      val cs = v2.get.columnStats()
      import scala.jdk.CollectionConverters._
      info("v2 colstats: " + cs.asScala.map { case (k, v) =>
        s"${k.describe()}: ndv=${v.distinctCount()} hist=${v.histogram().isPresent}"
      }.mkString(" | "))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    assert(xStat.exists(_.histogram.isDefined), s"x stats: $xStat")
    assert(xStat.exists(_.min.isDefined) && xStat.exists(_.max.isDefined))
    // uniform over [min,max]=[0,999] would estimate ~50% of 100k; the
    // actual is ~5k; the histogram estimate must land with the actual,
    // not the uniform number
    val uniformEst = 100000L * 499 / 999
    assert(est.isDefined, "CBO must produce a filter estimate")
    assert(est.get < uniformEst / 3,
      s"estimate ${est.get} should beat uniform $uniformEst")
    assert(est.get <= actual * 3 && est.get >= actual / 3,
      s"estimate ${est.get} vs actual $actual")
  }

  test("K57 pin: BIGINT min/max past 2^53 stay EXACT in column stats (no " +
      "Double round-trip)") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.bigmm")
    spark.sql(s"CREATE TABLE $cat.lake.bigmm (k BIGINT, v DOUBLE)")
    // both values are unrepresentable in Double (2^62 + small offsets)
    val (lo, hi) = (4611686018427387905L, 4611686018427387911L)
    spark.sql(s"INSERT INTO $cat.lake.bigmm VALUES ($lo, 1.0), ($hi, 2.0)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val kStat =
      try spark.table(s"$cat.lake.bigmm").queryExecution
        .optimizedPlan.stats.attributeStats.find(_._1.name == "k").map(_._2)
      finally spark.conf.set("spark.sql.cbo.enabled", "false")
    assert(kStat.exists(_.min.contains(lo)), s"min: ${kStat.map(_.min)}")
    assert(kStat.exists(_.max.contains(hi)), s"max: ${kStat.map(_.max)}")
  }

  test("bucket/merge-key names that would corrupt the meta-file JSON wrapper " +
      "refuse by name; the existing meta stays intact") {
    ensure()
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.meta_safe")
    spark.sql(s"""CREATE TABLE $cat.lake.meta_safe (`k"q` BIGINT, v DOUBLE)""")
    spark.sql(s"INSERT INTO $cat.lake.meta_safe VALUES (1, 1.0)")
    val err = intercept[Exception] {
      spark.sql(
        s"""CALL $cat.system.set_bucketing('lake.meta_safe', 'k"q', 4)""").collect()
    }
    assert(err.getMessage.contains("not representable"), err.getMessage)
    // the refusal must leave the table fully readable (no torn meta)
    assert(spark.table(s"$cat.lake.meta_safe").count() == 1L)
    // the CREATE-time bucket transform path refuses the same way
    spark.sql(s"DROP TABLE IF EXISTS $cat.lake.meta_safe2")
    val err2 = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.lake.meta_safe2 (`a"b` BIGINT, v DOUBLE)
           |PARTITIONED BY (bucket(4, `a"b`))""".stripMargin)
    }
    assert(err2.getMessage.contains("not representable"), err2.getMessage)
    // and so does the CREATE-time merge-on-read key
    val err3 = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.lake.meta_safe2 (`a"b` BIGINT NOT NULL, v DOUBLE)
           |TBLPROPERTIES('graft.merge-on-read.key'='a"b')""".stripMargin)
    }
    assert(err3.getMessage.contains("not representable"), err3.getMessage)
  }
}
