package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointIds
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The relational query layer (SURVEY.md §2 Q1–Q15, T1–T4).
  *
  * The reference exposes "run arbitrary SQL against the stored table"
  * (week_1/data_ingest/data_ingest.py:109 `query_data_from_table`; its
  * defaults are `COUNT(*)` and `SELECT * LIMIT 100`) plus a toy
  * transform (week_2/data_ingest/pipeline.py:178 `transform_data`:
  * first-10-columns projection + constant column). Here that surface is
  * declared as DataFrame plans so Catalyst prunes/pushes/reorders, and
  * widened to the aggregation/join/window shapes the course homework
  * runs.
  *
  * Determinism conventions shared with the DuckDB oracle: every output
  * is explicitly ordered, double aggregates are rounded (2dp for money
  * sums, 4dp for averages) to absorb summation-order ulps.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Q1: the reference's default query — COUNT(*). */
  def qCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  /** Q2: the reference's notebook query (`SELECT * LIMIT 100`), made
    * deterministic with an explicit ordering.
    */
  def qLimit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      // order by every output column: (orderkey, linenumber) ties at
      // larger SFs would make the LIMIT boundary engine-dependent
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .limit(100)

  /** Q3: filter + projection; both reach the parquet scan (PushedFilters). */
  def qFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q4: TPC-H Q1 pricing summary — partial aggregation (map-side
    * combine) means the shuffle carries one row per (flag,status) per
    * task regardless of input size.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q5: multi-way dimension join. `nation`/`region` are broadcast —
    * no shuffle on the dimension side at any SF; the orders⋈customer
    * join shuffles on the key only after Catalyst prunes both sides to
    * the joined/aggregated columns.
    */
  def qJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region"))
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  /** Q6: top-K spenders. Ordered by the *rounded* aggregate so the
    * ranking is identical across engines; ties broken by key.
    */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum("o_totalprice"), 2).as("spend"))
      .orderBy(col("spend").desc, col("c_custkey"))
      .limit(10)

  /** Q7: date roll-up over the events stream table (the course's
    * per-day trip-count/revenue shape).
    */
  def qDaily(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("d", "event_type")

  /** Q8: window functions — top-3 orders per customer by price, with a
    * deterministic running total. Single shuffle on o_custkey serves
    * both window functions (same partitioning).
    */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "rnk", "running_spend")
      .orderBy("o_custkey", "rnk")
  }

  /** Q9: exact distinct counts (approx HLL variant in
    * [[approxDistinct]] — spec-tested, not oracle-gated).
    */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))

  /** Approx count-distinct (HyperLogLog++). At 100 TB this is the one
    * to run: fixed-size sketches merge map-side instead of shuffling
    * the full distinct key set.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("n_parts_approx"),
        approx_count_distinct(col("l_suppkey"), 0.01).as("n_supps_approx"))

  /** Q10: HAVING — post-aggregation filter. */
  def qHaving(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .filter(col("n") > 35)
      .orderBy("l_partkey")

  /** Q11: conditional aggregation (pivot-style status breakdown). */
  def qCase(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"))
      .orderBy("o_orderpriority")

  /** Q12: anti join — orders that have no lineitems. Spark plans a
    * broadcast/shuffled hash anti-join; no NOT-IN materialization.
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")

  /** Q13: "orders above their customer's average" — the correlated
    * subquery decorrelated into an aggregate + equi-join, which is the
    * plan shape that scales (one shuffle on the grouping key).
    */
  def qSubquery(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val avgs = orders.groupBy(col("o_custkey").as("k"))
      .agg(avg("o_totalprice").as("cust_avg"))
    orders.join(avgs, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** Q14: set operations — nations with customers vs nations with
    * suppliers (INTERSECT / EXCEPT / UNION ALL).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = t(spark, dir, "customer").select(col("c_nationkey").as("nk"))
    val suppNations = t(spark, dir, "supplier").select(col("s_nationkey").as("nk"))
    val both = custNations.intersect(suppNations).withColumn("tag", lit("both"))
    val custOnly = custNations.except(suppNations).withColumn("tag", lit("cust_only"))
    both.unionAll(custOnly).select("tag", "nk").orderBy("tag", "nk")
  }

  /** Q15: arbitrary-SQL passthrough over registered views — the literal
    * capability of the reference's `query_data_from_table` (user ships a
    * SQL string).
    */
  /** Q48: SQL session variables + EXECUTE IMMEDIATE (the Spark 4
    * scripting surface): the analysis threshold lives in a DECLAREd
    * typed variable, is re-bound with SET VAR, and the query text is
    * dispatched through EXECUTE IMMEDIATE with a USING parameter —
    * the dynamic-SQL idiom dashboard backends and migration scripts
    * use instead of string interpolation (parameters are BOUND, not
    * spliced — no quoting bugs, plans cacheable by shape). The
    * oracle is the equivalent query with the literal inlined:
    * variable binding must be semantically invisible.
    */
  def qSqlScript(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql("DECLARE OR REPLACE VARIABLE graft_qty_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR graft_qty_floor = 45.0")
    spark.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT l_returnflag, count(*) AS n,
        |          round(sum(l_extendedprice), 2) AS total
        |   FROM lineitem WHERE l_quantity >= ? GROUP BY 1 ORDER BY 1'
        |  USING graft_qty_floor""".stripMargin)
  }

  /** Q53: PARAMETERIZED SQL — Spark 4's named parameter markers
    * (`spark.sql(text, args)`): the injection-safe form of the
    * reference's arbitrary-query API (week_1 data_ingest's
    * `query_data_from_table(query)` takes a raw string; production
    * parameterizes). Markers bind as LITERALS in the analyzed plan —
    * never string-spliced — so a hostile value cannot change the
    * statement shape, and Catalyst constant-folds/pushes them like
    * any literal (the date bounds land in the parquet scan's
    * PushedFilters exactly as if written inline).
    */
  def qSqlParams(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= CAST(:lo AS DATE)
        |  AND o_orderdate <  CAST(:hi AS DATE)
        |  AND o_totalprice > :floor
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("lo" -> "1996-01-01", "hi" -> "1997-01-01", "floor" -> 50000.0))
  }

  /** Q54: SQL PIPE syntax — Spark 4's `|>` operator chain
    * (FROM → WHERE → EXTEND → AGGREGATE ... GROUP BY → WHERE →
    * ORDER BY), the linear form of the reference's ad-hoc query loop
    * (each pipeline stage reads top-to-bottom instead of
    * inside-out-nested subqueries). The surface is pure parser sugar:
    * the chain lowers to exactly the Aggregate/Filter/Sort plan the
    * classic form produces, so Catalyst's pushdown/pruning and
    * whole-stage codegen are identical — the oracle replays the
    * classic spelling in DuckDB and the hash must agree. The
    * post-AGGREGATE `WHERE` is pipe-HAVING; `EXTEND` appends a
    * computed column without re-listing the projection.
    */
  def qSqlPipe(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """FROM lineitem
        ||> WHERE l_shipdate IS NOT NULL AND l_quantity > 10
        ||> EXTEND l_extendedprice * (1 - l_discount) AS net
        ||> AGGREGATE count(*) AS n, round(sum(net), 2) AS revenue,
        |             round(avg(l_quantity), 4) AS avg_qty
        |   GROUP BY l_returnflag, l_linestatus
        ||> WHERE n > 0
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  def qSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT r_name, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin)
  }

  /** Q35: recursive CTE — multi-hop graph reachability in pure SQL
    * (`WITH RECURSIVE`, new in Spark 4): BFS over a sparse co-purchase
    * graph (customers become neighbors when they share >= 4 distinct
    * parts — strong ties stay sparse on uniform data), seeded from the
    * highest-balance accounts, bounded at 2 hops. The
    * recursion IS the scalable frontier-expansion shape — each
    * iteration is one frontier⋈edges join, exactly what the iterative
    * DataFrame loop in D8 does by hand; the SQL form lets Catalyst own
    * the loop. The shared-part support threshold keeps the
    * graph sparse so UNION ALL frontiers stay bounded; min(hop) outside the recursion gives
    * engine-order-independent results. Same SQL runs on DuckDB — the
    * oracle is nearly verbatim.
    */
  def qRecursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH RECURSIVE pc AS (
        |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), edges AS (
        |  SELECT a.cust AS src, b.cust AS dst
        |  FROM pc a JOIN pc b ON a.part = b.part AND a.cust <> b.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 4
        |), seeds AS (
        |  SELECT c_custkey AS cust FROM customer WHERE c_acctbal > 9900
        |), hops (cust, hop) AS (
        |  SELECT cust, 0 FROM seeds
        |  UNION ALL
        |  SELECT e.dst, h.hop + 1
        |  FROM hops h JOIN edges e ON e.src = h.cust
        |  WHERE h.hop < 2
        |)
        |SELECT cust, CAST(min(hop) AS INT) AS hop
        |FROM hops GROUP BY cust ORDER BY cust""".stripMargin)
  }

  /** Q36: correlated LATERAL join (SQL:2016, supported since Spark
    * 3.4 for correlated subqueries with LIMIT): top-2 orders per
    * high-balance customer written as a per-row subquery — the "for
    * each row, run this query" form analysts reach for. Catalyst
    * DECORRELATES it into the same rank-window plan Q8 hand-writes
    * (`DomainJoin` → window top-k, WindowGroupLimit applies), so the
    * declarative per-row form costs one join + one bounded window, not
    * |customers| subquery executions — the reason lateral is safe at
    * 100 TB. Oracle is near-verbatim (DuckDB executes the same SQL).
    */
  def qLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c_custkey, t.o_orderkey,
        |       round(t.o_totalprice, 2) AS o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_acctbal > 9000
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** Q16: ROLLUP — hierarchical subtotals + grand total in one pass
    * (one shuffle; Spark expands the grouping sets map-side). Subtotal
    * rows carry NULL group keys, coalesced to 'ALL' so both engines
    * order and hash them identically.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("total"))
      .orderBy("rf", "ls")

  /** T6: PIVOT — status columns out of status rows (the reporting
    * shape). The pivot values are declared, so the plan is a single
    * conditional aggregation — no second pass to discover columns.
    */
  def tPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .orderBy("o_orderpriority")

  /** T1: the reference's transform verbatim in semantics — first 10
    * columns + constant annotation column
    * (week_2/data_ingest/pipeline.py:178-189).
    */
  def tProjectConst(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.select(li.columns.take(10).map(col): _*)
      .withColumn("transformation", lit("this is an artificial transformation just to practice prefect"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** T2: schema normalization — renames + explicit casts (floor before
    * int cast: Spark truncates, DuckDB rounds, floor makes both agree).
    */
  def tCastRename(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        floor(col("l_quantity")).cast("int").as("qty"),
        // decimal cast demonstrates the normalization; surfaced as double so
        // the parquet dump and the DuckDB oracle agree on physical type
        col("l_extendedprice").cast("decimal(18,2)").cast("double").as("price_dec"),
        col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("order_id", "line_no")

  /** T3: null handling — inject nulls deterministically, then fill. */
  def tNulls(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("status_maybe", when(col("o_orderstatus") === "P", lit(null).cast("string")).otherwise(col("o_orderstatus")))
      .na.fill(Map("status_maybe" -> "UNKNOWN"))
      .select("o_orderkey", "status_maybe")
      .orderBy("o_orderkey")

  /** T5: skew-resistant aggregation — the salting pattern. The group
    * key here (l_returnflag, 3 distinct values) is maximally skewed:
    * a naive groupBy sends each key's entire mass to one reducer. The
    * salt fans each hot key across `salts` reducers for the heavy
    * partial phase; the final phase re-aggregates `salts` rows per key.
    * Result is provably identical to the unsalted aggregate (sum/count
    * are associative), which is what the oracle checks. (Spark's
    * map-side partial aggregation usually makes this unnecessary for
    * algebraic aggs — the pattern matters for holistic aggs like
    * collect_list/percentile and for skewed JOIN keys.)
    */
  def tSaltedAgg(spark: SparkSession, dir: String, salts: Int = 16): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
      .groupBy("l_returnflag", "salt")
      .agg(sum("l_quantity").as("partial_qty"), count(lit(1)).as("partial_n"))
      .groupBy("l_returnflag")
      .agg(
        round(sum("partial_qty"), 2).as("qty"),
        sum("partial_n").as("n"))
      .orderBy("l_returnflag")

  /** Q17: CUBE — all grouping combinations in one pass (one shuffle,
    * grouping sets expanded map-side, like [[qRollup]] but the full
    * lattice). NULL group keys coalesced to 'ALL' for cross-engine
    * ordering/hashing.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
      .orderBy("rf", "ls")

  /** Q18: exact percentiles (linear interpolation) per group. Exact
    * percentile is a holistic aggregate — fine per-group here; at
    * 100 TB the sketch twin is `approx_percentile` (KLL-style fixed
    * state, map-side mergeable), same plan shape.
    */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame = {
    // percentile_disc (SQL standard: smallest value with cume_dist >= p)
    // picks an ACTUAL element, so both engines return the identical
    // parquet double — continuous interpolation arithmetic diverges by
    // an ulp across engines and can round to a different cent.
    def pd(p: Double, as: String) =
      round(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY l_extendedprice)"), 2).as(as)
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(pd(0.25, "p25"), pd(0.5, "p50"), pd(0.75, "p75"), pd(0.95, "p95"))
      .orderBy("l_returnflag")
  }

  /** T17: SCD Type-2 dimension build — turn an entity's change stream
    * into versioned rows with effective-date ranges (valid_from /
    * valid_to, open-ended current row), the standard warehouse shape
    * for tracking attribute history. Consecutive same-value rows
    * collapse (a version exists only where the attribute CHANGED).
    *
    * Plan: ONE shuffle on the entity key serves everything — the
    * change-detection lag, the post-filter version numbering and the
    * valid_to lead all share hashpartitioning(custkey), so Catalyst
    * plans lag → filter → (row_number, lead) over a single Exchange
    * (the filter preserves partitioning; the second sort collapses).
    * At 100 TB this is the canonical way to rebuild a dimension from
    * CDC history: linear in changes, no self-join.
    */
  def tScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate"), col("o_orderkey"),
        lag("o_orderstatus", 1).over(w).as("prev"))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .select(col("o_custkey"),
        row_number().over(w).as("version"),
        col("status"),
        col("o_orderdate").as("valid_from"),
        lead("o_orderdate", 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("o_custkey", "version")
  }

  /** Q18b: approximate percentiles — `approx_percentile`'s fixed-size
    * mergeable sketch (Greenwald-Khanna style) is the quantile to run
    * at 100 TB: partial sketches combine map-side and one small state
    * object per (group, partition) crosses the shuffle, vs Q18's exact
    * percentile buffering every value per group on the reducer. Rank
    * error ≤ 1/accuracy by contract; Round5Spec bounds the realized
    * value error against the exact Q18. No SQL oracle (sketch
    * estimates are engine-specific) → rows-only driver check + spec.
    */
  def qQuantilesApprox(spark: SparkSession, dir: String, accuracy: Int = 10000): DataFrame = {
    val ps = percentile_approx(col("l_extendedprice"),
      array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(accuracy))
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(ps.as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 2).as("p25"),
        round(element_at(col("ps"), 2), 2).as("p50"),
        round(element_at(col("ps"), 3), 2).as("p75"),
        round(element_at(col("ps"), 4), 2).as("p95"))
      .orderBy("l_returnflag")
  }

  /** T16: Z-order clustering key — bit-interleave two dimensions so ONE
    * sort key preserves locality in BOTH (the technique behind
    * OPTIMIZE ZORDER in lakehouse table formats): rows close in
    * (customer, price band) land in the same file after a K10-style
    * sort-clustered write on `zkey`, so per-file min/max stats prune
    * scans filtered on EITHER dimension — the data-skipping move that
    * matters most at 100 TB, where the fastest byte is the one never
    * read. The key is pure bit arithmetic in the scan projection
    * (codegen, zero shuffle).
    *
    * Output: per top-8-bit z-bucket, member count and the per-dimension
    * bounding box — tight boxes on both axes are the evidence the curve
    * localizes (a plain sort on x gives tight x-boxes but y spanning
    * the whole domain).
    */
  def tZorder(spark: SparkSession, dir: String, bits: Int = 10): DataFrame = {
    val base = t(spark, dir, "orders").select(
      (col("o_custkey").cast("long") % 1024).as("x"),
      (floor(col("o_totalprice") / 1000.0).cast("long") % 1024).as("y"))
    val zkey = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc +
        shiftleft(shiftright(col("x"), b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(col("y"), b).bitwiseAND(lit(1L)), 2 * b + 1)
    }
    base.select(col("x"), col("y"), zkey.as("zkey"))
      .groupBy(shiftright(col("zkey"), 12).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("min_cust"), max("x").as("max_cust"),
        min("y").as("min_band"), max("y").as("max_band"))
      .orderBy("bucket")
  }

  /** Q19: range (band) join — each order priced into a static band
    * table via an interval predicate. The band side is tiny and
    * broadcast, so the theta-join is a map-side nested loop over ~6
    * rows — no shuffle, no quadratic blowup; the general scale pattern
    * for banding is exactly this (broadcast the bands), or precompute
    * the band key arithmetically when bands are uniform.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val bands = broadcast(spark.createDataFrame(Seq(
      (0, 0d, 100000d), (1, 100000d, 200000d), (2, 200000d, 300000d),
      (3, 300000d, 400000d), (4, 400000d, 500000d), (5, 500000d, 1e18)
    )).toDF("band", "lo", "hi"))
    t(spark, dir, "orders")
      .join(bands, col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("band")
  }

  /** T7: deterministic hash sampling (per-stratum rates reported).
    * The sample predicate is pure integer arithmetic (Knuth
    * multiplicative hash mod 20 ≈ 5%) — reproducible on any engine,
    * any partitioning, any run, unlike `rand()`-based `sample()`.
    * That reproducibility is what makes a 100 TB dev-subset pipeline
    * debuggable; the filter evaluates inside the scan (codegen) and
    * costs nothing.
    */
  def tSampleHash(spark: SparkSession, dir: String, mod: Int = 20): DataFrame =
    t(spark, dir, "lineitem")
      .filter(pmod(
        col("l_orderkey").cast("long") * lit(2654435761L) +
          col("l_linenumber").cast("long") * lit(40503L),
        lit(4294967296L)) % mod === 0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_sampled"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("l_returnflag")

  /** T8: stratified deterministic sampling — per-stratum rates via the
    * same multiplicative-hash predicate as T7, but with the modulus
    * chosen per group: abundant strata downsampled hard, rare strata
    * kept at a high rate. This is the training-mixture shape (cap the
    * head domain, keep the tail) and stays a pure scan-side filter —
    * reproducible on any engine/partitioning, zero shuffle, codegen.
    */
  def tStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("o_orderkey").cast("long") * lit(2654435761L), lit(4294967296L))
    val mod = when(col("o_orderstatus") === "F", 10)   // abundant: 10%
      .when(col("o_orderstatus") === "O", 20)          // abundant: 5%
      .otherwise(2)                                    // rare P: 50%
    t(spark, dir, "orders")
      .filter(h % mod === 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** T23: weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    * draw k documents with inclusion probability ∝ weight (here
    * n_chars — sampling ∝ length is sampling ∝ token budget, the
    * mixture-sampling rung T7/T8's uniform-rate filters can't reach).
    * Each row gets key = −ln(u)/w from a per-row deterministic uniform
    * u; the global k smallest keys ARE the weighted sample — one pass,
    * no acceptance loops, no replacement bookkeeping.
    *
    * Determinism across engines: u = (knuth_hash(doc_id)+0.5)/2^32 —
    * exact double arithmetic on both sides; the single ln is
    * pico-rounded (×1e12: keys span (0, ~22], so micro would alias the
    * small-key end where the winners live) following the repo's
    * micro-integer convention for order-sensitive doubles.
    *
    * Scale shape: keys are born in the scan projection; the global
    * top-k is `orderBy().limit(k)` which Spark plans as
    * TakeOrderedAndProject — a per-partition bounded top-k merge (k
    * rows per partition cross the wire), never a global sort. Zero
    * joins, zero windows; corpus rows are touched exactly once.
    */
  def tWeightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
    val u = (h.cast("double") + 0.5) / 4294967296.0
    Tables.load(spark, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").as("w"),
        round(-log(u) / col("n_chars") * 1e12).cast("long").as("key_pico"))
      .orderBy(col("key_pico"), col("doc_id"))
      .limit(k)
  }

  /** Q24: NTILE deciles over per-customer spend — WITHOUT the global
    * single-task ranking window (VERDICT r14 #6: the per-customer
    * aggregate at 100 TB is not small). The total order (spend,
    * o_custkey) is range-partitioned and ranked in two passes: sort
    * within each range partition, collect the per-partition counts
    * (P values — metadata-scale, the hyperball-readout posture), and
    * each row's GLOBAL rank is its partition-local row_number plus the
    * preceding partitions' cumulative count. The decile is then NTILE's
    * positional formula from (rank, n) in exact integer arithmetic —
    * bit-identical to `ntile(10) OVER (ORDER BY spend, o_custkey)`
    * (Round15Spec pins the equivalence on hand and random frames; the
    * DuckDB oracle hash-matches the output), with the single-partition
    * sort replaced by a parallel range sort.
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    val spend = t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("spend"))
    ntileDecilesOf(spend)
  }

  /** [[qNtile]]'s core over ANY (o_custkey, spend) frame — split out so
    * the spec can pin rank-formula ≡ NTILE-window on hand frames.
    */
  private[graft] def ntileDecilesOf(spend: DataFrame): DataFrame = {
    val spark = spend.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // checkpoint pins the range boundaries: the counts action and the
    // final plan must see the SAME row→partition assignment (the range
    // partitioner samples per execution)
    val ranged = CheckpointIds.scoped(spark)(cp => cp(spend
      .repartitionByRange(p, col("spend"), col("o_custkey"))
      .sortWithinPartitions("spend", "o_custkey")
      .withColumn("pid", spark_partition_id())))
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    // running offset of each partition in the global order (range
    // partitions are non-overlapping and internally sorted)
    val offsets = (0 until p).scanLeft(0L)((acc, i) => acc + counts.getOrElse(i, 0L))
    val offsetCol = element_at(typedlit(offsets.take(p).toSeq), col("pid") + 1)
    val w = Window.partitionBy("pid").orderBy(col("spend"), col("o_custkey"))
    // NTILE(10) positionally: q = n div 10 and rem = n mod 10; tiles
    // 1..rem hold q+1 rows, tiles rem+1..10 hold q; rank r maps to
    // ceil(r / (q+1)) in the padded region and rem + ceil((r − rem·
    // (q+1)) / q) after it — exact integer ceil via (x + d − 1) div d.
    // q = 0 (n < 10) keeps every row in the padded region (r ≤ n =
    // rem·1), so the q-division branch is unreachable there.
    val q = n / 10
    val rem = n % 10
    // coalesce only restores ntile()'s non-null schema: DIV is nullable
    // by type (divide-by-zero yields null) but both divisors here are
    // positive constants, so the 0 sentinel never occurs
    val decile = coalesce(expr(
      s"CASE WHEN r <= ${rem * (q + 1)}L THEN (r + ${q}L) DIV ${q + 1}L " +
        s"ELSE ${rem}L + (r - ${rem * (q + 1)}L + ${q - 1}L) DIV ${math.max(q, 1L)}L END"),
      lit(0L))
    ranged
      .withColumn("r", row_number().over(w).cast("long") + offsetCol)
      .withColumn("decile", decile.cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        round(min("spend"), 2).as("min_spend"),
        round(max("spend"), 2).as("max_spend"))
      .orderBy("decile")
  }

  /** Q20: explicit GROUPING SETS — the non-hierarchical marginals
    * ((returnflag), (linestatus)) that neither ROLLUP nor CUBE
    * expresses alone. One pass, grouping-set expansion map-side.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
      .orderBy("rf", "ls")

  /** Q21: statistical aggregates per group — Pearson correlation,
    * sample stddev/covariance. All three are single-pass mergeable
    * moment sketches (sum, sum², cross-sum) — the same partial-agg
    * shuffle shape as a plain SUM at any scale. Rounded to absorb
    * merge-order ulps vs the oracle.
    */
  def qStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(stddev_samp(col("l_extendedprice")), 2).as("price_stddev"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"))
      .orderBy("l_returnflag")

  /** Q22: LAG — days since the customer's previous order. One shuffle
    * on the partition key; the (date, key) ordering is total so the
    * lag target is deterministic at any SF.
    */
  def qLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("days_since_prev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q23: EXISTS semantics — orders having at least one high-quantity
    * line item, as a left-semi join (the plan EXISTS compiles to; no
    * row multiplication, the probe side short-circuits per key).
    */
  def qExists(spark: SparkSession, dir: String): DataFrame = {
    val bigLines = t(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"))
    t(spark, dir, "orders")
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** T4: keep-first dedup by key (idempotent re-ingest semantics —
    * what the reference's `if_exists='replace'` is standing in for).
    *
    * Formulated as `min(struct(...))` — lexicographic struct min IS
    * keep-first under the (linenumber, partkey, quantity) total order
    * (ties at larger SFs break on the later fields, so the winner is
    * deterministic). A hash aggregate beats the row_number window here
    * on both axes at scale: no sort anywhere (the window needs a full
    * per-partition sort even with WindowGroupLimit), and partial
    * aggregation bounds the shuffle at one buffer row per (key,
    * partition) — the same bound WindowGroupLimit achieves, minus the
    * sort CPU.
    */
  def tDedupKey(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(min(struct("l_linenumber", "l_partkey", "l_quantity")).as("f"))
      .select(col("l_orderkey"), col("f.l_linenumber").as("l_linenumber"),
        col("f.l_partkey").as("l_partkey"), col("f.l_quantity").as("l_quantity"))
      .orderBy("l_orderkey")

  /** T4b: the same keep-first dedup WRITTEN as the naive
    * `row_number() ≤ 1` window — and rewritten to T4's struct-min
    * aggregation by the [[org.apache.spark.sql.graft.KeepFirstRewrite]]
    * optimizer rule (the `injectOptimizerRule` extension rung: the
    * "keep-first is an aggregation, not a window" lesson applied by the
    * engine, not the query author). Round7Spec asserts the optimized
    * plan contains no Window or Sort; the oracle is T4's — identical
    * results are the point.
    */
  def tDedupKeyRule(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.KeepFirstRewrite.ensure(spark)
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_quantity")
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey")
  }

  /** Q37: skyline / Pareto frontier — parts no other part beats on BOTH
    * (size, retail price), minimizing both. The multi-objective "best
    * tradeoffs" query (cheapest-per-footprint here; quality-vs-cost
    * curves in a curation pipeline).
    *
    * The naive form is a quadratic NOT EXISTS self-join — the oracle
    * keeps that shape because DuckDB can afford it at oracle scale. The
    * operator instead exploits that a 2-D skyline is a cumulative-min
    * sweep: (1) per-size min price — ONE partial-aggregated shuffle on
    * the bounded-cardinality size key; (2) a strict running min over
    * smaller sizes — a window over the ≤|distinct sizes| aggregate rows
    * (the single-partition window touches dozens of rows, never the
    * corpus); (3) survivors broadcast back onto the part scan to
    * recover every tied part at each frontier point. Corpus cost: one
    * aggregation shuffle + one broadcast join, at any scale.
    *
    * Survival rule (strict dominance, ties co-survive): a part lives
    * iff its price equals its size's min AND is strictly below every
    * smaller size's min.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
    val w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    val frontier = p.groupBy("p_size").agg(min("p_retailprice").as("min_price"))
      .withColumn("prev_min", min("min_price").over(w))
      .filter(col("prev_min").isNull || col("min_price") < col("prev_min"))
      .select(col("p_size").as("f_size"), col("min_price"))
    p.join(broadcast(frontier),
        p("p_size") === col("f_size") && p("p_retailprice") === col("min_price"))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_size", "p_partkey")
  }

  /** Q52: point-in-time dimension join — facts resolved against the
    * SCD2 version (T17's build) that was valid WHEN THE FACT HAPPENED,
    * the query-side half of the slowly-changing-dimension contract
    * (T29 does the same for feature assembly over events; this is the
    * warehouse fact-to-dim form every BI rollup needs once a dimension
    * has history). Each lineitem's revenue lands under the customer
    * STATUS in force at ship time, not today's status.
    *
    * Scale shape: this is NOT a range join — the join is EQUI on the
    * entity key with the validity range as a post-join filter, correct
    * because versions-per-entity is bounded (a handful of status
    * flips), so the fan-out before the filter is |facts|·versions ≈
    * O(|facts|). Half-open ranges `[valid_from, valid_to)` chain
    * exactly (T17 guarantees it), so each fact matches AT MOST one
    * version; a fact dated BEFORE its entity's first version has no
    * dimension truth to join to and is excluded (inner PIT semantics —
    * the synthetic feed ships some lineitems before their customer's
    * first order, and inventing a status for those would be leakage).
    * Both laws are spec-pinned against an independent count. One
    * shuffle per side on the key; at
    * 100 TB both sides would pre-bucket on custkey and the exchange
    * disappears.
    */
  def qPitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = tScd2(spark, dir)
      .select(col("o_custkey").as("d_custkey"), col("status"),
        col("valid_from"), col("valid_to"))
    val facts = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
    facts.join(dim,
        col("o_custkey") === col("d_custkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("status")
  }
}
