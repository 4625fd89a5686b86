package org.apache.spark.sql.graft

import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's native Catalyst expressions, so
  * `spark.sql("SELECT graft_cosine(a, b) ...")` works exactly like the
  * Column API — same codegen'd expression, no UDF wrapper.
  *
  * Two entry points, matching Spark's two registration models:
  *   - [[GraftExtensions]]: a `SparkSessionExtensions` injector for
  *     session-build time (`builder.withExtensions(new GraftExtensions)`
  *     or `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`)
  *     — the production path; every session built from [[graft.GraftSession]]
  *     gets these.
  *   - [[GraftFunctions.register]]: runtime registration into an
  *     already-built session (temp functions) — the notebook/driver path.
  *
  * Lives in the `org.apache.spark.sql` namespace because the runtime
  * path needs `sessionState.functionRegistry` (private[sql]).
  */
object GraftFunctions {

  private def info(name: String, clazz: String): ExpressionInfo =
    new ExpressionInfo(clazz, name)

  /** (name, ExpressionInfo, builder) triples — the FunctionDescription
    * shape `SparkSessionExtensions.injectFunction` expects.
    */
  private[graft] val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", classOf[CosineSimilarity].getName),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("graft_langid"),
      info("graft_langid", classOf[LangIdExpr].getName),
      (children: Seq[Expression]) => LangIdExpr(children.head, TextFunctions.langMarkers)),
    (FunctionIdentifier("graft_min_gram_md5"),
      info("graft_min_gram_md5", classOf[MinGramMd5].getName),
      (children: Seq[Expression]) => MinGramMd5(children.head, 3)),
    // Spark's runtime-filter machinery (BloomFilterAggregate /
    // BloomFilterMightContain) is internal-only — InjectRuntimeFilter
    // uses it, but no SQL name exists. Registering it makes the
    // explicit bloom-semi-join pattern (Q31) expressible on any plan.
    (FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))),
    (FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain",
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))),
    (FunctionIdentifier("graft_rproj"),
      info("graft_rproj", classOf[RademacherProject].getName),
      (children: Seq[Expression]) => RademacherProject(children(0),
        children(1).eval(null).asInstanceOf[Number].intValue())),
    (FunctionIdentifier("graft_cdc_boundaries"),
      info("graft_cdc_boundaries", classOf[CdcBoundaries].getName),
      (children: Seq[Expression]) => CdcBoundaries(children(0),
        children(1).eval(null).asInstanceOf[Number].intValue(),
        children(2).eval(null).asInstanceOf[Number].intValue())),
    (FunctionIdentifier("graft_byte_entropy"),
      info("graft_byte_entropy", classOf[ByteEntropy].getName),
      (children: Seq[Expression]) => ByteEntropy(children.head))
  )

  /** Runtime registration into an existing session (idempotent —
    * names already bound to GRAFT'S OWN expression class are left
    * alone, so operators can call this per-invocation without
    * `createOrReplaceTempFunction`'s "replacing existing function"
    * WARN spamming every bench/verify entry; a name bound to some
    * OTHER class — a stale or conflicting registration in a
    * long-lived session — is replaced, not silently kept).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, einfo, builder) =>
      val ours = registry.lookupFunction(ident)
        .exists(_.getClassName == einfo.getClassName)
      if (!ours)
        registry.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
    // table-valued functions live in a SEPARATE registry (plans, not
    // expressions) — sessions built without GraftExtensions (the
    // driver's plain Verify session) get graft_table here
    val tReg = spark.sessionState.tableFunctionRegistry
    val (tIdent, tInfo, tBuilder) = GraftTableFunction.description
    val oursT = tReg.lookupFunction(tIdent)
      .exists(_.getClassName == tInfo.getClassName)
    if (!oursT) tReg.createOrReplaceTempFunction(tIdent.funcName, tBuilder, "built-in")
  }
}

/** SQL-surface TIME TRAVEL over graft's manifest-versioned lake: the
  * table-valued function `graft_table('<base>'[, version])` resolves,
  * at analysis time, to a parquet scan of EXACTLY the files the
  * pinned manifest version lists — `VERSION AS OF` re-expressed on
  * the `injectTableFunction` rung of the extension ladder (the rung
  * T4b's optimizer rule and the GlobalIndex strategy don't cover).
  *
  * The plan it returns is an ordinary analyzed parquet relation, so
  * everything downstream is stock Catalyst: filters/column pruning
  * push into the pinned scan, joins broadcast, AQE re-plans — time
  * travel costs one driver-side manifest read (a metadata-plane list,
  * the Delta/Iceberg snapshot-resolution pattern) and nothing at
  * execution. A non-committed version fails analysis loudly with the
  * available versions listed.
  */
object GraftTableFunction {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private[graft] val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_table"),
    new ExpressionInfo(GraftTableFunction.getClass.getName, "graft_table"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.size <= 2,
        s"graft_table(base_path[, version]) takes 1 or 2 arguments, got ${children.size}")
      require(children.forall(_.foldable),
        "graft_table arguments must be literals")
      val base = children.head.eval(null) match {
        case null => throw new IllegalArgumentException("graft_table base path is null")
        case s => s.toString
      }
      val version = children.lift(1).map(_.eval(null) match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"graft_table version must be an integer literal, got $other")
      })
      val spark = SparkSession.active
      val (_, manifest) = graft.sinks.ManifestStore.at(spark, base, version)
      val files = manifest.select("file").collect().map(_.getString(0))
      require(files.nonEmpty, s"manifest under $base lists no files")
      ParquetRead(spark, files.toIndexedSeq: _*).queryExecution.analyzed
    })
}

/** Session-build-time injector (`builder.withExtensions(new GraftExtensions)`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach { case (ident, einfo, builder) =>
      ext.injectFunction((ident, einfo, builder))
    }
    // SQL time travel over the manifest lake (VERSION AS OF as a TVF)
    ext.injectTableFunction(GraftTableFunction.description)
    // whole-operator extension: graft's custom physical operators
    ext.injectPlannerStrategy(_ => GraftStrategies)
    // optimizer extension: keep-first windows → struct-min aggregation
    ext.injectOptimizerRule(_ => KeepFirstRewrite)
    // optimizer extension: automatic bloom-filter join pushdown
    // (conf-gated by spark.graft.bloomJoinPushdown, default off)
    ext.injectOptimizerRule(_ => BloomJoinRewrite)
    // AQE stage rule: no query-stage thread waits on a subquery
    ext.injectQueryStageOptimizerRule(_ => ResolveStageSubqueries)
  }
}
