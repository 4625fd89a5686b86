package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: MATERIALIZED-VIEW substitution — the classic
  * warehouse optimization (Oracle query rewrite, BigQuery/Snowflake
  * materialized views, Databricks MV): a query whose plan matches a
  * registered view DEFINITION is answered from the view's
  * MATERIALIZATION instead of the base table. At 100 TB the economics
  * are decisive: the fact-table aggregate the dashboard fleet re-runs
  * every few minutes becomes a scan of a few thousand pre-aggregated
  * rows — the rewrite moves work from query time (× every consumer)
  * to refresh time (× once), and T18/E20 already own the refresh half
  * (incremental aggregate maintenance); this rule is the missing
  * CONSUMPTION half, with zero query-author involvement.
  *
  * Matching contract (stated not inferred): a plan subtree matches a
  * registered view exactly iff its CANONICALIZED optimized form
  * equals the definition's — Catalyst's own `sameResult` machinery
  * (expression-id-normalized structural equality), the same test
  * `ReuseExchange`/cached-plan lookup trust. A NON-exact aggregate
  * can still match by ROLLUP ([[tryRollup]], r14 #6): same child by
  * `sameResult`, grouping expressions that are functions of the
  * view's grouping outputs, and SUM/COUNT/MIN/MAX aggregates over the
  * view's own aggregate arguments — answered by compensating
  * re-aggregation over the materialization (sum-of-sums et al).
  * Substitution preserves the matched subtree's output attribute ids
  * via aliasing, so parent operators' references stay valid.
  *
  * Conf discipline: opt-in via `spark.graft.mvRewrite` (the Q50
  * convention — no other registry entry's plan changes); the catalog
  * is keyed by applicationId so a new context never sees a stale
  * registration. Staleness contract: the materialization answers for
  * the base data AS OF refresh time — the same freshness trade every
  * MV system documents; K9/K23's versioned lake is where a production
  * deployment would pin that snapshot explicitly.
  */
object MvRewrite extends Rule[LogicalPlan] {

  private case class Mv(definition: LogicalPlan, materialization: LogicalPlan)

  private val catalog =
    scala.collection.concurrent.TrieMap.empty[String, Mv]

  def ensure(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite

  /** Materialize `definition` to `path` and register it for
    * substitution. The stored match key is the OPTIMIZED canonical
    * plan (the rule runs after the main optimizer batches, so
    * incoming subtrees are in the same normal form).
    */
  def register(spark: SparkSession, name: String,
               definition: DataFrame, path: String): Unit = {
    definition.write.mode("overwrite").parquet(path)
    val mat = ParquetRead(spark, path)
    // the substitution below restores names/exprIds/nullability, but
    // it cannot repair a TYPE drift through the parquet round-trip —
    // refuse at register time rather than corrupting parent operators
    // compare under asNullable normalization: parquet read-back widens
    // NESTED nullability too (array containsNull, struct field
    // nullability), which is the benign widening the substitution
    // repairs — only a genuine TYPE change should refuse
    val defTypes = definition.queryExecution.optimizedPlan.output
      .map(_.dataType.asNullable)
    val matTypes = mat.queryExecution.analyzed.output
      .map(_.dataType.asNullable)
    require(defTypes == matTypes,
      s"materialization of '$name' changed column types: $defTypes -> $matTypes")
    // entries of stopped applications never match again (appId-prefixed
    // keys) but would pin their plans forever in a JVM that restarts
    // contexts — evict everything not owned by a LIVE context here
    val live = org.apache.spark.SparkContext.getActive.map(_.applicationId).toSet
    catalog.keys.filterNot(k => live.exists(id => k.startsWith(id + "|")))
      .foreach(catalog.remove)
    catalog.put(spark.sparkContext.applicationId + "|" + name,
      Mv(definition.queryExecution.optimizedPlan,
        mat.queryExecution.analyzed))
  }

  /** Drop this application's registrations (test/data-refresh hook). */
  def clear(spark: SparkSession): Unit = {
    val prefix = spark.sparkContext.applicationId + "|"
    catalog.keys.filter(_.startsWith(prefix)).foreach(catalog.remove)
  }

  /** A fresh-leafed instance of the materialization — two matches in
    * one plan (a self-join of the aggregate) must not share output
    * exprIds, the post-analysis invariant the analyzer's
    * DeduplicateRelations normally maintains. Output order is
    * positionally aligned with the original materialization's.
    */
  private def freshMat(v: Mv): LogicalPlan = v.materialization.transform {
    case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
      m.newInstance().asInstanceOf[LogicalPlan]
  }

  /** ROLLUP MATCHING (r14 #6, the half of warehouse MV economics past
    * exact-match): a query aggregate whose child `sameResult`s the
    * VIEW's child and whose grouping expressions are functions of the
    * view's GROUPING OUTPUTS is answered by COMPENSATING
    * RE-AGGREGATION over the materialization — `month(day)` over a
    * daily MV becomes a GROUP BY over the MV's rows with sum-of-sums /
    * sum-of-counts / min-of-mins / max-of-maxes. At 100 TB the daily
    * MV is fact-scale ÷ grain; every coarser consumer (weekly,
    * monthly, yearly, all-time) now scans |days| pre-aggregated rows
    * instead of the fact table, from ONE materialization.
    *
    * Decomposition contract (stated, not inferred): SUM(e) → SUM(mv
    * sum of e); COUNT(*)/COUNT(e) → SUM(mv count) coalesced to 0 and
    * cast back (count is non-nullable, a re-summed count stays so by
    * construction); MIN/MAX(e) → MIN/MAX(mv min/max of e); AVG(e) →
    * Σ(mv sums)/Σ(mv counts) when the view carries BOTH the matching
    * SUM(e) and COUNT(e) (exact — both sides aggregate the identical
    * base rows; decimal inputs refuse: Spark's decimal-division
    * rounding is not reproducible through the two-step form).
    * DISTINCT / FILTER aggregates never decompose; any unmappable
    * aggregate or a grouping expression that doesn't reduce to the
    * view's grouping outputs leaves the query untouched — refusal is
    * the safe side.
    */
  /** Strip deterministic Project layers off an aggregate child,
    * returning the BASE plan plus a substitution from every stripped
    * output attribute to its defining expression over the base's
    * attributes. This is what makes rollup matching robust to the
    * optimizer's own rewrites: `PullOutGroupingExpressions` hoists
    * complex grouping expressions into a Project below the Aggregate
    * and column pruning shapes that Project differently per consumer,
    * so the query's child and the view's child rarely `sameResult`
    * verbatim even when they read the same base — comparing the BASES
    * and inlining both sides' projections restores the match.
    */
  private def stripProjects(plan: LogicalPlan)
      : (LogicalPlan, AttributeMap[Expression]) = plan match {
    case Project(list, child) if list.forall {
        case _: org.apache.spark.sql.catalyst.expressions.AttributeReference => true
        case a: Alias => a.child.deterministic
        case _ => false
      } =>
      val (base, sub) = stripProjects(child)
      def inline(e: Expression): Expression =
        e.transformUp { case a: Attribute => sub.getOrElse(a, a) }
      val pairs: Seq[(Attribute, Expression)] = list.map {
        case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          (ar: Attribute) -> sub.getOrElse(ar, ar)
        case al: Alias => (al.toAttribute: Attribute) -> inline(al.child)
      }
      (base, AttributeMap(pairs))
    case other => (other, AttributeMap.empty[Expression])
  }

  private def tryRollup(q: Aggregate, v: Mv): Option[LogicalPlan] =
    v.definition match {
      case Aggregate(_, mvAggExprs, mvChild, _) =>
        // compare the aggregates' children at their PROJECT-FREE bases
        // (see stripProjects); sameResult ⇒ positionally corresponding
        // outputs, so the view's expressions rewrite into the query's
        // attribute space before any semantic comparison
        val (qBase, qSub) = stripProjects(q.child)
        val (mvBase, mvSub) = stripProjects(mvChild)
        if (!qBase.sameResult(mvBase) ||
            qBase.output.length != mvBase.output.length) return None
        val toQuerySpace = AttributeMap(mvBase.output.zip(qBase.output))
        def inlineQ(e: Expression): Expression =
          e.transformUp { case a: Attribute => qSub.getOrElse(a, a) }
        def toQ(e: Expression): Expression =
          e.transformUp { case a: Attribute => mvSub.getOrElse(a, a) }
            .transform { case a: Attribute => toQuerySpace.getOrElse(a, a) }
        val mat = freshMat(v)
        val matOut = mat.output // position-aligned with mvAggExprs
        def defExprAt(i: Int): Expression = mvAggExprs(i) match {
          case a: Alias => a.child
          case o => o
        }
        // view outputs that are pure GROUPING expressions (no agg
        // inside) → substitutable by their materialized column.
        // references.nonEmpty: a CONSTANT view output (lit("v1") AS
        // tag) must never substitute — it would rewrite a query
        // literal into a materialized column that is neither grouped
        // nor aggregated, an invalid Aggregate that fails physical
        // binding (review pass 1, round 14)
        val groupSubs: Seq[(Expression, Attribute)] =
          mvAggExprs.indices.flatMap { i =>
            val e = defExprAt(i)
            if (e.references.nonEmpty &&
                e.find(_.isInstanceOf[AggregateExpression]).isEmpty)
              Some(toQ(e) -> matOut(i))
            else None
          }
        // view outputs that are DIRECT aggregate expressions (an agg
        // wrapped in any scalar expression, e.g. round(sum(x), 2), is
        // not decomposable and simply never matches)
        val aggSubs: Seq[(AggregateExpression, Attribute)] =
          mvAggExprs.indices.flatMap { i =>
            defExprAt(i) match {
              case ae: AggregateExpression => Some(ae -> matOut(i))
              case _ => None
            }
          }
        def isCountStar(c: Seq[Expression]): Boolean = c match {
          case Seq(Literal(_, _)) => true
          case _ => false
        }
        def maybeCast(e: Expression, to: org.apache.spark.sql.types.DataType) =
          if (e.dataType == to) e else Cast(e, to)
        // one query aggregate → its re-aggregation over the mat column
        def mapAgg(ae: AggregateExpression): Option[Expression] = {
          if (ae.isDistinct || ae.filter.isDefined) return None
          def findMv(p: AggregateExpression => Boolean): Option[Attribute] =
            aggSubs.collectFirst { case (mv, attr) if !mv.isDistinct &&
              mv.filter.isEmpty && p(mv) => attr }
          ae.aggregateFunction match {
            case Sum(e, _) =>
              findMv(_.aggregateFunction match {
                case Sum(me, _) => toQ(me).semanticEquals(e)
                case _ => false
              }).map(a => maybeCast(
                Sum(a).toAggregateExpression(), ae.dataType))
            case Count(qc) =>
              findMv(_.aggregateFunction match {
                case Count(mc) =>
                  (isCountStar(qc) && isCountStar(mc)) ||
                    (qc.length == mc.length &&
                      qc.zip(mc).forall { case (a, b) => toQ(b).semanticEquals(a) })
                case _ => false
              }).map(a => maybeCast(
                // count is non-nullable; sum-of-counts re-establishes
                // that via the 0-coalesce (an empty group cannot reach
                // here — re-aggregation only sees materialized rows)
                Coalesce(Seq(Sum(a).toAggregateExpression(), Literal(0L))),
                ae.dataType))
            case Min(e) =>
              findMv(_.aggregateFunction match {
                case Min(me) => toQ(me).semanticEquals(e)
                case _ => false
              }).map(a => Min(a).toAggregateExpression())
            case Max(e) =>
              findMv(_.aggregateFunction match {
                case Max(me) => toQ(me).semanticEquals(e)
                case _ => false
              }).map(a => Max(a).toAggregateExpression())
            // AVG decomposes iff the view carries BOTH the matching
            // SUM and COUNT of the SAME argument: avg(e) over the
            // rollup = Σ(view sums) / Σ(view counts) — exact, because
            // both sides aggregate the identical base rows. Restricted
            // to non-decimal inputs: avg(decimal) carries Spark's
            // decimal-division rounding at a precision the two-step
            // recomposition cannot reproduce bit-for-bit, and a rollup
            // that is ALMOST the same number is worse than none.
            // NUMERIC non-decimal inputs only: decimal avg carries
            // division rounding the two-step form cannot reproduce,
            // and interval avgs (ANSI year-month/day-time) have no
            // legal Cast to double — the replacement would be an
            // unresolvable expression injected post-analysis (review
            // pass 3, round 14)
            case org.apache.spark.sql.catalyst.expressions.aggregate.Average(e, _)
                if e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
                  !e.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
              val sums = findMv(_.aggregateFunction match {
                case Sum(me, _) => toQ(me).semanticEquals(e)
                case _ => false
              })
              val counts = findMv(_.aggregateFunction match {
                case Count(Seq(mc)) => toQ(mc).semanticEquals(e)
                case _ => false
              })
              // LEGACY divide: an all-null group has Σcounts = 0, and
              // avg's contract there is NULL — ANSI division would
              // turn it into a runtime error the original query never
              // had
              for (s <- sums; c <- counts) yield maybeCast(
                org.apache.spark.sql.catalyst.expressions.Divide(
                  Cast(Sum(s).toAggregateExpression(),
                    org.apache.spark.sql.types.DoubleType),
                  Cast(Sum(c).toAggregateExpression(),
                    org.apache.spark.sql.types.DoubleType),
                  org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY),
                ae.dataType)
            case _ => None
          }
        }
        object Unmappable extends Exception
        // top-down over the INLINED query expression (pulled-out
        // grouping aliases resolved back to base attributes):
        // aggregates map as whole units FIRST (their children must
        // compare against the view in query space, untouched); any
        // other subtree equal to a view grouping output substitutes
        // with the materialized column. MANUAL recursion, not
        // transformDown: a replacement like Coalesce(sum(mat_n), 0)
        // carries a fresh AggregateExpression in a CHILD position,
        // which transformDown would revisit and try (and fail) to map
        // again — replacements must never be re-entered.
        def rw(e: Expression): Expression = e match {
          case ae: AggregateExpression =>
            mapAgg(ae).getOrElse(throw Unmappable)
          case other =>
            groupSubs.collectFirst {
              case (ge, attr) if ge.semanticEquals(other) => attr: Expression
            }.getOrElse(other.mapChildren(rw))
        }
        def rewrite(e: Expression): Option[Expression] =
          try Some(rw(inlineQ(e)))
          catch { case Unmappable => None }
        val newGroupings = q.groupingExpressions.map(rewrite)
        val newAggs: Seq[Option[NamedExpression]] = q.aggregateExpressions.map {
          case a: Alias =>
            rewrite(a.child).map(c => Alias(c, a.name)(exprId = a.exprId))
          case ne =>
            rewrite(ne).map(c => Alias(c, ne.name)(exprId = ne.exprId))
        }
        // attributes referenced OUTSIDE aggregate expressions — what
        // must be covered by the new grouping expressions for the
        // rewritten Aggregate to stay analyzer-valid
        def nonAggAttrs(e: Expression): Seq[Attribute] = e match {
          case _: AggregateExpression => Nil
          case a: Attribute => Seq(a)
          case other => other.children.flatMap(nonAggAttrs)
        }
        val groupingRefs = org.apache.spark.sql.catalyst.expressions
          .AttributeSet(newGroupings.flatten.flatMap(_.references))
        val ok = newGroupings.forall(_.isDefined) && newAggs.forall(_.isDefined) &&
          // everything must now resolve against the materialization
          // alone — a leftover base-table reference means a grouping
          // expression was not a function of the view's grouping
          // outputs, so the rollup cannot answer it
          (newGroupings.flatten ++ newAggs.flatten)
            .forall(_.references.subsetOf(mat.outputSet)) &&
          // and every output's non-aggregate reference must sit under
          // the new groupings — the structural validity the analyzer
          // enforced on the ORIGINAL query and substitution must not
          // be allowed to break
          newAggs.flatten.forall(ne =>
            nonAggAttrs(ne).forall(groupingRefs.contains))
        if (!ok) None
        else Some(Aggregate(newGroupings.flatten, newAggs.flatten.toSeq, mat))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.mvRewrite", "false").toBoolean)
      return plan
    val views = catalog.toMap.values
    if (views.isEmpty) return plan
    plan.transformUp {
      case sub =>
        views.collectFirst {
          case v if sub.sameResult(v.definition) =>
            val mat = freshMat(v)
            // the materialization's column ORDER matches the
            // definition's output (parquet round-trip preserves it);
            // re-alias onto the matched subtree's attribute ids so
            // parents resolve unchanged. Parquet read-back WIDENS
            // nullability (a non-nullable count() comes back nullable)
            // — restore the original contract with AssertNotNull so
            // parent operators' attribute metadata stays truthful
            // (values are non-null by construction: the file was
            // written from the non-nullable column)
            Project(sub.output.zip(mat.output).map {
              case (orig, repl) =>
                val child =
                  if (!orig.nullable && repl.nullable)
                    org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(repl)
                  else repl
                Alias(child, orig.name)(exprId = orig.exprId)
            }, mat)
        }.orElse(sub match {
          // no exact match: a coarser-grain aggregate may still roll
          // up from a view's materialization (r14 #6)
          // lazy: the first matching view wins, later ones never try
          case agg: Aggregate =>
            views.iterator.flatMap(v => tryRollup(agg, v)).nextOption()
          case _ => None
        }).getOrElse(sub)
    }
  }
}
