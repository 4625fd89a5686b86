package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The `nProbe` nearest centroids of an embedding by cosine similarity,
  * as centroid INDEXES ordered by (similarity desc, index asc) — the
  * narrow, zero-shuffle cell assignment for IVF indexing and Lloyd
  * iterations.
  *
  * This replaces the `crossJoin(centroids) + row_number() over
  * (partition by vec_id)` argmax, whose window forces a hash exchange
  * of corpus×k rows — k=10 cells means 10× the corpus shuffled per
  * Lloyd iteration, a scale-killer at 100 TB. Here the centroid matrix
  * rides along as a flat double[] reference object (the degenerate
  * broadcast, same pattern as [[HyperplaneCodes]]) and the k·dim
  * multiply-adds run per row inside the scan stage: assignment costs
  * zero shuffled bytes at any corpus size.
  *
  * Tie-break matches the window it replaces: strictly-greater
  * similarity wins, equal similarity keeps the lower index.
  */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "NearestCentroids: empty centroid set")
  require(nProbe > 0, s"NearestCentroids: nProbe must be positive, got $nProbe")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, ConstantTable.digest("centroids", centroids, k, dim), nProbe)

  @transient private lazy val k = centroids.length
  @transient private lazy val dim = centroids.head.length
  // flat [centroid][component] for cache-friendly access; norms are
  // precomputed once — they don't depend on the input row
  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray
  @transient private lazy val cNorm: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val sims = new Array[Double](k)
    var vNorm = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; vNorm += x * x; i += 1 }
    vNorm = math.sqrt(vNorm)
    var c = 0
    while (c < k) {
      var dot = 0.0
      val base = c * dim
      var j = 0
      while (j < n) { dot += v.getFloat(j) * flat(base + j); j += 1 }
      val s = if (vNorm == 0.0 || cNorm(c) == 0.0) 0.0 else dot / (vNorm * cNorm(c))
      // a NaN component makes dot NaN, and NaN loses every > comparison;
      // rank such rows below every real similarity instead of letting
      // the selection loop fall through with best = -1
      sims(c) = if (s.isNaN) Double.NegativeInfinity else s
      c += 1
    }
    val m = math.min(nProbe, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < m) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var cc = 0
      while (cc < k) {
        // strict > keeps the LOWEST index on ties — same order as
        // row_number() over (order by sim desc, cell asc); the
        // best == -1 arm guarantees progress even if every remaining
        // sim is -Infinity (all-NaN embedding)
        if (!used(cc) && (best == -1 || sims(cc) > bestSim)) { bestSim = sims(cc); best = cc }
        cc += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidsExpr", this, classOf[NearestCentroids].getName)
    defineCodeGen(ctx, ev, c => s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
