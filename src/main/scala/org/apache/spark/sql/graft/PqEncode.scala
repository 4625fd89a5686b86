package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization encoding in one compiled pass: split the input
  * vector into `m` contiguous subspaces and emit, per subspace, the
  * index of the L2-nearest codebook centroid — `m` small ints that
  * stand in for the full float vector downstream (64 floats → 8 codes
  * is a 32× cut in what an ANN scan reads and ships).
  *
  * `codebooks(j)(c)` = centroid c of subspace j (dim = input dim / m).
  * The codebook matrix rides along as a reference object (the
  * degenerate broadcast, same pattern as [[HyperplaneCodes]]); the
  * m·k·subDim multiply-adds run per row inside the scan stage — the
  * encode is a pure narrow projection at any corpus size.
  *
  * Ties keep the lowest centroid index; NaN subvector distances rank
  * below every real distance (and an all-NaN subspace falls back to
  * centroid 0) so malformed embeddings cannot crash the scan.
  */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "PqEncode: empty codebooks")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, ConstantTable.digest("codebooks", codebooks, m, k, subDim))

  @transient private lazy val m = codebooks.length
  @transient private lazy val k = codebooks.head.length
  @transient private lazy val subDim = codebooks.head.head.length
  // flat [subspace][centroid][component]
  @transient private lazy val flat: Array[Double] =
    codebooks.flatMap(_.flatMap(identity)).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val base = (j * k + c) * subDim
        var dist = 0.0
        var i = 0
        while (i < subDim) {
          val idx = j * subDim + i
          val x = if (idx < n) v.getFloat(idx).toDouble else 0.0
          val d = x - flat(base + i)
          dist += d * d
          i += 1
        }
        // strict < keeps the LOWEST index on ties; NaN dist loses every
        // comparison, so best stays on the last real candidate (or 0)
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, c => s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
