package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Per-query ADC (asymmetric distance computation) lookup tables for
  * product quantization: `out[j*k + c] = dot(q[j·sub .. j·sub+sub),
  * codebooks(j)(c))` — the m·k-entry table the PQ scan then indexes
  * with each vector's codes (`score = Σ_j table[j·k + code_j]`).
  *
  * A native expression rather than a `transform`/`aggregate` HOF pair:
  * the HOF form evaluated its `element_at(q_emb, …)` child ONCE PER
  * TABLE ENTRY PER COMPONENT, and after CollapseProject inlined the
  * normalization upstream each of those accesses re-ran a full
  * O(d) norm pass — ~7·10⁷ interpreted boxed ops per query row
  * (61 s of task time at sf0.001). Here the child is evaluated once
  * and the m·k·sub multiply-adds run as one primitive loop
  * (~16k flops for m=8, k=256, d=64).
  *
  * Accumulation per entry is sequential over the subspace components
  * in double precision — identical order and widening to the HOF
  * `aggregate`, so table values are bit-identical to the previous
  * formulation. Codebooks ride the expression as a reference object
  * (never codegen source), like [[PqEncode]].
  */
case class PqAdcTables(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "PqAdcTables: empty codebooks")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_tables"
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
    val q = new Array[Double](m * subDim)
    var p = 0
    while (p < q.length && p < n) { q(p) = v.getFloat(p).toDouble; p += 1 }
    val out = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val qBase = j * subDim
      var c = 0
      while (c < k) {
        val cbBase = (j * k + c) * subDim
        var dot = 0.0
        var i = 0
        while (i < subDim) { dot += q(qBase + i) * flat(cbBase + i); i += 1 }
        out(j * k + c) = dot
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcTablesExpr", this, classOf[PqAdcTables].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
