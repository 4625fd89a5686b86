package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All random-hyperplane LSH bucket codes of an embedding in one
  * compiled pass: output[t] = the signed-projection code of table t
  * (bit i = sign of ⟨embedding, plane_{t,i}⟩).
  *
  * The Column form (nTables × bitsPerTable `aggregate`-based dot
  * products) is interpreted — Spark's higher-order functions are
  * CodegenFallback — and dominated the LSH corpus scan. Here the
  * nTables·bits·dim multiply-adds run in one tight generated loop per
  * row; the plane matrix rides along as a flat double[] reference
  * object (the degenerate broadcast).
  */
case class HyperplaneCodes(child: Expression, planes: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_codes"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, ConstantTable.digest("planes", planes, nTables, bits, dim))

  @transient private lazy val nTables = planes.length
  @transient private lazy val bits = planes.head.length
  @transient private lazy val dim = planes.head.head.length
  // flat [table][bit][component] for cache-friendly access
  @transient private lazy val flat: Array[Double] =
    planes.flatMap(_.flatMap(identity)).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var code = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getFloat(i) * flat(base + i); i += 1 }
        if (dot >= 0) code |= (1L << b)
        b += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneExpr", this, classOf[HyperplaneCodes].getName)
    defineCodeGen(ctx, ev, c => s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
