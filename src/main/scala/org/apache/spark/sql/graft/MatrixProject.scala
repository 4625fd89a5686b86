package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Affine projection y_j = Σ_i m(j)(i)·x_i − off(j) in one compiled
  * pass — the execution form of a driver-computed linear map (PCA
  * components, whitening, a learned probe): the k×d matrix and offset
  * ship once inside the expression (a broadcast in all but name), and
  * each row costs k·d multiply-adds with no intermediate arrays.
  *
  * The Column alternative (k `aggregate`-over-`zip_with` dot products
  * + a `zip_with` subtraction) is CodegenFallback-interpreted and
  * allocates per row — the same trap [[RademacherProject]] documents.
  * Centering folds into the offset (off = M·μ) so mean-subtraction
  * never materializes a centered copy of the corpus.
  *
  * `matrix`/`offset` are Seq (value equality), keeping expression
  * canonicalization — and thus plan/exchange reuse — intact; an Array
  * param would compare by reference.
  */
case class MatrixProject(child: Expression,
                         matrix: Seq[Seq[Double]],
                         offset: Seq[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(matrix.nonEmpty, "MatrixProject: empty matrix")
  require(matrix.length == offset.length,
    s"MatrixProject: ${matrix.length} rows vs ${offset.length} offsets")

  @transient private lazy val m: Array[Array[Double]] = matrix.map(_.toArray).toArray
  @transient private lazy val off: Array[Double] = offset.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "matrix_project"
  override protected def stringArgs: Iterator[Any] = Iterator(child,
    ConstantTable.digest("matrix", matrix, matrix.length, matrix.head.length),
    ConstantTable.digest("offset", offset, offset.length))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val d = v.numElements()
    val k = m.length
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val row = m(j)
      require(row.length == d, s"MatrixProject: vector dim $d vs matrix cols ${row.length}")
      var acc = 0.0
      var i = 0
      while (i < d) { acc += row(i) * v.getFloat(i).toDouble; i += 1 }
      out(j) = acc - off(j)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matrixProjectExpr", this, classOf[MatrixProject].getName)
    defineCodeGen(ctx, ev, c => s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
