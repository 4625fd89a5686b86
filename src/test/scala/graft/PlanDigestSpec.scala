package graft

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.HyperplaneCodes
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.operators.Similarity

/** Expressions that carry constant tables print a digest of each table
  * in plan text, not its values, and still compare by value.
  */
class PlanDigestSpec extends SparkSpec {

  test("knnJoinLsh's formatted explain stays under 16 KB and names the planes' shape") {
    val plan = Similarity.knnJoinLsh(spark, sfDir).queryExecution.explainString(FormattedMode)
    assert(plan.length < 16 * 1024, s"formatted explain is ${plan.length} chars")
    assert("""hyperplane_codes\([^)]*planes\[16x\d+x\d+\]#[0-9a-f]{8}\)""".r
      .findFirstIn(plan).nonEmpty, plan.take(4000))
  }

  test("HyperplaneCodes over different planes print one shape and are never semanticEquals") {
    val emb = BoundReference(0, ArrayType(FloatType), nullable = true)
    def planes(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(2, 3, 4)(r.nextGaussian())
    }
    val a = HyperplaneCodes(emb, planes(1))
    val b = HyperplaneCodes(emb, planes(2))
    assert(a.semanticEquals(HyperplaneCodes(emb, planes(1))))
    assert(!a.semanticEquals(b), "exchange reuse could merge codes over different planes")
    assert(a.toString.contains("planes[2x3x4]#") && b.toString.contains("planes[2x3x4]#"))
    assert(a.toString != b.toString)
  }
}
