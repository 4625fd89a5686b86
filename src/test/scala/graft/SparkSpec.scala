package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-mode session fixture. One JVM-wide session (Spark's
  * getOrCreate) keeps the suite fast; tests run against the sf0.001
  * testdata.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(appName = "graft-test", master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object SparkSpec {
  /** A copy of `dir`'s files in a new temporary directory, as a
    * scheduled flow sees its input: nothing a path-keyed memo holds
    * for `dir` is reused.
    */
  def freshCopy(dir: String): String = {
    val dst = Files.createTempDirectory("graft_fresh_copy")
    Files.list(Paths.get(dir)).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }
}
