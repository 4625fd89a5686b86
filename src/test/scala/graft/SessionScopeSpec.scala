package graft

import graft.queries.IOQueries

import java.nio.file.Files

/** `GraftSession.withConf` hands the shared session's conf back as it
  * found it: a set key to its exact prior value, an unset key unset,
  * whether the body returns, throws, or a `set` fails partway.
  */
class SessionScopeSpec extends SparkSpec {

  private val keyA = "spark.graft.test.scopeA"
  private val keyB = "spark.graft.test.scopeB"

  private def explicitlySet(key: String): Boolean = spark.conf.getAll.contains(key)

  test("withConf restores a set key to its exact prior value and leaves an unset key unset") {
    spark.conf.set(keyA, "prior value")
    spark.conf.unset(keyB)
    // a registered key holding only its default counts as unset
    val registered = "spark.sql.cbo.joinReorder.enabled"
    val registeredPrior = spark.conf.getAll.get(registered)
    spark.conf.unset(registered)
    try {
      val inside = GraftSession.withConf(spark, keyA -> "a", keyB -> "b", registered -> "true") {
        (spark.conf.get(keyA), spark.conf.get(keyB), spark.conf.get(registered))
      }
      assert(inside == (("a", "b", "true")))
      assert(spark.conf.get(keyA) == "prior value")
      assert(spark.conf.getOption(keyB).isEmpty)
      assert(!explicitlySet(registered), s"$registered was left pinned to a value")
    } finally {
      spark.conf.unset(keyA)
      registeredPrior.foreach(spark.conf.set(registered, _))
    }
  }

  test("a throwing body propagates the same exception object and every key is restored") {
    spark.conf.set(keyA, "prior value")
    spark.conf.unset(keyB)
    try {
      val boom = new IllegalStateException("boom")
      val thrown = intercept[IllegalStateException] {
        GraftSession.withConf(spark, keyA -> "a", keyB -> "b") { throw boom }
      }
      assert(thrown eq boom)
      assert(thrown.getSuppressed.isEmpty)
      assert(spark.conf.get(keyA) == "prior value")
      assert(spark.conf.getOption(keyB).isEmpty)
    } finally spark.conf.unset(keyA)
  }

  test("a set that throws partway restores the keys already set and never runs the body") {
    spark.conf.set(keyA, "prior value")
    spark.conf.unset(keyB)
    val static = "spark.sql.warehouse.dir"
    val warehouse = spark.conf.get(static)
    try {
      var ran = false
      intercept[Exception] {
        GraftSession.withConf(spark, keyA -> "a", static -> "/nowhere", keyB -> "b") {
          ran = true
        }
      }
      assert(!ran)
      assert(spark.conf.get(keyA) == "prior value")
      assert(spark.conf.getOption(keyB).isEmpty)
      assert(spark.conf.get(static) == warehouse)
    } finally spark.conf.unset(keyA)
  }

  test("sinkCatalogHistogram leaves spark.sql.cbo.enabled as it found it") {
    GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      IOQueries.sinkCatalogHistogram(spark, sfDir).collect()
      assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
    }
  }

  test("sinkCatalogBucketed failing before its join leaves v2 bucketing as it found it") {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val empty = Files.createTempDirectory("graft_scope_empty").toFile
    try GraftSession.withConf(spark, key -> "false") {
      intercept[Exception](IOQueries.sinkCatalogBucketed(spark, empty.toString))
      assert(spark.conf.get(key) == "false")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(empty)
  }
}
