package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ParquetRead, QueryCost}
import org.apache.spark.sql.types.LongType

import graft.sinks.TableStore

/** `ParquetRead` reads a parquet schema from one footer on the driver.
  * Its frame must equal `spark.read.parquet`'s in schema (nullability
  * and field metadata included) and rows, the read itself must run no
  * job, and where it defers to Spark (merged schemas, nothing to read)
  * the result and the errors are Spark's.
  */
class ParquetReadSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_parquet_read").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSameRead(paths: String*): DataFrame = {
    val (ours, cost) = QueryCost.of(spark)(ParquetRead(spark, paths: _*))
    assert(cost.jobs.isEmpty, s"the footer read of ${paths.mkString(", ")} ran ${cost.jobs.size} jobs")
    val (theirs, sparkCost) = QueryCost.of(spark)(spark.read.parquet(paths: _*))
    assert(sparkCost.jobs.nonEmpty, "Spark's reader infers the schema with a job; without it " +
      "the check above is vacuous")
    assert(ours.schema == theirs.schema)
    assert(ours.schema.json == theirs.schema.json, "field metadata differs")
    val theirRows = rows(theirs)
    assert(theirRows.nonEmpty, "no rows: the row check is vacuous")
    assert(rows(ours) == theirRows)
    ours
  }

  Tables.names.foreach { name =>
    test(s"sf0.001 $name: the footer read equals Spark's and runs no job") {
      assertSameRead(Tables.path(sfDir, name))
    }
  }

  test("events stored as TIMESTAMP(NANOS): the footer read keeps the nanos long, and Tables.load its exact ts_ns") {
    val dir = s"$tmp/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); required binary kind (STRING); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    val nanos = (1 to 5).map(i => 1700000000123456789L + 1000L * i + i)
    try nanos.zipWithIndex.foreach { case (ts, i) =>
      writer.write(groups.newGroup().append("user_id", i.toLong).append("ts", ts).append("kind", "view"))
    } finally writer.close()

    val read = assertSameRead(Tables.path(dir, "events"))
    assert(read.schema("ts").dataType == LongType)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.select("ts_ns").collect().map(_.getLong(0)).sorted.toSeq == nanos)
  }

  test("a hive-partitioned lake: the footer read equals Spark's, partition columns included") {
    val lake = s"$tmp/lake"
    TableStore.writePartitioned(
      Tables.load(spark, sfDir, "orders").withColumn("yr", year(col("o_orderdate"))), lake, Seq("yr"))
    val read = assertSameRead(lake)
    assert(read.columns.last == "yr")
  }

  test("a gzip directory: the footer read equals Spark's") {
    val gz = s"$tmp/orders_gz"
    TableStore.writeCompressed(Tables.load(spark, sfDir, "orders"), gz)
    assert(Files.list(Paths.get(gz)).toArray.exists(_.toString.endsWith(".gz.parquet")))
    assertSameRead(gz)
  }

  test("two files with different columns: the read picks Spark's file, and mergeSchema gives Spark's merged schema") {
    val dir = s"$tmp/two_schemas"
    spark.range(3).select(col("id"), (col("id") * 2).as("a")).write.parquet(dir)
    spark.range(3).select(col("id"), lit("x").as("b")).write.mode("append").parquet(dir)
    assertSameRead(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = ParquetRead(spark, dir)
      assert(merged.schema == spark.read.parquet(dir).schema)
      assert(merged.columns.toSet == Set("id", "a", "b"))
      assert(rows(merged) == rows(spark.read.parquet(dir)))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a _common_metadata file is read before the data files, as Spark reads it") {
    val dir = s"$tmp/summary"
    spark.range(4).select(col("id"), (col("id") * 2).as("a")).coalesce(1).write.parquet(dir)
    val other = s"$tmp/summary_src"
    spark.range(1).select(col("id"), lit("x").as("b")).coalesce(1).write.parquet(other)
    val footer = Files.list(Paths.get(other)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    Files.copy(Paths.get(footer), Paths.get(dir, "_common_metadata"))
    val read = assertSameRead(dir)
    assert(read.columns.toSeq == Seq("id", "b"))
  }

  test("a missing path and an empty directory raise Spark's own errors") {
    val missing = s"$tmp/missing"
    val empty = Files.createDirectories(Paths.get(tmp, "empty")).toString
    Seq(missing -> "PATH_NOT_FOUND", empty -> "UNABLE_TO_INFER_SCHEMA").foreach {
      case (path, condition) =>
        val ours = intercept[AnalysisException](ParquetRead(spark, path))
        val theirs = intercept[AnalysisException](spark.read.parquet(path))
        assert(ours.getCondition == condition)
        assert(ours.getCondition == theirs.getCondition)
        assert(ours.getMessage == theirs.getMessage)
    }
  }
}
