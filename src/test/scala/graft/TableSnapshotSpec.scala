package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Per-dataset memos key on the table's snapshot (path, length,
  * modification time), so a table rewritten in place in the same JVM is
  * read again, not answered from the memo.
  */
class TableSnapshotSpec extends SparkSpec {

  test("a table rewritten in place with fewer rows reports its new row count") {
    val dir = Files.createTempDirectory("graft_snapshot")
    Files.copy(Paths.get(Tables.path(sfDir, "embeddings")),
      Paths.get(Tables.path(dir.toString, "embeddings")))
    val before = Tables.rows(spark, dir.toString, "embeddings")
    val half = Tables.load(spark, dir.toString, "embeddings")
      .filter(col("vec_id") % 2 === 0).collect()
    assert(half.length > 0 && half.length < before)
    // rewrite the same path: a directory of parquet files replaces the file
    val staged = dir.resolve("staged").toString
    spark.createDataFrame(java.util.Arrays.asList(half: _*),
      Tables.load(spark, dir.toString, "embeddings").schema)
      .write.parquet(staged)
    Files.delete(Paths.get(Tables.path(dir.toString, "embeddings")))
    Files.move(Paths.get(staged), Paths.get(Tables.path(dir.toString, "embeddings")))
    assert(Tables.rows(spark, dir.toString, "embeddings") == half.length)
  }
}
