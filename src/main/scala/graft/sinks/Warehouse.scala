package graft.sinks

import org.apache.spark.sql.graft.ParquetRead
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** External-warehouse writers — the reference's Postgres store
  * (reference: week_1/data_ingest/data_ingest.py:66 `store_table_in_db`,
  * pandas `to_sql(..., if_exists=replace|append|fail)` over a SQLAlchemy
  * engine URL).
  *
  * Spark-first re-expression: `df.write.jdbc` IS `to_sql` at scale —
  * every executor opens its own connection and writes its partition
  * (numPartitions concurrent INSERT streams), instead of the
  * reference's single driver-side cursor. The writer interface is
  * dialect-pluggable on the connection URL exactly like SQLAlchemy's;
  * the sandbox has no database server, so the spec drives the contract
  * through [[FileWarehouse]], a file-backed double with identical mode
  * semantics, while [[JdbcWarehouse]] is the production binding.
  */
trait WarehouseWriter {

  /** replace | append | fail — the reference's `if_exists` contract. */
  def write(df: DataFrame, table: String, mode: String): Unit

  def read(spark: SparkSession, table: String): DataFrame

  def exists(spark: SparkSession, table: String): Boolean

  protected def saveMode(mode: String): SaveMode = mode match {
    case "replace" => SaveMode.Overwrite
    case "append"  => SaveMode.Append
    case "fail"    => SaveMode.ErrorIfExists
    case other     => sys.error(s"unknown write mode '$other' (replace|append|fail)")
  }
}

/** The production binding: any JDBC warehouse (Postgres in the
  * reference's flow) via Spark's built-in JDBC source. `props` carries
  * driver/user/password; `numPartitions` on the DataFrame controls
  * write concurrency, and reads can be range-partitioned via the
  * standard `partitionColumn` options — both essential once the table
  * stops fitting one connection's throughput.
  */
final class JdbcWarehouse(url: String, props: java.util.Properties = new java.util.Properties)
    extends WarehouseWriter {
  override def write(df: DataFrame, table: String, mode: String): Unit =
    df.write.mode(saveMode(mode)).jdbc(url, table, props)
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, props)
  override def exists(spark: SparkSession, table: String): Boolean =
    try { read(spark, table).schema; true } catch { case _: Exception => false }
}

/** File-backed test double: one parquet directory per table under
  * `baseDir`, with the same replace/append/fail semantics `to_sql`
  * and [[JdbcWarehouse]] expose. This is what the sandbox's specs and
  * the driver gate exercise; swapping in [[JdbcWarehouse]] changes no
  * caller code.
  */
final class FileWarehouse(baseDir: String) extends WarehouseWriter {
  private def path(table: String): String = s"$baseDir/$table"
  override def write(df: DataFrame, table: String, mode: String): Unit =
    df.write.mode(saveMode(mode)).parquet(path(table))
  override def read(spark: SparkSession, table: String): DataFrame =
    ParquetRead(spark, path(table))
  override def exists(spark: SparkSession, table: String): Boolean =
    new org.apache.hadoop.fs.Path(path(table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path(table)))
}
