package graft.sources

import org.apache.spark.sql.graft.ParquetRead
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File ingestion — the reference's `get_data` step
  * (reference: week_1/data_ingest/data_ingest.py:22 reads a CSV or
  * parquet path into a DataFrame; week_2/data_ingest/pipeline.py:150
  * `get_data` same idea with retries).
  *
  * Spark-first re-expression: `spark.read` with an explicit format
  * dispatch. At 100 TB the important properties are
  *   - explicit schema for text formats (no inference pre-scan of the
  *     whole dataset; inference samples on parquet are free since the
  *     schema is in the footer);
  *   - the returned plan is a plain scan relation, so downstream
  *     filters/projections push into it (PushedFilters / ReadSchema);
  *   - CSV/JSON parse inside codegen'd scan tasks — ingestion is a
  *     fully parallel narrow stage, no driver involvement.
  */
object Ingest {

  /** Infer the format from the path extension, like the reference does
    * with its `.csv` / `.parquet` branches
    * (week_1/data_ingest/data_ingest.py:31-47).
    */
  def detectFormat(path: String): String = {
    val p = path.toLowerCase.stripSuffix(".gz").stripSuffix(".gzip")
    if (p.endsWith(".parquet")) "parquet"
    else if (p.endsWith(".csv")) "csv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl") || p.endsWith(".ndjson")) "json"
    else sys.error(s"cannot detect format of $path (expected .csv/.json/.parquet)")
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    ParquetRead(spark, path)

  /** CSV with header. Explicit schema when provided (the scale path);
    * otherwise inference (samples the file — fine for interactive use,
    * avoid on 100 TB inputs).
    */
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  def readJson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Stage a remote file locally, returning the staged path — the
    * reference's default flow downloads its input before reading
    * (reference: week_1/data_ingest/data_ingest.py:40-48
    * `wget.download(my_url)`; week_2/data_ingest/parametrized.py:31).
    *
    * One URL = one stream, so the fetch is inherently a single-writer
    * step (exactly like wget); the staged file then parses with full
    * scan parallelism. For a many-file ingest at scale, run one fetch
    * per URL from the backfill task list ([[graft.pipeline.Flow]]) —
    * the fetches are independent and parallelize across tasks. The
    * file name (and so the format detection) comes from the URL path,
    * query string stripped.
    */
  def fetchToStaging(url: String, stagingDir: Option[String] = None): String = {
    val name = url.split('/').last.split("[?#]").head
    require(name.nonEmpty, s"cannot derive a file name from url $url")
    val dir = stagingDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_url").toString)
    val dest = java.nio.file.Paths.get(dir, name)
    val conn = java.net.URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    val in = conn.getInputStream
    try java.nio.file.Files.copy(in, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    dest.toString
  }

  /** The reference's single entry point: point at a file OR an
    * `http(s)://` URL, get a table. Remote inputs stage through
    * [[fetchToStaging]] first (eagerly — the returned plan reads the
    * local staged copy), then dispatch on format like any local path.
    */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    if (path.startsWith("http://") || path.startsWith("https://"))
      read(spark, fetchToStaging(path), schema)
    else detectFormat(path) match {
      case "parquet" => readParquet(spark, path)
      case "csv"     => readCsv(spark, path, schema)
      case "json"    => readJson(spark, path, schema)
    }
}
