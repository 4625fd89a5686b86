package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.{Graph, Similarity}
import graft.pipeline.CorpusPipeline
import graft.pipeline.Flow._
import graft.sinks.{FileWarehouse, TableStore}
import graft.sources.Ingest

/** One result a pass produced. `rows` is read outside the timed region. */
final case class Output(op: String, rows: () => Array[Row])

/** A user pipeline over graft's public API. Each public call runs inside
  * `call(name)`, which counts it and, when tracing, opens a span.
  */
trait Workload {
  /** Runs one pass over the inputs in `in`, writing under `out`. */
  def pass(spark: SparkSession, in: String, out: String, call: Tracer): Seq[Output]

  /** DuckDB SQL per output, over the generated input tables. */
  def oracleSql: Map[String, String]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "etl_flow"    => EtlFlow
    case "corpus_graph" => CorpusGraph
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def readBack(spark: SparkSession, path: String): () => Array[Row] =
    () => spark.read.parquet(path).collect()
}

/** The reference's week-2 flow: ingest a CSV and a parquet file, add a
  * constant column, load the db table in chunks (replace, then append),
  * write a gzip copy and a partitioned lake, load the warehouse from the
  * lake, then run the reference's SQL set over what was written.
  */
object EtlFlow extends Workload {
  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  private val note = "this is an artificial transformation just to practice prefect"

  /** name -> (Spark SQL over the written tables, DuckDB SQL over the inputs). */
  private val queries: Seq[(String, String, String)] = {
    val revenue = "sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT)))"
    val cents = "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
    val ym = "year(o_orderdate) * 100 + month(o_orderdate)"
    val li = s"(SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
      s"l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, " +
      s"'$note' AS transformation FROM lineitem)"
    Seq(
      ("count", "SELECT count(*) AS n FROM li", "SELECT count(*) AS n FROM lineitem"),
      ("limit", "SELECT * FROM li ORDER BY l_orderkey, l_linenumber LIMIT 50",
        s"SELECT * FROM $li ORDER BY l_orderkey, l_linenumber LIMIT 50"),
      ("filter",
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM li " +
          "WHERE l_quantity >= 49 AND l_discount >= 0.09",
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
          "WHERE l_quantity >= 49 AND l_discount >= 0.09"),
      // the reference flow's own query; its oracle is SparkEntry's p_flow_e2e
      ("group_by",
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty, " +
          "max(transformation) AS note FROM li GROUP BY l_returnflag ORDER BY l_returnflag",
        graft.SparkEntry.oracleSql("p_flow_e2e")),
      ("month_rollup",
        s"SELECT $ym AS ym, count(*) AS n, $cents AS cents FROM wh GROUP BY 1 ORDER BY 1",
        s"SELECT $ym AS ym, count(*) AS n, $cents AS cents FROM orders GROUP BY 1 ORDER BY 1"),
      ("top_k",
        s"SELECT o_custkey, $cents AS cents, count(*) AS n FROM wh " +
          "GROUP BY o_custkey ORDER BY cents DESC, o_custkey LIMIT 20",
        s"SELECT o_custkey, $cents AS cents, count(*) AS n FROM orders " +
          "GROUP BY o_custkey ORDER BY cents DESC, o_custkey LIMIT 20"),
      ("dim_join",
        s"SELECT o_orderpriority, count(*) AS n, $revenue AS revenue " +
          "FROM li JOIN wh ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1",
        s"SELECT o_orderpriority, count(*) AS n, $revenue AS revenue " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1"))
  }

  val oracleSql: Map[String, String] = queries.map { case (n, _, d) => n -> d }.toMap

  def pass(spark: SparkSession, in: String, out: String, call: Tracer): Seq[Output] =
    flow("etl") {
      val (orders, lineitem) = task("ingest", TaskConfig(retries = 2)) {
        call("sources.ingest") {
          (Ingest.read(spark, s"$in/orders.csv", Some(ordersSchema)),
            Ingest.read(spark, s"$in/lineitem.parquet"))
        }
      }
      val (o, l) = task("transform") {
        call("pipeline.transform") {
          (orders.withColumn("transformation", lit(note)),
            lineitem.select(lineitem.columns.take(10).map(col): _*)
              .withColumn("transformation", lit(note)))
        }
      }
      val db = s"$out/lineitem"
      task("store") {
        val first = pmod(col("l_orderkey"), lit(2)) === 0
        call("sinks.store_replace")(TableStore.store(l.filter(first), db, "replace"))
        call("sinks.store_append")(TableStore.store(l.filter(!first), db, "append"))
      }
      task("compress") {
        call("sinks.gzip")(TableStore.writeCompressed(o, s"$out/orders_gz"))
      }
      val lake = s"$out/orders_lake.parquet"
      task("lake") {
        call("sinks.lake") {
          TableStore.writePartitioned(
            o.withColumn("yr", year(col("o_orderdate"))), lake, Seq("yr"))
        }
      }
      val warehouse = new FileWarehouse(s"$out/warehouse")
      task("warehouse") {
        call("sinks.warehouse") {
          warehouse.write(Ingest.read(spark, lake).drop("yr", "transformation"),
            "orders", "replace")
        }
      }
      task("query") {
        call("queries.register") {
          spark.read.parquet(db).createOrReplaceTempView("li")
          warehouse.read(spark, "orders").createOrReplaceTempView("wh")
        }
        queries.map { case (name, sql, _) =>
          val rows = call(s"queries.$name")(spark.sql(sql).collect())
          Output(name, () => rows)
        }
      }
    }
}

/** LLM corpus preparation and a graph loop: the composed quality → dedup →
  * near-dup → stats pipeline, a kNN join over the embeddings, then PageRank
  * over the customer-supplier trade graph. Every result is stored, as a
  * batch job would.
  */
object CorpusGraph extends Workload {
  val oracleSql: Map[String, String] = Map(
    "corpus" -> graft.SparkEntry.oracleSql("p_corpus_e2e"),
    "pagerank" -> graft.SparkEntry.oracleSql("g_pagerank"))

  def pass(spark: SparkSession, in: String, out: String, call: Tracer): Seq[Output] = {
    val corpus = call("pipeline.corpus.build")(CorpusPipeline.corpusE2E(spark, in))
    call("pipeline.corpus.store")(TableStore.store(corpus, s"$out/corpus", "replace"))
    call("similarity.knn_lsh") {
      TableStore.store(Similarity.knnJoinLsh(spark, in), s"$out/knn", "replace")
    }
    call("graph.pagerank") {
      TableStore.store(Graph.pageRank(spark, in), s"$out/pagerank", "replace")
    }
    Seq("corpus", "knn", "pagerank")
      .map(op => Output(op, Workloads.readBack(spark, s"$out/$op")))
  }

  /** Mean share of each vector's exact top-k that the LSH join found. */
  def recall(spark: SparkSession, in: String, lsh: Array[Row]): Double = {
    def bySrc(rows: Array[Row]): Map[Long, Set[Long]] =
      rows.groupBy(r => r.getAs[Long]("src"))
        .map { case (s, rs) => s -> rs.map(_.getAs[Long]("nbr")).toSet }
    val exact = bySrc(Similarity.knnJoin(spark, in).collect())
    val got = bySrc(lsh)
    exact.toSeq.map { case (s, nn) =>
      (nn intersect got.getOrElse(s, Set.empty)).size.toDouble / nn.size
    }.sum / exact.size
  }
}
