package graft

import org.apache.spark.sql.graft.ParquetRead

/** Measurement harness behind the round-7 ann_knn_lsh scale pin:
  * candidate-pair counts and per-vector load at 1x and the 10x
  * blow-up, against the occupancy-law bound nTables*n*target.
  */
object ProfileLshScale {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val scaled = Bench.ensureScaled(spark, sf, 10)
      for (d <- Seq(sf, scaled)) {
        val n = ParquetRead(spark, s"$d/embeddings.parquet").count()
        val p = graft.operators.Similarity.knnLshPairs(spark, d).count()
        println(f"LSH $d n=$n pairs=$p perVec=${p.toDouble / n}%.1f bound=${16L * n * 128L}")
      }
    }
    spark.stop()
  }
}
