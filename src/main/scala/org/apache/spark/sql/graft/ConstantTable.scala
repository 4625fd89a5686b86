package org.apache.spark.sql.graft

/** How an expression that carries a constant table (hyperplanes,
  * centroids, codebooks, a projection matrix) prints in plan text.
  *
  * Spark builds a query's plan strings for every SQL execution and AQE
  * update, and the default prints every argument: a kNN join's explain
  * printed each plane coefficient and ran to 178 KB. These expressions
  * print their child and, per table, its shape and a content hash
  * instead (`planes[4x16x64]#1c9e04f2`). Equality, hashing and so
  * `semanticEquals` still read the full tables, so two expressions over
  * different tables never merge in exchange reuse.
  */
private[graft] object ConstantTable {
  def digest(name: String, table: Seq[_], shape: Int*): String =
    f"$name[${shape.mkString("x")}]#${table.##}%08x"
}
