package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest over every column of a result: the row count
  * plus the sum of a 64-bit hash of each whole row. Aggregating the hash
  * forces every output column to be computed (a bare `count()` lets
  * Catalyst prune them), and the same number is the correctness check
  * against the pinned value.
  */
object Digest {

  final case class D(schema: String, rows: Long, sum: String) {
    override def toString: String = s"rows=$rows sum=$sum schema=$schema"
  }

  /** Maps have no defined entry order and Spark refuses to hash them, so
    * they are hashed as their entries sorted by key.
    */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): D = {
    val fields = df.schema.fields
    // positional names: results may carry duplicate or dotted column names
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = renamed.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    D(df.schema.simpleString, r.getLong(0), s)
  }
}
