package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, udf}

/** The exact `(table_name, id)` key set of an archive batch as per-table
  * inclusive id ranges, sorted and disjoint: contiguous ids collapse to
  * one range, so a batch of consecutive ids is one range per table.
  *
  * Built in one pass with no exchange: each partition sorts its ids per
  * table and coalesces them ([[KeyRanges.Builder]]), and the driver
  * merges the partials ([[KeyRanges.merge]]). Past `maxRanges` ranges,
  * in a partial or merged, the set is not built at all (`None`): the
  * caller takes its keyed-join path instead, so driver memory stays
  * bounded by the cap and a pathologically fragmented key set is never
  * held on the driver.
  */
final class KeyRanges private (private val byTable: Map[String, (Array[Long], Array[Long])])
    extends Serializable {

  /** Number of ranges over all tables. */
  def size: Int = byTable.valuesIterator.map(_._1.length).sum

  def isEmpty: Boolean = byTable.isEmpty

  def tables: Set[String] = byTable.keySet

  /** `(table, lo, hi)` inclusive ranges, by table then `lo`. */
  def ranges: Seq[(String, Long, Long)] =
    byTable.toSeq.sortBy(_._1).flatMap { case (t, (lo, hi)) => lo.indices.map(i => (t, lo(i), hi(i))) }

  /** Binary search over the table's sorted `lo` bounds. */
  def contains(table: String, id: Long): Boolean = byTable.get(table).exists { case (lo, hi) =>
    val i = java.util.Arrays.binarySearch(lo, id)
    val at = if (i >= 0) i else -i - 2
    at >= 0 && id <= hi(at)
  }

  /** Membership of the frame's `table_name`/`id` columns as a predicate
    * whose plan does not grow with the range count: the ranges ride in
    * the UDF's closure, so every batch's predicate generates the same
    * code. (Literal id bounds in front of it, for parquet row-group
    * skipping, made each batch's code new to Spark's codegen cache: an
    * `archive_cycles` cycle took 13 % longer.) A NULL key is never a
    * member.
    */
  def holds: Column = udf((t: String, id: Long) => contains(t, id))
    .withName("in_key_ranges")(col("table_name"), col("id"))
}

object KeyRanges {

  /** Ranges kept per key set before it counts as fragmented. */
  val MaxRanges = 100000

  /** One partition's keys: ranges (`None` past the cap) and the count
    * of NULL ids per table, which no range can hold.
    */
  final case class Partial(ranges: Option[KeyRanges], nullIds: Map[String, Long])

  /** Accumulates one partition's keys, then coalesces them. */
  final class Builder(maxRanges: Int) {
    private val ids = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    private val nulls = mutable.HashMap.empty[String, Long]

    /** Adds the key of `row` whose `table_name` is `table` and whose id
      * is at `idAt`.
      */
    def add(table: String, row: Row, idAt: Int): Unit =
      if (row.isNullAt(idAt)) nulls(table) = nulls.getOrElse(table, 0L) + 1
      else ids.getOrElseUpdate(table, new mutable.ArrayBuilder.ofLong) += row.getLong(idAt)

    def result(): Partial = {
      val byTable = ids.iterator.map { case (t, b) =>
        val sorted = b.result()
        java.util.Arrays.sort(sorted)
        t -> sweep(sorted, sorted)
      }.toMap
      Partial(capped(byTable, maxRanges), nulls.toMap)
    }
  }

  /** Merges partition partials: `None` if any partial or the merged set
    * is past the cap. NULL-id counts add up.
    */
  def merge(parts: Seq[Partial], maxRanges: Int): Partial = {
    val nullIds = parts.flatMap(_.nullIds).groupMapReduce(_._1)(_._2)(_ + _)
    if (parts.exists(_.ranges.isEmpty)) Partial(None, nullIds)
    else {
      val byTable = parts.flatMap(_.ranges.get.byTable).groupMap(_._1)(_._2).map { case (t, rs) =>
        val pairs = rs.flatMap { case (lo, hi) => lo.indices.map(i => (lo(i), hi(i))) }.sortBy(_._1)
        t -> sweep(pairs.map(_._1).toArray, pairs.map(_._2).toArray)
      }
      Partial(capped(byTable, maxRanges), nullIds)
    }
  }

  /** The key ranges of a `(table_name, id)` frame in one job, `None`
    * past `maxRanges`. A NULL id fails: it names no source row.
    */
  def gather(keys: DataFrame, maxRanges: Int = MaxRanges): Option[KeyRanges] = {
    val parts = keys.select("table_name", "id").mapPartitions { rows =>
      val b = new Builder(maxRanges)
      rows.foreach(r => b.add(r.getString(0), r, 1))
      Iterator(b.result())
    }(Encoders.javaSerialization[Partial]).collect()
    val all = merge(parts.toSeq, maxRanges)
    require(all.nullIds.isEmpty, s"NULL ids per table: ${all.nullIds}")
    all.ranges
  }

  private def capped(byTable: Map[String, (Array[Long], Array[Long])], maxRanges: Int) =
    Some(new KeyRanges(byTable)).filter(_.size <= maxRanges)

  /** Coalesces ranges sorted by `lo` into disjoint, non-adjacent ones.
    * `next <= hi || next == hi + 1` never wraps falsely: at
    * `hi == Long.MaxValue` the first test already holds.
    */
  private def sweep(lo: Array[Long], hi: Array[Long]): (Array[Long], Array[Long]) = {
    val outLo, outHi = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < lo.length) {
      val l = lo(i)
      var h = hi(i)
      i += 1
      while (i < lo.length && (lo(i) <= h || lo(i) == h + 1)) {
        h = math.max(h, hi(i))
        i += 1
      }
      outLo += l
      outHi += h
    }
    (outLo.result(), outHi.result())
  }
}
