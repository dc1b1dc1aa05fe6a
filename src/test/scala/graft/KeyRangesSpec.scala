package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.KeyRanges

/** The batch key set as per-table id ranges: built per partition,
  * merged on the driver, exact at the ends of the Long range, and
  * dropped (`None`) past the cap.
  */
class KeyRangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A `(table_name, id)` frame with exactly the given partitions. */
  private def parts(ps: Seq[(String, Long)]*): DataFrame =
    spark.sparkContext.parallelize(ps, ps.size).flatMap(identity).toDF("table_name", "id")

  private def ranges(df: DataFrame, maxRanges: Int = KeyRanges.MaxRanges) =
    KeyRanges.gather(df, maxRanges).map(_.ranges)

  test("ids interleaved across partitions merge into one range") {
    val evens = (0L until 20L by 2).map(("t", _))
    val odds = (1L until 20L by 2).map(("t", _))
    assert(ranges(parts(evens, odds)) == Some(Seq(("t", 0L, 19L))))
  }

  test("ranges adjacent across partitions coalesce; gaps and tables stay apart") {
    val df = parts((1L to 5L).map(("a", _)) :+ ("b", 7L),
      (6L to 10L).map(("a", _)) :+ ("b", 9L))
    assert(ranges(df) == Some(Seq(("a", 1L, 10L), ("b", 7L, 7L), ("b", 9L, 9L))))
  }

  test("duplicate keys, within and across partitions, count once") {
    val df = parts(Seq(("t", 3L), ("t", 3L), ("t", 4L)), Seq(("t", 4L), ("t", 3L)))
    assert(ranges(df) == Some(Seq(("t", 3L, 4L))))
  }

  test("a single id is one range") {
    assert(ranges(parts(Seq(("t", 7L)))) == Some(Seq(("t", 7L, 7L))))
  }

  test("Long.MinValue and Long.MaxValue: no hi + 1 overflow, exact membership") {
    val (lo, hi) = (Long.MinValue, Long.MaxValue)
    val df = parts(Seq(("t", hi), ("t", lo)), Seq(("t", hi - 1), ("t", lo + 1), ("t", hi)))
    val keys = KeyRanges.gather(df).get
    assert(keys.ranges == Seq(("t", lo, lo + 1), ("t", hi - 1, hi)))
    assert(Seq(lo, lo + 1, hi - 1, hi).forall(keys.contains("t", _)))
    assert(Seq(lo + 2, -1L, 0L, hi - 2).forall(!keys.contains("t", _)))
    assert(!keys.contains("u", hi))
    // the same membership as a predicate over a frame
    val probe = Seq(("t", lo), ("t", 0L), ("t", hi), ("u", hi)).toDF("table_name", "id")
    assert(probe.filter(keys.holds).as[(String, Long)].collect().toSet ==
      Set(("t", lo), ("t", hi)))
  }

  test("past the cap, in one partition or merged, there are no ranges") {
    val fragmented = (0L until 10L).map(i => ("t", i * 2))
    assert(ranges(parts(fragmented), maxRanges = 9).isEmpty)
    assert(ranges(parts(fragmented.take(5), fragmented.drop(5)), maxRanges = 9).isEmpty)
    assert(ranges(parts(fragmented), maxRanges = 10).map(_.size) == Some(10))
  }

  test("a NULL id is counted per table and fails a gather") {
    val b = new KeyRanges.Builder(KeyRanges.MaxRanges)
    Seq(Some(1L), None, None).foreach(id => b.add("t", Row(id.map(Long.box).orNull), 0))
    val partial = b.result()
    assert(partial.nullIds == Map("t" -> 2L))
    assert(partial.ranges.map(_.ranges) == Some(Seq(("t", 1L, 1L))))
    val withNull = Seq(("t", Some(1L)), ("t", None)).toDF("table_name", "id")
    intercept[IllegalArgumentException](KeyRanges.gather(withNull))
  }
}
