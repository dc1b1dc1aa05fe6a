package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale mechanics that only matter beyond one machine (SURVEY.md
  * "100 TB design"): salted joins for skewed keys, exercised by
  * ScaleSpec.
  */
object Scale {

  /** Skew-safe equi-join: salt the skewed (left) side's key into
    * `saltBuckets` sub-keys and explode the build (right) side across
    * all salts, so one hot key spreads over `saltBuckets` tasks instead
    * of melting a single reducer. Semantics identical to
    * `left.join(right, leftKey === rightKey, "inner")`.
    *
    * (AQE's skewedJoin handles sort-merge skew automatically at
    * runtime; explicit salting remains the tool for hash-partitioned
    * aggregations and for engines/paths AQE does not cover.)
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, saltBuckets: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)).cast("int"))
    val exploded = right.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    salted.join(exploded,
        salted(leftKey) === exploded(rightKey) &&
          salted("__salt") === exploded("__salt"))
      .drop("__salt")
  }
}
