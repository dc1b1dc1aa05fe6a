package graft.model

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Schema-drift canary for the driver-generated fixtures.
  *
  * Round 8 lost 18 queries and 34 tests to a silent fixture
  * regeneration (`events.ts` changed physical type from parquet
  * TIMESTAMP(NANOS) to timestamp[us] under the repo's feet). This check
  * makes the next such drift cost minutes instead of a round: it reads
  * only parquet FOOTERS (no data) and compares each table's loaded
  * schema against the accepted contract, returning human-readable
  * messages that name the drifted column, what arrived, and what is
  * accepted. FixtureSchemaSpec runs it against the live testdata and
  * proves it goes red on a synthetically drifted fixture.
  *
  * `events.ts` accepts exactly the dtypes [[Tables.eventsTsType]]
  * canonicalizes (TIMESTAMP | TIMESTAMP_NTZ). The r1–r7 parquet
  * TIMESTAMP(NANOS) encoding is no longer read; [[driftAll]] loads it
  * as BIGINT and reports it as drift.
  * Extra columns are reported too: a new column is not a failure for
  * today's queries but is exactly the early warning this exists for.
  */
object FixtureCheck {

  /** Accepted dtypes per column, per table. Ordered (name order is part
    * of the contract only loosely — order changes are reported as info
    * by position-independent matching, missing/extra/type drift are the
    * real signals).
    */
  private def t(dts: DataType*): Set[DataType] = dts.toSet
  /** Datetime columns: only real timestamp types. For `events.ts` these
    * are exactly what `Tables.eventsTsType` accepts — accepting a type
    * there REQUIRES the readers to handle it (the canary must never stay
    * green on a dtype the readers would throw on).
    */
  private val timestamps: Set[DataType] = Set(TimestampType, TimestampNTZType)

  val expected: Map[String, Map[String, Set[DataType]]] = Map(
    "region" -> Map("r_regionkey" -> t(IntegerType), "r_name" -> t(StringType)),
    "nation" -> Map("n_nationkey" -> t(IntegerType), "n_name" -> t(StringType),
      "n_regionkey" -> t(IntegerType)),
    "customer" -> Map("c_custkey" -> t(LongType), "c_name" -> t(StringType),
      "c_nationkey" -> t(IntegerType), "c_acctbal" -> t(DoubleType),
      "c_mktsegment" -> t(StringType)),
    "supplier" -> Map("s_suppkey" -> t(LongType), "s_name" -> t(StringType),
      "s_nationkey" -> t(IntegerType), "s_acctbal" -> t(DoubleType)),
    "part" -> Map("p_partkey" -> t(LongType), "p_name" -> t(StringType),
      "p_brand" -> t(StringType), "p_type" -> t(StringType),
      "p_size" -> t(IntegerType), "p_retailprice" -> t(DoubleType)),
    "orders" -> Map("o_orderkey" -> t(LongType), "o_custkey" -> t(LongType),
      "o_orderstatus" -> t(StringType), "o_totalprice" -> t(DoubleType),
      "o_orderdate" -> timestamps, "o_orderpriority" -> t(StringType)),
    "lineitem" -> Map("l_orderkey" -> t(LongType), "l_partkey" -> t(LongType),
      "l_suppkey" -> t(LongType), "l_linenumber" -> t(IntegerType),
      "l_quantity" -> t(DoubleType), "l_extendedprice" -> t(DoubleType),
      "l_discount" -> t(DoubleType), "l_tax" -> t(DoubleType),
      "l_returnflag" -> t(StringType), "l_linestatus" -> t(StringType),
      "l_shipdate" -> timestamps),
    "events" -> Map("event_id" -> t(LongType), "ts" -> timestamps,
      "user_id" -> t(LongType), "event_type" -> t(StringType),
      "value" -> t(DoubleType), "props" -> t(StringType)),
    "documents" -> Map("doc_id" -> t(LongType), "text" -> t(StringType),
      "lang" -> t(StringType), "source" -> t(StringType),
      "n_chars" -> t(LongType)),
    "embeddings" -> Map("vec_id" -> t(LongType),
      "embedding" -> t(ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
      "label" -> t(IntegerType))
  )

  /** Drift messages for one table's loaded schema vs the contract;
    * empty = no drift. Pure so the spec can exercise it on synthetic
    * schemas without writing files.
    */
  def drift(table: String, schema: StructType): Seq[String] = {
    val contract = expected.getOrElse(table,
      return Seq(s"$table: no schema contract registered — add it to FixtureCheck"))
    val present = schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = (contract.keySet -- present.keySet).toSeq.sorted
      .map(c => s"$table.$c: column MISSING (expected one of " +
        s"${contract(c).map(_.sql).toSeq.sorted.mkString("|")})")
    val extra = (present.keySet -- contract.keySet).toSeq.sorted
      .map(c => s"$table.$c: UNEXPECTED new column (${present(c).sql}) — " +
        "fixture regenerated with a wider schema?")
    val retyped = contract.keySet.intersect(present.keySet).toSeq.sorted.flatMap { c =>
      if (contract(c).contains(present(c))) None
      else Some(s"$table.$c: dtype DRIFTED to ${present(c).sql} (accepted: " +
        s"${contract(c).map(_.sql).toSeq.sorted.mkString("|")}) — " +
        "the r8 events.ts incident class; fix the reader or the contract")
    }
    missing ++ retyped ++ extra
  }

  /** Check every fixture table under `sfDir` (footer reads only). The
    * legacy nanos flag makes a parquet TIMESTAMP(NANOS) regeneration load
    * as BIGINT, so it is named as `events.ts: dtype DRIFTED to BIGINT`
    * instead of failing the footer read with PARQUET_TYPE_ILLEGAL.
    */
  def driftAll(spark: SparkSession, sfDir: String): Seq[String] = {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    try expected.keySet.toSeq.sorted.flatMap { table =>
      val path = s"$sfDir/$table.parquet"
      if (!new java.io.File(path).exists) Seq(s"$table: fixture missing at $path")
      else drift(table, spark.read.parquet(path).schema)
    } finally saved.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))
  }
}
