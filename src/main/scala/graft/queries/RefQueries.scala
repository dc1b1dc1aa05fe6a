package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Archive, Scalar}

/** Queries covering every [REF]/[DEL] operator of the reference
  * (SURVEY.md §2.1-2.8): the archival pipeline of pg-archiver `main.go`
  * re-expressed as declarative Spark plans over the `events` table (which
  * plays the reference's `iot_data` — FIXTURES.md role mapping).
  *
  * Determinism contract (SURVEY §5.1): fixed cutoff literals (never
  * `now()`), explicit ORDER BY with tiebreakers, UTC session timezone.
  */
object RefQueries {

  /** The retention cutoff used by every verified archival query — a fixed
    * literal standing in for the reference's `now() - 90 days`
    * (main.go:177); events span 2024-01-01..2024-01-30 at every SF.
    */
  val Cutoff = "2024-01-20 00:00:00"

  /** events → the reference's IoT record shape (main.go:20-26):
    * id, timestamp, device_id, value.
    */
  def eventsAsIot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id").as("id"),
      col("ts").as("timestamp"),
      col("user_id").cast("string").as("device_id"),
      col("value"))

  /** eventsAsIot with the retention cutoff applied on the NATIVE scan
    * column, BEFORE the canonicalizing cast: a predicate on the cast
    * column cannot pass through an NTZ → TIMESTAMP cast to the scan, so
    * the cutoff literal is cast to the loaded dtype instead and the
    * parquet reader evaluates the filter against row-group statistics
    * (PushedFilters — asserted in PlanSpec).
    */
  def eventsAsIotBefore(s: SparkSession, d: String, cutoff: String): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    val raw = Tables.load(s, d, "events")
    raw.filter(col("ts") < lit(cutoff).cast(Tables.eventsTsType(s, raw.schema)))
      .withColumn("ts", col("ts").cast(TimestampType))
      .select(
        col("event_id").as("id"),
        col("ts").as("timestamp"),
        col("user_id").cast("string").as("device_id"),
        col("value"))
  }

  /** DuckDB twin of `Tables.events`'s ts canonicalization. On the
    * timestamp[us] fixtures (DuckDB reads them as TIMESTAMP) `epoch_ns`
    * zero-pads to ns and the divide round-trips the identical µs value;
    * on the r1–r7 TIMESTAMP_NS fixtures it floor-divided ns to µs. The
    * oracle string is the board's reference and is kept as it was
    * verified in the r9 sf0.01+sf0.1 sweeps.
    */
  private val EventsCte =
    """WITH e AS (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |  user_id, event_type, value, props FROM events)""".stripMargin
  private[queries] val IotCte =
    EventsCte + """, iot AS (SELECT event_id AS id, ts AS timestamp,
      |  CAST(user_id AS VARCHAR) AS device_id, value FROM e)""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1+P2 (main.go:89,91): projection + retention range filter —
    // both reach the parquet scan (ReadSchema pruning + PushedFilters).
    "q_retention_filter" -> ((s, d) =>
      eventsAsIotBefore(s, d, Cutoff).orderBy(col("id"))),

    // O1+O2+O3 (main.go:88-93): newest batchSize rows older than cutoff.
    // Catalyst fuses to TakeOrderedAndProject (distributed top-k heap).
    "q_topk_newest" -> ((s, d) =>
      eventsAsIotBefore(s, d, Cutoff)
        .transform(Archive.topKNewest("timestamp", "id", 100))),

    // P3+U1 (main.go:114,180-187): per-table stamp + n-ary union-all.
    "q_union_stamp" -> ((s, d) => {
      val iot = eventsAsIot(s, d)
      val a = iot.filter(col("id") % 2 === 0).transform(Archive.stampTableName("iot_data"))
      val b = iot.filter(col("id") % 2 === 1).transform(Archive.stampTableName("iot_metrics"))
      Archive.unionAll(Seq(a, b)).orderBy(col("table_name"), col("id"))
    }),

    // A1+A2 (main.go:194-200,104): batch max-timestamp + row count as
    // plan nodes (partial agg per partition + single merge).
    "q_max_ts" -> ((s, d) =>
      eventsAsIotBefore(s, d, Cutoff)
        .agg(max(col("timestamp")).as("max_ts"), count(lit(1)).as("n"))),

    // A2 grouped variant: row counts per discriminator.
    "q_row_counts" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // P4+F3 (main.go:36-44,39): archive row shape — timestamp → epoch
    // nanos INT64 (µs*1000; Spark has no ns precision).
    "q_archive_shape" -> ((s, d) =>
      eventsAsIotBefore(s, d, Cutoff)
        .select(
          col("id"),
          Scalar.epochNanos(col("timestamp")).as("timestamp"),
          col("device_id"), col("value"),
          lit("events").as("table_name"))
        .orderBy(col("id"))),

    // S4 (main.go:220-223): hive time-partition derivation, per-row
    // (fixing the reference's lossy batch-max placement, SURVEY §2.1 S4).
    "q_time_partitions" -> ((s, d) =>
      eventsAsIot(s, d)
        .transform(Archive.withTimePartitions("timestamp"))
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("year"), col("month"))),

    // §3.1 flagship: the whole archival pipeline — per-table
    // filter→top-k→stamp, union, partition-derive — one Catalyst plan.
    "q_archive_pipeline" -> ((s, d) => {
      val iot = eventsAsIotBefore(s, d, Cutoff)
      Archive.archivePipeline(
        Seq("iot_data" -> iot.filter(col("id") % 2 === 0),
            "iot_metrics" -> iot.filter(col("id") % 2 === 1)),
        "timestamp", "id", Cutoff, 100)
        .withColumn("year", col("year").cast("int"))
        .withColumn("month", col("month").cast("int"))
        .orderBy(col("table_name"), col("id"))
    }),

    // schema evolution across archive epochs (round 11): epoch 1 was
    // written BEFORE the upstream table gained `value`; epoch 2 has
    // it. A mergeSchema read unifies them (missing column → NULL) —
    // the archive-maintenance reality the reference's fixed-schema
    // writer (main.go:46-85) hits the day the source table is ALTERed.
    // The roundtrip is real (two parquet writes, one merged read); the
    // oracle is the equivalent plain query over the fixture.
    "q_schema_evolution" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_schema_evo").toString
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val base = Tables.events(s, d)
      base.filter(col("ts") < cut)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(dir + "/epoch1")
      base.filter(col("ts") >= cut)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(dir + "/epoch2")
      // materialize the rollup (event-type cardinality rows), then
      // delete the epoch dirs (in finally: failed runs must not leak
      // disk either) — repeated gate/bench runs accumulate nothing
      try {
        s.read.option("mergeSchema", "true")
          .parquet(dir + "/epoch1", dir + "/epoch2")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_missing"),
            (sum(coalesce(round(col("value") * 100, 0).cast("long"),
              lit(0L))).cast("double") / 100.0).as("value_total"))
          .orderBy(col("event_type"))
          .localCheckpoint()
      } finally graft.model.Tables.rmrf(dir)
    }),

    // P5+F6 (README.md:93-101): equality / IN / range predicates over
    // the archive read path.
    "q_eq_in_filter" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isin("error", "signup") &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("value") > 50.0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))),

    // archive-integrity digest: order-independent bit_xor of per-row
    // md5 prefixes per (year, month) — the verify-before-DELETE check
    // the reference's archive cycle is missing.
    "q_archive_checksum" -> ((s, d) => {
      val iot = eventsAsIot(s, d)
      Archive.partitionChecksums(iot, "timestamp", Seq(
          col("id"), col("device_id"),
          graft.ops.Scalar.epochNanos(col("timestamp")),
          col("value").cast("decimal(18,6)")))
        .orderBy(col("year"), col("month"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_retention_filter" ->
      s"""$IotCte SELECT id, timestamp, device_id, value FROM iot
         |WHERE timestamp < TIMESTAMP '$Cutoff' ORDER BY id""".stripMargin,

    "q_topk_newest" ->
      s"""$IotCte SELECT id, timestamp, device_id, value FROM iot
         |WHERE timestamp < TIMESTAMP '$Cutoff'
         |ORDER BY timestamp DESC, id ASC LIMIT 100""".stripMargin,

    "q_union_stamp" ->
      s"""$IotCte, u AS (
         |  SELECT *, 'iot_data' AS table_name FROM iot WHERE id % 2 = 0
         |  UNION ALL
         |  SELECT *, 'iot_metrics' AS table_name FROM iot WHERE id % 2 = 1)
         |SELECT id, timestamp, device_id, value, table_name FROM u
         |ORDER BY table_name, id""".stripMargin,

    "q_max_ts" ->
      s"""$IotCte SELECT max(timestamp) AS max_ts, count(*) AS n FROM iot
         |WHERE timestamp < TIMESTAMP '$Cutoff'""".stripMargin,

    "q_row_counts" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_archive_shape" ->
      s"""$IotCte SELECT id, epoch_us(timestamp) * 1000 AS timestamp,
         |device_id, value, 'events' AS table_name FROM iot
         |WHERE timestamp < TIMESTAMP '$Cutoff' ORDER BY id""".stripMargin,

    "q_time_partitions" ->
      s"""$IotCte SELECT CAST(year(timestamp) AS INT) AS year,
         |CAST(month(timestamp) AS INT) AS month, count(*) AS n,
         |min(id) AS min_id, max(id) AS max_id FROM iot
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_archive_pipeline" ->
      s"""$IotCte, u AS (
         |  (SELECT *, 'iot_data' AS table_name FROM iot
         |   WHERE id % 2 = 0 AND timestamp < TIMESTAMP '$Cutoff'
         |   ORDER BY timestamp DESC, id ASC LIMIT 100)
         |  UNION ALL
         |  (SELECT *, 'iot_metrics' AS table_name FROM iot
         |   WHERE id % 2 = 1 AND timestamp < TIMESTAMP '$Cutoff'
         |   ORDER BY timestamp DESC, id ASC LIMIT 100))
         |SELECT id, timestamp, device_id, value, table_name,
         |CAST(year(timestamp) AS INT) AS year,
         |CAST(month(timestamp) AS INT) AS month FROM u
         |ORDER BY table_name, id""".stripMargin,

    // the merged-read roundtrip collapses to: value is NULL exactly
    // for pre-cutoff rows
    "q_schema_evolution" ->
      """WITH e AS (SELECT event_type,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts, value
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |    THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |    AS DOUBLE) / 100.0 AS value_total
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_eq_in_filter" ->
      """WITH e AS (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |  user_id, event_type, value FROM events)
        |SELECT event_id, ts, user_id, event_type, value FROM e
        |WHERE event_type IN ('error','signup')
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND value > 50.0
        |ORDER BY event_id""".stripMargin,

    // Canonical row encoding mirrors Archive.groupChecksums: per field,
    // NULL → 'N', value → 'V<len>:<value>', tokens concatenated — a
    // self-delimiting (injective) encoding, where '|'-joining would let
    // NULL-skips or delimiter bytes inside values collide two rows.
    "q_archive_checksum" ->
      s"""$IotCte, c AS (SELECT timestamp,
         |  CAST(id AS VARCHAR) AS f1, device_id AS f2,
         |  CAST(epoch_us(timestamp) * 1000 AS VARCHAR) AS f3,
         |  CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS f4
         |  FROM iot),
         |r AS (SELECT year(timestamp) AS y, month(timestamp) AS m,
         |  CAST('0x' || substr(md5(
         |    (CASE WHEN f1 IS NULL THEN 'N' ELSE 'V' || length(f1) || ':' || f1 END) ||
         |    (CASE WHEN f2 IS NULL THEN 'N' ELSE 'V' || length(f2) || ':' || f2 END) ||
         |    (CASE WHEN f3 IS NULL THEN 'N' ELSE 'V' || length(f3) || ':' || f3 END) ||
         |    (CASE WHEN f4 IS NULL THEN 'N' ELSE 'V' || length(f4) || ':' || f4 END)),
         |    1, 15) AS BIGINT) AS h
         |  FROM c)
         |SELECT CAST(y AS INT) AS year, CAST(m AS INT) AS month,
         |  COUNT(*) AS n_rows, bit_xor(h) AS checksum
         |FROM r GROUP BY y, m ORDER BY year, month""".stripMargin
  )
}
