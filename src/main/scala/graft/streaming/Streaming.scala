package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming surface (SURVEY.md §2.10): the file-stream
  * source and the stateful streaming analytics a telemetry pipeline
  * needs (session windows, watermarked dedup, a watermarked
  * stream-stream join). OHLC bars stream through the one batch operator
  * ([[graft.ext.TimeSeries.ohlcBars]]) and the reference's "real-time
  * archival" future-work note (reference README.md:124) through the
  * archiver CLI's own micro-batch ([[graft.ArchiverMain.archiveStream]]).
  *
  * Every transform here is defined `DataFrame => DataFrame` so the SAME
  * code runs in batch and streaming — the streaming tests assert
  * stream-mode output equals batch-mode output on the same files.
  */
object Streaming {

  /** A fresh session for a stream graft runs itself on a local temp
    * checkpoint: the caller's time zone (watermark parsing, `to_date`
    * bucketing) and shuffle partitions copied across — `newSession`
    * inherits only builder-time options — and Spark's FileSystem-based
    * checkpoint manager. The default FileContext manager renames with
    * overwrite, which matters only on HDFS; on a local path without
    * libhadoop each of its renames forks a `readlink` process, paid on
    * every offset-log, commit-log and state-store file of every
    * micro-batch. The state-store files keep their `.crc` checksums.
    * The caller's session is not changed.
    */
  private[graft] def streamSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
      .foreach(k => s2.conf.set(k, s.conf.get(k)))
    s2.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName)
    s2
  }

  /** events schema for file-stream reads, with `ts` as found in the
    * directory (see [[readEventsStream]]).
    */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over an events-shaped parquet
    * directory — the incremental version of the reference's batch
    * re-scan loop: one file per micro-batch.
    *
    * A file stream needs its schema up front: this reads it from a
    * footer ALREADY in `dir`, on the driver with no Spark job
    * ([[graft.model.Tables.parquetSchema]]), checks `ts` through
    * [[graft.model.Tables.eventsTsType]] and canonicalizes it to a µs
    * TimestampType exactly like [[graft.model.Tables.events]]. Requires
    * ≥1 seed file at start — true for the re-scan layouts this models.
    * Files of a different `ts` dtype arriving later fail the stream
    * loudly rather than misread.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = graft.model.Tables.eventsTsType(spark,
      graft.model.Tables.parquetSchema(spark, dir))
    spark.readStream
      .schema(eventsSchema(tsType))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Session windows (30-min inactivity gap) — native session_window,
    * the streaming twin of the batch q_sessionize query.
    *
    * Output-mode semantics (measured, r15): unlike plain windowed
    * aggregation, the session operator filters watermark-LATE input
    * rows in EVERY output mode, complete included — complete mode only
    * stops state eviction, not the late filter. Time-ordered arrival
    * (append mode, production) keeps the tight default delay; an
    * arrival-order-free complete-mode run (q_stream_sessions) must
    * widen `watermark` past the data's time span so nothing is late.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stateful streaming dedup on event_id within the watermark horizon —
    * exactly-once-per-key delivery downstream.
    */
  def dedupedStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with watermarks: purchases joined to the
    * same user's signups within `horizon` BEFORE the purchase. Both
    * sides carry watermarks and the join condition bounds event time on
    * both sides, so state is provably bounded — the join Spark refuses
    * to run unbounded. Works identically in batch (the equivalence
    * test's oracle).
    */
  def purchaseSignupJoin(events: DataFrame, watermark: String = "1 hour",
      horizon: String = "INTERVAL 7 DAYS"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", watermark)
    purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(horizon))
  }
}

