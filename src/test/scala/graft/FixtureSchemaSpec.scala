package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.model.FixtureCheck

/** The r8 incident regression guard: the driver regenerated testdata
  * mid-round and `events.ts` silently changed physical type, costing 18
  * queries and 34 tests for a round. This spec (a) fails with a
  * readable, column-naming message if the CURRENT testdata drifts
  * outside the accepted contract again, and (b) proves the canary
  * itself detects drift (red on synthetic drifted schemas — a canary
  * that can't fire is worse than none).
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("canary: current testdata matches the fixture schema contract " +
    "(footer-only probe; a failure here means the driver regenerated " +
    "fixtures — read the message, fix the reader or the contract)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val drift = FixtureCheck.driftAll(spark, sf)
      assert(drift.isEmpty, s"\nFIXTURE DRIFT at $sf:\n  " + drift.mkString("\n  "))
    }
  }

  test("Tables.load resolves each fixture's schema on the driver: the " +
      "schema spark.read.parquet infers, with no Spark job; a directory " +
      "of Spark-written files (the events stream's source) too") {
    val sc = spark.sparkContext
    val sf = TestSpark.Sf0001
    for (table <- FixtureCheck.expected.keySet.toSeq.sorted) {
      val group = s"schema-$table"
      sc.setJobGroup(group, group)
      val loaded = try model.Tables.load(spark, sf, table).schema finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 10000L)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, s"$table ran a job")
      assert(loaded == spark.read.parquet(s"$sf/$table.parquet").schema, table)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_dir").toString
    try {
      model.Tables.events(spark, sf).repartition(2)
        .write.mode("overwrite").parquet(dir)
      assert(model.Tables.parquetSchema(spark, dir) == spark.read.parquet(dir).schema)
    } finally model.Tables.rmrf(dir)
  }

  test("canary fires on a retyped column, naming table.column, the " +
    "arrived dtype, and the accepted set (the r8 events.ts class)") {
    // events with ts as String — the shape of an incompatible regeneration
    val drifted = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", StringType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val msgs = FixtureCheck.drift("events", drifted)
    assert(msgs.size == 1, msgs)
    assert(msgs.head.contains("events.ts") && msgs.head.contains("DRIFTED") &&
      msgs.head.contains("STRING"), msgs.head)
  }

  test("canary accepts every encoding the events reader handles and " +
    "rejects none of them (Long ns | TIMESTAMP | TIMESTAMP_NTZ)") {
    def events(ts: DataType) = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", ts),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    for (dt <- Seq(TimestampType, TimestampNTZType))
      assert(FixtureCheck.drift("events", events(dt)).isEmpty, dt)
    // the r1–r7 TIMESTAMP(NANOS) encoding loads as BIGINT under the
    // canary's legacy flag, and no reader accepts it any more
    val msgs = FixtureCheck.drift("events", events(LongType))
    assert(msgs.size == 1 && msgs.head.contains("events.ts: dtype DRIFTED to BIGINT"),
      msgs)
  }

  test("canary fires on missing and unexpected columns") {
    val s = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("payload", BinaryType))) // props gone, payload new
    val msgs = FixtureCheck.drift("events", s)
    assert(msgs.exists(m => m.contains("events.props") && m.contains("MISSING")), msgs)
    assert(msgs.exists(m => m.contains("events.payload") && m.contains("UNEXPECTED")), msgs)
  }

  test("the events readers themselves fail loudly on an unsupported " +
    "ts dtype, naming the column and the accepted encodings") {
    import org.apache.spark.sql.functions._
    import graft.model.Tables
    val base = java.nio.file.Files.createTempDirectory("graft_badts").toString
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
    // a string ts, and epoch-nanos BIGINT (the r1–r7 encoding as the
    // legacy flag surfaced it)
    for ((name, ts) <- Seq(
        "string" -> col("ts").cast("string"),
        "nanos" -> (unix_micros(col("ts").cast("timestamp")) * 1000L))) {
      val dir = s"$base/$name"
      fixture.withColumn("ts", ts).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      for (read <- Seq(
          () => Tables.events(spark, dir),
          () => graft.queries.RefQueries.eventsAsIotBefore(spark, dir,
            graft.queries.RefQueries.Cutoff),
          () => graft.streaming.Streaming.readEventsStream(spark,
            s"$dir/events.parquet"))) {
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains("events.ts") &&
          e.getMessage.contains("TIMESTAMP_NTZ"), s"$name: ${e.getMessage}")
      }
    }
  }

  test("NTZ canonicalization refuses a non-UTC session timezone: the " +
    "two fixture encodings would disagree on epoch values there " +
    "(SURVEY §5.1 determinism contract)") {
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException](
        graft.model.Tables.events(spark, TestSpark.Sf0001))
      assert(e.getMessage.contains("America/New_York") &&
        e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
    // and UTC spellings that normalize to UTC are all accepted
    for (tz <- Seq("UTC", "Etc/UTC", "Z")) {
      try {
        spark.conf.set("spark.sql.session.timeZone", tz)
        assert(graft.model.Tables.events(spark, TestSpark.Sf0001)
          .schema("ts").dataType.typeName == "timestamp")
      } finally spark.conf.set("spark.sql.session.timeZone", saved)
    }
  }

  test("canary fires red end-to-end on a synthetic drifted PARQUET " +
    "fixture on disk, green on an untouched copy") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_canary").toString
    // untouched: copy the real events fixture through a re-write
    spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/ok/events.parquet")
    for (t <- FixtureCheck.expected.keys if t != "events")
      spark.read.parquet(s"${TestSpark.Sf0001}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/ok/$t.parquet")
    assert(FixtureCheck.driftAll(spark, s"$dir/ok").isEmpty)
    // drifted: ts re-typed to String on disk
    spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
      .withColumn("ts", col("ts").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/bad/events.parquet")
    for (t <- FixtureCheck.expected.keys if t != "events")
      spark.read.parquet(s"${TestSpark.Sf0001}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/bad/$t.parquet")
    val drift = FixtureCheck.driftAll(spark, s"$dir/bad")
    assert(drift.size == 1 && drift.head.contains("events.ts"), drift)
  }
}
