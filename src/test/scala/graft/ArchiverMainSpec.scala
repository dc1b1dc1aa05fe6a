package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{JdbcSource, ParquetSource}
import graft.ops.Archive

/** End-to-end archiver integration (the reference's full `run()` loop,
  * main.go:147-256): config → extract → archive → idempotent append →
  * keyed retention DELETE.
  *
  * Two harnesses:
  *   - parquet stand-in source: full loop minus the DELETE, plus the
  *     crash-rerun guarantee (rerunning an interrupted archival appends
  *     zero duplicates);
  *   - embedded Apache Derby over the REAL `spark.read.jdbc` path and a
  *     REAL `java.sql.Connection` for the retention DELETE — the live
  *     JDBC round-trip a PostgreSQL-less sandbox can run. Same wire
  *     contract (DriverManager, PreparedStatement binds) as production.
  */
class ArchiverMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val Cutoff = "2024-02-01 00:00:00"

  // ---------------------------------------------------------------- config

  test("parseConfig: env-first, KEY=value args override, reference defaults") {
    val cfg = ArchiverMain.parseConfig(
      Map("GRAFT_SOURCE_DIR" -> "/src", "GRAFT_OUT" -> "/out",
        "GRAFT_TABLES" -> "a, b", "GRAFT_CUTOFF" -> Cutoff),
      Array("GRAFT_TABLES=c"))
    assert(cfg.tables == Seq("c")) // arg wins
    assert(cfg.batchSize == 100 && !cfg.deleteFromSource) // reference defaults
    assert(cfg.cutoff == Cutoff)

    intercept[IllegalArgumentException] { // source xor jdbc enforced
      ArchiverMain.parseConfig(Map("GRAFT_OUT" -> "/out"))
    }
    intercept[IllegalArgumentException] {
      ArchiverMain.parseConfig(Map("GRAFT_OUT" -> "/out",
        "GRAFT_SOURCE_DIR" -> "/s", "GRAFT_JDBC_URL" -> "jdbc:x"))
    }

    // each rejected input's error names what is wrong with it
    def rejects(named: String, env: (String, String)*): Unit = {
      val e = intercept[IllegalArgumentException] {
        ArchiverMain.parseConfig(Map("GRAFT_SOURCE_DIR" -> "/src", "GRAFT_OUT" -> "/out") ++ env)
      }
      assert(e.getMessage.contains(named), e.getMessage)
    }
    // a table named twice, also in another case, would be archived twice
    rejects("iot_data", "GRAFT_TABLES" -> "iot_data,iot_data")
    rejects("IOT_DATA", "GRAFT_TABLES" -> "iot_data, IOT_DATA")
    // a DELETE the config asks for but cannot run
    rejects("GRAFT_DELETE", "GRAFT_DELETE" -> "true")
    rejects("GRAFT_DELETE", "GRAFT_DELETE" -> "true", "GRAFT_STREAMING" -> "true")
    // malformed values
    rejects("GRAFT_BATCH_SIZE", "GRAFT_BATCH_SIZE" -> "abc")
    rejects("GRAFT_BATCH_SIZE", "GRAFT_BATCH_SIZE" -> "0")
    rejects("GRAFT_RETENTION_DAYS", "GRAFT_RETENTION_DAYS" -> "-1")
    rejects("GRAFT_DELETE", "GRAFT_DELETE" -> "yes")
    rejects("GRAFT_STREAMING", "GRAFT_STREAMING" -> "1")
    rejects("GRAFT_CUTOFF", "GRAFT_CUTOFF" -> "2024-02-30 00:00:00")
    rejects("GRAFT_CUTOFF", "GRAFT_CUTOFF" -> "2024-02-01")
    rejects("GRAFT_CUTOFF", "GRAFT_CUTOFF" -> "2024-02-01T00:00:00")
  }

  test("main honours GRAFT_MASTER given as a KEY=value argument") {
    val srcDir = tmp("graft_cli_master_src")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), "d1", 1.0))
      .toDF("id", "timestamp", "device_id", "value")
      .write.parquet(s"$srcDir/iot_data.parquet")
    val (code, out) = TestSpark.runMain("graft.ArchiverMain", Seq(
      s"GRAFT_SOURCE_DIR=$srcDir", s"GRAFT_OUT=${tmp("graft_cli_master_out")}/arch",
      s"GRAFT_CUTOFF=$Cutoff", "GRAFT_MASTER=not-a-master"))
    assert(code != 0, s"an unparseable master must fail the run:\n${out.mkString("\n")}")
    assert(!out.exists(_.startsWith("Successfully archived")))
  }

  test("diff mode rejects a malformed argument instead of dropping it") {
    val gen = tmp("graft_cli_diff_gen")
    Seq((1L, 1000L, "d1", 1.0, "iot_data"))
      .toDF("id", "timestamp", "device_id", "value", "table_name")
      .write.mode("overwrite").parquet(gen)
    val (code, out) = TestSpark.runMain("graft.ArchiverMain",
      Seq(s"GRAFT_DIFF_A=$gen", s"GRAFT_DIFF_B=$gen", "bogus"))
    assert(code != 0, s"a malformed arg must fail the run:\n${out.mkString("\n")}")
    assert(!out.exists(_.startsWith("Archive diff:")))
  }

  test("a failing table aborts the whole run before anything is written " +
      "(reference main.go:183-185)") {
    val srcDir = tmp("graft_cli_abort_src")
    val outDir = tmp("graft_cli_abort_out") + "/arch"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), "d1", 1.0))
      .toDF("id", "timestamp", "device_id", "value")
      .write.parquet(s"$srcDir/good.parquet")
    val cfg = ArchiverMain.parseConfig(Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "good,missing", "GRAFT_CUTOFF" -> Cutoff))
    val e = intercept[RuntimeException] {
      ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None)
    }
    assert(e.getMessage.contains("processing table missing"), e.getMessage)
    assert(!new java.io.File(outDir).exists(), "aborted run must write nothing")
  }

  // ------------------------------------------------- parquet stand-in loop

  test("parquet source end-to-end: batch lands partitioned + nanos-shaped, " +
      "crash-rerun appends zero duplicates") {
    val srcDir = tmp("graft_cli_src")
    val outDir = tmp("graft_cli_out") + "/arch"
    def write(table: String, rows: Seq[(Long, String, String, Double)]): Unit =
      rows.toDF("id", "ts_str", "device_id", "value")
        .select(col("id"), to_timestamp(col("ts_str")).as("timestamp"),
          col("device_id"), col("value"))
        .write.parquet(s"$srcDir/$table.parquet")
    write("iot_data", Seq(
      (1L, "2023-12-30 10:00:00", "d1", 1.0),
      (2L, "2024-01-05 10:00:00", "d1", 2.0),
      (3L, "2024-01-20 10:00:00", "d2", 3.0),
      (4L, "2024-03-01 10:00:00", "d2", 4.0)))  // after cutoff: retained
    write("iot_metrics", Seq(
      (1L, "2024-01-02 00:00:00", "m1", 10.0),
      (2L, "2024-02-02 00:00:00", "m1", 20.0))) // after cutoff: retained

    val cfg = ArchiverMain.parseConfig(Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "iot_data,iot_metrics", "GRAFT_CUTOFF" -> Cutoff,
      "GRAFT_BATCH_SIZE" -> "2"))
    val r1 = ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None)
    // top-2 newest pre-cutoff from iot_data = ids {2,3}; iot_metrics = {1}
    assert(r1.extracted == 3 && r1.appended == 3 && r1.deleted.isEmpty)

    val arch = spark.read.parquet(outDir)
    assert(arch.schema("timestamp").dataType ==
      org.apache.spark.sql.types.LongType) // reference nanos shape
    assert(arch.select("table_name", "id").as[(String, Long)].collect().toSet ==
      Set(("iot_data", 2L), ("iot_data", 3L), ("iot_metrics", 1L)))
    assert(arch.select("year", "month").distinct().as[(Int, Int)].collect().toSet
      == Set((2024, 1))) // per-row partitions

    // crash-rerun (parquet source can't delete, so the same batch comes
    // back): zero new rows, archive unchanged
    val r2 = ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None)
    assert(r2.extracted == 3 && r2.appended == 0)
    assert(spark.read.parquet(outDir).count() == 3)
    assert(spark.read.parquet(outDir)
      .groupBy("table_name", "id").count().filter(col("count") > 1).isEmpty)

    // every run verifies: the read-back digest gate passed on the intact
    // archive above, and refuses (throws) once a durable archive row is
    // corrupted
    val goodRows = spark.read.parquet(outDir).collect()
    val schema = spark.read.parquet(outDir).schema
    val corrupted = spark.createDataFrame(
      java.util.Arrays.asList(goodRows.map { r =>
        val i = r.fieldIndex("value")
        val vals = r.toSeq.updated(i, r.getDouble(i) + 1000.0)
        org.apache.spark.sql.Row.fromSeq(vals)
      }: _*), schema)
    val outDir2 = tmp("graft_cli_out2") + "/arch"
    corrupted.write.partitionBy("year", "month").parquet(outDir2)
    val ex = intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg.copy(outPath = outDir2),
        ParquetSource(srcDir), None)
    }
    assert(ex.getMessage.contains("archive verification FAILED"))
  }

  test("streaming mode archives incrementally, exactly-once across " +
      "checkpoint replay AND checkpoint loss") {
    val srcDir = tmp("graft_cli_stream_src")
    val outDir = tmp("graft_cli_stream_out") + "/arch"
    val ckpt = tmp("graft_cli_stream_ckpt")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), "d1", 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-12 00:00:00"), "d1", 2.0),
        (3L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), "d2", 3.0))
      .toDF("id", "timestamp", "device_id", "value")
      .write.parquet(s"$srcDir/iot_data.parquet")

    val base = Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "iot_data", "GRAFT_CUTOFF" -> Cutoff,
      "GRAFT_STREAMING" -> "true", "GRAFT_CHECKPOINT" -> ckpt)
    val r1 = ArchiverMain.run(spark, ArchiverMain.parseConfig(base),
      graft.io.ParquetSource(srcDir), None)
    assert(r1.appended == 2) // id 3 is post-cutoff
    assert(spark.read.parquet(outDir).select("id").as[Long].collect().toSet
      == Set(1L, 2L))

    // new source file arrives → only it is processed (checkpoint keeps
    // the old files from re-reading)
    Seq((4L, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), "d9", 4.0))
      .toDF("id", "timestamp", "device_id", "value")
      .write.mode("append").parquet(s"$srcDir/iot_data.parquet")
    val r2 = ArchiverMain.run(spark, ArchiverMain.parseConfig(base),
      graft.io.ParquetSource(srcDir), None)
    assert(r2.extracted == 1 && r2.appended == 1)

    // total checkpoint loss replays EVERYTHING — the keyed idempotent
    // append still writes zero duplicates
    val r3 = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(base + ("GRAFT_CHECKPOINT" -> tmp("graft_ckpt2"))),
      graft.io.ParquetSource(srcDir), None)
    assert(r3.extracted == 3 && r3.appended == 0)
    val arch = spark.read.parquet(outDir)
    assert(arch.count() == 3)
    assert(arch.groupBy("id").count().filter(col("count") > 1).isEmpty)
    assert(arch.schema("timestamp").dataType ==
      org.apache.spark.sql.types.LongType) // the batch mode's nanos shape
  }

  test("a streaming run and a batch run share one archive: every " +
      "archived row reads back") {
    val srcDir = tmp("graft_cli_mixed_src")
    val outDir = tmp("graft_cli_mixed_out") + "/arch"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, ts) => (id, java.sql.Timestamp.valueOf(ts), "d1", id.toDouble) }
        .toDF("id", "timestamp", "device_id", "value")
        .write.mode("append").parquet(s"$srcDir/iot_data.parquet")
    write(Seq((1L, "2024-01-10 00:00:00"), (2L, "2024-01-12 00:00:00")))
    val base = Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "iot_data", "GRAFT_CUTOFF" -> Cutoff)
    val streamed = ArchiverMain.run(spark, ArchiverMain.parseConfig(base +
        ("GRAFT_STREAMING" -> "true") + ("GRAFT_CHECKPOINT" -> tmp("graft_cli_mixed_ckpt"))),
      ParquetSource(srcDir), None)
    assert(streamed.appended == 2)

    write(Seq((3L, "2024-01-20 00:00:00")))
    val batch = ArchiverMain.run(spark, ArchiverMain.parseConfig(base),
      ParquetSource(srcDir), None)
    assert(batch.extracted == 3 && batch.appended == 1)

    val ns = (ts: String) => java.sql.Timestamp.valueOf(ts).getTime * 1000000L
    val back = spark.read.parquet(outDir)
      .select("id", "timestamp").as[(Long, Long)].collect().toSet
    assert(back == Set(1L -> ns("2024-01-10 00:00:00"),
      2L -> ns("2024-01-12 00:00:00"), 3L -> ns("2024-01-20 00:00:00")))
  }

  test("verify refuses when the archive holds a batch row twice") {
    val srcDir = tmp("graft_cli_dup_src")
    val outDir = tmp("graft_cli_dup_out") + "/arch"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), "d1", 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-12 00:00:00"), "d1", 2.0))
      .toDF("id", "timestamp", "device_id", "value")
      .write.parquet(s"$srcDir/iot_data.parquet")
    val cfg = ArchiverMain.parseConfig(Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "iot_data", "GRAFT_CUTOFF" -> Cutoff))
    assert(ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None).appended == 2)

    // a second copy of id 1 lands in its partition; the anti-join then
    // skips the row, so the read-back month holds one row more
    val arch = spark.read.parquet(outDir)
    spark.createDataFrame(
        java.util.Arrays.asList(arch.filter(col("id") === 1L).collect(): _*), arch.schema)
      .write.mode("append").partitionBy("year", "month").parquet(outDir)
    assert(spark.read.parquet(outDir).count() == 3)
    val ex = intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None)
    }
    assert(ex.getMessage.contains("archive verification FAILED"))
    assert(ex.getMessage.contains("year=2024/month=1"), ex.getMessage)

    // streaming verifies each micro-batch too: the same source streamed
    // into that archive fails, naming the table and the partition
    val streamed = intercept[RuntimeException] {
      ArchiverMain.run(spark, cfg.copy(streaming = true,
        checkpointDir = Some(tmp("graft_cli_dup_ckpt"))), ParquetSource(srcDir), None)
    }
    Seq("processing table iot_data", "archive verification FAILED", "year=2024/month=1")
      .foreach(m => assert(streamed.getMessage.contains(m), streamed.getMessage))
  }

  // ------------------------------------------------ live JDBC (Derby) loop

  /** Embedded-Derby fixture: in-memory DB, lowercase-quoted columns
    * (Spark sees the canonical names), uppercase table identifiers (what
    * Derby stores for unquoted DDL — `JdbcRetention`'s quoted DELETE
    * must target the stored case exactly).
    */
  private def derby(db: String): (String, () => java.sql.Connection) = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val connect = () => java.sql.DriverManager.getConnection(url)
    val conn = connect()
    try {
      val st = conn.createStatement()
      for (t <- Seq("IOT_DATA", "IOT_METRICS"))
        st.executeUpdate(s"""CREATE TABLE $t (
          "id" BIGINT PRIMARY KEY, "timestamp" TIMESTAMP,
          "device_id" VARCHAR(32), "value" DOUBLE)""")
      st.close()
    } finally conn.close()
    (url, connect)
  }

  private def insert(connect: () => java.sql.Connection, table: String,
      rows: Seq[(Long, String, String, Double)]): Unit = {
    val conn = connect()
    try {
      val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?,?,?,?)")
      rows.foreach { case (id, ts, dev, v) =>
        ps.setLong(1, id)
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(ts))
        ps.setString(3, dev); ps.setDouble(4, v)
        ps.executeUpdate()
      }
      ps.close()
    } finally conn.close()
  }

  private def remainingIds(connect: () => java.sql.Connection, table: String): Set[Long] = {
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(s"""SELECT "id" FROM $table""")
      val b = Set.newBuilder[Long]
      while (rs.next()) b += rs.getLong(1)
      b.result()
    } finally conn.close()
  }

  test("JDBC scan pushes filters and prunes columns into the remote " +
      "query (main.go:88-93 delegation, decided at plan time)") {
    val (url, connect) = derby("graft_pushdown")
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-02-05 08:00:00", "d2", 9.0)))
    val df = JdbcSource(url, new java.util.Properties())
      .load(spark, "IOT_DATA")
      .filter(col("timestamp") < to_timestamp(lit(Cutoff)) &&
        col("value") > 0.5)
      .select("id", "timestamp")
    // read the scan node's metadata, not the plan string (toString
    // elides long filter lists to "…")
    val pushed = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        s.metadata("PushedFilters")
    }
    assert(pushed.size == 1, df.queryExecution.executedPlan.toString)
    // both predicates reach the JDBC relation as pushed filters ('*' =
    // handled entirely by the source) — they execute on the server
    // inside the generated WHERE clause, exactly the delegation
    // io/Sources.scala claims
    assert(pushed.head.contains("*LessThan(timestamp"), pushed.head)
    assert(pushed.head.contains("*GreaterThan(value,0.5"), pushed.head)
    // column pruning reaches the source too: the scan's ReadSchema is
    // exactly the projected columns, and device_id appears nowhere
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint,timestamp:timestamp>"), plan)
    assert(!plan.contains("device_id"), plan)
    assert(df.as[(Long, java.sql.Timestamp)].collect().map(_._1).toSeq
      == Seq(1L))
  }

  test("Derby round-trip: real spark.read.jdbc extract, crash-sim rerun " +
      "appends nothing, keyed DELETE removes exactly the archived ids, " +
      "batched drain empties the backlog") {
    val (url, connect) = derby("graft_e2e")
    val outDir = tmp("graft_cli_jdbc_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2023-11-15 08:00:00", "d1", 1.0),
      (2L, "2023-12-20 08:00:00", "d1", 2.0),
      (3L, "2024-01-05 08:00:00", "d2", 3.0),
      (4L, "2024-01-10 08:00:00", "d2", 4.0),
      (5L, "2024-01-25 08:00:00", "d3", 5.0),
      (6L, "2024-01-31 23:59:59", "d3", 6.0),
      (7L, "2024-02-10 08:00:00", "d4", 7.0),   // post-cutoff
      (8L, "2024-03-01 08:00:00", "d4", 8.0)))  // post-cutoff
    insert(connect, "IOT_METRICS", Seq(
      (1L, "2024-01-07 00:00:00", "m1", 10.0),
      (2L, "2024-01-08 00:00:00", "m2", 20.0),
      (3L, "2024-02-08 00:00:00", "m3", 30.0))) // post-cutoff

    val base = Map(
      "GRAFT_JDBC_URL" -> url, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "IOT_DATA,IOT_METRICS", "GRAFT_CUTOFF" -> Cutoff,
      "GRAFT_BATCH_SIZE" -> "4")
    val source = JdbcSource(url, new java.util.Properties())

    // run 1 "crashes" after the append, before the DELETE
    val crashed = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(base), source, Some(connect))
    // top-4 newest pre-cutoff of IOT_DATA = {3,4,5,6}; IOT_METRICS = {1,2}
    assert(crashed.extracted == 6 && crashed.appended == 6)
    assert(crashed.deleted.isEmpty) // GRAFT_DELETE unset = crash window
    assert(remainingIds(connect, "IOT_DATA") == (1L to 8L).toSet) // nothing deleted

    // rerun with delete on: same batch re-extracts, ZERO new archive rows
    // (exactly-once), DELETE removes exactly the archived ids
    val r2 = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(base + ("GRAFT_DELETE" -> "true")), source, Some(connect))
    assert(r2.extracted == 6 && r2.appended == 0)
    assert(r2.deleted == Map("IOT_DATA" -> 4L, "IOT_METRICS" -> 2L))
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L, 7L, 8L))
    assert(remainingIds(connect, "IOT_METRICS") == Set(3L))

    // next scheduled run drains the backlog the batch limit left behind
    val r3 = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(base + ("GRAFT_DELETE" -> "true")), source, Some(connect))
    assert(r3.extracted == 2 && r3.appended == 2)
    assert(r3.deleted == Map("IOT_DATA" -> 2L))
    assert(remainingIds(connect, "IOT_DATA") == Set(7L, 8L)) // only post-cutoff left

    // backlog empty: the run is a clean no-op
    val r4 = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(base + ("GRAFT_DELETE" -> "true")), source, Some(connect))
    assert(r4.extracted == 0 && r4.appended == 0 && r4.deleted.isEmpty)

    // archive total: every pre-cutoff row exactly once
    val arch = spark.read.parquet(outDir)
    assert(arch.count() == 8)
    assert(arch.groupBy("table_name", "id").count()
      .filter(col("count") > 1).isEmpty)
    assert(arch.filter(col("table_name") === "IOT_DATA")
      .select("id").as[Long].collect().toSet == (1L to 6L).toSet)
  }

  private def derbyBase(url: String, outDir: String) = Map(
    "GRAFT_JDBC_URL" -> url, "GRAFT_OUT" -> outDir,
    "GRAFT_TABLES" -> "IOT_DATA", "GRAFT_CUTOFF" -> Cutoff)

  test("an archiver cycle leaves no persisted blocks behind, whether its " +
      "verify passes or fails") {
    val (url, connect) = derby("graft_no_leak")
    val outDir = tmp("graft_cli_no_leak_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    val source = JdbcSource(url, new java.util.Properties())
    val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    assert(ArchiverMain.run(spark, cfg, source, Some(connect)).appended == 2)
    // ids only: the ContextCleaner may drop an earlier test's blocks meanwhile
    assert((persisted -- before).isEmpty, persisted -- before)
    val arch = spark.read.parquet(outDir)
    spark.createDataFrame(
        java.util.Arrays.asList(arch.filter(col("id") === 1L).collect(): _*), arch.schema)
      .write.mode("append").partitionBy("year", "month").parquet(outDir)
    intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg.copy(deleteFromSource = true), source, Some(connect))
    }
    assert((persisted -- before).isEmpty, persisted -- before)
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L))
  }

  test("one archiver cycle with verify and delete on runs at most 4 Spark jobs") {
    val (url, connect) = derby("graft_job_budget")
    val outDir = tmp("graft_cli_budget_out") + "/arch"
    insert(connect, "IOT_DATA", (1L to 8L).map(i =>
      (i, f"2024-01-${i + 10}%02d 08:00:00", s"d$i", i.toDouble)))
    val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir) ++
      Map("GRAFT_DELETE" -> "true", "GRAFT_BATCH_SIZE" -> "4"))
    val source = JdbcSource(url, new java.util.Properties())
    // the first cycle creates the archive; the measured one appends to it
    ArchiverMain.run(spark, cfg, source, Some(connect)): Unit
    val rec = ToolCore.recorder(spark)
    val w = try ToolCore.measure(spark, rec) {
      ArchiverMain.run(spark, cfg, source, Some(connect)).appended
    } finally spark.sparkContext.removeSparkListener(rec)
    assert(w.rows == Right(4L), w.rows)
    assert(remainingIds(connect, "IOT_DATA").isEmpty)
    assert(w.delta.jobs <= 4, s"${w.delta.jobs} jobs:\n${w.jobLines.mkString("\n")}")
  }

  /** Runs `body` with a listener recording the executed plan of each
    * SQL action; returns its result and the plans.
    */
  private def withPlans[A](body: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext, 10000L)
      (a, scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator).asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a batch past the key-range cap takes the keyed joins and per-id " +
      "deletes, with the ranged path's appended, verified and deleted results") {
    // a crash (delete off) then a recovery (delete on) and a drain, on
    // fragmented ids; maxRanges = 1 forces every batch past the cap
    def cycles(db: String, maxRanges: Int) = {
      val (url, connect) = derby(db)
      val outDir = tmp(s"graft_cli_${db}_out") + "/arch"
      insert(connect, "IOT_DATA", Seq(1L, 3L, 4L, 9L, 12L, 13L).map(i =>
        (i, f"2024-01-${i + 10}%02d 08:00:00", s"d$i", i.toDouble)))
      val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir) + ("GRAFT_BATCH_SIZE" -> "4"))
      val source = JdbcSource(url, new java.util.Properties())
      val (reports, plans) = withPlans(Seq(cfg, cfg.copy(deleteFromSource = true),
          cfg.copy(deleteFromSource = true))
        .map(c => ArchiverMain.run(spark, c, source, Some(connect), maxRanges)))
      val archived = spark.read.parquet(outDir)
        .select("id", "timestamp", "device_id", "value", "table_name")
        .as[(Long, Long, String, Double, String)].collect().toSeq.sortBy(_._1)
      (reports, remainingIds(connect, "IOT_DATA"), archived, plans)
    }
    val (ranged, rangedLeft, rangedArchive, rangedPlans) = cycles("graft_ranged", 100000)
    val (overCap, overCapLeft, overCapArchive, overCapPlans) = cycles("graft_over_cap", 1)
    assert(ranged == Seq(
      ArchiverMain.RunReport(4L, 4L, Map.empty),
      ArchiverMain.RunReport(4L, 0L, Map("IOT_DATA" -> 4L)),
      ArchiverMain.RunReport(2L, 2L, Map("IOT_DATA" -> 2L))), ranged)
    assert(overCap == ranged)
    assert(rangedLeft.isEmpty && overCapLeft.isEmpty)
    assert(rangedArchive.map(_._1) == Seq(1L, 3L, 4L, 9L, 12L, 13L))
    assert(overCapArchive == rangedArchive)
    // the ranged path moves no keys through a join; past the cap the
    // append anti-joins and the read-back semi-joins
    def joins(plans: Seq[String], kind: String) = plans.count(_.contains(kind))
    assert(joins(rangedPlans, "LeftAnti") == 0 && joins(rangedPlans, "LeftSemi") == 0 &&
      joins(rangedPlans, "BroadcastExchange") == 0, rangedPlans.mkString("\n"))
    assert(joins(overCapPlans, "LeftAnti") > 0 && joins(overCapPlans, "LeftSemi") > 0,
      overCapPlans.mkString("\n"))
  }

  test("a batch holding a NULL id is refused before anything is written, " +
      "naming the table and the count") {
    val srcDir = tmp("graft_cli_null_id_src")
    val outDir = tmp("graft_cli_null_id_out") + "/arch"
    Seq((Some(1L), "2024-01-10 00:00:00"), (None, "2024-01-11 00:00:00"),
        (None, "2024-01-12 00:00:00"))
      .toDF("id", "ts").select(col("id"), to_timestamp(col("ts")).as("timestamp"),
        lit("d1").as("device_id"), lit(1.0).as("value"))
      .write.parquet(s"$srcDir/iot_data.parquet")
    val cfg = ArchiverMain.parseConfig(Map(
      "GRAFT_SOURCE_DIR" -> srcDir, "GRAFT_OUT" -> outDir,
      "GRAFT_TABLES" -> "iot_data", "GRAFT_CUTOFF" -> Cutoff))
    val ex = intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg, ParquetSource(srcDir), None)
    }
    assert(ex.getMessage.contains("2 rows of table iot_data have a NULL id"), ex.getMessage)
    assert(!new java.io.File(outDir).exists())
  }

  test("a first cycle into a fresh GRAFT_OUT runs no failing query") {
    val (url, connect) = derby("graft_fresh_out")
    val outDir = tmp("graft_cli_fresh_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = failures.add(s"$f: ${e.getMessage}"): Unit
    }
    spark.listenerManager.register(listener)
    try {
      val r = ArchiverMain.run(spark, ArchiverMain.parseConfig(derbyBase(url, outDir)),
        JdbcSource(url, new java.util.Properties()), Some(connect))
      assert(r.appended == 2)
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext, 10000L)
    } finally spark.listenerManager.unregister(listener)
    assert(failures.isEmpty, failures)
  }

  test("a GRAFT_OUT holding only a crashed first write's _temporary/ " +
      "archives, verifies and deletes the whole batch") {
    val (url, connect) = derby("graft_crashed_first")
    val outDir = tmp("graft_cli_crashed_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    // an uncommitted task attempt's file, holding batch row 1
    val staged = tmp("graft_cli_crashed_staged")
    Seq(("IOT_DATA", 1L, 1704441600000000000L, "d1", 1.0))
      .toDF("table_name", "id", "timestamp", "device_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    val attempt = new java.io.File(outDir,
      "_temporary/0/_temporary/attempt_202401050800_0001_m_000000_0/year=2024/month=1")
    assert(attempt.mkdirs())
    java.nio.file.Files.copy(part.toPath, new java.io.File(attempt, part.getName).toPath)

    val r = ArchiverMain.run(spark,
      ArchiverMain.parseConfig(derbyBase(url, outDir) + ("GRAFT_DELETE" -> "true")),
      JdbcSource(url, new java.util.Properties()), Some(connect))
    assert(r.extracted == 2 && r.appended == 2 && r.deleted == Map("IOT_DATA" -> 2L))
    assert(remainingIds(connect, "IOT_DATA").isEmpty)
    assert(spark.read.parquet(outDir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("a GRAFT_OUT holding a parquet dataset without table_name/id is " +
      "refused before anything is written or deleted") {
    val (url, connect) = derby("graft_foreign_dataset")
    val outDir = tmp("graft_cli_foreign_ds_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    Seq((2024, 1, 7L, "x")).toDF("year", "month", "key", "payload")
      .write.partitionBy("year", "month").parquet(outDir)
    def dataFiles() = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()
    assert(before.size == 1)
    val ex = intercept[Exception] {
      ArchiverMain.run(spark,
        ArchiverMain.parseConfig(derbyBase(url, outDir) + ("GRAFT_DELETE" -> "true")),
        JdbcSource(url, new java.util.Properties()), Some(connect))
    }
    val file = before.head.substring(before.head.lastIndexOf('/') + 1)
    assert(ex.getMessage.contains(file), ex.getMessage)
    assert(dataFiles() == before)
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L))
  }

  test("the one-job month digest equals the grouped SQL digest") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("table_name", StringType), StructField("id", LongType),
      StructField("timestamp", LongType), StructField("device_id", StringType),
      StructField("value", DoubleType), StructField("year", IntegerType),
      StructField("month", IntegerType)))
    val dup = Row("t", 5L, 50L, "d5", 5.5, 2024, 3)
    val rows = Seq(
      Row("t", 1L, 10L, "d1", 1.25, 2024, 1),
      Row(null, 2L, 20L, "d2", 2.0, 2024, 1),
      Row("t", null, 30L, "d3", 3.0, 2024, 2),
      Row("t", 3L, null, "d3", 3.0, 2024, 2),
      Row("t", 4L, 40L, null, 4.0, 2024, 2),
      Row("t", 6L, 60L, "d6", null, 2024, 2),
      dup, dup, // XOR cancels the pair; the count does not
      Row("u", 7L, null, "d7", 7.0, null, null))
    // more partitions than rows: several partitions, some of them empty
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.size + 2), schema)
    val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length > 1 && sizes.contains(0))
    val want = Archive.groupChecksums(df, Seq("year", "month"), ArchiverMain.canon)
      .collect().toSet
    assert(want.size == 4 && want.exists(r => r.get(1) == 3 && r.getLong(3) == 0L))
    assert(ArchiverMain.monthDigests(df) == want)
  }

  test("a JDBC table named in another case than it is stored fails the " +
      "extract: nothing is archived and every source row stays") {
    val (url, connect) = derby("graft_table_case")
    val outDir = tmp("graft_cli_case_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    // Derby stores the unquoted DDL name as IOT_DATA; the extract and
    // the DELETE both address "iot_data" exactly as given
    val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir) ++
      Map("GRAFT_TABLES" -> "iot_data", "GRAFT_DELETE" -> "true"))
    val ex = intercept[RuntimeException] {
      ArchiverMain.run(spark, cfg, JdbcSource(url, new java.util.Properties()), Some(connect))
    }
    assert(ex.getMessage.contains("processing table iot_data"), ex.getMessage)
    val written = Option(new java.io.File(outDir)).filter(_.exists).toSeq
      .flatMap(d => java.nio.file.Files.walk(d.toPath).toArray.toSeq)
      .filter(_.toString.endsWith(".parquet"))
    assert(written.isEmpty, written)
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L))
  }

  test("verify reads back with the batch's schema: a file lacking " +
      "device_id in a batch month makes it refuse, and nothing is deleted") {
    val (url, connect) = derby("graft_foreign_file")
    val outDir = tmp("graft_cli_foreign_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    // a foreign file holding batch row 2 without its device_id: the
    // anti-join skips the row, so only the read-back can catch it
    Seq(("IOT_DATA", 2L, 1704528000000000000L, 2.0))
      .toDF("table_name", "id", "timestamp", "value")
      .write.parquet(s"$outDir/year=2024/month=1")
    val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir) + ("GRAFT_DELETE" -> "true"))
    val ex = intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg, JdbcSource(url, new java.util.Properties()), Some(connect))
    }
    assert(ex.getMessage.contains("archive verification FAILED"), ex.getMessage)
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L))
  }

  test("with delete on, a batch row archived twice fails verify and " +
      "every source row is still there") {
    val (url, connect) = derby("graft_dup_delete")
    val outDir = tmp("graft_cli_dup_delete_out") + "/arch"
    insert(connect, "IOT_DATA", Seq(
      (1L, "2024-01-05 08:00:00", "d1", 1.0),
      (2L, "2024-01-06 08:00:00", "d2", 2.0)))
    val source = JdbcSource(url, new java.util.Properties())
    val cfg = ArchiverMain.parseConfig(derbyBase(url, outDir))
    assert(ArchiverMain.run(spark, cfg, source, Some(connect)).appended == 2)
    val arch = spark.read.parquet(outDir)
    spark.createDataFrame(
        java.util.Arrays.asList(arch.filter(col("id") === 1L).collect(): _*), arch.schema)
      .write.mode("append").partitionBy("year", "month").parquet(outDir)
    val ex = intercept[IllegalArgumentException] {
      ArchiverMain.run(spark, cfg.copy(deleteFromSource = true), source, Some(connect))
    }
    assert(ex.getMessage.contains("archive verification FAILED"), ex.getMessage)
    assert(remainingIds(connect, "IOT_DATA") == Set(1L, 2L))
  }

  test("diff maintenance mode: per-table added/removed/changed counts " +
      "between two archive generations; identical generations are clean") {
    def row(t: String, id: Long, ns: Long, dev: String, v: Double) =
      (id, ns, dev, v, t)
    val genA = Seq(
      row("iot_data", 1, 1000L, "d1", 1.0),
      row("iot_data", 2, 2000L, "d2", 2.0),
      row("iot_data", 3, 3000L, "d3", 3.0),
      row("iot_metrics", 9, 9000L, "m1", 9.0)
    ).toDF("id", "timestamp", "device_id", "value", "table_name")
    val genB = Seq(
      row("iot_data", 1, 1000L, "d1", 1.0),    // unchanged
      row("iot_data", 2, 2000L, "d2", 2.5),    // changed (value)
      row("iot_data", 4, 4000L, "d4", 4.0),    // added; id 3 removed
      row("iot_metrics", 9, 9000L, "m1", 9.0)  // unchanged
    ).toDF("id", "timestamp", "device_id", "value", "table_name")
    val (dirA, dirB) = (tmp("graft_diff_a"), tmp("graft_diff_b"))
    genA.write.mode("overwrite").parquet(dirA)
    genB.write.mode("overwrite").parquet(dirB)
    val counts = ArchiverMain.runDiff(spark, dirA, dirB)
    assert(counts == Map(
      ("iot_data", "added") -> 1L,
      ("iot_data", "removed") -> 1L,
      ("iot_data", "changed") -> 1L))
    assert(ArchiverMain.runDiff(spark, dirA, dirA).isEmpty)
  }
}
