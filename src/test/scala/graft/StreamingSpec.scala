package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TimeSeries
import graft.model.Tables
import graft.ops.{Archive, KeyRanges}
import graft.streaming.Streaming

/** Streaming ≡ batch equivalence: the same `DataFrame => DataFrame`
  * transforms produce identical results when driven incrementally from
  * files as when run in one batch (SURVEY.md §7 step 5).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eventsDir: String = {
    // two-file parquet dir of the events fixture as loaded, so a stream
    // reading one file per micro-batch runs two data micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    Tables.load(spark, TestSpark.Sf0001, "events").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(files == 2, s"$dir holds $files data files")
    dir
  }

  private type Bar = (java.sql.Date, String, Double, Double, Double, Double, Long)

  private def bars(df: org.apache.spark.sql.DataFrame): Set[Bar] =
    df.select("bucket", "grp", "open", "high", "low", "close", "n")
      .as[Bar].collect().toSet

  /** Events in the archiver's IoT row shape, as `q_stream_archive` maps them. */
  private def iot(events: org.apache.spark.sql.DataFrame) = events
    .select(col("event_id").as("id"), col("ts").as("timestamp"),
      col("user_id").cast("string").as("device_id"), col("value"))
    .transform(Archive.stampTableName("events"))

  private def ohlc(events: org.apache.spark.sql.DataFrame) =
    TimeSeries.ohlcBars(events, "event_type", "ts", "event_id", "value")

  test("streamed OHLC bars (complete mode) equal the batch run of the " +
      "same ohlcBars and the registered q_ohlc_bars") {
    val dir = eventsDir
    val q = ohlc(Streaming.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = bars(spark.table("ohlc_out"))
    assert(streamed == bars(ohlc(Tables.events(spark, TestSpark.Sf0001))))
    assert(streamed == bars(SparkEntry.queries("q_ohlc_bars")(spark, TestSpark.Sf0001)))
    assert(streamed.nonEmpty)
  }

  test("streamed archival shares its root with the batch append: an " +
      "overlapping batch and a rerun without the checkpoint both append 0") {
    val dir = eventsDir
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    def ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    def stream = iot(Streaming.readEventsStream(spark, dir))
    val n = Tables.events(spark, TestSpark.Sf0001).count()
    val first = ArchiverMain.archiveStream(stream, out, ckpt)
    assert(first.extracted == n && first.appended == n, first)
    val back = spark.read.parquet(out)
    assert(back.count() == n)
    assert(back.select("year", "month").distinct().as[(Int, Int)].collect()
      .toSet == Set((2024, 1)))
    // the batch path's append into the streamed root: the footer guard
    // finds table_name and id, and the anti-join drops every row
    val overlap = iot(Tables.events(spark, TestSpark.Sf0001)
        .filter(col("event_id") % 3 === 0))
      .transform(Archive.withTimePartitions("timestamp"))
      .transform(Archive.toArchiveShape("timestamp"))
    assert(Archive.appendIdempotent(overlap, out, Seq((2024, 1)),
      KeyRanges.gather(overlap)) == 0L)
    // a lost checkpoint replays every file and appends nothing
    val rerun = ArchiverMain.archiveStream(stream, out, ckpt)
    assert(rerun.extracted == n && rerun.appended == 0L, rerun)
    assert(spark.read.parquet(out).count() == n)
  }

  test("a streamed archive reads each micro-batch's source files once " +
      "and leaves no persisted blocks behind") {
    val dir = eventsDir
    val out = java.nio.file.Files.createTempDirectory("graft_stream_once_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_once_ckpt").toString
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.sink.description.contains("ForeachBatchSink"))
          read.addAndGet(e.progress.numInputRows): Unit
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val n = Tables.events(spark, TestSpark.Sf0001).count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.streams.addListener(listener)
    val r = try {
      val r = ArchiverMain.archiveStream(
        iot(Streaming.readEventsStream(spark, dir)), out, ckpt)
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext, 10000L)
      r
    } finally spark.streams.removeListener(listener)
    assert(r.extracted == n && r.appended == n, r)
    assert(read.get == n, s"the micro-batches read ${read.get} source rows for $n events")
    // ids only: the ContextCleaner may drop an earlier test's blocks meanwhile
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("native session_window agrees with the lag-based sessionization " +
      "on per-user session counts") {
    val ev = Tables.events(spark, TestSpark.Sf0001)
    val native = Streaming.sessionCounts(ev)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val lagBased = SparkEntry.queries("q_sessionize")(spark, TestSpark.Sf0001)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    assert(native == lagBased)
  }

  test("STREAMED session windows (complete mode, unordered micro-batches) " +
      "equal the batch session_window run and the lag-based oracle grain") {
    // The q_stream_sessions contract (round 15): complete mode merges
    // session state across micro-batches and never evicts, but the
    // session operator still FILTERS watermark-late input — so the
    // registered query widens the delay beyond the fixture's time span
    // and arrival order stops mattering. This pin drives the same
    // transform over the registered query's exact staging shape
    // (3 unordered shards, one file per trigger) and asserts the
    // final (user, session_start, n_events) set equals the one-batch
    // run's, which the test above ties to the lag algebra.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sess_stage").toString
    Tables.load(spark, TestSpark.Sf0001, "events").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val q = Streaming.sessionCounts(
        Streaming.readEventsStream(spark, dir),
        watermark = "3650 days")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    // the gate's evidence is REAL incremental execution: three data
    // micro-batches, not one batch wearing a streaming hat
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(dataBatches == 3,
      s"expected 3 data micro-batches (one per staged shard), got $dataBatches")
    val streamed = spark.table("sess_out")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val batch = Streaming.sessionCounts(Tables.events(spark, TestSpark.Sf0001))
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream purchase-signup join equals the batch join") {
    val dir = eventsDir
    val stream = Streaming.readEventsStream(spark, dir)
    val q = Streaming.purchaseSignupJoin(stream)
      .select("p_id", "s_id")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssj_out").as[(Long, Long)].collect().toSet
    val batch = Streaming.purchaseSignupJoin(Tables.events(spark, TestSpark.Sf0001))
      .select("p_id", "s_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful windowed agg runs on the RocksDB state store " +
      "(the 100 TB state backend) with results identical to batch") {
    val dir = eventsDir
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = Streaming.readEventsStream(spark, dir)
      val q = ohlc(stream)
        .writeStream.format("memory").queryName("rocks_out")
        .outputMode("complete").start()
      q.processAllAvailable()
      // the provider actually in use shows up in the progress metrics
      val progress = q.recentProgress.map(_.json).mkString
      q.stop()
      assert(progress.toLowerCase.contains("rocksdb"),
        "state operator did not report RocksDB metrics: " + progress.take(2000))
      val streamed = bars(spark.table("rocks_out"))
      val batch = bars(ohlc(Tables.events(spark, TestSpark.Sf0001)))
      assert(streamed == batch && streamed.nonEmpty)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("graft's stream session uses the FileSystem-based checkpoint " +
      "manager and copies the caller's time zone and shuffle partitions; " +
      "the caller's session conf is unchanged") {
    import org.apache.spark.sql.execution.streaming.checkpointing._
    val before = spark.conf.getAll
    val s2 = Streaming.streamSession(spark)
    val path = new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir"))
    assert(CheckpointFileManager.create(path, s2.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions").foreach { k =>
      assert(s2.conf.get(k) == spark.conf.get(k), k)
    }
    assert(spark.conf.getAll == before)
  }

  test("q_stream_dedup forks no readlink process: its offset, commit and " +
      "state-store renames do not shell out") {
    import scala.jdk.CollectionConverters._
    val jfr = java.nio.file.Files.createTempFile("graft_stream_forks", ".jfr")
    val rec = new jdk.jfr.Recording()
    val commands = try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      // a fork of our own: the recording must see one to count any
      assert(new ProcessBuilder("true").start().waitFor() == 0)
      assert(SparkEntry.queries("q_stream_dedup")(spark, TestSpark.Sf0001)
        .count() > 0)
      rec.stop()
      rec.dump(jfr)
      jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
        .map(_.getString("command").trim.split(' ').head.split('/').last)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(jfr): Unit
    }
    assert(commands.contains("true"), commands)
    val readlinks = commands.count(_ == "readlink")
    assert(readlinks == 0, s"$readlinks readlink forks: " +
      commands.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("stateful dedup drops duplicate event_ids within watermark") {
    val dir = eventsDir
    // duplicate the source: same rows twice -> dedup must halve them
    val dupDir = java.nio.file.Files.createTempDirectory("graft_stream_dup").toString
    val raw = spark.read.parquet(dir)
    raw.union(raw).coalesce(1).write.mode("overwrite").parquet(dupDir)
    val stream = Streaming.readEventsStream(spark, dupDir)
    val q = Streaming.dedupedStream(stream)
      .select("event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val n = spark.table("dedup_out").count()
    assert(n == raw.count())
  }
}
