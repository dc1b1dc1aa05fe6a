package graft

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util.Locale

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}
import graft.io.{JdbcRetention, JdbcSource, ParquetSource, TableSource}
import graft.ops.{Archive, KeyRanges}

/** The runnable end-to-end archiver — the reference's entire operational
  * surface (`run()`, reference main.go:147-256) as one Spark job:
  *
  *   config → per-table extract → archive batch → idempotent append →
  *   keyed retention DELETE
  *
  * Same contract as the reference (point it at a database and it
  * archives), with the round-1 survey's three fixes baked in:
  *
  *   - the delete set is keyed to the rows actually archived, not the
  *     reference's wider `timestamp < cutoff` predicate that destroys
  *     rows the LIMITed extract never saved (main.go:131-145);
  *   - re-running after a crash between write and delete appends zero
  *     duplicate rows ([[Archive.appendIdempotent]] — the reference
  *     re-uploads the whole batch, main.go:211-242);
  *   - a batch spanning months lands in per-row `year=/month=`
  *     partitions, not one partition chosen from the max timestamp
  *     (main.go:220-223).
  *
  * Error semantics match the reference: ANY table failing aborts the
  * whole run before anything is written (main.go:183-185), and `main`
  * exits 1 with the error on stderr (main.go:259-264).
  *
  * Config is environment-first like the reference (main.go:149-153,
  * 272-277), `KEY=value` args override env:
  *
  *   GRAFT_SOURCE_DIR   parquet stand-in dir (table t ↦ dir/t.parquet)
  *   GRAFT_JDBC_URL     OR a live JDBC url (reference PG_CONN_STRING)
  *   GRAFT_JDBC_USER / GRAFT_JDBC_PASSWORD / GRAFT_JDBC_DRIVER
  *   GRAFT_TABLES       comma-separated (reference TABLE_NAMES)
  *   GRAFT_OUT          archive root: file:///… or s3a://bucket/prefix
  *                      (reference S3_BUCKET; same code path either way)
  *   GRAFT_CUTOFF       'yyyy-MM-dd HH:mm:ss' — explicit, deterministic
  *   GRAFT_RETENTION_DAYS  else now−N days, N ≥ 0 (reference
  *                      retentionDays=90)
  *   GRAFT_BATCH_SIZE   per-table top-k, ≥ 1 (reference batchSize=100)
  *   GRAFT_DELETE       'true' → run the retention DELETE (JDBC, batch
  *                      mode only)
  *   GRAFT_STREAMING    'true' → continuous append-only mode (file source)
  *   GRAFT_CHECKPOINT   streaming checkpoint root
  *   GRAFT_MASTER       spark master, default local[*]
  *
  * Every run, batch cycle or streaming micro-batch, re-reads the archive
  * and requires its digests to match the batch's (Archive.groupChecksums),
  * so a batch cycle deletes nothing unless the archive holds its rows. A
  * malformed value, a table named twice in GRAFT_TABLES (compared
  * case-insensitively: a table created by unquoted DDL exists in one
  * case only) and a GRAFT_DELETE that cannot run are config errors
  * naming their key. JDBC tables are addressed quoted, in the case
  * given, by both the extract and the DELETE.
  */
object ArchiverMain {

  final case class Config(
      sourceDir: Option[String],
      jdbcUrl: Option[String],
      jdbcProps: java.util.Properties,
      tables: Seq[String],
      outPath: String,
      cutoff: String,
      batchSize: Int,
      deleteFromSource: Boolean,
      streaming: Boolean = false,
      checkpointDir: Option[String] = None) {
    require(sourceDir.isDefined ^ jdbcUrl.isDefined,
      "exactly one of GRAFT_SOURCE_DIR / GRAFT_JDBC_URL must be set")
    require(tables.nonEmpty, "GRAFT_TABLES must name at least one table")
    require(!streaming || sourceDir.isDefined,
      "GRAFT_STREAMING needs a file source (GRAFT_SOURCE_DIR)")
    require(!deleteFromSource || (jdbcUrl.isDefined && !streaming),
      "GRAFT_DELETE=true needs a JDBC source (GRAFT_JDBC_URL) in batch mode")
    require(repeated.isEmpty, s"GRAFT_TABLES names table ${repeated.head} twice")

    /** Names after their first case-insensitive occurrence. */
    private def repeated = tables.diff(tables.distinctBy(_.toLowerCase(Locale.ROOT)))
  }

  final case class RunReport(
      extracted: Long, appended: Long, deleted: Map[String, Long])

  /** Env-first config, `KEY=value` args override (reference getEnv,
    * main.go:272-277). Defaults mirror the reference's (batch 100,
    * retention 90 d). Values are checked here; the cutoff is re-rendered
    * from its parsed value.
    */
  def parseConfig(env: Map[String, String], args: Array[String] = Array.empty): Config = {
    val overrides = parseArgs(args)
    def get(k: String): Option[String] = overrides.get(k).orElse(env.get(k))
    val props = new java.util.Properties()
    get("GRAFT_JDBC_USER").foreach(props.setProperty("user", _))
    get("GRAFT_JDBC_PASSWORD").foreach(props.setProperty("password", _))
    get("GRAFT_JDBC_DRIVER").foreach(props.setProperty("driver", _))
    def checked[A](k: String, what: String)(parse: String => Option[A]): Option[A] =
      get(k).map(v => parse(v).getOrElse(
        throw new IllegalArgumentException(s"$k must be $what, got: $v")))
    def flag(k: String) = checked(k, "true or false")(_.toBooleanOption).getOrElse(false)
    val days = checked("GRAFT_RETENTION_DAYS", "an integer ≥ 0")(
      _.toIntOption.filter(_ >= 0)).getOrElse(90)
    val cutoff = checked("GRAFT_CUTOFF", "'yyyy-MM-dd HH:mm:ss'")(v =>
      Try(LocalDateTime.parse(v, CutoffFormat)).toOption)
      .getOrElse(LocalDateTime.now(ZoneOffset.UTC).minusDays(days))
      .format(CutoffFormat)
    Config(
      sourceDir = get("GRAFT_SOURCE_DIR"),
      jdbcUrl = get("GRAFT_JDBC_URL"),
      jdbcProps = props,
      tables = get("GRAFT_TABLES").getOrElse("iot_data").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq,
      outPath = get("GRAFT_OUT")
        .getOrElse(sys.error("GRAFT_OUT (archive path) is required")),
      cutoff = cutoff,
      batchSize = checked("GRAFT_BATCH_SIZE", "an integer ≥ 1")(
        _.toIntOption.filter(_ >= 1)).getOrElse(100),
      deleteFromSource = flag("GRAFT_DELETE"),
      streaming = flag("GRAFT_STREAMING"),
      checkpointDir = get("GRAFT_CHECKPOINT"))
  }

  /** `GRAFT_CUTOFF`'s one accepted form; strict, so a well-formed value
    * re-renders byte-identically and an impossible date is rejected.
    */
  private val CutoffFormat =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss").withResolverStyle(ResolverStyle.STRICT)

  /** `KEY=value` args as a map; anything else is a config error. */
  private def parseArgs(args: Array[String]): Map[String, String] =
    args.iterator.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"args must be KEY=value, got: $a")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap

  private def sourceFor(cfg: Config): TableSource = cfg.sourceDir match {
    case Some(dir) => ParquetSource(dir)
    case None      => JdbcSource(cfg.jdbcUrl.get, cfg.jdbcProps)
  }

  /** Continuous mode (`GRAFT_STREAMING=true`): the same archival as an
    * incremental exactly-once streaming job — new source files are
    * picked up by checkpointed file streams, one per table, and each
    * goes through [[archiveStream]]. The reference lists "real-time
    * archival" as future work (reference README.md:124); this is it,
    * each micro-batch archived and verified by the batch cycle's own
    * step. A table's stream failure names the table. No top-k cap here:
    * streaming bounds per-trigger work with maxFilesPerTrigger instead
    * of the cron model's batch LIMIT; no retention DELETE either (run
    * batch mode for that) — the streaming contract is append-only
    * archival.
    */
  def runStreaming(spark: SparkSession, cfg: Config): RunReport = {
    import org.apache.spark.sql.types._
    val iotSchema = StructType(Seq(
      StructField("id", LongType), StructField("timestamp", TimestampType),
      StructField("device_id", StringType), StructField("value", DoubleType)))
    val reports = cfg.tables.map { t =>
      val ckpt = cfg.checkpointDir.map(c => s"$c/$t").getOrElse(
        java.nio.file.Files.createTempDirectory(s"graft_ckpt_$t").toString)
      forTable(t)(archiveStream(
        spark.readStream.schema(iotSchema)
          .option("maxFilesPerTrigger", "4")
          .parquet(s"${cfg.sourceDir.get}/$t.parquet")
          .transform(Archive.retentionFilter("timestamp", cfg.cutoff))
          .transform(Archive.stampTableName(t)),
        cfg.outPath, ckpt))
    }
    val extracted = reports.map(_.extracted).sum
    val appended = reports.map(_.appended).sum
    println(s"Streaming archival: $appended new rows (of $extracted extracted) to ${cfg.outPath}")
    RunReport(extracted, appended, Map.empty)
  }

  /** Archives a stream of `(id, timestamp, device_id, value, table_name)`
    * rows, `timestamp` timestamp-typed, into `outPath`: the one streaming
    * archival path, run by the CLI's continuous mode and by
    * `q_stream_archive`. Each micro-batch goes through [[archiveBatch]],
    * the batch cycle's step: batch mode's row shape, one read of its
    * source files, the keyed idempotent append and the verify. So neither
    * checkpoint replay nor total checkpoint LOSS can duplicate a row, and
    * a re-delivered key whose content changed fails the stream. Runs every
    * available file to completion (AvailableNow) and reports the rows
    * extracted and appended. It runs on the session `stream` was built
    * on, whose checkpoint manager suits `checkpoint` (a user's
    * `GRAFT_CHECKPOINT` may be on HDFS).
    */
  def archiveStream(stream: DataFrame, outPath: String, checkpoint: String): RunReport = {
    var appended = 0L
    var extracted = 0L
    stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val (n, a, _) = archiveBatch(
          b.toDF().transform(Archive.withTimePartitions("timestamp")), outPath,
          KeyRanges.MaxRanges, None)
        extracted += n
        appended += a
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    RunReport(extracted, appended, Map.empty)
  }

  /** One archival run. Injectable source + connection factory keep the
    * whole loop testable without a live PostgreSQL; `main` wires the
    * production implementations of both.
    */
  def run(spark: SparkSession, cfg: Config,
      source: TableSource,
      connect: Option[() => java.sql.Connection]): RunReport =
    run(spark, cfg, source, connect, KeyRanges.MaxRanges)

  /** [[run]] with the batch's key-range cap given, so a spec can take
    * the over-cap path with a small batch.
    */
  private[graft] def run(spark: SparkSession, cfg: Config,
      source: TableSource,
      connect: Option[() => java.sql.Connection], maxRanges: Int): RunReport = {
    if (cfg.streaming) return runStreaming(spark, cfg)
    // Per-table extract, abort-on-first-error (main.go:183-185). Schema
    // resolution is eager, so a missing table / bad connection fails
    // HERE — before anything is written.
    val perTable: Seq[(String, DataFrame)] = cfg.tables.map { t =>
      // canonical archive schema regardless of source-identifier case
      // (JDBC servers often uppercase unquoted names)
      t -> forTable(t)(source.load(spark, t).transform(Archive.projectIot)
        .toDF("id", "timestamp", "device_id", "value"))
    }

    // filter(ts<cutoff) → per-table top-k → stamp → union → per-row
    // year/month: one declarative plan, archived by the shared step.
    val (extracted, appended, deleted) = archiveBatch(
      Archive.archivePipeline(perTable, "timestamp", "id", cfg.cutoff, cfg.batchSize),
      cfg.outPath, maxRanges,
      // Retention DELETE keyed to the batch — which is exactly the rows
      // now durable in the archive: freshly appended ones plus any a
      // previously-crashed run wrote but failed to delete.
      connect.filter(_ => cfg.deleteFromSource).map(c => (keys: DataFrame, ranges: Option[KeyRanges]) =>
        JdbcRetention.executeDelete(JdbcRetention.planDelete(keys, cfg.tables.toSet, ranges), c)))
    if (extracted == 0L) {
      println("No records to archive")
      return RunReport(0L, 0L, Map.empty)
    }
    println(s"Archived $appended new rows (batch of $extracted) to ${cfg.outPath}")
    println("Archive verified: read-back digests match the batch")
    deleted.foreach { case (t, n) => println(s"Deleted $n records from table $t") }
    RunReport(extracted, appended, deleted)
  }

  /** Runs `body` for table `t`, naming the table in its failure. */
  private def forTable[A](t: String)(body: => A): A =
    try body catch {
      case e: Exception => throw new RuntimeException(s"processing table $t: ${e.getMessage}", e)
    }

  /** The archival step of every batch cycle and every streaming
    * micro-batch, over `(id, timestamp, device_id, value, table_name,
    * year, month)` rows, `timestamp` timestamp-typed. Returns the rows
    * extracted, appended and, if `delete` is given, deleted per table.
    *
    * `parted` is marked for a lazy local checkpoint: the digest job
    * extracts and stores it, then the append, the verify read-back and
    * `delete` read the stored blocks, so the source is read once. A lost
    * block fails the step; it is never re-extracted. The digest job also
    * gathers the batch's exact per-table id ranges ([[KeyRanges]], up to
    * `maxRanges`); a NULL id refuses the batch, naming its table, before
    * anything is written. The digests give the row count, the month set
    * the append and the read-back prune to, and the digest set verify
    * compares: the archive rows holding the batch's keys within its
    * months, read back with the batch's schema, must give the batch's
    * digests, or the step throws naming the partitions.
    *
    * The key ranges serve three ways with no broadcast join: the
    * append's overlap probe, the read-back's key filter and, only after
    * verify passes, `delete`'s ranged plan, which then runs no Spark
    * job. Past the cap (`None`) the append anti-joins, the read-back
    * semi-joins on the batch's keys and `delete` plans per-id deletes.
    */
  private def archiveBatch(parted: DataFrame, outPath: String, maxRanges: Int,
      delete: Option[(DataFrame, Option[KeyRanges]) => Map[String, Long]]):
      (Long, Long, Map[String, Long]) = {
    val batch = parted.localCheckpoint(eager = false)
    try {
      // Reference row shape: timestamp as epoch-nanos int64 (main.go:36-44)
      val shaped = batch.transform(Archive.toArchiveShape("timestamp"))
      val (want, gathered) = digests(shaped, Some(maxRanges))
      val KeyRanges.Partial(keys, nullIds) = gathered.get
      val extracted = want.toSeq.map(_.getLong(2)).sum
      if (extracted == 0L) return (0L, 0L, Map.empty)
      require(nullIds.isEmpty, "refusing to archive: " + nullIds.toSeq.sorted
        .map { case (t, n) => s"$n rows of table $t have a NULL id" }.mkString(", "))
      val months = monthsOf(want)
      val appended = Archive.appendIdempotent(shaped, outPath, months, keys)
      val readBack = shaped.sparkSession.read.schema(shaped.schema).parquet(outPath)
        .filter(Archive.inMonths(months))
      val got = monthDigests(keys.fold(
        readBack.join(shaped.select("table_name", "id"), Seq("table_name", "id"), "left_semi"))(
        k => readBack.filter(k.holds)))
      val differ = (want -- got) ++ (got -- want)
      require(differ.isEmpty,
        s"archive verification FAILED: ${differ.size} partition digests differ " +
          "between the batch and the read-back archive in " +
          monthsOf(differ).distinct.sorted.map { case (y, m) => s"year=$y/month=$m" }
            .mkString(", ") + " — refusing to delete source rows")
      (extracted, appended,
        delete.fold(Map.empty[String, Long])(_(batch.select("table_name", "id"), keys)))
    } finally {
      batch.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist())
    }
  }

  /** The archive digest's canonical row (see [[Archive.groupChecksums]]). */
  private[graft] val canon = Seq(col("table_name"), col("id"), col("device_id"),
    col("timestamp"), col("value").cast("decimal(18,6)"))

  /** Per-(year, month) `(year, month, n_rows, checksum)` rows of an
    * archive-shaped frame, equal to `Archive.groupChecksums(shaped,
    * Seq("year", "month"), canon)` collected: one job with no exchange.
    * Each partition folds its rows into per-month partial digests, and
    * the driver folds the partials.
    */
  private[graft] def monthDigests(shaped: DataFrame): Set[Row] = digests(shaped, None)._1

  private type MonthDigests = Map[(Any, Any), (Long, Long)]

  /** [[monthDigests]] that, given a cap, also gathers the frame's key
    * ranges in the same job: on the batch it is the one action that
    * yields the row count, the month set, the verify digest and the keys.
    */
  private def digests(shaped: DataFrame, maxRanges: Option[Int]):
      (Set[Row], Option[KeyRanges.Partial]) = {
    val hashed = shaped.select(col("year"), col("month"), Archive.rowHash(canon),
      col("table_name"), col("id"))
    val partials = hashed.mapPartitions { rows =>
      val keys = maxRanges.map(new KeyRanges.Builder(_))
      val folded = rows.foldLeft(Map.empty: MonthDigests) { (acc, r) =>
        keys.foreach(_.add(r.getString(3), r, 4))
        fold(acc, (r.get(0), r.get(1)), 1L, r.getLong(2))
      }
      Iterator((folded, keys.map(_.result())))
    }(Encoders.javaSerialization[(MonthDigests, Option[KeyRanges.Partial])]).collect()
    val months = partials.iterator.flatMap(_._1).foldLeft(Map.empty: MonthDigests) {
      case (acc, (month, (n, x))) => fold(acc, month, n, x)
    }
    (months.iterator.map { case ((y, m), (n, x)) => Row(y, m, n, x) }.toSet,
      maxRanges.map(KeyRanges.merge(partials.toSeq.flatMap(_._2), _)))
  }

  /** Adds a partial digest to a month's: counts add, checksums XOR. */
  private def fold(acc: MonthDigests, month: (Any, Any), n: Long, x: Long): MonthDigests = {
    val (n0, x0) = acc.getOrElse(month, (0L, 0L))
    acc.updated(month, (n0 + n, x0 ^ x))
  }

  private def monthsOf(summary: Set[Row]): Seq[(Int, Int)] =
    summary.toSeq.map(r => (r.getInt(0), r.getInt(1)))

  /** Maintenance mode (`GRAFT_DIFF_A=<dir> GRAFT_DIFF_B=<dir>`): diff
    * two archive generations keyed on (table_name, id) via
    * [[Archive.snapshotDiff]] and report added/removed/changed counts —
    * the audit for the reference's crash window (a run dying between
    * upload and delete re-archives rows silently, main.go:211-251).
    * Composite key = `table_name * 2^40 + id`-style concat is avoided:
    * we diff per table (the archive discriminator column), so the key
    * stays the natural `id`. Returns per-table status counts; nothing
    * is written.
    */
  def runDiff(spark: SparkSession, dirA: String, dirB: String):
      Map[(String, String), Long] = {
    val a = spark.read.parquet(dirA)
    val b = spark.read.parquet(dirB)
    val tables = (a.select("table_name").distinct().collect() ++
      b.select("table_name").distinct().collect())
      .map(_.getString(0)).distinct.sorted
    val compare = Seq("timestamp", "device_id", "value")
    tables.flatMap { t =>
      Archive.snapshotDiff(
          a.filter(col("table_name") === t),
          b.filter(col("table_name") === t), "id", compare)
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .collect().map(r => (t, r.getString(0)) -> r.getLong(1))
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    def fail(e: Exception): Nothing = {
      System.err.println(s"error: ${e.getMessage}")
      sys.exit(1)
    }
    // Diff mode triggers on explicit CLI args ONLY — a stale
    // GRAFT_DIFF_A/B pair inherited from a scheduler's environment must
    // not silently turn a production archival run into a read-only diff
    // with exit 0 (ADVICE r10). Values may still come from env once the
    // MODE is arg-selected (arg `GRAFT_DIFF_A` alone + env `GRAFT_DIFF_B`
    // works), but env alone never selects it. Config errors (a malformed
    // arg in either mode included) fail here, before any session starts.
    val (cfg0, cfg) =
      try {
        val argCfg = parseArgs(args)
        val cfg0 = sys.env ++ argCfg
        if (argCfg.contains("GRAFT_DIFF_A") || argCfg.contains("GRAFT_DIFF_B")) {
          require(cfg0.contains("GRAFT_DIFF_A") && cfg0.contains("GRAFT_DIFF_B"),
            "diff mode needs BOTH GRAFT_DIFF_A and GRAFT_DIFF_B")
          println("Archive diff mode: read-only — nothing will be archived " +
            "or deleted")
          (cfg0, None)
        } else (cfg0, Some(parseConfig(sys.env, args)))
      } catch { case e: Exception => fail(e) }
    val spark = SparkSession.builder()
      .master(cfg0.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName(if (cfg.isEmpty) "graft-archiver-diff" else "graft-archiver")
      .config("spark.sql.shuffle.partitions",
        cfg0.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try cfg match {
      case None =>
        val counts = runDiff(spark, cfg0("GRAFT_DIFF_A"), cfg0("GRAFT_DIFF_B"))
        if (counts.isEmpty) println("Archive diff: generations are identical")
        else counts.toSeq.sorted.foreach { case ((t, s), n) =>
          println(s"Archive diff: $t $s $n")
        }
      case Some(c) =>
        val connect = c.jdbcUrl.map(url =>
          () => java.sql.DriverManager.getConnection(url, c.jdbcProps))
        val report = run(spark, c, sourceFor(c), connect)
        println(s"Successfully archived ${report.extracted} total records " +
          s"(${report.appended} new) to ${c.outPath}")
    } catch {
      case e: Exception =>
        spark.stop()
        fail(e)
    }
    spark.stop()
  }
}
