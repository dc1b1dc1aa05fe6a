package graft.perfbench

import java.sql.{DriverManager, Timestamp}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.ArchiverMain
import graft.io.JdbcSource

import scala.collection.mutable

/** The `archive_cycles` workload: consecutive cron cycles of
  * `ArchiverMain.run` against two IoT tables in an embedded in-memory Derby
  * database, with verify and keyed DELETE on. Every `crashEvery`-th cycle
  * runs with DELETE off, standing in for a crash between append and
  * DELETE, so the next cycle re-extracts rows the archive already holds
  * and its anti-join must drop them. A row model predicts every cycle's
  * counts and the state of Derby and the archive after it.
  */
object ArchiveCycles {

  val Tables: Seq[String] = Seq("IOT_DATA", "IOT_METRICS")

  /** Generator and schedule sizes (recorded in workloads.json). */
  final case class Gen(rowsPerTable: Int, months: Int, batch: Int, stepDays: Int,
      crashEvery: Int, firstCutoffDay: Int, warmCycles: Int, minCycles: Int,
      maxCycles: Int)

  val Default: Gen = Gen(rowsPerTable = 20000, months = 18, batch = 1000,
    stepDays = 10, crashEvery = 4, firstCutoffDay = 180, warmCycles = 3,
    minCycles = 8, maxCycles = 36)

  final case class Row(id: Long, tsMicros: Long, device: String, value: Double)

  private val Epoch0Micros = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val DayMicros = 86400L * 1000000L
  private val CutoffFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Rows spread evenly over `months` with random jitter; ids follow time
    * order except for 2 % late arrivals swapped with a near neighbour, so
    * the archived id ranges have gaps.
    */
  def generate(seed: Long, g: Gen): Map[String, Vector[Row]] = Tables.zipWithIndex.map {
    case (t, ti) =>
      val rng = new java.util.SplittableRandom(seed * 1000003L + ti)
      val n = g.rowsPerTable
      val step = g.months * 30.44 * DayMicros / n
      val ts = Array.tabulate(n)(i => Epoch0Micros + (i * step + rng.nextDouble() * 0.8 * step).toLong)
      (0 until n / 50).foreach { _ =>
        val a = rng.nextInt(n)
        val b = math.min(n - 1, a + 1 + rng.nextInt(100))
        val x = ts(a); ts(a) = ts(b); ts(b) = x
      }
      t -> Vector.tabulate(n)(i =>
        Row(i + 1L, ts(i), f"dev-${rng.nextInt(500)}%03d", rng.nextInt(1000000) / 1000.0))
  }.toMap

  private def sqlTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Creates the tables the way the repository's Derby tests do:
    * upper-case table names, lower-case quoted columns.
    */
  def load(url: String, data: Map[String, Vector[Row]]): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      Tables.foreach(t => st.executeUpdate(s"""CREATE TABLE $t ("id" BIGINT PRIMARY KEY,
        "timestamp" TIMESTAMP, "device_id" VARCHAR(32), "value" DOUBLE)"""))
      st.close()
      Tables.foreach { t =>
        val ps = c.prepareStatement(s"INSERT INTO $t VALUES (?,?,?,?)")
        data(t).grouped(5000).foreach { chunk =>
          chunk.foreach { r =>
            ps.setLong(1, r.id); ps.setTimestamp(2, sqlTs(r.tsMicros))
            ps.setString(3, r.device); ps.setDouble(4, r.value)
            ps.addBatch()
          }
          ps.executeBatch()
          c.commit()
        }
        ps.close()
      }
    } finally c.close()
  }

  def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as 08006

  def derbyIds(url: String): Map[String, Set[Long]] = {
    val c = DriverManager.getConnection(url)
    try Tables.map { t =>
      val rs = c.createStatement().executeQuery(s"""SELECT "id" FROM $t""")
      val b = Set.newBuilder[Long]
      while (rs.next()) b += rs.getLong(1)
      t -> b.result()
    }.toMap
    finally c.close()
  }

  /** Data files in the archive and their bytes. */
  def dirStats(dir: String): (Long, Long) = {
    val root = new java.io.File(dir)
    if (!root.exists()) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(root.toPath).iterator()
      var n, bytes = 0L
      while (files.hasNext) {
        val p = files.next()
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && !name.startsWith(".")) {
          n += 1; bytes += java.nio.file.Files.size(p)
        }
      }
      (n, bytes)
    }
  }

  /** What the model holds: rows still in Derby and ids already archived. */
  final class Model(val data: Map[String, Vector[Row]]) {
    val live: Map[String, mutable.Map[Long, Row]] =
      data.map { case (t, rows) => t -> mutable.LinkedHashMap.from(rows.map(r => r.id -> r)) }
    val archived: Map[String, mutable.Set[Long]] = data.map { case (t, _) => t -> mutable.Set.empty[Long] }
    val deleted: Map[String, mutable.Set[Long]] = data.map { case (t, _) => t -> mutable.Set.empty[Long] }
    val generatedIds: Map[String, Set[Long]] = data.map { case (t, rows) => t -> rows.map(_.id).toSet }

    /** Per table, the `batch` newest live rows strictly before the cutoff. */
    def batch(cutoffUs: Long, k: Int): Map[String, Seq[Row]] = live.map { case (t, rows) =>
      t -> rows.values.filter(_.tsMicros < cutoffUs).toSeq.sortBy(-_.tsMicros).take(k)
    }

    def expect(b: Map[String, Seq[Row]], deleteOn: Boolean): Invariants.Expect = {
      val extracted = b.values.map(_.size.toLong).sum
      val overlap = b.map { case (t, rs) => rs.count(r => archived(t)(r.id)).toLong }.sum
      val deleted = if (deleteOn) b.collect { case (t, rs) if rs.nonEmpty => t -> rs.size.toLong } else Map.empty[String, Long]
      Invariants.Expect(extracted, extracted - overlap, deleted, overlap)
    }

    def apply(b: Map[String, Seq[Row]], deleteOn: Boolean): Unit = b.foreach { case (t, rs) =>
      rs.foreach { r =>
        archived(t) += r.id
        if (deleteOn) { live(t) -= r.id; deleted(t) += r.id }
      }
    }
  }

  /** One Derby database with its archive directory and row model. */
  final class Db(val name: String, seed: Long, g: Gen, work: String) {
    val url = s"jdbc:derby:memory:$name;create=true"
    val dir = s"$work/archive-$name"
    val model = new Model(generate(seed, g))
    def load(): Unit = ArchiveCycles.load(url, model.data)
  }

  /** Runs cycle `k` (1-based) on `db`. Returns false when the cycle threw,
    * which leaves the model unusable, so the caller stops.
    */
  def cycle(ctx: Ctx, db: Db, g: Gen, k: Int, measured: Boolean, traced: Boolean,
      cores: Int): Boolean = {
    val crash = k % g.crashEvery == 0
    val afterCrash = k > 1 && (k - 1) % g.crashEvery == 0
    val kind = if (crash) "crash" else if (afterCrash) "recovery" else "normal"
    val cutoffUs = Epoch0Micros + (g.firstCutoffDay + (k - 1L) * g.stepDays) * DayMicros
    val batch = db.model.batch(cutoffUs, g.batch)
    val exp = db.model.expect(batch, deleteOn = !crash)
    val cfg = ArchiverMain.parseConfig(Map(
      "GRAFT_JDBC_URL" -> db.url, "GRAFT_OUT" -> db.dir,
      "GRAFT_TABLES" -> Tables.mkString(","),
      "GRAFT_CUTOFF" -> CutoffFmt.format(Instant.ofEpochSecond(cutoffUs / 1000000L)),
      "GRAFT_BATCH_SIZE" -> g.batch.toString,
      "GRAFT_DELETE" -> (!crash).toString, "GRAFT_VERIFY" -> "true"))
    val plain = () => DriverManager.getConnection(db.url)
    val connect = ctx.tracer.filter(_ => traced).map(JdbcTrace.wrap(plain, _)).getOrElse(plain)
    val (files0, bytes0) = dirStats(db.dir)
    ctx.attempted += 1
    val ran = try {
      Some(ctx.op("cycle", kind, (k - 1) / g.crashEvery, measured, traced) {
        ArchiverMain.run(ctx.spark, cfg, JdbcSource(db.url, new java.util.Properties()), Some(connect))
      })
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.fail(s"${db.name} cycle $k ($kind) threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
    ran.foreach { case (report, op) =>
      val (files1, bytes1) = dirStats(db.dir)
      op.layer("archive.extracted") = report.extracted
      op.layer("ops.Archive.files_written") = files1 - files0
      op.layer("ops.Archive.bytes_written") = bytes1 - bytes0
      if (traced) Layers.record(ctx, op, cores)
      db.model.apply(batch, deleteOn = !crash)
      val keys = ctx.spark.read.parquet(db.dir).select("table_name", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val violations = Invariants.cycle(report, exp, !crash, afterCrash) ++
        Invariants.state(db.model.generatedIds, db.model.deleted.map { case (t, s) => t -> s.toSet },
          derbyIds(db.url), keys, db.model.archived.map { case (t, s) => t -> s.toSet })
      if (violations.nonEmpty) ctx.fail(s"${db.name} cycle $k ($kind): ${violations.mkString("; ")}")
    }
    ctx.release()
    ran.isDefined
  }

  /** Every archived row's values against the generated rows. */
  def checkContent(ctx: Ctx, name: String, dir: String, model: Model): Unit = {
    import org.apache.spark.sql.functions.col
    ctx.attempted += 1
    val got = ctx.spark.read.parquet(dir)
      .select(col("table_name"), col("id"), col("timestamp"), col("device_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSet
    val want = model.archived.flatMap { case (t, ids) =>
      val byId = model.data(t).iterator.map(r => r.id -> r).toMap
      ids.iterator.map { id =>
        val r = byId(id)
        (t, id, r.tsMicros * 1000L, r.device, r.value)
      }
    }.toSet
    if (got != want)
      ctx.fail(s"$name: archive content differs from the generated rows: " +
        s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
  }

  final case class Outcome(setupEndNs: Long, archiveFiles: Long, archiveBytes: Long, archivedRows: Long)

  def run(ctx: Ctx, seed: Long, g: Gen, seconds: Double, work: String, cores: Int,
      traceMode: Boolean): Outcome = {
    // warm-up on its own database and archive directory, then dropped
    val warm = new Db(s"warm$seed", seed ^ 0x5eedL, g.copy(rowsPerTable = g.rowsPerTable / 4), work)
    warm.load()
    ctx.phase("warm load")
    (1 to g.warmCycles).takeWhile { k =>
      val ok = cycle(ctx, warm, g, k, measured = false, traced = false, cores)
      ctx.phase(s"warm cycle $k")
      ok
    }
    drop(s"warm$seed")
    val db = new Db(s"bench$seed", seed, g, work)
    db.load()
    ctx.phase("load")
    val setupEnd = System.nanoTime()
    var k = 1
    var measuredS = 0.0
    var ok = true
    def blockDone = (k - 1) % g.crashEvery == 0
    while (ok && k <= g.maxCycles && !(k > g.minCycles && blockDone && measuredS >= seconds)) {
      ok = cycle(ctx, db, g, k, measured = true, traced = traceMode && k % 2 == 1, cores)
      measuredS = ctx.ops.map(_.wallS).sum
      k += 1
    }
    ctx.phase("measured cycles")
    checkContent(ctx, db.name, db.dir, db.model)
    ctx.phase("content check")
    val (files, bytes) = dirStats(db.dir)
    Outcome(setupEnd, files, bytes, db.model.archived.values.map(_.size.toLong).sum)
  }
}
