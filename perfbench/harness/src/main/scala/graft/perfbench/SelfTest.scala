package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's own checks: the summary statistics, and the digest and
  * archiver-invariant checks failing loudly on injected corruption. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {

  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def throws(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    stats()
    invariants()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"${a("work")}/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      digest(spark)
      liveArchive(spark, a("work"))
    } finally spark.stop()
    if (failures > 0) {
      System.err.println(s"[selftest] $failures check(s) failed")
      sys.exit(1)
    }
  }

  private def stats(): Unit = {
    expect("median of odd count", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median of even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median of no samples fails", throws(Stats.median(Nil)))
    expect("geomean", math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    expect("geomean of a zero fails", throws(Stats.geomean(Seq(0.0, 1.0))))
  }

  private def invariants(): Unit = {
    import graft.ArchiverMain.RunReport
    import Invariants._
    val e = Expect(extracted = 10, appended = 10, deleted = Map("T" -> 10L), overlap = 0)
    expect("clean delete cycle passes",
      cycle(RunReport(10, 10, Map("T" -> 10L)), e, deleteOn = true, afterCrash = false).isEmpty)
    expect("deleted != extracted is caught",
      cycle(RunReport(10, 10, Map("T" -> 9L)), e, deleteOn = true, afterCrash = false).nonEmpty)
    expect("a delete on a crash cycle is caught",
      cycle(RunReport(10, 10, Map("T" -> 10L)), e.copy(deleted = Map.empty), deleteOn = false,
        afterCrash = false).nonEmpty)
    val rec = Expect(extracted = 10, appended = 7, deleted = Map("T" -> 10L), overlap = 3)
    expect("recovery cycle with the exact overlap passes",
      cycle(RunReport(10, 7, Map("T" -> 10L)), rec, deleteOn = true, afterCrash = true).isEmpty)
    expect("recovery cycle that re-appends the overlap is caught",
      cycle(RunReport(10, 10, Map("T" -> 10L)), rec, deleteOn = true, afterCrash = true).nonEmpty)
    expect("recovery cycle with the wrong overlap is caught",
      cycle(RunReport(10, 8, Map("T" -> 10L)), rec.copy(appended = 8), deleteOn = true,
        afterCrash = true).nonEmpty)

    val gen = Map("T" -> (1L to 6L).toSet)
    val del = Map("T" -> Set(1L, 2L))
    val derby = Map("T" -> Set(3L, 4L, 5L, 6L))
    val arch = Seq("T" -> 1L, "T" -> 2L, "T" -> 3L)
    val want = Map("T" -> Set(1L, 2L, 3L))
    expect("consistent state passes", state(gen, del, derby, arch, want).isEmpty)
    expect("a row lost from both Derby and the archive is caught",
      state(gen, del, derby.updated("T", Set(3L, 5L, 6L)), arch, want)
        .exists(_.contains("neither")))
    expect("a duplicated archive key is caught",
      state(gen, del, derby, arch :+ ("T" -> 3L), want).exists(_.contains("twice")))
    expect("a row deleted from Derby but not archived is caught",
      state(gen, del, derby, arch.filterNot(_ == ("T" -> 2L)), want)
        .exists(_.contains("not archived")))
    expect("an unknown table in the archive is caught",
      state(gen, del, derby, arch :+ ("U" -> 1L), want).exists(_.contains("unknown")))
  }

  private def digest(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, Map("x" -> 1)), (2L, "b", 2.5, Map("y" -> 2, "z" -> 3)),
      (3L, null, -0.5, Map.empty[String, Int]))
    val base = rows.toDF("id", "s", "v", "m")
    val d = Digest.of(base)
    expect("digest counts rows", d.rows == 3)
    expect("digest ignores row order and partitioning",
      Digest.of(rows.reverse.toDF("id", "s", "v", "m").repartition(3)) == d)
    expect("digest ignores map entry order", Digest.of(Seq(rows(0),
      (2L, "b", 2.5, Map("z" -> 3, "y" -> 2)), rows(2)).toDF("id", "s", "v", "m")) == d)
    expect("one corrupted value changes the digest",
      Digest.of(rows.updated(1, (2L, "b", 2.5000001, rows(1)._4)).toDF("id", "s", "v", "m")) != d)
    expect("a duplicated row changes the digest",
      Digest.of((rows :+ rows(0)).toDF("id", "s", "v", "m")) != d)
    expect("a renamed column changes the digest",
      Digest.of(rows.toDF("id", "s", "value", "m")) != d)
    val pins = Map("q" -> QueryMix.Pin(d.rows, d.sum, d.schema))
    val corrupt = Digest.of(rows.updated(0, (1L, "A", 1.5, rows(0)._4)).toDF("id", "s", "v", "m"))
    expect("the pin check passes the pinned result",
      QueryMix.check(pins, mutable.Map.empty, "q", d).isEmpty)
    expect("the pin check fails a corrupted result",
      QueryMix.check(pins, mutable.Map.empty, "q", corrupt).isDefined)
    expect("the pin check fails an unpinned query",
      QueryMix.check(pins, mutable.Map.empty, "other", d).isDefined)
    val seen = mutable.Map.empty[String, Digest.D]
    QueryMix.check(Map.empty, seen, "q", d)
    expect("an unpinned run fails when a later result differs",
      QueryMix.check(Map.empty, seen, "q", corrupt).isDefined)
  }

  /** Real cycles on a small Derby database, then corruption injected behind
    * the archiver's back: every kind must be reported as a failure.
    */
  private def liveArchive(spark: SparkSession, work: String): Unit = {
    val g = ArchiveCycles.Default.copy(rowsPerTable = 600, batch = 40)
    def freshCtx() = new Ctx(spark, None)
    def db(name: String) = {
      val d = new ArchiveCycles.Db(name, 7L, g, work)
      d.load()
      d
    }
    val clean = db("selftest_clean")
    val ctx = freshCtx()
    (1 to 5).foreach(k => ArchiveCycles.cycle(ctx, clean, g, k, measured = true, traced = false, 1))
    ArchiveCycles.checkContent(ctx, clean.name, clean.dir, clean.model)
    expect("five clean cycles (one crash, one recovery) pass", ctx.failed == 0 && ctx.attempted == 6)

    // a source row deleted outside the archiver is lost: in neither place
    val lost = db("selftest_lost")
    val c1 = freshCtx()
    ArchiveCycles.cycle(c1, lost, g, 1, measured = true, traced = false, 1)
    val conn = java.sql.DriverManager.getConnection(lost.url)
    try conn.createStatement().executeUpdate("""DELETE FROM IOT_DATA WHERE "id" = 1""")
    finally conn.close()
    ArchiveCycles.cycle(c1, lost, g, 2, measured = true, traced = false, 1)
    expect("a source row lost outside the archiver is reported", c1.failed > 0)

    // a second copy of an archive file duplicates its keys
    val dup = db("selftest_dup")
    val c2 = freshCtx()
    ArchiveCycles.cycle(c2, dup, g, 1, measured = true, traced = false, 1)
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(dup.dir)).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.findFirst().get()
    java.nio.file.Files.copy(file, file.resolveSibling("copy-" + file.getFileName))
    ArchiveCycles.cycle(c2, dup, g, 2, measured = true, traced = false, 1)
    expect("a duplicated archive file is reported", c2.failed > 0)

    // a changed value in the archive fails the content check
    val bad = db("selftest_value")
    val c3 = freshCtx()
    ArchiveCycles.cycle(c3, bad, g, 1, measured = true, traced = false, 1)
    val t = "IOT_DATA"
    val id = bad.model.archived(t).head
    val rows = bad.model.data(t).map(r => if (r.id == id) r.copy(value = r.value + 1) else r)
    val tampered = new ArchiveCycles.Model(bad.model.data.updated(t, rows))
    tampered.archived.foreach { case (tt, ids) => ids ++= bad.model.archived(tt) }
    val c4 = freshCtx()
    ArchiveCycles.checkContent(c4, bad.name, bad.dir, tampered)
    expect("an archived value that differs from the source is reported", c4.failed > 0)
  }
}
