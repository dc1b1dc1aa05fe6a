package graft.model

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Table loaders for the driver-generated star schema (TESTDATA.md) plus
  * the reference's IoT data model (reference main.go:20-26 — id, timestamp,
  * device_id, value, table_name).
  *
  * All access goes through `spark.read.parquet` so Catalyst's column
  * pruning / predicate pushdown reach the scan. Never collect.
  */
object Tables {

  /** `spark.read.parquet` of a fixture table with its schema resolved on
    * the driver ([[parquetSchema]]): a read without a schema runs a
    * one-task Spark job to infer it. The frame and its schema are the
    * same as the inferring read's.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, converted by Spark
    * from the footer of `path` itself or of the first data file under
    * it by name (names starting `_` or `.` are not data, as in Spark's
    * listing). Like that inference, it reads one footer and assumes the
    * other files agree.
    */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(firstFile).nextOption()
    firstFile(fs.getFileStatus(root)).flatMap(GraftParquetBridge.footerSchema(spark, _))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file to read a schema from under $path"))
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The one place that knows how `events.ts` is encoded. Every fixture
    * since r8 stores it as parquet timestamp[us], which Spark 4 loads as
    * TIMESTAMP_NTZ; a TIMESTAMP column is accepted too. One
    * `cast(TimestampType)` canonicalizes either, and the readers apply
    * that cast after any predicate on the native column, so filters
    * still reach the scan. Returns the loaded dtype. Any other dtype is
    * fixture drift and fails loudly here, naming `events.ts`, instead of
    * producing silently-wrong timestamps (FixtureCheck is the footer
    * canary for the same contract).
    */
  private[graft] def eventsTsType(s: SparkSession, loaded: StructType): DataType = {
    val dt = loaded("ts").dataType
    dt match {
      case TimestampType =>
      case _: TimestampNTZType => requireUtc(s)
      case other => badTsType(other)
    }
    dt
  }

  /** TIMESTAMP_NTZ stores wall-clock datetimes, and the cast to
    * TimestampType reinterprets them in the SESSION timezone. The
    * generator writes naive-UTC wall times, so only a UTC session
    * (SURVEY §5.1 determinism contract) yields their true epoch values;
    * any other zone would shift every absolute-epoch surface (epochNanos,
    * unix_micros, the archive shape) by its offset. Loud failure instead.
    */
  private def requireUtc(s: SparkSession): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
      s"events.ts arrives as TIMESTAMP_NTZ and is reinterpreted in the " +
        s"session timezone, which is '$tz', not UTC — its epoch values " +
        "would shift by the zone offset. Set spark.sql.session.timeZone=UTC " +
        "(SURVEY §5.1 determinism contract).")
  }

  private def badTsType(dt: DataType): Nothing = throw new IllegalStateException(
    s"events.ts has unsupported dtype ${dt.sql}: expected TIMESTAMP_NTZ " +
      "(parquet timestamp[us], current fixtures) or TIMESTAMP. The testdata " +
      "schema drifted — run FixtureCheck, then fix the fixture or " +
      "Tables.eventsTsType.")

  /** Canonical events view: `ts` is always Spark TimestampType (µs, UTC
    * session; see [[eventsTsType]]).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    eventsTsType(s, raw.schema)
    raw.withColumn("ts", col("ts").cast(TimestampType))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Recursive local-FS delete for the streaming/evolution queries'
    * per-run staging dirs: repeated gate/bench runs must not leak disk
    * (ADVICE r11). Local `java.io.File` only — these staging dirs are
    * always driver-local temp space, never the archive. Two blast-
    * radius guards (ADVICE r12): a symlinked directory is deleted as
    * the LINK, never traversed (File.listFiles follows symlinks, so
    * recursing would delete content OUTSIDE the staging tree), and
    * only paths under java.io.tmpdir are accepted — every call site
    * passes a fresh createTempDirectory path, and the require turns a
    * future wrong-path caller bug into a loud error instead of a
    * recursive delete of live data.
    */
  def rmrf(paths: String*): Unit = paths.foreach { p =>
    // accept both the literal tmpdir prefix and its symlink-resolved
    // form (macOS /tmp → /private/tmp); the TARGET is normalized but
    // never leaf-resolved, so a symlink inside staging stays a link
    val tmpProp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize
    val tmpReal =
      try tmpProp.toRealPath() catch { case _: java.io.IOException => tmpProp }
    val t = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    // STRICTLY below the tmp root: startsWith accepts equal paths, so
    // without the != checks a caller bug passing tmpdir itself would
    // recursively delete all of /tmp (Spark scratch, warehouse dirs,
    // other processes' temp files)
    require((t.startsWith(tmpProp) || t.startsWith(tmpReal)) &&
        t != tmpProp && t != tmpReal,
      s"rmrf refuses non-tmp or tmp-root path: $p (tmpdir = $tmpProp)")
    def go(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(go)
      }
      f.delete(): Unit
    }
    go(new java.io.File(p))
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A temp dir built once per JVM for `key`: on first use `build`
    * populates a fresh `createTempDirectory(prefix)` dir; later callers
    * get the same path back. The staged streaming inputs and the
    * persisted IVF index are pure functions of the fixture, so in a
    * Verify/Bench JVM only the first consumer pays the write. The dir is
    * deleted at JVM exit; the hook goes in BEFORE the build, so a
    * failed build cannot leak its partial tree, and the failure also
    * reaps it at once and leaves the map empty for a clean retry.
    *
    * The build runs INSIDE computeIfAbsent, holding the map's bin lock
    * for its duration: fine because queries run serially (Bench, Verify
    * and Probe) and no build is re-entrant; a caller that parallelizes
    * queries must first move the build out of the map (per-key futures).
    */
  private[graft] def stagedDir(prefix: String, key: String)(
      build: String => Unit): String =
    stagedDirs.computeIfAbsent(s"$prefix|$key", _ => {
      val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
      sys.addShutdownHook(rmrf(tmp))
      try build(tmp)
      catch { case e: Throwable => rmrf(tmp); throw e }
      tmp
    })
}
