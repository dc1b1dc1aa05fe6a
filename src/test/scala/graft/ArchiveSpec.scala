package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Archive, KeyRanges}

/** A non-`file:` Hadoop filesystem scheme backed by the local FS — the
  * closest an offline sandbox gets to an object store: writes and reads
  * addressed as `mockobj:/...` resolve through `fs.<scheme>.impl`
  * lookup, `Path.getFileSystem`, and the committer machinery exactly
  * the way `s3a://` does (the reference uploads with a buffered
  * PutObject instead, main.go:211-242). Top-level class: Hadoop
  * instantiates it reflectively by name.
  */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockobj"
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
}

/** Unit + property coverage of the [REF] archival operators
  * (SURVEY.md §5.2-5.3): cutoff boundary, empty-input short-circuit,
  * union stamping, top-k = sorted prefix, per-row partition derivation
  * across a month boundary, archival partition invariants.
  */
class ArchiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def iotDf(rows: Seq[(Long, String, String, Double)]) =
    rows.toDF("id", "ts_str", "device_id", "value")
      .select(col("id"), to_timestamp(col("ts_str")).as("timestamp"),
        col("device_id"), col("value"))

  /** Appends the way the archiver does: `year`/`month` derived on the
    * batch and its month set passed in.
    */
  private def append(batch: org.apache.spark.sql.DataFrame, dir: String): Long = {
    val parted = batch.transform(Archive.withTimePartitions("timestamp"))
    val months = parted.select("year", "month").distinct().as[(Int, Int)].collect().toSeq
    Archive.appendIdempotent(parted, dir, months, KeyRanges.gather(parted))
  }

  private val sample = iotDf(Seq(
    (1L, "2024-01-31 23:59:59", "d1", 1.0),
    (2L, "2024-02-01 00:00:00", "d1", 2.0), // exactly at cutoff
    (3L, "2024-02-01 00:00:01", "d2", 3.0),
    (4L, "2023-12-15 12:00:00", "d2", 4.0)))

  test("retention filter is strict < (reference main.go:91 boundary)") {
    val out = sample.transform(Archive.retentionFilter("timestamp", "2024-02-01 00:00:00"))
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("empty extraction short-circuits to zero rows (main.go:189-192)") {
    val out = sample.transform(Archive.retentionFilter("timestamp", "2000-01-01 00:00:00"))
    assert(out.isEmpty)
  }

  test("top-k newest equals sorted-prefix semantics (main.go:88-93)") {
    val out = sample.transform(Archive.topKNewest("timestamp", "id", 2))
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(3L, 2L))
  }

  test("union stamps distinct table_name per source (main.go:114,180-187)") {
    val a = sample.transform(Archive.stampTableName("t_a"))
    val b = sample.transform(Archive.stampTableName("t_b"))
    val u = Archive.unionAll(Seq(a, b))
    assert(u.count() == 8)
    assert(u.groupBy("table_name").count().as[(String, Long)].collect().toMap ==
      Map("t_a" -> 4L, "t_b" -> 4L))
  }

  test("per-row partition derivation splits a month-spanning batch " +
      "(fixes main.go:195-200 single-partition placement)") {
    val parts = sample.transform(Archive.withTimePartitions("timestamp"))
      .select("year", "month").distinct().as[(Int, Int)].collect().toSet
    assert(parts == Set((2024, 1), (2024, 2), (2023, 12)))
  }

  test("epoch-nanos shape is µs*1000 (main.go:39 with documented truncation)") {
    val ns = sample.transform(Archive.toArchiveShape("timestamp"))
      .select("timestamp").as[Long].collect()
    assert(ns.forall(_ % 1000L == 0L))
    val expect = java.time.LocalDateTime.parse("2024-01-31T23:59:59")
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
    assert(ns.contains(expect))
  }

  test("archive pipeline invariants: archived ∪ retained = all, disjoint, " +
      "every archived ts < cutoff") {
    val cutoff = "2024-02-01 00:00:00"
    val archived = Archive.archivePipeline(
      Seq("t" -> sample), "timestamp", "id", cutoff, 10)
    val archIds = archived.select("id").as[Long].collect().toSet
    val allIds = sample.select("id").as[Long].collect().toSet
    val retained = allIds -- archIds
    assert(archIds.subsetOf(allIds))
    assert((archIds ++ retained) == allIds && (archIds & retained).isEmpty)
    val maxArchived = archived.agg(max("timestamp")).as[java.sql.Timestamp].head()
    assert(maxArchived.before(java.sql.Timestamp.valueOf(cutoff)))
  }

  test("archive reads prune partitions: a year/month filter becomes " +
      "PartitionFilters, not a data filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    sample.transform(Archive.withTimePartitions("timestamp"))
      .write.mode("overwrite").partitionBy("year", "month").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("year") === 2024 && col("month") === 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("(year#") && plan.contains("(month#"), plan)
    assert(q.count() == 2)
  }

  test("idempotent append: crash-rerun writes no duplicates, new rows land") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idem").toString + "/arch"
    val batch1 = sample.transform(Archive.stampTableName("t"))
    // first run archives everything
    assert(append(batch1, dir) == 4)
    // crash-rerun of the SAME batch (reference would duplicate): no-op
    assert(append(batch1, dir) == 0)
    assert(spark.read.parquet(dir).count() == 4)
    // overlapping batch: only the genuinely new row lands
    val batch2 = iotDf(Seq(
      (3L, "2024-02-01 00:00:01", "d2", 3.0),   // already archived
      (9L, "2024-02-02 08:00:00", "d9", 9.0)))  // new
      .transform(Archive.stampTableName("t"))
    assert(append(batch2, dir) == 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 5)
    assert(back.groupBy("id").count().filter(col("count") > 1).isEmpty)
  }

  test("an append refuses a directory whose footer lacks table_name or id, " +
      "naming the file and running no Spark job; the keys match in any case") {
    val batch = sample.transform(Archive.stampTableName("t"))
    val foreign = java.nio.file.Files.createTempDirectory("graft_not_archive").toString
    val upper = java.nio.file.Files.createTempDirectory("graft_upper_keys").toString
    try {
      Seq((1L, "x")).toDF("id", "name").write.mode("overwrite").parquet(foreign)
      val parted = batch.transform(Archive.withTimePartitions("timestamp"))
      val keys = KeyRanges.gather(parted)
      val sc = spark.sparkContext
      sc.setJobGroup("refuse", "refuse")
      val e = try intercept[IllegalArgumentException](
          Archive.appendIdempotent(parted, foreign, Seq((2024, 1)), keys))
        finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 10000L)
      assert(sc.statusTracker.getJobIdsForGroup("refuse").isEmpty)
      assert(e.getMessage.contains("not an archive") && e.getMessage.contains(".parquet"),
        e.getMessage)
      Seq((7L, "u")).toDF("ID", "TABLE_NAME").write.mode("overwrite").parquet(upper)
      assert(append(batch, upper) == 4)
    } finally model.Tables.rmrf(foreign, upper)
  }

  test("an append of a fully archived batch returns 0 and adds no data file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idem_empty").toString + "/arch"
    val batch = sample.transform(Archive.stampTableName("t"))
    assert(append(batch, dir) == 4)
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    val before = dataFiles()
    assert(before.nonEmpty && before.forall(_.contains("/year=")))
    assert(append(batch, dir) == 0)
    assert(dataFiles() == before)
  }

  test("archive write and idempotent append run end-to-end through a " +
      "non-file FS scheme (object-store stand-in for the s3a path)") {
    // S3 itself cannot exist in this environment; what CAN be proven is
    // that every archive path goes through the Hadoop FS abstraction —
    // scheme resolution, FileSystem.listStatus, the output committer —
    // with a scheme that is NOT file:. s3a slots into exactly this seam.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_mockobj")
      .toString
    val uri = "mockobj:" + local + "/arch"
    sample.transform(Archive.withTimePartitions("timestamp"))
      .write.mode("overwrite").partitionBy("year", "month").parquet(uri)
    assert(spark.read.parquet(uri).count() == 4)
    // hive layout listed through the SCHEME'd filesystem, not java.io
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val years = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("year=")).sorted
    assert(years.toSeq == Seq("year=2023", "year=2024"))
    // crash-rerun idempotence holds across the scheme too (the
    // anti-join's pruned archive read + append both resolve mockobj:)
    val stamped = sample.transform(Archive.stampTableName("t"))
    val uri2 = "mockobj:" + local + "/arch2"
    assert(append(stamped, uri2) == 4)
    assert(append(stamped, uri2) == 0)
    assert(spark.read.parquet(uri2).count() == 4)
  }

  test("appendIdempotent produces hive year=/month= layout, snappy parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_arch").toString + "/arch"
    assert(append(sample.transform(Archive.stampTableName("t")), dir) == 4)
    val sub = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("year=")).sorted
    assert(sub.toSeq == Seq("year=2023", "year=2024"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("year="))
      .flatMap(_.listFiles()).flatMap(_.listFiles()).map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.endsWith(".snappy.parquet")), files.toSeq)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4)
    assert(back.columns.toSet.contains("month"))
  }

  test("partition checksums: order-independent, round-trip-stable, " +
      "and sensitive to a single mutated row") {
    import graft.ops.Scalar
    def canon = Seq(col("id"), col("device_id"),
      Scalar.epochNanos(col("timestamp")), col("value").cast("decimal(18,6)"))
    def sums(df: org.apache.spark.sql.DataFrame) =
      Archive.partitionChecksums(df, "timestamp", canon)
        .orderBy("year", "month")
        .select("year", "month", "n_rows", "checksum")
        .as[(Int, Int, Long, Long)].collect().toSeq
    val src = sums(sample)
    assert(src.map(t => (t._1, t._2)).toSet ==
      Set((2023, 12), (2024, 1), (2024, 2))) // groups span months
    // archive round-trip (different row order, different partitioning)
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    sample.transform(Archive.withTimePartitions("timestamp"))
      .write.mode("overwrite").partitionBy("year", "month").parquet(dir)
    val back = spark.read.parquet(dir)
      .select("id", "timestamp", "device_id", "value")
      .orderBy(col("value").desc).repartition(3)
    assert(sums(back) == src, "archive read-back digest differs from source")
    // a single flipped value in one partition must change exactly
    // that partition's digest
    val mutated = sample.withColumn("value",
      when(col("id") === 3L, 999.0).otherwise(col("value")))
    val mut = sums(mutated)
    assert(mut.size == src.size)
    val diffs = src.zip(mut).filter { case (a, b) => a != b }
    assert(diffs.map(_._1).map(t => (t._1, t._2)) == Seq((2024, 2)),
      s"expected only 2024-02 to differ, got $diffs")
  }

  test("checksum canonical encoding is injective: NULL position shifts " +
      "and delimiter bytes inside values cannot collide two rows") {
    def digest(rows: Seq[(String, String, String)]): Long =
      Archive.groupChecksums(
        rows.toDF("a", "b", "c").withColumn("g", lit(1)),
        Seq("g"), Seq(col("a"), col("b"), col("c")))
        .select("checksum").as[Long].head()
    // (a, NULL, b) vs (a, b, NULL): a concat_ws canon renders both "a|b"
    assert(digest(Seq(("a", null, "b"))) != digest(Seq(("a", "b", null))))
    // a '|' INSIDE a value vs at a field boundary: both "a|b|c" under
    // concat_ws; the length-prefixed encoding keeps them distinct
    assert(digest(Seq(("a|b", "c", "x"))) != digest(Seq(("a", "b|c", "x"))))
    // adjacent-field content shift: ("ab","c") vs ("a","bc")
    assert(digest(Seq(("ab", "c", "x"))) != digest(Seq(("a", "bc", "x"))))
    // and equal rows still digest equal (sanity)
    assert(digest(Seq(("a", "b", "c"))) == digest(Seq(("a", "b", "c"))))
  }

  test("schema evolution: a mergeSchema read over epochs written before " +
      "and after a column was added fills the missing column with NULL " +
      "and keeps every row") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_schema_evo_spec").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.mode("overwrite").parquet(dir + "/e1")
    Seq((3L, "c", 7.5), (4L, "d", 2.5)).toDF("id", "k", "v")
      .write.mode("overwrite").parquet(dir + "/e2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(dir + "/e1", dir + "/e2")
    assert(merged.columns.sorted.toSeq == Seq("id", "k", "v"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq
    assert(rows == Seq((1L, true), (2L, true), (3L, false), (4L, false)),
      rows.toString)
  }
}
