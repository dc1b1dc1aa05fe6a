package graft.ops

import java.util.Locale

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The reference's archival-pipeline capabilities as composable
  * `DataFrame => DataFrame` operators (SURVEY.md §2.1-2.8, §3.1).
  *
  * Reference: johnonline35/pg-archiver `main.go`. Each function cites the
  * behavior it re-expresses; none of the code is a translation — the
  * reference is a single-threaded Go loop, these are declarative Spark
  * plans that Catalyst pushes into the parquet scan.
  */
object Archive {

  /** P1 (main.go:89): fixed 4-column projection. Catalyst turns this into
    * parquet `ReadSchema` pruning — the scan never reads other columns.
    */
  def projectIot(df: DataFrame): DataFrame =
    df.select("id", "timestamp", "device_id", "value")

  /** P2 (main.go:91,177): retention filter `timestamp < cutoff`. The cutoff
    * is a parameter (not `now()`) so verified queries are deterministic.
    * Pushed to the parquet scan as a range predicate (`PushedFilters`).
    */
  def retentionFilter(tsCol: String, cutoff: String)(df: DataFrame): DataFrame =
    df.filter(col(tsCol) < to_timestamp(lit(cutoff)))

  /** P3 (main.go:114): stamp the source-table discriminator column. */
  def stampTableName(name: String)(df: DataFrame): DataFrame =
    df.withColumn("table_name", lit(name))

  /** P4 (main.go:36-44): row-shape conversion to the archive layout —
    * timestamp → epoch nanos INT64. Spark timestamps are µs precision, so
    * ns = µs * 1000 (documented truncation, SURVEY §1.3).
    */
  def toArchiveShape(tsCol: String)(df: DataFrame): DataFrame =
    df.withColumn(tsCol, unix_micros(col(tsCol)) * lit(1000L))

  /** O1+O2+O3 (main.go:88-93): newest-k-rows-older-than-cutoff. Catalyst
    * fuses orderBy+limit into `TakeOrderedAndProject` — a distributed
    * top-k (per-partition heap + driver merge), NOT a global sort. At
    * 100 TB this is the difference between a full shuffle and a scan.
    * Tiebreaker on `tieCol` keeps results deterministic for the oracle.
    */
  def topKNewest(tsCol: String, tieCol: String, k: Int)(df: DataFrame): DataFrame =
    df.orderBy(col(tsCol).desc, col(tieCol).asc).limit(k)

  /** U1 (main.go:180-187): n-ary union of per-table batches. `unionByName`
    * is resilient to column-order drift between sources.
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** S4 (main.go:220-223): hive-style time partition derivation. The
    * reference places the whole batch under ONE `year=/month=` prefix
    * chosen from the max timestamp (lossy when a batch spans months);
    * we derive per-row partitions — the semantically correct layout that
    * partition pruning needs (SURVEY §2.1 S4).
    */
  def withTimePartitions(tsCol: String)(df: DataFrame): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))

  /** Partition-pruning predicate selecting exactly the given
    * (year, month) partitions (none when `months` is empty).
    */
  def inMonths(months: Seq[(Int, Int)]): Column =
    months.map { case (y, m) => col("year") === y && col("month") === m }
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Idempotent (exactly-once-per-row) archive append — SURVEY §3.1:
    * the reference re-archives rows when a run crashes between upload
    * and delete (duplicate objects). Here the archive itself is the
    * dedup state: batch rows whose (table_name, id) the archive already
    * holds are dropped before appending, so re-running an interrupted
    * archival writes only missing rows. Returns the number of rows
    * written.
    *
    * `batch` carries its `year`/`month` partition columns, `months` is
    * its (year, month) set and `keys` its [[KeyRanges]] (`None` past the
    * cap), all of which the caller already holds from its per-month
    * digest pass. The overlap probe reads ONLY those archive partitions
    * — a partition-pruning filter, never a full archive scan — and keeps
    * the rows whose keys `keys` holds. One job gathers their key ranges
    * with the same builder; the write then filters the batch by them
    * (no filter when the archive holds none of the keys). With no key
    * ranges, or held ranges past the cap, the batch is anti-joined with
    * the probed keys instead.
    *
    * The archive is read with `batch`'s schema, so no footer-inference
    * job runs. A missing archive root (checked through the Hadoop
    * FileSystem of the session's conf, so `s3a:` and other schemes
    * resolve) is the first run: nothing to dedup against. So is a root
    * holding no committed data file (an empty directory, or a crash
    * mid-first-write that left only `_temporary/`): neither runs a probe
    * job. A root whose first data file in path order lacks `table_name`
    * or `id` is not an archive: the append refuses, naming the file,
    * because skipping the dedup there would append duplicates.
    *
    * The written row count is observed on the write itself (a
    * `CollectMetrics` node over the filtered batch), so no count job
    * runs; an empty result still runs the write, which then adds no data
    * file, and returns 0.
    *
    * Sink (main.go:46-85,220-223): snappy parquet under a hive
    * `year=/month=` layout. Spark writes `month=3` where the reference
    * zero-pads `month=03` (main.go:220), so readers should address
    * partitions with pruning predicates (`month = 3`), not
    * zero-padded path globs.
    */
  def appendIdempotent(batch: DataFrame, archiveDir: String,
      months: Seq[(Int, Int)], keys: Option[KeyRanges]): Long = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(archiveDir)
    val archived =
      if (!root.getFileSystem(conf).exists(root)) None
      else Some(spark.read.schema(batch.schema).parquet(archiveDir))
    val files = archived.fold(Array.empty[String])(_.inputFiles)
    val fresh = archived match {
      case Some(a) if files.nonEmpty =>
        requireArchiveKeys(spark, files.min)
        val probed = a.filter(inMonths(months))
        keys.flatMap(k => KeyRanges.gather(probed.filter(k.holds))) match {
          case Some(held) if held.isEmpty => batch
          case Some(held) => batch.filter(!held.holds)
          case None => batch.join(probed.select("table_name", "id"), Seq("table_name", "id"), "left_anti")
        }
      case _ => batch
    }
    val written = new org.apache.spark.sql.Observation()
    fresh.observe(written, count(lit(1)).as("n")).write.mode("append")
      .option("compression", "snappy")
      .partitionBy("year", "month")
      .parquet(archiveDir)
    written.get("n").asInstanceOf[Long]
  }

  /** Refuses a parquet file whose footer lacks `table_name` or `id`
    * (matched case-insensitively, as the reader resolves columns). One
    * footer read on the driver, no Spark job.
    */
  private def requireArchiveKeys(spark: SparkSession, file: String): Unit = {
    val fields = Tables.parquetSchema(spark, new Path(java.net.URI.create(file)).toString)
      .fieldNames.map(_.toLowerCase(Locale.ROOT))
    require(fields.contains("table_name") && fields.contains("id"),
      s"archive file $file lacks table_name or id: not an archive, refusing to append")
  }

  /** The whole §3.1 pipeline as one composed plan: per-source
    * project→filter→top-k→stamp, union, partition-derive. This is the
    * flagship (`SparkEntry.entry`) shape: every [REF] operator in one
    * declarative query that Catalyst plans end-to-end.
    */
  def archivePipeline(
      sources: Seq[(String, DataFrame)],
      tsCol: String, idCol: String, cutoff: String, batchSize: Int): DataFrame = {
    val perTable = sources.map { case (name, df) =>
      val shaped = df
        .transform(retentionFilter(tsCol, cutoff))
        .transform(topKNewest(tsCol, idCol, batchSize))
        .transform(stampTableName(name))
      shaped
    }
    unionAll(perTable).transform(withTimePartitions(tsCol))
  }

  /** Per-time-partition integrity digest — the safety check the
    * reference's archive-then-DELETE cycle is missing (main.go:88-129
    * deletes source rows on the strength of a write that was never
    * read back): run this over BOTH the source extract and the written
    * archive partition and compare before deleting.
    *
    * The digest is a bit_xor of per-row 60-bit md5 prefixes over a
    * canonical row string, so it is ORDER-INDEPENDENT (parquet scans
    * return rows in any order) and aggregates with constant state per
    * partition — one map-side-combined shuffle at any scale. Doubles
    * and timestamps enter the canonical string through DECIMAL(18,6)
    * and epoch-nanos casts: both engines (and both sides of a
    * source/archive comparison) format those identically, where raw
    * double/timestamp rendering differs.
    */
  def partitionChecksums(df: DataFrame, tsCol: String,
      canonCols: Seq[Column]): DataFrame =
    groupChecksums(df.transform(withTimePartitions(tsCol)),
      Seq("year", "month"), canonCols)

  /** Digest grouped by existing columns (for data already carrying its
    * partition columns, e.g. the written archive).
    *
    * Canonical row encoding is SELF-DELIMITING, not delimiter-joined:
    * each field becomes `N` when NULL and `V<len>:<value>` otherwise,
    * and the tokens are concatenated. A `concat_ws` encoding would
    * silently SKIP NULL fields ((a,NULL,b) and (a,b,NULL) both render
    * "a|b") and a delimiter byte inside a value would shift field
    * boundaries (("a|b", "c") vs ("a", "b|c")) — either lets two
    * different rows collide to one digest, which is fatal for a check
    * that gates a destructive DELETE. The length prefix makes the
    * concatenation injective for any field content.
    */
  def groupChecksums(df: DataFrame, groupCols: Seq[String],
      canonCols: Seq[Column]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), bit_xor(rowHash(canonCols)).as("checksum"))

  /** The digest's per-row hash: a 60-bit md5 prefix of the canonical
    * row (see [[groupChecksums]]), never NULL.
    */
  def rowHash(canonCols: Seq[Column]): Column = {
    val canon = concat(canonCols.map { c =>
      val s = c.cast("string")
      when(s.isNull, lit("N"))
        .otherwise(concat(lit("V"), length(s), lit(":"), s))
    }: _*)
    conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
  }

  /** Snapshot diff — the archive-maintenance audit between two
    * generations of the same table (e.g. the archive before and after a
    * re-extraction, or PG-now vs archive-then): rows `added` (key only
    * in `b`), `removed` (key only in `a`), and `changed` (key in both,
    * any compared column differing under null-safe equality). Unchanged
    * rows are excluded — the output is the delta, sized by drift, not
    * by the table.
    *
    * The reference has no such check: a crashed run between upload and
    * delete (main.go:211-251) silently re-archives rows; this operator
    * is how that drift becomes visible (and is the verification step
    * behind appendIdempotent's crash-safety story).
    *
    * Scale shape: ONE full-outer sort-merge/shuffle-hash join on the
    * key — bucketable on `keyCol`, no window, no broadcast of anything
    * table-sized. Column comparison is null-safe `<=>` per column (no
    * row serialization); at very wide schemas swap in a map-side
    * fingerprint column (xxhash64 of the packed row) computed at WRITE
    * time so the diff join carries 8 bytes per side instead of the row.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val aSide = a.select((col(keyCol).as("key") +: lit(1L).as("in_a") +:
      compareCols.map(c => col(c).as(s"a_$c"))): _*)
    val bSide = b.select((col(keyCol).as("key") +: lit(1L).as("in_b") +:
      compareCols.map(c => col(c).as(s"b_$c"))): _*)
    val differs = compareCols
      .map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduce(_ || _)
    aSide.join(bSide, Seq("key"), "full_outer")
      .withColumn("status",
        when(col("in_b").isNull, lit("removed"))
          .when(col("in_a").isNull, lit("added"))
          .when(differs, lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("key"), col("status"))
      .orderBy(col("key"))
  }

  /** CDC apply — merge a change set onto a base snapshot: `D` rows
    * delete by key, any other op ('I' insert / 'U' update) REPLACES the
    * keyed row with the change row (upsert semantics; the change frame
    * carries full rows). One key per change row is the caller's
    * contract — last-writer-wins folding belongs upstream, keyed on the
    * change-log sequence.
    *
    * This is the reference's delete loop (main.go:131-145) generalized
    * to the three-op merge an incremental archive actually needs: the
    * reference can only `DELETE WHERE timestamp < cutoff`; this applies
    * an exact keyed delta.
    *
    * Scale shape: untouched = base ANTI JOIN changes (one keyed join,
    * bucketable on the key like every snapshot op here), result =
    * untouched ∪ non-delete change rows (union-all adds no exchange).
    * Output size = |base| − |D| + |I∪U|; never a cross product, nothing
    * table-sized broadcast.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, keyCol: String,
      opCol: String, validate: Boolean = false): DataFrame = {
    val dataCols = base.columns.toSeq
    require(changes.columns.contains(opCol),
      s"changes is missing the op column '$opCol'")
    require(dataCols.forall(changes.columns.contains),
      "changes must carry every base column (full-row upserts)")
    // One-key-per-change-row contract (ADVICE r10): duplicate keys in
    // `changes` would silently emit duplicate output keys (and one D
    // row would drop ALL same-keyed base rows). `validate` enforces it
    // loudly WITHOUT a driver action — a lazy per-key window count that
    // raise_error()s at execution time. Off by default: the window adds
    // a shuffle of the (delta-sized) changes frame, and CDC feeds with
    // an upstream uniqueness guarantee shouldn't pay it twice.
    val checked =
      if (!validate) changes
      else {
        // The guard lives in a FILTER predicate (not a dropped
        // projection — column pruning would erase that): rows with a
        // unique key pass `true`, a duplicate key evaluates raise_error.
        val w = Window.partitionBy(col(keyCol))
        changes
          .withColumn("_dup_n", count(lit(1)).over(w))
          .filter(when(col("_dup_n") > 1,
              raise_error(concat(
                lit("applyChanges: duplicate key in changes: "),
                col(keyCol).cast("string"))).isNull)
            .otherwise(lit(true)))
          .drop("_dup_n")
      }
    val untouched = base.join(checked.select(col(keyCol)),
      Seq(keyCol), "left_anti")
    val upserts = checked.filter(col(opCol) =!= "D")
      .select(dataCols.map(col): _*)
    untouched.unionByName(upserts).orderBy(col(keyCol))
  }
}
