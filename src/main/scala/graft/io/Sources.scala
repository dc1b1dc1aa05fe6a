package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source abstraction (SURVEY.md §5.5): the archival pipeline reads
  * through this trait so the extract logic is testable without a live
  * PostgreSQL (the sandbox has none — parity is demonstrated over
  * Parquet stand-ins, the JDBC implementation carries the production
  * wiring).
  */
trait TableSource {
  /** Load one named source table as a DataFrame. */
  def load(spark: SparkSession, table: String): DataFrame
}

/** Parquet-directory stand-in: table t ↦ dir/t.parquet. */
final case class ParquetSource(dir: String) extends TableSource {
  override def load(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
}

/** PostgreSQL via Spark's JDBC source — the reference's extract path
  * (reference main.go:88-129). Filters, limits and column pruning
  * pushed by Catalyst reach the remote server as SQL (the reference
  * hardcodes them into its query text at main.go:88-93; delegation is
  * the same, decided at plan time).
  */
final case class JdbcSource(url: String, props: java.util.Properties)
    extends TableSource {
  override def load(spark: SparkSession, table: String): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    props.stringPropertyNames().forEach(k => reader.option(k, props.getProperty(k)))
    reader.load()
  }
}

/** Identifier handling differs across the engines the retention path
  * targets, and a live server for each doesn't exist in every
  * environment — so the generated SQL is a first-class, unit-testable
  * surface (RetentionSpec pins the exact strings per dialect).
  *
  * The differences that matter for a DELETE:
  *  - PostgreSQL folds UNQUOTED identifiers to lower case, so a table
  *    created unquoted (`CREATE TABLE events ...`) is stored as
  *    `events` — quote the name as-is.
  *  - Derby (and the other ANSI-default engines: Oracle, DB2, H2) folds
  *    unquoted identifiers to UPPER case — the same table is stored as
  *    `EVENTS`, so addressing it with a quoted name must upper-case it
  *    first.
  * Both quote with double quotes, doubling embedded quotes (defense in
  * depth behind the allowlist — a quote in a table name can never
  * terminate the identifier).
  */
sealed trait SqlDialect {
  /** How this engine stores identifiers that were CREATEd unquoted. */
  def foldCase(name: String): String
  final def quoteIdent(name: String): String =
    "\"" + foldCase(name).replace("\"", "\"\"") + "\""
  final def deleteRangeSql(table: String): String =
    s"DELETE FROM ${quoteIdent(table)} WHERE ${quoteIdent("id")} BETWEEN ? AND ?"
  final def deleteIdSql(table: String): String =
    s"DELETE FROM ${quoteIdent(table)} WHERE ${quoteIdent("id")} = ?"
}
object SqlDialect {
  /** PostgreSQL: unquoted DDL folds to lower case. Locale.ROOT: the
    * default locale would turn "id" into "İD" under a Turkish-family
    * JVM locale — engines fold per ASCII, not per user locale.
    */
  case object Postgres extends SqlDialect {
    override def foldCase(name: String): String =
      name.toLowerCase(java.util.Locale.ROOT)
  }
  /** Derby / ANSI default: unquoted DDL folds to UPPER case. */
  case object Derby extends SqlDialect {
    override def foldCase(name: String): String =
      name.toUpperCase(java.util.Locale.ROOT)
  }
  /** Address identifiers exactly as given — for tables that were
    * CREATEd with quoted names (what the embedded-Derby integration
    * tests do, and the pre-r8 behavior).
    */
  case object Verbatim extends SqlDialect {
    override def foldCase(name: String): String = name
  }
}

/** Retention write-back (reference main.go:131-145, S5): delete
  * archived rows from the source after a successful archive.
  *
  * The reference deletes `WHERE timestamp < cutoff` — WIDER than what
  * it archived (its extract had LIMIT batchSize), i.e. it can destroy
  * rows it never saved (SURVEY §3.1, a data-loss bug). Here the delete
  * set is keyed to the actually-archived rows: callers pass the
  * archived frame, we derive per-table key ranges and delete only
  * those. Driver-side JDBC (no DataFrame DELETE in the v1 source);
  * statements are built with bind parameters, not string interpolation
  * (the reference string-interpolates the table name — injection-prone,
  * main.go:88).
  */
object JdbcRetention {

  /** Per-table inclusive id ranges covering exactly the archived rows,
    * as a (table_name, lo, hi) frame — built distributed: per table,
    * split ids where gaps occur. At 100 TB a range list (not an id
    * list) keeps the DELETE statement count bounded; contiguous ids
    * collapse to single ranges.
    */
  private def keyRangesDf(archived: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table_name")).orderBy(col("id"))
    archived.select(col("table_name"), col("id"))
      .withColumn("grp", col("id") - row_number().over(w))
      .groupBy(col("table_name"), col("grp"))
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .select(col("table_name"), col("lo"), col("hi"))
  }

  /** What [[executeDelete]] sends, decided before any statement: the
    * collected key ranges, or — past `maxRanges` — the per-id fallback
    * over `archived`, whose tables were checked against the allowlist.
    */
  sealed trait DeletePlan
  final case class Ranged(ranges: Seq[(String, Long, Long)]) extends DeletePlan
  final case class PerId(archived: DataFrame, allowedTables: Set[String],
      tables: Set[String]) extends DeletePlan

  /** The plan half of [[deleteArchived]]: the Spark work (the key-range
    * collect, capped at `maxRanges + 1` rows) and the allowlist check,
    * with no connection opened. A caller may run it concurrently with
    * other work on the archived frame and execute the plan later.
    */
  def planDelete(archived: DataFrame, allowedTables: Set[String],
      maxRanges: Int = 100000): DeletePlan = {
    // one job serves both the cap check and the data: maxRanges + 1
    // rows decide which path runs without re-running the window/group
    // over all archived rows
    val headRanges = keyRangesDf(archived).limit(maxRanges + 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val tables =
      if (headRanges.length <= maxRanges) headRanges.map(_._1).toSet
      else archived.select("table_name").distinct()
        .collect().map(_.getString(0)).toSet
    require((tables -- allowedTables).isEmpty,
      s"tables not in allowlist: ${tables -- allowedTables}")
    if (headRanges.length <= maxRanges) Ranged(headRanges)
    else PerId(archived, allowedTables, tables)
  }

  /** The execute half of [[deleteArchived]]: issues a plan's statements
    * over one connection from `connect`. Returns rows deleted per table.
    */
  def executeDelete(plan: DeletePlan, connect: () => java.sql.Connection,
      dialect: SqlDialect = SqlDialect.Verbatim): Map[String, Long] = plan match {
    case Ranged(ranges) =>
      val conn = connect()
      try {
        ranges.groupBy(_._1).map { case (table, rs) =>
          // table from allowlist only; range bounds are bind params
          val st = conn.prepareStatement(dialect.deleteRangeSql(table))
          var n = 0L
          try {
            rs.foreach { case (_, lo, hi) =>
              st.setLong(1, lo); st.setLong(2, hi)
              n += st.executeUpdate()
            }
          } finally st.close()
          table -> n
        }
      } finally conn.close()
    case PerId(archived, allowedTables, tables) =>
      val conn = connect()
      val counts = scala.collection.mutable.Map.empty[String, Long]
      val stmts = scala.collection.mutable.Map.empty[String, java.sql.PreparedStatement]
      val pending = scala.collection.mutable.Map.empty[String, Int]
      def flush(table: String): Unit = if (pending.getOrElse(table, 0) > 0) {
        // per-id deletes affect at most one row each; drivers that
        // report SUCCESS_NO_INFO (-2: Postgres batch rewriting, Oracle)
        // still executed the statement, so count it as its one row —
        // clamping to 0 would report "deleted 0" for successful batches
        val n = stmts(table).executeBatch().map {
          case java.sql.Statement.SUCCESS_NO_INFO => 1L
          case k => k.toLong.max(0L)
        }.sum
        counts(table) = counts.getOrElse(table, 0L) + n
        pending(table) = 0
      }
      try {
        val it = archived.select("table_name", "id").toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          val table = r.getString(0)
          // re-validate per row: `archived` is re-evaluated by this
          // iterator, and a non-deterministic frame could yield a table
          // the plan's distinct() never saw — nothing unvalidated may
          // reach the interpolated DELETE
          require(allowedTables.contains(table),
            s"table not in allowlist: $table")
          val st = stmts.getOrElseUpdate(table,
            conn.prepareStatement(dialect.deleteIdSql(table)))
          st.setLong(1, r.getLong(1)); st.addBatch()
          pending(table) = pending.getOrElse(table, 0) + 1
          if (pending(table) >= 10000) flush(table)
        }
        stmts.keys.foreach(flush)
        tables.map(t => t -> counts.getOrElse(t, 0L)).toMap
      } finally {
        stmts.values.foreach(_.close())
        conn.close()
      }
  }

  /** Deletes exactly the archived rows: [[planDelete]] then
    * [[executeDelete]], over a caller-supplied connection factory
    * (injectable for tests; production passes
    * `() => DriverManager.getConnection(url, props)`). Returns rows
    * deleted per table. Validates table names against an allowlist
    * instead of interpolating untrusted strings.
    *
    * Count semantics: on drivers that batch-rewrite and report
    * SUCCESS_NO_INFO (Postgres `reWriteBatchedInserts`, Oracle), the
    * per-id fallback counts STATEMENTS EXECUTED, not rows matched — an
    * id already absent (a retried/replayed delete) still counts 1, so
    * the returned map can overreport there. Callers needing exact
    * row counts under such drivers should verify with a follow-up
    * SELECT count; the ranged fast path always reports true update
    * counts.
    *
    * Driver-memory bound: the collected range list is capped at
    * `maxRanges` (pathologically fragmented archived ids — e.g. every
    * second id — would otherwise materialize one driver row per id).
    * Past the cap the delete DEGRADES, never widens: per-id batched
    * `DELETE WHERE id = ?` statements streamed through
    * `toLocalIterator` (one partition of ids on the driver at a time),
    * so memory stays bounded and the delete set is still EXACTLY the
    * archived rows — slower, but a fragmented id space is already the
    * slow path server-side, and coarsening ranges instead would
    * re-introduce the reference's delete-wider-than-extract bug
    * (main.go:134).
    */
  def deleteArchived(archived: DataFrame, allowedTables: Set[String],
      connect: () => java.sql.Connection,
      maxRanges: Int = 100000,
      dialect: SqlDialect = SqlDialect.Verbatim): Map[String, Long] =
    executeDelete(planDelete(archived, allowedTables, maxRanges), connect, dialect)
}
