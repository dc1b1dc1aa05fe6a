package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.KeyRanges

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
  * the same, decided at plan time). The table name is quoted exactly
  * like the retention DELETE's ([[JdbcRetention.quoteIdent]]), so the
  * extract and the DELETE address the same table, and a name not in
  * its stored case fails at schema resolution, before anything is
  * written.
  */
final case class JdbcSource(url: String, props: java.util.Properties)
    extends TableSource {
  override def load(spark: SparkSession, table: String): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", JdbcRetention.quoteIdent(table))
    props.stringPropertyNames().forEach(k => reader.option(k, props.getProperty(k)))
    reader.load()
  }
}

/** Retention write-back (reference main.go:131-145, S5): delete
  * archived rows from the source after a successful archive.
  *
  * The reference deletes `WHERE timestamp < cutoff` — WIDER than what
  * it archived (its extract had LIMIT batchSize), i.e. it can destroy
  * rows it never saved (SURVEY §3.1, a data-loss bug). Here the delete
  * set is keyed to the actually-archived rows: callers pass the
  * archived keys' per-table id ranges (or the archived frame, whose
  * ranges are gathered here) and only those are deleted. Driver-side
  * JDBC (no DataFrame DELETE in the v1 source); statements are built
  * with bind parameters, not string interpolation
  * (the reference string-interpolates the table name — injection-prone,
  * main.go:88).
  */
object JdbcRetention {

  /** A double-quoted identifier, addressed exactly as given: the table
    * must be named in its stored case (PostgreSQL folds unquoted DDL to
    * lower case, Derby and other ANSI-default engines to upper case).
    * Embedded quotes are doubled, so a quote in a name can never
    * terminate the identifier (defense in depth behind the allowlist).
    */
  private[io] def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  private[io] def deleteRangeSql(table: String): String =
    s"DELETE FROM ${quoteIdent(table)} WHERE ${quoteIdent("id")} BETWEEN ? AND ?"

  private[io] def deleteIdSql(table: String): String =
    s"DELETE FROM ${quoteIdent(table)} WHERE ${quoteIdent("id")} = ?"

  /** What [[executeDelete]] sends, decided before any statement: the
    * key ranges, or — past their cap — the per-id fallback over
    * `archived`, whose tables were checked against the allowlist.
    */
  sealed trait DeletePlan
  final case class Ranged(ranges: Seq[(String, Long, Long)]) extends DeletePlan
  final case class PerId(archived: DataFrame, allowedTables: Set[String],
      tables: Set[String]) extends DeletePlan

  /** Decides what [[executeDelete]] sends for exactly the `archived`
    * `(table_name, id)` rows, with no connection opened, given their
    * per-table inclusive id ranges ([[KeyRanges.gather]], `None` past its
    * cap). At 100 TB a range list (not an id list) keeps the DELETE
    * statement count bounded; contiguous ids collapse to single ranges.
    * Table names are validated against `allowedTables` instead of
    * interpolating untrusted strings. With ranges the plan is made on
    * the driver and runs no Spark job.
    *
    * Driver-memory bound: the range list is capped (pathologically
    * fragmented archived ids — e.g. every second id — would otherwise
    * hold one driver range per id). Past the cap the delete DEGRADES,
    * never widens: the plan becomes per-id batched `DELETE WHERE id = ?`
    * statements streamed through `toLocalIterator` (one partition of ids
    * on the driver at a time), so memory stays bounded and the delete
    * set is still EXACTLY the archived rows — slower, but a fragmented
    * id space is already the slow path server-side, and coarsening
    * ranges instead would re-introduce the reference's
    * delete-wider-than-extract bug (main.go:134). Its table set takes
    * one `distinct` job.
    */
  def planDelete(archived: DataFrame, allowedTables: Set[String],
      ranges: Option[KeyRanges]): DeletePlan = {
    val tables = ranges.fold(
      archived.select("table_name").distinct().collect().map(_.getString(0)).toSet)(_.tables)
    require((tables -- allowedTables).isEmpty,
      s"tables not in allowlist: ${tables -- allowedTables}")
    ranges.fold[DeletePlan](PerId(archived, allowedTables, tables))(r => Ranged(r.ranges))
  }

  /** Issues a [[planDelete]] plan's statements over one connection from
    * `connect` (injectable for tests; production passes
    * `() => DriverManager.getConnection(url, props)`). Returns rows
    * deleted per table.
    *
    * Count semantics: on drivers that batch-rewrite and report
    * SUCCESS_NO_INFO (Postgres `reWriteBatchedInserts`, Oracle), the
    * per-id fallback counts STATEMENTS EXECUTED, not rows matched — an
    * id already absent (a retried/replayed delete) still counts 1, so
    * the returned map can overreport there. Callers needing exact
    * row counts under such drivers should verify with a follow-up
    * SELECT count; the ranged fast path always reports true update
    * counts.
    */
  def executeDelete(plan: DeletePlan,
      connect: () => java.sql.Connection): Map[String, Long] = plan match {
    case Ranged(ranges) =>
      val conn = connect()
      try {
        ranges.groupBy(_._1).map { case (table, rs) =>
          // table from allowlist only; range bounds are bind params
          val st = conn.prepareStatement(deleteRangeSql(table))
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
            conn.prepareStatement(deleteIdSql(table)))
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
}
