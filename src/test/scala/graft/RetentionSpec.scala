package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{JdbcRetention, SqlDialect}

/** Retention write-back (SURVEY.md §7 step 6): the delete set must be
  * keyed to the actually-archived rows — NOT the reference's wider
  * `timestamp < cutoff` predicate (main.go:134), which can delete rows
  * it never archived. No live PG in the sandbox: range derivation is
  * tested directly, delete execution through a recording stub
  * Connection.
  */
class RetentionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("archivedKeyRanges collapses contiguous ids into ranges per table") {
    val archived = Seq(
      ("t1", 1L), ("t1", 2L), ("t1", 3L), ("t1", 7L), ("t1", 8L),
      ("t2", 10L)).toDF("table_name", "id")
    val executed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val conn = stubConnection((sql, lo, hi) => executed += ((sql, lo, hi)))
    JdbcRetention.deleteArchived(archived, Set("t1", "t2"), () => conn): Unit
    // the bound (lo, hi) parameters of the range DELETEs are the ranges
    def sql(t: String) = SqlDialect.Verbatim.deleteRangeSql(t)
    assert(executed.toSet ==
      Set((sql("t1"), 1L, 3L), (sql("t1"), 7L, 8L), (sql("t2"), 10L, 10L)))
  }

  test("deleteArchived issues one bounded DELETE per range with bind params " +
      "and rejects non-allowlisted tables") {
    val archived = Seq(("iot_data", 1L), ("iot_data", 2L), ("iot_data", 9L))
      .toDF("table_name", "id")

    val executed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val conn = stubConnection((sql, lo, hi) => executed += ((sql, lo, hi)))

    val counts = JdbcRetention.deleteArchived(archived, Set("iot_data"), () => conn)
    assert(counts == Map("iot_data" -> 2L)) // stub reports 1 row per executeUpdate
    assert(executed.toSet ==
      Set(("""DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""", 1L, 2L),
        ("""DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""", 9L, 9L)))

    val bad = intercept[IllegalArgumentException] {
      JdbcRetention.deleteArchived(archived, Set("other"), () => conn)
    }
    assert(bad.getMessage.contains("iot_data"))
  }

  test("fragmented ids past maxRanges fall back to per-id batched " +
      "deletes — bounded driver memory, delete set unchanged") {
    // every second id ⇒ one range per id; cap of 2 forces the fallback
    val ids = (0L until 20L).map(_ * 2)
    val archived = ids.map(("iot_data", _)).toDF("table_name", "id")

    val deleted = scala.collection.mutable.ArrayBuffer[Long]()
    val conn = stubBatchConnection((sql, id) => {
      assert(sql == """DELETE FROM "iot_data" WHERE "id" = ?""")
      deleted += id
    })
    val counts = JdbcRetention.deleteArchived(archived, Set("iot_data"),
      () => conn, maxRanges = 2)
    assert(counts == Map("iot_data" -> ids.size.toLong))
    assert(deleted.toSet == ids.toSet) // exactly the archived ids, no widening
    // allowlist still enforced on the fallback path
    val bad = intercept[IllegalArgumentException] {
      JdbcRetention.deleteArchived(archived, Set("other"), () => conn,
        maxRanges = 2)
    }
    assert(bad.getMessage.contains("iot_data"))
  }

  test("dialects generate the engine's stored form of an unquoted table " +
      "name — PG lower-folds, Derby upper-folds, Verbatim passes through") {
    // A table CREATEd unquoted as `IoT_Data` is stored as `iot_data` on
    // PG and `IOT_DATA` on Derby; the quoted DELETE must address the
    // stored form or it hits a missing-table error on a live server.
    assert(SqlDialect.Postgres.deleteRangeSql("IoT_Data") ==
      """DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""")
    assert(SqlDialect.Derby.deleteRangeSql("IoT_Data") ==
      """DELETE FROM "IOT_DATA" WHERE "ID" BETWEEN ? AND ?""")
    assert(SqlDialect.Verbatim.deleteRangeSql("IoT_Data") ==
      """DELETE FROM "IoT_Data" WHERE "id" BETWEEN ? AND ?""")
    assert(SqlDialect.Postgres.deleteIdSql("events") ==
      """DELETE FROM "events" WHERE "id" = ?""")
    assert(SqlDialect.Derby.deleteIdSql("events") ==
      """DELETE FROM "EVENTS" WHERE "ID" = ?""")
    // embedded quotes can never terminate the identifier (defense in
    // depth behind the allowlist)
    assert(SqlDialect.Verbatim.quoteIdent("""we"ird""") == "\"we\"\"ird\"")
  }

  test("deleteArchived applies the dialect on both the ranged and the " +
      "per-id fallback path") {
    val archived = Seq(("IoT_Data", 1L), ("IoT_Data", 2L))
      .toDF("table_name", "id")
    val ranged = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val conn = stubConnection((sql, lo, hi) => ranged += ((sql, lo, hi)))
    JdbcRetention.deleteArchived(archived, Set("IoT_Data"), () => conn,
      dialect = SqlDialect.Postgres): Unit
    assert(ranged.toSet ==
      Set(("""DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""", 1L, 2L)))

    val fragmented = Seq(("IoT_Data", 1L), ("IoT_Data", 3L), ("IoT_Data", 5L))
      .toDF("table_name", "id")
    val perId = scala.collection.mutable.ArrayBuffer[Long]()
    val bconn = stubBatchConnection((sql, id) => {
      assert(sql == """DELETE FROM "IOT_DATA" WHERE "ID" = ?""")
      perId += id
    })
    JdbcRetention.deleteArchived(fragmented, Set("IoT_Data"), () => bconn,
      maxRanges = 2, dialect = SqlDialect.Derby): Unit
    assert(perId.toSet == Set(1L, 3L, 5L))
  }

  /** Batch-capable stub: records (sql, id) per batched row; executeBatch
    * reports 1 affected row per entry.
    */
  private def stubBatchConnection(record: (String, Long) => Unit): java.sql.Connection = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    def proxy[T](cls: Class[T])(h: (Object, Method, Array[Object]) => Object): T =
      Proxy.newProxyInstance(cls.getClassLoader, Array(cls),
        new InvocationHandler {
          override def invoke(p: Object, m: Method, a: Array[Object]): Object = h(p, m, a)
        }).asInstanceOf[T]
    proxy(classOf[java.sql.Connection]) { (_, m, args) =>
      m.getName match {
        case "prepareStatement" =>
          val sql = args(0).asInstanceOf[String]
          var cur = 0L
          var batched = 0
          proxy(classOf[java.sql.PreparedStatement]) { (_, pm, pa) =>
            pm.getName match {
              case "setLong" => cur = pa(1).asInstanceOf[java.lang.Long]; null
              case "addBatch" => record(sql, cur); batched += 1; null
              case "executeBatch" =>
                val r = Array.fill(batched)(1); batched = 0; r
              case _ => null
            }
          }
        case _ => null
      }
    }
  }

  /** Minimal dynamic-proxy JDBC stub: records (sql, lo, hi) per
    * executeUpdate, returns 1 affected row each.
    */
  private def stubConnection(record: (String, Long, Long) => Unit): java.sql.Connection = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    def proxy[T](cls: Class[T])(h: (Object, Method, Array[Object]) => Object): T =
      Proxy.newProxyInstance(cls.getClassLoader, Array(cls),
        new InvocationHandler {
          override def invoke(p: Object, m: Method, a: Array[Object]): Object = h(p, m, a)
        }).asInstanceOf[T]
    proxy(classOf[java.sql.Connection]) { (_, m, args) =>
      m.getName match {
        case "prepareStatement" =>
          val sql = args(0).asInstanceOf[String]
          var lo, hi = 0L
          proxy(classOf[java.sql.PreparedStatement]) { (_, pm, pa) =>
            pm.getName match {
              case "setLong" =>
                if (pa(0).asInstanceOf[Integer] == 1) lo = pa(1).asInstanceOf[java.lang.Long]
                else hi = pa(1).asInstanceOf[java.lang.Long]
                null
              case "executeUpdate" => record(sql, lo, hi); Integer.valueOf(1)
              case "close" => null
              case _ => null
            }
          }
        case "close" => null
        case _ => null
      }
    }
  }
}
