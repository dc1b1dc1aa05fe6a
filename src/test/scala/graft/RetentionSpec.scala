package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.JdbcRetention
import graft.ops.KeyRanges

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

  /** The delete plan for `archived` from its gathered key ranges. */
  private def plan(archived: DataFrame, allowed: Set[String],
      cap: Int = KeyRanges.MaxRanges): JdbcRetention.DeletePlan =
    JdbcRetention.planDelete(archived, allowed, KeyRanges.gather(archived, cap))

  test("archivedKeyRanges collapses contiguous ids into ranges per table") {
    val archived = Seq(
      ("t1", 1L), ("t1", 2L), ("t1", 3L), ("t1", 7L), ("t1", 8L),
      ("t2", 10L)).toDF("table_name", "id")
    val executed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val conn = stubConnection((sql, lo, hi) => executed += ((sql, lo, hi)))
    JdbcRetention.executeDelete(
      plan(archived, Set("t1", "t2")), () => conn): Unit
    // the bound (lo, hi) parameters of the range DELETEs are the ranges
    def sql(t: String) = s"""DELETE FROM "$t" WHERE "id" BETWEEN ? AND ?"""
    assert(executed.toSet ==
      Set((sql("t1"), 1L, 3L), (sql("t1"), 7L, 8L), (sql("t2"), 10L, 10L)))
  }

  test("deleteArchived issues one bounded DELETE per range with bind params " +
      "and rejects non-allowlisted tables") {
    val archived = Seq(("iot_data", 1L), ("iot_data", 2L), ("iot_data", 9L))
      .toDF("table_name", "id")

    val executed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val conn = stubConnection((sql, lo, hi) => executed += ((sql, lo, hi)))

    val counts = JdbcRetention.executeDelete(
      plan(archived, Set("iot_data")), () => conn)
    assert(counts == Map("iot_data" -> 2L)) // stub reports 1 row per executeUpdate
    assert(executed.toSet ==
      Set(("""DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""", 1L, 2L),
        ("""DELETE FROM "iot_data" WHERE "id" BETWEEN ? AND ?""", 9L, 9L)))

    val bad = intercept[IllegalArgumentException] {
      JdbcRetention.executeDelete(
        plan(archived, Set("other")), () => conn)
    }
    assert(bad.getMessage.contains("iot_data"))

    // embedded quotes can never terminate the identifier (defense in
    // depth behind the allowlist)
    executed.clear()
    val weird = Seq(("""we"ird""", 5L)).toDF("table_name", "id")
    JdbcRetention.executeDelete(
      plan(weird, Set("""we"ird""")), () => conn): Unit
    assert(executed.toSeq ==
      Seq(("""DELETE FROM "we""ird" WHERE "id" BETWEEN ? AND ?""", 5L, 5L)))
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
    val counts = JdbcRetention.executeDelete(
      plan(archived, Set("iot_data"), cap = 2), () => conn)
    assert(counts == Map("iot_data" -> ids.size.toLong))
    assert(deleted.toSet == ids.toSet) // exactly the archived ids, no widening
    // allowlist still enforced on the fallback path
    val bad = intercept[IllegalArgumentException] {
      JdbcRetention.executeDelete(
        plan(archived, Set("other"), cap = 2), () => conn)
    }
    assert(bad.getMessage.contains("iot_data"))
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
