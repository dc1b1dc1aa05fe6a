package graft.perfbench

import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed operation: an archiver cycle or a query. `layer` holds the
  * per-layer numbers of a traced op.
  */
final case class Op(id: Int, kind: String, name: String, pass: Int,
    startMs: Long, endMs: Long, wallS: Double, traced: Boolean) {
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** State shared by a run: the session, the optional tracer, the measured
  * ops and the failure count.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  private var nextId = 0

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Runs `body` as one op. Only the body is timed; attaching the tracer,
    * draining the listener bus and detaching it again happen outside the
    * timer. Measured ops are kept for the metrics; warm-up ops are not.
    */
  def op[A](kind: String, name: String, pass: Int, measured: Boolean,
      traced: Boolean)(body: => A): (A, Op) = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val t = tracer.filter(_ => traced)
    t.foreach { tr =>
      sc.addSparkListener(tr)
      tr.setOp(id)
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
    }
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = body
      val wall = (System.nanoTime() - t0) / 1e9
      val o = Op(id, kind, name, pass, s0, System.currentTimeMillis(), wall, t.isDefined)
      if (measured) ops += o
      (a, o)
    } finally t.foreach { tr =>
      GraftListenerBridge.drainListenerBus(sc, 30000)
      sc.removeSparkListener(tr)
      tr.setOp(-1)
      sc.setLocalProperty(Tracer.OpProperty, null)
    }
  }

  /** Logs to stderr how far into the run, from JVM start, a phase ended. */
  def phase(name: String): Unit = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] phase $name done at ${(System.currentTimeMillis() - t0) / 1e3}%.1f s")
  }

  /** Frees cached blocks between ops, outside every timer. */
  def release(): Unit = graft.Bench.releaseCheckpoints(spark)
}
