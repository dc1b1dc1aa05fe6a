package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spans recorded from outside the program for the traced run.
  *
  * Hierarchy: op (one archiver cycle or one query, opened by the harness)
  * → SQL execution → Spark job, plus the JDBC statements the archiver issues
  * through the wrapped connection factory. A job belongs to the op whose id
  * rode its local properties, or, for jobs launched on other threads, to
  * the op of its SQL execution. A job's layer is the innermost graft
  * module on the call site of its SQL execution (or of its own stages when
  * it has none), so `count at ArchiverMain.scala:…` is the archiver and an
  * action inside `Dedup` is `ext.Dedup`.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecSpan]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jdbc = mutable.ArrayBuffer.empty[JdbcSpan]
  @volatile private var op: Int = -1

  /** The harness thread opens and closes ops; JDBC spans take the open one. */
  def setOp(id: Int): Unit = op = id

  def recordJdbc(sql: String, startMs: Long, endMs: Long, rows: Long): Unit =
    synchronized { jdbc += JdbcSpan(op, sql, startMs, endMs, rows) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecSpan(s.executionId, s.description, s.details, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    jobs(j.jobId) = JobSpan(j.jobId,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop(OpProperty).map(_.toInt).getOrElse(-1), j.time, site)
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.endMs = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(s.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    for (id <- stageJob.get(t.stageId); j <- jobs.get(id) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled
      val info = t.taskInfo
      if (info != null) {
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Jobs of one op, in submission order. */
  def jobsOf(opId: Int): Seq[JobSpan] = synchronized {
    val execOp = jobs.values.filter(_.op >= 0).map(j => j.exec -> j.op).toMap
    jobs.values.filter { j =>
      j.op == opId || (j.op < 0 && j.exec >= 0 && execOp.get(j.exec).contains(opId))
    }.toSeq
  }

  def jdbcOf(opId: Int): Seq[JdbcSpan] = synchronized(jdbc.filter(_.op == opId).toSeq)

  /** The graft layer that launched a job. */
  def layerOf(j: JobSpan): String = synchronized {
    val site = execs.get(j.exec).map(_.details).filter(_.nonEmpty).getOrElse(j.site)
    Tracer.layerOf(site)
  }

  /** Writes the spans of `ops` as JSON: op → SQL execution → job, plus
    * the op's JDBC statements, with each op's per-layer numbers.
    */
  def dump(ops: Seq[Op], path: String): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = ops.filter(_.traced).map { o =>
      val js = jobsOf(o.id)
      val byExec = js.groupBy(_.exec).toSeq.sortBy(_._2.head.id).map { case (e, ejs) =>
        val ex = synchronized(execs.get(e))
        val jobsJson = ejs.map(j => s"""{"job":${j.id},"layer":${q(layerOf(j))},""" +
          s""""start_ms":${j.submitMs},"end_ms":${j.endMs},"stages":${j.stages},""" +
          s""""tasks":${j.tasks},"task_run_ms":${j.runMs}}""").mkString(",")
        s"""{"execution":$e,"desc":${q(ex.map(_.desc).getOrElse(""))},""" +
          s""""start_ms":${ex.map(_.startMs).getOrElse(-1L)},"end_ms":${ex.map(_.endMs).getOrElse(-1L)},""" +
          s""""jobs":[$jobsJson]}"""
      }.mkString(",")
      val jdbcJson = jdbcOf(o.id).map(s => s"""{"sql":${q(s.sql)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"rows":${s.rows}}""").mkString(",")
      val layer = o.layer.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
      s"""{"op":${o.id},"kind":${q(o.kind)},"name":${q(o.name)},"pass":${o.pass},""" +
        s""""start_ms":${o.startMs},"end_ms":${o.endMs},"wall_s":${o.wallS},""" +
        s""""layer":{$layer},"executions":[$byExec],"jdbc":[$jdbcJson]}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Local property carrying the harness's op id onto every job it submits. */
  val OpProperty = "perfbench.op"

  final case class ExecSpan(id: Long, desc: String, details: String, startMs: Long) {
    var endMs: Long = -1L
  }
  final case class JobSpan(id: Int, exec: Long, op: Int, submitMs: Long, site: String) {
    var endMs: Long = -1L
    var stages, tasks = 0
    var runMs, gcMs, schedDelayMs, shuffleWriteBytes, spillBytes = 0L
  }
  final case class JdbcSpan(op: Int, sql: String, startMs: Long, endMs: Long, rows: Long)

  /** Innermost graft module named by a call site's stack frames. Frames of
    * helpers that are not layers of their own (`graft.ops.Scalar`,
    * `graft.functions.*`, …) are skipped so the caller's layer is found.
    */
  def layerOf(site: String): String = site.split("\n").iterator.flatMap { line =>
    val frame = line.trim.stripPrefix("at ").takeWhile(_ != '(')
    val cls = frame.substring(0, math.max(0, frame.lastIndexOf('.'))).takeWhile(_ != '$')
    cls match {
      case "graft.ArchiverMain" => Some("ArchiverMain")
      case "graft.ops.Archive" => Some("ops.Archive")
      case c if c.startsWith("graft.io.") || c.startsWith("graft.ext.") ||
          c.startsWith("graft.streaming.") => Some(c.stripPrefix("graft."))
      case c if c.startsWith("graft.queries.") => Some("queries")
      case c if c.startsWith("graft.perfbench.") => Some("harness")
      case _ => None
    }
  }.nextOption().getOrElse("other")

  /** Length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Rows out of every scan node whose name starts with `prefix`, summed over
    * the plans of the given SQL executions (read from Spark's SQL status
    * store, the same numbers the SQL tab shows).
    */
  def scanRows(spark: SparkSession, execIds: Iterable[Long], prefix: String): Long = {
    val store = spark.sharedState.statusStore
    execIds.iterator.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.filter(_.name.startsWith(prefix)).flatMap { n =>
        n.metrics.find(_.name == "number of output rows")
          .flatMap(m => values.get(m.accumulatorId))
          .map(_.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong)
      }.sum
    }.sum
  }
}

/** Times every statement executed over connections from `connect`. */
object JdbcTrace {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  import java.sql.{Connection, PreparedStatement}

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    cls.cast(Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h))

  def wrap(connect: () => Connection, tracer: Tracer): () => Connection = () => {
    val conn = connect()
    proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      call(conn, m, args) match {
        case ps: PreparedStatement if m.getName == "prepareStatement" =>
          val sql = String.valueOf(args(0))
          proxy(classOf[PreparedStatement], (_: AnyRef, sm: Method, sargs: Array[AnyRef]) =>
            if (!sm.getName.startsWith("execute")) call(ps, sm, sargs)
            else {
              val t0 = System.currentTimeMillis()
              val r = call(ps, sm, sargs)
              val rows = r match {
                case n: java.lang.Integer => n.longValue
                case n: java.lang.Long => n.longValue
                case ns: Array[Int] => ns.map(_.toLong).sum
                case _ => 0L
              }
              tracer.recordJdbc(sql, t0, System.currentTimeMillis(), rows)
              r
            })
        case other => other
      })
  }
}
