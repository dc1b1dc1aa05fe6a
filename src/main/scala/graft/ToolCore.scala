package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The measurement core shared by the tool mains ([[Bench]], [[Verify]],
  * [[Probe]]): one session builder, one recorder listener, one warm pass
  * and one measured window, so the tools cannot drift apart in how they
  * configure Spark or count what a query cost.
  */
private[graft] object ToolCore {

  type Query = (SparkSession, String) => DataFrame

  /** `local[cpus]` with `shuffle.partitions = cpus` (`SPARK_GRAFT_CPUS`,
    * default 4), UTC, AQE on and the UI off; `extra` confs are applied
    * last, so they override these and reach the SparkConf the context is
    * created with.
    */
  def session(extra: (String, String)*): SparkSession = {
    val c = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The registered queries a tool runs: all of them, or the
    * comma-separated `list` (`SPARK_GRAFT_ONLY` or a probe argument) in
    * its order. Every listed name must be registered, so a typo fails
    * loudly instead of selecting nothing.
    */
  def selectQueries(list: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    list match {
      case None => all.toSeq
      case Some(l) =>
        val names = l.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
        require(names.nonEmpty, s"query list names no query: '$l'")
        val unknown = names.filterNot(all.contains)
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.mkString(",")} (see SparkEntry.queries)")
        names.map(n => n -> all(n))
    }
  }

  /** JSON string literal: quote, backslash and every control character
    * escaped, so any query name, SQL text or error message parses.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Running totals of one session's task, stage and job events. */
  final case class Counters(shuffleBytes: Long, memSpill: Long,
      diskSpill: Long, gcMs: Long, execMs: Long, schedDelayMs: Long,
      jobs: Long, stages: Long, tasks: Long) {
    def -(o: Counters): Counters = Counters(shuffleBytes - o.shuffleBytes,
      memSpill - o.memSpill, diskSpill - o.diskSpill, gcMs - o.gcMs,
      execMs - o.execMs, schedDelayMs - o.schedDelayMs, jobs - o.jobs,
      stages - o.stages, tasks - o.tasks)
  }

  /** The one recorder listener. Per task end: shuffle-write bytes,
    * memory and disk spill, task-observed GC time, executor run time and
    * scheduler delay (the UI's AppStatusUtils formula: a task that sat
    * unlaunched or undelivered). Per job start: a job count and one
    * `job=… stages=… tasks=… site=…` line, the site being the job's
    * `callSite.short` or else its final stage's name. Per completed
    * stage: stage and task counts. Per streaming micro-batch: its
    * progress report, which Spark posts to the context's listener bus
    * for queries of every session, `newSession()`s included. Wall far
    * above exec time with low scheduler delay is a driver or machine
    * stall between jobs; high scheduler delay is executor-side
    * contention.
    */
  final class Recorder extends SparkListener {
    private val shuffleBytes, memSpill, diskSpill, gcMs, execMs,
      schedDelayMs, jobs, stages, tasks = new AtomicLong(0L)
    private val jobLines =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    private val progress = java.util.Collections.synchronizedList(
      new java.util.ArrayList[StreamingQueryProgress]())

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        memSpill.addAndGet(m.memoryBytesSpilled): Unit
        diskSpill.addAndGet(m.diskBytesSpilled): Unit
        gcMs.addAndGet(m.jvmGCTime): Unit
        execMs.addAndGet(m.executorRunTime): Unit
        val info = t.taskInfo
        if (info != null) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
            else 0L
          schedDelayMs.addAndGet(math.max(0L,
            info.duration - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - gettingResult)): Unit
        }
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(): Unit
      // Spark SQL actions leave callSite.short empty; their final
      // stage's name (`collect at ArchiverMain.scala:…`) names the site
      val site = Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .filter(_.nonEmpty)
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
      jobLines.add(s"job=${j.jobId} stages=${j.stageInfos.size} " +
        s"tasks=${j.stageInfos.map(_.numTasks).sum} site=$site"): Unit
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(): Unit
      tasks.addAndGet(s.stageInfo.numTasks): Unit
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress): Unit
      case _ => ()
    }

    def counters: Counters = Counters(shuffleBytes.get(), memSpill.get(),
      diskSpill.get(), gcMs.get(), execMs.get(), schedDelayMs.get(),
      jobs.get(), stages.get(), tasks.get())

    /** The job lines recorded after the first `from` jobs. */
    def jobLinesFrom(from: Long): Seq[String] = jobLines.synchronized {
      (from.toInt until jobLines.size).map(jobLines.get)
    }

    def progressCount: Int = progress.size

    /** The micro-batch progress reports recorded after the first `from`. */
    def progressFrom(from: Int): Seq[StreamingQueryProgress] = progress.synchronized {
      (from until progress.size).map(progress.get)
    }
  }

  def recorder(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** Listener events arrive asynchronously: draining the bus makes every
    * event of the actions run so far visible to the recorder.
    */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext, 10000)

  /** Warms the session so measured numbers reflect plans, not first-hit
    * JIT and codegen: a trivial job, then every query once at the
    * MEASURED data dir (second-tier C2 compilation only triggers at real
    * data volume, and a smaller scale can pick different join
    * strategies). A query that fails here prints a loud `WARM-PASS
    * FAILURE` line and the pass goes on. Checkpoint blocks are released
    * after each query, so the pass does not pile up block-manager
    * pressure the measured windows never see.
    */
  def warmPass(spark: SparkSession, tag: String, sfDir: String,
      queries: Seq[(String, Query)]): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count(): Unit
      catch { case NonFatal(e) =>
        System.err.println(s"[$tag] WARM-PASS FAILURE $name: " +
          s"${e.getClass.getName}: ${e.getMessage}")
      }
      Bench.releaseCheckpoints(spark)
    }
  }

  /** One measured action: its wall seconds, its row count or the error
    * it threw, and what the recorder saw while it ran.
    */
  final case class Window(sec: Double, rows: Either[Throwable, Long],
      delta: Counters, jobLines: Seq[String], progress: Seq[StreamingQueryProgress])

  /** Drains the bus, times `body` alone (a `NonFatal` throw is the
    * window's result, not an escape), drains again and takes the
    * recorder delta, so every event lands on the action that caused it.
    */
  def measure(spark: SparkSession, rec: Recorder)(body: => Long): Window = {
    drain(spark)
    val before = rec.counters
    val batches = rec.progressCount
    val t0 = System.nanoTime()
    val rows = try Right(body) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    drain(spark)
    Window(sec, rows, rec.counters - before, rec.jobLinesFrom(before.jobs),
      rec.progressFrom(batches))
  }
}
