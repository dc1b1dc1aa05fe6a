package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Per-query timer and per-job attribution probe: times the named
  * registered queries against a data dir under [[Bench]]'s conditions
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus), after a warm
  * pass of the same queries at the SAME dir — the steady-state warm-up
  * discipline [[Bench]] uses, so numbers here track the bench's. Each
  * instrumented run prints one summary line with its wall time and
  * job/stage/task totals (at the test scales most queries are
  * scheduling-bound, so these counts predict bench cost better than
  * local wall time does), then one line per Spark job with its
  * stage/task counts and submitting call site — the data for deciding
  * which eager actions (checkpoints, convergence counts, broadcast
  * builds) a loop actually pays for. A query that throws prints a
  * JOBPROBE-FAILURE line and the probe moves on to the next one.
  *
  * Usage: runMain graft.JobProbe <sfDir> q_a,q_b,...
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")} (see SparkEntry.queries)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = new AtomicLong(0); val tasks = new AtomicLong(0)
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (capture) {
          val cs = Option(j.properties.getProperty("callSite.short"))
            .getOrElse("")
          jobs.add(s"job=${j.jobId} stages=${j.stageInfos.size} " +
            s"tasks=${j.stageInfos.map(_.numTasks).sum} site=$cs"): Unit
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (capture) {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks): Unit
        }
    })
    // same boundary discipline as Bench (shared helper): warm-pass
    // (and prior probed queries') checkpoint blocks are released
    // synchronously OUTSIDE the timers, so async ContextCleaner work
    // never bills a measurement
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count(): Unit
      catch { case NonFatal(e) =>
        // loud: the instrumented pass below reports the same query
        System.err.println(s"[jobprobe] WARM-PASS FAILURE $n: ${e.getMessage}")
      }
      Bench.releaseCheckpoints(spark)
    }
    names.foreach { n =>
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 10000)
      jobs.clear(); stages.set(0); tasks.set(0)
      capture = true
      val t0 = System.nanoTime()
      val rows =
        try Right(SparkEntry.queries(n)(spark, sfDir).count())
        catch { case NonFatal(e) => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 10000)
      capture = false
      rows match {
        case Right(c) =>
          println(f"JOBPROBE $n $sec%.2f s rows=$c jobs=${jobs.size} " +
            f"stages=${stages.get()} tasks=${tasks.get()}")
          jobs.forEach(s => println(s"  JP $n $s"))
        case Left(e) =>
          println(s"JOBPROBE-FAILURE $n ${e.getClass.getName}: ${e.getMessage}")
      }
      Bench.releaseCheckpoints(spark)
    }
    spark.stop()
  }
}
