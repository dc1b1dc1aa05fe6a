package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Micro-batch cost attribution for four registered streams
  * (builder tool, r16 — VERDICT r15 item 4): reruns each stream's
  * registered shape against the SHARED staged trees and prints every
  * batch's durationMs breakdown from the streaming progress events
  * (triggerExecution = whole batch; addBatch = plan+run the batch job;
  * latestOffset/getBatch = source listing; walCommit/commitOffsets =
  * checkpoint log; stateUpdate rides inside addBatch). This is the
  * "profile trigger planning vs state-store commit vs source listing"
  * split the per-batch floor discussion needs — measurement only, the
  * registered queries are untouched. The probe session keeps every
  * batch's progress (`numRecentProgressUpdates` raised from its default
  * of 100), so a long stream prints all of its batches.
  *
  * Usage: runMain graft.StreamProbe <sfDir> [streamName ...]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("ohlc", "join", "dedup", "sessions")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.PipelineQueries.{stagedEvents3, stagedRangeSlices}
    names.foreach { name =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2.conf.set("spark.sql.session.timeZone", "UTC")
      s2.conf.set("spark.sql.streaming.numRecentProgressUpdates",
        Int.MaxValue.toString)
      val t0 = System.nanoTime()
      val q = name match {
        case "ohlc" =>
          graft.streaming.Streaming.ohlcBars(
              graft.streaming.Streaming.readEventsStream(s2,
                stagedEvents3(spark, sfDir), maxFilesPerTrigger = 1))
            .writeStream.format("memory").queryName(s"probe_$name")
            .outputMode("complete").start()
        case "sessions" =>
          graft.streaming.Streaming.sessionCounts(
              graft.streaming.Streaming.readEventsStream(s2,
                stagedEvents3(spark, sfDir), maxFilesPerTrigger = 1),
              watermark = "3650 days")
            .writeStream.format("memory").queryName(s"probe_$name")
            .outputMode("complete").start()
        case "join" =>
          graft.streaming.Streaming.purchaseSignupJoin(
              graft.streaming.Streaming.readEventsStream(s2,
                stagedRangeSlices(spark, sfDir, slices = 3,
                  dupEachFile = false), maxFilesPerTrigger = 1))
            .select(col("p_id"), col("s_id"))
            .writeStream.format("memory").queryName(s"probe_$name")
            .outputMode("append").start()
        case "dedup" =>
          graft.streaming.Streaming.dedupedStream(
              graft.streaming.Streaming.readEventsStream(s2,
                stagedRangeSlices(spark, sfDir, slices = 2,
                  dupEachFile = true), maxFilesPerTrigger = 1))
            .writeStream.format("memory").queryName(s"probe_$name")
            .outputMode("append").start()
        case other => sys.error(s"unknown stream: $other")
      }
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"SPROBE $name wall=$wall%.2f s batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def g(k: String): Long =
          if (d.containsKey(k)) d.get(k).longValue() else -1L
        println(s"  SP $name batch=${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${g("triggerExecution")} addBatch=${g("addBatch")} " +
          s"latestOffset=${g("latestOffset")} getBatch=${g("getBatch")} " +
          s"queryPlanning=${g("queryPlanning")} " +
          s"walCommit=${g("walCommit")} " +
          s"commitOffsets=${g("commitOffsets")}")
      }
      Bench.releaseCheckpoints(spark)
    }
    spark.stop()
  }
}
