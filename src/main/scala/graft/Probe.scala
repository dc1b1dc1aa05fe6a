package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** Measurement probes over the registered queries, all on the
  * [[ToolCore]] session (`local[$SPARK_GRAFT_CPUS]`, default 4, with
  * `shuffle.partitions` = cpus — [[Bench]]'s conditions):
  *
  *   Probe jobs <sfDir> q_a,q_b,...
  *     Warms the named queries at the SAME dir (Bench's steady-state
  *     discipline), then runs each once and prints
  *     `JOBPROBE <q> <sec> s rows=… jobs=… stages=… tasks=…` and one
  *     `  JP <q> job=… stages=… tasks=… site=…` line per Spark job — the
  *     data for deciding which eager actions (checkpoints, convergence
  *     counts, broadcast builds) a loop pays for. A query that throws
  *     prints `JOBPROBE-FAILURE <q> <exception>` and the probe goes on.
  *
  *   Probe streams <sfDir> [ohlc|join|dedup|sessions ...]
  *     Reruns each stream's registered shape against the shared staged
  *     trees and prints `SPROBE <name> wall=… batches=…`, then every
  *     batch's durationMs split as `  SP …` (triggerExecution = whole
  *     batch; addBatch = plan+run the batch job; latestOffset/getBatch =
  *     source listing; walCommit/commitOffsets = checkpoint log). Every
  *     batch's progress is kept, however long the stream.
  *
  *   Probe plans [q ...]
  *     Prints the formatted physical plan of the named queries (all of
  *     them with none) as `## <q>` blocks over `SPARK_GRAFT_SF_DIR`
  *     (default sf0.001). `SPARK_GRAFT_NO_AUTO_BROADCAST=1` plans with
  *     size-based broadcast off, so a diff against the default run shows
  *     which joins rely on auto-broadcast rather than an explicit hint.
  *
  *   Probe spill [sfDir]
  *     Needs its OWN JVM (ScaleSpec launches it): the force-spill
  *     threshold is a SparkConf the shuffle sorter reads at context
  *     creation. With it at 1000 records and 2 shuffle partitions, every
  *     exchange of the sign-LSH near-dup join spills repeatedly; the
  *     probe prints one `{"spill_bytes":…}` JSON line with the spill
  *     totals and whether the LSH pair set equals the exact-cosine one.
  */
object Probe {
  def main(args: Array[String]): Unit = args.toList match {
    case "jobs" :: sfDir :: names :: Nil => jobs(sfDir, names)
    case "streams" :: sfDir :: names =>
      streams(sfDir, if (names.nonEmpty) names else Seq("ohlc", "join", "dedup", "sessions"))
    case "plans" :: names => plans(names)
    case "spill" :: rest => spill(rest.headOption.getOrElse("/root/testdata/sf0.01"))
    case _ => sys.error("usage: Probe jobs <sfDir> q_a,q_b | streams <sfDir> " +
      "[stream ...] | plans [q ...] | spill [sfDir]")
  }

  private def jobs(sfDir: String, names: String): Unit = {
    val queries = ToolCore.selectQueries(Some(names))
    val spark = ToolCore.session()
    val rec = ToolCore.recorder(spark)
    ToolCore.warmPass(spark, "jobprobe", sfDir, queries)
    queries.foreach { case (n, fn) =>
      val w = ToolCore.measure(spark, rec)(fn(spark, sfDir).count())
      w.rows match {
        case Right(c) =>
          println(f"JOBPROBE $n ${w.sec}%.2f s rows=$c jobs=${w.delta.jobs} " +
            f"stages=${w.delta.stages} tasks=${w.delta.tasks}")
          w.jobLines.foreach(s => println(s"  JP $n $s"))
        case Left(e) =>
          println(s"JOBPROBE-FAILURE $n ${e.getClass.getName}: ${e.getMessage}")
      }
      Bench.releaseCheckpoints(spark)
    }
    spark.stop()
  }

  private def streams(sfDir: String, names: Seq[String]): Unit = {
    import graft.queries.PipelineQueries.{stagedEvents3, stagedRangeSlices}
    import graft.streaming.Streaming._
    val spark = ToolCore.session()
    names.foreach { name =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2.conf.set("spark.sql.session.timeZone", "UTC")
      s2.conf.set("spark.sql.streaming.numRecentProgressUpdates",
        Int.MaxValue.toString)
      def events = readEventsStream(s2, stagedEvents3(spark, sfDir),
        maxFilesPerTrigger = 1)
      def slices(n: Int, dup: Boolean) = readEventsStream(s2,
        stagedRangeSlices(spark, sfDir, slices = n, dupEachFile = dup),
        maxFilesPerTrigger = 1)
      val t0 = System.nanoTime()
      val (out, mode) = name match {
        case "ohlc" => (ohlcBars(events), "complete")
        case "sessions" => (sessionCounts(events, watermark = "3650 days"), "complete")
        case "join" =>
          (purchaseSignupJoin(slices(3, dup = false)).select(col("p_id"), col("s_id")),
            "append")
        case "dedup" => (dedupedStream(slices(2, dup = true)), "append")
        case other => sys.error(s"unknown stream: $other")
      }
      val q = out.writeStream.format("memory").queryName(s"probe_$name")
        .outputMode(mode).start()
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

  private def plans(names: Seq[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val queries =
      if (names.nonEmpty) ToolCore.selectQueries(Some(names.mkString(",")))
      else ToolCore.selectQueries(None).sortBy(_._1)
    val spark =
      if (sys.env.get("SPARK_GRAFT_NO_AUTO_BROADCAST").contains("1"))
        ToolCore.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      else ToolCore.session()
    val mode = ExplainMode.fromString("formatted")
    queries.foreach { case (n, fn) =>
      println(s"\n## $n\n")
      println("```")
      println(fn(spark, dir).queryExecution.explainString(mode).trim)
      println("```")
    }
    spark.stop()
  }

  private def spill(sfDir: String): Unit = {
    import graft.ext.Similarity
    val spark = ToolCore.session(
      "spark.sql.shuffle.partitions" -> "2",
      // ≤ bypassMergeThreshold reduce partitions would pick the bypass
      // writer, which streams straight to per-partition files and never
      // spills; threshold 0 keeps the sort-based writer in play so the
      // force-spill threshold actually bites
      "spark.shuffle.sort.bypassMergeThreshold" -> "0",
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "1000")
    val rec = ToolCore.recorder(spark)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    val lsh = pairs(Similarity.cosineNearDupPairsLsh(emb,
      threshold = 0.4, numTables = 24, planesPerTable = 3))
    val exact = pairs(Similarity.cosineNearDupPairs(emb, 0.4))
    ToolCore.drain(spark)
    val c = rec.counters
    val line =
      s"""{"spill_bytes":${c.memSpill},""" +
      s""""disk_spill_bytes":${c.diskSpill},""" +
      s""""lsh_pairs":${lsh.size},"exact_pairs":${exact.size},""" +
      s""""equal":${lsh == exact}}"""
    spark.stop()
    println(line)
  }
}
