package graft

import org.apache.spark.sql.execution.ExplainMode

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
  *   Probe streams <sfDir> [q ...]
  *     Runs the named registered streaming queries (by default
  *     q_ohlc_stream, q_stream_join, q_stream_dedup, q_stream_sessions
  *     and q_stream_archive) once each and prints `SPROBE <q> wall=…
  *     batches=…`, then every micro-batch's durationMs split as `  SP …`
  *     (triggerExecution = whole batch; addBatch = plan+run the batch
  *     job; latestOffset/getBatch = source listing; walCommit/
  *     commitOffsets = checkpoint log), from the progress events the
  *     recorder collects. A query that throws prints `SPROBE-FAILURE`
  *     first and the probe goes on.
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
      streams(sfDir, if (names.nonEmpty) names else Seq("q_ohlc_stream",
        "q_stream_join", "q_stream_dedup", "q_stream_sessions", "q_stream_archive"))
    case "plans" :: names => plans(names)
    case "spill" :: rest => spill(rest.headOption.getOrElse("/root/testdata/sf0.01"))
    case _ => sys.error("usage: Probe jobs <sfDir> q_a,q_b | streams <sfDir> " +
      "[q ...] | plans [q ...] | spill [sfDir]")
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
    val queries = ToolCore.selectQueries(Some(names.mkString(",")))
    val spark = ToolCore.session()
    val rec = ToolCore.recorder(spark)
    queries.foreach { case (n, fn) =>
      val w = ToolCore.measure(spark, rec)(fn(spark, sfDir).count())
      w.rows.left.foreach(e =>
        println(s"SPROBE-FAILURE $n ${e.getClass.getName}: ${e.getMessage}"))
      println(f"SPROBE $n wall=${w.sec}%.2f s batches=${w.progress.length}")
      w.progress.foreach { p =>
        val d = p.durationMs
        def g(k: String): Long =
          if (d.containsKey(k)) d.get(k).longValue() else -1L
        println(s"  SP $n batch=${p.batchId} rows=${p.numInputRows} " +
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
