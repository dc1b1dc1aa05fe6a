package graft.perfbench

/** Per-layer numbers of one traced op, computed from its spans. */
object Layers {

  /** Modules whose jobs are counted on the LLM-corpus mix. */
  val Modules: Seq[String] = Seq("ext.Similarity", "ext.Clustering", "ext.Dedup", "ext.Bpe",
    "ext.TextAnalysis", "ext.Curation", "ext.Graph", "ext.Multimodal", "streaming.Streaming")

  /** Archiver-cycle layer metrics, zero on the query mixes. */
  val ArchiveKeys: Seq[String] = Seq("io.JdbcSource.rows_read",
    "io.JdbcSource.rows_read_per_archived", "archive.extract_ms",
    "ops.Archive.append_ms", "ops.Archive.archive_rows_scanned",
    "ops.Archive.files_written", "ops.Archive.bytes_written", "verify.ms",
    "verify.jobs", "verify.rows_scanned", "io.JdbcRetention.delete_ms",
    "io.JdbcRetention.delete_statements", "io.JdbcRetention.delete_rows")

  val SparkKeys: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_ms", "spark.sched_delay_ms", "spark.gc_ms",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.busy_frac", "driver.self_ms")

  private def span(js: Seq[Tracer.JobSpan]): Double =
    if (js.isEmpty) 0.0 else (js.map(_.endMs).max - js.map(_.submitMs).min).toDouble

  /** Fills `op.layer` from the tracer's spans of that op. */
  def record(ctx: Ctx, op: Op, cores: Int): Unit = ctx.tracer.foreach { tr =>
    val jobs = tr.jobsOf(op.id)
    val jdbc = tr.jdbcOf(op.id)
    val wallMs = op.wallS * 1000
    val runMs = jobs.map(_.runMs).sum.toDouble
    val busy = (jobs.map(j => (j.submitMs, j.endMs)) ++ jdbc.map(s => (s.startMs, s.endMs)))
    val m = op.layer
    m("spark.jobs") = jobs.size
    m("spark.stages") = jobs.map(_.stages).sum
    m("spark.tasks") = jobs.map(_.tasks).sum
    m("spark.task_run_ms") = runMs
    m("spark.sched_delay_ms") = jobs.map(_.schedDelayMs).sum
    m("spark.gc_ms") = jobs.map(_.gcMs).sum
    m("spark.shuffle_write_mb") = jobs.map(_.shuffleWriteBytes).sum / 1e6
    m("spark.spill_mb") = jobs.map(_.spillBytes).sum / 1e6
    m("spark.busy_frac") = if (wallMs > 0) runMs / (wallMs * cores) else 0.0
    m("driver.self_ms") = math.max(0.0,
      wallMs - Tracer.unionMs(busy, op.startMs, op.endMs))
    // a job launched inside a module is that module's; the rest of a
    // query's jobs belong to the module the query exercises
    val home = QueryMix.Home.toMap.get(op.name).filter(_ => op.kind == "query")
    val byLayer = jobs.groupBy { j =>
      val l = tr.layerOf(j)
      if (Modules.contains(l)) l else home.getOrElse(l)
    }
    Modules.foreach { mod =>
      val js = byLayer.getOrElse(mod, Nil)
      m(s"$mod.jobs") = js.size
      m(s"$mod.job_ms") = js.map(j => (j.endMs - j.submitMs).toDouble).sum
    }
    if (op.kind == "cycle") archivePhases(ctx, tr, jobs, jdbc, m)
  }

  /** Splits a cycle's jobs into its phases. `ArchiverMain.run` itself
    * launches the extract count and, after the append, the verify digests;
    * the append runs inside `ops.Archive` and the delete-range jobs inside
    * `io.JdbcRetention`.
    */
  private def archivePhases(ctx: Ctx, tr: Tracer, jobs: Seq[Tracer.JobSpan],
      jdbc: Seq[Tracer.JdbcSpan], m: collection.mutable.Map[String, Double]): Unit = {
    val layers = jobs.map(tr.layerOf)
    val firstAppend = layers.indexOf("ops.Archive")
    val phase = jobs.zip(layers).zipWithIndex.map { case ((j, l), i) =>
      j -> (l match {
        case "ArchiverMain" if firstAppend < 0 || i < firstAppend => "extract"
        case "ArchiverMain" => "verify"
        case "ops.Archive" => "append"
        case "io.JdbcRetention" => "delete"
        case _ => "other"
      })
    }.groupMap(_._2)(_._1)
    def execs(p: String) = phase.getOrElse(p, Nil).map(_.exec).filter(_ >= 0).distinct
    def rows(p: String, prefix: String) = Tracer.scanRows(ctx.spark, execs(p), prefix).toDouble
    val extracted = m.getOrElse("archive.extracted", 0.0)
    val read = rows("extract", "Scan JDBCRelation")
    m("io.JdbcSource.rows_read") = read
    m("io.JdbcSource.rows_read_per_archived") = if (extracted > 0) read / extracted else 0.0
    m("archive.extract_ms") = span(phase.getOrElse("extract", Nil))
    m("ops.Archive.append_ms") = span(phase.getOrElse("append", Nil))
    m("ops.Archive.archive_rows_scanned") = rows("append", "Scan parquet")
    m("verify.ms") = span(phase.getOrElse("verify", Nil))
    m("verify.jobs") = phase.getOrElse("verify", Nil).size
    m("verify.rows_scanned") = rows("verify", "Scan parquet")
    val del = phase.getOrElse("delete", Nil)
    val delIntervals = del.map(j => (j.submitMs, j.endMs)) ++ jdbc.map(s => (s.startMs, s.endMs))
    m("io.JdbcRetention.delete_ms") =
      if (delIntervals.isEmpty) 0.0
      else (delIntervals.map(_._2).max - delIntervals.map(_._1).min).toDouble
    m("io.JdbcRetention.delete_statements") = jdbc.size
    m("io.JdbcRetention.delete_rows") = jdbc.map(_.rows).sum
  }
}
