package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark harness entry point; `perfbench/run.py` builds and launches it.
  *
  *   --workload archive_cycles|llm_corpus  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --out FILE  [--data DIR --pins FILE]
  *   [--pin-out FILE]
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end ones untraced, per-layer ones traced) and
  * `detail` (sample counts, host facts).
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, if (trace) Some(new Tracer) else None)
    ctx.phase("session start")
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    val perLayer = mutable.LinkedHashMap.empty[String, Double]

    val setupEndNs = workload match {
      case "archive_cycles" =>
        val g = ArchiveCycles.Default
        val o = ArchiveCycles.run(ctx, seed, g, seconds, work, cores, trace)
        perLayer("archive.files") = o.archiveFiles
        perLayer("archive.bytes_per_row") =
          if (o.archivedRows > 0) o.archiveBytes.toDouble / o.archivedRows else 0.0
        detail("archived_rows") = o.archivedRows
        o.setupEndNs
      case "llm_corpus" =>
        val pinOut = a.get("pin-out")
        val pins = if (pinOut.isDefined) Map.empty[String, QueryMix.Pin]
          else QueryMix.readPins(a("pins"))
        val seen = mutable.LinkedHashMap.empty[String, Digest.D]
        val end = QueryMix.run(ctx, QueryMix.Llm, a("data"), pins, seed, seconds,
          // a traced run also needs an untraced pass to measure the overhead
          warmPasses = 2, minPasses = if (trace) 2 else 1, trace, cores, seen)
        pinOut.foreach(QueryMix.writePins(_, seen.toMap))
        end
      case other => sys.error(s"unknown workload $other")
    }
    // set-up runs from JVM start, so it covers session start as well
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
      (System.nanoTime() - setupEndNs) / 1e9
    spark.stop()

    val ops = ctx.ops.toSeq
    ops.foreach(o => System.err.println(f"[perfbench] ${o.kind} ${o.name} pass=${o.pass} ${o.wallS}%.3f s"))
    val metrics = mutable.ArrayBuffer.empty[Metric]
    if (ops.nonEmpty) {
      val walls = ops.map(_.wallS)
      detail("ops") = ops.size
      detail("passes") = ops.map(_.pass).distinct.size
      val byName = ops.groupBy(_.name).map { case (k, os) => k -> Stats.median(os.map(_.wallS)) }
      val passes = ops.groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
      if (!trace) {
        metrics += Metric("setup_s", setupS, "s")
        metrics += Metric("op_p50_s", Stats.median(walls), "s")
        metrics += Metric("op_geomean_s", Stats.geomean(byName.values.toSeq), "s")
        metrics += Metric("pass_s", Stats.median(passes), "s")
        metrics += Metric("rss_peak_mb", vmHwmMb(), "MB")
      } else {
        val traced = ops.filter(_.traced)
        def med(k: String) = Stats.median(traced.map(_.layer.getOrElse(k, 0.0)))
        (Layers.SparkKeys ++ Layers.ArchiveKeys).foreach(k => perLayer(k) = med(k))
        Layers.Modules.foreach { m =>
          Seq("jobs", "job_ms").foreach { s =>
            val k = s"$m.$s"
            perLayer(k) = Stats.median(traced.groupBy(_.pass).values
              .map(_.map(_.layer.getOrElse(k, 0.0)).sum).toSeq)
          }
        }
        QueryMix.Llm.foreach(q => perLayer(s"query.${q}_s") = byName.getOrElse(q, 0.0))
        perLayer("trace.overhead_frac") = overhead(ops)
        detail("traced_ops") = traced.size
        a.get("trace-out").foreach(ctx.tracer.get.dump(ops, _))
      }
    }
    if (trace) {
      perLayer("fail_ratio") = if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 1.0
      perLayer.getOrElseUpdate("archive.files", 0.0)
      perLayer.getOrElseUpdate("archive.bytes_per_row", 0.0)
      perLayer.foreach { case (k, v) => metrics += Metric(k, v, unitOf(k)) }
    }
    val correct = ctx.failed == 0 && ops.nonEmpty
    val out = new StringBuilder
    out ++= s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{"""
    out ++= metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    out ++= "},\"detail\":{"
    out ++= detail.map { case (k, v) =>
      val js = v match { case s: String => "\"" + s + "\""; case x => x.toString }
      s""""$k":$js"""
    }.mkString(",")
    out ++= "}}"
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), out.toString.getBytes("UTF-8"))
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  /** Traced against untraced ops of the same name: the geometric mean of
    * the ratio of their medians, minus one.
    */
  private def overhead(ops: Seq[Op]): Double = {
    val ratios = ops.groupBy(_.name).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.wallS)) / Stats.median(u.map(_.wallS)))
    }.toSeq
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1.0
  }

  def unitOf(k: String): String = k match {
    case _ if k.endsWith("_ms") || k == "verify.ms" => "ms"
    case _ if k.endsWith("_mb") => "MB"
    case _ if k.endsWith("_s") => "s"
    case _ if k.endsWith("bytes_written") || k.endsWith("bytes_per_row") => "B"
    case _ if k.endsWith("_frac") || k == "fail_ratio" => "fraction"
    case _ if k.endsWith("_per_archived") => "ratio"
    case _ => "count"
  }

  /** Peak resident set of this JVM, from /proc (Linux). */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
