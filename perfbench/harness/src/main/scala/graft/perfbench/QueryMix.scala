package graft.perfbench

import graft.SparkEntry

import scala.collection.mutable

/** The `llm_corpus` workload: closed-loop passes over a fixed query list, one
  * client, the order of each pass shuffled by the seed. Each query's result
  * is materialised through [[Digest]] inside its timer and checked against
  * the pinned digest.
  */
object QueryMix {

  /** One query per LLM-pipeline module, with the module it exercises (see
    * workloads.json). Jobs of a query that no module launched itself, such
    * as the digest that materialises the result, count for that module.
    */
  val Home: Seq[(String, String)] = Seq(
    "q_dedup_minhash" -> "ext.Dedup",
    "q_similarity_ivf" -> "ext.Similarity",
    "q_bpe_merges_batch" -> "ext.Bpe",
    "q_text_tfidf" -> "ext.TextAnalysis",
    "q_curation_pipeline" -> "ext.Curation",
    "q_kcore" -> "ext.Graph",
    "q_stream_dedup" -> "streaming.Streaming",
    "q_multimodal_features" -> "ext.Multimodal")

  val Llm: Seq[String] = Home.map(_._1)

  final case class Pin(rows: Long, sum: String, schema: String)

  /** `pins.tsv`: name, rows, hash sum and schema, tab-separated. */
  def readPins(path: String): Map[String, Pin] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, sum, schema) = l.split("\t", 4)
      name -> Pin(rows.toLong, sum, schema)
    }.toMap
    finally src.close()
  }

  def writePins(path: String, pins: Map[String, Digest.D]): Unit = {
    val lines = "# query\trows\txxhash64 sum over all columns\tschema" +:
      pins.toSeq.sortBy(_._1).map { case (q, d) => s"$q\t${d.rows}\t${d.sum}\t${d.schema}" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** A result's problem, if any: it differs from its pin (when pins are
    * given) or from an earlier run of the same query in this process.
    */
  def check(pins: Map[String, Pin], seen: mutable.Map[String, Digest.D], q: String,
      d: Digest.D): Option[String] = {
    val pinned = pins.get(q) match {
      case Some(p) if p != Pin(d.rows, d.sum, d.schema) =>
        Some(s"$q: result $d differs from the pinned rows=${p.rows} sum=${p.sum} schema=${p.schema}")
      case None if pins.nonEmpty => Some(s"$q: no pinned digest")
      case _ => None
    }
    val repeat = seen.get(q).filter(_ != d).map(prev => s"$q: result $d differs from an earlier run's $prev")
    seen.getOrElseUpdate(q, d)
    pinned.orElse(repeat)
  }

  /** Runs the mix. With `pins` empty the digests are recorded instead of
    * checked (pinning mode), and must agree across every run of a query.
    * Returns the monotonic time at which set-up ended.
    */
  def run(ctx: Ctx, names: Seq[String], dataDir: String, pins: Map[String, Pin],
      seed: Long, seconds: Double, warmPasses: Int, minPasses: Int,
      traceMode: Boolean, cores: Int, seen: mutable.Map[String, Digest.D]): Long = {
    val fns = SparkEntry.queries
    def one(q: String, pass: Int, measured: Boolean, traced: Boolean): Unit = {
      ctx.attempted += 1
      try {
        val (d, op) = ctx.op("query", q, pass, measured, traced)(Digest.of(fns(q)(ctx.spark, dataDir)))
        if (traced) Layers.record(ctx, op, cores)
        check(pins, seen, q, d).foreach(ctx.fail)
      } catch {
        case scala.util.control.NonFatal(e) =>
          ctx.fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}")
      }
      ctx.release()
    }
    for (_ <- 0 until warmPasses) {
      names.foreach(q => one(q, -1, measured = false, traced = false))
      ctx.phase("warm pass")
    }
    val setupEnd = System.nanoTime()
    var pass = 0
    // a failing query adds no op, so failures end the run after minPasses
    while (pass < minPasses || (ctx.failed == 0 && ctx.ops.map(_.wallS).sum < seconds)) {
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(names)
      order.foreach(q => one(q, pass, measured = true, traced = traceMode && pass % 2 == 0))
      pass += 1
    }
    ctx.phase("measured passes")
    setupEnd
  }
}
