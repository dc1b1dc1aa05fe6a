package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line of per-query seconds over
  * SparkEntry.queries at SPARK_GRAFT_SF_DIR (default sf0.1), plus
  * per-query shuffle-write and spill totals (the [[ToolCore]] recorder) —
  * the two numbers that predict how a plan behaves at 100 TB better
  * than local wall time does.
  */
object Bench {

  /** The 60 queries of the round-1 bench (BENCH_r01), ALL of which
    * survive in today's registry — so `baseline_subset_s` compares the
    * EXACT query set of the 59.58 s baseline, like for like. This is
    * the window-proof denominator (VERDICT r12 #4): the driver's 2×
    * bound compares this suite's ever-growing total against the
    * round-1 record measured in a DIFFERENT host window, on a machine
    * with documented 1.5–4× same-code swings; summing this fixed
    * subset INSIDE the same JVM session as the full run gives a
    * same-window number directly comparable to the baseline (r12:
    * subset 29.7 s vs 59.6 s baseline = 0.50× while the naive total
    * read 2.44×). Integrity: only err-free queries contribute to the
    * sum, and `baseline_subset_n` rides BOTH output channels — n < 60
    * means the subset was partial (failures or SPARK_GRAFT_ONLY)
    * and the seconds must not be read against the baseline.
    * Registry-drift guard: QueriesSpec is the SOLE guard (it pins
    * BaselineSubset ⊆ registry AND size == 60, so retiring a subset
    * member is a hard build failure until this pinned set is edited
    * with it — silent retirement is not tolerated); the use-site
    * filter below only handles PARTIAL runs (per-query failures,
    * SPARK_GRAFT_ONLY), which `baseline_subset_n` < 60 flags.
    */
  private[graft] val BaselineSubset: Set[String] = Set(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "q_above_avg_orders", "q_approx_distinct", "q_archive_pipeline",
    "q_archive_shape", "q_argmax", "q_asof_join", "q_collect_ordered",
    "q_cube", "q_curation_pipeline", "q_date_funcs", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
    "q_distinct_counts", "q_eq_in_filter", "q_grouping_sets",
    "q_join_anti", "q_join_left", "q_join_semi", "q_json_props",
    "q_max_ts", "q_multimodal_features", "q_neardup_cosine",
    "q_percentiles", "q_pivot_events", "q_range_join",
    "q_retention_filter", "q_rollup", "q_row_counts", "q_scalar_funcs",
    "q_sessionize", "q_set_except", "q_set_except_all",
    "q_set_intersect", "q_set_union", "q_similarity_ann",
    "q_similarity_topk", "q_string_funcs", "q_text_fingerprint",
    "q_text_langid", "q_text_quality", "q_text_rollhash",
    "q_text_tfidf", "q_text_tokens", "q_time_partitions",
    "q_topk_newest", "q_topn_orders", "q_typed_agg", "q_union_stamp",
    "q_variance_stats", "q_window_analytics", "q_window_distribution",
    "q_window_lag", "q_window_moving_avg", "q_window_rank",
    "q_window_tumbling")

  /** Deterministic inter-query cleanup, run OUTSIDE any timed window:
    * localCheckpoint blocks from a finished query otherwise linger in
    * the block manager until the ContextCleaner notices the dropped
    * references on some later GC — background work that then bills
    * whichever queries happen to run next (the consecutive slow windows
    * measured in r7). Unpersisting synchronously between queries pins
    * that cost to the boundary, not the next measurement. Shared with
    * [[ToolCore.warmPass]] and [[Probe]] so the probes' boundary
    * discipline cannot drift from the driver bench's.
    */
  private[graft] def releaseCheckpoints(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Self-test hook for the loud-failure contract: queries named here
    // throw at execution time, which must surface as n_failed>0 +
    // "failed":[...] in the stdout line and an "errs" entry in the
    // detail file. Never set by the driver.
    val injectFail = sys.env.get("SPARK_GRAFT_FAIL_INJECT")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the suite — the drift-bisection
    // knob (e.g. run an older round's subset inside the current session
    // to separate plan regressions from session/GC pressure). Never set
    // by the driver.
    val benchQueries = ToolCore.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = ToolCore.session()

    // Per-query shuffle/spill/GC/job deltas come from the shared
    // recorder (queries run serially). GC-ms and job counts are the r8
    // contention diagnostics: both the r7 driver run and a local r8 run
    // showed a CONSECUTIVE window of inflated queries right after the
    // heaviest localCheckpoint queries — environment noise concentrated
    // by GC/cleanup debt, not plan cost. Executor run time and scheduler
    // delay (r9) attribute wall time the other counters cannot see.
    val rec = ToolCore.recorder(spark)

    // Warm the session (JVM/codegen/committer init, parquet footers)
    // so measured numbers reflect plans, not first-hit JIT: r5/r6
    // driver-vs-builder totals swung 35-45% on cold-start-shaped
    // deltas (janino codegen compile + C2 JIT on each query's generated
    // classes), and r8 measured that warming at sf0.001 left a one-time
    // +0.5-1.0 s residual on each complex-plan query in the first
    // measured pass — first-run total 51.8 s vs 40.1/41.6 s steady on
    // identical code. The warm pass costs ~40 s once, outside every
    // timer. Schema canary (footer-only) first: a regenerated-fixture
    // drift shows up as a named column here, not as n_failed=90 below.
    graft.model.FixtureCheck.driftAll(spark, sfDir)
      .foreach(m => System.err.println(s"[bench] FIXTURE DRIFT: $m"))
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    ToolCore.warmPass(spark, "bench", sfDir, benchQueries)

    case class R(sec: Double, shuffleMb: Double, spillMb: Double,
      gcMs: Long, jobs: Long, execMs: Long, schedDelayMs: Long,
      err: Option[String])
    val results = benchQueries.map { case (name, fn) =>
      // A query that throws is a FAILURE, not a fast success: record
      // the error per-query and count it in the stdout line. r8's 18
      // fixture-broken queries each appeared as a ~0.07 s "pass"
      // inside a rc-0 bench because this catch was silent.
      val w = ToolCore.measure(spark, rec) {
        if (injectFail(name))
          throw new RuntimeException("injected failure (SPARK_GRAFT_FAIL_INJECT)")
        fn(spark, sfDir).count()
      }
      val err = w.rows.left.toOption.map { e =>
        System.err.println(s"[bench] FAILURE $name: ${e.getClass.getName}: " +
          s"${e.getMessage}")
        s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").replace('\n', ' ').take(300)
      }
      val d = w.delta
      val r = R(w.sec, d.shuffleBytes / 1e6, d.memSpill / 1e6, d.gcMs,
        d.jobs, d.execMs, d.schedDelayMs, err)
      releaseCheckpoints(spark)
      name -> r
    }.toMap
    val failed = results.collect { case (k, r) if r.err.isDefined => k }.toSeq
    def num(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    def m1(f: R => Double, dp: Int): String = results
      .map { case (k, r) => "\"" + k + "\":" + num(f(r), dp) }
      .mkString("{", ",", "}")
    val total = results.values.map(_.sec).sum
    // same-window baseline denominator (see BaselineSubset): the sum
    // of the round-1 queries' seconds from THIS session. Failed
    // queries are EXCLUDED from both n and the sum — a fast-fail
    // (~0.07 s, the r8 lesson above) would otherwise deflate the
    // subset exactly when it is broken; n < 60 marks the number
    // unusable rather than flattering it.
    val baselineSubsetSec = results.collect {
      case (k, r) if BaselineSubset(k) && r.err.isEmpty => r.sec
    }.sum
    val baselineSubsetN = results.count {
      case (k, r) => BaselineSubset(k) && r.err.isEmpty
    }
    // Full-resolution record (timings + the shuffle/spill/gc/job maps
    // that predict 100 TB behavior and attribute contention) goes to a
    // FILE: the driver's stdout capture keeps only the last ~2000
    // chars, so anything bulky on stdout would truncate the
    // machine-readable line below.
    val errsJson = results.collect { case (k, r) if r.err.isDefined =>
      ToolCore.jsonString(k) + ":" + ToolCore.jsonString(r.err.get)
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec",""" +
      s""""baseline_subset_s":${num(baselineSubsetSec, 3)},""" +
      s""""baseline_subset_n":$baselineSubsetN,""" +
      s""""n_failed":${failed.size},"errs":$errsJson,""" +
      s""""queries":${m1(_.sec, 3)},"shuffle_mb":${m1(_.shuffleMb, 3)},""" +
      s""""spill_mb":${m1(_.spillMb, 3)},"gc_ms":${m1(_.gcMs.toDouble, 0)},""" +
      s""""exec_ms":${m1(_.execMs.toDouble, 0)},""" +
      s""""sched_delay_ms":${m1(_.schedDelayMs.toDouble, 0)},""" +
      s""""jobs":${m1(_.jobs.toDouble, 0)},"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json") // cwd-relative default
    // An explicitly-set SPARK_GRAFT_BENCH_DETAIL path is the caller's
    // to overwrite; implicit (env-unset) writes must never clobber a
    // committed record — r10's driver run overwrote the working-tree
    // BENCH_DETAIL.json and BENCH_DETAIL_r09.json (VERDICT r10 #3), so
    // implicit writes divert to "<path>.new" when the target exists.
    val explicitPath = sys.env.contains("SPARK_GRAFT_BENCH_DETAIL")
    def writeFile(path: String): Unit =
      try {
        val target =
          if (!explicitPath && java.nio.file.Files.exists(
              java.nio.file.Paths.get(path))) path + ".new"
          else path
        java.nio.file.Files.write(java.nio.file.Paths.get(target),
          (detail + "\n").getBytes("UTF-8")): Unit
      } catch { // detail files are best-effort, but fatals must propagate
        case scala.util.control.NonFatal(_) => ()
      }
    writeFile(detailPath)
    // Round-stamped copy (BENCH_DETAIL_r{N}.json): BENCH_DETAIL.json is
    // overwritten per run, which lost rounds 1-4's per-query history.
    // The round is inferred from the driver's own BENCH_r{K}.json files
    // in cwd (this run belongs to round max(K)+1); driver runs execute
    // in /root/repo where those exist, builder runs that set an
    // explicit detail path skip the copy. A stray no-env re-run AFTER
    // the driver has recorded BENCH_r{N} would stamp itself r{N+1} —
    // harmless: writeFile diverts to .new when the file exists, so a
    // mislabel never displaces a committed record, and builder tooling
    // always sets SPARK_GRAFT_BENCH_DETAIL.
    if (!sys.env.contains("SPARK_GRAFT_BENCH_DETAIL")) {
      val rounds = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r
          .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (rounds.nonEmpty)
        writeFile(f"BENCH_DETAIL_r${rounds.max + 1}%02d.json")
    }
    // Final stdout line: total + ONLY the top-10 slowest queries. The
    // driver keeps just the last ~2000 stdout chars; a full per-query
    // map crossed that at ~85 queries and silently became parsed:null
    // (rounds 1-4 are unrecoverable for exactly this reason). Top-10 +
    // count stays ~500 chars at any registry size.
    val top10 = results.toSeq.sortBy(-_._2.sec).take(10)
    val topJson = top10
      .map { case (k, r) => "\"" + k + "\":" + num(r.sec, 2) }
      .mkString("{", ",", "}")
    // n_failed + failed names ride the machine-readable line so a bench
    // with broken queries can never be misread as a pass (names capped
    // at 10 to stay inside the driver's ~2000-char stdout keep).
    val failedJson = failed.take(10).map(ToolCore.jsonString).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${num(total, 2)},"unit":"sec",""" +
      s""""baseline_subset_s":${num(baselineSubsetSec, 2)},""" +
      s""""baseline_subset_n":$baselineSubsetN,""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""failed":$failedJson,"queries":$topJson,"sf":"$sfDir"}"""
    // Stop the session BEFORE printing: shutdown logging then cannot
    // interleave after the JSON, so the line is the last thing on
    // stdout for the driver's parser.
    spark.stop()
    println(line)
  }
}
