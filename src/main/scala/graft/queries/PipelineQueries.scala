package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Dedup, Layout, Profiling, TextAnalysis, TimeSeries}
import graft.model.Tables
import graft.ops.Archive
import graft.streaming.Streaming

/** Round-10 pipeline operators (SURVEY.md §2.9): two-stage fuzzy dedup
  * with edit-distance verification, archive snapshot diff, Z-order
  * layout stats, equi-width histogram profiling, per-domain corpus
  * stats, and exact-moment z-score anomaly flagging. All six carry full
  * DuckDB oracle twins (hash-exact).
  */
object PipelineQueries {

  /** Plain 3-shard staged copy of `events`, SHARED by the three
    * arrival-order-free streams — q_ohlc_stream, q_stream_archive and
    * q_stream_sessions: none depends on arrival order (complete-mode
    * aggs / stateless sink), so they stage the identical
    * `repartition(3)` copy once per JVM and scale dir
    * ([[Tables.stagedDir]]). The ORDERED streams (q_stream_join,
    * q_stream_dedup) stage through [[stagedRangeSlices]], each keyed by
    * its own slice count and delivery.
    *
    * Bench semantics note: the one-time staging write is absorbed by
    * whichever consumer the bench times FIRST (the rest run warm), so a
    * per-query A/B against pre-r14 BENCH_DETAIL history must read the
    * GROUP's sum, not any single query alone.
    */
  private[graft] def stagedEvents3(s: SparkSession, d: String): String =
    Tables.stagedDir("graft_stream_stage3", d) { tmp =>
      Tables.load(s, d, "events").repartition(3)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Range-sliced staged tree with STRICTLY INCREASING mtimes (arrival
    * order = event order — FileStreamSource picks files
    * oldest-mtime-first under maxFilesPerTrigger, and a single parquet
    * write stamps ties, which would scramble slice order and turn
    * whole time ranges into late data; measured r11: 3201 of 5495 rows
    * survive a 1 h watermark under tied mtimes). `dupEachFile` follows
    * each slice with a byte-identical duplicate at the next mtime tick
    * (the q_stream_dedup delivery). Shared per (slices, dup, scale)
    * like [[stagedEvents3]] (r15 optimization): the tree is a pure
    * deterministic function of the fixture and the stream re-reads it
    * from scratch each run, so only the FIRST consumer in a JVM pays
    * the repartitionByRange write + rename/stamp pass — the mtime
    * ORDER (all that matters to the source) is preserved on reuse.
    */
  private[graft] def stagedRangeSlices(s: SparkSession, d: String, slices: Int,
      dupEachFile: Boolean): String =
    Tables.stagedDir(s"graft_stream_range${slices}dup$dupEachFile", d) { tmp =>
      val staging = java.nio.file.Files
        .createTempDirectory("graft_stream_range_stage").toString
      try {
        Tables.load(s, d, "events").repartitionByRange(slices, col("ts"))
          .write.mode("overwrite").parquet(staging)
        val parts = new java.io.File(staging).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val step = 60000L
        val perSlice = if (dupEachFile) 2 else 1
        val base = System.currentTimeMillis() -
          parts.length * perSlice * step
        parts.zipWithIndex.foreach { case (f, i) =>
          val dst = new java.io.File(tmp, f.getName)
          if (dupEachFile) {
            val dup = new java.io.File(tmp, "dup_" + f.getName)
            java.nio.file.Files.copy(f.toPath, dup.toPath): Unit
            require(f.renameTo(dst) &&
              dst.setLastModified(base + (2 * i) * step) &&
              dup.setLastModified(base + (2 * i + 1) * step),
              s"could not stage stream file ${f.getName}")
          } else {
            require(f.renameTo(dst) &&
              dst.setLastModified(base + i * step),
              s"could not stage stream file ${f.getName}")
          }
        }
      } finally Tables.rmrf(staging)
    }

  /** Runs `query` over the events files under `dir`, one file per
    * micro-batch, into the memory sink `sink` in `outputMode`, to the
    * end of the input, and returns the sink table. The stream runs on a
    * [[Streaming.streamSession]] pinned to 4 shuffle partitions: a
    * stateful operator's cost is (state stores = shuffle partitions) ×
    * micro-batches, not data volume, and the pin lives and dies with
    * the stream, so the caller's session conf is never mutated and the
    * sink name cannot clash.
    */
  private def memorySinkRun(s: SparkSession, dir: String, sink: String,
      outputMode: String)(query: DataFrame => DataFrame): DataFrame = {
    val s2 = Streaming.streamSession(s)
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val q = query(Streaming.readEventsStream(s2, dir))
      .writeStream.format("memory").queryName(sink)
      .outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(sink)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LSH candidates → hashed-Jaccard prefilter → Levenshtein verify;
    // the hashed-set frame is checkpointed once for its three consumers
    // (signatures + both prefilter sides); lshCandidates checkpoints the
    // banded signature frame itself
    "q_dedup_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", n = 3)
        .localCheckpoint()
      Dedup.fuzzyDupPairs(hsets, docs, "text", "doc_id",
          numPerms = 64, bands = 16, jPrefilter = 0.5, editSim = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // two deterministic "generations" of the events table (rows dropped
    // on each side + an in-place value edit) diffed into the
    // added/removed/changed delta — the crash-drift audit the reference
    // lacks (main.go:211-251 re-archives silently on crash)
    "q_snapshot_diff" -> ((s, d) => {
      val e = Tables.events(s, d)
      val genA = e.filter(col("event_id") % 11 =!= 3)
      val genB = e.filter(col("event_id") % 13 =!= 5)
        .withColumn("value",
          when(col("event_id") % 17 === 0, col("value") + lit(1.0))
            .otherwise(col("value")))
      Archive.snapshotDiff(genA, genB, "event_id",
        Seq("ts", "user_id", "event_type", "value", "props"))
    }),

    // Z-order clustering dry run over (l_partkey, l_suppkey): per-bucket
    // min/max spans = the parquet footer stats a rewrite would prune on
    "q_zorder_layout" -> ((s, d) =>
      Layout.zorderBucketStats(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", bits = 15, nBuckets = 64)),

    // 20-bucket equi-width histogram of events.value (data-driven
    // bounds via a broadcast single-row min/max)
    "q_histogram" -> ((s, d) =>
      Profiling.histogram(Tables.events(s, d), "value", nBuckets = 20)),

    // equi-DEPTH histogram (round 11): 4 equal-count value buckets per
    // event_type via ntile under the (value, event_id) total order —
    // the range-partitioner boundary profile; bounds are value COPIES
    "q_histogram_eqdepth" -> ((s, d) =>
      Profiling.eqdepthHistogram(Tables.events(s, d),
        "event_type", "value", "event_id", nBuckets = 4)),

    // Benford first-digit audit (round 11): leading-digit distribution
    // of the value column vs log10(1 + 1/d) — the fabricated-data
    // screen; digit extraction is integer-exact via the cents string
    "q_benford" -> ((s, d) =>
      Profiling.benfordDigits(Tables.events(s, d), "value")),

    // per-source curation ledger: volume, language diversity, and
    // exact-duplicate pressure per domain
    "q_domain_stats" -> ((s, d) =>
      Profiling.domainStats(Tables.documents(s, d),
        "text", "lang", "source", "n_chars")),

    // |z| >= 3 outliers per event_type with exact-decimal moments (the
    // q_variance_stats machinery composed into a row-level filter)
    "q_anomaly_zscore" -> ((s, d) =>
      Profiling.zscoreOutliers(Tables.events(s, d),
        "event_type", "value", "event_id", zCut = 3.0)),

    // per-(event_type, day) open/high/low/close/count — the canonical
    // telemetry downsample, deterministic via the (ts, event_id) order
    "q_ohlc_bars" -> ((s, d) =>
      TimeSeries.ohlcBars(Tables.events(s, d),
        "event_type", "ts", "event_id", "value")
        .orderBy(col("grp"), col("bucket"))),

    // The SAME downsample through the ACTUAL incremental path
    // (VERDICT r10 #8): events re-sharded into 3 files (4→3 in r13:
    // one less micro-batch of fixed per-trigger cost; the result is
    // file-count-independent), file-streamed one file per micro-batch
    // through the same TimeSeries.ohlcBars, complete-mode memory sink —
    // the registered, driver-gated proof that the micro-batch execution
    // produces the batch answer (StreamingSpec pins the equivalence;
    // this row pins it against the DuckDB oracle). Complete mode +
    // processAllAvailable makes the final table independent of file
    // arrival order, so the q_ohlc_bars oracle applies verbatim.
    "q_ohlc_stream" -> ((s, d) => {
      // staged input shared with q_stream_archive and q_stream_sessions
      // (see stagedEvents3)
      val tmp = stagedEvents3(s, d)
      memorySinkRun(s, tmp, "graft_ohlc_stream_sink", "complete")(
          TimeSeries.ohlcBars(_, "event_type", "ts", "event_id", "value"))
        .orderBy(col("grp"), col("bucket"))
    }),

    // Stream-stream watermarked join through the ACTUAL incremental
    // path (round 11, the q_ohlc_stream pattern): events re-sharded
    // into 3 TIME-RANGE files (repartitionByRange on ts — arrival
    // order mirrors event order, so the watermark advances
    // monotonically and no row is late; 4→3 slices in r13 cuts one
    // micro-batch of fixed state-store/commit overhead — the result
    // set is slice-count-independent), file-streamed one file per
    // micro-batch through purchaseSignupJoin (watermarks both sides,
    // time-bounded condition ⇒ provably bounded state), append-mode
    // memory sink. Inner-join append output after processAllAvailable
    // is the complete match set, so the batch SQL oracle applies.
    "q_stream_join" -> ((s, d) => {
      // 3 time-range slices moved in with strictly increasing mtimes:
      // arrival order = event order, so the REAL 1-hour watermark
      // drops nothing — the production shape (an archival stream
      // arrives time-ordered). Staged ONCE per JVM+scale
      // (stagedRangeSlices, r15): the write/stamp pass is input
      // staging, not query work, and re-running the stream over the
      // same tree is bit-identical.
      val tmp = stagedRangeSlices(s, d, slices = 3, dupEachFile = false)
      memorySinkRun(s, tmp, "graft_stream_join_sink", "append")(
          Streaming.purchaseSignupJoin(_).select(col("p_id"), col("s_id")))
        .orderBy(col("p_id"), col("s_id"))
    }),

    // Stateful streaming dedup through the ACTUAL incremental path
    // (round 11, fourth streaming-evidence query): the corpus is
    // delivered TWICE — each time-range slice followed immediately by
    // a byte-identical duplicate file, arrival order = event order via
    // strictly increasing mtimes — and dedupedStream
    // (dropDuplicatesWithinWatermark on event_id) must emit every
    // event exactly once. The interleaved staging makes the guarantee
    // exact: a duplicate arrives while its key is still inside the
    // watermark horizon, so it is dropped by state (or, equivalently,
    // as late data — either way never re-emitted), and no FIRST
    // occurrence is ever late because slices arrive time-ordered. The
    // gate rolls up the sink per event_type — a doubled or dropped key
    // shifts the counts and fails the plain batch oracle over events.
    "q_stream_dedup" -> ((s, d) => {
      // 2 time-range slices, each followed by its byte-identical
      // duplicate at the next mtime tick. Staged ONCE per JVM+scale
      // (stagedRangeSlices, r15) — same reasoning as q_stream_join.
      val tmp = stagedRangeSlices(s, d, slices = 2, dupEachFile = true)
      memorySinkRun(s, tmp, "graft_stream_dedup_sink", "append")(
          Streaming.dedupedStream(_))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(round(col("value") * 100, 0).cast("long")).cast("double")
            / 100.0).as("total"))
        .orderBy(col("event_type"))
    }),

    // The reference's archival loop through the archiver CLI's own
    // streaming path (ArchiverMain.archiveStream, the GRAFT_STREAMING
    // micro-batch): events mapped to the IoT row shape and stamped with
    // a table_name, file-streamed one file per micro-batch (AvailableNow,
    // checkpointed in a local temp dir, so on a Streaming.streamSession)
    // through the batch cycle's archival step (digest, keyed idempotent
    // append, verify) into a fresh archive dir; then
    // the gate aggregates the READ-BACK archive per partition — proving
    // the incremental write path lands the data the reference's batch
    // rerun would. Stateless per batch ⇒ no watermark, so arrival order
    // is free (plain re-shard into 3 files, shared with q_ohlc_stream).
    "q_stream_archive" -> ((s, d) => {
      val tmp = stagedEvents3(s, d)
      val out = java.nio.file.Files
        .createTempDirectory("graft_stream_archive_out").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_stream_archive_ckpt").toString
      try {
        graft.ArchiverMain.archiveStream(
          Streaming.readEventsStream(Streaming.streamSession(s), tmp)
            .select(col("event_id").as("id"), col("ts").as("timestamp"),
              col("user_id").cast("string").as("device_id"), col("value"))
            .transform(Archive.stampTableName("events")),
          out, ckpt)
        // materialize the per-partition rollup (a handful of rows) so
        // the archive dir and the checkpoint can be deleted before
        // returning — repeated runs (including FAILED ones, hence the
        // finally) leak nothing; the SHARED staged input stays for
        // the other order-free streams and is deleted at JVM exit.
        // The archive holds epoch-nanos timestamps (µs * 1000).
        s.read.parquet(out)
          .groupBy(col("year").cast("long").as("year"),
            col("month").cast("long").as("month"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
            expr("min(timestamp) div 1000").as("min_us"),
            expr("max(timestamp) div 1000").as("max_us"))
          .orderBy(col("year"), col("month"))
          .localCheckpoint()
      } finally Tables.rmrf(out, ckpt)
    }),

    // Native session windows through the ACTUAL incremental path
    // (round 15 — VERDICT r14 #1, the last §2.10 surface without a
    // driver-gated query): the shared 3-shard staged tree file-streamed
    // one file per micro-batch through Streaming.sessionCounts
    // (session_window + watermark), complete-mode memory sink. Complete
    // mode retains and MERGES session state across micro-batches (the
    // watermark never evicts) — but unlike the plain aggregation
    // q_ohlc_stream rides, the SESSION operator still FILTERS
    // watermark-late input rows in every output mode (measured here:
    // 3-shard random arrival + a 1 h delay dropped ~40% of events). So
    // the gate widens the delay beyond the fixture's whole time span,
    // making "late" impossible — the complete-mode state it feeds is
    // unbounded by definition, so the wide delay costs nothing — and
    // the final per-(user, session) table after processAllAvailable is
    // arrival-order-free. That is what lets this query share the
    // order-free staged tree with q_ohlc_stream/q_stream_archive and
    // what makes the plain batch lag-algebra oracle apply. Production
    // append-mode sessionization keeps the tight default delay and
    // time-ordered arrival instead. The gate rolls the sink up to the
    // q_sessionize grain (per-user session + event counts): a session
    // split, merged, or dropped anywhere in the streaming state
    // machine shifts n_sessions and fails the oracle.
    "q_stream_sessions" -> ((s, d) => {
      val tmp = stagedEvents3(s, d)
      memorySinkRun(s, tmp, "graft_stream_sessions_sink", "complete")(
          Streaming.sessionCounts(_, watermark = "3650 days"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // last-touch attribution: purchases attributed to the same user's
    // most recent prior click within 7 days (carry-forward window,
    // exact integer-µs cutoff); unattributed rows keep null touch_id
    "q_attribution" -> ((s, d) =>
      TimeSeries.lastTouchAttribution(Tables.events(s, d), "user_id",
        "ts", "event_id", "event_type", "click", "purchase",
        windowDays = 7)),

    // Batched BPE (round 12, the documented 100 TB shape): 2 rewrite
    // passes × up to 4 symbol-disjoint merges each — 8 merges for 2
    // corpus passes instead of 8; pool-then-greedy selection is part
    // of the contract and unrolled identically in the oracle.
    // One pair per round (pairsPerRound = candidatePool = 1) is the
    // sequential trainer; TextAnalysisSpec pins hand-computed merges for
    // both shapes, and PropertySpec checks this one against a driver-side
    // Scala model of pool-then-greedy selection and rewrite.
    "q_bpe_merges_batch" -> ((s, d) =>
      Bpe.pairMergesBatched(Tables.documents(s, d), "doc_id", "text",
        rounds = 2, pairsPerRound = 4, candidatePool = 64)),

    // BPE APPLY (round 14 — the serve side of the train→serve split,
    // VERDICT r13 #2): encode the corpus with an INLINED literal merge
    // table exercising every rewrite case — a frequent pair, two
    // self-pairs (run algebra), a disjoint co-group pair, and a
    // STACKED rank consuming rank 1's output (forces the second
    // rewrite pass; Bpe.encode groups ranks {1,2,3} and {4,5} into two
    // passes, provably equal to sequential application). The gate
    // pins the ENTIRE encoded corpus: per-doc token count plus the
    // md5 of the position-ordered encoded stream — one flipped token
    // anywhere changes a digest. The oracle unrolls the identical
    // passes over the same literal table (string algebra only, so the
    // digests are engine-exact at every scale).
    "q_bpe_encode" -> ((s, d) =>
      // identity materialize (r15): unlike the TRAINERS (whose state
      // feeds both the pair-count collect and the rewrite), every
      // encode pass has exactly ONE consumer — the next pass — so the
      // lazy chain recomputes nothing and the per-pass eager
      // checkpoint jobs (3 at the registered table) were pure
      // scheduling + block-manager overhead; pass count stays a pure
      // function of the merge table either way
      Bpe.encode(Tables.documents(s, d), "doc_id", "text",
          EncodeMergeTable, materialize = identity)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            t => t.getField("tok")), " ")).as("enc_md5"))
        .orderBy(col("doc_id"))),

    // per-doc OOV rate vs the corpus top-1000 vocabulary (tokenizer
    // coverage); vocab top-k is deterministic via (count desc, token)
    "q_vocab_oov" -> ((s, d) =>
      TextAnalysis.vocabOovRates(Tables.documents(s, d),
        "text", "doc_id", vocabSize = 1000)),

    // CDC apply: a deterministic three-op change set (deletes, full-row
    // updates, re-inserts of the held-out slice) merged onto a base
    // snapshot — the reference's delete loop generalized to exact keyed
    // deltas. Ops are disjoint by precedence (D > U > I).
    "q_cdc_apply" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val base = e.filter(col("event_id") % 7 =!= 0)
      val changes = e
        .withColumn("op",
          when(col("event_id") % 13 === 0, lit("D"))
            .when(col("event_id") % 17 === 0, lit("U"))
            .when(col("event_id") % 7 === 0, lit("I")))
        .filter(col("op").isNotNull)
        .withColumn("value",
          when(col("op") === "U", col("value") + lit(10.0))
            .otherwise(col("value")))
      Archive.applyChanges(base, changes, "event_id", "op")
    }),

    // per-event_type quantile normalization of value (exact percentile
    // rank, RANK tie semantics) — feature scaling before mixing
    "q_quantile_norm" -> ((s, d) =>
      Profiling.quantileNorm(Tables.events(s, d),
        "event_type", "value", "event_id")),

    // strictly-ordered signup → click → purchase funnel with per-step
    // first-completion latencies (exact integer µs)
    "q_funnel_steps" -> ((s, d) =>
      TimeSeries.funnelSteps(Tables.events(s, d), "user_id", "ts",
        "event_type", "signup", "click", "purchase")),

    // coverage spans per user: each event occupies [ts, ts + value
    // seconds] (variable-length!), overlapping-or-touching intervals
    // coalesce into maximal busy windows — integer-µs exact
    "q_interval_merge" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            round(col("value") * 1000000.0, 0).cast("long")).as("e_us"))
      TimeSeries.coalesceIntervals(e, "user_id", "s_us", "e_us", "event_id")
    }),

    // first-order Markov transition matrix over per-user event streams
    // (round 11): count + conditional probability per (from → to) step
    // under the (ts, event_id) total order
    "q_event_transitions" -> ((s, d) =>
      TimeSeries.eventTransitions(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type")),

    // temporal train/validation split + leakage audit (round 11): split
    // events at a fixed cutoff and count the users appearing on BOTH
    // sides — the entity leakage a time-series model must know about
    // before trusting its validation score. ONE scan: conditional
    // counts per user, then a one-row rollup
    "q_temporal_split" -> ((s, d) => {
      val cutoff = lit("2024-01-22 00:00:00").cast("timestamp")
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(when(col("ts") < cutoff, true)).as("n_train_u"),
          count(when(col("ts") >= cutoff, true)).as("n_val_u"))
        .agg(sum(col("n_train_u")).as("n_train"),
          sum(col("n_val_u")).as("n_val"),
          count(when(col("n_train_u") > 0, true)).as("train_users"),
          count(when(col("n_val_u") > 0, true)).as("val_users"),
          count(when(col("n_train_u") > 0 && col("n_val_u") > 0, true))
            .as("leaky_users"))
    }),

    // Gini concentration (round 11): per-type value inequality via the
    // exact rank-weight form G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over cents —
    // the source-concentration audit a mixing pipeline runs. Ties are
    // safe: equal values swap ranks without moving Σi·xᵢ. All integer
    // sums (W in DECIMAL(38,0)); the two final quotients land through
    // round(…, 6) as DOUBLE — coarse enough to absorb int128→double
    // cast ULPs and engine-round differences (the r11 gate lesson).
    "q_gini" -> ((s, d) => {
      val w = Window.partitionBy(col("grp")).orderBy(col("cents").asc)
      Tables.events(s, d)
        .select(col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("rn").cast("decimal(38,0)") * col("cents")).as("wsum"))
        .filter(col("s") > 0)
        .select(col("grp"), col("n"),
          round((lit(2).cast("decimal(38,0)") * col("wsum")).cast("double") /
              (col("n").cast("decimal(38,0)") * col("s")).cast("double") -
            (col("n") + 1).cast("double") / col("n"), 6)
            .as("gini"))
        .orderBy(col("grp"))
    }),

    // week-over-week growth (round 11): weekly counts per type with
    // lag-based pct change — the reporting rollup over the time grid;
    // NULL growth on a zero/absent previous week (ANSI-safe guard),
    // integer counts ⇒ the quotient is engine-identical
    "q_weekly_growth" -> ((s, d) => {
      val wk = Window.partitionBy(col("event_type")).orderBy(col("week"))
      Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev", lag(col("n"), 1).over(wk))
        .withColumn("growth",
          when(col("prev") > 0,
            (col("n") - col("prev")).cast("double") / col("prev")))
        .orderBy(col("event_type"), col("week"))
    }),

    // trailing 7-day exact median (round 11): rank selection isn't
    // frame-aggregable — the banded day-spine self-join + integer-rank
    // PERCENTILE_DISC, the robust twin of a rolling mean
    "q_rolling_median" -> ((s, d) =>
      TimeSeries.rollingMedian(Tables.events(s, d),
        "event_type", "ts", "value", "event_id", windowDays = 7)),

    // DAU / 7-day WAU / stickiness (round 11): rolling exact distinct
    // via the banded self-join on the (day, user) grid — distinct
    // isn't frame-aggregable, so this IS the standard exact shape
    "q_active_users" -> ((s, d) =>
      TimeSeries.activeUsers(Tables.events(s, d), "ts", "user_id",
        windowDays = 7)),

    // exact Pearson correlation (round 11): hour-of-day vs value per
    // event_type from pure integer moments — one sqrt per group
    "q_correlation" -> ((s, d) =>
      Profiling.groupCorrelation(Tables.events(s, d),
        "event_type", hour(col("ts")), "value")),

    // per-group OLS trend (round 11): value regressed on days-since-
    // 2024-01-01 per event_type — slope/intercept/r² from the same
    // exact integer moments as q_correlation, one rounded division
    // per output column
    "q_group_regression" -> ((s, d) =>
      Profiling.groupRegression(Tables.events(s, d),
        "event_type", datediff(to_date(col("ts")), lit("2024-01-01")),
        "value")),

    // chi-square independence (round 11): event_type × (value ≥ 50)
    // contingency — corpus collapses to the cell grid first
    "q_chi_square" -> ((s, d) =>
      Profiling.chiSquare(Tables.events(s, d),
        col("event_type"), (col("value") >= 50.0).cast("int"))),

    // two-sample Kolmogorov–Smirnov (round 11): purchase vs view value
    // distributions — supremum CDF gap maximized over exact integer
    // numerators on the distinct-value grid, one division + one sqrt
    "q_ks_test" -> ((s, d) =>
      Profiling.ksTest(Tables.events(s, d),
        "event_type", "value", "purchase", "view")),

    // Welch's t (round 11): the parametric mean-difference member of
    // the drift family — exact integer moments, one fixed IEEE chain
    "q_welch_t" -> ((s, d) =>
      Profiling.welchT(Tables.events(s, d),
        "event_type", "value", "purchase", "view")),

    // Mann–Whitney rank-sum (round 11): the location-shift companion
    // of q_ks_test — doubled midranks keep tied ranks integer-exact;
    // one division + one sqrt in the final z
    "q_mann_whitney" -> ((s, d) =>
      Profiling.mannWhitney(Tables.events(s, d),
        "event_type", "value", "purchase", "view")),

    // exact integer CUSUM changepoint (round 11): the mean-shift day
    // per event_type, score = |N·C_t − n_t·S| in pure integer cents —
    // bit-reproducible drift alerts that can't flap across recomputes.
    // The wide score is engine-internal (argmax only) and emits as its
    // exact digit STRING: decimal128(38,0) output columns proved
    // non-portable across DuckDB builds at the serialization layer
    // (r10–r12 gate), while integer→digits is specified everywhere
    "q_changepoint" -> ((s, d) =>
      TimeSeries.changepoints(Tables.events(s, d),
        "event_type", "ts", "value")),

    // dense daily counts (round 11): per-(type, day) counts over the
    // FULL date spine — absent days emit 0 (gap filling), the
    // dimension-generation shape (sequence + explode of a broadcast
    // bounds row) nothing else in the registry exercises
    "q_daily_dense" -> ((s, d) =>
      TimeSeries.denseDailyCounts(Tables.events(s, d),
        "event_type", "ts")),

    // data-contract expectations (round 11): row rules in ONE scan +
    // set-level rules (key uniqueness, referential integrity to
    // customer) unioned in — the validation gate before a batch is
    // trusted or source rows are deleted
    "q_expectations" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val rowRules = Profiling.expectations(o, Seq(
        "key_not_null" -> col("o_orderkey").isNull,
        "price_in_range" ->
          !(col("o_totalprice") > 0.0 && col("o_totalprice") < 1000000.0),
        "status_in_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
        "date_not_future" ->
          (col("o_orderdate") > lit("2002-01-01").cast("date"))))
      val n = o.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("n_violations"))
        .select(lit("key_unique").as("rule"), col("n_checked"),
          col("n_violations"))
      val orphans = o.join(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "leftanti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n_checked"))))
        .select(lit("custkey_referential").as("rule"), col("n_checked"),
          col("n_violations"))
      rowRules.unionByName(n).unionByName(orphans)
        .orderBy(col("rule"))
    }),

    // linear multi-touch attribution (round 11): clicks within 7 days
    // of a purchase split credit 1/n — the fairness twin of the
    // last-touch q_attribution; credit in exact integer ppm
    "q_attribution_linear" -> ((s, d) =>
      TimeSeries.linearAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        touchType = "click", convType = "purchase", windowDays = 7)),

    // day-of-week seasonality profile (round 11): per-dow event counts
    // and the seasonality index (dow share × 7) in exact parts-per-
    // billion — pure integer arithmetic with one floor division, no
    // float anywhere (the q_percentile_cont integer-scaling pattern)
    "q_seasonality_dow" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("dow"), col("n"),
          // n·7·10⁹ stays in BIGINT up to n ≈ 1.317·10⁹ events per
          // dow. Past that BOTH engines fail loudly (Spark ANSI
          // overflow, DuckDB BIGINT overflow) — never silently wrap —
          // and the named guard below turns Spark's generic overflow
          // into a diagnosable error (and keeps a non-ANSI session
          // from wrapping). A DECIMAL reroute is NOT the portable fix
          // here: DuckDB 1.0 routes decimal division through DOUBLE
          // (measured — `//` on DECIMAL(38,0) loses low digits), so
          // exact ppb past the bound needs the hi/lo split pattern
          // instead; at 10⁹ events per day-of-week, the guard is the
          // honest contract (ADVICE r12).
          when(col("n") <= lit(1317624576L),
              expr("(n * 7000000000L) div total"))
            .otherwise(raise_error(lit("q_seasonality_dow: per-dow " +
              "count exceeds the exact BIGINT ppb-scaling domain " +
              "(n > 1317624576)")))
            .as("idx_ppb"))
        .orderBy(col("dow"))
    }),

    // cumulative user growth (round 11): first-touch HOUR per user →
    // hourly new-user counts → running total. The running sum rides a
    // window over the HOUR GRID (≤ span hours, never rows); the corpus
    // collapses in one user-keyed min agg.
    "q_user_growth" -> ((s, d) => {
      val firstHour = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(date_trunc("hour", col("ts"))).as("hr"))
      val hourly = firstHour.groupBy(col("hr"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      hourly.withColumn("total_users", sum(col("new_users")).over(w))
        .orderBy(col("hr"))
    }),

    // RFM segmentation (round 11): recency (days since last purchase,
    // anchored at the corpus max ts), frequency, monetary (exact
    // cents) per user, quartiled by NTILE under total orders
    // (value, user_id) — the classic customer-value grid, fully
    // deterministic. The NTILE windows run over the USER frame (one
    // row per purchasing user, not events); at larger user counts
    // swap quartile assignment to broadcast rank thresholds.
    "q_rfm_segments" -> ((s, d) => {
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val anchor = p.agg(max(col("day")).as("anchor"))
      val rfm = p.groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("f"), sum(col("cents")).as("m_cents"))
        .crossJoin(broadcast(anchor))
        .select(col("user_id"),
          datediff(col("anchor"), col("last_day")).as("r_days"),
          col("f"), col("m_cents"))
      rfm.withColumn("r_q", ntile(4).over(
          Window.orderBy(col("r_days").asc, col("user_id"))))
        .withColumn("f_q", ntile(4).over(
          Window.orderBy(col("f").desc, col("user_id"))))
        .withColumn("m_q", ntile(4).over(
          Window.orderBy(col("m_cents").desc, col("user_id"))))
        .select(col("user_id"), col("r_days"), col("f"),
          (col("m_cents").cast("double") / 100.0).as("m"),
          col("r_q"), col("f_q"), col("m_q"),
          concat(col("r_q").cast("string"), col("f_q").cast("string"),
            col("m_q").cast("string")).as("segment"))
        .orderBy(col("user_id"))
    }),

    // hourly linear-interpolation resample (round 11): irregular user
    // readings onto the exact hour grid — integer µs/cents arithmetic,
    // one raw IEEE division per emitted mark, no joins (window + the
    // bounded row-local generate)
    "q_interpolate" -> ((s, d) =>
      TimeSeries.interpolateHourly(
          Tables.events(s, d).filter(col("user_id") < 40),
          "user_id", "ts", "value", maxGapHours = 48)
        .withColumnRenamed("k", "user_id")),

    // robust median/MAD outliers (round 11): the resistant twin of
    // q_anomaly_zscore — extremes can't move the median, so they can't
    // mask each other; exact rank-selected medians, kCut = 3.5
    "q_anomaly_robust" -> ((s, d) =>
      Profiling.robustOutliers(Tables.events(s, d),
        "event_type", "value", "event_id", kCut = 3.5)),

    // per-group winsorization (round 11): clip values into the exact
    // [p05, p95] band — outlier capping before feature normalization;
    // bounds broadcast back onto the row stream
    "q_winsorize" -> ((s, d) =>
      Profiling.winsorize(Tables.events(s, d),
        "event_type", "value", "event_id", pLo = 5, pHi = 95)),

    // exact per-group latency-style percentiles (round 11):
    // PERCENTILE_DISC p50/p90/p99 of value per event_type via integer
    // rank selection — values copied, never computed
    "q_group_percentiles" -> ((s, d) =>
      Profiling.groupPercentiles(Tables.events(s, d),
        "event_type", "value", Seq(50, 90, 99))),

    // interpolated percentiles (round 11): PERCENTILE_CONT semantics
    // with the (n−1)·p/100 interpolation done in EXACT integers —
    // ten-thousandths of a cent, one constant division at the end
    "q_percentile_cont" -> ((s, d) =>
      Profiling.groupPercentilesCont(Tables.events(s, d),
        "event_type", "value", Seq(50, 90, 99))),

    // lag-1 autocorrelation of the dense daily count series (round
    // 11): "does yesterday predict today" per event_type — the dense
    // spine makes absent days zeros (a sparse series would silently
    // skip gaps and overstate persistence), then exact integer-moment
    // Pearson on (count, previous count) pairs
    "q_autocorr" -> ((s, d) => {
      val daily = TimeSeries.denseDailyCounts(Tables.events(s, d),
        "event_type", "ts")
      val w = Window.partitionBy(col("grp")).orderBy(col("day"))
      val lagged = daily.withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull)
      Profiling.groupCorrelation(lagged, "grp", col("prev"), "n")
    }),

    // one-pass per-column profile of the orders snapshot (round 11):
    // row/non-null/distinct counts + canonical min/max per column —
    // the multi-distinct compiles to ONE scan with Expand, not k passes
    "q_column_profile" -> ((s, d) =>
      Profiling.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")))
  )

  /** One batched-BPE round in the oracle —
    * [[graft.ext.Bpe.pairMergesBatched]] mirrored exactly: the top-
    * `pool` candidate list, `k` greedy symbol-disjoint picks unrolled
    * as chained anti-conditioned LIMIT-1 CTEs (each pick excludes
    * every symbol the previous selection used), then the Bpe rewrite
    * pass's run algebra (match marking,
    * cumulative-count run keys, even-offset greedy selection,
    * right-half drop, renumber) with the match generalized from one
    * literal pair to a LEFT JOIN against the round's selection (pairs
    * are symbol-disjoint, so consecutive matches are same-self-pair
    * runs — the algebra is unchanged). MATERIALIZED on the state,
    * pool, and selection CTEs (the k-core lesson: inlined chains
    * re-expand exponentially). Emits `bsel$r` (picks) and `bt$r`
    * (rewritten state).
    */
  private def bpeBatchRoundSql(r: Int, prev: String, k: Int,
      pool: Int): String = {
    val picks = (1 to k).map { i =>
      if (i == 1)
        s"""bpk${r}_1 AS (SELECT lft, rgt, n, 1 AS ord FROM bpool$r
           |  ORDER BY n DESC, lft, rgt LIMIT 1),
           |bsel${r}_1 AS MATERIALIZED (SELECT * FROM bpk${r}_1)""".stripMargin
      else
        s"""bpk${r}_$i AS (SELECT lft, rgt, n, $i AS ord FROM bpool$r p
           |  WHERE NOT EXISTS (SELECT 1 FROM bsel${r}_${i - 1} s
           |    WHERE p.lft IN (s.lft, s.rgt) OR p.rgt IN (s.lft, s.rgt))
           |  ORDER BY n DESC, lft, rgt LIMIT 1),
           |bsel${r}_$i AS MATERIALIZED (SELECT * FROM bsel${r}_${i - 1}
           |  UNION ALL SELECT * FROM bpk${r}_$i)""".stripMargin
    }.mkString(",\n")
    s"""bp$r AS MATERIALIZED (SELECT doc, pos, tok,
       |    LEAD(tok) OVER (PARTITION BY doc ORDER BY pos) AS nxt
       |  FROM $prev),
       |bc$r AS (SELECT tok AS lft, nxt AS rgt, COUNT(*) AS n FROM bp$r
       |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |bpool$r AS MATERIALIZED (SELECT lft, rgt, n FROM bc$r
       |  ORDER BY n DESC, lft, rgt LIMIT $pool),
       |$picks,
       |bsel$r AS MATERIALIZED (SELECT * FROM bsel${r}_$k),
       |bmm$r AS (SELECT t.doc, t.pos, t.tok, s.lft, s.rgt,
       |    CASE WHEN s.lft IS NOT NULL THEN 1 ELSE 0 END AS m
       |  FROM bp$r t LEFT JOIN bsel$r s
       |    ON t.tok = s.lft AND t.nxt = s.rgt),
       |br$r AS (SELECT *, SUM(m) OVER (PARTITION BY doc ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rnm
       |  FROM bmm$r),
       |bk$r AS (SELECT *, CASE WHEN m = 1 THEN pos - rnm END AS runkey
       |  FROM br$r),
       |bs$r AS (SELECT *, MIN(CASE WHEN m = 1 THEN pos END)
       |    OVER (PARTITION BY doc, runkey) AS runstart FROM bk$r),
       |btk$r AS (SELECT doc, pos, tok, lft, rgt,
       |    CASE WHEN m = 1 AND (pos - runstart) % 2 = 0 THEN 1 ELSE 0 END
       |      AS tk
       |  FROM bs$r),
       |bn$r AS (SELECT doc, pos, tok, tk, lft, rgt,
       |    COALESCE(LAG(tk) OVER (PARTITION BY doc ORDER BY pos), 0) AS ptk
       |  FROM btk$r),
       |bt$r AS MATERIALIZED (SELECT doc,
       |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS pos,
       |    CASE WHEN tk = 1 THEN lft || '+' || rgt ELSE tok END AS tok
       |  FROM bn$r WHERE ptk = 0)""".stripMargin
  }

  /** q_bpe_encode's inlined merge table, rank-ordered. Chosen to hit
    * every rewrite case on the fixture corpus at all three scales:
    * (order, fast) is a frequent pair, (sort, sort) and (value, value)
    * are self-pairs (run algebra), (data, slow) shares the first
    * group, and (order+fast, merge) is STACKED on rank 1's output —
    * Bpe.encode splits the table into passes {1,2,3} and {4,5}. */
  private[graft] val EncodeMergeTable: Seq[(String, String)] = Seq(
    ("order", "fast"), ("sort", "sort"), ("data", "slow"),
    ("order+fast", "merge"), ("value", "value"))

  /** One encode pass in the oracle — [[graft.ext.Bpe.encode]]'s
    * grouped rewrite mirrored exactly: the pass's literal pair set as
    * a VALUES selection, then the identical run algebra of
    * [[bpeBatchRoundSql]] (match via LEFT JOIN against the selection,
    * cumulative-count run keys, even-offset greedy selection,
    * right-half drop, renumber). Emits `et$p` (rewritten state). */
  private def bpeEncodePassSql(p: Int, prev: String,
      pairs: Seq[(String, String)]): String = {
    // tokens are spliced into single-quoted SQL literals — escape the
    // one character that can break out (review r15: EncodeMergeTable
    // is a fixed quote-free literal today, but this helper invites
    // reuse with corpus-derived tables)
    def esc(t: String): String = t.replace("'", "''")
    val vals = pairs.map { case (l, r) => s"('${esc(l)}', '${esc(r)}')" }
      .mkString(", ")
    s"""esel$p AS (SELECT * FROM (VALUES $vals) AS v(lft, rgt)),
       |ep$p AS MATERIALIZED (SELECT doc, pos, tok,
       |    LEAD(tok) OVER (PARTITION BY doc ORDER BY pos) AS nxt
       |  FROM $prev),
       |emm$p AS (SELECT t.doc, t.pos, t.tok, s.lft, s.rgt,
       |    CASE WHEN s.lft IS NOT NULL THEN 1 ELSE 0 END AS m
       |  FROM ep$p t LEFT JOIN esel$p s
       |    ON t.tok = s.lft AND t.nxt = s.rgt),
       |er$p AS (SELECT *, SUM(m) OVER (PARTITION BY doc ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rnm
       |  FROM emm$p),
       |ek$p AS (SELECT *, CASE WHEN m = 1 THEN pos - rnm END AS runkey
       |  FROM er$p),
       |es$p AS (SELECT *, MIN(CASE WHEN m = 1 THEN pos END)
       |    OVER (PARTITION BY doc, runkey) AS runstart FROM ek$p),
       |etk$p AS (SELECT doc, pos, tok, lft, rgt,
       |    CASE WHEN m = 1 AND (pos - runstart) % 2 = 0 THEN 1 ELSE 0 END
       |      AS tk
       |  FROM es$p),
       |en$p AS (SELECT doc, pos, tok, tk, lft, rgt,
       |    COALESCE(LAG(tk) OVER (PARTITION BY doc ORDER BY pos), 0) AS ptk
       |  FROM etk$p),
       |et$p AS MATERIALIZED (SELECT doc,
       |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS pos,
       |    CASE WHEN tk = 1 THEN lft || '+' || rgt ELSE tok END AS tok
       |  FROM en$p WHERE ptk = 0)""".stripMargin
  }

  def oracles: Map[String, String] = Map(

    "q_bpe_encode" ->
      (s"""WITH et0 AS (SELECT doc_id AS doc,
          |    generate_subscripts(string_split(text, ' '), 1) AS pos,
          |    unnest(string_split(text, ' ')) AS tok FROM documents),
          |""".stripMargin +
        bpeEncodePassSql(1, "et0", EncodeMergeTable.take(3)) + ",\n" +
        bpeEncodePassSql(2, "et1", EncodeMergeTable.drop(3)) + "\n" +
        """SELECT doc AS doc_id, COUNT(*) AS n_tokens,
          |  md5(string_agg(tok, ' ' ORDER BY pos)) AS enc_md5
          |FROM et2 GROUP BY doc ORDER BY doc""".stripMargin),

    "q_bpe_merges_batch" ->
      (s"""WITH bt0 AS (SELECT doc_id AS doc,
          |    generate_subscripts(string_split(text, ' '), 1) AS pos,
          |    unnest(string_split(text, ' ')) AS tok FROM documents),
          |""".stripMargin +
        bpeBatchRoundSql(1, "bt0", k = 4, pool = 64) + ",\n" +
        bpeBatchRoundSql(2, "bt1", k = 4, pool = 64) + "\n" +
        """SELECT * FROM (
          |  SELECT CAST(1 AS INTEGER) AS merge_round,
          |    CAST(ord AS INTEGER) AS ord, lft, rgt,
          |    CAST(n AS BIGINT) AS n_pairs FROM bsel1
          |  UNION ALL SELECT 2, CAST(ord AS INTEGER), lft, rgt,
          |    CAST(n AS BIGINT) FROM bsel2)
          |ORDER BY merge_round, ord""".stripMargin),

    "q_dedup_fuzzy" ->
      s"""${ExtQueries.ShingleCte},
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |e AS (SELECT a_id, b_id,
         |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |    greatest(len(da.text), len(db.text)) AS edit_sim
         |  FROM p
         |  JOIN documents da ON da.doc_id = p.a_id
         |  JOIN documents db ON db.doc_id = p.b_id)
         |SELECT a_id, b_id, edit_sim FROM e WHERE edit_sim >= 0.9
         |ORDER BY a_id, b_id""".stripMargin,

    "q_snapshot_diff" ->
      """WITH a AS (SELECT * FROM events WHERE event_id % 11 != 3),
        |b AS (SELECT event_id, ts, user_id, event_type,
        |    CASE WHEN event_id % 17 = 0 THEN value + 1.0 ELSE value END AS value,
        |    props
        |  FROM events WHERE event_id % 13 != 5),
        |d AS (SELECT COALESCE(a.event_id, b.event_id) AS key,
        |  CASE WHEN b.event_id IS NULL THEN 'removed'
        |       WHEN a.event_id IS NULL THEN 'added'
        |       WHEN (a.ts IS DISTINCT FROM b.ts)
        |         OR (a.user_id IS DISTINCT FROM b.user_id)
        |         OR (a.event_type IS DISTINCT FROM b.event_type)
        |         OR (a.value IS DISTINCT FROM b.value)
        |         OR (a.props IS DISTINCT FROM b.props) THEN 'changed'
        |  END AS status
        |  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
        |SELECT key, status FROM d WHERE status IS NOT NULL
        |ORDER BY key""".stripMargin,

    "q_zorder_layout" ->
      s"""WITH src AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
         |m AS (SELECT min(x) AS xmin, max(x) AS xmax,
         |  min(y) AS ymin, max(y) AS ymax FROM src),
         |nrm AS (SELECT x, y,
         |  CASE WHEN xmax = xmin THEN 0
         |    ELSE CAST(floor(CAST(x - xmin AS DOUBLE) * 32768.0 /
         |      (xmax - xmin + 1)) AS BIGINT) END AS xn,
         |  CASE WHEN ymax = ymin THEN 0
         |    ELSE CAST(floor(CAST(y - ymin AS DOUBLE) * 32768.0 /
         |      (ymax - ymin + 1)) AS BIGINT) END AS yn
         |  FROM src, m),
         |z AS (SELECT x, y, (${Layout.zorderSqlExpr("xn", "yn", 15)}) AS z
         |  FROM nrm),
         |bkt AS (SELECT z >> 24 AS bucket, x, y FROM z)
         |SELECT bucket, COUNT(*) AS n,
         |  MIN(x) AS x_lo, MAX(x) AS x_hi,
         |  MIN(y) AS y_lo, MAX(y) AS y_hi
         |FROM bkt GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_histogram" ->
      """WITH v AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
        |m AS (SELECT min(v) AS vmin, max(v) AS vmax FROM v),
        |b AS (SELECT CASE WHEN vmax = vmin THEN 0
        |    ELSE least(CAST(floor((v - vmin) * 20.0 / (vmax - vmin)) AS BIGINT), 19)
        |  END AS bucket, vmin, vmax FROM v, m)
        |SELECT bucket,
        |  vmin + bucket * (vmax - vmin) / 20.0 AS lo,
        |  vmin + (bucket + 1) * (vmax - vmin) / 20.0 AS hi,
        |  COUNT(*) AS n
        |FROM b GROUP BY bucket, vmin, vmax ORDER BY bucket""".stripMargin,

    "q_histogram_eqdepth" ->
      """WITH r AS (SELECT event_type AS grp, value AS v,
        |    CAST(NTILE(4) OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS INT) AS bucket
        |  FROM events)
        |SELECT grp, bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
        |FROM r GROUP BY grp, bucket ORDER BY grp, bucket""".stripMargin,

    "q_benford" ->
      """WITH c AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
        |    FROM events),
        |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit FROM c WHERE c > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS obs_share,
        |  round(log10(1 + 1.0 / digit), 6) AS exp_share
        |FROM g ORDER BY digit""".stripMargin,

    "q_domain_stats" ->
      """WITH c AS (SELECT source, lang, n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    CASE WHEN COUNT(*) OVER (PARTITION BY text) > 1 THEN 1 ELSE 0 END AS is_dup
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q_anomaly_zscore" ->
      """WITH c AS (SELECT event_id AS id, event_type AS grp, value AS v,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |m AS (SELECT grp, COUNT(*) AS n,
        |    CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM((cents * cents) // 1000000) AS BIGINT) AS hi,
        |    CAST(SUM((cents * cents) % 1000000) AS BIGINT) AS lo
        |  FROM c GROUP BY grp),
        |m2 AS (SELECT grp, n, s1,
        |    (CAST(hi AS DOUBLE) * 1000000.0 + CAST(lo AS DOUBLE)) / 10000.0 AS s2
        |  FROM m),
        |m3 AS (SELECT grp, n, s1 / n AS mean,
        |    CASE WHEN n > 1 THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END AS sd
        |  FROM m2),
        |m4 AS (SELECT * FROM m3 WHERE sd > 0)
        |SELECT id, grp, v, round((v - mean) / sd, 6) AS z
        |FROM c JOIN m4 USING (grp)
        |WHERE abs((v - mean) / sd) >= 3.0
        |ORDER BY id""".stripMargin,

    "q_ohlc_bars" ->
      """WITH base AS (SELECT event_type AS grp, CAST(ts AS DATE) AS bucket,
        |    ts, event_id, value AS v FROM events),
        |r AS (SELECT grp, bucket, v,
        |  ROW_NUMBER() OVER (PARTITION BY grp, bucket
        |    ORDER BY ts ASC, event_id ASC) AS rn_a,
        |  ROW_NUMBER() OVER (PARTITION BY grp, bucket
        |    ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM base)
        |SELECT grp, bucket,
        |  MAX(CASE WHEN rn_a = 1 THEN v END) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN v END) AS close,
        |  COUNT(*) AS n
        |FROM r GROUP BY grp, bucket ORDER BY grp, bucket""".stripMargin,

    // identical to q_ohlc_bars: the streaming path must converge to the
    // batch answer, and complete-mode output after processAllAvailable
    // is deterministic, so the batch oracle gates the incremental run
    "q_ohlc_stream" ->
      """WITH base AS (SELECT event_type AS grp, CAST(ts AS DATE) AS bucket,
        |    ts, event_id, value AS v FROM events),
        |r AS (SELECT grp, bucket, v,
        |  ROW_NUMBER() OVER (PARTITION BY grp, bucket
        |    ORDER BY ts ASC, event_id ASC) AS rn_a,
        |  ROW_NUMBER() OVER (PARTITION BY grp, bucket
        |    ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM base)
        |SELECT grp, bucket,
        |  MAX(CASE WHEN rn_a = 1 THEN v END) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN v END) AS close,
        |  COUNT(*) AS n
        |FROM r GROUP BY grp, bucket ORDER BY grp, bucket""".stripMargin,

    // the twice-delivered stream must collapse back to the plain batch
    // rollup — a doubled (dedup miss) or missing (over-drop) key fails
    "q_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the batch twin of the streamed archive's read-back: identical
    // shape/partition derivation over events, aggregated per partition
    "q_stream_archive" ->
      """WITH a AS (SELECT event_id AS id, epoch_ns(ts) // 1000 AS us,
        |    year(ts) AS year, month(ts) AS month FROM events)
        |SELECT CAST(year AS BIGINT) AS year, CAST(month AS BIGINT) AS month,
        |  COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_sum,
        |  CAST(MIN(us) AS BIGINT) AS min_us, CAST(MAX(us) AS BIGINT) AS max_us
        |FROM a GROUP BY year, month ORDER BY year, month""".stripMargin,

    // VERBATIM the q_sessionize oracle (referenced, not copied, so the
    // two can never drift): a 30-min-gap session is the same object
    // whether found by the lag algebra or by the streaming
    // session_window state machine, and the complete-mode sink after
    // processAllAvailable is deterministic — so the batch
    // sessionization SQL gates the incremental run at the per-user
    // grain (the q_ohlc_stream pattern).
    "q_stream_sessions" -> RelationalQueries.oracles("q_sessionize"),

    // the batch twin of the watermarked stream-stream join: purchases
    // to same-user signups within 7 days BEFORE the purchase —
    // integer-µs bounds mirror the timestamp-interval condition exactly
    "q_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |p AS (SELECT event_id AS p_id, user_id, us AS p_us FROM e
        |  WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id, us AS s_us FROM e
        |  WHERE event_type = 'signup')
        |SELECT p_id, s_id FROM p JOIN s USING (user_id)
        |WHERE s_us <= p_us AND s_us >= p_us - 604800000000
        |ORDER BY p_id, s_id""".stripMargin,

    "q_attribution" ->
      """WITH s AS (SELECT user_id, event_id, event_type AS et,
        |    epoch_ns(ts) // 1000 AS us FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT user_id, event_id, et, us,
        |  LAST_VALUE(CASE WHEN et = 'click' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_id,
        |  LAST_VALUE(CASE WHEN et = 'click' THEN us END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_us
        |  FROM s)
        |SELECT event_id AS conv_id, user_id, us AS conv_us,
        |  CASE WHEN t_us >= us - 604800000000 THEN t_id END AS touch_id,
        |  CASE WHEN t_us >= us - 604800000000 THEN us - t_us END AS gap_us
        |FROM w WHERE et = 'purchase' ORDER BY conv_id""".stripMargin,

    "q_vocab_oov" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM t
        |  GROUP BY tok ORDER BY c DESC, tok ASC LIMIT 1000)),
        |j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM t LEFT JOIN v ON t.tok = v.tok)
        |SELECT doc_id, COUNT(*) AS total_toks,
        |  CAST(SUM(oov) AS BIGINT) AS oov_toks,
        |  CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_cdc_apply" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |base AS (SELECT * FROM e WHERE event_id % 7 != 0),
        |ch AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 13 != 0 AND event_id % 17 = 0
        |      THEN value + 10.0 ELSE value END AS value,
        |    CASE WHEN event_id % 13 = 0 THEN 'D'
        |         WHEN event_id % 17 = 0 THEN 'U'
        |         WHEN event_id % 7 = 0 THEN 'I' END AS op
        |  FROM e
        |  WHERE event_id % 13 = 0 OR event_id % 17 = 0 OR event_id % 7 = 0)
        |SELECT event_id, event_type, value FROM base
        |WHERE event_id NOT IN (SELECT event_id FROM ch)
        |UNION ALL
        |SELECT event_id, event_type, value FROM ch WHERE op != 'D'
        |ORDER BY event_id""".stripMargin,

    "q_quantile_norm" ->
      """WITH c AS (SELECT event_id AS id, event_type AS grp, value AS v
        |  FROM events),
        |r AS (SELECT id, grp, v,
        |  RANK() OVER (PARTITION BY grp ORDER BY v ASC) AS r,
        |  COUNT(*) OVER (PARTITION BY grp) AS n FROM c)
        |SELECT id, grp, v,
        |  CASE WHEN n = 1 THEN 0.0
        |       ELSE CAST(r - 1 AS DOUBLE) / (n - 1) END AS pr
        |FROM r ORDER BY id""".stripMargin,

    "q_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type AS et,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |  WHERE et = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, s1.t1, MIN(e.us) AS t2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t1
        |  WHERE et = 'click' GROUP BY e.user_id, s1.t1),
        |s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.us) AS t3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t2
        |  WHERE et = 'purchase' GROUP BY e.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3,
        |  t2 - t1 AS lat12_us, t3 - t2 AS lat23_us
        |FROM s3 ORDER BY user_id""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (SELECT user_id AS k, event_id AS tie,
        |    epoch_ns(ts) // 1000 AS s,
        |    epoch_ns(ts) // 1000 +
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) AS e
        |  FROM events),
        |o AS (SELECT k, s, e, tie,
        |  CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR s > MAX(e) OVER (PARTITION BY k ORDER BY s ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  THEN 1 ELSE 0 END AS opens
        |  FROM iv),
        |g AS (SELECT k, s, e,
        |  CAST(SUM(opens) OVER (PARTITION BY k ORDER BY s ASC, tie ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span
        |  FROM o)
        |SELECT k, span, MIN(s) AS span_start, MAX(e) AS span_end,
        |  COUNT(*) AS n_intervals
        |FROM g GROUP BY k, span ORDER BY k, span""".stripMargin,

    "q_gini" ->
      """WITH b AS (SELECT event_type AS grp,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |r AS (SELECT grp, cents, ROW_NUMBER() OVER (PARTITION BY grp
        |    ORDER BY cents ASC) AS rn FROM b),
        |m AS (SELECT grp, COUNT(*) AS n, SUM(cents) AS s,
        |  CAST(SUM(CAST(rn AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))
        |    AS DECIMAL(18,0)) AS wsum FROM r GROUP BY grp)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  round(CAST(CAST(2 AS DECIMAL(18,0)) * wsum AS DOUBLE) /
        |      CAST(CAST(n AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0))
        |        AS DOUBLE) -
        |    CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM m WHERE s > 0 ORDER BY grp""".stripMargin,

    "q_weekly_growth" ->
      """WITH w AS (SELECT event_type,
        |    CAST(date_trunc('week', ts) AS DATE) AS week,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, CAST(n AS BIGINT) AS n,
        |  CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY week)
        |    AS BIGINT) AS prev FROM w)
        |SELECT event_type, week, n, prev,
        |  CASE WHEN prev > 0
        |    THEN CAST(n - prev AS DOUBLE) / prev END AS growth
        |FROM l ORDER BY event_type, week""".stripMargin,

    "q_rolling_median" ->
      """WITH b AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |    value AS v, event_id AS tie FROM events),
        |spine AS (SELECT DISTINCT grp, day FROM b),
        |j AS (SELECT s.grp, s.day, g.v, g.tie
        |  FROM spine s JOIN b g ON s.grp = g.grp
        |    AND g.day <= s.day AND g.day >= s.day - INTERVAL 6 DAY),
        |r AS (SELECT grp, day, v,
        |  ROW_NUMBER() OVER (PARTITION BY grp, day
        |    ORDER BY v ASC, tie ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY grp, day) AS n FROM j)
        |SELECT grp, day, CAST(n AS BIGINT) AS n_window, v AS med
        |FROM r WHERE rn = (n * 50 + 99) // 100
        |ORDER BY grp, day""".stripMargin,

    "q_active_users" ->
      """WITH g AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
        |  FROM events),
        |daily AS (SELECT day, COUNT(DISTINCT u) AS dau FROM g GROUP BY day),
        |spine AS (SELECT DISTINCT day FROM g),
        |rolling AS (SELECT s.day, COUNT(DISTINCT g.u) AS wau
        |  FROM spine s JOIN g ON g.day <= s.day
        |    AND g.day >= s.day - INTERVAL 6 DAY
        |  GROUP BY s.day)
        |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM daily JOIN rolling USING (day) ORDER BY day""".stripMargin,

    // mirrors groupCorrelation: integer moments (hi/lo split for Σcy²),
    // DECIMAL(38,0) closed-form assembly (no HUGEINT — its conversion
    // chain proved engine-version-sensitive at the r11 gate), ONE sqrt
    // per group through round(…, 6) as DOUBLE
    "q_correlation" ->
      """WITH b AS (SELECT event_type AS grp,
        |    CAST(hour(make_timestamp(epoch_ns(ts) // 1000)) AS BIGINT) AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cy FROM events),
        |m AS (SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |  SUM(cy) AS sy,
        |  SUM((cy * cy) // 1000000) AS syy_hi,
        |  SUM((cy * cy) % 1000000) AS syy_lo,
        |  SUM(x * cy) AS sxy FROM b GROUP BY grp),
        |a AS (SELECT grp, n,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS num,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS dx,
        |  CAST(n AS DECIMAL(18,0)) *
        |      CAST(syy_hi * 1000000 + syy_lo AS DECIMAL(18,0)) -
        |    CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS dy
        |  FROM m)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  round(CAST(num AS DOUBLE) /
        |    sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS r
        |FROM a WHERE dx > 0 AND dy > 0 ORDER BY grp""".stripMargin,

    // mirrors Profiling.welchT: identical moment CTE and the verbatim
    // IEEE chain — q_i parenthesized ((n·n)·(n−1)), t as
    // (m_a − m_b)/sqrt(q_a + q_b), df as ((q+q)²)/(q²/(n−1)+q²/(n−1))
    "q_welch_t" ->
      """WITH b AS (SELECT event_type = 'purchase' AS isa,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cy
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |b2 AS (SELECT isa, cy, (cy * cy) // 1000000 AS hi,
        |    (cy * cy) % 1000000 AS lo FROM b),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN isa THEN cy ELSE 0 END) AS BIGINT) AS sy_a,
        |    CAST(SUM(CASE WHEN NOT isa THEN cy ELSE 0 END) AS BIGINT) AS sy_b,
        |    SUM(CASE WHEN isa THEN hi ELSE 0 END) AS hi_a,
        |    SUM(CASE WHEN isa THEN lo ELSE 0 END) AS lo_a,
        |    SUM(CASE WHEN NOT isa THEN hi ELSE 0 END) AS hi_b,
        |    SUM(CASE WHEN NOT isa THEN lo ELSE 0 END) AS lo_b FROM b2),
        |v AS (SELECT n_a, n_b, sy_a, sy_b,
        |    CAST(n_a AS DECIMAL(18,0)) *
        |        CAST(hi_a * 1000000 + lo_a AS DECIMAL(18,0))
        |      - CAST(sy_a AS DECIMAL(18,0)) * CAST(sy_a AS DECIMAL(18,0))
        |      AS va,
        |    CAST(n_b AS DECIMAL(18,0)) *
        |        CAST(hi_b * 1000000 + lo_b AS DECIMAL(18,0))
        |      - CAST(sy_b AS DECIMAL(18,0)) * CAST(sy_b AS DECIMAL(18,0))
        |      AS vb FROM m),
        |q AS (SELECT n_a, n_b, sy_a, sy_b, va, vb,
        |    CAST(va AS DOUBLE) / ((CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
        |      * (CAST(n_a AS DOUBLE) - 1.0)) AS qa,
        |    CAST(vb AS DOUBLE) / ((CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      * (CAST(n_b AS DOUBLE) - 1.0)) AS qb FROM v)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 THEN CAST(sy_a AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * 100.0) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN CAST(sy_b AS DOUBLE) /
        |    (CAST(n_b AS DOUBLE) * 100.0) END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0 OR vb > 0) THEN
        |    round(
        |      (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |        CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      sqrt(qa + qb), 6) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0 OR vb > 0) THEN
        |    round(
        |      ((qa + qb) * (qa + qb)) /
        |      (qa * qa / (CAST(n_a AS DOUBLE) - 1.0) +
        |        qb * qb / (CAST(n_b AS DOUBLE) - 1.0)), 6) END AS df
        |FROM q""".stripMargin,

    // mirrors Profiling.mannWhitney: doubled midranks 2·cprev + t + 1,
    // DECIMAL(38,0) moments (no HUGEINT), identical z parenthesization
    "q_mann_whitney" ->
      """WITH base AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cv
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |c AS (SELECT cv,
        |    SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS b
        |  FROM base GROUP BY cv),
        |c2 AS (SELECT cv, a, b, a + b AS t FROM c),
        |cp AS (SELECT a, b, t,
        |    COALESCE(SUM(t) OVER (ORDER BY cv ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cprev FROM c2),
        |agg AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
        |    CAST(SUM(b) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(a AS DECIMAL(18,0)) *
        |      CAST(2 * cprev + t + 1 AS DECIMAL(18,0)))
        |      AS DECIMAL(18,0)) AS r1d,
        |    CAST(SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) *
        |        CAST(t AS DECIMAL(12,0))
        |      - CAST(t AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS tcorr
        |  FROM cp),
        |s1 AS (SELECT n_a, n_b,
        |    r1d - CAST(n_a AS DECIMAL(18,0)) *
        |      CAST(n_a + 1 AS DECIMAL(18,0)) AS u2x,
        |    CAST(n_a + n_b AS DECIMAL(12,0)) *
        |        CAST(n_a + n_b AS DECIMAL(12,0)) *
        |        CAST(n_a + n_b AS DECIMAL(12,0))
        |      - CAST(n_a + n_b AS DECIMAL(18,0)) - tcorr AS s,
        |    n_a + n_b AS nn FROM agg)
        |SELECT n_a, n_b, CAST(u2x AS DOUBLE) / 2.0 AS u,
        |  CASE WHEN s > 0 THEN round(
        |    CAST(u2x - CAST(n_a AS DECIMAL(18,0)) *
        |      CAST(n_b AS DECIMAL(18,0)) AS DOUBLE) /
        |    (2.0 * sqrt(
        |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
        |        CAST(s AS DOUBLE)) /
        |      (12.0 * CAST(nn AS DOUBLE) *
        |        (CAST(nn AS DOUBLE) - 1.0)))), 6)
        |  END AS z
        |FROM s1""".stripMargin,

    // mirrors Profiling.ksTest: DECIMAL(38,0) deviation numerators on
    // the distinct-value grid; the sqrt·(dmax/nanb) parenthesization is
    // copied exactly so both engines run the identical IEEE ops
    "q_ks_test" ->
      """WITH base AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cv
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |c AS (SELECT cv,
        |    SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS b
        |  FROM base GROUP BY cv),
        |cum AS (SELECT cv, SUM(a) OVER w AS ca, SUM(b) OVER w AS cb
        |  FROM c WINDOW w AS (ORDER BY cv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT MAX(ca) AS n_a, MAX(cb) AS n_b FROM cum),
        |m AS (SELECT n_a, n_b,
        |    MAX(abs(CAST(ca AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
        |      CAST(cb AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))))
        |      AS dmax
        |  FROM cum, t WHERE n_a > 0 AND n_b > 0 GROUP BY n_a, n_b)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(dmax AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d,
        |  round(
        |    sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |      CAST(n_a + n_b AS DOUBLE)) *
        |    (CAST(dmax AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS ks
        |FROM m""".stripMargin,

    // mirrors Profiling.groupRegression: the q_correlation moment CTE
    // plus the intercept numerator; cents → value units folds the /100
    // into each division's denominator so it stays ONE IEEE op
    "q_group_regression" ->
      """WITH b AS (SELECT event_type AS grp,
        |    CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cy FROM events),
        |m AS (SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |  SUM(cy) AS sy,
        |  SUM((cy * cy) // 1000000) AS syy_hi,
        |  SUM((cy * cy) % 1000000) AS syy_lo,
        |  SUM(x * cy) AS sxy FROM b GROUP BY grp),
        |a AS (SELECT grp, n,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS num,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS dx,
        |  CAST(n AS DECIMAL(18,0)) *
        |      CAST(syy_hi * 1000000 + syy_lo AS DECIMAL(18,0)) -
        |    CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS dy,
        |  CAST(sy AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0)) AS ic
        |  FROM m)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  round(CAST(num AS DOUBLE) /
        |    (CAST(dx AS DOUBLE) * 100.0), 6) AS slope,
        |  round(CAST(ic AS DOUBLE) /
        |    (CAST(dx AS DOUBLE) * 100.0), 6) AS intercept,
        |  CASE WHEN dy > 0 THEN round(
        |    (CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) /
        |    (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) END AS r2
        |FROM a WHERE dx > 0 ORDER BY grp""".stripMargin,

    "q_chi_square" ->
      """WITH b AS (SELECT event_type AS r,
        |    CAST(value >= 50.0 AS INTEGER) AS c FROM events),
        |obs AS (SELECT r, c, COUNT(*) AS o FROM b GROUP BY 1, 2),
        |cells AS (SELECT rr.r, cc.c, COALESCE(obs.o, 0) AS o
        |  FROM (SELECT DISTINCT r FROM obs) rr
        |  CROSS JOIN (SELECT DISTINCT c FROM obs) cc
        |  LEFT JOIN obs ON obs.r = rr.r AND obs.c = cc.c),
        |m AS (SELECT r, c, o,
        |  SUM(o) OVER (PARTITION BY r) AS rs,
        |  SUM(o) OVER (PARTITION BY c) AS cs,
        |  SUM(o) OVER () AS nn FROM cells),
        |k AS (SELECT COUNT(DISTINCT r) AS nr, COUNT(DISTINCT c) AS nc
        |  FROM cells),
        |dv AS (SELECT nn, rs, cs,
        |  CAST(CAST(o AS DECIMAL(18,0)) * CAST(nn AS DECIMAL(18,0)) -
        |    CAST(rs AS DECIMAL(18,0)) * CAST(cs AS DECIMAL(18,0))
        |    AS DOUBLE) AS dev FROM m),
        |tm AS (SELECT nn, CAST(round(
        |    (dev * dev) /
        |    ((CAST(nn AS DOUBLE) * CAST(rs AS DOUBLE)) * CAST(cs AS DOUBLE)),
        |    6) AS DECIMAL(28,6)) AS term FROM dv)
        |SELECT CAST(SUM(term) AS DOUBLE) AS chi2,
        |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
        |  CAST(nn AS BIGINT) AS n
        |FROM tm, k GROUP BY nr, nc, nn""".stripMargin,

    "q_changepoint" ->
      """WITH d AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS cents,
        |    COUNT(*) AS n_day
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT grp, day,
        |  SUM(cents) OVER w AS c_t, SUM(n_day) OVER w AS n_t
        |  FROM d WINDOW w AS (PARTITION BY grp ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT grp, SUM(cents) AS s_total, SUM(n_day) AS n_total,
        |  COUNT(*) AS n_days FROM d GROUP BY grp),
        |sc AS (SELECT c.grp, c.day,
        |  abs(CAST(t.n_total AS DECIMAL(18,0)) *
        |      CAST(c.c_t AS DECIMAL(18,0)) -
        |    CAST(c.n_t AS DECIMAL(18,0)) *
        |      CAST(t.s_total AS DECIMAL(18,0))) AS score,
        |  t.n_days FROM c JOIN t USING (grp)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
        |    ORDER BY score DESC, day ASC) AS rk FROM sc)
        |SELECT grp, day AS change_day,
        |  CAST(score AS VARCHAR) AS score_str,
        |  CAST(n_days AS BIGINT) AS n_days
        |FROM r WHERE rk = 1 ORDER BY grp""".stripMargin,

    "q_daily_dense" ->
      """WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
        |    CAST(max(ts) AS DATE) AS hi FROM events),
        |spine AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |t AS (SELECT DISTINCT event_type AS grp FROM events),
        |c AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT t.grp, spine.day, COALESCE(c.n, 0) AS n
        |FROM spine CROSS JOIN t
        |LEFT JOIN c ON c.grp = t.grp AND c.day = spine.day
        |ORDER BY t.grp, spine.day""".stripMargin,

    "q_expectations" ->
      """WITH n AS (SELECT COUNT(*) AS n_checked FROM orders),
        |rr AS (
        |  SELECT 'key_not_null' AS rule,
        |    (SELECT n_checked FROM n) AS n_checked,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations FROM orders
        |  UNION ALL SELECT 'price_in_range', (SELECT n_checked FROM n),
        |    CAST(SUM(CASE WHEN NOT (o_totalprice > 0.0 AND
        |      o_totalprice < 1000000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM orders
        |  UNION ALL SELECT 'status_in_domain', (SELECT n_checked FROM n),
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'date_not_future', (SELECT n_checked FROM n),
        |    CAST(SUM(CASE WHEN o_orderdate > DATE '2002-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'key_unique', (SELECT n_checked FROM n),
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |    FROM orders
        |  UNION ALL SELECT 'custkey_referential', (SELECT n_checked FROM n),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
        |SELECT rule, n_checked, n_violations FROM rr
        |ORDER BY rule""".stripMargin,

    // mirrors linearAttribution: per-(conv, touch) credit = exact
    // ⌊10⁶/n⌋ ppm with the mod-n remainder on the lowest touch_id
    // (each conversion pays out exactly 10⁶); BIGINT sums throughout
    "q_attribution_linear" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |t AS (SELECT user_id, event_id AS touch_id, us AS t_us FROM e
        |  WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id AS conv_id, us AS c_us FROM e
        |  WHERE event_type = 'purchase'),
        |p AS (SELECT conv_id, touch_id FROM c JOIN t USING (user_id)
        |  WHERE t_us <= c_us
        |  AND t_us >= c_us - 7 * 86400 * CAST(1000000 AS BIGINT)),
        |n AS (SELECT conv_id, touch_id,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n_touches,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY touch_id)
        |      AS rk FROM p)
        |SELECT touch_id, COUNT(*) AS n_convs,
        |  CAST(SUM(1000000 // n_touches + CASE WHEN rk = 1
        |    THEN 1000000 % n_touches ELSE 0 END) AS BIGINT)
        |    AS credit_ppm
        |FROM n GROUP BY touch_id ORDER BY touch_id""".stripMargin,

    // DuckDB dayofweek is 0-based (Sunday = 0); Spark's is 1-based
    "q_seasonality_dow" ->
      """WITH b AS (SELECT CAST(dayofweek(
        |    make_timestamp(epoch_ns(ts) // 1000)) + 1 AS INT) AS dow
        |  FROM events),
        |c AS (SELECT dow, COUNT(*) AS n FROM b GROUP BY dow),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT dow, n,
        |  CAST((n * 7000000000) // total AS BIGINT) AS idx_ppb
        |FROM c, t ORDER BY dow""".stripMargin,

    "q_user_growth" ->
      """WITH f AS (SELECT user_id,
        |    MIN(date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)))
        |      AS hr
        |  FROM events GROUP BY user_id),
        |d AS (SELECT hr, COUNT(*) AS new_users FROM f GROUP BY hr)
        |SELECT hr, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS total_users
        |FROM d ORDER BY hr""".stripMargin,

    // mirrors q_rfm_segments: same tie-broken NTILE orders; ints
    // concatenated through VARCHAR casts
    "q_rfm_segments" ->
      """WITH p AS (SELECT user_id,
        |    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT MAX(day) AS anchor FROM p),
        |rfm AS (SELECT user_id,
        |    CAST(date_diff('day', MAX(day), (SELECT anchor FROM a))
        |      AS INT) AS r_days,
        |    COUNT(*) AS f, CAST(SUM(cents) AS BIGINT) AS m_cents
        |  FROM p GROUP BY user_id),
        |q AS (SELECT user_id, r_days, f, m_cents,
        |  CAST(NTILE(4) OVER (ORDER BY r_days ASC, user_id) AS INT) AS r_q,
        |  CAST(NTILE(4) OVER (ORDER BY f DESC, user_id) AS INT) AS f_q,
        |  CAST(NTILE(4) OVER (ORDER BY m_cents DESC, user_id) AS INT) AS m_q
        |  FROM rfm)
        |SELECT user_id, r_days, f, CAST(m_cents AS DOUBLE) / 100.0 AS m,
        |  r_q, f_q, m_q,
        |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
        |    CAST(m_q AS VARCHAR) AS segment
        |FROM q ORDER BY user_id""".stripMargin,

    // mirrors interpolateHourly: min-collapsed points, lead segments,
    // hour marks via generate_series on µs BIGINTs, one raw IEEE
    // division per mark (exact int64 inputs ⇒ engine-identical bits)
    "q_interpolate" ->
      """WITH base AS (SELECT user_id AS k,
        |    CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cv
        |  FROM events WHERE user_id < 40),
        |pts AS (SELECT k, us, MIN(cv) AS cv FROM base GROUP BY k, us),
        |seg AS (SELECT k, us, cv, LEAD(us) OVER w AS nus,
        |    LEAD(cv) OVER w AS ncv
        |  FROM pts WINDOW w AS (PARTITION BY k ORDER BY us)),
        |valid AS (SELECT * FROM seg WHERE nus IS NOT NULL
        |  AND nus - us <= 48 * 3600 * CAST(1000000 AS BIGINT)),
        |marks AS (SELECT k, us, cv, nus, ncv,
        |    unnest(generate_series((us // 3600000000 + 1) * 3600000000,
        |      (nus // 3600000000) * 3600000000, 3600000000)) AS t
        |  FROM valid
        |  WHERE (us // 3600000000 + 1) <= (nus // 3600000000))
        |SELECT k AS user_id, make_timestamp(t) AS ts_hour,
        |  CAST(cv * (nus - t) + ncv * (t - us) AS DOUBLE) /
        |    CAST((nus - us) * 100 AS DOUBLE) AS v_interp
        |FROM marks ORDER BY user_id, ts_hour""".stripMargin,

    "q_anomaly_robust" ->
      """WITH b AS (SELECT event_id AS id, event_type AS grp, value AS v
        |  FROM events),
        |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
        |    ORDER BY v ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY grp) AS n FROM b),
        |m AS (SELECT grp, MAX(CASE WHEN rn = (n * 50 + 99) // 100
        |    THEN v END) AS med FROM r1 GROUP BY grp),
        |d AS (SELECT b.id, b.grp, b.v, abs(b.v - m.med) AS ad
        |  FROM b JOIN m USING (grp)),
        |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
        |    ORDER BY ad ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY grp) AS n FROM d),
        |md AS (SELECT grp, MAX(CASE WHEN rn = (n * 50 + 99) // 100
        |    THEN ad END) AS mad FROM r2 GROUP BY grp),
        |f AS (SELECT d.id, d.grp, d.v, d.ad, md.mad
        |  FROM d JOIN md USING (grp) WHERE md.mad > 0)
        |SELECT id, grp, v, ad / mad AS robust_score
        |FROM f WHERE ad >= 3.5 * mad
        |ORDER BY id""".stripMargin,

    "q_temporal_split" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |u AS (SELECT user_id,
        |  COUNT(CASE WHEN us < epoch_us(TIMESTAMP '2024-01-22 00:00:00')
        |    THEN 1 END) AS n_train_u,
        |  COUNT(CASE WHEN us >= epoch_us(TIMESTAMP '2024-01-22 00:00:00')
        |    THEN 1 END) AS n_val_u
        |  FROM e GROUP BY user_id)
        |SELECT CAST(SUM(n_train_u) AS BIGINT) AS n_train,
        |  CAST(SUM(n_val_u) AS BIGINT) AS n_val,
        |  COUNT(CASE WHEN n_train_u > 0 THEN 1 END) AS train_users,
        |  COUNT(CASE WHEN n_val_u > 0 THEN 1 END) AS val_users,
        |  COUNT(CASE WHEN n_train_u > 0 AND n_val_u > 0 THEN 1 END)
        |    AS leaky_users
        |FROM u""".stripMargin,

    "q_winsorize" ->
      """WITH r AS (SELECT event_id AS id, event_type AS grp, value AS v,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC)
        |    AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
        |b AS (SELECT grp,
        |  MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo,
        |  MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi
        |  FROM r GROUP BY grp)
        |SELECT id, grp, v, GREATEST(LEAST(v, hi), lo) AS v_clipped
        |FROM r JOIN b USING (grp)
        |ORDER BY id""".stripMargin,

    // mirrors groupPercentilesCont: integer interpolation in
    // ten-thousandths of a cent, one /10000.0 at the end
    "q_percentile_cont" ->
      """WITH r AS (SELECT event_type AS grp,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cv,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
        |    CAST(round(value * 100, 0) AS BIGINT) ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
        |a AS (SELECT grp, MAX(n) AS n_rows,
        |  MAX(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN cv END) AS lo50,
        |  MAX(CASE WHEN rn = ((n - 1) * 50) // 100 + 2 THEN cv END) AS hi50,
        |  MAX(CASE WHEN rn = ((n - 1) * 90) // 100 + 1 THEN cv END) AS lo90,
        |  MAX(CASE WHEN rn = ((n - 1) * 90) // 100 + 2 THEN cv END) AS hi90,
        |  MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN cv END) AS lo99,
        |  MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 2 THEN cv END) AS hi99
        |  FROM r GROUP BY grp)
        |SELECT grp, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(lo50 * (100 - (n_rows - 1) * 50 % 100) +
        |    COALESCE(hi50, lo50) * ((n_rows - 1) * 50 % 100) AS DOUBLE)
        |    / 10000.0 AS p50,
        |  CAST(lo90 * (100 - (n_rows - 1) * 90 % 100) +
        |    COALESCE(hi90, lo90) * ((n_rows - 1) * 90 % 100) AS DOUBLE)
        |    / 10000.0 AS p90,
        |  CAST(lo99 * (100 - (n_rows - 1) * 99 % 100) +
        |    COALESCE(hi99, lo99) * ((n_rows - 1) * 99 % 100) AS DOUBLE)
        |    / 10000.0 AS p99
        |FROM a ORDER BY grp""".stripMargin,

    // dense spine + lag, then the q_correlation moment CTE verbatim on
    // (prev, count·100) integer pairs
    "q_autocorr" ->
      """WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
        |    CAST(max(ts) AS DATE) AS hi FROM events),
        |spine AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |t AS (SELECT DISTINCT event_type AS grp FROM events),
        |c AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2),
        |dense AS (SELECT t.grp, spine.day, COALESCE(c.n, 0) AS cnt
        |  FROM spine CROSS JOIN t
        |  LEFT JOIN c ON c.grp = t.grp AND c.day = spine.day),
        |lagged AS (SELECT grp, cnt,
        |    LAG(cnt, 1) OVER (PARTITION BY grp ORDER BY day) AS prev
        |  FROM dense),
        |b AS (SELECT grp, CAST(prev AS BIGINT) AS x, cnt * 100 AS cy
        |  FROM lagged WHERE prev IS NOT NULL),
        |m AS (SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |  SUM(cy) AS sy,
        |  SUM((cy * cy) // 1000000) AS syy_hi,
        |  SUM((cy * cy) % 1000000) AS syy_lo,
        |  SUM(x * cy) AS sxy FROM b GROUP BY grp),
        |a AS (SELECT grp, n,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS num,
        |  CAST(n AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0)) -
        |    CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS dx,
        |  CAST(n AS DECIMAL(18,0)) *
        |      CAST(syy_hi * 1000000 + syy_lo AS DECIMAL(18,0)) -
        |    CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS dy
        |  FROM m)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  round(CAST(num AS DOUBLE) /
        |    sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS r
        |FROM a WHERE dx > 0 AND dy > 0 ORDER BY grp""".stripMargin,

    "q_group_percentiles" ->
      """WITH r AS (SELECT event_type AS grp, value AS v,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC)
        |    AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM events)
        |SELECT grp, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS p50,
        |  MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS p90,
        |  MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS p99
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,

    "q_event_transitions" ->
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) // 1000 AS us,
        |    event_id, event_type AS from_type FROM events),
        |p AS (SELECT from_type, LEAD(from_type) OVER (PARTITION BY u
        |    ORDER BY us ASC, event_id ASC) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_column_profile" ->
      """WITH s AS (SELECT COUNT(*) AS n_rows,
        |  COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
        |  COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
        |    CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
        |  COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
        |    CAST(MIN(o_orderstatus) AS VARCHAR) AS mn3,
        |    CAST(MAX(o_orderstatus) AS VARCHAR) AS mx3,
        |  COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
        |    CAST(MIN(o_totalprice) AS VARCHAR) AS mn4,
        |    CAST(MAX(o_totalprice) AS VARCHAR) AS mx4,
        |  COUNT(o_orderdate) AS nn5, COUNT(DISTINCT o_orderdate) AS nd5,
        |    CAST(MIN(o_orderdate) AS VARCHAR) AS mn5,
        |    CAST(MAX(o_orderdate) AS VARCHAR) AS mx5,
        |  COUNT(o_orderpriority) AS nn6,
        |    COUNT(DISTINCT o_orderpriority) AS nd6,
        |    CAST(MIN(o_orderpriority) AS VARCHAR) AS mn6,
        |    CAST(MAX(o_orderpriority) AS VARCHAR) AS mx6
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, n_rows, nn1 AS n_nonnull,
        |    nd1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM s
        |  UNION ALL SELECT 'o_custkey', n_rows, nn2, nd2, mn2, mx2 FROM s
        |  UNION ALL SELECT 'o_orderstatus', n_rows, nn3, nd3, mn3, mx3 FROM s
        |  UNION ALL SELECT 'o_totalprice', n_rows, nn4, nd4, mn4, mx4 FROM s
        |  UNION ALL SELECT 'o_orderdate', n_rows, nn5, nd5, mn5, mx5 FROM s
        |  UNION ALL SELECT 'o_orderpriority', n_rows, nn6, nd6, mn6, mx6
        |    FROM s)
        |ORDER BY col_name""".stripMargin
  )
}
