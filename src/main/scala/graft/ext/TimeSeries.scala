package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series rollups over an event stream — the downsampling and
  * attribution operators an archival engine runs over its own event
  * tables (the reference's IoT framing, README.md:3-7, is exactly this
  * shape: device telemetry keyed by time).
  */
object TimeSeries {

  /** OHLC bars: per (group, day) open/high/low/close/count — the
    * canonical telemetry downsample, in batch and streaming alike.
    * `open`/`close` are the values of the earliest/latest row under the
    * TOTAL order (ts, tieCol), so the result is deterministic even with
    * duplicate timestamps. The bucket is `to_date(ts)` in the session
    * time zone (the oracle's `CAST(ts AS DATE)`).
    *
    * Shape: open/close are lexicographic MIN/MAX over (µs, tie, value)
    * structs — associative, commutative and mergeable — so all five
    * columns come from one two-phase aggregation on (group, bucket):
    * one hash exchange, no window, no join. A streaming aggregation
    * keeps one struct per (group, bucket) as state, not the rows;
    * streaming callers run it in complete mode, where nothing is
    * evicted, so no watermark is needed. The output is unordered: a
    * sort here would re-sort the whole result table in every
    * micro-batch, so callers order what they read.
    */
  def ohlcBars(events: DataFrame, groupCol: String, tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val key = struct(unix_micros(col(tsCol)).as("us"), col(tieCol).as("tie"),
      col(valueCol).as("v"))
    events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("bucket"))
      .agg(min(key).getField("v").as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(key).getField("v").as("close"),
        count(lit(1)).as("n"))
  }

  /** Strictly-ordered multi-step funnel: for each user, the first
    * completion of step1 < step2 < step3 in TIME order (each step must
    * happen strictly after the previous step's chosen occurrence — the
    * semantics product funnels actually need; a user who purchased
    * before clicking does not convert). Emits only fully-converted
    * users with per-step timestamps and latencies, exact integer µs.
    *
    * Scale shape: three filtered projections of one scan, each step a
    * user-keyed two-phase MIN aggregation joined to the previous
    * step's frame on user_id — every stage keys on user_id, so at a
    * rewrite all three reuse one partitioning; no window, no
    * cross-user state. Earlier-step frames shrink monotonically
    * (conversion funnels contract), so the joins get cheaper per step.
    */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, step1: String, step2: String, step3: String): DataFrame = {
    val e = events.select(col(userCol).as("user_id"),
      col(typeCol).as("et"), unix_micros(col(tsCol)).as("us"))
    val s1 = e.filter(col("et") === step1)
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = e.filter(col("et") === step2)
      .join(s1, "user_id").filter(col("us") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("us")).as("t2"))
    val s3 = e.filter(col("et") === step3)
      .join(s2, "user_id").filter(col("us") > col("t2"))
      .groupBy(col("user_id"), col("t1"), col("t2")).agg(min(col("us")).as("t3"))
    s3.select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (col("t2") - col("t1")).as("lat12_us"),
        (col("t3") - col("t2")).as("lat23_us"))
      .orderBy(col("user_id"))
  }

  /** Interval coalescing: merge overlapping-or-touching [start, end]
    * intervals per key into maximal covered spans — the
    * occupancy/coverage operator (machine-busy windows, session spans
    * with VARIABLE per-event durations — which gap-based sessionization
    * cannot express, because a long interval can bridge events whose
    * start-gaps exceed any fixed threshold).
    *
    * Classic running-max formulation: within each key, order by
    * (start, tie); a row opens a NEW span iff its start exceeds the
    * max end seen so far (strictly after — touching merges); span id =
    * running sum of the open flags; then one agg per (key, span).
    * All integer arithmetic — engine-exact.
    *
    * Scale shape: one (key) window + one (key, span) two-phase agg that
    * reuses the same hash partitioning — the sessionization cost class;
    * state is one running max per partition scan.
    */
  def coalesceIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("s").asc, col("tie").asc)
    val prevMaxEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    df.select(col(keyCol).as("k"), col(startCol).as("s"),
        col(endCol).as("e"), col(tieCol).as("tie"))
      .withColumn("opens",
        when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("span",
        sum(col("opens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("k"), col("span"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col("k"), col("span"))
  }

  /** Last-touch attribution: each `convEvent` row (e.g. purchase) is
    * attributed to the same user's most recent PRIOR `touchEvent` (e.g.
    * click) within `windowDays` — the marketing/causal-join pattern that
    * is NOT an as-of join across tables but a carry-forward within one
    * ordered stream. Unattributed conversions are kept with null
    * `touch_id` (the funnel's denominator).
    *
    * Implementation: one (user) window over the filtered two-type
    * stream, `last(_, ignoreNulls)` over rows [−∞, −1] carries the
    * latest touch id AND its µs timestamp; the window cutoff is exact
    * integer microseconds. Strictly-prior means earlier under the total
    * (ts, event_id) order, so simultaneous touch/convert rows resolve
    * deterministically by id.
    *
    * Scale shape: one hash exchange on user_id (the stream is filtered
    * to two event types first, so the window input is the touch+convert
    * subset, not the full table), then a map-side filter. Per-user
    * in-partition sort only — the standard sessionization cost.
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, touchType: String,
      convType: String, windowDays: Int): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val stream = events
      .filter(col(typeCol) === touchType || col(typeCol) === convType)
      .select(col(userCol).as("user_id"), col(idCol).as("event_id"),
        col(typeCol).as("et"), unix_micros(col(tsCol)).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touchId = when(col("et") === touchType, col("event_id"))
    val touchUs = when(col("et") === touchType, col("us"))
    val winUs = lit(windowDays.toLong * 86400L * 1000000L)
    stream
      .withColumn("touch_id", last(touchId, ignoreNulls = true).over(w))
      .withColumn("touch_us", last(touchUs, ignoreNulls = true).over(w))
      .filter(col("et") === convType)
      .select(col("event_id").as("conv_id"), col("user_id"), col("us").as("conv_us"),
        when(col("touch_us") >= col("us") - winUs, col("touch_id")).as("touch_id"),
        when(col("touch_us") >= col("us") - winUs, col("us") - col("touch_us"))
          .as("gap_us"))
      .orderBy(col("conv_id"))
  }

  /** Dense daily counts with gap filling: per (group, day) event counts
    * over the FULL [min_day, max_day] date spine — absent days emit 0
    * instead of vanishing, which is the difference between a downsample
    * and a time series (rolling averages, anomaly baselines, and
    * charting all break on implicit gaps). The spine generates from a
    * broadcast 1-row bounds frame via `sequence` + `explode` — the
    * dimension-generation shape nothing else in the registry exercises.
    *
    * Scale shape: counts aggregate two-phase on (group, day); the spine
    * is days × groups (tiny, corpus-independent) built from TWO
    * broadcast frames — the crossJoin is spine-sized, never row-sized —
    * and the zero-fill is a left join of that small dense frame against
    * the aggregated counts. All integers ⇒ engine-exact.
    */
  def denseDailyCounts(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val bounds = events.agg(min(to_date(col(tsCol))).as("lo"),
      max(to_date(col(tsCol))).as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val groups = events.select(col(groupCol).as("grp")).distinct()
    val counts = events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    spine.crossJoin(broadcast(groups))
      .join(counts, Seq("grp", "day"), "left")
      .select(col("grp"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("grp"), col("day"))
  }

  /** Daily + rolling-window active users (DAU / WAU): per day, the
    * exact distinct-user count that day and over the trailing `windowDays`
    * — the engagement metrics every event pipeline publishes, plus the
    * stickiness ratio dau/wau (a pure integer quotient). Rolling
    * DISTINCT cannot ride a window frame (distinct isn't
    * frame-aggregable); the standard exact formulation is a banded
    * self-join: the deduplicated (day, user) activity grid joins the
    * day spine within [day − w + 1, day], then counts distinct per
    * spine day.
    *
    * Scale shape: the corpus collapses to the (day, user) DISTINCT grid
    * first (days × active users, ≪ events); the band join fans each
    * grid row to ≤ w spine days (bounded ×w blowup of the grid, never
    * of the corpus) and the distinct count is the standard two-shuffle
    * expansion. At 100 TB pre-aggregate the grid per (day, user-bucket)
    * and the same join counts HLL sketches instead — same shape, one
    * contract swap.
    */
  def activeUsers(events: DataFrame, tsCol: String, userCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val grid = events.select(to_date(col(tsCol)).as("day"),
      col(userCol).as("u")).distinct()
    val daily = grid.groupBy(col("day"))
      .agg(countDistinct(col("u")).as("dau"))
    val spine = grid.select(col("day")).distinct()
    // band-explode → EQUI join (r15): the day-sized spine fans out to
    // its windowDays candidate days, so the grid joins on an exact
    // date key — the raw `datediff BETWEEN` condition had no equi key
    // at all and planned as a nested-loop join (every grid row scanned
    // the whole spine; at 100 TB the grid is corpus-sized and that is
    // a scan-multiplier scale bug, not just local cost). Each matched
    // (spine day, grid day) pair corresponds to exactly ONE offset, so
    // the match multiset — and therefore the rolling distinct — is
    // identical.
    // the exploded spine is PROVABLY bounded (days-in-span × w rows)
    // while the grid is corpus-scale — broadcast it EXPLICITLY (r16):
    // the auto-broadcast threshold happens to pick it at bench scale,
    // but a 100 TB planner working from estimates could silently flip
    // this to a sort-merge join that shuffles the whole grid
    val rolling = broadcast(spine
      .select(col("day"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(col("day"), date_sub(col("day"), col("off")).as("gday")))
      .as("s")
      .join(grid.as("g"), col("s.gday") === col("g.day"))
      .groupBy(col("s.day").as("day"))
      .agg(countDistinct(col("g.u")).as("wau"))
    daily.join(rolling, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Trailing-window exact median per (group, day): for each day a
    * group was active, the PERCENTILE_DISC(0.5) of every raw value in
    * the trailing `windowDays` — the robust smoothing a drift monitor
    * plots where a rolling MEAN would chase single spikes. A rolling
    * median cannot ride a window frame (rank selection isn't
    * frame-aggregable, exactly like rolling DISTINCT in
    * [[activeUsers]]); the exact formulation is the same banded
    * self-join: rows join the day spine within [day − w + 1, day],
    * then the median is rank-SELECTED at integer index
    * (n·50 + 99) div 100 under the (value, tie) total order — the
    * [[graft.ext.Profiling.groupPercentiles]] machinery on a
    * (group, day) grid. The output value is a COPY of an input value,
    * so it is bit-exact on any engine.
    *
    * Scale shape: the band join fans raw rows ≤ w× (bounded, never
    * quadratic); rank selection partitions by (group, day) — the same
    * key the join produces, so one exchange feeds both. At 100 TB a
    * window whose row count outgrows a partition swaps to
    * approx_percentile per (group, day) with the same contract modulo
    * sketch error (DEPLOY.md).
    */
  def rollingMedian(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, idCol: String, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val rows = events.select(col(groupCol).as("grp"),
      to_date(col(tsCol)).as("day"), col(valueCol).as("v"),
      col(idCol).as("tie"))
    val spine = rows.select(col("grp"), col("day")).distinct()
    // band-explode → EQUI join (r15, the activeUsers treatment): the
    // spine fans out to its windowDays candidate days so the join key
    // is the exact (grp, day) pair. The raw `grp == grp AND datediff
    // BETWEEN` form was keyed on grp ALONE — a handful of distinct
    // values, so a handful of tasks carried the whole quadratic
    // day-scan (measured: the join dominated this query's exec); at
    // 100 TB a low-cardinality join key is a skew wall. Each matched
    // (spine day, row day) pair corresponds to exactly ONE offset, so
    // the joined multiset — and the rank-selected median — is
    // identical.
    // the exploded spine is PROVABLY bounded (groups × days-in-span ×
    // w) while `rows` is the raw corpus — broadcast it EXPLICITLY
    // (r16, the activeUsers reasoning): threshold-independent, so a
    // 100 TB planner can't flip this into shuffling every raw row by
    // (grp, gday) for a sort-merge join
    val joined = broadcast(spine
      .select(col("grp"), col("day"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(col("grp"), col("day"),
        date_sub(col("day"), col("off")).as("gday")))
      .as("s")
      .join(rows.as("g"), col("s.grp") === col("g.grp") &&
        col("s.gday") === col("g.day"))
      .select(col("s.grp").as("grp"), col("s.day").as("day"),
        col("g.v").as("v"), col("g.tie").as("tie"))
    val w = Window.partitionBy(col("grp"), col("day"))
      .orderBy(col("v").asc, col("tie").asc)
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("grp"), col("day"))))
      .filter(col("rn") === expr("(n * 50 + 99) div 100"))
      .select(col("grp"), col("day"), col("n").as("n_window"),
        col("v").as("med"))
      .orderBy(col("grp"), col("day"))
  }

  /** Exact CUSUM changepoint per group: the day t maximizing
    * |Σ_{s≤t} x_s − (n_t/N)·S| — the classic mean-shift statistic —
    * computed ENTIRELY in integers: values quantize to cents once
    * (exact for money-like doubles), and the statistic scales by N to
    * clear the division: score_t = |N·C_t − n_t·S| with C_t the
    * cumulative cents, n_t the cumulative count, S/N the group totals.
    * No float ever enters, so the argmax day is bit-reproducible on
    * any engine — the property a data-drift alert must have to avoid
    * flapping across recomputes. Ties break to the earliest day.
    *
    * Scale shape: one (group, day) two-phase agg collapses the corpus
    * to the daily grid; the cumulative window and the argmax run on
    * that grid (days × groups, corpus-independent); group totals join
    * back from a broadcast-sized frame. Products go through
    * DECIMAL(38,0): N·C_t at petabyte row counts overflows int64, and
    * decimal keeps the arithmetic exact instead of silently wrapping.
    */
  def changepoints(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // per-row cents are int64 (exact for money-like doubles), but every
    // SUM of them runs in DECIMAL(38,0): the guard below reads these
    // sums, and a BIGINT sum that wrapped before the guard evaluated
    // could wrap back UNDER the 10^18 bound and pass with corrupted
    // factors (ADVICE r13) — decimal sums make the guard input itself
    // un-wrappable (10^38 cents is beyond any physical corpus)
    val daily = events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * 100, 0).cast("long")
          .cast("decimal(38,0)")).as("cents"),
        count(lit(1)).as("n_day"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("c_t", sum(col("cents")).over(wCum))
      .withColumn("n_t", sum(col("n_day")).over(wCum))
    val totals = daily.groupBy(col("grp"))
      .agg(sum(col("cents")).as("s_total"), sum(col("n_day")).as("n_total"),
        count(lit(1)).as("n_days"),
        // Σ|cents| bounds EVERY factor below (|c_t| and |s_total| by
        // the triangle inequality, n_t and n_total trivially), so one
        // broadcast-side guard covers all four casts; summed in
        // DECIMAL(38,0) (cents is decimal), so the guard input cannot
        // itself have wrapped in a non-ANSI session
        sum(abs(col("cents"))).as("abs_total"))
    // DECIMAL(18,0) × DECIMAL(18,0) → width-36 exact products and a
    // width-37 subtraction on BOTH engines — strictly UNDER the 38
    // cap, so no engine's overflow/cap rule is ever consulted (at 19,0
    // the subtraction needs width 39 and behavior at the cap could
    // vary across builds — the r11 lesson generalized). The wide score
    // stays ENGINE-INTERNAL: it only feeds the argmax ordering, where
    // exact-integer comparison is representation-independent. Three
    // rounds of gate evidence (r10–r12) showed a decimal128(38,0)
    // OUTPUT column is itself not portable across DuckDB builds at the
    // value/hash-serialization layer, so the emitted score is the
    // exact digit string instead — integer-to-decimal-digits is fully
    // specified on every engine. Domain bound: each FACTOR (cumulative
    // cents, total cents, counts) must fit DECIMAL(18,0), i.e. group
    // |cents| totals under 10^18 = 10^16 currency units. The explicit
    // guard below raises a NAMED error when a group exceeds the bound
    // — in ANY ANSI mode. (Under ANSI the overflowing cast would throw
    // anyway, but cryptically; under non-ANSI it would return NULL,
    // and a NULL score sorts last, silently electing a wrong
    // change_day — the one failure a drift alert must not have.) The
    // score product is then exact up to |N·C| < 10^36 — petabyte-safe.
    val d18 = "decimal(18,0)"
    val d18Max = lit(999999999999999999L)
    val scored = cum.join(broadcast(totals), Seq("grp"))
      .withColumn("score",
        when(col("abs_total") <= d18Max && col("n_total") <= d18Max,
          abs(col("n_total").cast(d18) * col("c_t").cast(d18) -
            col("n_t").cast(d18) * col("s_total").cast(d18)))
          .otherwise(raise_error(lit("changepoints: group cents " +
            "magnitude exceeds the exact DECIMAL(18,0) factor domain " +
            "(sum(|cents|) or count >= 10^18)"))))
    val wBest = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("day").asc)
    scored
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("grp"), col("day").as("change_day"),
        col("score").cast("string").as("score_str"),
        col("n_days"))
      .orderBy(col("grp"))
  }

  /** First-order Markov transition matrix over per-user event streams:
    * count and conditional probability of each (from_type → to_type)
    * step under the (ts, tie) total order — the user-journey summary a
    * behavioural pipeline derives before sequence modelling. No
    * reference analogue (north star, SURVEY §2.9).
    *
    * Determinism: successor pairs are fixed by the (ts, tie) total
    * order; counts are integers and p = n / Σn per from_type is a
    * single integer-ratio double quotient — engine-identical bits.
    *
    * Scale shape: ONE hash exchange on the user key feeds the lead()
    * window (the sessionization cost class), then the pair counts
    * collapse two-phase onto the tiny (type × type) grid; the
    * conditional-probability window runs on that grid, never the
    * corpus. At 100 TB the only big exchange is the user one, which an
    * events lake bucketed by user_id eliminates entirely.
    */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("u"))
      .orderBy(col("ts").asc, col("tie").asc)
    val pairs = events
      .select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(tieCol).as("tie"), col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val grid = Window.partitionBy(col("from_type"))
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum(col("n")).over(grid).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Linear (equal-split) multi-touch attribution — the fairness twin
    * of [[lastTouchAttribution]]: every touch inside the conversion's
    * lookback window shares credit 1/n equally. Credit per (conversion,
    * touch) is the exact integer ⌊10⁶/n⌋ parts-per-million, with the
    * floor-division remainder (10⁶ mod n, up to n−1 ppm) assigned to
    * the conversion's LOWEST touch_id — so every conversion's credits
    * sum to EXACTLY 10⁶ ppm (conservation: per-touch totals sum to
    * 10⁶ × conversions, the invariant downstream budget splits rely
    * on — ADVICE r12), per-touch totals are exact BIGINT sums
    * (order-independent), and everything is cross-engine identical
    * with zero float ops. Returns per-touch totals.
    *
    * Scale shape: the stream filters to the two event types FIRST,
    * then one user-keyed band join (touch ≤ conv ≤ touch + window —
    * the stream-stream-join state shape); the per-conversion count
    * rides a window over the JOINED pairs partitioned by conversion.
    * Per-user fan-out is touches × conversions inside the window —
    * bounded by activity density, the same bound the watermarked
    * streaming join carries.
    */
  def linearAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, touchType: String,
      convType: String, windowDays: Int): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val winUs = windowDays.toLong * 86400L * 1000000L
    val touches = events.filter(col(typeCol) === touchType)
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        unix_micros(col(tsCol)).as("t_us"))
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        unix_micros(col(tsCol)).as("c_us"))
    val pairs = convs.join(touches, Seq("user_id"))
      .filter(col("t_us") <= col("c_us") &&
        col("t_us") >= col("c_us") - lit(winUs))
    val perConv = Window.partitionBy(col("conv_id"))
    val perConvOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("touch_id").asc)
    pairs
      .withColumn("n_touches", count(lit(1)).over(perConv))
      .withColumn("rk", row_number().over(perConvOrd))
      // credit in exact parts-per-million: 10⁶ div n floors identically
      // on every engine (positive integers), the mod-n remainder rides
      // the lowest touch_id (deterministic: ids are unique, unlike
      // timestamps) so each conversion pays out exactly 10⁶, and the
      // per-touch total is an exact BIGINT sum — no float anywhere
      .withColumn("credit_ppm",
        expr("1000000L div n_touches") +
          when(col("rk") === 1, expr("1000000L % n_touches"))
            .otherwise(lit(0L)))
      .groupBy(col("touch_id"))
      .agg(count(lit(1)).as("n_convs"),
        sum(col("credit_ppm")).as("credit_ppm"))
      .orderBy(col("touch_id"))
  }

  /** Linear-interpolation resampling onto exact hour boundaries — the
    * irregular-sensor-to-regular-grid step every time-series feature
    * pipeline needs before windowed models. For each key's consecutive
    * reading pair (t₀,v₀)→(t₁,v₁) with gap ≤ `maxGapHours` (wider gaps
    * are outages: interpolating across them fabricates data), emit
    * every hour mark t in (t₀, t₁] with
    *
    *   v(t) = (v₀·(t₁−t) + v₁·(t−t₀)) / (t₁−t₀)
    *
    * All inputs integer (µs timestamps, cent values): the numerator is
    * exact BIGINT (< 2⁶³ for cents × 48h-µs), ONE double division per
    * output row emitted RAW — int64→double conversion and IEEE division
    * are exactly specified, so the raw quotient is bit-identical on any
    * engine with no rounding step to disagree on. Hour bucketing uses
    * truncating integer division, which equals floor division only for
    * the POSITIVE-epoch timestamps this operator assumes (pre-1970
    * readings would bucket one hour late vs a floor-div engine — guard
    * upstream if that ever matters). Duplicate readings at the same
    * (key, µs) collapse
    * deterministically to the MIN value first (an ill-defined vertical
    * segment otherwise). Each mark is owned by exactly one segment
    * (strictly-after t₀, up-to-and-including t₁), so resampling never
    * duplicates a boundary row.
    *
    * Scale shape: one per-key sort (the lead window), then a row-local
    * GENERATE — no joins at all; fan-out per segment is bounded by
    * maxGapHours, so output ≤ keys × span-hours regardless of reading
    * density (denser input means FEWER generated marks per segment).
    */
  def interpolateHourly(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, maxGapHours: Int = 48): DataFrame = {
    require(maxGapHours >= 1 && maxGapHours <= 24 * 366,
      s"maxGapHours must be in [1, 8784], got $maxGapHours")
    val HourUs = 3600L * 1000000L
    val pts = events.select(col(keyCol).as("k"),
        unix_micros(col(tsCol)).as("us"),
        round(col(valueCol) * 100, 0).cast("long").as("cv"))
      .groupBy(col("k"), col("us")).agg(min(col("cv")).as("cv"))
    val w = Window.partitionBy(col("k")).orderBy(col("us"))
    val seg = pts
      .withColumn("nus", lead(col("us"), 1).over(w))
      .withColumn("ncv", lead(col("cv"), 1).over(w))
      .filter(col("nus").isNotNull &&
        col("nus") - col("us") <= lit(maxGapHours * HourUs))
      .withColumn("first", (expr(s"us div $HourUs") + 1L) * HourUs)
      .withColumn("last", expr(s"nus div $HourUs") * HourUs)
      .filter(col("first") <= col("last"))
    seg.select(col("k"), col("us"), col("cv"), col("nus"), col("ncv"),
        explode(sequence(col("first"), col("last"), lit(HourUs))).as("t"))
      .select(col("k"), timestamp_micros(col("t")).as("ts_hour"),
        ((col("cv") * (col("nus") - col("t")) +
            col("ncv") * (col("t") - col("us"))).cast("double") /
          ((col("nus") - col("us")) * 100L).cast("double"))
          .as("v_interp"))
      .orderBy(col("k"), col("ts_hour"))
  }
}
