package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus/table profiling operators — the data-quality dashboard a
  * curation run reads before and after every transform: value
  * histograms, per-domain (source) corpus stats, and robust outlier
  * flagging. All are one- or two-scan aggregations with broadcastable
  * scalar sides; nothing here shuffles more than one keyed agg.
  */
object Profiling {

  /** Equi-width histogram with data-driven bounds. One scan computes
    * min/max (broadcast single-row), a second bucketizes map-side and
    * runs one two-phase (bucket) count — the profile shape that holds
    * at any scale (contrast: `approx_percentile`-based equi-DEPTH
    * profiles, which this complements, not replaces). Empty buckets
    * are absent from the output (aggregation semantics — documented
    * contract, matches the SQL twin). All arithmetic is IEEE-double
    * with a fixed evaluation order, so any engine produces identical
    * bucket assignment bit-for-bit.
    */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val v = df.select(col(valueCol).as("v")).filter(col("v").isNotNull)
    val mm = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val nB = lit(nBuckets.toDouble)
    v.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("vmin")) * nB / (col("vmax") - col("vmin"))),
            lit(nBuckets - 1L))))
      .groupBy(col("bucket"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (col("vmin") + col("bucket") * (col("vmax") - col("vmin")) / nB).as("lo"),
        (col("vmin") + (col("bucket") + lit(1L)) * (col("vmax") - col("vmin")) / nB).as("hi"),
        col("n"))
      .orderBy(col("bucket"))
  }

  /** Equi-DEPTH histogram (the [[histogram]] complement): `nBuckets`
    * buckets of (near-)equal row count per group via `ntile` under a
    * TOTAL order — `(valueCol asc, tieCol asc)`. ANSI NTILE semantics
    * are engine-identical (the first `n mod k` buckets take one extra
    * row), and the tie column makes the row→bucket assignment — hence
    * each bucket's min/max/count — fully deterministic even when
    * values repeat across a bucket boundary. Bucket bounds are COPIES
    * of input values, never computed, so the output is bit-exact on
    * any engine. This is the sampled-boundaries profile a range
    * partitioner or OPTIMIZE-style layout rewrite consumes.
    *
    * Scale shape: one (group) window + a two-phase (group, bucket)
    * agg — the [[groupPercentiles]] cost class; a group that outgrows
    * a partition swaps to approx_percentile boundaries with the same
    * output contract modulo sketch error (DEPLOY.md).
    */
  def eqdepthHistogram(df: DataFrame, groupCol: String, valueCol: String,
      tieCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").asc, col("tie").asc)
    df.select(col(groupCol).as("grp"), col(valueCol).as("v"),
        col(tieCol).as("tie"))
      .withColumn("bucket", ntile(nBuckets).over(w))
      .groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .orderBy(col("grp"), col("bucket"))
  }

  /** Benford first-significant-digit audit: the distribution of
    * leading digits of a positive money-like column vs the Benford
    * expectation log10(1 + 1/d) — the classic fabricated-/synthetic-
    * data screen an ingest pipeline runs on financial-looking fields.
    * The digit extracts INTEGER-exactly: values quantize to cents
    * once, and the leading digit is the first character of the
    * integer's decimal string — integer-to-string is unambiguous on
    * every engine, unlike float formatting or a log10-based exponent
    * (which can land one-off at powers of ten). The observed share is
    * an exact-integer quotient; the expected share is ONE libm log10
    * per OUTPUT row (≤ 9 rows) through round(…, 6) as DOUBLE — the
    * portable determinism policy for transcendental outputs (round-9
    * decimals proved engine-version-sensitive at the driver gate).
    *
    * Scale shape: one two-phase (digit) count over a map-side
    * projection — the cheapest possible profile — with the total
    * joined back from a broadcast 1-row frame.
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .select(round(col(valueCol) * 100, 0).cast("long").as("c"))
      .filter(col("c") > 0)
      .withColumn("digit",
        substring(col("c").cast("string"), 1, 1).cast("int"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // the total rides a global window over the ≤ 9-row digit frame —
    // one pass, no second corpus scan (the digit frame would feed two
    // consumers otherwise, and AQE does not dedupe the subtree)
    digits
      .withColumn("total", sum(col("n")).over(Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("exp_share"))
      .orderBy(col("digit"))
  }

  /** Per-domain corpus stats over a documents table — the
    * RefinedWeb/Dolma-style per-source curation ledger: volume (docs,
    * chars, whitespace tokens), diversity (distinct languages), and
    * exact-duplicate pressure (docs whose full text occurs elsewhere
    * in the corpus — the same text-keyed shuffle as exact dedup, here
    * counted per source so a polluted domain is visible BEFORE the
    * dedup pass drops its rows).
    *
    * Scale shape: one (text) window for duplicate marking — partition
    * key is the full text, i.e. exact-dedup's shuffle, never a global
    * window — then one (source) two-phase agg. Long sums are exact;
    * the mean is a double quotient of exact longs (engine-identical).
    */
  def domainStats(docs: DataFrame, textCol: String, langCol: String,
      sourceCol: String, charsCol: String): DataFrame = {
    val byText = Window.partitionBy(col(textCol))
    docs.select(col(sourceCol).as("source"), col(langCol).as("lang"),
        col(charsCol).as("n_chars"),
        size(split(col(textCol), " ")).as("n_words"),
        when(count(lit(1)).over(byText) > 1, 1L).otherwise(0L).as("is_dup"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_words")).as("total_words"),
        sum(col("is_dup")).as("dup_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_chars"), col("total_words"), col("dup_docs"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"))
      .orderBy(col("source"))
  }

  /** Exact per-group percentiles (PERCENTILE_DISC semantics): for each
    * requested integer percent p, the value at 1-indexed rank
    * ⌈p·n/100⌉ of the ascending group order — the latency-SLO summary
    * (p50/p90/p99) over telemetry groups. The rank index is computed in
    * INTEGER arithmetic ((n·p + 99) div 100), never float — ceil over
    * doubles can land one-off across engines (0.9·10 is 9.000…002 in
    * IEEE); integers cannot. Rows tied on the value are interchangeable
    * at the selected rank, so the OUTPUT value is deterministic even
    * though row_number among ties is not. Selected values are copied,
    * not computed — bit-exact on any engine.
    *
    * Scale shape: one (group) window — the quantileNorm cost class; the
    * selection collapses two-phase onto the group grid. A group that
    * outgrows a partition swaps to approx_percentile with the same
    * output contract modulo sketch error (DEPLOY.md).
    */
  /** Exact PERCENTILE_CONT twin of [[groupPercentiles]]: linear
    * interpolation at h = (n−1)·p/100 computed ENTIRELY in integers —
    * h's fractional part is m/100 with m = (n−1)·p mod 100, so the
    * interpolated value is (v_lo·(100−m) + v_hi·m) ten-thousandths of
    * a cent: exact BIGINT arithmetic end-to-end over 2-dp values, then
    * ONE division by the constant 10000.0 (the scaled sum is an
    * integer ≤ 2^53, so the double is exact and the division rounds
    * identically on every engine). No libm, no rounding discipline
    * needed — the float-free version of the interpolation every SQL
    * engine implements with engine-specific float rank math.
    *
    * Scale shape: identical to groupPercentiles — one per-group sort
    * (the window), one two-phase agg; p99 of a billion-row group is
    * the same plan as p99 of a thousand-row group.
    */
  def groupPercentilesCont(df: DataFrame, groupCol: String,
      valueCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 99),
      s"percents must be in [1, 99], got $pcts")
    val w = Window.partitionBy(col("grp")).orderBy(col("cv").asc)
    val ranked = df.select(col(groupCol).as("grp"),
        round(col(valueCol) * 100, 0).cast("long").as("cv"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val picks = pcts.flatMap(p => Seq(
      max(when(col("rn") === expr(s"((n - 1) * $p) div 100 + 1"),
        col("cv"))).as(s"lo$p"),
      max(when(col("rn") === expr(s"((n - 1) * $p) div 100 + 2"),
        col("cv"))).as(s"hi$p")))
    val agg = ranked.groupBy(col("grp"))
      .agg(max(col("n")).as("n_rows"), picks: _*)
    val outs = pcts.map { p =>
      val m = expr(s"((n_rows - 1) * $p) % 100")
      // m = 0 ⇒ the hi pick is unused (and may be absent for the last
      // rank); coalesce keeps the arithmetic total
      ((col(s"lo$p") * (lit(100) - m) +
        coalesce(col(s"hi$p"), col(s"lo$p")) * m).cast("double") /
        10000.0).as(s"p$p")
    }
    agg.select(col("grp") +: col("n_rows") +: outs: _*)
      .orderBy(col("grp"))
  }

  def groupPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100], got $pcts")
    val w = Window.partitionBy(col("grp")).orderBy(col("v").asc)
    val ranked = df.select(col(groupCol).as("grp"), col(valueCol).as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val sel = pcts.map(p =>
      max(when(col("rn") === expr(s"(n * $p + 99) div 100"), col("v")))
        .as(s"p$p"))
    ranked.groupBy(col("grp"))
      .agg(max(col("n")).as("n_rows"), sel: _*)
      .orderBy(col("grp"))
  }

  /** Per-group winsorization: clip each value into its group's exact
    * [p_lo, p_hi] PERCENTILE_DISC band — the outlier-capping a feature
    * pipeline applies before normalization/training (heavy-tailed
    * telemetry otherwise dominates scale statistics). Bounds come from
    * [[groupPercentiles]]'s integer-rank selection (values copied, not
    * computed), the clip is a pure two-sided `greatest(least(...))` —
    * every output value is a copy of an input value, so the result is
    * bit-exact on any engine.
    *
    * Scale shape: the percentile pass is one group window; the bounds
    * frame is group-cardinality-sized and broadcasts back onto the
    * row stream — the zscoreOutliers moment-broadcast shape exactly.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, pLo: Int, pHi: Int): DataFrame = {
    require(pLo >= 1 && pHi <= 100 && pLo < pHi,
      s"need 1 <= pLo < pHi <= 100, got ($pLo, $pHi)")
    val bounds = groupPercentiles(df, groupCol, valueCol, Seq(pLo, pHi))
      .select(col("grp"), col(s"p$pLo").as("lo"), col(s"p$pHi").as("hi"))
    df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        col(valueCol).as("v"))
      .join(broadcast(bounds), Seq("grp"))
      .select(col("id"), col("grp"), col("v"),
        greatest(least(col("v"), col("hi")), col("lo")).as("v_clipped"))
      .orderBy(col("id"))
  }

  /** Robust per-group outliers — median/MAD instead of mean/stddev: flag
    * rows with |v − median| ≥ `kCut` · MAD, where MAD is the (exact,
    * PERCENTILE_DISC) median of absolute deviations. The resistant twin
    * of [[zscoreOutliers]]: a handful of extreme values inflate the
    * stddev and mask each other; they cannot move the median, so the
    * robust gate catches what the moment gate dilutes (the standard
    * telemetry-anomaly practice).
    *
    * Determinism: medians are rank-SELECTED copies (the
    * [[groupPercentiles]] integer-rank machinery); |v − median| is one
    * IEEE subtraction per row (bit-deterministic); the flag compares
    * doubles computed identically on any engine, and the reported
    * score is the raw |v−med|/MAD quotient — value copies and three
    * IEEE ops (abs, −, /), bit-identical everywhere with NO engine
    * rounding in the path. Zero-MAD
    * groups (≥ half the rows at the median) have no robust scale and
    * drop out, like sd = 0 in the moment variant.
    *
    * Scale shape: two group windows (value rank, then deviation rank)
    * with the group-sized median/MAD frames broadcast back between —
    * the zscoreOutliers broadcast shape with rank selection instead of
    * decimal moments. Same approx_percentile swap if a group outgrows
    * a partition.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, kCut: Double): DataFrame = {
    require(kCut > 0, s"kCut must be positive, got $kCut")
    def discMedian(in: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("grp")).orderBy(col(vCol).asc)
      in.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
        .groupBy(col("grp"))
        .agg(max(when(col("rn") === expr("(n * 50 + 99) div 100"),
          col(vCol))).as(out))
    }
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      col(valueCol).as("v"))
    val med = discMedian(base, "v", "med")
    val dev = base.join(broadcast(med), Seq("grp"))
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = discMedian(dev, "ad", "mad").filter(col("mad") > 0)
    dev.join(broadcast(mad), Seq("grp"))
      .filter(col("ad") >= lit(kCut) * col("mad"))
      .select(col("id"), col("grp"), col("v"),
        (col("ad") / col("mad")).as("robust_score"))
      .orderBy(col("id"))
  }

  /** Per-group quantile normalization: each value maps to its exact
    * percentile rank within its group — `(rank − 1) / (n − 1)` with
    * RANK semantics (ties share the rank of their first member), the
    * scaling a feature pipeline applies before mixing heterogeneous
    * signals. Pure integer rank/count inputs ⇒ the double quotient is
    * engine-identical; n = 1 groups pin to 0.0 (no div-by-zero).
    *
    * Scale shape: one (group) window — the sessionization cost class;
    * the partition key is the group, never the corpus. A group that
    * outgrows a partition swaps to approx_percentile bucketing with
    * the same output contract modulo sketch error.
    */
  def quantileNorm(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("v").asc)
    df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        col(valueCol).as("v"))
      .withColumn("r", rank().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .select(col("id"), col("grp"), col("v"),
        when(col("n") === 1, lit(0.0))
          .otherwise((col("r") - lit(1L)).cast("double") / (col("n") - lit(1L)))
          .as("pr"))
      .orderBy(col("id"))
  }

  /** Exact per-group Pearson correlation between an integer feature and
    * a money-like double: every moment (Σx, Σx², Σy, Σxy, and the
    * hi/lo-split Σy²) accumulates in integers over cents, the closed
    * form r = (N·Σxy − Σx·Σy) / √((N·Σx² − Σx²ᵗᵒᵗ)(N·Σy² − Σy²ᵗᵒᵗ))
    * assembles in DECIMAL(38,0) (exact at petabyte counts), and ONLY
    * the final quotient touches floating point — one √ per group,
    * emitted through round(…, 6) as DOUBLE (coarse enough to absorb
    * both engine-round differences and int128→double cast ULPs). The
    * feature-correlation profile a training pipeline checks before
    * trusting a signal (`corr` built-in runs float partials whose merge
    * order varies; this one cannot).
    *
    * Scale shape: one two-phase agg of constant-width integer partials
    * — the q_variance_stats machinery with a second variable. Groups
    * with zero variance on either side have no defined r and drop out.
    */
  def groupCorrelation(df: DataFrame, groupCol: String, xCol: Column,
      valueCol: String): DataFrame =
    comoments(df, groupCol, xCol, valueCol)
      .filter(col("dx") > 0 && col("dy") > 0)
      .select(col("grp"), col("n"),
        round(col("num").cast("double") /
          sqrt(col("dx").cast("double") * col("dy").cast("double")), 6)
          .as("r"))
      .orderBy(col("grp"))

  /** Per group `grp`: n, the sums sx, sy, sxx, sxy of x = `xCol` as
    * BIGINT and y = `valueCol` in cents, and the exact DECIMAL(38,0)
    * closed-form numerators num = n·Σxy − Σx·Σy, dx = n·Σx² − (Σx)² and
    * dy = n·Σy² − (Σy)², in one two-phase agg of constant-width
    * partials ([[withCents]]).
    */
  private def comoments(df: DataFrame, groupCol: String, xCol: Column,
      valueCol: String): DataFrame =
    withCents(df.select(col(groupCol).as("grp"), xCol.cast("long").as("x"),
        col(valueCol).as("v")), col("v"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("cents")).as("sy"),
        sum(col("c2_hi")).as("syy_hi"), sum(col("c2_lo")).as("syy_lo"),
        sum(col("x") * col("cents")).as("sxy"))
      .select(col("grp"), col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        cross(col("n"), col("sxy"), col("sx"), col("sy")).as("num"),
        cross(col("n"), col("sxx"), col("sx"), col("sx")).as("dx"),
        cross(col("n"), sumSquares(col("syy_hi"), col("syy_lo")),
          col("sy"), col("sy")).as("dy"))

  /** Exact integer moments of a 2-dp money-like double, one home for
    * [[groupCorrelation]], [[groupRegression]], [[welchT]],
    * [[zscoreOutliers]] and q_variance_stats: `df` plus `cents` (`value`
    * as BIGINT cents), `c2` = cents² and its split `c2_hi` = c2 div 10⁶,
    * `c2_lo` = c2 mod 10⁶. Σc2 (~10²⁰ at scale) is carried as the two
    * exact BIGINT sums of the split, because a single huge decimal
    * differs across engines at the int128→double cast (DuckDB's is not
    * correctly rounded); [[sumSquares]] recombines them exactly in
    * DECIMAL(38,0), [[centsMoments]] in double (both sums < 2⁵³ convert
    * exactly, and the recombination is the same IEEE arithmetic on
    * every engine).
    */
  private[graft] def withCents(df: DataFrame, value: Column): DataFrame =
    df.withColumn("cents", round(value * 100, 0).cast("long"))
      .withColumn("c2", col("cents") * col("cents"))
      .withColumn("c2_hi", expr("c2 div 1000000"))
      .withColumn("c2_lo", col("c2") % 1000000L)

  private val D38 = "decimal(38,0)"

  /** Σc² from the sums of its [[withCents]] split, in DECIMAL(38,0). */
  private def sumSquares(hi: Column, lo: Column): Column =
    hi.cast(D38) * lit(1000000L) + lo.cast(D38)

  /** a·b − c·d, exact in DECIMAL(38,0). */
  private def cross(a: Column, b: Column, c: Column, d: Column): Column =
    a.cast(D38) * b.cast(D38) - c.cast(D38) * d.cast(D38)

  /** Per `group`: n, s1 = Σ`value` (exact through DECIMAL(18,2)) and
    * s2 = Σ`value`² from the [[withCents]] split — double moments that
    * are bit-identical under any partitioning and on any engine.
    */
  private[graft] def centsMoments(df: DataFrame, group: String,
      value: Column): DataFrame =
    withCents(df, value)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(value.cast("decimal(18,2)")).cast("double").as("s1"),
        sum(col("c2_hi")).as("hi"), sum(col("c2_lo")).as("lo"))
      .select(col(group), col("n"), col("s1"),
        ((col("hi").cast("double") * 1000000.0 + col("lo").cast("double")) / 10000.0)
          .as("s2"))

  /** The sample variance (s2 − s1²/n) / (n − 1) of [[centsMoments]]. */
  private[graft] def sampleVariance(n: Column, s1: Column, s2: Column): Column =
    (s2 - s1 * s1 / n) / (n - 1)

  /** Per-group OLS regression of a 2-dp value on an integer regressor —
    * the trend line a drift monitor fits per segment (is `value`
    * rising per day for this event type, and how fast?). Same exact
    * integer-moment machinery as [[groupCorrelation]]: y is cents
    * (exact), x is a small integer, all five sums are exact BIGINT →
    * DECIMAL(38,0) closed forms, then ONE double division per output
    * column emitted through round(…, 6) as DOUBLE:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)        [value/x-unit]
    *   intercept = (Σy·Σxx − Σx·Σxy) / (n·Σxx − Σx²)      [value at x=0]
    *   r²        = num² / (dx·dy)                          [fit quality]
    *
    * (the /100 cents→value rescale folds into the same rounded
    * division). r²'s numerator squares a DECIMAL(38,0) so it runs in
    * double — it is a pure diagnostic ratio in [0,1], where 1-ulp is
    * invisible, and both engines compute the identical IEEE product.
    *
    * Scale shape: one two-phase agg of constant-width integer partials
    * — map-side combine collapses the corpus to one row per group
    * before the shuffle; everything after is group-local arithmetic.
    * Degenerate groups (zero x-variance: slope undefined) drop out,
    * like groupCorrelation.
    */
  def groupRegression(df: DataFrame, groupCol: String, xCol: Column,
      valueCol: String): DataFrame =
    comoments(df, groupCol, xCol, valueCol)
      .select(col("grp"), col("n"), col("num"), col("dx"), col("dy"),
        cross(col("sy"), col("sxx"), col("sx"), col("sxy")).as("ic"))
      .filter(col("dx") > 0)
      .select(col("grp"), col("n"),
        // cents → value units: one division per column, denominator
        // pre-scaled by 100 so the quotient is a single IEEE op
        round(col("num").cast("double") /
          (col("dx").cast("double") * 100.0), 6).as("slope"),
        round(col("ic").cast("double") /
          (col("dx").cast("double") * 100.0), 6).as("intercept"),
        // dy = 0 (constant y) ⇒ num = 0 too: define r² as NULL rather
        // than evaluate 0/0 (NaN in Spark, engine-dependent elsewhere)
        when(col("dy") > 0, round(
          (col("num").cast("double") * col("num").cast("double")) /
            (col("dx").cast("double") * col("dy").cast("double")), 6))
          .as("r2"))
      .orderBy(col("grp"))

  /** Data-contract expectation check: evaluate a set of named row-level
    * rules (each a boolean "violated" predicate) in ONE scan and emit
    * (rule, n_checked, n_violations) — the validation gate a pipeline
    * runs before trusting (or deleting) a batch. Pure integer counts;
    * set-level rules (uniqueness, referential integrity) compose
    * alongside via their own aggregates and union in.
    *
    * Scale shape: one map-side-combined scalar agg regardless of rule
    * count (k conditional sums ride the same pass); the tiny k-row
    * result explodes from a single row — no per-rule scans.
    */
  def expectations(df: DataFrame,
      rowRules: Seq[(String, Column)]): DataFrame = {
    require(rowRules.nonEmpty, "at least one rule required")
    val aggs = count(lit(1)).as("n_checked") +:
      rowRules.map { case (name, violated) =>
        sum(when(violated, 1L).otherwise(0L)).as(s"v_$name") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = rowRules.map { case (name, _) =>
      struct(lit(name).as("rule"), col(s"v_$name").as("n_violations")) }
    one.select(col("n_checked"), explode(array(pairs: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("n_checked"),
        col("r.n_violations"))
      .orderBy(col("rule"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between two groups'
    * value distributions — THE nonparametric drift detector (did this
    * week's `value` distribution shift vs last week's?). D = sup_x
    * |F_a(x) − F_b(x)| computed entirely in integers: at every
    * DISTINCT value the CDF difference is |c_a·n_b − c_b·n_a| /
    * (n_a·n_b), so the supremum is a max over exact DECIMAL(38,0)
    * numerators with ONE division at the end, plus one sqrt for the
    * scaled statistic √(n_a·n_b/(n_a+n_b))·D through the round(…, 6)
    * DOUBLE discipline. Ties inside and across samples are handled
    * by construction — the CDF is evaluated after collapsing to
    * per-value counts, exactly as the definition demands.
    *
    * Scale shape: corpus → per-distinct-value count grid in one
    * two-phase agg (map-side combined); the running sums ride ONE
    * window over the VALUE GRID (cardinality-bounded, like
    * chiSquare's cell windows — never the corpus); totals broadcast
    * back as a 1-row frame. At 10⁹+ rows per side nothing changes:
    * the grid is still |distinct values| rows.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 100, 0).cast("long").as("cv"))
      .groupBy(col("cv"))
      .agg(sum(when(col("g") === groupA, 1L).otherwise(0L)).as("a"),
        sum(when(col("g") === groupB, 1L).otherwise(0L)).as("b"))
    val w = Window.orderBy(col("cv"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
    val tot = cum.agg(max(col("ca")).as("n_a"), max(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      // an absent side makes D a 0/0 — no row beats an engine-flavored
      // NaN (the oracle carries the same guard)
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("n_a"), col("n_b"),
        abs(col("ca").cast(d38) * col("n_b").cast(d38) -
          col("cb").cast(d38) * col("n_a").cast(d38)).as("dev"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dev")).as("dmax"))
      .select(col("n_a"), col("n_b"),
        (col("dmax").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("d"),
        round(
          sqrt((col("n_a").cast("double") * col("n_b").cast("double")) /
            (col("n_a") + col("n_b")).cast("double")) *
          (col("dmax").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("ks"))
  }

  /** Welch's unequal-variance t-test between two groups — the
    * parametric member of the drift-test family ([[ksTest]] shape,
    * [[mannWhitney]] location, this one mean-difference with a df that
    * doesn't pretend variances match). Moments are exact integers
    * (cents, hi/lo-split Σcy² — the q_variance_stats machinery run
    * twice via conditional aggregation in ONE scan); the variance
    * numerators v = n·Σy²−(Σy)² are exact DECIMAL(38,0); everything
    * after is a FIXED chain of IEEE ops mirrored verbatim in the
    * oracle — means as raw doubles, t/df through round(…, 6) as
    * DOUBLE. Degenerate inputs (a side with
    * n < 2, or both variances zero) emit NULL t/df rather than a NaN
    * that hashes differently per engine.
    *
    * Scale shape: one map-side-combined scalar agg — constant-width
    * partials, no shuffle beyond the single-row reduce.
    */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val base = withCents(df.filter(col(groupCol).isin(groupA, groupB))
      .select((col(groupCol) === groupA).as("isa"), col(valueCol).as("v")),
      col("v"))
    def side(flag: Column, c: Column): Column = sum(when(flag, c)
      .otherwise(lit(0L)))
    val m = base.agg(
      side(col("isa"), lit(1L)).as("n_a"),
      side(!col("isa"), lit(1L)).as("n_b"),
      side(col("isa"), col("cents")).as("sy_a"),
      side(!col("isa"), col("cents")).as("sy_b"),
      side(col("isa"), col("c2_hi")).as("hi_a"),
      side(col("isa"), col("c2_lo")).as("lo_a"),
      side(!col("isa"), col("c2_hi")).as("hi_b"),
      side(!col("isa"), col("c2_lo")).as("lo_b"))
    def v(n: Column, sy: Column, hi: Column, lo: Column): Column =
      cross(n, sumSquares(hi, lo), sy, sy)
    val va = v(col("n_a"), col("sy_a"), col("hi_a"), col("lo_a"))
    val vb = v(col("n_b"), col("sy_b"), col("hi_b"), col("lo_b"))
    // q_i = s_i²/n_i = v_i / (n_i² · (n_i − 1)) — cents² cancel in t
    val qa = col("va").cast("double") /
      ((col("n_a").cast("double") * col("n_a").cast("double")) *
        (col("n_a").cast("double") - lit(1.0)))
    val qb = col("vb").cast("double") /
      ((col("n_b").cast("double") * col("n_b").cast("double")) *
        (col("n_b").cast("double") - lit(1.0)))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 &&
      (col("va") > 0 || col("vb") > 0)
    m.select(col("n_a"), col("n_b"), col("sy_a"), col("sy_b"),
        va.as("va"), vb.as("vb"))
      .select(col("n_a"), col("n_b"),
        // an absent side would make the mean 0/0 — NULL beats an
        // engine-flavored NaN. Means are RAW doubles: exact BIGINT
        // inputs, one IEEE division — bit-identical on any engine.
        when(col("n_a") > 0, col("sy_a").cast("double") /
          (col("n_a").cast("double") * lit(100.0))).as("mean_a"),
        when(col("n_b") > 0, col("sy_b").cast("double") /
          (col("n_b").cast("double") * lit(100.0))).as("mean_b"),
        when(ok, round(
          (col("sy_a").cast("double") / col("n_a").cast("double") -
            col("sy_b").cast("double") / col("n_b").cast("double")) /
          sqrt(qa + qb), 6)).as("t"),
        when(ok, round(
          ((qa + qb) * (qa + qb)) /
          (qa * qa / (col("n_a").cast("double") - lit(1.0)) +
            qb * qb / (col("n_b").cast("double") - lit(1.0))), 6))
          .as("df"))
  }

  /** Exact Mann–Whitney U (rank-sum) between two groups — the
    * location-shift companion to [[ksTest]] (is group A's `value`
    * systematically larger, ties and all?). Everything up to the final
    * z is integer-exact: midranks over tied values are half-integers,
    * so DOUBLED midranks 2·c_prev + t + 1 stay in BIGINT-land; the
    * doubled rank-sum gives 2·U₁ = 2R₁ − 2·n₁(n₁+1)/2 exactly, and the
    * tie-corrected variance numerator n₁·n₂·(N³−N−Σ(t³−t)) and
    * denominator 12·N·(N−1) are exact DECIMAL(38,0). One division +
    * one sqrt land in z through the round(…, 6) DOUBLE discipline;
    * all-values-tied degenerates to zero variance → NULL z.
    *
    * Scale shape: identical to ksTest — per-value count grid, one
    * cumulative window over the GRID, one scalar agg. Nothing touches
    * corpus-sized data after the first map-side-combined groupBy.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 100, 0).cast("long").as("cv"))
      .groupBy(col("cv"))
      .agg(sum(when(col("g") === groupA, 1L).otherwise(0L)).as("a"),
        sum(when(col("g") === groupB, 1L).otherwise(0L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    val w = Window.orderBy(col("cv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = counts
      .withColumn("cprev", coalesce(sum(col("t")).over(w), lit(0L)))
      .agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        // Σ a·(2·c_prev + t + 1) = doubled rank-sum of group A
        sum(col("a").cast(d38) *
          (lit(2L) * col("cprev") + col("t") + lit(1L)).cast(d38))
          .as("r1d"),
        sum((col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
          col("t").cast(d38))).as("tcorr"))
    val nn = (col("n_a") + col("n_b")).cast(d38)
    val u2x = col("r1d") -
      col("n_a").cast(d38) * (col("n_a").cast(d38) + lit(1L).cast(d38))
    val s = nn * nn * nn - nn - col("tcorr") // N³−N−Σ(t³−t), exact
    val zDen = lit(2.0) * sqrt(
      (col("n_a").cast("double") * col("n_b").cast("double") *
        col("s").cast("double")) /
      (lit(12.0) * col("nn").cast("double") *
        (col("nn").cast("double") - lit(1.0))))
    agg.select(col("n_a"), col("n_b"), u2x.as("u2x"), s.as("s"), nn.as("nn"))
      .select(col("n_a"), col("n_b"),
        // U₁ itself can be a half-integer under cross-sample ties;
        // halving the exact doubled form is the one exact-dyadic op
        (col("u2x").cast("double") / 2.0).as("u"),
        when(col("s") > 0, round(
          (col("u2x") - col("n_a").cast(d38) * col("n_b").cast(d38))
            .cast("double") / zDen, 6)).as("z"))
  }

  /** Chi-square test of independence over an integer contingency table:
    * χ² = Σ_cells (O·N − rs·cs)² / (N·rs·cs) — the algebraic clearing of
    * the usual (O−E)²/E, so the deviation O·N − rs·cs is ONE exact
    * DECIMAL(38,0) integer per cell; it converts to double once, the
    * square and the ((N·rs)·cs) denominator run in a fixed IEEE chain,
    * and each term lands through round(…, 6) + DECIMAL(28,6) so the
    * per-cell terms still sum exactly (order-independent). Squaring in
    * double (not decimal) avoids the silent DECIMAL(38,0)² overflow →
    * NULL → sum-skips-the-term failure past N ≈ 10⁹. The
    * does-this-feature-depend-on-that-one gate, deterministic enough to
    * gate on.
    *
    * Scale shape: the corpus collapses to the contingency grid
    * (rows × cols cells) in one two-phase count agg; margins come from
    * grid-sized windows (the unpartitioned window runs on CELLS, never
    * rows); everything after is cell-local arithmetic.
    */
  def chiSquare(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val observed = df.select(rowCol.as("r"), colCol.as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("obs"))
    // the FULL grid, not just observed cells: a zero-count cell still
    // contributes (0 − E)²/E — dropping it understates χ² exactly when
    // dependence is strongest (a perfectly dependent 2×2 would read
    // N/2 instead of N)
    val cells = observed.select(col("r")).distinct()
      .crossJoin(broadcast(observed.select(col("c")).distinct()))
      .join(observed, Seq("r", "c"), "left")
      .select(col("r"), col("c"), coalesce(col("obs"), lit(0L)).as("o"))
    val wr = Window.partitionBy(col("r"))
    val wc = Window.partitionBy(col("c"))
    val wAll = Window.partitionBy(lit(1))
    val withMargins = cells
      .withColumn("rs", sum(col("o")).over(wr))
      .withColumn("cs", sum(col("o")).over(wc))
      .withColumn("nn", sum(col("o")).over(wAll))
      .withColumn("nr",
        size(collect_set(col("r")).over(wAll)).cast("long"))
      .withColumn("nc",
        size(collect_set(col("c")).over(wAll)).cast("long"))
    // 18,0 (not 19,0): keeps the product at width 36 and the
    // subtraction at 37, strictly under the 38 cap on both engines
    val d18 = "decimal(18,0)"
    val dev = withMargins("o").cast(d18) * withMargins("nn").cast(d18) -
      withMargins("rs").cast(d18) * withMargins("cs").cast(d18)
    // square in DOUBLE, not decimal: dev² as DECIMAL(38,0)×DECIMAL(38,0)
    // silently overflows to NULL past N≈10⁹ under non-ANSI decimal
    // rules and sum() would skip the term (ADVICE r11). dev itself is
    // one exact DECIMAL(38,0); its →double conversion plus the fixed
    // ((nn·rs)·cs) double product is the identical IEEE chain on both
    // engines, and the per-term round(…, 6) absorbs conversion ULPs.
    val devD = dev.cast("double")
    val term = (devD * devD) /
      ((withMargins("nn").cast("double") * withMargins("rs").cast("double")) *
        withMargins("cs").cast("double"))
    withMargins
      .select(col("nr"), col("nc"), col("nn"),
        round(term, 6).cast("decimal(28,6)").as("term"))
      .groupBy(col("nr"), col("nc"), col("nn"))
      .agg(sum(col("term")).cast("double").as("chi2"))
      .select(col("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("nn").as("n"))
  }

  /** One-pass per-column profile — row/non-null/distinct counts plus
    * string-canonicalized min/max for every requested column: the
    * schema-drift and data-quality summary an archive maintenance job
    * publishes per snapshot (the reference has no profiling at all).
    *
    * Scale shape: ONE table scan. The n-column multi-distinct compiles
    * to Spark's single Expand (×k row multiplication) + two-phase agg —
    * one shuffle of constant-width partials, never k passes; the
    * unpivot then runs on the single result row (driver-trivial
    * explode). At 100 TB this is exactly the plan you want: scan once,
    * aggregate partially map-side, exchange k small states.
    *
    * Determinism: counts are integers; min/max are order-independent
    * and canonicalize through CAST-to-string (identical text for
    * long/string/timestamp across engines — doubles shown with their
    * shortest-round-trip form, which both engines print alike for
    * fixture-range values).
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: $missing")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"nn__$c"),
      countDistinct(col(c)).as(s"nd__$c"),
      min(col(c)).cast("string").as(s"mn__$c"),
      max(col(c)).cast("string").as(s"mx__$c")) }
    val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val entries = array(cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"nn__$c").as("n_nonnull"),
      col(s"nd__$c").as("n_distinct"),
      col(s"mn__$c").as("min_val"),
      col(s"mx__$c").as("max_val"))): _*)
    row.select(col("n_rows"), explode(entries).as("e"))
      .select(col("e.col_name").as("col_name"), col("n_rows"),
        col("e.n_nonnull").as("n_nonnull"),
        col("e.n_distinct").as("n_distinct"),
        col("e.min_val").as("min_val"), col("e.max_val").as("max_val"))
      .orderBy(col("col_name"))
  }

  /** Per-group z-score outliers over a double column, exact: group
    * moments come from integer-cents sums (the `q_variance_stats`
    * hi/lo-split pattern — any partitioning, any engine, same bits),
    * so mean/stddev are bit-identical doubles and the |z| ≥ `zCut`
    * membership is deterministic. Output carries z as round(…, 6)
    * DOUBLE (display stability; the FILTER uses the raw double).
    *
    * Scale shape: one two-phase (group) agg over cents partials, the
    * per-group moments broadcast back (group cardinality = event
    * types, not rows), z map-side. The robust-statistics swap (median
    * + MAD via approx_percentile) keeps this exact shape — only the
    * moment columns change.
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, zCut: Double): DataFrame = {
    require(zCut > 0, s"zCut must be positive, got $zCut")
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      col(valueCol).as("v"))
    val moments = centsMoments(base, "grp", col("v"))
      .select(col("grp"), col("n"), (col("s1") / col("n")).as("mean"),
        // n = 1 guards the (n−1) division, and zero-variance groups
        // (sd = 0) have no outliers by definition — both filtered
        // below. ANSI Spark throws on ANY division by zero, doubles
        // included, so these are correctness guards, not cosmetics.
        sqrt(when(col("n") > 1,
          sampleVariance(col("n"), col("s1"), col("s2")))).as("sd"))
      .filter(col("sd") > 0)
    val z = (col("v") - col("mean")) / col("sd")
    base.join(broadcast(moments), Seq("grp"))
      .filter(abs(z) >= lit(zCut))
      // z emits as round(…, 6) DOUBLE (Spark round = HALF_UP = ties
      // away from zero, matching DuckDB's round — bround's HALF_EVEN
      // diverges on exactly-representable dyadic midpoints like
      // 0.0078125, reachable by rational quotients of exact integers).
      // round(double, 9) → DECIMAL(18,9) proved NON-portable across
      // DuckDB builds (two driver-gate rounds red on bit-level round
      // disagreements at the 9th digit); at 6 digits the multiply-based
      // vs exact-string rounding boundary shrinks by ~10³ per value and
      // no decimal cast (a second engine-flavored rounding) is needed.
      .select(col("id"), col("grp"), col("v"),
        round(z, 6).as("z"))
      .orderBy(col("id"))
  }
}
