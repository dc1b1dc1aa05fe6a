package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{TextAnalysis, TimeSeries}

/** Hand-computed semantics for the time-series rollup/attribution
  * operators and the vocabulary-coverage metric.
  */
class TimeSeriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  // ---- OHLC ------------------------------------------------------------

  test("ohlcBars: open/close follow the (ts, tie) total order — " +
      "including duplicate timestamps — high/low/n by hand") {
    val rows = Seq(
      // day 1, group a: arrival order shuffled on purpose
      (3L, ts("2024-01-01 12:00:00"), "a", 30.0),
      (1L, ts("2024-01-01 08:00:00"), "a", 10.0),  // earliest → open
      (2L, ts("2024-01-01 08:00:00"), "a", 99.0),  // same ts, higher id
      (4L, ts("2024-01-01 20:00:00"), "a", 5.0),   // latest → close, low
      // day 2, group a: single row — open=close=high=low
      (5L, ts("2024-01-02 09:00:00"), "a", 7.0),
      // day 1, group b
      (6L, ts("2024-01-01 10:00:00"), "b", 1.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val out = TimeSeries.ohlcBars(rows, "event_type", "ts", "event_id", "value")
      .orderBy("grp", "bucket")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6))).toSeq
    assert(out == Seq(
      ("a", "2024-01-01", 10.0, 99.0, 5.0, 5.0, 4L),
      ("a", "2024-01-02", 7.0, 7.0, 7.0, 7.0, 1L),
      ("b", "2024-01-01", 1.0, 1.0, 1.0, 1.0, 1L)))
  }

  test("ohlcBars: duplicate-timestamp close resolves to the HIGHEST tie " +
      "id (desc order mirror of open)") {
    val rows = Seq(
      (1L, ts("2024-03-05 10:00:00"), "x", 1.0),
      (2L, ts("2024-03-05 11:00:00"), "x", 2.0),  // same latest ts, id 2
      (3L, ts("2024-03-05 11:00:00"), "x", 3.0)   // same latest ts, id 3 → close
    ).toDF("event_id", "ts", "event_type", "value")
    val r = TimeSeries.ohlcBars(rows, "event_type", "ts", "event_id", "value")
      .head
    assert(r.getDouble(2) == 1.0 && r.getDouble(5) == 3.0)
  }

  // ---- last-touch attribution -----------------------------------------

  test("lastTouchAttribution: latest prior click wins, window cutoff " +
      "is exact, later clicks and missing clicks give null") {
    val rows = Seq(
      // user 1: click(1) then click(2) then purchase(3) → attributed to 2
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-02 00:00:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-03 00:00:00"), 1L, "purchase", 9.0),
      // user 2: click 8 days before purchase → OUTSIDE the 7-day window
      (4L, ts("2024-01-01 00:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-01-09 00:00:01"), 2L, "purchase", 9.0),
      // user 3: purchase with no prior click; click AFTER purchase ignored
      (6L, ts("2024-01-05 00:00:00"), 3L, "purchase", 9.0),
      (7L, ts("2024-01-06 00:00:00"), 3L, "click", 0.0),
      // user 4: click exactly 7 days before → INSIDE (>= cutoff)
      (8L, ts("2024-01-01 00:00:00"), 4L, "click", 0.0),
      (9L, ts("2024-01-08 00:00:00"), 4L, "purchase", 9.0),
      // other event types never attribute
      (10L, ts("2024-01-02 12:00:00"), 1L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TimeSeries.lastTouchAttribution(rows, "user_id", "ts",
        "event_id", "event_type", "click", "purchase", windowDays = 7)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(out == Seq(
      (3L, Some(2L), Some(86400L * 1000000L)),
      (5L, None, None),
      (6L, None, None),
      (9L, Some(8L), Some(7L * 86400L * 1000000L))))
  }

  test("lastTouchAttribution: a same-timestamp click attributes only " +
      "when its id orders BEFORE the purchase") {
    val rows = Seq(
      (1L, ts("2024-02-01 10:00:00"), 1L, "click", 0.0),
      (2L, ts("2024-02-01 10:00:00"), 1L, "purchase", 9.0), // click id 1 < 2 → attributed, gap 0
      (4L, ts("2024-02-01 10:00:00"), 2L, "purchase", 9.0), // click id 5 > 4 → NOT prior
      (5L, ts("2024-02-01 10:00:00"), 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TimeSeries.lastTouchAttribution(rows, "user_id", "ts",
        "event_id", "event_type", "click", "purchase", windowDays = 7)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(out == Seq((2L, Some(1L)), (4L, None)))
  }

  // ---- ordered funnel --------------------------------------------------

  test("funnelSteps: strict ordering per step — pre-signup clicks and " +
      "pre-click purchases don't convert; first qualifying occurrence " +
      "wins; simultaneous events are excluded (strict >)") {
    def row(id: Long, u: Long, t: String, et: String) =
      (id, ts(t), u, et, 0.0)
    val rows = Seq(
      // user 1: clean conversion
      row(1, 1, "2024-01-01 00:00:10", "signup"),
      row(2, 1, "2024-01-01 00:00:20", "click"),
      row(3, 1, "2024-01-01 00:00:30", "purchase"),
      // user 2: click BEFORE signup only → no conversion
      row(4, 2, "2024-01-01 00:00:05", "click"),
      row(5, 2, "2024-01-01 00:00:10", "signup"),
      row(6, 2, "2024-01-01 00:00:30", "purchase"),
      // user 3: purchase before the first post-signup click → no conversion
      row(7, 3, "2024-01-01 00:00:10", "signup"),
      row(8, 3, "2024-01-01 00:00:15", "purchase"),
      row(9, 3, "2024-01-01 00:00:20", "click"),
      // user 4: first post-signup click wins (t2=15), purchase@20 > 15 ok
      row(10, 4, "2024-01-01 00:00:10", "signup"),
      row(11, 4, "2024-01-01 00:00:15", "click"),
      row(12, 4, "2024-01-01 00:00:25", "click"),
      row(13, 4, "2024-01-01 00:00:20", "purchase"),
      // user 5: click exactly AT signup time → strict > excludes it
      row(14, 5, "2024-01-01 00:00:10", "signup"),
      row(15, 5, "2024-01-01 00:00:10", "click"),
      row(16, 5, "2024-01-01 00:00:30", "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TimeSeries.funnelSteps(rows, "user_id", "ts", "event_type",
        "signup", "click", "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      (1L, 10L * 1000000, 10L * 1000000),
      (4L, 5L * 1000000, 5L * 1000000)))
  }

  // ---- interval coalescing --------------------------------------------

  test("coalesceIntervals: overlapping and touching merge, a long " +
      "interval bridges gaps no fixed session threshold could, " +
      "disjoint spans stay separate") {
    val iv = Seq(
      // key a: [0,10] + touching [10,20] + overlapping [15,30] → [0,30]
      (1L, "a", 0L, 10L),
      (2L, "a", 10L, 20L),
      (3L, "a", 15L, 30L),
      // then a gap → [40,45] alone
      (4L, "a", 40L, 45L),
      // key b: LONG [0,100] bridges [50,60] and [90,110] → [0,110]
      (5L, "b", 0L, 100L),
      (6L, "b", 50L, 60L),
      (7L, "b", 90L, 110L)
    ).toDF("tie", "k", "s", "e")
    val out = TimeSeries.coalesceIntervals(iv, "k", "s", "e", "tie")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      ("a", 1L, 0L, 30L, 3L),
      ("a", 2L, 40L, 45L, 1L),
      ("b", 1L, 0L, 110L, 3L)))
  }

  test("coalesceIntervals: contained intervals collapse; equal starts " +
      "resolve by tie deterministically") {
    val iv = Seq(
      (1L, "k", 0L, 100L),
      (2L, "k", 10L, 20L),   // fully contained
      (3L, "k", 0L, 5L)      // same start as tie 1, shorter
    ).toDF("tie", "k", "s", "e")
    val out = TimeSeries.coalesceIntervals(iv, "k", "s", "e", "tie")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq((0L, 100L, 3L)))
  }

  // ---- vocab OOV -------------------------------------------------------

  test("vocabOovRates: top-k vocab under (count desc, token asc) with a " +
      "deterministic tie at the cutoff; per-doc rates by hand") {
    val docs = Seq(
      (1L, "aa aa bb cc"),   // aa:2 bb:1 cc:1
      (2L, "aa bb bb zz")    // aa:1 bb:2 zz:1
    ).toDF("doc_id", "text")
    // counts: aa=3, bb=3, cc=1, zz=1 → vocabSize=3 keeps aa, bb and
    // (tie at count 1 between cc and zz) cc by token order; zz is OOV
    val out = TextAnalysis.vocabOovRates(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq((1L, 4L, 0L, 0.0), (2L, 4L, 1L, 0.25)))
  }

  test("vocabOovRates: vocabSize covering every token gives zero OOV " +
      "everywhere; vocabSize=1 keeps only the top token") {
    val docs = Seq((1L, "x y"), (2L, "x x z")).toDF("doc_id", "text")
    val all = TextAnalysis.vocabOovRates(docs, "text", "doc_id", 10)
      .agg(sum("oov_toks")).head.getLong(0)
    assert(all == 0L)
    // counts: x=3, y=1, z=1 → vocab {x}; doc1 oov=1/2, doc2 oov=1/3
    val top1 = TextAnalysis.vocabOovRates(docs, "text", "doc_id", 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(top1 == Seq((1L, 1L), (2L, 1L)))
  }

  test("eventTransitions: hand-computed successor pairs under the " +
      "(ts, tie) order; conditional p sums to 1 per from_type; " +
      "duplicate timestamps resolve by tie id") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // user 1: A(t0) B(t1) B(t2); user 2: A(t0) C(t0, higher tie) —
    // the user-2 pair exists ONLY because the tie id orders the
    // equal-timestamp rows (A id=10 before C id=11)
    val ev = Seq(
      (1L, t(0), 1L, "A"), (1L, t(1), 2L, "B"), (1L, t(2), 3L, "B"),
      (2L, t(0), 10L, "A"), (2L, t(0), 11L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.eventTransitions(ev, "user_id", "ts",
        "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(
      ("A", "B", 1L, 0.5), ("A", "C", 1L, 0.5), ("B", "B", 1L, 1.0)))
  }

  test("eventTransitions: single-event users contribute nothing; " +
      "p is n over the from_type row total") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // user 1: A A A B (A→A ×2, A→B ×1); user 2: lone A
    val ev = Seq(
      (1L, t(0), 1L, "A"), (1L, t(1), 2L, "A"), (1L, t(2), 3L, "A"),
      (1L, t(3), 4L, "B"), (2L, t(0), 5L, "A"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.eventTransitions(ev, "user_id", "ts",
        "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(("A", "A", 2L, 2.0 / 3.0), ("A", "B", 1L, 1.0 / 3.0)))
  }

  test("denseDailyCounts: gap days emit 0 for EVERY group (the fixture " +
      "has no gaps, so the semantics live here); spine spans exactly " +
      "[min_day, max_day]") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), "A"),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 11:00:00"), "A"),
      (3L, java.sql.Timestamp.valueOf("2024-03-04 09:00:00"), "A"),
      (4L, java.sql.Timestamp.valueOf("2024-03-02 09:00:00"), "B"))
      .toDF("event_id", "ts", "event_type")
    val out = TimeSeries.denseDailyCounts(ev, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2))).toSeq
    assert(out == Seq(
      ("A", "2024-03-01", 2L), ("A", "2024-03-02", 0L),
      ("A", "2024-03-03", 0L), ("A", "2024-03-04", 1L),
      ("B", "2024-03-01", 0L), ("B", "2024-03-02", 1L),
      ("B", "2024-03-03", 0L), ("B", "2024-03-04", 0L)))
  }

  test("activeUsers: hand-computed DAU/WAU — the trailing window counts " +
      "distinct users, not visits, and days outside the band don't leak") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    // d1: u1 (twice!) + u2; d2: u1; d9: u2 (d1/d2 are outside its 7-day
    // trailing band, which covers d3..d9)
    val ev = Seq((1L, t(1), 1L), (2L, t(1), 1L), (3L, t(1), 2L),
      (4L, t(2), 1L), (5L, t(9), 2L))
      .toDF("event_id", "ts", "user_id")
    val out = TimeSeries.activeUsers(ev, "ts", "user_id", windowDays = 7)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("2024-03-01", 2L, 2L, 1.0),
      ("2024-03-02", 1L, 2L, 0.5),
      ("2024-03-09", 1L, 1L, 1.0)))
  }

  test("rollingMedian: hand-computed trailing-2-day PERCENTILE_DISC — " +
      "the lower median on even counts, old days slide out, groups " +
      "never mix") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    val ev = Seq(
      (1L, t(1), "a", 5.0), (2L, t(1), "a", 1.0),   // d1: [1,5]
      (3L, t(2), "a", 3.0),                          // d2 window: [1,3,5]
      (4L, t(3), "a", 9.0),                          // d3 window: [3,9] (d1 out)
      (5L, t(1), "b", 100.0))                        // separate group
      .toDF("event_id", "ts", "event_type", "value")
    val out = TimeSeries.rollingMedian(ev, "event_type", "ts", "value",
        "event_id", windowDays = 2)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getDouble(3))).toSeq
    // d1: n=2, rank (2·50+99)div100 = 1 → 1.0 (PERCENTILE_DISC lower);
    // d2: n=3, rank 2 → 3.0; d3: n=2, rank 1 → 3.0
    assert(out == Seq(
      ("a", "2024-03-01", 2L, 1.0),
      ("a", "2024-03-02", 3L, 3.0),
      ("a", "2024-03-03", 2L, 3.0),
      ("b", "2024-03-01", 1L, 100.0)))
    intercept[IllegalArgumentException] {
      TimeSeries.rollingMedian(ev, "event_type", "ts", "value",
        "event_id", windowDays = 0)
    }
  }

  test("changepoints: hand-computed CUSUM — a 1.0→5.0 level shift after " +
      "day 3 maximizes |N·C_t − n_t·S| exactly at the boundary day; " +
      "flat series score peaks are symmetric-tie-broken to the " +
      "earliest day") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$d%d 12:00:00")
    val ev = (1 to 3).map(d => (d.toLong, t(d), "A", 1.0)) ++
      (4 to 6).map(d => (d.toLong, t(d), "A", 5.0))
    val out = TimeSeries.changepoints(
        ev.toDF("event_id", "ts", "event_type", "value"),
        "event_type", "ts", "value")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getString(2), r.getLong(3)))
    // daily cents 100×3 then 500×3: S=1800, N=6, scores
    // 1200,2400,3600,2400,1200,0 → argmax day 3 with 3600. The score
    // emits as its exact digit string (decimal128 output columns are
    // not portable across oracle builds — r12 gate; the wide decimal
    // stays internal to the argmax ordering).
    assert(out.toSeq == Seq(("A", "2024-03-03", "3600", 6L)))
    // constant series: every score is 0 → earliest day wins the tie
    val flat = (1 to 4).map(d => (d.toLong, t(d), "B", 2.0))
    val f = TimeSeries.changepoints(
        flat.toDF("event_id", "ts", "event_type", "value"),
        "event_type", "ts", "value").collect()(0)
    assert(f.getDate(1).toString == "2024-03-01" &&
      f.getString(2) == "0")
  }

  test("changepoints: the emitted score string is the exact wide " +
      "integer |N*C_t - n_t*S| — verified PAST int64 range, so the " +
      "width-36 decimal product path (not a silently-wrapping long) " +
      "provably produces the digits") {
    // 20 single-event days: ten at 9.9e14 (9.9e16 cents each — exactly
    // double-representable; cumulative C stays under the 10^18
    // DECIMAL(18,0) factor bound) then ten at 0.01 (1 cent).
    // S = 990_000_000_000_000_010, N = 20. Day-k score for k <= 10 is
    // k * |20*9.9e16 - S| = k * 989_999_999_999_999_990 — argmax at
    // the boundary day 10 with 9_899_999_999_999_999_900, which
    // EXCEEDS Long.MaxValue (~9.22e18): only the decimal product
    // chain can emit these digits.
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-${d}%02d 12:00:00")
    val ev = (1 to 10).map(d => (d.toLong, t(d), "A", 9.9e14)) ++
      (11 to 20).map(d => (d.toLong, t(d), "A", 0.01))
    val out = TimeSeries.changepoints(
        ev.toDF("event_id", "ts", "event_type", "value"),
        "event_type", "ts", "value").collect()(0)
    assert(out.getDate(1).toString == "2024-03-10")
    assert(out.getString(2) == "9899999999999999900")
    assert(out.getLong(3) == 20L)
  }

  test("changepoints raises a NAMED error when a group's |cents| sum " +
      "exceeds the DECIMAL(18,0) factor domain — in any ANSI mode " +
      "(non-ANSI would otherwise NULL the score and silently elect a " +
      "wrong change_day)") {
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-${d}%02d 12:00:00")
    // two days at 9e17 cents: abs_total = 1.8e18 > 10^18 - 1
    val ev = Seq((1L, t(1), "A", 9.0e15), (2L, t(2), "A", 9.0e15))
    val e = intercept[Exception] {
      TimeSeries.changepoints(
        ev.toDF("event_id", "ts", "event_type", "value"),
        "event_type", "ts", "value").collect()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t =>
        Option(t.getMessage).toSeq ++ messages(t.getCause))
    assert(messages(e).exists(_.contains("factor domain")),
      s"expected the named domain-guard error, got: $e")
  }

  test("trailing RANGE frame (q_trailing_window semantics): the 1-hour " +
      "frame is inclusive at both bounds and admits variable row " +
      "counts — hand-computed on boundary-spaced events") {
    import org.apache.spark.sql.expressions.Window
    // one type, events at 0s, 1800s, 3600s, 7201s: the 3600s row's
    // trailing hour includes 0s (exactly -3600e6, inclusive) → n=3;
    // the 7201s row reaches back to 3601s → only itself
    val ev = Seq((1L, 0L, 1.0), (2L, 1800L, 2.0), (3L, 3600L, 4.0),
      (4L, 7201L, 8.0)).toDF("event_id", "sec", "value")
    val w = Window.partitionBy(lit(1)).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    val out = ev.select(col("event_id"), (col("sec") * 1000000L).as("us"),
        col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .orderBy(col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq((1L, 1L, 1.0), (2L, 2L, 3.0), (3L, 3L, 7.0),
      (4L, 1L, 8.0)))
  }

  test("interpolateHourly: hand-computed marks — a 00:30→02:30 segment " +
      "emits 01:00 and 02:00 at the exact linear blend; a mark landing " +
      "on the right endpoint copies it; wide gaps emit nothing") {
    import graft.ext.TimeSeries
    val df = Seq(
      // key 1: v ramps 10.00 → 14.00 over 00:30 → 02:30 (gap 2h)
      (1L, "2024-01-01 00:30:00", 10.00),
      (1L, "2024-01-01 02:30:00", 14.00),
      // key 2: next reading exactly ON an hour boundary → that mark
      // must equal the reading itself, exactly once
      (2L, "2024-01-01 05:15:00", 8.00),
      (2L, "2024-01-01 06:00:00", 20.00),
      // key 3: a 72 h outage — no marks across it (cap 48 h)
      (3L, "2024-01-01 00:10:00", 1.00),
      (3L, "2024-01-04 00:10:00", 2.00)
    ).toDF("k", "s", "value")
      .withColumn("ts", to_timestamp(col("s")))
    val out = TimeSeries.interpolateHourly(df, "k", "ts", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2))).toSeq
    // key 1: 01:00 is 30/120 of the way → 10 + 4·0.25 = 11; 02:00 →
    // 10 + 4·(90/120) = 13
    assert(out == Seq(
      (1L, "2024-01-01 01:00:00.0", 11.0),
      (1L, "2024-01-01 02:00:00.0", 13.0),
      (2L, "2024-01-01 06:00:00.0", 20.0)), out.toString)
  }

  test("linearAttribution: hand-computed equal splits — two in-window " +
      "touches get 0.5 per conversion and sum across conversions; " +
      "out-of-window touches earn nothing") {
    import graft.ext.TimeSeries
    val df = Seq(
      (9L, 1L, "click", "2023-10-01 00:00:00"), // far outside 7 d
      (10L, 1L, "click", "2024-01-01 01:00:00"),
      (11L, 1L, "click", "2024-01-01 02:00:00"),
      (20L, 1L, "purchase", "2024-01-01 03:00:00"),
      (21L, 1L, "purchase", "2024-01-01 04:00:00")
    ).toDF("event_id", "user_id", "event_type", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = TimeSeries.linearAttribution(df, "user_id", "ts",
        "event_id", "event_type", "click", "purchase", windowDays = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // credit is exact integer ppm now: 2 × ⌊10⁶/2⌋ = 1 000 000
    assert(out == Seq((10L, 2L, 1000000L), (11L, 2L, 1000000L)),
      out.toString)
  }

  test("linearAttribution conserves credit: with n=3 touches the " +
      "floor-division remainder (10^6 mod 3 = 1 ppm) rides the lowest " +
      "touch_id, so the conversion pays out exactly 10^6") {
    import graft.ext.TimeSeries
    val df = Seq(
      (10L, 1L, "click", "2024-01-01 01:00:00"),
      (11L, 1L, "click", "2024-01-01 02:00:00"),
      (12L, 1L, "click", "2024-01-01 02:30:00"),
      (20L, 1L, "purchase", "2024-01-01 03:00:00")
    ).toDF("event_id", "user_id", "event_type", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = TimeSeries.linearAttribution(df, "user_id", "ts",
        "event_id", "event_type", "click", "purchase", windowDays = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // ⌊10⁶/3⌋ = 333 333; touch 10 (lowest id) gets the +1 remainder
    assert(out == Seq((10L, 1L, 333334L), (11L, 1L, 333333L),
      (12L, 1L, 333333L)), out.toString)
    assert(out.map(_._3).sum == 1000000L, "credit must be conserved")
  }

  test("rfm quartiles (q_rfm_segments semantics): NTILE under the " +
      "(value, user) total order is deterministic across ties") {
    // four users, two tied on frequency — the user_id tie-break pins
    // which side of the quartile boundary each lands on
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 5L), (2L, 5L), (3L, 9L), (4L, 1L)).toDF("u", "f")
    val out = df.withColumn("q", ntile(4).over(
        Window.orderBy(col("f").desc, col("u"))))
      .select(col("u"), col("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // order: (9,u3) (5,u1) (5,u2) (1,u4) → quartiles 1,2,3,4
    assert(out == Map(3L -> 1, 1L -> 2, 2L -> 3, 4L -> 4), out.toString)
  }

  test("interpolateHourly: duplicate readings at one instant collapse " +
      "to the min deterministically; marks are never double-emitted at " +
      "segment boundaries") {
    import graft.ext.TimeSeries
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 6.00), // on-boundary reading
      (1L, "2024-01-01 00:00:00", 4.00), // same instant: min wins → 4
      (1L, "2024-01-01 01:00:00", 8.00),
      (1L, "2024-01-01 02:00:00", 2.00)
    ).toDF("k", "s", "value").withColumn("ts", to_timestamp(col("s")))
    val out = TimeSeries.interpolateHourly(df, "k", "ts", "value")
      .collect()
      .map(r => (r.getTimestamp(1).toString, r.getDouble(2)))
      .toSeq
    // 00:00 itself is NOT re-emitted (marks are strictly after t0);
    // 01:00 and 02:00 each appear once, as the right-endpoint copies
    assert(out == Seq(("2024-01-01 01:00:00.0", 8.0),
      ("2024-01-01 02:00:00.0", 2.0)), out.toString)
  }
}
