package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Curation, Dedup, Similarity, TextAnalysis}

/** Degenerate-input behavior: empty frames, single rows, all-identical
  * corpora — the inputs a 100 TB pipeline WILL eventually feed every
  * operator.
  */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup ops on an empty corpus return empty, not error") {
    assert(Dedup.exactGroups(emptyDocs, "text", "doc_id").isEmpty)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "text", "doc_id", 3, 0.5).isEmpty)
    assert(Dedup.minhashNearDupPairsFromHashedSets(
      Dedup.hashedShingleSets(emptyDocs, "text", "doc_id"), 48, 16, 0.8).isEmpty)
    assert(Dedup.simhashNearDupPairs(emptyDocs, "text", "doc_id").isEmpty)
  }

  test("single-doc corpus: no pairs, one exact group, curation keeps it") {
    val one = Seq((7L, "alpha beta gamma delta " * 6)).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(one, "text", "doc_id", 3, 0.1).isEmpty)
    assert(Dedup.exactGroups(one, "text", "doc_id").count() == 1)
    val curated = Curation.curate(one, "text", "doc_id", minTokens = 5)
    assert(curated.select("doc_id").as[Long].collect().toSeq == Seq(7L))
  }

  test("all-identical corpus collapses to one survivor") {
    val same = (1L to 20L).map(i => (i, "spark join merge sort batch row filter"))
      .toDF("doc_id", "text")
    val curated = Curation.curate(same, "text", "doc_id", minTokens = 3,
      nearDupThreshold = 0.9)
    assert(curated.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("similarity ops on an empty corpus return empty") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDupPairs(emptyVecs, 0.5).isEmpty)
    assert(Similarity.cosineNearDupPairsLsh(emptyVecs, 0.5).isEmpty)
    val q = Seq.empty[(Long, Array[Float])].toDF("query_id", "query_vec")
    assert(Similarity.topKCosine(emptyVecs, q, 5).isEmpty)
  }

  test("text ops tolerate empty strings and single tokens") {
    val odd = Seq((1L, ""), (2L, "solo"), (3L, "two words")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(odd, "text")
      .select("doc_id", "n_tokens").as[(Long, Int)].collect().toMap
    assert(q(1L) == 1 && q(2L) == 1 && q(3L) == 2) // split("") -> [""]
    val fp = odd.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fp.distinct.length == 3)
    val rh = odd.select(TextAnalysis.rollingHash(col("text"))).as[Long].collect()
    assert(rh.length == 3)
  }

  test("round-6 corpus ops on degenerate inputs: empty corpus, " +
      "single/uniform tokens") {
    // empty corpus: every op returns empty, not an error
    assert(Dedup.containmentPairsFromSets(
      Dedup.shingleSets(emptyDocs, "text", "doc_id"), 0.9).isEmpty)
    assert(TextAnalysis.tokenEntropy(emptyDocs, "text", "doc_id").isEmpty)
    assert(TextAnalysis.charClasses(emptyDocs, "text", "doc_id").isEmpty)
    assert(TextAnalysis.zipfSlope(emptyDocs, "text").count() == 1) // global agg row
    // one distinct token ⇒ regression denominator 0: slope must be
    // NULL (not NaN — ANSI rejects casting NaN to decimal; engines
    // disagree on NaN anyway), and the query must not throw
    val oneTok = Seq((1L, "x x x"), (2L, "x x")).toDF("doc_id", "text")
    val zs = TextAnalysis.zipfSlope(oneTok, "text").collect()(0)
    assert(zs.getLong(0) == 1L && zs.isNullAt(1))
    // all-one-token doc: entropy must be exactly +0.0 (not -0.0 — the
    // 0− formulation), uniform k tokens: exactly ln(k)
    val docs = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
    val ent = TextAnalysis.tokenEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").select("entropy").as[Double].collect()
    assert(ent(0) == 0.0 &&
      java.lang.Double.doubleToRawLongBits(ent(0)) == 0L, "must be +0.0")
    // per-term DECIMAL(18,9) rounding ⇒ up to 4 × 5e-10 from ln(4)
    assert(math.abs(ent(1) - math.log(4)) < 3e-9)
    // containment: a doc fully embedded in a longer one scores 1.0
    // even though Jaccard is far below threshold
    val subset = Seq(
      (1L, "p q r s t"),                          // 3 shingles
      (2L, "p q r s t u v w x y z a b c d e f")) // superset text
      .toDF("doc_id", "text")
    val cp = Dedup.containmentPairsFromSets(
        Dedup.shingleSets(subset, "text", "doc_id", 3), 0.99)
      .select("a_id", "b_id", "containment")
      .as[(Long, Long, Double)].collect()
    assert(cp.toSeq == Seq((1L, 2L, 1.0)))
    assert(Dedup.ngramJaccardPairs(subset, "text", "doc_id", 3, 0.99).isEmpty)
    // prefix-filtered containment: same degenerate behavior — empty in
    // empty out, the fully-embedded doc found at threshold 0.99 even
    // when the subset doc has a ONE-element prefix (n_sh=3, t=0.99 ⇒
    // prefix length 3−3+1=1), and a single-doc corpus yields no pairs
    assert(Dedup.containmentPairsPrefix(
      Dedup.hashedShingleSets(emptyDocs, "text", "doc_id"), 0.9).isEmpty)
    val cpp = Dedup.containmentPairsPrefix(
        Dedup.hashedShingleSets(subset, "text", "doc_id", 3), 0.99)
      .select("a_id", "b_id", "containment")
      .as[(Long, Long, Double)].collect()
    assert(cpp.toSeq == Seq((1L, 2L, 1.0)))
    assert(Dedup.containmentPairsPrefix(
      Dedup.hashedShingleSets(
        Seq((1L, "p q r s t")).toDF("doc_id", "text"), "text", "doc_id"),
      0.9).isEmpty)
  }

  test("audio decode degenerate payloads: empty, null, truncated WAV") {
    assert(graft.ext.Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
    assert(graft.ext.Multimodal.decodeAudio(null).isEmpty)
    // a WAV header chopped mid-stream must not throw
    val full = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](64)), fmt, 32L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    assert(graft.ext.Multimodal.decodeAudio(full).isDefined)
    assert(graft.ext.Multimodal.decodeAudio(full.take(20)).isEmpty)
  }

  test("asof semantics: purchase with no prior signup yields null, not a drop") {
    // user 1: signup then purchase; user 2: purchase only
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "signup"),
      (2L, "2024-01-01 12:00:00", 1L, "purchase"),
      (3L, "2024-01-01 09:00:00", 2L, "purchase"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("user_id"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(col("event_type") === "purchase", 1).otherwise(0),
        col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val out = ev
      .withColumn("signup_ts", when(col("event_type") === "signup", col("ts")))
      .withColumn("last_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "last_signup_ts")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(2L).isDefined)
    assert(out(3L).isEmpty) // kept, with null — not silently dropped
  }

  test("cohort retention: hand-built events — first-signup week anchors " +
      "the cohort, no-signup users are excluded, ratios exact") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 and 2024-01-08 are Mondays (week starts).
    // u1: signup wk1, active wk1+wk2. u2: signup wk1 only.
    // u3: signup wk2, active wk2+wk3. u4: purchase only -> excluded.
    val rows = Seq(
      (1L, ts("2024-01-02 10:00:00"), 1L, "signup", 1.0, "{}"),
      (2L, ts("2024-01-09 10:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 2L, "signup", 1.0, "{}"),
      (4L, ts("2024-01-10 11:00:00"), 3L, "signup", 1.0, "{}"),
      (5L, ts("2024-01-17 11:00:00"), 3L, "purchase", 1.0, "{}"),
      (6L, ts("2024-01-04 09:00:00"), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_cohort").toString
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_cohort_retention")(spark, dir)
      .select("cohort_week", "week_offset", "n_active", "n_cohort", "retention")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq(
      ("2024-01-01", 0, 2L, 2L, 1.0),   // u1, u2 active in signup week
      ("2024-01-01", 1, 1L, 2L, 0.5),   // only u1 returns
      ("2024-01-08", 0, 1L, 1L, 1.0),   // u3
      ("2024-01-08", 1, 1L, 1L, 1.0)))  // u3 returns
  }

  test("round-9 ops on degenerate inputs: empty corpus, sub-width docs, " +
      "null text, single-bigram corpus; PCA refuses n < 2 loudly") {
    import graft.ext.{Dedup, Pca, TextAnalysis}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.bigramNll(empty, "text", "doc_id").isEmpty)
    assert(Dedup.duplicatedSpans(empty, "text", "doc_id", 3).isEmpty)
    // every doc below bigram/span width → empty output, not error
    val short = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramNll(short, "text", "doc_id").isEmpty)
    assert(Dedup.duplicatedSpans(short, "text", "doc_id", 2).isEmpty)
    // null text drops out of both (split(null) → null → no rows)
    val withNull = Seq((1L, null), (2L, "a b a b"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.bigramNll(withNull, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
    // single doc "a a": one bigram type with prob 1 → nll exactly +0.0
    val one = Seq((1L, "a a")).toDF("doc_id", "text")
    val nll = TextAnalysis.bigramNll(one, "text", "doc_id")
      .select("nll").as[Double].head()
    assert(nll == 0.0 &&
      java.lang.Double.doubleToRawLongBits(nll) == 0L) // +0.0, not -0.0
    // span width guard + PCA minimum-rows guard fail loudly
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(short, "text", "doc_id", 1)
    }
    val oneVec = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.fit(oneVec, "embedding", k = 1, dim = 2)
    }
  }

  test("round-10 operators on empty/degenerate inputs return empty or " +
      "identity, never error") {
    import graft.ext.{Layout, Profiling, TimeSeries}
    import graft.ops.Archive
    val emptyEv = Seq.empty[(Long, String, Double)]
      .toDF("event_id", "event_type", "value")
    // profiling trio: empty in → empty out (no div-by-zero on null min/max)
    assert(Profiling.histogram(emptyEv, "value", 10).isEmpty)
    assert(Profiling.zscoreOutliers(emptyEv, "event_type", "value",
      "event_id", 3.0).isEmpty)
    assert(Profiling.quantileNorm(emptyEv, "event_type", "value",
      "event_id").isEmpty)
    // zscore on a zero-variance group: sd = 0 → z = NaN, which the
    // abs >= cut filter rejects — constant streams flag nothing
    val const = Seq((1L, "g", 5.0), (2L, "g", 5.0), (3L, "g", 5.0))
      .toDF("event_id", "event_type", "value")
    assert(Profiling.zscoreOutliers(const, "event_type", "value",
      "event_id", 3.0).isEmpty)
    // layout: empty in → empty out
    val emptyXY = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Layout.zorderBucketStats(emptyXY, "x", "y", 8, 16).isEmpty)
    // a single point lands in bucket 0 with degenerate spans
    val pt = Layout.zorderBucketStats(Seq((7L, 9L)).toDF("x", "y"), "x", "y", 8, 16)
      .collect()
    assert(pt.length == 1 && pt.head.getLong(0) == 0L &&
      pt.head.getLong(2) == 7L && pt.head.getLong(4) == 9L)
    // time series: empty streams
    val emptyTs = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(TimeSeries.ohlcBars(emptyTs, "event_type", "ts", "event_id",
      "value").isEmpty)
    assert(TimeSeries.lastTouchAttribution(emptyTs, "user_id", "ts",
      "event_id", "event_type", "click", "purchase", 7).isEmpty)
    assert(TimeSeries.coalesceIntervals(
      Seq.empty[(Long, Long, Long, Long)].toDF("tie", "k", "s", "e"),
      "k", "s", "e", "tie").isEmpty)
    // snapshot/CDC: empty change set is identity; both-empty is empty
    val base = Seq((1L, "a", 1.0)).toDF("k", "s", "v")
    val noChanges = Seq.empty[(Long, String, Double, String)]
      .toDF("k", "s", "v", "op")
    assert(Archive.applyChanges(base, noChanges, "k", "op")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a")))
    val emptyBase = Seq.empty[(Long, String, Double)].toDF("k", "s", "v")
    assert(Archive.snapshotDiff(emptyBase, emptyBase, "k", Seq("s", "v")).isEmpty)
    // diff of empty vs nonempty: everything is 'added'
    val added = Archive.snapshotDiff(emptyBase, base, "k", Seq("s", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(added == Seq((1L, "added")))
  }

  test("round-11 operators on empty/degenerate inputs return empty or " +
      "identity, never divide by zero under ANSI") {
    import graft.ext.{Profiling, TimeSeries}
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    // transitions: empty stream and single-event users → no pairs
    assert(TimeSeries.eventTransitions(emptyEvents, "user_id", "ts",
      "event_id", "event_type").isEmpty)
    val lone = Seq((1L, ts0, 1L, "A")).toDF("user_id", "ts", "event_id",
      "event_type")
    assert(TimeSeries.eventTransitions(lone, "user_id", "ts",
      "event_id", "event_type").isEmpty)
    // KL: empty corpus → empty; empty-string doc tokenizes to [""] and
    // still yields a well-defined (zero) divergence for a lone source
    assert(TextAnalysis.sourceTokenKl(emptyDocs
      .withColumn("source", lit("s")), "text", "source").isEmpty)
    val blank = TextAnalysis.sourceTokenKl(
      Seq((1L, "", "s")).toDF("doc_id", "text", "source"), "text", "source")
      .collect()
    assert(blank.length == 1 && blank(0).getDouble(2) == 0.0)
    // column profile: empty frame (0 rows) and an all-null column —
    // counts 0, extremes null, countDistinct 0
    val allNull = Seq((Some(1L), Option.empty[String]),
      (Some(2L), Option.empty[String])).toDF("a", "b")
    val prof = Profiling.columnProfile(allNull, Seq("b")).collect()(0)
    assert(prof.getLong(2) == 0L && prof.getLong(3) == 0L &&
      prof.isNullAt(4) && prof.isNullAt(5))
    val emptyProf = Profiling.columnProfile(
      Seq.empty[(Long, String)].toDF("a", "b"), Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(emptyProf == Seq(("a", 0L, 0L), ("b", 0L, 0L)))
    // percentiles: empty group frame → empty output
    assert(Profiling.groupPercentiles(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", Seq(50))
      .isEmpty)
  }

  test("round-11 second-wave operators on empty/degenerate inputs " +
      "return empty or well-defined results, never throw") {
    import graft.ext.{Graph, Profiling, Ranking, TimeSeries}
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Graph.triangleCounts(noPairs, "a_id", "b_id").isEmpty)
    assert(Graph.kCore(noPairs, "a_id", "b_id", k = 2).isEmpty)
    assert(Graph.labelPropagation(noPairs, "a_id", "b_id").isEmpty)
    // self-loops are dropped by normalization, not counted as cycles
    assert(Graph.triangleCounts(Seq((1L, 1L)).toDF("a_id", "b_id"),
      "a_id", "b_id").isEmpty)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("k", "ts", "value")
    assert(TimeSeries.interpolateHourly(noEvents, "k", "ts", "value")
      .isEmpty)
    val noVals = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Profiling.groupPercentilesCont(noVals, "g", "v", Seq(50))
      .isEmpty)
    assert(Profiling.groupRegression(noVals.withColumn("x", lit(1L)),
      "g", col("x"), "v").isEmpty)
    assert(Profiling.ksTest(noVals, "g", "v", "A", "B").isEmpty)
    // single-point series: no segment, no marks
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"),
      5.0)).toDF("k", "ts", "value")
    assert(TimeSeries.interpolateHourly(one, "k", "ts", "value").isEmpty)
    // skyline of identical points keeps all of them
    val same = Seq((1L, 2.0, 3), (2L, 2.0, 3)).toDF("id", "cost", "gain")
    assert(Ranking.skyline(same, col("cost"), col("gain"),
      Seq(col("id"))).count() == 2)
  }

  test("rmrf blast-radius guards (ADVICE r12): refuses paths outside " +
      "java.io.tmpdir, and deletes a symlinked directory as the LINK " +
      "without traversing into the target") {
    import java.nio.file.Files
    // non-tmp refusal — loud, nothing touched
    intercept[IllegalArgumentException] {
      graft.model.Tables.rmrf("/root/repo/target/definitely-not-tmp")
    }
    intercept[IllegalArgumentException] {
      graft.model.Tables.rmrf("relative/path")
    }
    // the tmp ROOT itself is refused — containment is strict
    intercept[IllegalArgumentException] {
      graft.model.Tables.rmrf(System.getProperty("java.io.tmpdir"))
    }
    // symlink inside a staging dir: the linked-to content must survive
    val outside = Files.createTempDirectory("graft_rmrf_outside")
    val precious = outside.resolve("precious.txt")
    Files.writeString(precious, "keep me")
    val staging = Files.createTempDirectory("graft_rmrf_staging")
    Files.writeString(staging.resolve("scratch.txt"), "scratch")
    val link = staging.resolve("link_out")
    try Files.createSymbolicLink(link, outside)
    catch { case _: UnsupportedOperationException =>
      cancel("filesystem does not support symlinks")
    }
    graft.model.Tables.rmrf(staging.toString)
    assert(!Files.exists(staging), "staging dir itself must be gone")
    assert(Files.exists(precious),
      "content behind a symlink must NOT be deleted")
    assert(Files.readString(precious) == "keep me")
    graft.model.Tables.rmrf(outside.toString) // cleanup (legit tmp path)
    assert(!Files.exists(outside))
  }

  test("bpe encode degenerate docs: empty text is one empty token " +
      "(split semantics, same in DuckDB), a single-token doc passes " +
      "through unchanged, an empty corpus returns empty, and a merge " +
      "table that matches nothing is the identity") {
    import org.apache.spark.sql.functions.col
    def enc(docs: Seq[(Long, String)], merges: Seq[(String, String)]) =
      graft.ext.Bpe.encode(docs.toDF("doc_id", "text"),
          "doc_id", "text", merges)
        .orderBy(col("doc"), col("pos"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq
    // pos is 1-based after any pass (the rewrite renumbers with
    // row_number; the 0-based posexplode origin only ever ORDERS, so
    // the base never reaches an output digest)
    assert(enc(Seq((0L, "")), Seq(("a", "b"))) == Seq((0L, 1, "")))
    assert(enc(Seq((1L, "solo")), Seq(("a", "b"))) == Seq((1L, 1, "solo")))
    assert(graft.ext.Bpe.encode(emptyDocs, "doc_id", "text",
      Seq(("a", "b"))).isEmpty)
    assert(enc(Seq((2L, "x y z")), Seq(("a", "b"), ("q", "q"))) ==
      Seq((2L, 1, "x"), (2L, 2, "y"), (2L, 3, "z")))
  }
}
