package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Tables
import graft.ops.Scale

/** Scale mechanics: salted joins preserve semantics while spreading hot
  * keys; AQE, prefix filters and orientation keep skewed work bounded.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join returns exactly the plain join's rows under heavy skew") {
    // 10k rows of one hot key + scattered keys, joined to a small dim
    val left = spark.range(10000)
      .select(when(col("id") % 10 === 0, -1L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val right = Seq((-1L, "hot"), (77L, "warm"), (12345L, "cold"))
      .toDF("rk", "tag")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "payload", "tag").as[(Long, Long, String)].collect().toSet
    val salted = Scale.saltedJoin(left, right, "k", "rk", 8)
      .select("k", "payload", "tag").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._1 == -1L) == 1000)
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val df = Tables.lineitem(spark, TestSpark.Sf0001)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      df.collect() // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead coalesced"),
        "expected runtime partition coalescing:\n" + plan)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("AQE splits a skewed sort-merge join partition at runtime " +
      "(skew=true in the final adaptive plan)") {
    // 95% of left rows share one key; payload bytes make that one
    // shuffle partition exceed the (lowered) skew threshold.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("payload"))
      val right = spark.range(0, 50).select(col("id").as("rk"),
        concat(lit("tag_"), col("id")).as("tag"))
      val joined = left.join(right, col("k") === col("rk"))
        .select("k", "payload", "tag")
      // collect() (not count()) so THIS queryExecution finalizes its
      // adaptive plan — count() would plan and run a separate query
      val n = joined.collect().length
      // key 0: 190 001 left rows (190 000 non-multiples of 20, plus id=0
      // itself) × 1 right row; kept ids 20 and 40 land in [1,50): 2 more
      assert(n == 190003, s"unexpected join cardinality $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not mark/split the skewed join partition:\n" + plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("inverted-index dedup WORK grows linearly with corpus size: " +
      "candidate count at 4x corpus is exactly 4x, not 16x") {
    // Replicas get a per-replica token prefix, so their shingle
    // vocabularies are disjoint — the realistic growth regime
    // (vocabulary grows with the corpus). An all-pairs join would grow
    // candidates quadratically (16x at 4x docs); the inverted shingle
    // index must grow them linearly. Counting candidates instead of
    // timing makes the assertion exact and load-independent.
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    def corpus(k: Int) = (0 until k).map(r =>
      docs.select(
        (col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        expr(s"concat_ws(' ', transform(split(text, ' '), w -> concat('r${r}_', w)))")
          .as("text"))).reduce(_.unionByName(_))
    def candidates(k: Int): Long = {
      val sets = graft.ext.Dedup.shingleSets(corpus(k), "text", "doc_id", 3)
      val inv = sets.select(col("doc_id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("s"))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("sh"))
      inv.as("a").join(inv.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .count()
    }
    val c1 = candidates(1)
    val c4 = candidates(4)
    assert(c1 > 0)
    assert(c4 == 4 * c1,
      s"candidate growth not linear: 1x=$c1, 4x=$c4 (quadratic would be ${16 * c1})")
  }

  test("PMI pair generation is doc-local: 4x corpus (disjoint vocab) " +
      "gives exactly 4x join-output pairs, never cross-doc quadratic") {
    // the self-join is keyed on doc_id, so a pair can only form inside
    // one document — corpus growth multiplies pairs linearly while a
    // degenerate token-keyed or cross join would go 16x at 4x docs.
    // Counting JOIN OUTPUT rows makes the assertion exact.
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    def corpus(k: Int) = (0 until k).map(r =>
      docs.select(
        (col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        expr(s"concat_ws(' ', transform(split(text, ' '), w -> concat('r${r}_', w)))")
          .as("text"))).reduce(_.unionByName(_))
    def pairRows(k: Int): Long = {
      val toks = corpus(k).select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
      toks.as("a").join(toks.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .count()
    }
    val p1 = pairRows(1)
    val p4 = pairRows(4)
    assert(p1 > 0)
    assert(p4 == 4 * p1,
      s"pair growth not linear: 1x=$p1, 4x=$p4 (quadratic would be ${16 * p1})")
  }

  test("containment prefix filter collapses the hot-shingle candidate " +
      "space: prefix-join candidates are a fraction of the unpruned join's") {
    // every doc shares a glue phrase ⇒ its shingles are maximally hot
    // (document frequency = corpus size) — the exact regime where the
    // unpruned posting self-join goes quadratic. The prefix join only
    // indexes a doc's first ~(1−t) sorted hashes on the smaller-set
    // side, so a hot shingle contributes prefix-hits × full-hits
    // instead of df²/2. Counting JOIN OUTPUT rows (pre-aggregation)
    // makes the assertion exact and load-independent.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"),
        concat(lit("shared glue phrase common to every document "),
          col("text")).as("text"))
    val t = 0.9
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
      .localCheckpoint()
    val full = hsets.select(col("doc_id"), col("n_sh"),
      explode(col("shs")).as("sh"))
    val unpruned = full.as("a").join(full.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .count()
    // the production candidate join itself (pre-distinct) — shared
    // helper, so this count can never measure a stale formulation
    val prefixed = Dedup.containmentPrefixCandidateRows(hsets, t).count()
    assert(unpruned > 0)
    assert(prefixed < unpruned / 2,
      s"prefix join did not prune: $prefixed of $unpruned candidate rows")
    info(f"hot-shingle candidate rows: prefix $prefixed vs unpruned " +
      f"$unpruned (${100.0 * prefixed / unpruned}%.1f%%)")
    // and the pruning loses nothing on this adversarial corpus
    val sets = Dedup.shingleSets(docs, "text", "doc_id", 3).localCheckpoint()
    val baseline = Dedup.containmentPairsFromSets(sets, t)
      .as[(Long, Long, Double)].collect().toSet
    val viaPrefix = Dedup.containmentPairsPrefix(hsets, t)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPrefix == baseline)
  }

  test("forced spill through the LSH join leaves the pair set identical " +
      "(nonzero spill metrics observed)") {
    // The force-spill threshold is a SparkConf the shuffle sorter reads
    // at context creation — it can't be flipped on the shared session,
    // so the probe runs in its own JVM on the forked test classpath.
    val (code, lines) = TestSpark.runMain("graft.Probe",
      Seq("spill", "/root/testdata/sf0.01"), heap = "3g")
    val out = lines.mkString("\n")
    assert(code == 0, s"probe exited $code:\n$out")
    val line = lines.filter(_.startsWith("{\"spill_bytes\"")).lastOption
      .getOrElse(fail(s"no probe JSON in:\n$out"))
    assert(line.contains("\"equal\":true"), line)
    val spill = "\"spill_bytes\":([0-9]+)".r
      .findFirstMatchIn(line).get.group(1).toLong
    assert(spill > 0L, s"expected forced nonzero spill: $line")
  }

  test("fuzzy dedup prunes the Levenshtein stage to a vanishing pair " +
      "fraction: banding < all-pairs, J-prefilter < banding (measured)") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
      .localCheckpoint()
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignaturesFromHashed(hsets, 64), 16, 4).count()
    val survivors = Dedup.fuzzyDupPairs(hsets, docs, "text", "doc_id",
      numPerms = 64, bands = 16, jPrefilter = 0.5, editSim = 0.0001).count()
    val confirmed = Dedup.fuzzyDupPairs(hsets, docs, "text", "doc_id",
      numPerms = 64, bands = 16, jPrefilter = 0.5, editSim = 0.9).count()
    // at sf0.01: 500 docs → 124750 pairs; banding must cut >99% of the
    // pair space, and the J≥0.5 prefilter bounds what Levenshtein sees
    assert(cands < allPairs / 100,
      s"banding did not prune: $cands of $allPairs")
    assert(survivors <= cands, s"$survivors > $cands")
    assert(confirmed <= survivors && confirmed > 0,
      s"confirmed=$confirmed survivors=$survivors")
    info(s"all-pairs=$allPairs banded=$cands lev-stage=$survivors " +
      s"confirmed=$confirmed")
  }

  test("incremental probe cost scales with the BATCH, not the archive " +
      "pair space: candidates grow ~linearly in batch size and stay a " +
      "vanishing fraction of |batch| × |archive| (measured at sf0.01)") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val archive = docs.filter(col("doc_id") % 2 === 0)
    val batchFull = docs.filter(col("doc_id") % 2 === 1)
    val batchHalf = batchFull.filter(col("doc_id") < 250)
    val nArchive = archive.count(); val nFull = batchFull.count()
    val nHalf = batchHalf.count()
    def candidates(batch: org.apache.spark.sql.DataFrame): Long = {
      val ab = Dedup.bandedSignatures(Dedup.minhashSignaturesFromHashed(
        Dedup.hashedShingleSets(archive, "text", "doc_id", 3), 48), 16, 3)
      val bb = Dedup.bandedSignatures(Dedup.minhashSignaturesFromHashed(
        Dedup.hashedShingleSets(batch, "text", "doc_id", 3), 48), 16, 3)
      bb.as("b").join(ab.as("a"),
          col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash"))
        .select(col("b.doc_id"), col("a.doc_id")).distinct().count()
    }
    val cHalf = candidates(batchHalf)
    val cFull = candidates(batchFull)
    // linear-ish growth: doubling the batch must not square the work.
    // Absolute counts here are tiny (dup pairs cluster in the high ids:
    // 2 -> 12 on current fixtures), so the bound is a ratio with an
    // additive floor that swamps that granularity noise while still
    // failing loudly on anything quadratic (250×250 would be 62 500).
    assert(cFull <= cHalf * 4 + 48,
      s"candidate growth superlinear: $cHalf -> $cFull")
    // and the probe never approaches the unblocked batch × archive space
    assert(cFull < nFull * nArchive / 100,
      s"banding did not prune: $cFull of ${nFull * nArchive}")
    info(s"archive=$nArchive batch=$nHalf->$nFull candidates=$cHalf->$cFull " +
      s"(unblocked ${nFull * nArchive})")
  }

  test("rolling-median band join fans each row at most w times — w=1 " +
      "degenerates to exactly n rows, and disjoint-group doubling " +
      "doubles the fan exactly (group-local, never cross-group)") {
    import graft.ext.TimeSeries
    val ev = Tables.events(spark, TestSpark.Sf0001)
    val n = ev.count()
    // Σ n_window over the median rows IS the joined-row count: every
    // joined row lands in exactly one (grp, day) window partition.
    def fan(df: org.apache.spark.sql.DataFrame, w: Int): Long =
      TimeSeries.rollingMedian(df, "event_type", "ts", "value",
          "event_id", windowDays = w)
        .agg(sum(col("n_window"))).head.getLong(0)
    assert(fan(ev, 1) == n,
      s"w=1 must join each row to its own day only: ${fan(ev, 1)} vs $n")
    val f7 = fan(ev, 7)
    assert(f7 > n && f7 <= 7 * n,
      s"fan must be in (n, 7n]: $f7 vs n=$n")
    val ev2 = ev.unionByName(
      ev.withColumn("event_type", concat(lit("x_"), col("event_type"))))
    assert(fan(ev2, 7) == 2 * f7,
      s"disjoint-group doubling not linear: $f7 -> ${fan(ev2, 7)}")
    info(s"n=$n fan(w=7)=$f7 (${f7.toDouble / n}x)")
  }

  test("basket-pair generation is basket-local: 2x corpus (disjoint " +
      "order keys) gives exactly 2x pairs, and the pair count never " +
      "exceeds the per-basket quadratic bound") {
    val items = Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    def pairCount(it: org.apache.spark.sql.DataFrame): Long =
      it.as("a").join(it.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk")).count()
    val p1 = pairCount(items)
    val bound = items.groupBy(col("ok")).agg(count(lit(1)).as("b"))
      .agg(sum(col("b") * (col("b") - 1))).head.getLong(0) / 2
    assert(p1 == bound, // distinct items per basket ⇒ the bound is exact
      s"pair count $p1 != per-basket bound $bound")
    val doubled = items.unionByName(
      items.withColumn("ok", col("ok") + lit(100000000L))).localCheckpoint()
    assert(pairCount(doubled) == 2 * p1,
      s"disjoint-basket doubling not linear: $p1 -> ${pairCount(doubled)}")
    info(s"pairs=$p1 bound=$bound")
  }

  test("the approx_percentile swap DEPLOY recommends for outsized " +
      "groups: measured relative error vs the exact rank-selected " +
      "percentiles stays inside the sketch's accuracy contract") {
    import graft.ext.Profiling
    val ev = Tables.events(spark, TestSpark.Sf0001)
    val exact = Profiling.groupPercentiles(ev, "event_type", "value",
        Seq(50, 99))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val approx = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val errs = exact.keys.map { g =>
      val (e50, e99) = exact(g); val (a50, a99) = approx(g)
      math.max(math.abs(a50 - e50) / math.max(e50, 1e-9),
        math.abs(a99 - e99) / math.max(e99, 1e-9))
    }
    // accuracy=10000 bounds rank error at n/10000; on these group
    // sizes that is sub-percent in value space
    assert(errs.max < 0.01, s"approx percentile error too big: ${errs.max}")
    info(f"max relative error across groups/percentiles: ${errs.max}%.5f")
  }

  test("KS/MW drift tests ride a value-grid window, not corpus rows: " +
      "doubling the corpus leaves the grid cardinality unchanged and " +
      "the grid is bounded by the value domain") {
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .filter(col("event_type").isin("purchase", "view"))
    def grid(df: org.apache.spark.sql.DataFrame): Long =
      df.select(round(col("value") * 100, 0).cast("long").as("cv"))
        .distinct().count()
    val g1 = grid(ev)
    val g2 = grid(ev.unionByName(ev))
    assert(g2 == g1, s"grid grew with corpus size: $g1 -> $g2")
    // 2-dp values in [0, 100] ⇒ at most 10001 grid rows at ANY corpus
    // size — the single-partition cumulative window is always tiny
    assert(g1 <= 10001L, s"grid exceeded the value domain: $g1")
    info(s"rows=${ev.count()} grid=$g1 (doubled corpus grid=$g2)")
  }

  test("triangle counting's degree orientation caps wedge fan-out: max " +
      "oriented out-degree stays within the O(sqrt(E)) bound and below " +
      "the raw hub degree, so hub wedges can't go quadratic") {
    import graft.ext.Graph
    val items = Tables.lineitem(spark, TestSpark.Sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    val pairs = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("a_id"), col("b.pk").as("b_id"))
      .distinct().localCheckpoint()
    val e = pairs.count()
    // re-derive the oriented list exactly as Graph.triangleCounts does
    val und = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id"), col("a_id")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val maxRaw = deg.agg(max(col("deg"))).head.getLong(0)
    val oriented = pairs
      .join(deg.select(col("u").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("u").as("b_id"), col("deg").as("db")), "b_id")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a_id") < col("b_id")),
          col("a_id")).otherwise(col("b_id")).as("src"))
    val maxOut = oriented.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .agg(max(col("od"))).head.getLong(0)
    // theory: a node keeps an out-edge only toward >=-degree neighbors,
    // so od <= sqrt(2E) always; on real data it should also undercut
    // the raw hub degree by a wide margin
    val cap = math.ceil(math.sqrt(2.0 * e)).toLong
    assert(maxOut <= cap, s"orientation bound violated: $maxOut > $cap")
    assert(maxOut < maxRaw,
      s"orientation didn't shrink the hub: $maxOut vs raw $maxRaw")
    // and the count itself matches the unconstrained oracle join shape
    val tri = Graph.triangleCounts(pairs, "a_id", "b_id")
      .agg(sum(col("triangles"))).head.getLong(0)
    assert(tri % 3 == 0, s"per-node counts must sum to 3x triangles: $tri")
    info(s"E=$e maxRawDeg=$maxRaw maxOutDeg=$maxOut (cap=$cap) triSum=$tri")
  }

  test("z-order beats a single-column sort on cross-column pruning: a " +
      "suppkey predicate skips MORE buckets under z-order than under a " +
      "partkey sort (measured on lineitem)") {
    import graft.ext.Layout
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
    val nBuckets = 64
    // layout A: z-order buckets (the operator under test)
    val zStats = Layout.zorderBucketStats(li, "x", "y", bits = 15, nBuckets)
      .select("bucket", "y_lo", "y_hi").as[(Long, Long, Long)].collect()
    // layout B: sort by x alone, bucket into equal x-ranges (what a
    // naive partkey-sorted rewrite gives), same per-bucket y min/max
    val xmax = li.agg(max(col("x"))).head.getLong(0)
    val xStats = li
      .withColumn("bucket", floor(col("x") * nBuckets.toDouble / (lit(xmax) + 1)))
      .groupBy("bucket")
      .agg(min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
      .select("bucket", "y_lo", "y_hi").as[(Long, Long, Long)].collect()
    // the scan predicate: a narrow suppkey range INSIDE the sf0.01
    // domain (suppkey ∈ [1, 100] here; asserted so a fixture change
    // that widens the domain re-tunes the probe instead of trivially
    // passing with everything skipped)
    val (yMin, yMax) = {
      val r = li.agg(min(col("y")), max(col("y"))).head
      (r.getLong(0), r.getLong(1))
    }
    val (qLo, qHi) = (yMin + (yMax - yMin) * 2 / 5, yMin + (yMax - yMin) / 2)
    assert(qLo > yMin && qHi < yMax, s"probe [$qLo,$qHi] not interior to [$yMin,$yMax]")
    def skipped(stats: Array[(Long, Long, Long)]): Int =
      stats.count { case (_, lo, hi) => hi < qLo || lo > qHi }
    val zSkip = skipped(zStats)
    val xSkip = skipped(xStats)
    info(s"buckets skipped for y in [$qLo,$qHi]: zorder $zSkip/${zStats.length}, " +
      s"x-sort $xSkip/${xStats.length}")
    // x-sort spreads every suppkey across every bucket → ~0 skipped;
    // z-order bounds y per bucket → most buckets skippable
    assert(zSkip > zStats.length / 2,
      s"z-order should skip most buckets, skipped $zSkip of ${zStats.length}")
    assert(zSkip > xSkip, s"z-order ($zSkip) must beat x-sort ($xSkip)")
  }

  test("batched-BPE pool is a bounded collect and selection is corpus-" +
      "scale-invariant: doubling the corpus (disjoint ids, same text) " +
      "doubles every n_pairs and changes NO picked pair — the driver-" +
      "side pool never grows past candidatePool rows at any scale") {
    import graft.ext.Bpe
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(docs.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
    def run(df: org.apache.spark.sql.DataFrame) =
      Bpe.pairMergesBatched(df, "doc_id", "text", rounds = 2,
          pairsPerRound = 4, candidatePool = 64)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    val m1 = run(docs)
    val m2 = run(doubled)
    assert(m1.nonEmpty)
    // identical picks in identical order — the pool is a deterministic
    // function of RELATIVE pair frequencies, which doubling preserves
    assert(m1.map(t => (t._1, t._2, t._3, t._4)) ==
      m2.map(t => (t._1, t._2, t._3, t._4)),
      s"picked pairs changed under corpus doubling:\n$m1\nvs\n$m2")
    assert(m1.zip(m2).forall { case (a, b) => b._5 == 2 * a._5 },
      "every selection-time count must exactly double")
    // the LIMIT is binding, not vacuous: the distinct adjacent-pair
    // space dwarfs the 64-row pool at both scales, so an unbounded
    // collect here would be corpus-sized — the thing this bound forbids
    def pairSpace(df: org.apache.spark.sql.DataFrame): Long = {
      val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
      df.select(col("doc_id").as("doc"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("tok"), col("nxt")).distinct().count()
    }
    val space = pairSpace(docs)
    assert(space > 64 * 10,
      s"pair space $space too small for the bound to mean anything")
    info(s"distinct pair space $space (1x) vs pool 64; " +
      s"picks invariant under doubling, counts exactly 2x")
  }

  test("BPE encode is doc-local and driver-free: doubling the corpus " +
      "(disjoint ids, same text) exactly doubles every merged-token " +
      "count, and the pass count is a pure function of the merge " +
      "table — corpus-independent (no counting, no collect on the " +
      "apply path)") {
    import graft.ext.Bpe
    val table = graft.queries.PipelineQueries.EncodeMergeTable
    // pass structure is table-determined before any data is touched
    assert(Bpe.passGroups(table).size == 2)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(docs.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
    def mergedCounts(df: org.apache.spark.sql.DataFrame) =
      Bpe.encode(df, "doc_id", "text", table,
          materialize = _.localCheckpoint())
        .filter(col("tok").contains("+"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val c1 = mergedCounts(docs)
    val c2 = mergedCounts(doubled)
    assert(c1.nonEmpty && c1.keySet == c2.keySet, s"$c1 vs $c2")
    assert(c1.forall { case (t, n) => c2(t) == 2 * n },
      s"doc-local rewrite must scale exactly linearly: $c1 vs $c2")
    info(s"merged-token counts 1x=$c1, exactly doubled at 2x; " +
      s"${Bpe.passGroups(table).size} passes at both scales")
  }

  test("GraftExtensions injects dot_f32 into a session function registry") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyFunctionExtensions(ext, spark)
    val r = spark.sql(
      "SELECT dot_f32(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .collect()(0).getDouble(0)
    assert(r == 6.0)
  }
}
