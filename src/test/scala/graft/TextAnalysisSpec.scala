package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quality features: counts and ratios on a known doc") {
    val df = Seq((1L, "the quick the lazy dog")).toDF("doc_id", "text")
    val f = TextAnalysis.qualityFeatures(df, "text")
      .select("n_tokens", "n_distinct_tokens", "n_stop", "stop_ratio", "uniq_ratio")
      .as[(Int, Int, Int, Double, Double)].head()
    assert(f == ((5, 4, 2, 0.4, 0.8)))
  }

  test("langId picks the marker-richest language, ties alphabetical") {
    val df = Seq(
      (1L, "the a filter"),        // en markers x2
      (2L, "vector hash filter"),  // zh markers x2
      (3L, "nomatch words only")   // all scores 0 -> alphabetical 'de'
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df, "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "zh", 3L -> "de"))
  }

  test("canonical fingerprint is order- and repetition-invariant; rolling hash is not") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha alpha"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val rh = df.select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rh"))
      .as[(Long, Long)].collect().toMap
    assert(rh(1L) != rh(2L)) // order-sensitive
    assert(rh.values.forall(v => v >= 0 && v < 2147483647L))
  }

  test("q_text_rollhash golden digest (deterministic Horner fold over " +
      "xxhash64'd tokens — exact output pin at both test scales)") {
    // (n_docs, bit_xor(xxhash64(doc_id, rh))) over the per-doc frame —
    // the registered query (r9+) returns this digest directly so the
    // driver's pinned-constant oracle can check it (was rows-only).
    // The sf0.01 constant asserted here MUST equal the one in
    // ExtQueries.oracles("q_text_rollhash").
    def digest(sf: String): (Long, Long) = {
      val r = graft.model.Tables.documents(spark, sf)
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rh"))
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("rh"))))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest(TestSpark.Sf0001) == ((500L, -5857416526479289843L)))
    val sf001 = "/root/testdata/sf0.01"
    if (new java.io.File(sf001).isDirectory)
      assert(digest(sf001) == ((500L, 8801174788902277473L)))
    // the registered digest form agrees with the direct per-doc digest
    val reg = SparkEntry.queries("q_text_rollhash")(spark, TestSpark.Sf0001)
      .collect()(0)
    assert((reg.getLong(0), reg.getLong(1)) ==
      ((500L, -5857416526479289843L)))
    // and its oracle pins the sf0.01 constants verbatim
    val osql = SparkEntry.oracleSql("q_text_rollhash")
    assert(osql.contains("8801174788902277473"))
  }

  test("bigram-LM NLL: hand-computed MLE model on a tiny corpus; " +
      "sub-bigram docs drop out") {
    // corpus bigrams: d1 "a b a b" -> (a,b)x2,(b,a); d2 "a b c" ->
    // (a,b),(b,c); d3 "x" -> none. Model: c(a,b)=3, c(b,a)=1, c(b,c)=1,
    // c(a.)=3, c(b.)=2 => lp(a,b)=ln(1)=0, lp(b,a)=lp(b,c)=ln(1/2).
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(df, "text", "doc_id")
      .select("doc_id", "n_bigrams", "nll").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // d3 has no bigrams
    assert(out(0)._2 == 3L && out(1)._2 == 2L)
    // mirror the engine arithmetic: ln rounds into DECIMAL(18,9) per
    // bigram type, exact decimal sum, then double-by-long divide
    val lp = BigDecimal(math.log(0.5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(out(0)._3 == (0.0 - lp.toDouble) / 3)
    assert(out(1)._3 == (0.0 - lp.toDouble) / 2)
  }

  test("token PMI: hand-computed collocation scores; repeats within a " +
      "doc count once; minSupport prunes; top-k ordering stable") {
    // docs' distinct sets: d1 {a,b} (repeats count once), d2 {a,b},
    // d3 {a,b,c}, d4 {a,c}. df: a=4 b=3 c=2, N=4.
    // n_ab: (a,b)=3, (a,c)=2, (b,c)=1.
    // PMI(a,b) = ln(3·4/(4·3)) = 0; PMI(a,c) = ln(2·4/(4·2)) = 0;
    // PMI(b,c) = ln(1·4/(3·2)) = ln(2/3). Tie at 0 breaks on (t1,t2).
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b"), (3L, "a b c"), (4L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiPairs(docs, "text", "doc_id",
        minSupport = 1L, topK = 10)
      .select("t1", "t2", "n_ab", "pmi")
      .as[(String, String, Long, Double)].collect()
    def dec9(x: Double): Double = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      ("a", "b", 3L, 0.0),
      ("a", "c", 2L, 0.0),
      ("b", "c", 1L, dec9(math.log(4.0 / 6.0)))))
    // minSupport prunes the single-doc pair
    val pruned = TextAnalysis.pmiPairs(docs, "text", "doc_id",
        minSupport = 2L, topK = 10)
      .select("t1", "t2").as[(String, String)].collect().toSet
    assert(pruned == Set(("a", "b"), ("a", "c")))
  }

  test("nll quality gate keeps exactly the central rank band per " +
      "language, pure integer thresholds") {
    // one language, 20 docs with distinct NLLs: ranks 1..20, keep
    // 20r > 20 && 20r <= 380 → ranks 2..19 (drop exactly 1 each tail).
    // Doc i = a chain that repeats "x y" i times then a unique token,
    // giving monotonically distinct NLLs is fiddly — instead gate on
    // whatever NLLs arise and assert against a driver-side recompute.
    val docs = (1 to 20).map { i =>
      val body = (0 until i).map(_ => "x y").mkString(" ")
      (i.toLong, s"$body t$i", "en")
    } ++ Seq((100L, "solo", "de")) // sub-bigram doc: absent, not error
    val df = docs.toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.nllQualityGate(df, "text", "doc_id", "lang")
      .select("doc_id").as[Long].collect().toSet
    val nlls = TextAnalysis.bigramNll(df, "text", "doc_id")
      .select("doc_id", "nll").as[(Long, Double)].collect()
    val en = nlls.sortBy(r => (r._2, r._1)).map(_._1)
    val n = en.length
    val expected = en.zipWithIndex.collect {
      case (id, idx) if 20 * (idx + 1) > n && 20 * (idx + 1) <= 19 * n => id
    }.toSet
    assert(kept == expected)
    assert(!kept.contains(100L))
    assert(kept.size == expected.size && expected.size < n)
  }

  test("pii scrub: redacts every email/phone span, counts match") {
    val df = Seq(
      (1L, "mail a.b@x.io or x_1@sub.dom.org then call 555-1234 now"),
      (2L, "no pii here 12-34 almost@nothing x")).toDF("doc_id", "text")
    val (ne, np) = TextAnalysis.piiCounts(col("text"))
    val out = df.select(col("doc_id"), ne.as("ne"), np.as("np"),
        TextAnalysis.redactPii(col("text")).as("red"))
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 2 && out(1L)._3 == 1)
    assert(out(1L)._4 == "mail <EMAIL> or <EMAIL> then call <PHONE> now")
    assert(out(2L)._2 == 0 && out(2L)._3 == 0)
    assert(out(2L)._4 == "no pii here 12-34 almost@nothing x")
  }

  test("repetition features: known top-token and bigram counts") {
    val df = Seq(
      (1L, "a a a b c"),   // top 'a'x3/5; bigrams [a a, a a, a b, b c]
      (2L, "a b c d")      // all distinct
    ).toDF("doc_id", "text")
    val f = TextAnalysis.repetitionFeatures(df, "text")
      .select("doc_id", "n_tokens", "top_frac", "bigram_ratio")
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(f(1L) == ((1L, 5, 0.6, 0.75)))
    assert(f(2L) == ((2L, 4, 0.25, 1.0)))
  }

  test("chunking: stride windows, truncated tail, empty doc drops") {
    val df = Seq(
      (1L, (1 to 7).map(i => s"t$i").mkString(" ")), // 7 tokens
      (2L, "")                                       // split('') = [""] → 1 chunk
    ).toDF("doc_id", "text")
    val c = TextAnalysis.chunkDocuments(df, "text", "doc_id",
        chunkSize = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Int, Int, String)].collect()
    val doc1 = c.filter(_._1 == 1L)
    assert(doc1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(doc1.map(_._4).toSeq == Seq(
      "t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7", "t7"))
    assert(doc1.map(_._3).toSeq == Seq(4, 4, 3, 1))
    // whitespace-split of "" yields one empty token → a single "" chunk
    assert(c.filter(_._1 == 2L).toSeq == Seq((2L, 0, 1, "")))
  }

  test("bm25: rarer term outscores common term at equal tf; " +
    "docs without query terms are absent") {
    val df = Seq(
      (1L, "rare common common filler filler"),
      (2L, "common filler filler filler filler"),
      (3L, "filler filler filler filler filler"),
      (4L, "common filler filler filler filler")).toDF("doc_id", "text")
    val r = TextAnalysis.bm25(df, "text", "doc_id", Seq("rare", "common"))
      .orderBy("doc_id")
      .select("doc_id", "bm25", "n_terms_hit")
      .as[(Long, Double, Long)].collect()
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 4L)) // doc 3 has no hits
    val byDoc = r.map(x => x._1 -> x).toMap
    assert(byDoc(1L)._3 == 2L)
    // doc 1 holds the corpus's only 'rare' (df=1) plus 2×'common';
    // its score must beat doc 2's single common hit
    assert(byDoc(1L)._2 > byDoc(2L)._2)
    // identical docs 2 and 4 score identically (determinism)
    assert(byDoc(2L)._2 == byDoc(4L)._2)
  }

  test("sourceTokenKl: hand-computed divergence on a two-source corpus; " +
      "a source matching the corpus distribution scores ~0") {
    // source A: "x x y" (n_A=3), source B: "x y" (n_B=2);
    // corpus: x=3, y=2, N=5
    val docs = Seq((1L, "x x y", "A"), (2L, "x y", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceTokenKl(docs, "text", "source")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def term(c_st: Double, n_s: Double, c_t: Double): Double =
      (c_st / n_s) * math.log((c_st / n_s) / (c_t / 5.0))
    val klA = term(2, 3, 3) + term(1, 3, 2)
    val klB = term(1, 2, 3) + term(1, 2, 2)
    assert(out("A")._1 == 3L && out("B")._1 == 2L)
    assert(math.abs(out("A")._2 - klA) < 2e-6, s"A: ${out("A")._2} vs $klA")
    assert(math.abs(out("B")._2 - klB) < 2e-6, s"B: ${out("B")._2} vs $klB")
    // KL is non-negative for every source
    assert(out.values.forall(_._2 >= -1e-9))
    // one-source corpus: P_source == P_corpus exactly → KL = 0
    val one = TextAnalysis.sourceTokenKl(
      Seq((1L, "a b b", "S")).toDF("doc_id", "text", "source"),
      "text", "source").collect()
    assert(one.length == 1 && one(0).getDouble(2) == 0.0)
  }

  test("bpe one pair per round (pairsPerRound = candidatePool = 1): " +
      "greedy left-to-right non-overlap on a self-pair run " +
      "('a a a a a' → [aa, aa, a]), deterministic tie-break, merged " +
      "tokens pair in later rounds") {
    // doc0 'a a a a a': (a,a) count 4; doc1 'x a a y a a': +2 → 6.
    val docs = Seq((0L, "a a a a a"), (1L, "x a a y a a"))
      .toDF("doc_id", "text")
    def onePair(d: org.apache.spark.sql.DataFrame, rounds: Int) =
      graft.ext.Bpe.pairMergesBatched(d, "doc_id", "text", rounds,
        pairsPerRound = 1, candidatePool = 1)
    val out = onePair(docs, 3)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    // step 1: (a,a,6). After greedy rewrite: doc0 = [a+a, a+a, a]
    // (NON-overlapping — never [a, a+a, ...]), doc1 = [x, a+a, y, a+a].
    // step 2 pairs all count 1 → tie-break (lft, rgt) ascending:
    // (a+a, a) beats (a+a, a+a), (a+a, y), (x, a+a), (y, a+a).
    // After step 2: doc0 = [a+a, a+a+a]. step 3: (a+a, a+a+a) wins
    // the remaining all-1 tie on lft then rgt.
    assert(out == Seq((1, "a", "a", 6L), (2, "a+a", "a", 1L),
      (3, "a+a", "a+a+a", 1L)))
    // a corpus whose pairs run out stops early instead of failing
    val tiny = onePair(Seq((0L, "a b")).toDF("doc_id", "text"), 3)
      .collect()
    assert(tiny.length >= 1 && tiny(0).getString(2) == "a")
    intercept[IllegalArgumentException](onePair(docs, 0))
  }

  test("bpe pairMergesBatched: greedy symbol-disjoint selection per " +
      "round (blocked candidates are skipped, not queued), one rewrite " +
      "pass applies the whole set, self-pair runs stay greedy") {
    val docs = Seq((0L, "a b a b c d c d"), (1L, "a b c d e e e"))
      .toDF("doc_id", "text")
    val out = graft.ext.Bpe.pairMergesBatched(docs, "doc_id", "text",
        rounds = 2, pairsPerRound = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    // round 1 counts: (a,b)=3, (c,d)=3, (b,c)=2, (e,e)=2, rest 1.
    // greedy: (a,b); (c,d); (b,c) BLOCKED (both symbols used); (e,e).
    // rewrite: doc0 → [a+b, a+b, c+d, c+d];
    //          doc1 → [a+b, c+d, e+e, e] (e-run keeps the even offset).
    // round 2 counts: (a+b,c+d)=2, rest 1. greedy: (a+b,c+d); then
    // every n=1 candidate shares a symbol except (e+e,e) → 2 picks.
    assert(out == Seq(
      (1, 1, "a", "b", 3L), (1, 2, "c", "d", 3L), (1, 3, "e", "e", 2L),
      (2, 1, "a+b", "c+d", 2L), (2, 2, "e+e", "e", 1L)), out.toString)
    intercept[IllegalArgumentException] {
      graft.ext.Bpe.pairMergesBatched(docs, "doc_id", "text",
        rounds = 1, pairsPerRound = 4, candidatePool = 2)
    }
    // exhaustion: 'a b' merges once, round 2 finds no pairs and stops
    val tiny = graft.ext.Bpe.pairMergesBatched(
      Seq((0L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
      rounds = 3, pairsPerRound = 2)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getString(3)))
    assert(tiny.toSeq == Seq((1, "a", "b")), tiny.toSeq.toString)
  }

  test("bpe encode: rank-ordered application of a trained table — " +
      "stacked ranks see earlier rewrites, self-pair runs stay greedy, " +
      "a no-match rank is a no-op, and disjoint ranks group into one " +
      "pass without changing the sequential result") {
    def enc(text: String, merges: Seq[(String, String)]): Seq[String] =
      graft.ext.Bpe.encode(Seq((0L, text)).toDF("doc_id", "text"),
          "doc_id", "text", merges)
        .orderBy(col("pos")).select(col("tok")).collect()
        .map(_.getString(0)).toSeq
    // stacked: rank 2 consumes rank 1's output
    assert(enc("a b c x", Seq(("a", "b"), ("a+b", "c"))) ==
      Seq("a+b+c", "x"))
    // self-pair run: greedy even offsets, 5 a's → [a+a, a+a, a]
    assert(enc("a a a a a", Seq(("a", "a"))) == Seq("a+a", "a+a", "a"))
    // a merge that matches nothing is a no-op in place (rank order
    // preserved around it)
    assert(enc("a b c", Seq(("q", "z"), ("b", "c"))) == Seq("a", "b+c"))
    // rank order matters: (b,c) first starves (a,b)
    assert(enc("a b c", Seq(("b", "c"), ("a", "b"))) == Seq("a", "b+c"))
    assert(enc("a b c", Seq(("a", "b"), ("b", "c"))) == Seq("a+b", "c"))
    // a >MaxPassPairs disjoint table chunks into two passes and still
    // applies every rank (the cap changes pass structure, never the
    // result)
    val wide = (0 until 20).map(i => (s"l$i", s"r$i"))
    val text20 = (0 until 20).map(i => s"l$i r$i").mkString(" ")
    assert(enc(text20, wide) == (0 until 20).map(i => s"l$i+r$i"))
    intercept[IllegalArgumentException] {
      graft.ext.Bpe.encode(Seq((0L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", Seq.empty)
    }
  }

  test("bpe encode pass grouping: disjoint non-stacked ranks share a " +
      "pass, a stacked or symbol-sharing rank flushes — and the " +
      "registered q_bpe_encode table splits exactly as its oracle " +
      "unrolls it ({1,2,3}, {4,5})") {
    import graft.ext.Bpe.passGroups
    val t = graft.queries.PipelineQueries.EncodeMergeTable
    assert(passGroups(t) == Seq(t.take(3), t.drop(3)),
      passGroups(t).toString)
    // symbol sharing flushes: (a,b) then (b,c) cannot share a pass
    assert(passGroups(Seq(("a", "b"), ("b", "c"))).size == 2)
    // stacking flushes: (a,b) then (a+b,c)
    assert(passGroups(Seq(("a", "b"), ("a+b", "c"))).size == 2)
    // reverse stacking flushes: (a+b,c) then (a,b) — the later rank
    // PRODUCES an earlier member's input symbol
    assert(passGroups(Seq(("a+b", "c"), ("a", "b"))).size == 2)
    // fully disjoint table = one pass
    assert(passGroups(Seq(("a", "b"), ("c", "c"), ("d", "e"))).size == 1)
    // ... up to the codegen cap: a large fully-disjoint table chunks
    // into rank-ordered MaxPassPairs-sized passes (one CASE chain per
    // pass stays a single codegen'd projection)
    val big = (0 until 40).map(i => (s"l$i", s"r$i"))
    val gs = passGroups(big)
    assert(gs.map(_.size) ==
      Seq.fill(40 / graft.ext.Bpe.MaxPassPairs)(graft.ext.Bpe.MaxPassPairs)
        :+ (40 % graft.ext.Bpe.MaxPassPairs), gs.map(_.size).toString)
    assert(gs.flatten == big) // rank order preserved across chunks
  }
}
