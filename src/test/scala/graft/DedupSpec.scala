package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.model.Tables

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()

  test("exact dedup groups: one group per distinct text, min id kept") {
    val texts = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val g = Dedup.exactGroups(texts, "text", "doc_id")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(g.length == 2)
    assert(g.head._2 == 1L && g.head._3 == 2L) // "a b c" kept id 1, 2 copies
    assert(g(1)._2 == 3L && g(1)._3 == 1L)
  }

  test("shingleSets drops docs shorter than n tokens") {
    val texts = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val s = Dedup.shingleSets(texts, "text", "doc_id", 3)
      .as[(Long, Seq[String])].collect().toMap
    assert(!s.contains(1L))
    assert(s(2L).toSet == Set("a b c", "b c d"))
  }

  test("hashed-basis minhash LSH pairs equal the exact pair set too — " +
      "at BOTH the spec config (64,16) and the shipped (48,16)") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
    for ((perms, bands) <- Seq((64, 16), (48, 16))) {
      val lsh = Dedup.minhashNearDupPairsFromHashedSets(hsets, perms, bands, 0.8)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(lsh == exact, s"($perms, $bands)")
    }
    assert(exact.nonEmpty)
  }

  test("hashed-sets jaccard equals the string-sets jaccard") {
    for (t <- Seq(0.6, 0.8)) {
      val fromStrings = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      val fromHashed = Dedup.ngramJaccardPairsFromHashedSets(
          Dedup.hashedShingleSets(docs, "text", "doc_id", 3), t)
        .as[(Long, Long, Double)].collect().toSet
      assert(fromHashed == fromStrings, s"threshold $t")
      assert(fromStrings.nonEmpty)
    }
  }

  test("prefix-filtered containment equals the unpruned baseline " +
      "(fixture corpus, thresholds incl. 1.0)") {
    val sets = Dedup.shingleSets(docs, "text", "doc_id", 3)
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
    for (t <- Seq(0.7, 0.9, 1.0)) {
      val baseline = Dedup.containmentPairsFromSets(sets, t)
        .as[(Long, Long, Double)].collect().toSet
      val prefix = Dedup.containmentPairsPrefix(hsets, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(prefix == baseline, s"threshold $t")
      assert(baseline.nonEmpty, s"threshold $t should find containment pairs")
    }
  }

  test("prefix-filtered containment: adversarial shapes — strict subset, " +
      "equal sizes, hot shingle shared by every doc") {
    // slices of one base sequence ⇒ dense containment structure; every
    // doc shares the 'common' prefix tokens ⇒ a maximally hot shingle
    val base = (0 until 40).map(i => s"tok$i")
    val docs2 = ((1 to 30).map { i =>
      val lo = (i * 3) % 20
      val hi = math.min(40, lo + 8 + (i % 13))
      (i.toLong, ("common glue words" +: base.slice(lo, hi)).mkString(" "))
    } :+ (100L, base.mkString(" "))          // superset of many slices
      :+ (101L, base.slice(5, 13).mkString(" "))   // strict subset
      :+ (102L, base.slice(5, 13).mkString(" ")) // identical twin (equal n_sh)
    ).toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs2, "text", "doc_id", 3)
    val hsets = Dedup.hashedShingleSets(docs2, "text", "doc_id", 3)
    for (t <- Seq(0.5, 0.8, 0.9, 1.0)) {
      val baseline = Dedup.containmentPairsFromSets(sets, t)
        .as[(Long, Long, Double)].collect().toSet
      val prefix = Dedup.containmentPairsPrefix(hsets, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(prefix == baseline, s"threshold $t")
      assert(baseline.nonEmpty)
    }
    // the identical twin must appear at containment exactly 1.0
    val atOne = Dedup.containmentPairsPrefix(hsets, 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(atOne.contains((101L, 102L, 1.0)))
  }

  test("q_dedup_simhash golden digest (deterministic xxhash64 bit votes " +
      "— exact output pin at both test scales)") {
    // (n_rows, bit_xor(xxhash64(a_id, b_id, hamming))) over the full
    // pair frame — an order-independent exact digest. Any change to
    // tokenization, the simhash vote, chunk blocking, or the hamming
    // filter moves it. The registered query (r8+) returns this digest
    // directly so the driver's pinned-constant oracle can check it; the
    // sf0.01 constant asserted here MUST equal the one in
    // ExtQueries.oracles("q_dedup_simhash").
    def digest(sf: String): (Long, Long) = {
      val r = Dedup.simhashNearDupPairs(Tables.documents(spark, sf),
          "text", "doc_id", maxHamming = 3).select(
        count(lit(1)), bit_xor(xxhash64(col("a_id"), col("b_id"),
          col("hamming")))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest(TestSpark.Sf0001) == ((1176L, 641921897898642674L)))
    val sf001 = "/root/testdata/sf0.01"
    if (new java.io.File(sf001).isDirectory)
      assert(digest(sf001) == ((1034L, -5705792646171706797L)))
    // the registered digest form agrees with the direct pair digest
    val reg = SparkEntry.queries("q_dedup_simhash")(spark, TestSpark.Sf0001)
      .collect()(0)
    assert((reg.getLong(0), reg.getLong(1)) ==
      ((1176L, 641921897898642674L)))
    // and its oracle pins the sf0.01 constants verbatim
    val osql = SparkEntry.oracleSql("q_dedup_simhash")
    assert(osql.contains("1034") && osql.contains("-5705792646171706797"))
  }

  test("every pair entry point rejects threshold > 1 the same way; the " +
      "enumeration-style jaccard/containment entry points accept the " +
      "boundary values 0 and 1, while LSH and destructive entry points " +
      "reject t = 0 and degenerate parameters") {
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
    val sets = Dedup.shingleSets(docs, "text", "doc_id", 3)
    // t > 1: uniform IllegalArgumentException up front — not a negative-
    // slice crash mid-job (prefix) or a silent empty frame (baselines)
    for (bad <- Seq(1.0000001, 1.5)) {
      intercept[IllegalArgumentException](
        Dedup.ngramJaccardPairsFromHashedSets(hsets, bad))
      intercept[IllegalArgumentException](
        Dedup.ngramJaccardPairsFromSets(sets, bad))
      intercept[IllegalArgumentException](
        Dedup.containmentPairsPrefix(hsets, bad))
      intercept[IllegalArgumentException](
        Dedup.containmentPairsFromSets(sets, bad))
    }
    // LSH and destructive entry points validate too — minhash is
    // threshold-tuned (t = 0 excluded) and rejects non-divisible
    // (numPerms, bands); simhash caps maxHamming at the pigeonhole
    // guarantee; curation refuses the drop-everything t = 0
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairsFromHashedSets(hsets, 48, 16, 1.5))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairsFromHashedSets(hsets, 48, 16, 0.0))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairsFromHashedSets(hsets, 50, 16, 0.8))
    // "positive multiple" means positive: 0 and negative exact
    // multiples (0 % b == 0, -16 % 16 == 0) must not slip through to
    // an opaque head-of-empty-list crash in signature construction
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairsFromHashedSets(hsets, 0, 1, 0.8))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairsFromHashedSets(hsets, -16, 16, 0.8))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 4))
    intercept[IllegalArgumentException](
      graft.ext.Curation.dropNearDupes(docs, "text", "doc_id", 0.0))
    // boundaries stay legal: 1.0 (exact duplicates only) and 0.0 (every
    // co-posting pair — what the property tests enumerate with); prefix
    // and baseline, hashed and string sets agree at both
    val p0 = Dedup.containmentPairsPrefix(hsets, 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val b0 = Dedup.containmentPairsFromSets(sets, 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p0 == b0)
    val j0 = Dedup.ngramJaccardPairsFromHashedSets(hsets, 0.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val jb = Dedup.ngramJaccardPairsFromSets(sets, 0.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(j0 == jb && jb.nonEmpty)
  }

  test("jaccard is symmetric-by-construction and bounded in (0,1]") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall { case (a, b, j) => a < b && j > 0.0 && j <= 1.0 })
  }

  test("identical docs get identical simhash; disjoint docs differ") {
    val texts = Seq(
      (1L, "spark join merge sort batch"),
      (2L, "spark join merge sort batch"),
      (3L, "completely different words entirely here")).toDF("doc_id", "text")
    val fp = Dedup.simhash(texts, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("simhash chunk blocking finds all identical-doc pairs (hamming 0)") {
    val texts = Seq(
      (1L, "spark join merge sort batch"),
      (2L, "spark join merge sort batch"),
      (3L, "alpha beta gamma delta eps")).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(texts, "text", "doc_id", 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("dedup is idempotent: re-running exactGroups on deduped output " +
      "yields singleton groups") {
    val texts = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val kept = Dedup.exactGroups(texts, "text", "doc_id")
      .join(texts, col("keep_id") === col("doc_id"))
      .select("doc_id", "text")
    val again = Dedup.exactGroups(kept, "text", "doc_id")
    assert(again.filter(col("n_copies") > 1).isEmpty)
  }

  test("connected components merge transitively — including the case " +
      "pairwise b-drop misses (all neighbors of a non-min node larger)") {
    // components: {1,2,5} via (1,5),(2,5) — node 2's only neighbor is 5,
    // so pairwise drop would keep 2; CC groups it under 1 — and {7,8}
    val pairs = Seq((1L, 5L), (2L, 5L), (7L, 8L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connected components: long chain converges (diameter > 2), " +
      "empty pair set yields empty output") {
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(chain, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(cc == (1L to 9L).map(_ -> 1L).toMap)
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(empty, "a_id", "b_id").isEmpty)
  }

  test("duplicated spans: hand-computed occurrence/doc counts, " +
      "within-doc repeats counted, sub-width docs dropped") {
    // w=3 spans — d1 "a b c d e": abc@1 bcd@2 cde@3; d2 "x a b c d":
    // xab@1 abc@2 bcd@3; d4 "a b c a b c a b c": abc@{1,4,7}
    // bca@{2,5} cab@{3,6}; d3 "q r" is below width and drops.
    val docs = Seq(
      (1L, "a b c d e"), (2L, "x a b c d"), (3L, "q r"),
      (4L, "a b c a b c a b c")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "text", "doc_id", width = 3)
      .select("first_ref", "n_occ", "n_docs")
      .as[(Long, Long, Long)].collect()
      .map { case (ref, occ, nd) => ref -> ((occ, nd)) }.toMap
    assert(out == Map(
      100001L -> ((5L, 3L)),  // "a b c": d1@1 d2@2 d4@{1,4,7}
      100002L -> ((2L, 2L)),  // "b c d": d1@2 d2@3
      400002L -> ((2L, 1L)),  // "b c a": d4@{2,5}
      400003L -> ((2L, 1L)))) // "c a b": d4@{3,6}
  }

  test("fuzzy dedup: a one-character edit pairs with hand-computed " +
      "edit_sim; unrelated docs never pair") {
    // d2 = d1 with ONE substituted character ("gamma" → "gamba"):
    // levenshtein = 1 → edit_sim = 1 - 1/len(t1); one changed word
    // kills only 3 of 18 word-3-shingles, so J = 15/21 ≈ 0.714 and the
    // banded candidate is found deterministically (seeded permutations)
    val tail = " one two three four five six seven eight nine ten" +
      " eleven twelve thirteen fourteen fifteen sixteen"
    val t1 = "alpha beta gamma delta" + tail
    val t2 = "alpha beta gamba delta" + tail
    val t3 = "completely different words about storage engines and" +
      " nothing shared with the other documents at all in any shingle"
    val corpus = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val hsets = Dedup.hashedShingleSets(corpus, "text", "doc_id", n = 3)
    val out = Dedup.fuzzyDupPairs(hsets, corpus, "text", "doc_id",
        numPerms = 64, bands = 16, jPrefilter = 0.3, editSim = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    val (a, b, sim) = out.head
    assert(a == 1L && b == 2L)
    assert(math.abs(sim - (1.0 - 1.0 / t1.length)) < 1e-12, s"sim=$sim")
  }

  test("fuzzy dedup equals the unblocked all-pairs definition at BOTH " +
      "test scales, with the candidate-vs-oracle delta reported — a " +
      "probabilistic LSH miss at the driver gate is then diagnosable " +
      "here, not a bare hash mismatch (ADVICE r10)") {
    def check(corpus: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val hsets = Dedup.hashedShingleSets(corpus, "text", "doc_id", n = 3)
        .localCheckpoint()
      val blocked = Dedup.fuzzyDupPairs(hsets, corpus, "text", "doc_id",
          numPerms = 64, bands = 16, jPrefilter = 0.5, editSim = 0.9)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      // brute force: every pair, Levenshtein directly (no LSH, no J
      // filter beyond the same 0.5 prefilter semantics)
      val t = corpus.select(col("doc_id"), col("text"))
      val brute = t.as("a").crossJoin(t.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          (lit(1.0) - levenshtein(col("a.text"), col("b.text")).cast("double") /
            greatest(length(col("a.text")), length(col("b.text")))).as("es"))
        .filter(col("es") >= 0.9)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      // blocked ⊆ brute always (J-prefilter only removes); recall is the
      // other direction — nothing the unblocked definition finds at
      // edit_sim ≥ 0.9 escapes the banding+prefilter
      info(s"$label: blocked=${blocked.size} oracle=${brute.size} " +
        s"missing=${(brute -- blocked).size} extra=${(blocked -- brute).size}")
      assert(blocked == brute,
        s"$label missing=${brute -- blocked} extra=${blocked -- brute}")
    }
    check(docs, "sf0.001")
    val sf001 = "/root/testdata/sf0.01"
    if (new java.io.File(sf001).isDirectory)
      check(graft.model.Tables.documents(spark, sf001), "sf0.01")
  }

  test("incremental dup probe: batch docs pair only against the archive " +
      "— hand-computed jaccard; archive-internal and batch-internal " +
      "duplicates never pair; equals the unblocked batch×archive set " +
      "on the sf0.001 corpus") {
    // archive: 10, 12 identical; batch: 11 ≈ archive text, 13 unrelated,
    // 15 identical to 13 (batch-internal dup — must NOT appear)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, base), (12L, base),
      (11L, base), (13L, "one two three four five six seven eight"),
      (15L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val ah = Dedup.hashedShingleSets(
      corpus.filter(col("doc_id") % 2 === 0), "text", "doc_id", 3)
    val bh = Dedup.hashedShingleSets(
      corpus.filter(col("doc_id") % 2 === 1), "text", "doc_id", 3)
    val out = Dedup.incrementalDupProbe(ah, bh, numPerms = 48, bands = 16,
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // batch 11 == archive 10 and 12 exactly (J = 1); 13/15 match no
    // archive doc and never pair with each other
    assert(out == Set((11L, 10L, 1.0), (11L, 12L, 1.0)))
    // full-corpus parity with the unblocked definition at spec scale
    val blocked = Dedup.incrementalDupProbe(
        Dedup.hashedShingleSets(docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", 3).localCheckpoint(),
        Dedup.hashedShingleSets(docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", 3).localCheckpoint(),
        numPerms = 48, bands = 16, threshold = 0.8)
      .select("batch_id", "archive_id").as[(Long, Long)].collect().toSet
    val sets = Dedup.shingleSets(docs, "text", "doc_id", 3)
    val brute = sets.as("b").crossJoin(sets.as("a"))
      .filter(col("b.doc_id") % 2 === 1 && col("a.doc_id") % 2 === 0)
      .select(col("b.doc_id").as("batch_id"), col("a.doc_id").as("archive_id"),
        (size(array_intersect(col("b.shingles"), col("a.shingles"))).cast("double") /
          size(array_union(col("b.shingles"), col("a.shingles")))).as("j"))
      .filter(col("j") >= 0.8)
      .select("batch_id", "archive_id").as[(Long, Long)].collect().toSet
    assert(blocked == brute,
      s"missing=${brute -- blocked} extra=${blocked -- brute}")
  }

  test("fuzzy dedup parameter validation is loud") {
    val hsets = Dedup.hashedShingleSets(
      Seq((1L, "a b c")).toDF("doc_id", "text"), "text", "doc_id", 3)
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.fuzzyDupPairs(hsets, d, "text", "doc_id", editSim = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.fuzzyDupPairs(hsets, d, "text", "doc_id", jPrefilter = 1.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.fuzzyDupPairs(hsets, d, "text", "doc_id", numPerms = 64, bands = 7)
    }
  }
}
