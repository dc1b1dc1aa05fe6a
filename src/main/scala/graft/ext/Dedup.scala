package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Count

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.9): exact, n-gram Jaccard (inverted index), MinHash+LSH
  * banding, SimHash with chunk blocking.
  *
  * Scale design: nothing here ever does an unblocked all-pairs
  * comparison. Exact dedup is a hash groupBy; n-gram Jaccard joins
  * through an inverted shingle index; MinHash compares only
  * band-bucket collisions; SimHash compares only pairs sharing one of
  * four 16-bit chunks (pigeonhole: Hamming ≤ 3 ⇒ some chunk equal).
  *
  * Threshold-0 semantics (applies to every Jaccard/containment pair
  * operator): blocking only ever produces CO-POSTING pairs (≥ 1 shared
  * shingle). For any t > 0 that is exactly the documented
  * { pairs | score ≥ t } — a qualifying pair must share a shingle — so
  * blocking loses nothing. At the t = 0 boundary the output is the
  * co-posting pair set, NOT all n² pairs: disjoint pairs (score 0) are
  * definitionally absent. The property tests use t = 0 as precisely
  * that enumeration. Destructive consumers ([[Curation.dropNearDupes]])
  * require t > 0 instead — dropping on "shares any shingle" is corpus
  * loss, not curation.
  */
object Dedup {

  /** Exact dedup groups: hash-groupBy on content (md5 keeps the oracle
    * twin expressible — DuckDB md5 matches Spark's).
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, shingles) — distinct word n-gram shingles per document.
    * Tokenization is a plain single-space split (matches the oracle's
    * `string_split(text, ' ')`).
    */
  def shingleSets(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(0, size(w) - $n), " +
          s"i -> concat_ws(' ', slice(w, i + 1, $n))))").as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Exact n-gram Jaccard pairs via inverted index: explode shingles,
    * self-join on shingle (only docs sharing ≥1 shingle ever meet — the
    * blocked alternative to a crossJoin), count intersections, then
    * |A∩B| / (|A|+|B|−|A∩B|). Jaccard of small ints is exact in IEEE
    * double, so it hash-matches the oracle bit-for-bit.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame =
    // No checkpoint here: this string-basis form is the exact baseline
    // the specs hold the hashed operators to, so it stays one lazy plan
    // (each self-join side re-shingles); scale callers checkpoint
    // [[hashedShingleSets]] for [[ngramJaccardPairsFromHashedSets]].
    ngramJaccardPairsFromSets(shingleSets(docs, textCol, idCol, n), threshold)

  /** (doc_id, n_sh, shs) — the 64-bit-hashed form of [[shingleSets]]:
    * `shs` holds the doc's distinct shingles as SORTED xxhash64 values.
    * This is the frame every count-based pair operator (Jaccard,
    * containment, PageRank-over-pairs) should materialize instead of
    * the string sets: the checkpoint stores 8 bytes per shingle
    * instead of the shingle text (~4x smaller; sets_ckpt was the
    * dominant phase of q_pagerank at 2.15 s of 3.9 s measured r7), and
    * the sort makes hash order a global total order — exactly what the
    * prefix filters slice against. A 64-bit collision among ~10^6
    * distinct shingles is ~1e-7 — the same accepted error class as the
    * hashed join postings this replaces.
    *
    * Computed by the native one-pass [[graft.functions.HashedWordShingles]]
    * (zero string construction — shingles are hashed as byte slices of
    * the original text); TextHashSpec proves byte-equality with the
    * split/concat_ws/xxhash64 SQL formulation this replaced.
    *
    * Unlike [[shingleSets]] there is deliberately NO under-n-tokens row
    * filter: a `filter(size(shs) > 0)` here gets predicate-pushed below
    * the projection and the optimizer then inlines the expression into
    * both the size and inferred isnotnull predicates — three
    * evaluations of the scan per row (observed in the r7 plan dump).
    * Docs too short to shingle keep a row with an EMPTY `shs`
    * (n_sh = 0), which every consumer already ignores structurally:
    * posting and banding paths reach shingles through `explode` (empty
    * array ⇒ no rows ⇒ never a posting, never a candidate, never a
    * signature), and verification joins only ever look up ids that
    * appeared as candidates.
    */
  def hashedShingleSets(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHash.hashedShingles(col(textCol), n).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), col("shs"))

  /** Shared inverted-shingle-index blocking: explode the hashed sets
    * into 8-byte postings, SHUFFLE_HASH self-join on the posting
    * (doc_id-ordered, plus any caller predicate over the aliased
    * `a`/`b` sides), two-phase count of per-pair intersections.
    * Returns (a_id, b_id, na, nb, inter) — the raw material both
    * Jaccard and containment score from, kept in ONE place so blocking
    * fixes (hash width, join hint, slack) can never diverge between
    * them.
    */
  private[ext] def shinglePairCountsHashed(hsets: DataFrame,
      extraJoinPred: Column): DataFrame = {
    val inv = hsets.select(col("doc_id"), col("n_sh"),
      explode(col("shs")).as("sh"))
    inv.as("a").hint("SHUFFLE_HASH").join(inv.as("b").hint("SHUFFLE_HASH"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          extraJoinPred)
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** A [[shingleSets]] frame in [[hashedShingleSets]]' shape: each
    * distinct shingle as its xxhash64 (unsorted — the pair counts do
    * not need the order).
    */
  private def hashSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("shingles")).as("n_sh"),
      expr("transform(shingles, s -> xxhash64(s))").as("shs"))

  /** Jaccard pairs over a precomputed HASHED set frame
    * ([[hashedShingleSets]]) — the cheapest entry point: callers
    * materialize the hashed frame once and both self-join sides read
    * 8-byte postings (~4x smaller shuffle than strings; a 64-bit
    * collision among ~10^6 distinct shingles is ~1e-7 — far below the
    * bit-exactness bar of everything else here).
    *
    * Each inverted row carries its doc's set size so the LENGTH FILTER
    * (J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t) prunes pairs inside the join, before
    * the aggregation shuffle ever sees them. The (1 − 1e-12) RELATIVE
    * slack keeps a sub-ulp rounding of threshold·n from pruning an
    * exactly-at-threshold pair at any magnitude (an absolute 1e-9 slack
    * stops working once threshold·n > ~9e6, where half an ulp of the
    * product exceeds it); the final jaccard >= threshold check keeps the
    * output exact. n_sh is functionally dependent on doc_id, so grouping
    * by it too is free — and carrying it through the aggregation means
    * the Jaccard denominator needs NO join back to a per-doc size table
    * (the two size joins this replaced were the top cost in BENCH_r02).
    */
  def ngramJaccardPairsFromHashedSets(hsets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"jaccard threshold must be in [0, 1], got $threshold")
    shinglePairCountsHashed(hsets,
        col("b.n_sh") * lit(threshold * (1 - 1e-12)) <= col("a.n_sh") &&
          col("a.n_sh") * lit(threshold * (1 - 1e-12)) <= col("b.n_sh"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[ngramJaccardPairs]] over precomputed shingle sets, hashed once
    * and scored by [[ngramJaccardPairsFromHashedSets]]. `sets` feeds
    * BOTH self-join sides, and the two identical exchanges are NOT
    * deduplicated at runtime (measured: AQE leaves them separate
    * stages), so callers that can materialize `sets`
    * (`localCheckpoint()`) cut the tokenize+shingle subtree from two
    * evaluations to one.
    */
  def ngramJaccardPairsFromSets(sets: DataFrame,
      threshold: Double): DataFrame =
    ngramJaccardPairsFromHashedSets(hashSets(sets), threshold)

  /** Asymmetric CONTAINMENT near-dup pairs over precomputed shingle
    * sets: C(A,B) = |A∩B| / min(|A|,|B|) — catches subset/quotation
    * duplication that Jaccard misses (a short doc wholly embedded in a
    * long one has containment 1 but Jaccard ≈ |A|/|B|). Same
    * inverted-shingle-index blocking as [[ngramJaccardPairs]];
    * deliberately NO length filter — containment is size-ratio-free by
    * design, so pruning on sizes would drop true positives. Ratio of
    * small ints ⇒ IEEE-exact ⇒ oracle-expressible.
    *
    * UNPRUNED — every posting of every doc meets every co-posting doc;
    * kept as the verification baseline for [[containmentPairsPrefix]]
    * (DedupSpec proves output equality), which is the variant the
    * registered query runs and the only one that survives skewed
    * shingle document frequencies at scale.
    */
  def containmentPairsFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"containment threshold must be in [0, 1], got $threshold")
    // same blocking as Jaccard with NO length predicate — containment
    // is size-ratio-free by design
    shinglePairCountsHashed(hashSets(sets), lit(true))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Containment pairs with PREFIX FILTERING over [[hashedShingleSets]]
    * — the scale-safe formulation. A length filter is rightly absent
    * (containment is size-ratio-free), but prefix filtering still
    * applies, on the SMALLER set's bound: if C(A,B) ≥ t and S is the
    * smaller set (|S| = m), then |A∩B| ≥ ⌈t·m⌉, so at most m − ⌈t·m⌉
    * of S's elements are outside the intersection — under any global
    * total order (here: hash ascending, which [[hashedShingleSets]]
    * pre-sorts), the first m − ⌈t·m⌉ + 1 elements of S contain at
    * least one intersection element (pigeonhole). The larger side must
    * stay fully indexed (a shared shingle may sit anywhere in it), so
    * candidates come from a prefix-postings ⋈ full-postings join with
    * the smaller-set role fixed by (n_sh, doc_id) order.
    *
    * Why this kills the hot-shingle blowup: the unpruned self-join is
    * quadratic in every posting list's length, so one boilerplate
    * shingle shared by k docs costs k²/2 comparisons. Here a doc
    * contributes a posting only from the first ~(1−t) of its sorted
    * hashes — at t = 0.9 the prefix index is ~10% of the full one, and
    * a universally-shared shingle lands in almost no prefix (its hash
    * is uniform over the doc's sorted hash range), so the hot list's
    * quadratic term collapses to prefix-hits × full-hits. The
    * (1 − 1e-12) relative slack on the ceil mirrors the Jaccard length
    * filter: a sub-ulp overshoot of t·m would shorten the prefix and
    * silently lose recall. Exact final filter ⇒
    * precision 1; DedupSpec proves equality with the unpruned
    * baseline.
    */
  /** The prefix-postings ⋈ full-postings join output of
    * [[containmentPairsPrefix]], PRE-distinct — one row per
    * (prefix hit, full hit) collision. Shared with ScaleSpec, whose
    * hot-shingle pruning assertion counts exactly these rows: keeping
    * the prefix-length formula and smaller-set role in ONE place means
    * the measured join is always the join production runs.
    */
  private[graft] def containmentPrefixCandidateRows(hsets: DataFrame,
      threshold: Double): DataFrame = {
    val p = (col("n_sh") -
      ceil(lit(threshold * (1 - 1e-12)) * col("n_sh")) + 1).cast("int")
    val pref = hsets.select(col("doc_id"), col("n_sh"),
      explode(slice(col("shs"), lit(1), p)).as("sh"))
    val full = hsets.select(col("doc_id"), col("n_sh"),
      explode(col("shs")).as("sh"))
    // role: prefix side = smaller set (ties broken by id), so every
    // qualifying pair is generated at least once, then normalized to
    // (min id, max id) for the doc_id-ordered output contract
    pref.as("a").hint("SHUFFLE_HASH")
      .join(full.as("b").hint("SHUFFLE_HASH"),
        col("a.sh") === col("b.sh") &&
          (col("a.n_sh") < col("b.n_sh") ||
            (col("a.n_sh") === col("b.n_sh") &&
              col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
  }

  def containmentPairsPrefix(hsets: DataFrame,
      threshold: Double): DataFrame = {
    // t > 1 would make the prefix length n_sh − ceil(t·n_sh) + 1
    // NEGATIVE and slice() would throw mid-job — validate up front, the
    // same check every pair entry point (pruned or not) now applies, so
    // prefix and baseline variants reject the same nonsense the same way
    // instead of one throwing and the other silently returning empty.
    require(threshold >= 0 && threshold <= 1,
      s"containment threshold must be in [0, 1], got $threshold")
    val cands = containmentPrefixCandidateRows(hsets, threshold).distinct()
    cands
      .join(hsets.select(col("doc_id").as("a_id"), col("shs").as("sa"),
        col("n_sh").as("na")), "a_id")
      .join(hsets.select(col("doc_id").as("b_id"), col("shs").as("sb"),
        col("n_sh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          least(col("na"), col("nb"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** MinHash signatures over HASHED shingle sets: k independent hash
    * functions simulated as xxhash64 salted with the permutation index,
    * applied to the 8-byte shingle hash; one exploded pass, k
    * partial-aggregated mins — no per-doc loops. With k = 48 a
    * string-basis signature would hash every shingle's bytes 48 times;
    * this hashes them once (in [[hashedShingleSets]]) plus 48 cheap
    * fixed-width long-hashes.
    */
  def minhashSignaturesFromHashed(hsets: DataFrame, numPerms: Int): DataFrame = {
    val inv = hsets.select(col("doc_id"), explode(col("shs")).as("sh"))
    val mins = (0 until numPerms).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    inv.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerms).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Banded form of a signature frame: one (doc_id, band_id, band_hash)
    * row per band. Shared by [[lshCandidates]] and
    * [[incrementalDupProbe]], which joins two banded frames.
    */
  def bandedSignatures(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band_id"), xxhash64(parts: _*).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id"), col("bb.band_hash"))
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numPerms), hash each band, join docs colliding in any band.
    * With b=16, r=4: P(candidate | j=0.9) ≈ 1−(1−0.9⁴)¹⁶ ≈ 1−10⁻⁸.
    * EAGER AT CALL TIME: the banded frame feeds both self-join sides
    * (AQE does not reuse the twin exchanges — measured), so it is
    * checkpointed: the signature aggregation runs as one job when
    * CALLED, not once per side. Its minhash and fuzzy callers inherit this.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedSignatures(sigs, bands, rowsPerBand).localCheckpoint()
    banded.as("a").hint("SHUFFLE_HASH").join(banded.as("b").hint("SHUFFLE_HASH"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs over [[hashedShingleSets]], exactly
    * verified: LSH prunes the pair space (hashed-basis signatures,
    * [[minhashSignaturesFromHashed]]), then true Jaccard on the hashed
    * sets (equal to string Jaccard modulo the accepted 64-bit collision
    * class) filters candidates — so output = { pairs with J ≥ threshold }
    * ∩ candidates, which at threshold 0.8 with b=16 is the exact pair
    * set with probability ≈ 1 (hence the DuckDB oracle twin). The
    * registered `q_dedup_minhash` runs this; output equality with the
    * exact pair set was validated at sf0.01 AND sf0.1 by a parameter
    * sweep (retired; in git history up to commit 8b0aa7c) and is
    * asserted in DedupSpec.
    */
  def minhashNearDupPairsFromHashedSets(hsets: DataFrame, numPerms: Int,
      bands: Int, threshold: Double): DataFrame = {
    // t = 0 is excluded (unlike the enumeration-style jaccard entry
    // points): banded LSH is a threshold-tuned filter — at 0 the
    // verification keeps every banded candidate, which is neither the
    // full pair set nor a meaningful near-dup set. A non-divisible
    // (numPerms, bands) would silently drop numPerms % bands
    // permutations from every signature.
    require(threshold > 0 && threshold <= 1,
      s"minhash threshold must be in (0, 1], got $threshold")
    require(numPerms >= 1 && bands >= 1 && numPerms % bands == 0,
      s"numPerms ($numPerms) must be a positive multiple of bands ($bands)")
    val cands = lshCandidates(minhashSignaturesFromHashed(hsets, numPerms),
      bands, numPerms / bands)
    cands
      .join(hsets.select(col("doc_id").as("a_id"), col("shs").as("sa")), "a_id")
      .join(hsets.select(col("doc_id").as("b_id"), col("shs").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental (archive-probe) near-dup detection: flag incoming
    * batch documents that near-duplicate the EXISTING archive, without
    * ever pairing archive-vs-archive or batch-vs-batch — the dedup an
    * append-only corpus actually runs per ingest (the full self-join
    * re-pays the whole archive every batch; the probe pays
    * |batch| + index lookups). Asymmetric twin of
    * [[minhashNearDupPairsFromHashedSets]]: both sides band their
    * signatures, candidates come from an (band_id, band_hash) equi-join
    * of batch bands against archive bands, and exact hashed-set Jaccard
    * verifies. At threshold 0.8 the registered configuration is
    * (numPerms, bands) = (48, 16) ⇒ r = 3, the point the retired
    * parameter sweep picked (see git history and the q_dedup_minhash
    * call site): per-pair miss
    * probability at J = 0.8 is ≈ 1e-5, so candidate recall ≈ 1 (same
    * curve as the self-join variant) and the output equals the
    * unblocked batch×archive definition — hence the oracle twin. (The
    * parameter defaults are 64/16 ⇒ r = 4, a slightly flatter curve
    * with the same ≈1 recall at 0.8.)
    *
    * Scale shape: the archive's banded frame is the INDEX — at 100 TB
    * it persists once (bucketed by band_hash) and every ingest joins
    * its batch bands against it shuffle-free on the bucket; nothing
    * here is quadratic in the archive. Callers materialize the hashed
    * shingle-set frames (each feeds its signature pass AND the
    * verification join).
    */
  def incrementalDupProbe(archiveHsets: DataFrame, batchHsets: DataFrame,
      numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"probe threshold must be in (0, 1], got $threshold")
    require(numPerms >= 1 && bands >= 1 && numPerms % bands == 0,
      s"numPerms ($numPerms) must be a positive multiple of bands ($bands)")
    val r = numPerms / bands
    val aBanded = bandedSignatures(
      minhashSignaturesFromHashed(archiveHsets, numPerms), bands, r)
    val bBanded = bandedSignatures(
      minhashSignaturesFromHashed(batchHsets, numPerms), bands, r)
    val cands = bBanded.as("b").hint("SHUFFLE_HASH")
      .join(aBanded.as("a").hint("SHUFFLE_HASH"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("b.doc_id").as("batch_id"),
        col("a.doc_id").as("archive_id"))
      .distinct()
    cands
      .join(batchHsets.select(col("doc_id").as("batch_id"),
        col("shs").as("sb")), "batch_id")
      .join(archiveHsets.select(col("doc_id").as("archive_id"),
        col("shs").as("sa")), "archive_id")
      .select(col("batch_id"), col("archive_id"),
        (size(array_intersect(col("sb"), col("sa"))).cast("double") /
          size(array_union(col("sb"), col("sa")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy-dup pairs with EDIT-DISTANCE verification — the two-stage
    * fuzzy dedup a production curation run ships: banded MinHash-LSH
    * proposes candidates (never all-pairs), a cheap hashed-Jaccard
    * prefilter (`jPrefilter`) prunes them, and only the survivors pay
    * the O(len²) Levenshtein — `edit_sim = 1 − lev/max(len)` ≥
    * `editSim` is the final, order-insensitive verdict. Character-level
    * edit similarity catches what set-based Jaccard blurs (small
    * in-place edits, token reorderings score differently), which is why
    * the verify stage exists at all.
    *
    * Output = { (a,b) : J(a,b) ≥ jPrefilter ∧ edit_sim ≥ editSim } ∩
    * banded candidates. At editSim ≥ 0.9 the surviving pairs are
    * near-identical strings whose shingle Jaccard is far above the LSH
    * threshold curve, so candidate recall ≈ 1 and the output equals the
    * unblocked definition (re-validated at sf0.01 AND sf0.1 against the
    * all-pairs oracle; same argument as
    * [[minhashNearDupPairsFromHashedSets]]).
    *
    * Scale shape: candidates and the J-prefilter are the existing
    * banded/hashed-set machinery (sub-quadratic, skew-bounded); the
    * text join for verification is id-keyed (bucketable) and touches
    * only prefilter survivors, so the quadratic-in-length Levenshtein
    * runs on a vanishing fraction of the pair space.
    */
  def fuzzyDupPairs(hsets: DataFrame, texts: DataFrame, textCol: String,
      idCol: String, numPerms: Int = 64, bands: Int = 16,
      jPrefilter: Double = 0.5, editSim: Double = 0.9): DataFrame = {
    require(editSim > 0 && editSim <= 1,
      s"editSim must be in (0, 1], got $editSim")
    require(jPrefilter >= 0 && jPrefilter <= 1,
      s"jPrefilter must be in [0, 1], got $jPrefilter")
    require(numPerms >= 1 && bands >= 1 && numPerms % bands == 0,
      s"numPerms ($numPerms) must be a positive multiple of bands ($bands)")
    val cands = lshCandidates(minhashSignaturesFromHashed(hsets, numPerms),
      bands, numPerms / bands)
    val jPairs = cands
      .join(hsets.select(col("doc_id").as("a_id"), col("shs").as("sa")), "a_id")
      .join(hsets.select(col("doc_id").as("b_id"), col("shs").as("sb")), "b_id")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))) >= jPrefilter)
      .select(col("a_id"), col("b_id"))
    val t = texts.select(col(idCol).as("doc_id"), col(textCol).as("t"))
    jPairs
      .join(t.select(col("doc_id").as("a_id"), col("t").as("ta")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("t").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb")))).as("edit_sim"))
      .filter(col("edit_sim") >= editSim)
  }

  /** Connected components over an undirected pair list (near-dup pairs →
    * dedup GROUPS): iterative min-label propagation. Each round is one
    * join + one aggregation; labels converge to the component-minimum id
    * in O(graph diameter) rounds — near-dup components are (almost)
    * cliques, so 2-3 rounds in practice. `localCheckpoint` after every
    * round cuts the exponential lineage growth that sinks naive
    * iterative DataFrame jobs. Returns (node, component) where
    * `component` = the smallest id in the node's component.
    *
    * Scale: state is one row per node APPEARING IN A PAIR (the near-dup
    * subgraph, orders of magnitude smaller than the corpus), shuffled by
    * node id each round. This is the standard label-propagation CC; for
    * adversarial high-diameter graphs swap in large-star/small-star —
    * the interface stays the same.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    // edges is LAZY-marked (r16): the initial labels checkpoint below
    // computes through it and persists both in one job (labels is the
    // first and only consumer until round 1, which then reads persisted
    // blocks). labels itself stays EAGER: round 1 consumes it twice in
    // one job (the neighbor-min join AND the left-join spine), so a
    // lazy mark would race-compute it.
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct().localCheckpoint(eager = false)
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("component", col("node")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, col("v") === col("node"))
        .groupBy(col("u")).agg(min(col("component")).as("nbr_min"))
      // the changed flag rides INSIDE the round's state frame, and the
      // frame is LAZY-marked (r16): the changed-count the loop needs
      // anyway materializes it in the same job (the count scans every
      // partition, so the persist is complete) — one job per round
      // where eager-checkpoint-then-isEmpty took two. The next round's
      // two consumers read persisted blocks.
      val next = labels.join(nbrMin, col("node") === col("u"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component"))
            .as("changed"))
        .localCheckpoint(eager = false)
      converged = Count.rows(next.filter(col("changed"))) == 0L
      labels = next.drop("changed")
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIter rounds")
    labels
  }

  /** 64-bit SimHash over tokens: per bit, majority vote of token-hash
    * bits (+1/−1), computed as 64 conditional sums in ONE aggregation
    * pass over the exploded tokens — no UDF, fully codegen'd.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // n=1 word shingles ARE the distinct token hashes — the native
    // one-pass scanner replaces split+array_distinct+explode+xxhash64
    // with identical hash values (TextHashSpec equality incl. n=1)
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextHash.hashedShingles(col(textCol), 1))
          .as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val agg = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming: blocked
    * by four 16-bit chunks — pigeonhole over 4 chunks guarantees a pair
    * within Hamming 3 agrees on at least one chunk, so only
    * chunk-collisions are compared. maxHamming is therefore capped at
    * 3: a larger bound would VALIDATE but the blocking would silently
    * miss pairs whose differing bits touch all four chunks (recall
    * loss, not an error an output filter can surface).
    * EAGER AT CALL TIME: the chunked frame feeds both self-join sides,
    * so it is checkpointed — the simhash agg is one job when CALLED.
    */
  def simhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (4-chunk pigeonhole guarantees " +
        s"recall only through hamming 3), got $maxHamming")
    val fps = simhash(docs, textCol, idCol)
    val chunks = fps.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk_id"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("chunk_val"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.chunk_id"), col("ch.chunk_val"))
      .localCheckpoint()
    chunks.as("a").hint("SHUFFLE_HASH").join(chunks.as("b").hint("SHUFFLE_HASH"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact duplicated token spans: every `width`-token window that
    * occurs more than once in the corpus, with its occurrence and
    * document counts and a first-occurrence reference. Substring-level
    * exact dedup (cf. Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better") — catches the boilerplate,
    * license headers, and quoted passages that document-level hashing
    * misses entirely. A deployment cuts the flagged windows (the
    * (doc, pos) occurrence list is the pre-aggregation frame); the
    * registered query emits the per-span summary, which is what a
    * curation run reviews first.
    *
    * Scale shape: spans explode to one row per token position (the
    * same cardinality every tokenize-explode op here already handles),
    * map-side md5 only — then ONE count aggregation keyed by span
    * hash, two-phase, so the shuffle carries (hash, partial-count)
    * rows bounded by distinct spans per partition. The hot-span skew
    * bound is the usual Zipf argument: a span duplicated in every doc
    * still contributes one partial per partition, not one row per
    * occurrence. md5 over the space-joined window makes the span key
    * oracle-expressible (DuckDB computes the identical hex).
    *
    * first_ref encodes (doc_id, pos) as doc_id·100000 + pos — exact
    * while pos < 100 000 (corpus docs are ~10² tokens; a deployment
    * with book-length docs widens the factor) and keeps the
    * min-aggregation a plain long min on both engines.
    */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      width: Int): DataFrame = {
    require(width >= 2, s"span width must be >= 2, got $width")
    // tokenize ONCE into a projected alias: an inline `split` would be
    // re-inlined into every reference (filter + sequence bound + each
    // slice — 4 evaluations per row, measured 1.84 → 0.88 s at sf0.1);
    // CollapseProject keeps a multi-referenced non-trivial alias
    // materialized. Sub-width docs route through the CASE to an empty
    // array (explode drops them) instead of a filter — a size filter
    // would be pushed below the projection and re-inline the split
    // (the hashedShingleSets lesson).
    val spans = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .select(col("doc_id"),
        posexplode(
          when(size(col("w")) >= width, transform(
            // 1-based start positions; the CASE guard keeps the
            // sequence ascending (ANSI sequence(1, 0) would DESCEND)
            sequence(lit(1), size(col("w")) - (width - 1)),
            i => md5(concat_ws(" ", slice(col("w"), i, lit(width))))))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col").as("span_hash"))
    spans
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * 100000L + col("pos")).as("first_ref"))
      .filter(col("n_occ") > 1)
  }
}
