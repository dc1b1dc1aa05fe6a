package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}
import graft.model.Tables

/** Round-6 corpus-diagnostics queries (SURVEY.md §2.9 north star):
  * token entropy, containment dedup, Zipf-law fit, char-class profiles,
  * an event funnel, and real-WAV audio features. All but the audio
  * query carry full DuckDB oracle twins; audio is rows-only (DuckDB has
  * no WAV decoder) with exact values pinned in MultimodalSpec.
  */
object CorpusQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-doc token Shannon entropy (diversity/repetition quality gate)
    "q_text_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // asymmetric containment pairs — subset/quotation duplication that
    // Jaccard misses; same inverted-index blocking as q_dedup_ngram
    "q_containment_pairs" -> ((s, d) => {
      // prefix-filtered formulation over materialized hashed sets (the
      // unpruned containmentPairsFromSets is the spec-side baseline;
      // DedupSpec proves output equality)
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      Dedup.containmentPairsPrefix(hsets, threshold = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // corpus-level Zipf rank-frequency slope over the top-200 tokens
    "q_zipf_slope" -> ((s, d) =>
      TextAnalysis.zipfSlope(Tables.documents(s, d), "text", k = 200)),

    // per-doc pseudo-perplexity under a corpus-trained bigram LM — the
    // CCNet/Gopher-class quality filter; one corpus scan, model derived
    // from the doc-grain bigram agg via windows (see bigramNll notes)
    "q_lm_perplexity" -> ((s, d) =>
      TextAnalysis.bigramNll(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // per-doc character-class profile (code-vs-prose / boilerplate)
    "q_text_charclasses" -> ((s, d) =>
      TextAnalysis.charClasses(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),

    // per-language perplexity gate: drop each language's NLL tails
    // (bottom/top 5% by exact integer rank bands) — the composed
    // quality FILTER a curation run actually applies
    "q_quality_gate" -> ((s, d) =>
      TextAnalysis.nllQualityGate(Tables.documents(s, d), "text",
          "doc_id", "lang")
        .orderBy(col("doc_id"))),

    // top-30 token-pair collocations by document-level PMI (phrase
    // mining / tokenizer-merge candidates); pmiPairs checkpoints the
    // distinct-token frame that feeds both join sides + the df agg
    "q_token_pmi" -> ((s, d) =>
      TextAnalysis.pmiPairs(Tables.documents(s, d), "text", "doc_id",
        minSupport = 5L, topK = 30)),

    // signup → purchase conversion funnel within 48 h, per user. Integer
    // microsecond arithmetic throughout — exact. Scale shape: two
    // filtered scans of the same table, one join + one agg keyed by
    // user_id (the signup side aggregates to one row per user first,
    // so the join input is minimal).
    "q_event_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      val signup = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("signup_us"))
      val purchase = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      signup.join(purchase, Seq("user_id"))
        .filter(col("p_us") > col("signup_us"))
        .groupBy(col("user_id"), col("signup_us"))
        .agg(min(col("p_us")).as("purchase_us"))
        .filter(col("purchase_us") - col("signup_us") <= 48L * 3600L * 1000000L)
        .select(col("user_id"), col("signup_us"), col("purchase_us"),
          (col("purchase_us") - col("signup_us")).as("latency_us"))
        .orderBy(col("user_id"))
    }),

    // weekly cohort-retention matrix: users cohorted by first-signup
    // week, activity = any event in a later week. Pure integer/date
    // arithmetic (week offsets via datediff/7, ratios int-over-int) —
    // engine-exact. Scale shape: user-keyed aggs + one (cohort, offset)
    // agg; the cohort-sizes frame is weeks-cardinality (broadcast).
    "q_cohort_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          date_trunc("week", col("ts")).as("wk"))
      val cohorts = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val active = e.select(col("user_id"), col("wk")).distinct()
      val sizes = cohorts.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("n_cohort"))
      active.join(cohorts, "user_id")
        .filter(col("wk") >= col("cohort_wk"))
        .select(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int")
            .as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        // sizes is weeks-cardinality — say so with an explicit hint
        // (r16) instead of relying on the size estimate
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk").cast("date").as("cohort_week"),
          col("week_offset"), col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort")).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // PageRank over the near-dup pair graph (3 iterations, d = 0.85):
    // the principled "which copy is canonical" answer for dedup groups,
    // where min-id keep is the arbitrary one. Contribution rounding
    // into DECIMAL(28,15) makes the ranks bit-identical to the oracle.
    "q_pagerank" -> ((s, d) => {
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      // the near-dup pair list is tiny relative to the corpus —
      // coalesce(1) before the checkpoint so every PageRank iteration
      // downstream schedules single-task stages, not 32-task waves
      val pairs = Dedup.ngramJaccardPairsFromHashedSets(hsets, threshold = 0.6)
        .coalesce(1).localCheckpoint()
      Graph.pageRank(pairs, "a_id", "b_id", iterations = 3, damping = 0.85,
          partitions = 1)
        .select(col("node").as("doc_id"), col("pagerank"))
        .orderBy(col("doc_id"))
    }),

    // triangle counting (round 11) over the co-purchase graph (parts
    // sharing an order): degree-oriented wedge counting — the exact
    // O(E^1.5)-work algorithm, no node fans out more than O(√E)
    // oriented edges however big its raw degree. Pure integer counts.
    "q_triangles" -> ((s, d) => {
      // bounded showcase: the pre-1998 slice (pushed to the scan) keeps
      // the gate query ~5x smaller in edges (~12x in wedge work) while
      // ScaleSpec measures the growth law on the unbounded graph
      val items = Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint() // feeds both self-join sides (AQE no-dedup)
      // no .distinct() here: triangleCounts normalizes and dedupes
      // the pair list itself (same reasoning as q_kcore)
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("a_id"), col("b.pk").as("b_id"))
      Graph.triangleCounts(pairs, "a_id", "b_id")
        .select(col("node").as("part_id"), col("triangles"), col("deg"))
        .orderBy(col("part_id"))
    }),

    // k-core (round 11): the dense co-purchase core of the pre-1998
    // slice at k=12 — k sits between min and median degree at EVERY
    // scale, so peeling is non-trivial (3-5 rounds) without emptying;
    // a one-shot degree filter would miss the cascade. Oracle unrolls
    // 10 idempotent rounds.
    "q_kcore" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint()
      // no .distinct() here: kCore normalizes and dedupes the pair
      // list itself — an outer distinct would just add a second
      // full-width shuffle of the raw pair stream
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("a_id"), col("b.pk").as("b_id"))
      Graph.kCore(pairs, "a_id", "b_id", k = 12)
        .select(col("node").as("part_id"), col("deg"))
    }),

    // label propagation (round 11): deterministic synchronous LPA (5
    // rounds, min-label tie break) over the near-dup pair graph — the
    // community view of dedup structure, vs CC's transitive-closure
    // view and PageRank's centrality view
    "q_label_prop" -> ((s, d) => {
      val hsets = Dedup.hashedShingleSets(Tables.documents(s, d), "text",
        "doc_id", n = 3).localCheckpoint()
      val pairs = Dedup.ngramJaccardPairsFromHashedSets(hsets, threshold = 0.6)
        .coalesce(1).localCheckpoint()
      // materialize = identity: 5 FIXED iterations over a tiny pair
      // graph, each label frame consumed exactly once — lazy chains
      // beat 5 eager checkpoint jobs (see labelPropagation scaladoc)
      Graph.labelPropagation(pairs, "a_id", "b_id", iterations = 5,
          partitions = 1, materialize = identity)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
    }),

    // hard-negative mining: per query, top-5 most-similar vectors with
    // a DIFFERENT label (similar-but-wrong — what a contrastive loss
    // learns from). Broadcast queries, one corpus scan, label predicate
    // inside the join.
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, q, k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), col("label"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // real WAV decode (javax.sound.sampled) over deterministic synthetic
    // sine payloads built in the executors: sample rate, RMS level,
    // zero-crossing rate. No WAV decoder in DuckDB, but every feature is
    // a per-row pure function of a seeded payload — so the registered
    // form reduces the 64 feature rows to an order-independent exact
    // digest with a pinned-constant oracle (the q_dedup_simhash pattern,
    // VERDICT r10 #6; was rows-only through r10). Per-row output stays
    // first-class via [[Multimodal.extractAudioFeatures]]; exact
    // BT.601/RMS values + this digest pinned in MultimodalSpec.
    // per-source token-distribution drift KL(P_source ‖ P_corpus)
    // (round 11): the domain-shift diagnostic before source weighting;
    // one tokenize; sourceTokenKl checkpoints the (source, token)
    // counts that feed two windows + the broadcast grand total
    "q_source_kl" -> ((s, d) =>
      TextAnalysis.sourceTokenKl(Tables.documents(s, d), "text", "source")),

    "q_multimodal_audio" -> ((s, _) =>
      Multimodal.extractAudioFeatures(Multimodal.syntheticAudio(s, 64))
        .agg(count(lit(1)).as("n_media"),
          bit_xor(xxhash64(col("media_id"), col("n_bytes"),
            col("sample_rate"), col("n_samples"), col("rms"),
            col("zero_cross_rate"))).as("xor_digest")))
  )

  def oracles: Map[String, String] = Map(

    // Pinned-constant oracle (the q_dedup_simhash pattern): the WAV
    // corpus is synthesized in-executor from seeded sine parameters —
    // no fixture dependence, every feature a per-row pure function —
    // so the digest is one constant (verified identical across scales
    // and repeated runs). MultimodalSpec pins the same digest.
    "q_multimodal_audio" ->
      """SELECT CAST(64 AS BIGINT) AS n_media,
        |  CAST(2989624363592580595 AS BIGINT) AS xor_digest""".stripMargin,

    // mirrors sourceTokenKl exactly: same quotient shapes, one ln per
    // (source, token) term through DECIMAL(18,9), final round(…, 6)
    // twin of Spark's bround (the zipfSlope final-rounding discipline)
    "q_source_kl" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |c AS (SELECT source, t, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
        |w AS (SELECT source, t, c_st,
        |  SUM(c_st) OVER (PARTITION BY t) AS c_t,
        |  SUM(c_st) OVER (PARTITION BY source) AS n_s,
        |  SUM(c_st) OVER () AS n_total FROM c),
        |e AS (SELECT source, n_s,
        |  CAST((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |    ln((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) /
        |      (CAST(c_t AS DOUBLE) / CAST(n_total AS DOUBLE)))
        |    AS DECIMAL(18,9)) AS term FROM w)
        |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(term) AS DOUBLE), 6) AS kl
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "q_text_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |wt AS (SELECT doc_id, c,
        |  SUM(c) OVER (PARTITION BY doc_id) AS n FROM tf),
        |e AS (SELECT doc_id,
        |  CAST((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
        |    AS DECIMAL(18,9)) AS term FROM wt)
        |SELECT doc_id, 0.0 - CAST(SUM(term) AS DOUBLE) AS entropy
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_containment_pairs" ->
      s"""$ShingleCte,
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    LEAST(len(a.s), len(b.s)) AS containment
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, containment FROM p WHERE containment >= 0.9
         |ORDER BY a_id, b_id""".stripMargin,

    "q_zipf_slope" ->
      """WITH tf AS (SELECT t, COUNT(*) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
        |  GROUP BY t),
        |top AS (SELECT t, c FROM tf ORDER BY c DESC, t LIMIT 200),
        |xy AS (SELECT
        |  CAST(ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS DOUBLE))
        |    AS DECIMAL(18,9)) AS x,
        |  CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,9)) AS y FROM top),
        |s AS (SELECT COUNT(*) AS n_ranked, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy),
        |nd AS (SELECT n_ranked,
        |  n_ranked * CAST(sxy AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |  n_ranked * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM s)
        |SELECT n_ranked,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE round(num / den, 6)
        |  END AS zipf_slope
        |FROM nd""".stripMargin,

    // Mirrors bigramNll's arithmetic exactly: per-(w1,w2) log-prob
    // rounds into DECIMAL(18,9) before the per-doc sum (exact in any
    // order); final divide is double-by-bigint on exact inputs.
    "q_lm_perplexity" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 1),
        |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS s FROM d),
        |fl AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |dk AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM fl GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, k,
        |  CAST(ln(CAST(SUM(k) OVER (PARTITION BY w1, w2) AS DOUBLE) /
        |          CAST(SUM(k) OVER (PARTITION BY w1) AS DOUBLE))
        |    AS DECIMAL(18,9)) AS lp
        |  FROM dk)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  (0.0 - CAST(SUM(CAST(k AS DECIMAL(10,0)) * lp) AS DOUBLE))
        |    / SUM(k) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same lm CTE as q_lm_perplexity, then integer rank bands per
    // language (20·r > n ∧ 20·r ≤ 19·n) — NLLs are engine-exact so
    // the kept set matches bit-for-bit.
    "q_quality_gate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 1),
        |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS s FROM d),
        |fl AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |dk AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM fl GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, k,
        |  CAST(ln(CAST(SUM(k) OVER (PARTITION BY w1, w2) AS DOUBLE) /
        |          CAST(SUM(k) OVER (PARTITION BY w1) AS DOUBLE))
        |    AS DECIMAL(18,9)) AS lp
        |  FROM dk),
        |nl AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  (0.0 - CAST(SUM(CAST(k AS DECIMAL(10,0)) * lp) AS DOUBLE))
        |    / SUM(k) AS nll
        |  FROM sc GROUP BY doc_id),
        |j AS (SELECT nl.doc_id, documents.lang, nl.n_bigrams, nl.nll
        |  FROM nl JOIN documents USING (doc_id)),
        |r AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nll, doc_id) AS r,
        |  COUNT(*) OVER (PARTITION BY lang) AS n FROM j)
        |SELECT doc_id, lang, n_bigrams, nll FROM r
        |WHERE r * 20 > n AND r * 20 <= n * 19 ORDER BY doc_id""".stripMargin,

    // Mirrors pmiPairs' arithmetic: exact integer products cast to
    // double, ONE ln per row rounded through DECIMAL(18,9) so a
    // last-bit libm divergence can't reorder the top-k.
    "q_token_pmi" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' '))
        |    AS w FROM documents),
        |n AS (SELECT COUNT(*) AS n_docs FROM d),
        |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
        |df AS (SELECT tok, COUNT(*) AS n_t FROM t GROUP BY tok),
        |pc AS (SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS n_ab
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2),
        |s AS (SELECT t1, t2, n_ab,
        |    CAST(CAST(ln(CAST(n_ab * n.n_docs AS DOUBLE) /
        |                 CAST(da.n_t * db.n_t AS DOUBLE))
        |      AS DECIMAL(18,9)) AS DOUBLE) AS pmi
        |  FROM pc JOIN df da ON pc.t1 = da.tok
        |  JOIN df db ON pc.t2 = db.tok CROSS JOIN n
        |  WHERE n_ab >= 5)
        |SELECT t1, t2, CAST(n_ab AS BIGINT) AS n_ab, pmi FROM s
        |ORDER BY pmi DESC, t1, t2 LIMIT 30""".stripMargin,

    "q_text_charclasses" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_total,
        |CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |  AS INT) AS n_digits,
        |CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
        |  AS INT) AS n_upper,
        |CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |  AS INT) AS n_punct,
        |CAST(length(text) - length(regexp_replace(text, ' ', '', 'g'))
        |  AS INT) AS n_spaces
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |    date_trunc('week', ts) AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM e),
        |s AS (SELECT cohort_wk, COUNT(DISTINCT user_id) AS n_cohort
        |  FROM c GROUP BY cohort_wk),
        |m AS (SELECT c.cohort_wk,
        |    CAST(date_diff('day', c.cohort_wk, a.wk) // 7 AS INT)
        |      AS week_offset, a.user_id
        |  FROM a JOIN c USING (user_id) WHERE a.wk >= c.cohort_wk),
        |g AS (SELECT cohort_wk, week_offset,
        |    COUNT(DISTINCT user_id) AS n_active FROM m GROUP BY 1, 2)
        |SELECT CAST(g.cohort_wk AS DATE) AS cohort_week, week_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_cohort AS BIGINT) AS n_cohort,
        |  CAST(n_active AS DOUBLE) / n_cohort AS retention
        |FROM g JOIN s USING (cohort_wk)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // Mirrors Graph.pageRank's arithmetic EXACTLY: contributions round
    // into DECIMAL(28,15) before each sum (order-independent, exact),
    // every other op is IEEE double with identical parenthesization —
    // note (1 - CAST(0.85 AS DOUBLE)), not a 0.15 literal, because
    // 1 − 0.85 in binary is not 0.15.
    // with pairs normalized a<b, triangle {x<y<z} enumerates exactly
    // once via edges (x,y),(x,z),(y,z); per-node counts then just
    // union the three corners
    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1998-01-01'),
        |p AS (SELECT DISTINCT a.pk AS a_id, b.pk AS b_id
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT a_id AS u, b_id AS v FROM p
        |  UNION ALL SELECT b_id, a_id FROM p),
        |dg AS (SELECT u AS node, COUNT(*) AS deg FROM e GROUP BY u),
        |tri AS (SELECT p1.a_id AS x, p1.b_id AS y, p2.b_id AS z
        |  FROM p p1 JOIN p p2 ON p1.a_id = p2.a_id AND p1.b_id < p2.b_id
        |  JOIN p p3 ON p3.a_id = p1.b_id AND p3.b_id = p2.b_id),
        |pn AS (SELECT node, COUNT(*) AS triangles FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) c GROUP BY node)
        |SELECT pn.node AS part_id, CAST(pn.triangles AS BIGINT) AS triangles,
        |  CAST(dg.deg AS BIGINT) AS deg
        |FROM pn JOIN dg ON dg.node = pn.node
        |ORDER BY part_id""".stripMargin,

    // 10 unrolled peeling rounds — the fixture converges in 6 and a
    // converged round is the identity (keep-all filter), so the extra
    // rounds are harmless slack against fixture drift
    "q_kcore" -> {
      val rounds = (0 until 10).map { i =>
        s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS c FROM
           |    (SELECT u AS n FROM e$i UNION ALL SELECT v FROM e$i) x$i
           |  GROUP BY n),
           |e${i + 1} AS MATERIALIZED (SELECT u, v FROM e$i
           |  WHERE u IN (SELECT n FROM d$i WHERE c >= 12)
           |  AND v IN (SELECT n FROM d$i WHERE c >= 12))""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |    FROM lineitem
         |    WHERE l_shipdate < TIMESTAMP '1998-01-01'),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |$rounds
         |SELECT node AS part_id, COUNT(*) AS deg FROM
         |  (SELECT u AS node FROM e10 UNION ALL SELECT v FROM e10) z
         |GROUP BY node ORDER BY part_id""".stripMargin
    },

    // 5 unrolled synchronous LPA rounds over the near-dup pair graph;
    // MATERIALIZED (the k-core lesson: inlined CTE chains re-expand)
    "q_label_prop" -> {
      val rounds = (0 until 5).map { i =>
        s"""v$i AS MATERIALIZED (SELECT e.v AS node, l.lbl, COUNT(*) AS n
           |  FROM e JOIN l$i l ON e.u = l.node GROUP BY e.v, l.lbl),
           |l${i + 1} AS MATERIALIZED (SELECT node, lbl FROM (
           |  SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
           |    ORDER BY n DESC, lbl ASC) AS rk FROM v$i) t$i
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""$ShingleCte,
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
         |e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e),
         |$rounds
         |SELECT node AS doc_id, lbl AS community FROM l5
         |ORDER BY doc_id""".stripMargin
    },

    "q_pagerank" ->
      s"""$ShingleCte,
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |dg AS (SELECT u AS node, COUNT(*) AS deg FROM e GROUP BY u),
         |nn AS (SELECT COUNT(*) AS n FROM dg),
         |r0 AS (SELECT node, deg, CAST(1 AS DOUBLE) / nn.n AS r FROM dg, nn),
         |c1 AS (SELECT e.v AS node, SUM(CAST(r0.r / r0.deg AS DECIMAL(28,15))) AS s
         |  FROM e JOIN r0 ON e.u = r0.node GROUP BY e.v),
         |r1 AS (SELECT dg.node, dg.deg, (1 - CAST(0.85 AS DOUBLE)) / nn.n +
         |    CAST(0.85 AS DOUBLE) * CAST(c1.s AS DOUBLE) AS r
         |  FROM dg JOIN c1 USING (node), nn),
         |c2 AS (SELECT e.v AS node, SUM(CAST(r1.r / r1.deg AS DECIMAL(28,15))) AS s
         |  FROM e JOIN r1 ON e.u = r1.node GROUP BY e.v),
         |r2 AS (SELECT dg.node, dg.deg, (1 - CAST(0.85 AS DOUBLE)) / nn.n +
         |    CAST(0.85 AS DOUBLE) * CAST(c2.s AS DOUBLE) AS r
         |  FROM dg JOIN c2 USING (node), nn),
         |c3 AS (SELECT e.v AS node, SUM(CAST(r2.r / r2.deg AS DECIMAL(28,15))) AS s
         |  FROM e JOIN r2 ON e.u = r2.node GROUP BY e.v),
         |r3 AS (SELECT dg.node, dg.deg, (1 - CAST(0.85 AS DOUBLE)) / nn.n +
         |    CAST(0.85 AS DOUBLE) * CAST(c3.s AS DOUBLE) AS r
         |  FROM dg JOIN c3 USING (node), nn)
         |SELECT node AS doc_id, r AS pagerank FROM r3
         |ORDER BY doc_id""".stripMargin,

    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.query_id, e.vec_id, e.label,
        |  list_cosine_similarity(q.qv, e.embedding) AS c
        |  FROM q CROSS JOIN embeddings e
        |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
        |r AS (SELECT query_id, vec_id, label,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id) AS INT) AS rank FROM s)
        |SELECT query_id, rank, vec_id, label FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |s AS (SELECT user_id, MIN(us) AS signup_us FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT user_id, us AS p_us FROM e
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT s.user_id, s.signup_us, MIN(p.p_us) AS purchase_us
        |  FROM s JOIN p ON s.user_id = p.user_id AND p.p_us > s.signup_us
        |  GROUP BY s.user_id, s.signup_us)
        |SELECT user_id, signup_us, purchase_us,
        |  purchase_us - signup_us AS latency_us
        |FROM f WHERE purchase_us - signup_us <= 48 * 3600 * CAST(1000000 AS BIGINT)
        |ORDER BY user_id""".stripMargin
  )

  /** Shared shingle CTE (identical construction to ExtQueries'): word
    * 3-gram shingle sets per doc.
    */
  private val ShingleCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM d WHERE len(w) >= 3)""".stripMargin
}
