package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.9):
  * token counting, quality scoring, language ID (marker-word heuristic),
  * and content fingerprinting. All pure `functions._` — codegen'd,
  * shuffle only at the final aggregation.
  */
object TextAnalysis {

  /** Whitespace tokens (matches the oracle's `string_split(text, ' ')`). */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** Per-document token Shannon entropy (nats): −Σ p·ln p over the
    * document's token frequency distribution — the diversity/repetition
    * quality signal (template spam scores low, natural text high).
    * Per-term contributions round into DECIMAL(18,9) before the sum —
    * BM25's cross-engine determinism treatment: decimal addition is
    * exact in any order, and ln's last-bit libm drift rounds away.
    * The `0 −` (not unary minus) keeps an all-one-token doc at +0.0 on
    * both engines instead of IEEE −0.0.
    *
    * Scale shape: one explode, one (doc, token) agg, one doc-partition
    * window — shuffles keyed by doc id only.
    */
  def tokenEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(w))
      .select(col("doc_id"),
        ((col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("n")))
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("doc_id"))
      .agg((lit(0.0) - sum(col("term")).cast("double")).as("entropy"))
  }

  /** Zipf rank-frequency slope over the corpus's top-k tokens: the
    * least-squares slope of ln(freq) on ln(rank), ≈ −1 for natural
    * language (Zipf's law) and far off for synthetic/templated corpora —
    * a corpus-level quality gate. The top-k runs through a distributed
    * TakeOrderedAndProject (never a global sort); the k-row window and
    * regression sums are driver-scale. ln values quantize into
    * DECIMAL(18,9) (exact summation); the FINAL slope emits through
    * round(…, 6) as plain DOUBLE (r12 policy): a libm ln() that
    * differs by one ulp between engines can land a term on a per-term
    * 1e-9 rounding boundary (observed at sf0.1 — one of 400 terms
    * flipped, moving the slope by ~1e-13), and the coarse final
    * rounding absorbs exactly that class of drift; Spark `round`
    * (ties away from zero) matches DuckDB's round tie mode, unlike
    * bround's half-even.
    */
  def zipfSlope(docs: DataFrame, textCol: String, k: Int = 200): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("t"))
    val top = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(k)
    top
      .withColumn("r", row_number().over(w)) // ≤ k rows: single partition OK
      .select(
        log(col("r").cast("double")).cast("decimal(18,9)").as("x"),
        log(col("c").cast("double")).cast("decimal(18,9)").as("y"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_ranked"),
        (col("n_ranked") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")).as("num"),
        (col("n_ranked") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")).as("den"))
      // degenerate corpora (one distinct token ⇒ den = 0) yield NULL,
      // not NaN: ANSI mode rejects casting NaN to decimal, and the
      // engines disagree on NaN handling anyway — NULL is the honest
      // "no slope defined" on both
      .select(col("n_ranked"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("num") / col("den"), 6))
          .as("zipf_slope"))
  }

  /** Per-document pseudo-perplexity under a corpus-trained MLE bigram
    * LM: avg negative log-likelihood (nats) of the doc's adjacent token
    * pairs, P(w2|w1) = c(w1,w2) / c(w1·) with counts taken over ALL
    * docs' bigram positions — the CCNet/Gopher-class quality filter
    * (outlier docs score far from the corpus mode; templated spam
    * scores near 0). No reference impl (north star, SURVEY §2.9).
    *
    * Determinism: per-(w1,w2) log-prob rounds into DECIMAL(18,9) before
    * any multi-row sum (the zipfSlope/tokenEntropy treatment — decimal
    * addition is exact in any order; libm ln's last-bit drift rounds
    * away), and the final divide is double-by-long on exact inputs, so
    * the result is bit-identical to the DuckDB oracle.
    *
    * Scale shape — the part that matters at 100 TB: ONE corpus scan.
    * The (doc, w1, w2) count aggregation is both the per-doc term list
    * AND the model's sufficient statistics: c(w1,w2) and c(w1·) are
    * windows over it (the q_text_tfidf lesson — deriving the model
    * from the doc-grain agg beats re-scanning or materializing the
    * exploded token stream). Shuffles: (doc,w1,w2) agg → (w1,w2)
    * window → (w1) window → (doc) agg, all keyed, all two-phase-able;
    * window-partition skew is bounded by #docs containing the hot
    * bigram (Zipf), same bound as tfidf's df window. Docs with < 2
    * tokens have no bigrams and drop out (documented, oracle agrees).
    */
  def bigramNll(docs: DataFrame, textCol: String, idCol: String,
      carry: Seq[String] = Seq.empty): DataFrame = {
    // `carry` columns are doc-level attributes (functionally dependent
    // on idCol) threaded through both grouping keys so a consumer that
    // needs them (the quality gate's lang) pays no second corpus scan
    // and no join — they widen the keys, never the row count.
    val carryCols = carry.map(col)
    val dk = docs
      .select(col(idCol).as("doc_id") +: (carryCols :+
        tokens(col(textCol)).as("w")): _*)
      .select(col("doc_id") +: (carryCols :+
        explode(bigramsOf(col("w"))).as("bg")): _*)
      .select(col("doc_id") +: (carryCols ++
        Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2"))): _*)
      .groupBy(col("doc_id") +: (carryCols ++
        Seq(col("w1"), col("w2"))): _*)
      .agg(count(lit(1)).as("k"))
    // BOTH model statistics ride ONE (w1)-keyed exchange (r16): c_bg
    // is a peer-range frame (RANGE CURRENT ROW..CURRENT ROW over
    // orderBy(w2) sums exactly the rows sharing this (w1, w2)) and
    // c_w1 the unbounded frame of the same spec — one WindowExec, one
    // exchange, one sort, where the (w1, w2)-keyed window plus the
    // (w1)-keyed window cost two exchanges of the doc-grain frame.
    // Integer sums, so frame evaluation order cannot change a value;
    // the skew bound (docs containing the hot w1) is the one the (w1)
    // window already had.
    val wModel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("w2"))
    dk
      .withColumn("c_bg", sum(col("k")).over(wModel.rangeBetween(
        org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("c_w1", sum(col("k")).over(wModel.rangeBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("doc_id") +: (carryCols ++ Seq(col("k"),
        log(col("c_bg").cast("double") / col("c_w1").cast("double"))
          .cast("decimal(18,9)").as("lp"))): _*)
      .groupBy(col("doc_id") +: carryCols: _*)
      // k casts to DECIMAL(10,0) before the multiply: long×dec(18,9)
      // would hit precision 39 > 38 and Spark's precision-loss rule
      // silently drops the scale to 8 — rounding lp's 9th digit away
      // and off the oracle. dec(10,0)×dec(18,9) = dec(29,9), exact.
      .agg(sum(col("k")).as("n_bigrams"),
        ((lit(0.0) -
          sum(col("k").cast("decimal(10,0)") * col("lp")).cast("double")) /
          sum(col("k"))).as("nll"))
  }

  /** Per-language perplexity gate: keep documents whose [[bigramNll]]
    * falls strictly inside their language's central (5%, 95%] rank
    * band — the drop-the-tails quality filter (too-predictable =
    * templated spam, too-surprising = garbled/out-of-domain). The
    * band test is pure integer arithmetic (keep ⟺ 20·rank > n ∧
    * 20·rank ≤ 19·n), and per-doc NLLs are engine-exact, so the kept
    * SET is bit-stable across engines — no float thresholds anywhere.
    *
    * Scale note (DEPLOY.md): the per-language rank is a window over
    * every doc of that language — exact and fine up to partition
    * limits; at 100 TB replace the rank band with approx_percentile
    * thresholds (one sketch agg) and a broadcast threshold join.
    * Sub-bigram docs carry no NLL and are absent — gate them on
    * length before this filter.
    */
  def nllQualityGate(docs: DataFrame, textCol: String, idCol: String,
      langCol: String): DataFrame = {
    // lang rides through the NLL pipeline as a carried grouping column
    // (functionally dependent on doc_id) — ONE documents scan, no join
    val nll = bigramNll(docs, textCol, idCol, carry = Seq(langCol))
      .withColumnRenamed(langCol, "lang")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    nll
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wLang))
      .filter(col("r") * 20 > col("n") && col("r") * 20 <= col("n") * 19)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("nll"))
  }

  /** Adjacent-pair structs from a PROJECTED token-array column. Callers
    * must alias the tokenize into its own projection first: an inline
    * `split` would be re-inlined into all four references here (both
    * slices and both size bounds) and tokenization would run 4× per
    * row; a multi-referenced non-trivial alias stays materialized.
    */
  private[graft] def bigramsOf(w: Column): Column =
    zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** Top-k token pairs by document-level pointwise mutual information:
    * PMI(a,b) = ln(n_ab·N / (n_a·n_b)) over per-document DISTINCT
    * token sets — the collocation/phrase-mining signal (tokenizer-merge
    * candidates, boilerplate phrase discovery). No reference impl
    * (north star, SURVEY §2.9).
    *
    * Scale shape: the pair generator is a self-join of the per-doc
    * distinct-token frame keyed on doc_id — per-doc quadratic in
    * DISTINCT tokens (the same bound every shingle/inverted-index op
    * here carries: a doc contributes C(distinct, 2) pairs, never the
    * corpus). minSupport filters AFTER the two-phase pair count and
    * before the df joins, so low-support pairs never reach a join.
    * Token doc-frequencies attach via plain keyed joins (vocab-sized;
    * AQE broadcasts them at test scale, stays keyed at 100 TB where a
    * vocabulary outgrows a broadcast). The `toks` frame feeds three
    * subtrees (two join sides + df agg) and AQE does not dedupe
    * identical subtrees, so it is checkpointed — EAGER AT CALL TIME:
    * one full-corpus job when CALLED.
    *
    * Determinism: PMI is a SINGLE ln per output row on an exact
    * integer rational (products < 2⁵³ — exact in IEEE), rounded into
    * DECIMAL(18,9) so a last-bit libm divergence can't reorder the
    * top-k; ties break on (t1, t2).
    */
  def pmiPairs(docs: DataFrame, textCol: String, idCol: String,
      minSupport: Long, topK: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .localCheckpoint()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfs = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
    val pairs = toks.as("a")
      .join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("t1"), col("b.tok").as("t2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    // the unigram table is vocab-bounded while the pair stream is
    // vocab²-scale — broadcast the attach joins EXPLICITLY (r16) so
    // the already-(t1,t2)-partitioned pair stream is never re-shuffled
    // by a size-estimate flip to sort-merge
    pairs
      .join(broadcast(dfs.select(col("tok").as("t1"),
        col("n_t").as("n_a"))), "t1")
      .join(broadcast(dfs.select(col("tok").as("t2"),
        col("n_t").as("n_b"))), "t2")
      .crossJoin(broadcast(nDocs))
      .select(col("t1"), col("t2"), col("n_ab"),
        log((col("n_ab") * col("n_docs")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
          .cast("decimal(18,9)").cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(topK)
  }

  /** Per-document character-class profile: digit / uppercase / punct /
    * whitespace counts (boilerplate and code-vs-prose signals). Pure
    * integer arithmetic — bit-exact across engines, no shuffle at all.
    */
  def charClasses(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    def n(re: String) =
      length(col(textCol)) - length(regexp_replace(col(textCol), re, ""))
    docs.select(col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars_total"),
      n("[0-9]").as("n_digits"),
      n("[A-Z]").as("n_upper"),
      n("[.,;:!?]").as("n_punct"),
      n(" ").as("n_spaces"))
  }

  /** Per-document quality features: token count, distinct-token ratio,
    * mean token length, stopword ratio. Ratios are ints-over-ints —
    * bit-exact across engines.
    */
  def qualityFeatures(docs: DataFrame, textCol: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val stopArr = array(stop.map(lit): _*)
    docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct_tokens", size(array_distinct(col("toks"))))
      .withColumn("n_stop", size(filter(col("toks"), t => array_contains(stopArr, t))))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("uniq_ratio", col("n_distinct_tokens").cast("double") / col("n_tokens"))
      .drop("toks")
  }

  /** Marker-word language scores + argmax prediction. The marker sets
    * are fixed; ties break alphabetically. (On real text these would be
    * per-language stopword/character-n-gram profiles; the testdata's
    * synthetic word soup exercises the machinery, not linguistics.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("window", "batch"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("table", "join"),
    "zh" -> Seq("vector", "hash"))

  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val withToks = docs.withColumn("toks", array_distinct(tokens(col(textCol))))
    val scored = LangMarkers.foldLeft(withToks) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        words.map(w => when(array_contains(col("toks"), w), 1).otherwise(0))
          .reduce(_ + _))
    }
    // argmax by score desc, lang asc — via greatest + first-match chain
    val best = LangMarkers.map(_._1)
      .map(l => struct(col(s"score_$l").as("s"), lit(l).as("lang")))
    val pred = best.reduce((a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored.withColumn("pred_lang", pred.getField("lang")).drop("toks")
  }

  /** Canonical content fingerprint: md5 over the sorted distinct token
    * set — invariant to word order and repetition (bag-of-words dedup
    * key). DuckDB twin: md5(array_to_string(list_sort(list_distinct(
    * string_split(text,' '))), ' ')).
    */
  def fingerprint(textCol: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(textCol)))))

  /** Rolling (polynomial) hash fingerprint over the token stream —
    * order-sensitive, the classic document-fingerprinting primitive.
    * Horner fold mod the Mersenne prime 2³¹−1 keeps every intermediate
    * < 2⁵², so it never overflows under ANSI arithmetic.
    */
  def rollingHash(textCol: Column): Column =
    aggregate(tokens(textCol), lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) +
        xxhash64(t).bitwiseAND(lit(0x7FFFFFFFL)), lit(2147483647L)))

  /** PII patterns shared by the scrubber and its oracle twin — kept to
    * syntax RE2 and Java regex interpret identically (character
    * classes, bounded repeats; no lookaround, no backrefs).
    */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII scrubbing: replace email- and phone-shaped spans with typed
    * placeholder tokens. Pure per-row `regexp_replace` — codegen'd,
    * zero shuffle, the shape a 100 TB scrub pass needs.
    */
  def redactPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(textCol, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Per-row PII span counts (audit signal for the scrub pass). */
  def piiCounts(textCol: Column): (Column, Column) =
    (regexp_count(textCol, lit(EmailRe)),
      regexp_count(textCol, lit(PhoneRe)))

  /** Gopher-style repetition signals, computed entirely with array
    * higher-order functions — per-row, map-side, zero shuffle (the
    * shape that survives 100 TB: a scan):
    *
    *   - `top_frac`    — fraction of tokens taken by the single most
    *     frequent token (high ⇒ degenerate "word word word…" text);
    *   - `bigram_ratio` — distinct bigrams / total bigrams (low ⇒
    *     repeated phrases / boilerplate).
    *
    * Both are int-over-int doubles — bit-exact across engines. The
    * top-count scan is O(|vocab| · n_tokens) per row; for natural text
    * with large per-doc vocabularies swap it for the explode+count
    * formulation — here the map-side form wins by avoiding the shuffle.
    */
  def repetitionFeatures(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("top_count",
        array_max(transform(array_distinct(col("toks")),
          x => size(filter(col("toks"), t => t === x)))))
      .withColumn("bigrams",
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .withColumn("top_frac",
        col("top_count").cast("double") / col("n_tokens"))
      // A one-token doc has zero bigrams; 0/0 is NULL under Spark's
      // non-ANSI divide but NaN under DuckDB's IEEE divide, so define
      // the degenerate case explicitly: no bigrams ⇒ nothing repeated
      // ⇒ ratio 1.0 (both engines agree on the literal).
      .withColumn("bigram_ratio",
        when(size(col("bigrams")) > 0,
          size(array_distinct(col("bigrams"))).cast("double") /
            size(col("bigrams")))
          .otherwise(lit(1.0)))
      .drop("toks", "bigrams", "top_count")

  /** Token-window document chunking (context-length packing's upstream
    * step): windows of `chunkSize` tokens every `stride` tokens, the
    * trailing window truncated. Only NULL-text docs emit nothing (their
    * token array is NULL, so the explode drops them); an EMPTY string
    * still tokenizes to [""] — one single-empty-token chunk, pinned by
    * TextAnalysisSpec and mirrored by the DuckDB oracle's identical
    * string_split semantics. Pure map-side explode — the output is
    * (rows × ~n/stride) but no shuffle is introduced, so it streams at
    * scan speed at any scale.
    */
  def chunkDocuments(docs: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be > 0")
    docs
      .withColumn("toks", tokens(col(textCol)))
      // NULL text ⇒ NULL toks ⇒ the when() falls to the empty array and
      // explode emits nothing; non-null text always has ≥ 1 token
      // (split("", " ") = [""]), so this guard is the NULL path only
      .withColumn("start",
        explode(when(size(col("toks")) > 0,
          sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))))
      .withColumn("chunk",
        slice(col("toks"), col("start") + 1, lit(chunkSize)))
      .select(col(idCol),
        (col("start") / stride).cast("int").as("chunk_id"),
        size(col("chunk")).as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** BM25 relevance of every document against a bag of query terms
    * (Robertson/Sparck-Jones idf; the retrieval scorer behind corpus
    * search and hard-negative mining).
    *
    * Scale shape: corpus stats (N, avgdl) and per-term document
    * frequencies reduce to a handful of broadcast scalars; term
    * frequencies are one explode + (doc, term) agg — the only shuffle,
    * keyed by doc id. Per-term scores are rounded into DECIMAL(18,9)
    * before the per-doc sum so the total is independent of term
    * addition order AND of last-bit `ln` drift across engines.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val termArr = array(queryTerms.distinct.map(lit): _*)
    val base = docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("dl", size(col("toks")))
    // N and avgdl: one global agg → a 1-row broadcast
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl").cast("decimal(28,9)")).cast("double") /
        count(lit(1))).as("avgdl"))
    // per-term document frequency over matching docs only
    val dfs = base
      .select(col(idCol), explode(array_distinct(col("toks"))).as("term"))
      .filter(array_contains(termArr, col("term")))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // per-(doc, term) term frequency
    val tfs = base
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .filter(array_contains(termArr, col("term")))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfPart = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tfs
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", (idf * tfPart).cast("decimal(18,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("term_score")).cast("double").as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Per-document out-of-vocabulary rate against the corpus top-`vocabSize`
    * vocabulary — the tokenizer-coverage metric a pipeline checks before
    * committing to a vocab (docs with high OOV under the candidate vocab
    * will fragment into byte-fallback tokens at training time).
    *
    * The vocabulary is the top-`vocabSize` tokens under the TOTAL order
    * (count desc, token asc) — deterministic through rank ties at the
    * cutoff. Counts and totals are exact longs; the rate is their double
    * quotient (engine-identical).
    *
    * Scale shape: ONE corpus tokenize collapses immediately into the
    * (doc, token) count frame — far smaller than the token stream — and
    * that frame feeds BOTH the vocab top-k (which fuses to
    * TakeOrderedAndProject: per-partition heaps, the corpus vocabulary
    * is never globally sorted) and the per-doc rollup after a BROADCAST
    * left join against the ≤vocabSize-row vocab. AQE does not dedupe
    * identical subtrees, so the shared frame is checkpointed — EAGER
    * AT CALL TIME: one full-corpus job when CALLED.
    */
  def vocabOovRates(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive, got $vocabSize")
    val dtc = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = dtc.groupBy(col("tok")).agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    dtc.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("total_toks"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L)).as("oov_toks"))
      .select(col("doc_id"), col("total_toks"), col("oov_toks"),
        (col("oov_toks").cast("double") / col("total_toks")).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token-distribution drift: KL(P_source ‖ P_corpus) over
    * unigram distributions — the domain-shift diagnostic a data-mixing
    * pipeline checks before weighting sources (a source whose KL spikes
    * is templated/duplicated or off-domain). No reference analogue
    * (north star, SURVEY §2.9).
    *
    * Determinism: one libm ln per (source, token) term, each term
    * p·ln(p/q) rounded into DECIMAL(18,9) (exact order-independent
    * summation — the tokenEntropy discipline), and the FINAL per-source
    * sum bround(…, 6): a one-ulp libm divergence can flip a single
    * term's 1e-9 rounding (observed once in zipfSlope at sf0.1), and
    * the coarser final rounding absorbs exactly that class of drift.
    *
    * Scale shape: ONE tokenize feeds everything; the (source, token)
    * count frame three consumers share (two window passes + the grand-
    * total agg) is checkpointed — EAGER AT CALL TIME: one full-corpus
    * job when CALLED. Both windows key on vocab-or-source-sized frames,
    * never the corpus; the grand total joins back as a broadcast scalar.
    */
  def sourceTokenKl(docs: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("t"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val counts = docs.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val total = counts.agg(sum(col("c_st")).as("n_total"))
    counts
      .withColumn("c_t", sum(col("c_st")).over(wt))
      .withColumn("n_s", sum(col("c_st")).over(ws))
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_s"),
        ((col("c_st").cast("double") / col("n_s")) *
          log((col("c_st").cast("double") / col("n_s")) /
            (col("c_t").cast("double") / col("n_total"))))
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        bround(sum(col("term")).cast("double"), 6).as("kl"))
      .orderBy(col("source"))
  }
}
