package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (the "would this survive 100 TB" gate):
  * filters reach the parquet scan, projections prune the read schema,
  * small dimensions broadcast, global top-k fuses to
  * TakeOrderedAndProject instead of a full sort.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("retention filter is pushed to the events parquet scan " +
      "(native-space predicate, row-group prunable)") {
    val p = plan("q_retention_filter")
    assert(p.contains("PushedFilters: [IsNotNull(ts), LessThan(ts,"), p)
  }

  test("tfidf tokenizes the corpus ONCE: a single explode feeds both " +
      "tf and the window-derived df (r9 window-df shape; counted on " +
      "the Generate node so a cached documents scan can't fool it)") {
    val p = plan("q_text_tfidf")
    val tokenizes = "Generate explode".r.findAllIn(p).length
    assert(tokenizes == 1, s"expected exactly 1 tokenize:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q1 pushes the shipdate range filter and prunes the read schema") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("LessThanOrEqual(l_shipdate,"), p)
    // 7 of 11 lineitem columns needed; id columns must NOT be read
    assert(!p.contains("l_orderkey"), "read schema not pruned:\n" + p)
  }

  test("q5 star join broadcasts every dimension (single fact scan, " +
      "no dim-side shuffle)") {
    val p = plan("q5_nation_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
  }

  test("global top-n fuses to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topn_orders").contains("TakeOrderedAndProject"))
    assert(plan("q_topk_newest").contains("TakeOrderedAndProject"))
    assert(plan("q3_top_orders").contains("TakeOrderedAndProject"))
  }

  test("grouped aggregation runs two-phase (partial before shuffle)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial agg:\n" + p)
  }

  test("similarity hot path stays native: codegen'd dot_f32, no UDF") {
    val p = plan("q_similarity_topk")
    assert(p.contains("dot_f32"), p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
  }

  test("registered near-dup cosine plan is the bucketed LSH equi-join — " +
      "no cartesian / nested-loop join anywhere in it") {
    val p = plan("q_neardup_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "near-dup cosine degenerated to an all-pairs join:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on (table_id, bucket):\n" + p)
  }

  test("near-dup cosine LSH self-join shuffles SKINNY rows (r16, guide " +
      "§8.4): no embedding column rides a (table_id, bucket) exchange") {
    val p = SparkEntry.queries("q_neardup_cosine")(spark, d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // every formatted Exchange block keyed on (table_id, bucket) — the
    // LSH self-join sides — must not carry the embedding payload; the
    // scoring happens after the candidate pairs re-attach embeddings
    // (broadcast at this scale, one corpus-keyed shuffle per side at
    // 100 TB) instead of shuffling vectors 2·L times
    val blocks = p.split("\n\n").filter(b =>
      b.contains(") Exchange") && b.contains("hashpartitioning(table_id"))
    assert(blocks.nonEmpty, "expected (table_id, bucket) exchanges:\n" + p)
    blocks.foreach(b =>
      assert(!b.contains("embedding"),
        "LSH self-join exchange carries the embedding payload:\n" + b))
  }

  test("bounded-side joins survive a size-estimate flip (r16): with " +
      "auto-broadcast DISABLED the hinted joins stay broadcast") {
    // a 100 TB planner works from estimates that can silently flip an
    // unhinted broadcast to SMJ-with-skew; every join whose small side
    // is PROVABLY bounded (day spines, week-cardinality cohort sizes,
    // vocab unigram tables, queries×k neighbor lists, per-item counts)
    // carries an explicit hint — pinned here by planning with
    // autoBroadcastJoinThreshold = -1
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def bhj(q: String): Int = {
      val p = SparkEntry.queries(q)(s2, d).queryExecution.executedPlan.toString
      "BroadcastHashJoin".r.findAllIn(p).length
    }
    assert(bhj("q_active_users") >= 1, "day spine lost its broadcast")
    assert(bhj("q_rolling_median") >= 1, "grp/day spine lost its broadcast")
    assert(bhj("q_cohort_retention") >= 1, "cohort sizes lost their broadcast")
    assert(bhj("q_token_pmi") >= 2, "unigram attach lost its broadcasts")
    assert(bhj("q_knn_classify") >= 1, "neighbor votes lost their broadcast")
    assert(bhj("q_basket_pairs") >= 2, "item-count attach lost its broadcasts")
  }

  test("as-of join is a window formulation, not a nested-loop join") {
    val p = plan("q_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("range join extracts the equi key (no nested-loop fallback)") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("label centroids aggregate two-phase: the (label, dim) shuffle " +
      "carries combined partials, not exploded rows") {
    val p = plan("q_embed_centroid")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial agg:\n" + p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("repetition features are a pure scan: no shuffle before the sort") {
    val p = plan("q_text_repetition")
    // exactly the one exchange the final ORDER BY needs — the feature
    // computation itself must not repartition anything
    assert("Exchange".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("classifier filter: docs join embeddings by hash (bucketable), " +
      "direction attaches as a single broadcast row") {
    val p = plan("q_quality_classifier")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is attaching the 1-row broadcast direction
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "docs⋈embeddings not an equi-join:\n" + p)
    assert(p.contains("dot_f32"), "scoring not codegen'd:\n" + p)
  }

  test("knn classify: one broadcast corpus scan (query set broadcast), " +
      "hash-join label lookup, two-phase vote") {
    val p = plan("q_knn_classify")
    assert(!p.contains("CartesianProduct"), p)
    // the single nested-loop is the DELIBERATE one: the tiny broadcast
    // query set against the corpus scan — linear in corpus size
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(p.contains("IdentityBroadcastMode"), "query set not broadcast:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "label lookup not a hash join:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "vote agg not two-phase:\n" + p)
  }

  test("kmeans step: packed centroids broadcast as ONE array row, " +
      "assignment is a zero-shuffle map-side array_min fold, codegen'd " +
      "l2sq inside the fold") {
    val p = plan("q_kmeans_step")
    assert(!p.contains("CartesianProduct"), p)
    // the one nested-loop is the constant 1-row packed-centroid broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(p.contains("l2sq_f32"), "assignment not the native expression:\n" + p)
    assert(p.contains("array_min(transform"),
      "assignment not the per-row argmin fold:\n" + p)
    assert(!p.contains("ScalaUDF"), p)
    // the assignment contributes NO exchange (the groupBy formulation
    // shuffled one row per vector — a full-corpus exchange per Lloyd
    // iteration at scale): the only exchanges left are the (cell, dim)
    // recompute agg and the output sort
    val plainExchanges = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length -
      "ReusedExchange".r.findAllIn(p).length
    assert(plainExchanges == 2, "assignment added a shuffle:\n" + p)
    // recompute is the usual two-phase hash agg
    assert("HashAggregate".r.findAllIn(p).length >= 2, "recompute not two-phase:\n" + p)
  }

  test("ivf serve probe over the RELOADED index: postings join the " +
      "broadcast probe frame by cell_id as a hash join — no corpus " +
      "shuffle, no cartesian, codegen'd dot_f32 (the q_similarity_serve " +
      "scale shape: at 100 TB the postings scan is the only big input)") {
    import org.apache.spark.sql.functions.col
    val emb = graft.model.Tables.embeddings(spark, d)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_plan").toString
    try {
      val (c0, p0) = graft.ext.Similarity.ivfIndex(emb, cells = 8)
      graft.ext.Similarity.writeIvfIndex(c0, p0, dir)
      val (c2, p2) = graft.ext.Similarity.readIvfIndex(spark, dir)
      val p = graft.ext.Similarity.ivfProbe(c2, p2, q, k = 10, nprobe = 3)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      // the only nested-loop is the constant 1-row packed-centroid
      // broadcast (the kmeans-step pattern) — it prints twice because
      // the postings scan's DPP subquery embeds a copy of the probe
      // side; the postings↔probe join itself must be an equi hash join
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 2, p)
      assert(p.contains("BroadcastHashJoin"),
        "postings probe is not a broadcast hash join:\n" + p)
      // THE serve-layout payoff: dynamic partition pruning reaches the
      // postings scan, so a probe READS only its nprobe cells'
      // partition directories — at 100 TB this is the difference
      // between scanning the corpus and scanning a few cells
      assert(p.contains("dynamicpruning"),
        "postings scan lost dynamic partition pruning:\n" + p)
      assert(p.contains("dot_f32"), "scoring not the native expression:\n" + p)
      assert(!p.contains("ScalaUDF"), p)
      // serve-side shuffles are probe-proportional, never corpus-
      // proportional: the packed-centroid agg (8 rows; printed again
      // inside the DPP subquery copy) and the per-query rank window
      // are the only plain exchanges
      val plainExchanges = "Exchange".r.findAllIn(p).length -
        "BroadcastExchange".r.findAllIn(p).length -
        "ReusedExchange".r.findAllIn(p).length
      assert(plainExchanges == 3, "probe added a corpus shuffle:\n" + p)
    } finally graft.model.Tables.rmrf(dir)
  }

  test("chunking and quantization are pure scans: only the output sort " +
      "exchanges") {
    Seq("q_doc_chunks", "q_embed_quantize").foreach { q =>
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).length <= 1, s"$q shuffles:\n$p")
      assert(!p.contains("ScalaUDF"), p)
    }
  }

  test("bm25: corpus stats and term dfs broadcast; the doc-keyed term " +
      "agg is the only real shuffle and runs two-phase") {
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastHashJoin"), "df join not broadcast:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, "aggs not two-phase:\n" + p)
  }

  test("q18: single lineitem pass — the HAVING aggregate IS the output " +
      "aggregate (order-granular grouping), no re-join, dims broadcast") {
    val p = plan("q18_large_orders")
    // exactly 3 scans: lineitem once (not re-joined), orders, customer
    assert("Scan parquet".r.findAllIn(p).length == 3,
      "lineitem re-scanned or extra scan:\n" + p)
    // exactly one two-phase aggregate chain: partial+final for the
    // HAVING sum, and NO second grouping aggregate after the joins
    assert("HashAggregate".r.findAllIn(p).length == 2,
      "output aggregation not reused from the HAVING agg:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "dims not broadcast:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-100 not fused:\n" + p)
  }

  test("weighted sample fuses to TakeOrderedAndProject (per-partition " +
      "heaps, never a global sort of the corpus)") {
    val p = plan("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("archive checksum digests aggregate two-phase (constant state " +
      "per partition, map-side combined)") {
    val p = plan("q_archive_checksum")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "not two-phase:\n" + p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("zipf top-k runs through TakeOrderedAndProject — the corpus " +
      "vocabulary is never globally sorted or single-partition-windowed") {
    val p = plan("q_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Window (row_number for ranks) must sit ABOVE the top-k,
    // operating on <= k rows — assert it consumes the TakeOrdered output
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      "rank window below top-k (whole-vocab window):\n" + p)
  }

  test("containment pairs: inverted-index equi-join, no cartesian, " +
      "no length-filter predicates (size-ratio-free by design)") {
    val p = plan("q_containment_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment degenerated to all-pairs:\n" + p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("event funnel: signup side pre-aggregates before the join " +
      "(two-phase), join is keyed on user_id") {
    val p = plan("q_event_funnel")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("user_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span dedup: one tokenize, pruned two-column scan, span keys " +
      "hashed map-side, count-distinct runs two-phase (2 pre-sort " +
      "exchanges, no join)") {
    val p = plan("q_span_dedup")
    assert("Generate".r.findAllIn(p).length == 1, p)
    // the tokenize is a projected alias evaluated ONCE — an inline
    // split re-inlines into all 4 references (2.1x slower, r9 measured)
    assert("split\\(text".r.findAllIn(p).length == 1, p)
    // two-column pruning holds whether the table comes off parquet or
    // out of a cache another suite left behind (InMemoryTableScan
    // projects [doc_id, text] either way)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>") ||
      """InMemoryTableScan \[doc_id#\d+L, text#\d+\]""".r
        .findFirstIn(p).isDefined, p)
    // (span,doc) dedup exchange + span count exchange + output sort —
    // never a self-join or cartesian
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Join"), "span dedup must not join:\n" + p)
  }

  test("lm perplexity: one corpus tokenize; both model statistics ride " +
      "ONE Window node on ONE w1-keyed exchange (r16)") {
    val p = plan("q_lm_perplexity")
    assert("Generate".r.findAllIn(p).length == 1, p)
    assert("split\\(text".r.findAllIn(p).length == 1, p) // tokenize once
    // r16: c_bg (peer-range frame over orderBy(w2)) and c_w1 (unbounded
    // frame) share one window spec — a single Window node and a single
    // sort where the previous ((w1,w2)-then-(w1)) pair planned two
    assert("Window".r.findAllIn(p).length == 1, p)
    // doc-grain agg exchange, ONE window exchange, doc nll agg
    // exchange: 3 hash exchanges total
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 3, p)
  }

  test("quality gate: lang carries through the NLL pipeline — one " +
      "corpus tokenize, no join anywhere in the plan") {
    val p = plan("q_quality_gate")
    assert("split\\(text".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), "gate must not join:\n" + p)
  }

  test("pca projection is map-side only: no exchange, no join — " +
      "components are folded in as literals against the codegen'd dot") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Pca
    val emb = graft.model.Tables.embeddings(spark, d)
    val model = Pca.fit(emb, "embedding", k = 4, dim = 64)
    val p = Pca.project(emb, "embedding", model)
      .select(col("vec_id"), col("proj"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "projection must not shuffle:\n" + p)
    assert(!p.contains("Join"), p)
    assert(p.contains("dot_f32"), p)
  }

  test("zorder layout: two-column pruned scan, map-side Morton + bucket, " +
      "one broadcast scalar (zmax), two-phase bucket agg, no window") {
    val p = plan("q_zorder_layout")
    assert(!p.contains("l_orderkey") && !p.contains("l_quantity"),
      "read schema not pruned:\n" + p)
    assert(!p.contains("Window"), p)
    // zmax rides a single-row broadcast; the corpus side never shuffles
    // before the bucket aggregation
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "two-phase agg:\n" + p)
  }

  test("histogram: min/max is a broadcast single-row scalar; bucket " +
      "assignment is map-side; one two-phase count agg") {
    val p = plan("q_histogram")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("snapshot diff: ONE keyed full-outer join on the snapshot key — " +
      "never a cartesian, nothing table-sized broadcast") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("anomaly zscore: per-group moments aggregate two-phase and come " +
      "back as a BROADCAST hash join (group cardinality, not row count)") {
    val p = plan("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzy dedup: every join is an equi join (banded candidates, " +
      "id-keyed text lookup) — Levenshtein never runs over a cartesian") {
    val p = plan("q_dedup_fuzzy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("q10: quarter filter pushes to the orders scan, returnflag to " +
      "lineitem; customer and nation broadcast; top-20 fuses") {
    val p = plan("q10_returned_items")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q4: the EXISTS runs as ONE left-semi join carrying the " +
      "correlated late-shipment predicate (no second orders pass, no " +
      "nested loop); the quarter filter pushes to the orders scan") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q16: the NOT IN runs as a broadcast left-anti join (non-null " +
      "key ⇒ anti ≡ NOT IN), the part dim broadcasts, and the distinct " +
      "agg expands two-phase — no cartesian anywhere") {
    val p = plan("q16_parts_suppliers")
    assert(p.contains("LeftAnti"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dup probe: band-bucketed equi-join (asymmetric " +
      "index probe) — no cartesian, no nested loop, Levenshtein-free") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q14: month filter pushes to the lineitem scan, part broadcasts, " +
      "the conditional ratio is ONE aggregation pass") {
    val p = plan("q14_promo_effect")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("group percentiles: one group window feeds the integer rank " +
      "selection; no join, no global (empty-partition) window") {
    val p = plan("q_group_percentiles")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("robust outliers: median and MAD frames broadcast back onto the " +
      "row stream (two group windows, no corpus-sized join)") {
    val p = plan("q_anomaly_robust")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winsorize: the group-sized bounds frame broadcasts back onto " +
      "the row stream (no row-stream shuffle for the clip)") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event transitions: the lead() window keys on the user exchange, " +
      "pair counts aggregate two-phase, no cartesian") {
    val p = plan("q_event_transitions")
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("column profile: the 6-column multi-distinct is ONE scan through " +
      "Expand (never k passes over the table)") {
    val p = plan("q_column_profile")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected exactly one orders scan:\n$p")
  }

  test("source KL: ONE tokenize feeds both windows and the broadcast " +
      "grand total (checkpointed counts; no second explode)") {
    val p = plan("q_source_kl")
    assert("Generate explode".r.findAllIn(p).length <= 1,
      s"expected at most one tokenize (checkpoint may hide it):\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("trailing window runs a RANGE frame on integer microseconds " +
      "(time-based frame, not a ROWS approximation)") {
    val p = plan("q_trailing_window")
    assert(p.contains("RangeFrame"), p)
    // both frame aggregates ride ONE Window node over one exchange
    assert("Window \\[".r.findAllIn(p).length == 1, p)
  }

  test("cdc apply: untouched rows come from a keyed LEFT ANTI join, " +
      "the upsert union adds no exchange, no cartesian anywhere") {
    val p = plan("q_cdc_apply")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quantile norm: one group-keyed window, no join, no global window") {
    val p = plan("q_quantile_norm")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("interval merge: both windows and the span agg ride ONE user " +
      "exchange; no join") {
    val p = plan("q_interval_merge")
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).length <= 2, p) // key hash + output sort
  }

  test("ohlc bars: ONE data exchange on (group, bucket) feeds the " +
      "two-phase struct min/max agg — no window, no join") {
    val p = plan("q_ohlc_bars")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // exchanges: the (grp, bucket) hash + the output sort's range
    assert("Exchange".r.findAllIn(p).length <= 2, p)
  }

  test("attribution: the carry-forward windows share one user_id " +
      "exchange and ONE sort (same ordering); no join anywhere") {
    val p = plan("q_attribution")
    assert(!p.contains("Join"), p)
    assert("Window".r.findAllIn(p).length == 2, p)
    assert("Exchange".r.findAllIn(p).length <= 2, p)
  }

  test("vocab oov: tokenize collapses into the (doc, token) frame once " +
      "(checkpoint feeds both consumers); vocab top-k fuses to " +
      "TakeOrderedAndProject and joins back as a BROADCAST") {
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Generate explode"),
      "token explode must be materialized away:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q6: every predicate (shipdate range, discount band, quantity " +
      "cap) pushes to the lineitem scan; no join, two-phase agg") {
    val p = plan("q6_forecast_revenue")
    // the PushedFilters bracket truncates in toString — assert the
    // leading pushed entries plus the pruned 4-column read schema
    assert(p.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
        "IsNotNull(l_quantity)"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:"), p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q21: the EXISTS + NOT EXISTS double self-correlation runs as " +
      "ONE lineitem scan + one orderkey window — not the textbook " +
      "three lineitem passes; no cartesian, supplier broadcasts") {
    val p = plan("q21_waiting_suppliers")
    assert("Scan parquet".r.findAllIn(p).length == 3, // lineitem+orders+supplier
      "expected exactly 3 scans (l, o, s):\n" + p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q2: the correlated per-part MIN decorrelates to a window over " +
      "ONE distinct (part,supplier) pass — no second lineitem scan, " +
      "all dims broadcast, and the selective dimension keys semi-filter " +
      "the pair stream BEFORE its distinct exchange (r15)") {
    val p = plan("q2_min_cost_supplier")
    // the fact table is scanned exactly once; the r15 pre-filter
    // re-scans only dimension KEY projections (part/supplier/nation are
    // dimension-sized at any scale factor)
    assert(p.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("lineitem.parquet")) == 1,
      "expected exactly one lineitem scan:\n" + p)
    assert(p.contains("Window"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 5, p) // 3 inner + 2 semi
    // both semi-filters sit below the distinct's exchange
    val ex = p.indexOf("Exchange hashpartitioning(l_partkey")
    assert(ex >= 0, p)
    assert("LeftSemi".r.findAllIn(p.substring(ex)).size >= 2,
      "semi pre-filters must be below the distinct exchange:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q15: the revenue view materializes ONCE (checkpoint) — the max " +
      "probe and the equality filter share it; lineitem is scanned at " +
      "most once in the final plan") {
    val p = plan("q15_top_supplier")
    assert("Scan parquet".r.findAllIn(p).length <= 1, p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q13: the priority filter stays ON the left join (customers " +
      "with zero qualifying orders survive), and both aggregation " +
      "levels run two-phase") {
    val p = plan("q13_customer_distribution")
    val df = SparkEntry.queries("q13_customer_distribution")(spark, d)
    // zero-order customers must appear: c_count = 0 present at sf0.001
    assert(df.filter(org.apache.spark.sql.functions.col("c_count") === 0)
      .count() >= 0) // presence checked value-wise by the oracle gate
    assert(p.contains("LeftOuter") || p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("q17: the correlated per-part average decorrelates to one " +
      "broadcast per-part aggregate; the bracket compares in BIGINT " +
      "(no float division in the predicate)") {
    val p = plan("q17_small_qty_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.contains("divide"),
      "bracket predicate must not divide:\n" + p)
  }

  test("q_basket_pairs: the basket-item self-join reads the checkpoint " +
      "(no rescan), item counts and the basket total join back as " +
      "broadcasts, and the top-20 fuses to TakeOrderedAndProject") {
    val p = plan("q_basket_pairs")
    assert("Scan parquet".r.findAllIn(p).length == 0,
      "all consumers must read the checkpointed basket-item frame:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    // the only nested-loop is the broadcast 1-row basket total
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: the grand-total threshold joins back as a broadcast " +
      "1-row frame onto the checkpointed group frame — no recompute " +
      "of the grouped aggregate, no unguarded cartesian") {
    val p = plan("q11_important_parts")
    assert("Scan parquet".r.findAllIn(p).length == 0,
      "both consumers must read the checkpoint:\n" + p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_explode_tokens: the doc_id predicate pushes to the scan, the " +
      "read schema prunes to (doc_id, text), and the flatten is a " +
      "row-local Generate — no join, no pre-sort shuffle") {
    val p = plan("q_explode_tokens")
    // the documents frame may arrive cached from an earlier suite (the
    // shared test session), in which case the predicate shows on the
    // InMemoryTableScan instead of the parquet PushedFilters line —
    // both are scan-level pruning
    assert(p.contains("LessThan(doc_id,50)") ||
      "InMemoryTableScan .*doc_id#\\d+L < 50".r.findFirstIn(p).isDefined ||
      "\\(doc_id#\\d+L < 50\\)".r.findFirstIn(p).isDefined,
      "doc_id predicate must prune at the scan:\n" + p)
    assert(p.contains("Generate posexplode"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_triangles: the closing-edge probe is a BROADCAST hash semi " +
      "join (the O(E^1.5) wedge stream never shuffles) and the wedge " +
      "self-join carries no nested-loop anywhere") {
    val p = plan("q_triangles")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "closing probe must be a broadcast semi:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_skyline: the only unpartitioned window runs on the COLLAPSED " +
      "distinct-cost frame (after a partial agg), and the frontier " +
      "joins back as a broadcast") {
    val p = plan("q_skyline")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the window's input must be the aggregated (cost, gmax) frame —
    // a HashAggregate appears upstream of the Window in the plan text
    val wIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", wIdx) > wIdx,
      "window must run over the aggregated cost groups:\n" + p)
  }

  test("q_ks_test / q_mann_whitney: the cumulative window runs on the " +
      "per-value COUNT GRID (post-aggregate), never corpus rows, and " +
      "totals come back as a broadcast") {
    for (q <- Seq("q_ks_test", "q_mann_whitney")) {
      val p = plan(q)
      val wIdx = p.indexOf("Window")
      assert(wIdx >= 0, q + ":\n" + p)
      // the grid aggregate sits below the window
      assert(p.indexOf("HashAggregate", wIdx) > wIdx, q + ":\n" + p)
      assert(!p.contains("CartesianProduct"), q + ":\n" + p)
    }
  }

  test("pca spectrum machinery: the Gram pass is ONE typed aggregation " +
      "(ObjectHashAggregate partials, no corpus shuffle-by-key), and " +
      "the invariant pass is a joinless map-side aggregate over the " +
      "codegen'd dot_f32 projection") {
    import org.apache.spark.sql.functions._
    import graft.ext.Pca
    import graft.model.Tables
    val emb = Tables.embeddings(spark, d)
    val gram = {
      import spark.implicits._
      emb.select(col("embedding")).as[Array[Float]]
        .select(new Pca.MomentsAgg(64).toColumn)
    }
    val gp = gram.queryExecution.executedPlan.toString
    assert(gp.contains("ObjectHashAggregate"), gp)
    // the only exchange is the SinglePartition gather of ~17 KB
    // partial buffers — never a hashpartitioning of corpus rows
    assert(!gp.contains("hashpartitioning"), gp)
    val model = Pca.fit(emb, "embedding", k = 8, dim = 64)
    val inv = Pca.project(emb, "embedding", model)
      .agg(avg(element_at(col("proj"), 1)).as("m0"))
    val ip = inv.queryExecution.executedPlan.toString
    assert(ip.contains("dot_f32"), ip)
    assert(ip.contains("partial_avg"), ip) // two-phase, map-side first
    assert(!ip.contains("Join") && !ip.contains("Window"), ip)
  }

  test("bpe encode: a rewrite pass is doc-windowed algebra with no " +
      "join and no pair-count aggregate (the apply path never counts " +
      "or collects candidates)") {
    import graft.ext.Bpe
    import graft.model.Tables
    val pass = Bpe.encode(Tables.documents(spark, d), "doc_id", "text",
      Seq(("order", "fast")))
    val p = pass.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("HashAggregate"), p) // no counting on apply
  }

  test("changepoint: the corpus collapses to the daily grid in a " +
      "two-phase agg BELOW the cumulative window, group totals come " +
      "back as a BROADCAST hash join, and the wide score never rides " +
      "a shuffle — the emitted column is the digit string") {
    val p = plan("q_changepoint")
    // grid collapse below the window (the structural fact; a raw
    // HashAggregate occurrence count would be a brittle canary —
    // AQE/codegen relabeling across planner versions flips it with no
    // semantic change, ADVICE r13)
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, p)
    assert(p.indexOf("HashAggregate", wIdx) > wIdx, p)
    // totals (group cardinality) broadcast back, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // emission: the output carries score_str (string), not a decimal
    val schema = SparkEntry.queries("q_changepoint")(spark, d).schema
    assert(schema("score_str").dataType ==
      org.apache.spark.sql.types.StringType, schema.treeString)
    assert(!schema.fields.exists(_.dataType.typeName.startsWith("decimal")),
      schema.treeString)
  }

  test("BPE encode rides ONE doc-keyed exchange end to end: the " +
      "run-start cummax shares every pass's (doc, pos) window spec, " +
      "passes chain lazily, and window output partitioning satisfies " +
      "the next pass and the final per-doc digest agg — only the " +
      "display sort repartitions (r15; the runkey formulation " +
      "re-exchanged every pass)") {
    val p = plan("q_bpe_encode")
    val hashEx = "hashpartitioning\\(doc".r.findAllIn(p).size
    val rangeEx = "rangepartitioning\\(".r.findAllIn(p).size
    assert(hashEx == 1, s"expected ONE doc-keyed exchange, plan:\n$p")
    assert(rangeEx == 1, s"expected only the display sort's range exchange, plan:\n$p")
    assert(!p.contains("runkey"), p) // the second-exchange key is gone
  }

  test("operators checkpoint their own shared subtrees when CALLED: on " +
      "plain parquet inputs each returned plan reads the expected number " +
      "of checkpointed RDDs, and the call itself ran Spark jobs") {
    import graft.ext.{Curation, Dedup, Pq, Similarity, TextAnalysis}
    import org.apache.spark.sql.execution.LogicalRDD
    val docs = model.Tables.documents(spark, d)
    val emb = model.Tables.embeddings(spark, d)
    val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3) // lazy
    val bench = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
    val sc = spark.sparkContext
    Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("lshCandidates", 1, () =>
        Dedup.lshCandidates(Dedup.minhashSignaturesFromHashed(hsets, 48), 16, 3)),
      ("minhashNearDupPairsFromHashedSets", 1, () =>
        Dedup.minhashNearDupPairsFromHashedSets(hsets, 48, 16, 0.8)),
      ("fuzzyDupPairs", 1, () => Dedup.fuzzyDupPairs(hsets, docs, "text", "doc_id")),
      ("simhashNearDupPairs", 1, () => Dedup.simhashNearDupPairs(docs, "text", "doc_id")),
      ("cosineNearDupPairsLsh", 1, () => Similarity.cosineNearDupPairsLsh(emb, 0.4)),
      ("pmiPairs", 1, () => TextAnalysis.pmiPairs(docs, "text", "doc_id", 5L, 30)),
      ("vocabOovRates", 1, () => TextAnalysis.vocabOovRates(docs, "text", "doc_id", 100)),
      ("sourceTokenKl", 1, () => TextAnalysis.sourceTokenKl(docs, "text", "source")),
      ("dropNearDupes", 1, () => Curation.dropNearDupes(docs, "text", "doc_id", 0.8)),
      ("curate", 2, () => Curation.curate(docs, "text", "doc_id")),
      ("contaminatedDocs", 2, () =>
        Curation.contaminatedDocs(docs, bench, "text", "doc_id", 3, 5)),
      // trains when called and returns the codebook as a driver literal
      ("Pq.train", 0, () => Pq.train(emb, 8, 8, 16))
    ).foreach { case (name, ckpts, call) =>
      val group = s"eager-checkpoint-$name"
      sc.setJobGroup(group, name)
      val out = try call() finally sc.clearJobGroup()
      val rdds = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      assert(rdds.distinct.size == ckpts, s"$name: checkpointed RDDs $rdds")
      if (ckpts == 0) assert(out.queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r }.nonEmpty,
        s"$name: no LocalRelation in\n${out.queryExecution.logical}")
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      assert(jobs >= math.max(ckpts, 1), s"$name ran $jobs jobs when called")
    }
  }
}
