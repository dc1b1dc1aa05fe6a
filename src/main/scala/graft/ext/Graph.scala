package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Count

/** Graph analytics over pair lists (the near-dup graph being the
  * motivating instance): PageRank picks the most central doc of every
  * duplicate cluster — the principled "which copy do we keep" answer
  * where min-id ([[Dedup.connectedComponents]]) is the arbitrary one.
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected pair list, restricted
    * to nodes that appear in a pair (isolated docs have nothing to
    * rank against).
    *
    *   r₀ = 1/N;  r_{k+1}(v) = (1−d)/N + d·Σ_{u∼v} r_k(u)/deg(u)
    *
    * Cross-engine exactness: each neighbor contribution r/deg rounds
    * into DECIMAL(28,15) BEFORE the sum, so the aggregate is
    * order-independent (decimal addition is exact) and the DuckDB
    * oracle mirroring the same rounding hash-matches bit-for-bit; the
    * remaining arithmetic is plain IEEE double, identical everywhere.
    * The rounding is `bround` (half-to-even) before the decimal cast —
    * contributions like 1/(N·deg) are exact dyadics that CAN end in a
    * trailing 5 at digit 15 (e.g. 1/65536), and on such ties Spark's
    * cast rounds half-up while DuckDB's rounds half-to-even (the
    * labelCentroids lesson); bround first makes the cast tie-free on
    * both sides.
    *
    * Scale shape: one shuffle per iteration keyed by node id over the
    * PAIR-GRAPH only (orders of magnitude smaller than the corpus).
    * Exactly TWO eager materializations — edges (feeds every
    * iteration's join) and deg (the `count()` action needs it anyway);
    * the fixed small iteration count makes per-round lineage cuts
    * unnecessary (depth ~3·iterations of tiny stages), and r6 measured
    * the 7-checkpoint version at 21 s under driver conditions versus
    * the work itself costing ~1 s — eager jobs on a tiny graph are
    * pure scheduling overhead. `partitions` (when > 0) coalesces the
    * graph frames — callers whose pair graph is known-tiny relative to
    * the corpus (every registered near-dup query) pass 1 so iteration
    * stages are single tasks; the default 0 preserves the input's
    * parallelism, which is the right library default for a graph of
    * unknown size. The node count N is a driver scalar bounded by the
    * pair graph.
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
      iterations: Int = 3, damping: Double = 0.85,
      partitions: Int = 0): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    def shrink(df: DataFrame): DataFrame =
      if (partitions > 0) df.coalesce(partitions) else df
    // edges feed the degree agg AND every iteration's join; coalesce
    // folds into distinct's reduce side (no extra shuffle)
    // LAZY-marked checkpoints (r16): the node-count action the
    // algorithm needs anyway materializes BOTH frames in one job —
    // deg's compute flows through edges, persisting each as it goes —
    // replacing two eager checkpoint jobs + a count with a single job.
    // Safe because nothing consumes either frame before the count
    // returns; every later consumer (the per-iteration joins, the
    // broadcast degree enrichment) reads persisted blocks.
    val edges = shrink(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()).localCheckpoint(eager = false)
    val deg = shrink(edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg")))
      .localCheckpoint(eager = false)
    val n = Count.rows(deg)
    if (n == 0)
      return deg.select(col("node"), lit(0.0).as("pagerank")).limit(0)
    val base = (1.0 - damping) / n
    // carry the TARGET's degree on the edge (r15): the per-iteration
    // "join ranks back to deg" disappears — the contribution agg emits
    // deg(v) alongside the sum (max over per-v-identical values), so
    // each iteration is exactly one edge⋈rank join + one keyed agg.
    // The broadcast hint on deg is GATED on the caller declaring the
    // graph tiny (partitions > 0 — every registered near-dup caller
    // passes 1); with the default 0 ("graph of unknown size") the
    // planner keeps its choice, so a node-sized frame is never forced
    // through the driver-collect broadcast wall (ADVICE r15). Either
    // way the enrichment subtree is identical across iterations, so
    // its exchange is built once and reused; every node keeps
    // deg >= 1 in an undirected pair graph, so the groupBy(v) emits
    // the same node set the deg-join did.
    val degV = deg.select(col("node").as("v"), col("deg").as("deg_v"))
    val edgesD = edges.join(
      if (partitions > 0) broadcast(degV) else degV, "v")
    var ranks = deg.select(col("node"), col("deg"), (lit(1.0) / n).as("r"))
    for (_ <- 0 until iterations) {
      ranks = edgesD
        .join(ranks, col("u") === col("node"))
        .groupBy(col("v"))
        .agg(sum(bround(col("r") / col("deg"), 15)
            .cast("decimal(28,15)")).as("s"),
          max(col("deg_v")).as("degn"))
        .select(col("v").as("node"), col("degn").as("deg"),
          (lit(base) + lit(damping) * col("s").cast("double")).as("r"))
    }
    ranks.select(col("node"), col("r").as("pagerank"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * whose degree in the CURRENT subgraph is < k until stable — the
    * "dense interaction core" extractor (which parts sit in genuinely
    * dense co-purchase structure vs. hang off the periphery); peeling
    * cascades, so a plain one-shot degree filter is WRONG (removing a
    * hub can drag its neighbors below k).
    *
    * Returns surviving (node, deg) with deg measured INSIDE the core.
    *
    * Scale shape: each round = one endpoint-union count agg + two
    * node-sized broadcast semi-joins on a MONOTONICALLY SHRINKING edge
    * list, lineage cut per round (the connected-components discipline);
    * rounds are data-bounded (2 on the fixture at the registered k, ≤
    * the graph's peeling depth — the driver-side loop runs one count
    * action per round exactly like CC). `maxIterations` is a runaway
    * bound, not a
    * tuning knob; hitting it throws rather than returning a non-core.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxIterations: Int = 100,
      onConverged: Int => Unit = _ => ()): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // LAZY-marked checkpoint + count (r16): the convergence count each
    // round is unavoidable (data-driven peeling), but the separate
    // eager materialization job is not — localCheckpoint(eager=false)
    // marks the round's edge list for persist-on-first-compute and the
    // count that the loop needs ANYWAY materializes it in the same
    // job (Count.rows: one job, where Dataset.count() takes two, and it
    // scans every partition, so the persist is complete).
    // Single-consumer-at-materialization makes this safe: nothing else
    // touches the marked RDD until the count returns, after
    // which every later consumer (the next round's degree agg legs and
    // semi-joins) reads persisted blocks.
    var edges = pairs.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") < col("v"))
      .distinct().localCheckpoint(eager = false)
    var n = Count.rows(edges)
    var iter = 0
    var stable = n == 0L
    while (!stable) {
      require(iter < maxIterations,
        s"k-core failed to converge within $maxIterations rounds")
      iter += 1
      val deg = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("c"))
      // keep feeds BOTH semi-join broadcasts, but needs no
      // materialization: the two broadcast children canonicalize
      // identically, so AQE's exchange/stage cache builds the degree
      // aggregation ONCE and reuses it (measured r16: an explicit
      // localCheckpoint here ADDED ~1 job/round for nothing)
      val keep = deg.filter(col("c") >= k).select(col("n"))
      val next = edges
        .join(broadcast(keep.select(col("n").as("u"))), Seq("u"), "leftsemi")
        .join(broadcast(keep.select(col("n").as("v"))), Seq("v"), "leftsemi")
        .select(col("u"), col("v"))
        .localCheckpoint(eager = false)
      val m = Count.rows(next)
      stable = m == n
      edges = next
      n = m
    }
    onConverged(iter)
    edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .orderBy(col("node"))
  }

  /** Synchronous label propagation (fixed iteration count): every node
    * starts labeled with its own id; each round it adopts its
    * neighbors' most frequent label, ties broken toward the SMALLEST
    * label — fully deterministic community detection (async LPA's
    * update-order dependence is exactly what makes it untestable).
    * Fixed rounds rather than convergence: synchronous LPA can
    * 2-cycle on bipartite structure, so "until stable" may never
    * arrive; k rounds of a deterministic step are reproducible
    * everywhere, and community boundaries move ≤ k hops anyway.
    *
    * Scale shape: per round one edge⋈label join keyed by node + one
    * (node, label) count agg + one per-node argmax agg — all on the
    * PAIR graph; label frames are node-sized. Isolated nodes never
    * appear (a pair list has none).
    *
    * Lineage: `materialize` cuts each round's label frame — the
    * library default keeps the per-round `localCheckpoint` (the CC
    * discipline, right when `iterations` is large or the graph is
    * big). Callers with a FIXED small iteration count and a tiny
    * graph pass `identity` (the registered q_label_prop does): each
    * label frame feeds exactly ONE downstream join, so nothing
    * recomputes, the plan depth is bounded by 2·iterations tiny
    * stages, and the per-round eager jobs were pure scheduling
    * overhead (the r6 pagerank lesson; measured r15: 3.7 s → 2.1 s
    * same-window at sf0.1 with identical output).
    *
    * The per-round argmax is a two-level aggregation
    * (max_by-style `min(struct(-n, lbl))` over the (v, lbl) counts),
    * NOT a rank window: the agg keeps map-side partial aggregation
    * and skips the window's per-partition sort; ties break toward
    * the SMALLEST label exactly as the `row_number` over
    * (n desc, lbl asc) it replaced — `min` on struct(-n, lbl) is
    * lexicographic, so highest n wins first, then lowest lbl
    * (GraphSpec pins the tie cases; counts are bounded by degree,
    * so the negate cannot overflow).
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      iterations: Int = 5, partitions: Int = 0,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    def shrink(df: DataFrame): DataFrame =
      if (partitions > 0) df.coalesce(partitions) else df
    val edges = shrink(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()).localCheckpoint()
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iterations) {
      val votes = edges
        .join(labels.select(col("node").as("u"), col("lbl")), "u")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("n"))
      labels = materialize(shrink(votes
        .groupBy(col("v"))
        .agg(min(struct((-col("n")).as("neg_n"), col("lbl").as("lbl")))
          .as("m"))
        .select(col("v").as("node"), col("m.lbl").as("lbl"))))
    }
    labels.orderBy(col("node"))
  }

  /** Exact triangle counting over an undirected pair list — the
    * clustering-density diagnostic for a dedup pair graph (triangles =
    * mutually-near-dup cliques forming; a high triangle-to-edge ratio
    * says the 0.6-threshold groups are tight clusters, not chains).
    * Returns one row per node that participates in ≥1 triangle with
    * its triangle count, plus each node's degree.
    *
    * Algorithm: degree orientation (the standard O(E^1.5)-work bound).
    * Orient every undirected edge from the lower-(deg, id) endpoint to
    * the higher; count directed wedges u→v, u→w (v < w by the same
    * order) and probe each wedge for the closing edge v→w. Every
    * triangle is counted exactly once (its minimum vertex owns it),
    * and no node fans out more than O(√E) oriented out-edges
    * regardless of raw degree — a celebrity node with 10⁶ neighbors
    * contributes wedges only through its (rare) higher-order
    * neighbors, so the wedge join cannot blow up quadratically in the
    * hub's degree. Pure integer counts — nothing to round.
    *
    * Scale shape: one degree agg, one broadcast-able orientation join,
    * one self-join of the oriented edge list on the wedge apex, one
    * semi-join probe against the oriented edges — all keyed shuffles
    * on the PAIR graph, never the corpus.
    */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // normalize to one row per undirected edge (u < v) directly — the
    // doubled u↔v list would pay a distinct over 2E rows for nothing
    // (degree falls out of a union of the two endpoint columns)
    val half = pairs.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") < col("v")) // drops self-loops
      .distinct().localCheckpoint()
    val deg = half.select(col("u").as("node"))
      .union(half.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient lower-(deg, id) → higher-(deg, id); keep each undirected
    // edge once. Joining degrees twice onto the half edge list (u < v)
    // beats re-deriving order per pair; deg is node-sized → broadcast.
    val oriented = half
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst")).localCheckpoint()
    // ^ kept EAGER (r16 re-audit): dropping it makes the wedge
    // self-join sides two full copies of the orientation subtree whose
    // runtime dedup would hang on AQE's stage cache, and the planner
    // loses the materialized size — the degree joins flipped from
    // broadcast to SortMergeJoin in the static plan. Measured −1 job
    // and wall-neutral at sf0.1: not worth the at-scale risk.
    // wedges: two out-edges of the same apex, deduped by dst order.
    // EXPLICIT repartition by apex with a pinned partition count: the
    // edge list is small (~20 MB at E=1.2M), so AQE would coalesce the
    // self-join's shuffle to ONE partition and run the whole O(E^1.5)
    // wedge enumeration (41M rows at sf0.1) single-threaded — the
    // pinned N keeps enumerate→probe at full parallelism, and the
    // self-join reuses the one exchange for both sides.
    val byApex = oriented.repartition(
      pairs.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
    val wedges = byApex.as("e1")
      .join(byApex.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    // a wedge closes iff the undirected edge {b, c} exists. Probe the
    // ID-NORMALIZED half list (u < v), not the degree-oriented one:
    // wedges carry b < c by construction, so the probe is a pure
    // two-column equi semi-join — an OR over both orientations would
    // plan as a nested-loop join and is quadratic at any scale.
    // BROADCAST the edge set: the wedge stream is O(E^1.5) rows (41M
    // at sf0.1) and shuffling it for a sort-merge semi costs ~1 GB,
    // while the closing set is only E two-long rows — broadcasting it
    // keeps enumerate→probe fused in ONE codegen stage with no wedge
    // shuffle at all (measured 25.9 s → SMJ vs broadcast). For graphs
    // whose edge list exceeds the executor broadcast bound (E ≳ 10⁸),
    // drop the hint and take the wedge shuffle — correctness is
    // unchanged.
    val closed = wedges.join(broadcast(half.select(col("u").as("b"),
        col("v").as("c"))),
      Seq("b", "c"), "leftsemi")
    val perNode = closed.select(explode(array(col("apex"), col("b"),
        col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    perNode.join(deg, "node")
      .select(col("node"), col("triangles"), col("deg"))
      .orderBy(col("node"))
  }
}
