package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding-style tokenizer training over a corpus: the
  * iterated most-frequent-adjacent-pair merge (Sennrich et al. 2016),
  * here at the word grain the fixture corpus tokenizes to. Each step
  * counts adjacent pairs corpus-wide, picks the most frequent under
  * the (count desc, left, right) total order, and rewrites every
  * sequence with the pair merged greedily LEFT-TO-RIGHT and
  * NON-OVERLAPPING — `a a a` under the merge (a,a) becomes `[aa, a]`,
  * never `[a, aa]` and never two overlapping merges — the reference
  * BPE semantics.
  *
  * The greedy pass is pure window algebra (no UDF, no per-row state):
  * a match marks positions i with (tok_i, tok_i+1) = (left, right);
  * overlapping matches can only occur in runs of a self-pair
  * (left = right forces tok_i+1 = left = right), and greedy selection
  * keeps exactly the even offsets within each consecutive-match run —
  * computed with one cumulative count + one min-over-run window. The
  * identical algebra runs in the DuckDB oracle, so the merge table is
  * hash-exact, not just plausible.
  *
  * Scale shape per step: pair counting is one two-phase (left, right)
  * agg (map-side combine over doc-local lead()); top-1 is a bounded
  * TakeOrdered collect of ONE row (the IVF-training pattern); the
  * rewrite is doc-keyed windows — every pass reuses the same (doc)
  * partitioning, and the trainer `localCheckpoint()`s each state frame,
  * which cuts the lineage that would otherwise double per step (the
  * AQE no-subtree-dedup lesson: each state frame feeds BOTH the count
  * and the rewrite). A production 30k-merge run batches many disjoint
  * pairs per rewrite pass instead of one (same algebra over a
  * broadcast merge SET) — [[pairMergesBatched]], whose one-pair round
  * (`pairsPerRound = candidatePool = 1`) is the step above.
  */
object Bpe {

  private def wDoc = Window.partitionBy(col("doc")).orderBy(col("pos").asc)

  /** Corpus → the (doc, pos, tok) token frame every BPE pass runs on. */
  private def tokenize(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))

  /** Attach the successor token (`nxt` = lead(tok) over the doc
    * window) when the frame doesn't already carry it. The TRAINER
    * carries `nxt` THROUGH its materialized state (r16): a
    * checkpointed frame comes back with unknown partitioning, so a
    * per-round `lead` in the pair-count pass would re-shuffle the
    * corpus by doc every round — storing the successor at rewrite time
    * makes the pair count a pure map-side partial aggregation over the
    * persisted state, no window, no doc exchange.
    */
  private def withNext(toks: DataFrame): DataFrame =
    if (toks.columns.contains("nxt")) toks
    else toks.withColumn("nxt", lead(col("tok"), 1).over(wDoc))

  /** One greedy left-to-right non-overlapping rewrite pass — the
    * window algebra the object scaladoc derives, shared by the trainer
    * and [[encode]]: positions whose (tok, nxt) satisfy
    * `isMatch` merge into `merged`; runs of CONSECUTIVE matches (only
    * possible for a self-pair when the match set is symbol-disjoint)
    * keep even offsets. `isMatch`/`merged` see columns `tok` and
    * `nxt` (nxt is null at doc end — a null match mark reads false).
    * With `emitNext` the output ALSO carries the REWRITTEN stream's
    * successor token (one more window expression on the same spec —
    * no extra exchange), which is what lets the trainer's next
    * pair-count ride the materialized state without a window.
    */
  private def rewriteOnce(toks: DataFrame, isMatch: Column,
      merged: Column, emitNext: Boolean = false): DataFrame = {
    val newTok = when(col("take"), merged).otherwise(col("tok"))
    val kept = withNext(toks)
      .withColumn("m", coalesce(isMatch, lit(false)))
      // a run of CONSECUTIVE match positions starts where the previous
      // position did not match; a match row's run start is then the
      // LATEST start at-or-before it — a running max over the SAME
      // (doc, pos) window spec as every other expression here, so the
      // whole pass plans as ONE WindowExec on ONE doc-keyed exchange.
      // (The r14 formulation grouped runs by a derived runkey and took
      // min(pos) over (doc, runkey) — a second exchange per pass for
      // the same value; r15 optimization, output bit-identical.)
      .withColumn("pm", lag(col("m"), 1, false).over(wDoc))
      .withColumn("runstart",
        max(when(col("m") && !col("pm"), col("pos")))
          .over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      // greedy = even offset within the run
      .withColumn("take",
        col("m") && (col("pos") - col("runstart")) % 2 === 0)
      .withColumn("ptk", lag(col("take"), 1, false).over(wDoc))
      .filter(!col("ptk")) // the right half of a taken pair drops
    if (emitNext)
      kept.select(col("doc"), row_number().over(wDoc).as("pos"),
        newTok.as("tok"), lead(newTok, 1).over(wDoc).as("nxt"))
    else
      kept.select(col("doc"), row_number().over(wDoc).as("pos"),
        newTok.as("tok"))
  }

  /** BPE training — the 100 TB shape the object scaladoc promises:
    * each rewrite pass applies a SET of up to `pairsPerRound`
    * merges chosen greedily SYMBOL-DISJOINT from the round's top
    * `candidatePool` pairs (ordered n desc, lft, rgt), so a 30k-merge
    * production run costs O(30k / K) corpus passes instead of 30k.
    *
    * Why disjointness makes the one-pass rewrite exact: two matches at
    * adjacent positions share their middle token, so under
    * symbol-disjoint pairs consecutive matches can only come from the
    * SAME self-pair (a, a) — exactly the run case the one-pair
    * rewrite's running-max run algebra already resolves greedily
    * left-to-right. The same algebra runs unchanged with the match
    * predicate generalized from one (left, right) literal to the
    * round's broadcast merge set.
    *
    * Determinism: the candidate pool is a bounded TakeOrdered collect
    * (`candidatePool` rows — the IVF-seed pattern, NEVER corpus-sized)
    * under the (n desc, lft, rgt) total order; the greedy scan over it
    * is driver-side but pure; the oracle unrolls the identical
    * pool-then-greedy picks in SQL, so the merge table is hash-exact.
    * Pool truncation is part of the CONTRACT (both engines pick from
    * the same top-`candidatePool` list), not an approximation knob.
    *
    * Returns (merge_round, ord, lft, rgt, n_pairs): `ord` is the
    * pair's 1-based position in its round's greedy selection, n_pairs
    * the corpus-wide adjacent count at selection time. Merged tokens
    * are spelled `left + "+" + right` (the corpus alphabet is [a-z ];
    * '+' cannot collide). EAGER AT CALL TIME: training runs when
    * CALLED, each state frame checkpointed and each pool collected.
    */
  def pairMergesBatched(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int, pairsPerRound: Int, candidatePool: Int = 64): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16], got $rounds")
    require(pairsPerRound >= 1 && pairsPerRound <= 16,
      s"pairsPerRound must be in [1, 16], got $pairsPerRound")
    require(candidatePool >= pairsPerRound,
      s"candidatePool ($candidatePool) must cover pairsPerRound " +
        s"($pairsPerRound)")
    val spark = docs.sparkSession
    import spark.implicits._
    // state carries `nxt` (r16): the per-round pair count is then a
    // pure two-phase aggregation over the checkpointed frame — no
    // window, no per-round doc-keyed exchange (see withNext)
    var toks = withNext(tokenize(docs, idCol, textCol)).localCheckpoint()
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val pool = toks
        .filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc, col("nxt").asc)
        .limit(candidatePool)
        .collect() // bounded: candidatePool rows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // greedy symbol-disjoint selection over the ordered pool
      val picked = Seq.newBuilder[(String, String, Long)]
      var used = Set.empty[String]
      var k = 0
      pool.foreach { case (l, r, n) =>
        if (k < pairsPerRound && !used(l) && !used(r)) {
          picked += ((l, r, n)); used = used + l + r; k += 1
        }
      }
      val sel = picked.result()
      if (sel.isEmpty) exhausted = true
      else {
        sel.zipWithIndex.foreach { case ((l, r, n), i) =>
          merges += ((round, i + 1, l, r, n)) }
        // match predicate + merged spelling as literal CASE chains —
        // pairsPerRound is tiny, so this stays one codegen'd projection
        // (the SQL twin LEFT JOINs its sel CTE; same row semantics).
        // The LAST round's rewrite is dead work — nothing reads the
        // final token stream (the merge table is the output); skip it
        // instead of checkpointing it (r16)
        if (round < rounds) toks = rewriteOnce(toks,
          matchAny(sel.map { case (l, r, _) => (l, r) }),
          spellAny(sel.map { case (l, r, _) => (l, r) }),
          emitNext = true).localCheckpoint()
      }
    }
    merges.result()
      .toDF("merge_round", "ord", "lft", "rgt", "n_pairs")
      .orderBy(col("merge_round"), col("ord"))
  }

  /** Match predicate + merged spelling for a symbol-disjoint pair SET
    * as literal CASE chains — the set stays tiny (≤ pairsPerRound /
    * one encode group), so both remain one codegen'd projection. At
    * most one pair can match a position under disjointness, so the
    * chain order is immaterial. */
  private def matchAny(pairs: Seq[(String, String)]): Column =
    pairs.map { case (l, r) =>
      col("tok") === l && col("nxt") === r }.reduce(_ || _)
  private def spellAny(pairs: Seq[(String, String)]): Column =
    pairs.foldLeft(col("tok")) { case (acc, (l, r)) =>
      when(col("tok") === l && col("nxt") === r,
        lit(l + "+" + r)).otherwise(acc) }

  /** BPE APPLY — the serve side of the train→serve split (the bigram
    * LM's persistable-model pattern, SURVEY §2.9; VERDICT r13 #2):
    * tokenizes the corpus and applies a TRAINED merge table in rank
    * order, each rank the greedy left-to-right non-overlapping rewrite
    * of a one-pair training round — the standard BPE encode (Sennrich et al.
    * 2016, arXiv:1508.07909 §3). Returns the encoded (doc, pos, tok)
    * frame; merged tokens spell `left + "+" + right` like the
    * trainer, so encode∘train reproduces the trainer's own final
    * token stream exactly (pinned in PropertySpec).
    *
    * Scale shape — the 100 TB story: consecutive ranks collapse into
    * ONE rewrite pass while they stay mutually applicable-in-any-order,
    * i.e. (a) pairwise symbol-disjoint on their INPUTS (the batched
    * trainer's invariant: adjacent matches share their middle token,
    * so disjoint inputs confine runs to a single self-pair — the run
    * algebra's domain) and (b) non-stacked within the group (no rank
    * consumes, or is consumed by, a group member's OUTPUT — a stacked
    * rank must see the previous rank's rewrite, so it starts a new
    * pass). Under (a)+(b) a group member can neither create nor
    * destroy another member's matches, so the simultaneous pass equals
    * the sequential application — a production 30k-merge vocabulary
    * (mostly-disjoint by construction: each merge introduces a fresh
    * symbol) applies in far fewer corpus passes than merges, every
    * pass reusing the same (doc) partitioning. `materialize` wraps
    * each pass's output; `q_bpe_encode` passes `identity` (each pass has
    * ONE consumer, so its 2-pass lazy chain recomputes nothing). A
    * production-size table (about merges/16 passes) should pass
    * `_.localCheckpoint()` to keep each plan and lineage one pass deep.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)],
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(merges.nonEmpty, "encode needs at least one merge")
    require(merges.size <= 4096,
      s"merge table cap 4096 (one broadcast literal set), got " +
        s"${merges.size}")
    var toks = materialize(tokenize(docs, idCol, textCol))
    passGroups(merges).foreach { g =>
      toks = materialize(rewriteOnce(toks, matchAny(g), spellAny(g)))
    }
    toks
  }

  /** A pass's match/spelling CASE chains must stay ONE codegen'd
    * projection: past ~10² branches Janino's 64 KB method limit forces
    * interpreted fallback and per-row cost goes O(pairs) per token —
    * so groups are additionally size-capped (splitting a disjoint
    * group into rank-ordered sub-passes is semantics-free: sequential
    * equals simultaneous for ANY subset split). */
  private[graft] val MaxPassPairs = 16

  /** [[encode]]'s greedy rank-order pass grouping under (a)+(b) —
    * conservative: any violation (or the [[MaxPassPairs]] codegen cap)
    * flushes the group (sequential semantics are the contract;
    * grouping only saves passes). Package-visible so specs (and oracle
    * authors, who unroll one CTE chain per GROUP) can pin the exact
    * split for a given table. */
  private[graft] def passGroups(merges: Seq[(String, String)])
      : Seq[Seq[(String, String)]] = {
    val groups = Seq.newBuilder[Seq[(String, String)]]
    var cur = Vector.empty[(String, String)]
    var ins = Set.empty[String]
    var outs = Set.empty[String]
    def flush(): Unit = if (cur.nonEmpty) {
      groups += cur; cur = Vector.empty; ins = Set.empty; outs = Set.empty
    }
    merges.foreach { case (l, r) =>
      val out = l + "+" + r
      if (cur.nonEmpty && (cur.size >= MaxPassPairs ||
          ins(l) || ins(r) || outs(l) || outs(r) ||
          ins(out) || outs(out)))
        flush()
      cur :+= ((l, r)); ins = ins + l + r; outs += out
    }
    flush()
    groups.result()
  }
}
