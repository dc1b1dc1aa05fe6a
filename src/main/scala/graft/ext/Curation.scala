package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation (the north-star composition):
  *
  *   quality gate → exact dedup → near-dup dedup → survivors
  *
  * Each stage is one of the already-verified operators; this module
  * only composes them, preserving determinism (every drop decision is
  * a pure function of content + doc_id). At 100 TB each stage is a
  * bounded shuffle: the quality gate is a scan, exact dedup one
  * hash-partition by content hash, near-dup the blocked inverted-index
  * join — nothing quadratic, nothing driver-side.
  */
object Curation {

  /** Quality gate: minimum token count and in-vocabulary signal
    * (stopword presence). Deterministic per row.
    */
  def qualityGate(docs: DataFrame, textCol: String,
      minTokens: Int): DataFrame =
    TextAnalysis.qualityFeatures(docs, textCol)
      .filter(col("n_tokens") >= minTokens)

  /** Exact dedup: keep the lowest doc_id of every identical text. */
  def dropExactDupes(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = Dedup.exactGroups(docs, textCol, idCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, idCol)
  }

  /** Near-dup dedup: drop every doc that is J ≥ threshold similar to a
    * LOWER-id doc (the higher id of each near-dup pair). Deterministic
    * and order-free: the drop set is { b | ∃ (a,b), a<b, J(a,b) ≥ t }.
    * EAGER AT CALL TIME: the hashed shingle sets feed both pair-join
    * sides (AQE does not reuse the twin exchanges), so they are
    * checkpointed — one tokenize+shingle job when CALLED.
    */
  def dropNearDupes(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    // STRICTLY positive here, though the pair APIs accept 0: this
    // operator DROPS rows, and t = 0 (the unset-Double default) would
    // silently discard every doc sharing a single shingle with any
    // lower-id doc — near-total corpus loss, not a curation setting
    require(threshold > 0 && threshold <= 1,
      s"drop threshold must be in (0, 1], got $threshold")
    val hsets = Dedup.hashedShingleSets(docs, textCol, idCol, 3).localCheckpoint()
    val drops = Dedup.ngramJaccardPairsFromHashedSets(hsets, threshold)
      .select(col("b_id").as(idCol)).distinct()
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** The full pipeline. Returns surviving rows with quality features.
    *
    * EAGER AT CALL TIME: two checkpoint jobs run when CALLED — the
    * exact-dedup stage (feeds the near-dup pairs AND the final
    * anti-join) and [[dropNearDupes]]' hashed shingle sets.
    */
  def curate(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 20, nearDupThreshold: Double = 0.8): DataFrame = {
    val gated = qualityGate(docs, textCol, minTokens)
    val exact = dropExactDupes(gated, textCol, idCol).localCheckpoint()
    dropNearDupes(exact, textCol, idCol, nearDupThreshold)
  }

  // ------------------------------------------------- corpus assembly ops

  /** Deterministic hash-based train/test split: a row is `test` iff
    * `md5(salt ++ id)` falls below the hex threshold encoding
    * `testFrac`. Pure per-row function of the id — no sampling state,
    * reproducible on any cluster at any partitioning, and stable under
    * corpus growth (a doc never changes sides when others are added) —
    * exactly what leakage-free split assignment at 100 TB needs.
    * Lexicographic compare of fixed-width lowercase hex == numeric
    * compare, and md5 agrees across engines (the oracle twin relies on
    * both).
    */
  def trainTestSplit(docs: DataFrame, idCol: String,
      testFrac: Double, salt: String = "s42"): DataFrame =
    docs.withColumn("split",
      when(md5(concat(lit(salt), col(idCol).cast("string")))
          < lit(hexThreshold(testFrac)), lit("test"))
        .otherwise(lit("train")))

  /** First 8 hex digits encode the fraction of the md5 space; the zero
    * padding keeps the compare fixed-width.
    */
  private[graft] def hexThreshold(frac: Double): String = {
    require(frac >= 0 && frac <= 1, s"fraction out of range: $frac")
    // frac 1.0 must capture EVERY row: "g" sorts after every hex digit,
    // so md5 < "g" is identically true ("ffffffff…" would miss hashes
    // that share the prefix but have a larger tail).
    if (frac >= 1.0) "g"
    else f"${(frac * 4294967296.0).toLong}%08x" + "0" * 24
  }

  /** Model-based quality filtering (the classifier-gate stage of
    * modern pretraining pipelines), with the learned classifier stood
    * in by a deterministic "quality direction": the centroid of a
    * trusted label's embeddings. Score = cosine(doc embedding,
    * direction); keep docs scoring ≥ threshold.
    *
    * Scale shape: the direction reduces to a 64-float broadcast row;
    * scoring is a codegen'd map-side dot product over ONE
    * docs⋈embeddings equi-join (co-partitionable / bucketable at
    * 100 TB). Nothing quadratic, no driver-side vector math — the
    * centroid stays inside the plan.
    */
  def classifierFilter(docs: DataFrame, embeddings: DataFrame,
      docIdCol: String, goodLabel: Int, threshold: Double): DataFrame = {
    val direction = Similarity.labelCentroids(embeddings)
      .filter(col("label") === goodLabel)
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid").cast("float")).as("cvec"))
    docs.join(embeddings.select(col("vec_id"), col("embedding"))
          // zero-norm embeddings make cosine 0/0 — NULL here, NaN in
          // IEEE engines (where NaN ≥ threshold is TRUE): exclude them
          // explicitly so every engine computes the same kept set.
          .filter(Similarity.norm(col("embedding")) > 0),
        docs(docIdCol) === col("vec_id"))
      .crossJoin(broadcast(direction))
      // an absent goodLabel leaves the global agg's single row holding
      // an empty cvec — fail loudly instead of returning an empty
      // result that looks like "all docs filtered out".
      .withColumn("quality_score",
        when(size(col("cvec")) > 0,
          Similarity.dot(col("embedding"), col("cvec")) /
            (Similarity.norm(col("embedding")) * Similarity.norm(col("cvec"))))
          .otherwise(raise_error(lit(
            s"classifierFilter: no embeddings carry goodLabel=$goodLabel"))))
      .filter(col("quality_score") >= threshold)
      .drop("vec_id", "embedding", "cvec")
  }

  /** Stratified deterministic sampling: keep each row with a
    * per-stratum rate, decided by the same fixed-width md5-threshold
    * coin as [[trainTestSplit]] — a pure function of (salt, id), so the
    * sample is reproducible at any partitioning and stable under corpus
    * growth (a kept row is kept forever). Map-side filter, no shuffle.
    */
  /** Weighted sampling without replacement (Efraimidis–Spirtakis A-ES):
    * every row gets key u^(1/w) for a uniform u; the k largest keys ARE
    * a weighted sample. Ranking by ln(u)/w (monotone twin — no pow
    * drift) and u derived from a 52-bit md5 prefix keeps it a pure
    * function of (salt, id): deterministic, partitioning-independent,
    * and engine-reproducible. The top-k fuses to TakeOrderedAndProject
    * — per-partition heaps of k, no global sort, no shuffle beyond the
    * k-row gather.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = "ws42"): DataFrame = {
    require(k > 0, "k must be > 0")
    // 52-bit prefix / 2^52 ∈ [0,1) — exactly representable in a double
    val u = conv(substring(
        md5(concat(lit(salt), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0)
    // w ≤ 0 has no A-ES meaning (w = 0 → key −∞ is fine, but negative
    // w would flip the key's sign and sample garbage first): exclude
    // non-positive weights outright.
    docs.filter(col(weightCol) > 0)
      .withColumn("skey", log(u) / col(weightCol).cast("double"))
      .orderBy(col("skey").desc, col(idCol))
      .limit(k)
      .drop("skey") // float key stays out of the verified output
  }

  def stratifiedSample(docs: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "ss42"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val hash = md5(concat(lit(salt), col(idCol).cast("string")))
    val thr = rates.foldLeft(lit(hexThreshold(defaultRate))) {
      case (acc, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(hexThreshold(r))).otherwise(acc)
    }
    docs.filter(hash < thr)
  }

  /** Weighted source repetition (epoch mixing): repeat each document
    * `weight(source)` times in expectation — integer part as guaranteed
    * copies, fractional part as a deterministic per-doc hash coin (the
    * same md5-threshold trick as [[trainTestSplit]], so weight 0.25
    * subsamples and weight 2.5 emits 2 or 3 copies, reproducibly at any
    * partitioning). This is how training mixes weight sources without
    * materializing per-epoch shuffles: a map-side explode, no shuffle
    * at all.
    */
  def repeatByWeight(docs: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      salt: String = "w42"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "weights must be non-negative")
    val hash = md5(concat(lit(salt), col(idCol).cast("string")))
    def copies(w: Double): Column =
      lit(math.floor(w).toLong) +
        when(hash < lit(hexThreshold(w - math.floor(w))), 1L).otherwise(0L)
    val n = weights.foldLeft(copies(defaultWeight)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, copies(w)).otherwise(acc)
    }
    docs.withColumn("n_copies", n.cast("int"))
      .withColumn("copy", explode(
        when(col("n_copies") >= 1, sequence(lit(1), col("n_copies")))
          .otherwise(array().cast("array<int>"))))
  }

  /** Data-mixing cap: keep at most `cap` documents per source, best
    * first (`rankBy` descending, doc id as the deterministic
    * tiebreaker). One shuffle keyed by source; a per-group top-k, so
    * Spark's WindowGroupLimit pushes the limit below the sort at scale.
    */
  def mixingCap(docs: DataFrame, sourceCol: String, idCol: String,
      rankBy: Column, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(rankBy.desc, col(idCol))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  /** Greedy sequence packing: documents are laid out in id order within
    * each `groupCol` partition and cut into training sequences of
    * `budgetTokens` by running token count — a doc belongs to the
    * sequence its first token lands in. The window runs per group
    * (shuffle by `groupCol`, sort within), never a single global
    * ordering — at 100 TB the group key is what keeps this
    * parallelizable (use source/shard keys with bounded group sizes).
    */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, budgetTokens: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
    docs.withColumn("n_tokens", size(split(col(textCol), " ")))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(budgetTokens)).cast("long"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` distinct word n-gram shingles with ANY benchmark
    * document. The benchmark shingle set is tiny relative to the corpus
    * (that is the premise of held-out evaluation), so it broadcasts —
    * the corpus is scanned once, no corpus-side self-join. Returns
    * (id, n_overlap) for flagged docs; anti-join against it to clean.
    * EAGER AT CALL TIME: both hashed-set frames are checkpointed
    * (see the body), two jobs when CALLED.
    */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    // both sides compare 64-bit shingle hashes, not strings: the
    // broadcast is 8 bytes per benchmark shingle (a 1M-shingle bench
    // set broadcasts as ~8 MB at any text length) and the probe is a
    // long equality — same accepted collision class as the dedup
    // family's hashed postings (~1e-7 among 10^6 shingles).
    // the hashed-set frames are checkpointed: in a lazy plan,
    // InferFiltersFromGenerate turns each explode into
    // size(...) > 0 / isnotnull(...) predicates that the pushdown
    // inlines as TWO extra evaluations of the shingle scan per row
    // (observed in the r7 plan dump); a checkpoint makes it one.
    val benchShingles = Dedup.hashedShingleSets(benchmark, textCol, idCol, n)
      .localCheckpoint()
      .select(explode(col("shs")).as("sh")).distinct()
    val corpusShingles = Dedup.hashedShingleSets(corpus, textCol, idCol, n)
      .localCheckpoint()
      .select(col("doc_id"), explode(col("shs")).as("sh"))
    corpusShingles.join(broadcast(benchShingles), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
      .filter(col("n_overlap") >= minOverlap)
  }
}
