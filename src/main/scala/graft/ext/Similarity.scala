package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath.dotF

/** Similarity search over an embedding column (`array<float>`,
  * SURVEY.md §2.9): brute-force cosine top-k as the exact baseline, and
  * two scale paths — random-hyperplane LSH bucketing and IVF
  * (centroid-partitioned) search.
  *
  * All math runs in double precision through the native codegen'd
  * [[graft.functions.DotProductFloat]] expression — no Scala UDF and no
  * interpreted lambda in the hot path. The left-to-right fold makes the
  * score bit-deterministic, which the oracle compare relies on; norms are
  * computed once per row (not once per pair) before any self-join.
  */
object Similarity {

  /** dot(a, b) in double over float arrays. Codegen'd native expression
    * (graft.functions.DotProductFloat); bit-identical to the interpreted
    * `aggregate(zip_with(...))` fold it replaced, ~40x faster.
    */
  def dot(a: Column, b: Column): Column = dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: the (small) query set is broadcast so the
    * corpus is scanned exactly once with no shuffle; per-query ranking
    * is a window over queryId. Exact — the recall baseline for ANN.
    */
  def topKCosine(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms once per row on each side, not once per pair
    val cn = corpus.withColumn("nrm", norm(col("embedding")))
    val qn = queries.withColumn("qnrm", norm(col("query_vec")))
    val scored = cn.as("c")
      .join(broadcast(qn.as("q")), col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        (dot(col("q.query_vec"), col("c.embedding")) /
          (col("q.qnrm") * col("c.nrm"))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining (contrastive-training data): for each query,
    * the k most cosine-similar corpus vectors carrying a DIFFERENT
    * label — similar-but-wrong examples, the ones a contrastive loss
    * learns most from. Same shape as [[topKCosine]] (broadcast query
    * set, one corpus scan, no shuffle before the per-query window);
    * the label predicate rides inside the join so mismatched rows are
    * never scored.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cn = corpus.withColumn("nrm", norm(col("embedding")))
    val qn = queries.withColumn("qnrm", norm(col("query_vec")))
    val scored = cn.as("c")
      .join(broadcast(qn.as("q")),
        col("q.query_id") =!= col("c.vec_id") &&
          col("q.qlabel") =!= col("c.label"))
      .select(col("q.query_id"), col("c.vec_id"), col("c.label"),
        (dot(col("q.query_vec"), col("c.embedding")) /
          (col("q.qnrm") * col("c.nrm"))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All near-duplicate pairs by cosine ≥ threshold. Exact variant:
    * block-nested self-join (for modest corpora / verification); at
    * 100 TB use [[cosineNearDupPairsLsh]] instead.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val cn = corpus.withColumn("nrm", norm(col("embedding")))
    cn.as("a").join(cn.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Scale path for cosine near-dup pairs: candidates = pairs colliding
    * in ≥1 of L sign-LSH tables (r planes each), exact cosine filter on
    * candidates only. Replaces the O(n²) self-join of
    * [[cosineNearDupPairs]] with L bucket-partitioned joins —
    * approximate (recall 1−(1−pʳ)ᴸ where p = 1−θ/π), measured against
    * the exact variant in SimilaritySpec. A bucket id is one long of r
    * bits, so r ≥ 64 would wrap `1L << i` and silently merge buckets;
    * bad shapes fail fast instead (r ≤ 62 keeps clear of the sign bit).
    * EAGER AT CALL TIME: the banded frame feeds both self-join sides
    * (AQE does not reuse the twin exchanges), so it is checkpointed —
    * one corpus-scan job when CALLED. Determinism: the embedding attach
    * re-reads `corpus`, so a nondeterministic corpus (a sample, a source
    * that changes between reads) can score a pair against vectors other
    * than the ones that collided; pass a deterministic or checkpointed one.
    */
  def cosineNearDupPairsLsh(corpus: DataFrame, threshold: Double,
      numTables: Int = 8, planesPerTable: Int = 4, dim: Int = 64): DataFrame = {
    require(numTables >= 1 && planesPerTable >= 1 && planesPerTable <= 62,
      s"LSH shape needs numTables >= 1 and planesPerTable in [1, 62], " +
        s"got numTables=$numTables planesPerTable=$planesPerTable")
    val tables = (0 until numTables).map(t =>
      hyperplanes(planesPerTable, dim, seed = 1042L + t))
    val bucketCols = array(tables.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("table_id"), lshBucket(col("embedding"), planes).as("bucket"))
    }: _*)
    // Guide §8.4 shape (r16): decide with SMALL rows, move the big rows
    // once. The self-join sides carry NO embedding — only the vec id,
    // the (table_id, bucket) join key, and the row's OTHER-table bucket
    // ids bit-packed into `nWords` longs (`pw0..`, prefix-masked per
    // exploded table — plus the constant mask `mk0..` for the filter).
    // A pair colliding in several tables is kept only in its FIRST
    // colliding table: an earlier same-table bucket collision shows up
    // as a zero b-bit field in (a.pwJ XOR b.pwJ) | ~mkJ, tested with a
    // literal per-field mask chain — all plain codegen'd long ops (an
    // arrays_overlap over tag arrays measured interpreted-HOF-slow on
    // the ~6M collision rows this filter sees at sf0.1). The in-join
    // dedup means each candidate pair is scored exactly once and no
    // pre-scoring distinct of the collision set is ever shuffled (the
    // r8 measurement that sank the naive skinny-first shape). Embeddings
    // are then attached once per side from a plain (vec_id, embedding,
    // nrm) projection of the corpus: at bench scale both attaches
    // auto-broadcast, so no vector ever rides an exchange here. At
    // 100 TB (corpus too big to broadcast) the attaches are two
    // corpus-keyed shuffles plus ONE pass of the deduped candidate
    // stream carrying a single attached vector, versus the previous
    // shape's 2·L corpus-sized embedding-laden exchange sides — a win
    // exactly when per-bucket occupancy is bounded (deduped candidates
    // ≾ 2·L·corpus), which is the operating condition LSH needs anyway
    // and what raising r with the corpus maintains; with fat buckets
    // (candidates ≫ L·corpus) score-in-join moves fewer bytes and
    // [[semDedupPairs]] keeps that shape for its by-design-fat cells.
    val bBits = planesPerTable // bucket of table t occupies b bits
    val fieldsPerWord = math.max(1, 63 / bBits)
    val nWords = (numTables + fieldsPerWord - 1) / fieldsPerWord
    // fields [0, nf(j,t)) of word j are "earlier than table t"
    def nf(j: Int, t: Int): Int = {
      val lo = j * fieldsPerWord
      val cap = math.min(fieldsPerWord, numTables - lo)
      math.max(0, math.min(cap, t - lo))
    }
    def maskConst(j: Int, t: Int): Long = {
      val bits = nf(j, t) * bBits
      if (bits == 0) 0L else (1L << bits) - 1
    }
    val bkCols = tables.zipWithIndex.map { case (planes, t) =>
      lshBucket(col("embedding"), planes).as(s"bk$t") }
    val wordCols = (0 until nWords).map { j =>
      val lo = j * fieldsPerWord
      val hi = math.min(lo + fieldsPerWord, numTables)
      (lo until hi).map(t => shiftleft(col(s"bk$t"), bBits * (t - lo)))
        .reduce(_ + _) // fields are disjoint bit ranges, so + == OR
    }
    val tbCol = explode(array((0 until numTables).map { t =>
      struct(Seq(lit(t).as("table_id"), col(s"bk$t").as("bucket")) ++
        (0 until nWords).flatMap(j => Seq(
          wordCols(j).bitwiseAND(lit(maskConst(j, t))).as(s"pw$j"),
          lit(maskConst(j, t)).as(s"mk$j"))): _*)
    }: _*))
    val banded = corpus
      .select((col("vec_id") +: bkCols): _*)
      .withColumn("tb", tbCol)
      .select(Seq(col("vec_id"), col("tb.table_id"), col("tb.bucket")) ++
        (0 until nWords).flatMap(j =>
          Seq(col(s"tb.pw$j"), col(s"tb.mk$j"))): _*)
      .localCheckpoint()
    // collision in an EARLIER table == some prefix field of some word
    // zeroes out under XOR; field masks are literals, everything codegen
    val earlierCollision = (0 until nWords).flatMap { j =>
      val y = col(s"a.pw$j").bitwiseXOR(col(s"b.pw$j"))
        .bitwiseOR(bitwise_not(col(s"a.mk$j")))
      (0 until math.min(fieldsPerWord, numTables - j * fieldsPerWord))
        .map { f =>
          val fieldMask = ((1L << bBits) - 1) << (f * bBits)
          y.bitwiseAND(lit(fieldMask)) === lit(0L)
        }
    }.reduce(_ || _)
    // EXPLICIT repartition by the join key with a pinned partition
    // count (the q_triangles lesson, re-measured here r16): the skinny
    // banded rows are only a few MB, so AQE would coalesce the
    // self-join's exchanges to ~1 partition and run the O(Σ|bucket|²)
    // collision enumeration single-threaded (measured 3.2 s vs 1.1 s at
    // sf0.1). The pinned N keeps it at full parallelism, and the
    // self-join reuses the ONE exchange for both sides.
    val nPart = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val byBucket = banded.repartition(nPart, col("table_id"), col("bucket"))
    // SHUFFLE_HASH (r8, re-affirmed on the skinny rows): skips the
    // per-partition sort; per-bucket hash maps stay bounded as long as
    // r keeps buckets bounded (the same condition LSH already needs),
    // and AQE's skew-split handles hot buckets for SHJ as for SMJ.
    val cand = byBucket.as("a").hint("SHUFFLE_HASH")
      .join(byBucket.as("b").hint("SHUFFLE_HASH"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(!earlierCollision)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    // the attach side deliberately re-reads the (column-pruned) corpus
    // per side rather than checkpointing it — guide §8.4 step 4; the
    // scan is the cheap part, the exchange is what the shape removes
    val emb = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("va"),
        col("nrm").as("na")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"),
        col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("score"))
      // first-collision dedup makes each (a_id, b_id) unique already,
      // so the old post-filter `.distinct()` would dedupe nothing —
      // dropped with its exchange; the score is deterministic per pair
      // (same left-to-right dot fold), so the surviving SET is
      // identical to the score-per-collision-then-distinct shape.
      .filter(col("score") >= threshold)
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed — no
    * wall-clock or nondeterministic randomness anywhere).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    * product). Vectors in the same bucket are likely-similar; the
    * 100 TB path pre-partitions the corpus by bucket so probes touch
    * only matching buckets.
    */
  def lshBucket(vec: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(p.map(lit)): _*)
      when(dot(vec, planeLit) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k via MULTI-TABLE sign-LSH (the FAISS/classic-LSH design):
    * L independent tables of r hyperplanes each; a vector lands in one
    * r-bit bucket per table, and a query scans only its own bucket in
    * each table. Union over tables drives recall: with per-bit
    * collision prob p = 1 − θ/π, recall ≈ 1 − (1 − pʳ)ᴸ — tunable
    * without touching the data layout (raise L for recall, raise r for
    * speed). At 100 TB the (table_id, bucket) pair is the partition
    * key, so a probe touches L partitions instead of the corpus.
    *
    * Approximate — recall vs `topKCosine` asserted in SimilaritySpec.
    * Defaults (L=12, r=3) are tuned to a ≥0.9 recall@10 target on
    * random 64-dim vectors — the hardest case (neighbors barely closer
    * than noise): measured 0.93-0.94 at both test scales, vs ~0.55 for
    * the old (6, 4). The r6 verdict's point stands as the design rule:
    * recall rides on L (linear cost), candidate volume on r (each
    * +1 bit halves bucket occupancy) — at larger corpus scale raise r
    * and L together so per-bucket candidate counts stay bounded while
    * the recall product 1 − (1 − pʳ)ᴸ holds.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numTables: Int = 12, planesPerTable: Int = 3, dim: Int = 64): DataFrame = {
    val tables = (0 until numTables).map(t =>
      hyperplanes(planesPerTable, dim, seed = 42L + t))
    def bucketsFor(vec: Column): Column = array(tables.zipWithIndex.map {
      case (planes, t) =>
        struct(lit(t).as("table_id"), lshBucket(vec, planes).as("bucket"))
    }: _*)
    val bucketed = corpus
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("tb", explode(bucketsFor(col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("tb.table_id"), col("tb.bucket"))
    val probes = queries
      .withColumn("qnrm", norm(col("query_vec")))
      .withColumn("tb", explode(bucketsFor(col("query_vec"))))
      .select(col("query_id"), col("query_vec"), col("qnrm"),
        col("tb.table_id"), col("tb.bucket"))
    val scored = bucketed.as("c")
      .join(broadcast(probes.as("q")),
        col("q.table_id") === col("c.table_id") &&
          col("q.bucket") === col("c.bucket") &&
          col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        (dot(col("q.query_vec"), col("c.embedding")) /
          (col("q.qnrm") * col("c.nrm"))).as("score"))
      .distinct() // a pair may collide in several tables
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) index: assign every vector to its nearest of
    * `centroids` (a tiny broadcast table) by cosine, search
    * only the `nprobe` nearest cells per query. Centroids come from
    * [[Clustering.lloyd]] (or its seeds, [[Clustering.seedCentroids]]) —
    * at real scale you'd train offline and persist the cell assignment
    * as a partition key. The search and its contract are
    * [[Clustering.withCells]]' (so `vec_id` must be unique); null
    * vectors are dropped.
    */
  def ivfAssign(vecs: DataFrame, vecCol: String, centroids: DataFrame): DataFrame = {
    val passthrough = vecs.columns.filter(c => c != "vec_id" && c != vecCol)
    Clustering.nearestRows(vecs.filter(col(vecCol).isNotNull), centroids,
        cellDistance(col(vecCol), norm(col(vecCol))))
      .select(col("vec_id") +: col("m.cell_id").as("cell_id") +:
        (vecCol +: passthrough.toSeq).map(col): _*)
  }

  /** The IVF cell metric shared by assignment and probing: the negated
    * cosine of `v` (whose norm is `vNorm`) and a centroid.
    */
  private def cellDistance(v: Column, vNorm: Column): Column => Column =
    c => -dot(v, c) / (vNorm * norm(c))

  /** IVF top-k search: Lloyd-trained cells (k-means is what makes IVF
    * an index rather than a partition guess), each query probing only
    * its `nprobe` nearest cells. At scale the corpus is written
    * partitioned by cell_id, so a probe reads nprobe partitions
    * instead of the corpus; recall/cost is tuned by (cells, nprobe)
    * with no data movement. Approximate — recall vs [[topKCosine]]
    * asserted in SimilaritySpec.
    *
    * Centroid training ([[Clustering.lloyd]]) collects the ≤cells-row
    * centroid set to the driver per iteration (the k-means reduce —
    * see lloyd's scaladoc, r15), so the trained frame is a literal:
    * the corpus assignment and the probe ranking both broadcast it
    * with no recompute and no caller-side materialization — the old
    * materialize hook (per-iteration localCheckpoint, r7-r14) is gone
    * because the recompute hazard it guarded against is structurally
    * impossible now.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, cells: Int,
      nprobe: Int, centroids: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells, "need 1 <= nprobe <= cells")
    val (cents, indexed) = ivfIndex(corpus, cells, centroids)
    ivfProbe(cents, indexed, queries, k, nprobe)
  }

  /** The TRAIN half of the IVF train→serve split (round 15 — the
    * q_dedup_incremental / bigram-LM / BPE symmetry): Lloyd-trained
    * centroids plus the corpus assigned to them, as two plain frames —
    * `centroids` (cell_id, centroid) and `postings` (vec_id, cell_id,
    * embedding, nrm, …passthrough). Both are persistable
    * ([[writeIvfIndex]]/[[readIvfIndex]]); [[ivfProbe]] serves top-k
    * from them without ever touching corpus×corpus — and
    * [[ivfTopK]] IS ivfProbe∘ivfIndex, so the served answer equals the
    * one-shot answer by construction (round-trip parity pinned in
    * SimilaritySpec; every value involved — float vectors, long ids,
    * double norms — round-trips parquet bit-exactly).
    */
  def ivfIndex(corpus: DataFrame, cells: Int,
      centroids: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val cents = centroids.getOrElse(
      Clustering.lloyd(corpus, cells, iters = 2))
    val indexed = ivfAssign(
      corpus.withColumn("nrm", norm(col("embedding"))), "embedding", cents)
    (cents, indexed)
  }

  /** Persist a fitted IVF index: `dir/centroids` (k rows, one file) +
    * `dir/postings` partitioned by cell_id — the serve-side layout
    * where a probe's nprobe cells map to directory prunes. At 100 TB
    * write postings with `.bucketBy(nCells, "cell_id")` into a catalog
    * table instead (DEPLOY.md "Persisted IVF index") so each cell is a
    * bounded file set and probes schedule shuffle-free.
    */
  def writeIvfIndex(centroids: DataFrame, postings: DataFrame,
      dir: String): Unit = {
    centroids.coalesce(1).write.mode("overwrite")
      .option("compression", "snappy").parquet(s"$dir/centroids")
    postings.write.mode("overwrite").partitionBy("cell_id")
      .option("compression", "snappy").parquet(s"$dir/postings")
  }

  /** Load a persisted IVF index for serving. Postings cell_id is
    * NORMALIZED to long on read: the partition-directory round trip
    * re-infers the type, and callers may pass centroids with a long
    * `cell_id` where seedCentroids/lloyd emit int — a fixed long
    * makes the reloaded index's join key independent of both, and the
    * probe side aligns by implicit cast (the parity pin in
    * SimilaritySpec holds score-bit-exact either way).
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val posts = spark.read.parquet(s"$dir/postings")
      .withColumn("cell_id", col("cell_id").cast("long"))
    (cents, posts)
  }

  /** The SERVE half: top-k cosine over a fitted index — each query
    * ranks the `nprobe` nearest cells against the (tiny, broadcast)
    * centroid frame by [[ivfAssign]]'s metric and search, then scores
    * ONLY the postings of those cells.
    * Never corpus×corpus, never a corpus shuffle: the postings scan is
    * the only big input and the probe side broadcasts. Incremental
    * corpus growth appends rows to `postings` via [[ivfAssign]] with
    * the FROZEN centroids (the standard IVF serve contract — re-train
    * when drift warrants, not per batch).
    */
  def ivfProbe(centroids: DataFrame, postings: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    val probes = Clustering.withCells(
        queries.withColumn("qnrm", norm(col("query_vec"))), centroids)
      .select(col("query_id"), col("query_vec"), col("qnrm"),
        explode(Clustering.nearestN(col("cells"),
          cellDistance(col("query_vec"), col("qnrm")), nprobe)).as("p"))
      .select(col("query_id"), col("query_vec"), col("qnrm"),
        col("p.cell_id").as("cell_id"))
    val scored = postings.as("c")
      .join(broadcast(probes.as("q")),
        col("q.cell_id") === col("c.cell_id") &&
          col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        (dot(col("q.query_vec"), col("c.embedding")) /
          (col("q.qnrm") * col("c.nrm"))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-label centroid of an embedding column: positional explode
    * (map-side, ×dim rows) then ONE (label, dim)-keyed aggregation —
    * partial aggregation combines map-side, so the shuffle carries at
    * most labels × dim rows per map partition regardless of corpus
    * size. Each float is rounded to the 9th decimal digit and summed
    * as DECIMAL(18,9), making the sum — unlike a double sum —
    * order-independent. The rounding is `bround` (half-to-even)
    * because ties at digit 9 are COMMON in float32 data (any dyadic
    * like 153·2⁻¹⁰ = 0.1494140625 ends in an exact trailing 5) and
    * the engines' decimal casts disagree on them: Spark's rounds
    * half-up, DuckDB's half-to-even (measured on that very value at
    * sf0.1). Banker's rounding first makes the later exact decimal
    * cast tie-free on both sides.
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    Clustering.dimMeans(embeddings, col(labelCol).as("label"), vecCol)

  /** SemDeDup (Abbas et al. 2023): semantic near-dup pairs = cluster
    * the embedding space, then compare only WITHIN each cell — the
    * k-means twin of LSH bucketing, preferable when an index/centroid
    * set already exists or when buckets should follow data geometry
    * rather than random hyperplanes. Cost is Σ|cell|² instead of n²;
    * at 100 TB pick cells ≈ n/1000 and the cell id becomes the
    * partition key (exactly like the LSH bucket). The exact-cosine
    * filter keeps precision 1; recall is bounded by both ends of a
    * pair landing in one cell (SimilaritySpec measures it vs the
    * exact baseline).
    */
  def semDedupPairs(embeddings: DataFrame, cells: Int,
      threshold: Double): DataFrame = {
    val assigned = Clustering
      .assign(embeddings, Clustering.seedCentroids(embeddings, cells))
      .withColumn("nrm", norm(col("embedding")))
    // SHUFFLE_HASH for the same reason as the LSH self-join: sorting
    // embedding-laden rows dominates SMJ; per-cell hash maps stay
    // bounded as long as cells bound membership (which SemDeDup
    // already requires). Deliberately NOT the skinny-attach shape
    // cosineNearDupPairsLsh moved to in r16: one vector has exactly
    // ONE cell, so each embedding already moves ONCE per side here,
    // while SemDeDup's cells are fat by design (Σ|cell|² candidate
    // pairs ≫ corpus rows) — deferring the embeddings onto the pair
    // stream was measured +50% locally and moves MORE bytes at scale.
    assigned.as("a").hint("SHUFFLE_HASH")
      .join(assigned.as("b").hint("SHUFFLE_HASH"),
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * footprint cut (and 4× scan-rate win) serving-side vector stores
    * take before ANN. Per-vector scale = max|v|/127; code points are
    * `floor(v/scale + 0.5)` — floor is exact in every IEEE engine, so
    * unlike round() (whose half-way tie rule varies) the code points
    * are bit-reproducible across engines. Zero vectors quantize to
    * all-zero with scale 0. Pure per-row array math, no shuffle.
    */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val scale =
      array_max(transform(vec, v => abs(v.cast("double")))) / 127.0
    val codes = when(scale === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec, v =>
        greatest(lit(-127), least(lit(127),
          floor(v.cast("double") / scale + 0.5))).cast("int")))
    (scale, codes)
  }

  /** k-NN label prediction: the exact top-k cosine neighbors of each
    * query vote; majority label wins, ties break toward the smaller
    * label. All heavy lifting is [[topKCosine]]'s single broadcast
    * corpus scan — the vote itself aggregates only queries × k rows.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val nbrs = topKCosine(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    // nbrs is queries × k rows — provably bounded — while the label
    // table is corpus-sized: broadcast EXPLICITLY (r16) so the label
    // attach never shuffles the corpus on a size-estimate flip
    val votes = broadcast(nbrs)
      .join(corpus.select(col("vec_id"), col(labelCol)), "vec_id")
      .groupBy(col("query_id"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col(labelCol))
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("query_id"), col(labelCol).as("pred_label"), col("votes"))
  }
}
