package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath.l2sqF

/** Product quantization (Jégou, Douze, Schmid: "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the code-compression
  * half of a FAISS-style index family, next to IVF
  * ([[Similarity.ivfIndex]]) and scalar int8
  * ([[Similarity.quantizeInt8]]): split the d-dim space into m
  * subspaces of d/m dims, quantize each subvector to one of k
  * per-subspace centroids, and a vector becomes m small codes
  * (m=8, k=16 ⇒ 8 nibbles = 4 bytes per 64-dim float vector — 64×
  * smaller).
  *
  * Scale shape: training is m independent tiny k-means runs (sample
  * the corpus at 100 TB — the codebook is m·k·(d/m) = k·d floats
  * regardless of corpus size); encoding is ONE corpus scan with a
  * per-row argmin fold against the broadcast packed codebook (zero
  * shuffle — the [[Clustering.assign]] shape per subspace). Compose
  * with IVF for IVFADC (codes partitioned by cell) — the postings
  * layout stays [[Similarity.writeIvfIndex]]'s.
  *
  * Determinism: seeds and Lloyd steps are the deterministic
  * [[Clustering]] machinery, the argmin tie-breaks to the smaller
  * code (lexicographic struct min), so codes are a pure function of
  * the corpus SET — digest-pinnable at the gate (q_embed_pq).
  */
object Pq {

  /** Train an (m × k) codebook: per subspace, k-means from
    * deterministic seeds over the sliced subvectors. Returns
    * (subspace, cell_id, centroid) rows — m·k of them, a driver-tiny
    * literal frame whatever the corpus size. `m · dsub` must equal the
    * width of every seed vector (else it fails before any training job).
    * EAGER AT CALL TIME: the seed collect and, per iteration, the
    * codebook broadcast and one corpus scan run when CALLED.
    *
    * Semantics are EXACTLY m independent [[Clustering.lloyd]] runs
    * (same seeds: the first k vectors by id, sliced; same argmin
    * tie-break; the same decimal means, [[Clustering.meansByKey]] keyed
    * by (subspace, cell); same keep-previous empty-cell fallback) — but
    * executed as ONE corpus scan per iteration for ALL subspaces, where
    * m runs would scan the corpus m times. The driver holds the m·k·dsub
    * codebook floats and, during a scan, about √P + 1 partial sum sets
    * of that size for P scan partitions. PqSpec pins equality against
    * the per-subspace lloyd reference.
    */
  def train(corpus: DataFrame, m: Int, dsub: Int, k: Int, iters: Int = 1): DataFrame = {
    require(m >= 1 && dsub >= 1 && k >= 2, s"bad PQ shape m=$m dsub=$dsub k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // seeds: the first k vectors by id, sliced per subspace — identical
    // to seedCentroids over each sliced corpus; k·d floats, driver-tiny
    val seedVecs = corpus.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).as[Seq[java.lang.Float]].collect()
    require(seedVecs.length >= 2, s"PQ needs >= 2 vectors, got ${seedVecs.length}")
    val widths = seedVecs.map(_.length).distinct.sorted
    require(widths.sameElements(Array(m * dsub)), s"PQ shape m=$m × dsub=$dsub = " +
      s"${m * dsub} must equal the embedding width, got width(s) ${widths.mkString(", ")}")
    val cells = seedVecs.length
    var cb = for (j <- 0 until m; c <- 0 until cells) yield
      (j, c, seedVecs(c).slice(j * dsub, (j + 1) * dsub).toArray)
    def asFrame: DataFrame = cb.toDF("subspace", "cell_id", "centroid").coalesce(1)
    for (_ <- 0 until iters) {
      // one scan: assign every subvector (the encode fold) and fold the
      // new means keyed by (subspace, cell)
      val next = Clustering.meansByKey(encode(corpus, asFrame, m, dsub)
        .select(posexplode(col("codes")).as(Seq("subspace", "cell_id")),
          col("embedding"))
        .select((col("subspace") * cells + col("cell_id")).as("key"),
          slice(col("embedding"), col("subspace") * dsub + 1, lit(dsub)).as("v")),
        m * cells)
      cb = cb.map { case (j, c, prev) => (j, c, next.getOrElse(j * cells + c, prev)) }
    }
    asFrame
  }

  /** The codebook collapsed to ONE broadcastable row:
    * cb = array of (subspace, cell_id, centroid) structs, sorted — the
    * packed-centroid pattern of [[Clustering.assign]] lifted to m
    * subspaces. */
  private def packed(codebook: DataFrame): DataFrame =
    codebook
      .agg(sort_array(collect_list(struct(col("subspace"), col("cell_id"),
        col("centroid")))).as("cb"))

  /** Per-subspace argmin of l2 distance between a subvector slice and
    * that subspace's centroids — lexicographic struct min, ties to the
    * smaller cell_id (exactly [[Clustering.assign]]'s contract).
    */
  private def codeFor(vec: Column, cb: Column, j: Column, dsub: Int): Column =
    array_min(transform(
      filter(cb, c => c.getField("subspace") === j &&
        c.getField("centroid").isNotNull),
      c => struct(
        l2sqF(slice(vec, j * lit(dsub) + 1, lit(dsub)),
          c.getField("centroid")).as("d2"),
        c.getField("cell_id").as("cell_id")))).getField("cell_id")

  /** Encode the corpus: appends `codes` (array<int>, length m) — one
    * scan, zero shuffle, the codebook rides as one broadcast row.
    */
  def encode(corpus: DataFrame, codebook: DataFrame, m: Int,
      dsub: Int): DataFrame =
    corpus
      .crossJoin(broadcast(packed(codebook)))
      .withColumn("codes",
        transform(sequence(lit(0), lit(m - 1)),
          j => codeFor(col("embedding"), col("cb"), j, dsub).cast("int")))
      .drop("cb")
}
