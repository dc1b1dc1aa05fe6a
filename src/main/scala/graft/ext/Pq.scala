package graft.ext

import org.apache.spark.sql.DataFrame
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
  * per-row nearest-centroid search per subspace against the broadcast
  * packed codebook (zero shuffle). Compose
  * with IVF for IVFADC (codes partitioned by cell) — the postings
  * layout stays [[Similarity.writeIvfIndex]]'s.
  *
  * Determinism: seeds and Lloyd steps are the deterministic
  * [[Clustering]] machinery, the search breaks ties toward the smaller
  * code, so codes are a pure function of
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

  /** Encode the corpus: appends `codes` (array<int>, length m) — one
    * scan, zero shuffle. Per subspace, the code is the nearest of that
    * subspace's centroids to the subvector slice by l2 distance:
    * [[Clustering.withCells]]' search and contract among the packed
    * codebook's cells of that subspace.
    */
  def encode(corpus: DataFrame, codebook: DataFrame, m: Int,
      dsub: Int): DataFrame =
    Clustering.withCells(corpus, codebook)
      .withColumn("codes",
        transform(sequence(lit(0), lit(m - 1)), j =>
          Clustering.nearest(col("cells"),
            c => l2sqF(slice(col("embedding"), j * lit(dsub) + 1, lit(dsub)), c),
            among = _.getField("subspace") === j)
            .getField("cell_id").cast("int")))
      .drop("cells")
}
