package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal
import graft.functions.ArrayMath.l2sqF

/** DataFrame-native k-means (Lloyd's algorithm) over an embedding
  * column — the training step behind a real IVF index (the reference's
  * similarity surface stops at search; clustering is what makes the
  * cell layout principled rather than "first k vectors").
  *
  * Scale shape per iteration: centroids are k·dim floats — one broadcast
  * row, never a shuffle key. Assignment is ONE corpus scan: the k
  * distances per vector run through the codegen'd `l2sq_f32` expression
  * against the broadcast centroids and the argmin folds per row, so the
  * scan shuffles nothing. The recompute rides the same scan
  * ([[meansByKey]]): each partition folds exact per-(cell, dim) decimal
  * sums and counts, a tree merge brings them to the driver, and the
  * driver divides — [[centroidStats]]' decimal mean bit for bit
  * (order-independent, so stable under any partitioning). [[lloyd]]
  * keeps the ≤k-row centroid set on the driver between iterations and
  * broadcasts it back as a literal frame, so training lineage never
  * grows and nothing recomputes per broadcast.
  */
object Clustering {

  /** Deterministic seeds: the first k corpus vectors by id (k-means∥
    * style sampling adds nothing on synthetic uniform data and would
    * cost determinism; at real scale swap the seed set, not the loop).
    */
  def seedCentroids(corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(k)
      .select(
        (row_number().over(Window.orderBy(col(idCol))) - 1).as("cell_id"),
        col(vecCol).as("centroid"))

  /** Nearest-centroid assignment: (idCol, cell_id, d2, vecCol), d2 the
    * squared l2 distance. The search and its contract are
    * [[withCells]]' (so `idCol` must be unique in `vecs`); an empty or
    * all-null centroid set yields no rows.
    */
  def assign(vecs: DataFrame, centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    nearestRows(vecs.select(col(idCol), col(vecCol)), centroids,
        c => l2sqF(col(vecCol), c))
      .select(col(idCol), col("m.cell_id").as("cell_id"),
        col("m.d").as("d2"), col(vecCol))

  /** Nearest-centroid search, the one kernel behind [[assign]],
    * [[Similarity.ivfAssign]], [[Similarity.ivfProbe]]'s cell ranking
    * and [[Pq.encode]]. Every column of `centroids` — at least `cell_id`
    * and `centroid` — packs into ONE sorted struct array, `cells`,
    * crossed onto `frame` as a broadcast row, so the search runs per
    * row map-side and shuffles nothing (the groupBy-min(struct) form it
    * replaced exchanged one row per vector, a corpus-wide shuffle per
    * Lloyd iteration at 100 TB; the distance lambda is interpreted, a
    * per-row constant factor traded for that shuffle).
    *
    * Contract, for every caller: a cell whose centroid is null is
    * skipped (struct order puts nulls first, so it would otherwise win);
    * cells rank by the lexicographic `(d, cell_id)` struct order, so
    * ties go to the smaller `cell_id`; and there is one output row per
    * input row. Nothing deduplicates the input — enforcing a unique id
    * would cost the exchange this shape avoids — so callers with
    * non-unique ids must dropDuplicates first. [[nearest]] and
    * [[nearestN]] search a row's `cells` by the caller's distance;
    * `among` narrows the candidates (Pq: one subspace's cells).
    */
  private[graft] def withCells(frame: DataFrame, centroids: DataFrame): DataFrame =
    frame.crossJoin(broadcast(centroids.agg(
      sort_array(collect_list(struct(centroids.columns.toSeq.map(col): _*))).as("cells"))))

  /** `(d, cell_id)` of each non-null centroid in `cells` that `among`
    * keeps, d = `dist(centroid)`.
    */
  private def scored(cells: Column, dist: Column => Column,
      among: Column => Column = _ => lit(true)): Column =
    transform(filter(cells, c => among(c) && c.getField("centroid").isNotNull),
      c => struct(dist(c.getField("centroid")).as("d"), c.getField("cell_id").as("cell_id")))

  /** The nearest cell of `cells` (of those `among` keeps) as a
    * `(d, cell_id)` struct; null if none.
    */
  private[graft] def nearest(cells: Column, dist: Column => Column,
      among: Column => Column = _ => lit(true)): Column =
    array_min(scored(cells, dist, among))

  /** The `n` nearest cells of `cells`, nearest first. */
  private[graft] def nearestN(cells: Column, dist: Column => Column, n: Int): Column =
    slice(array_sort(scored(cells, dist)), 1, n)

  /** `frame` with its nearest cell as the struct column `m` (and the
    * packed `cells`); rows with no non-null centroid to go to are
    * dropped, as the inner join of the first formulation did.
    */
  private[graft] def nearestRows(frame: DataFrame, centroids: DataFrame,
      dist: Column => Column): DataFrame =
    withCells(frame, centroids)
      .withColumn("m", nearest(col("cells"), dist))
      .filter(col("m.cell_id").isNotNull)

  /** Per-(cell, dim) mean of the assigned vectors, decimal-summed for
    * order-independence: (cell_id, dim, n, centroid). This long form is
    * the oracle-checkable surface (`q_kmeans_step`); [[lloyd]] computes
    * the same means, cast to float, with [[meansByKey]].
    */
  def centroidStats(assigned: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    dimMeans(assigned, col("cell_id"), vecCol)

  /** (key, dim, n, centroid): per key and dim, the mean of the 9th-digit
    * `bround`ed values summed as DECIMAL(18,9) — exact, so the same
    * under any partitioning — over the row count `n` (a null element
    * counts toward n). [[Similarity.labelCentroids]] says why `bround`.
    */
  private[graft] def dimMeans(frame: DataFrame, key: Column,
      vecCol: String): DataFrame = {
    val exploded = frame.select(key, posexplode(col(vecCol)).as(Seq("dim", "v")))
    exploded.groupBy(col(exploded.columns.head), col("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(bround(col("v").cast("double"), 9).cast("decimal(18,9)"))
          .cast("double") / count(lit(1))).as("centroid"))
  }

  /** `iters` Lloyd iterations from the deterministic seeds. A cell that
    * loses every member keeps its previous centroid (standard empty-
    * cluster fallback — dropping it would shrink k mid-run).
    *
    * EAGER AT CALL TIME: this runs at most 1 + 2·iters Spark jobs when
    * CALLED — before any action on the returned frame — and so do
    * [[Similarity.ivfIndex]] / [[Similarity.ivfTopK]], which call it
    * during construction. Don't construct speculatively; training
    * failures surface here, not at the first downstream action. The
    * returned frame itself is a driver-local literal (LocalTableScan)
    * and costs nothing to reuse.
    *
    * The jobs are one seed collect (≤k rows), then per iteration the
    * broadcast of the packed ≤k-row literal and ONE corpus scan that
    * assigns every vector and folds the new means ([[meansByKey]]). The
    * driver holds the ≤k centroids and, while a scan runs, about √P + 1
    * partial sum sets of k·dim cells each for P scan partitions. Values
    * are [[centroidStats]]' decimal means cast to float, with
    * [[assign]]'s argmin tie-break and the keep-previous fallback
    * (ClusteringSpec pins the fold against the centroidStats path,
    * PqSpec pins per-subspace equality, and the IVF digests are pinned).
    */
  def lloyd(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cur: Seq[(Int, Array[java.lang.Float])] =
      seedCentroids(corpus, k, idCol, vecCol)
        .as[(Int, Array[java.lang.Float])].collect().toSeq // bounded: ≤ k rows
    // one partition: the packed broadcast row then aggregates in the
    // broadcast's own job, with no exchange
    def asFrame: DataFrame = cur.toDF("cell_id", "centroid").coalesce(1)
    for (_ <- 0 until iters if cur.nonEmpty) {
      val next = meansByKey(assign(corpus, asFrame, idCol, vecCol)
        .select(col("cell_id").as("key"), col(vecCol).as("v")), cur.size)
      cur = cur.map { case (c, prev) => (c, next.getOrElse(c, prev)) }
    }
    asFrame
  }

  /** Per-key mean vector of `keyed`'s `(key: int, v: array<float>)` rows
    * for keys in `[0, keys)`, in ONE Spark job: per (key, dim) it equals
    * [[centroidStats]]' `sum(bround(v, 9) as decimal(18,9)) as double /
    * count`, cast to float. Spark rounds each element (`bround` and the
    * decimal cast, so ties at the 9th digit and out-of-range values
    * behave as in SQL); each partition sums the unscaled decimals
    * exactly, and `treeAggregate` merges the partials with fan-in about
    * √P. A key with no element is absent, a null array adds nothing,
    * and a null element counts toward its dim's divisor but not its sum,
    * as `posexplode` with `count(lit(1))` does; a dim with no non-null
    * value has a null mean.
    */
  private[graft] def meansByKey(keyed: DataFrame,
      keys: Int): Map[Int, Array[java.lang.Float]] =
    keyed.select(col("key"), transform(col("v"),
        x => bround(x.cast("double"), 9).cast("decimal(18,9)")).as("v"))
      .queryExecution.toRdd
      .treeAggregate(new MeanSums(keys))((acc, row) => acc.add(row), _.merge(_))
      .means

  /** The exact sums behind [[meansByKey]]: per (key, dim), the rows seen,
    * the non-null values, and the unscaled decimal(·, 9) sum as a
    * 128-bit two's-complement (hi, lo) pair that no row count overflows.
    */
  private final class MeanSums(keys: Int) extends Serializable {
    private val rows, vals, lo, hi = new Array[Array[Long]](keys)

    def add(row: InternalRow): MeanSums = {
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val key = row.getInt(0)
        val v = row.getArray(1)
        val n = v.numElements()
        if (n > 0) grow(key, n)
        var d = 0
        while (d < n) {
          rows(key)(d) += 1
          if (!v.isNullAt(d)) {
            vals(key)(d) += 1
            val x = v.getDecimal(d, 18, 9).toUnscaledLong
            addTo(key, d, x >> 63, x) // sign-extended to 128 bits
          }
          d += 1
        }
      }
      this
    }

    def merge(o: MeanSums): MeanSums = {
      for (key <- 0 until keys if o.rows(key) != null) {
        grow(key, o.rows(key).length)
        for (d <- o.rows(key).indices) {
          rows(key)(d) += o.rows(key)(d)
          vals(key)(d) += o.vals(key)(d)
          addTo(key, d, o.hi(key)(d), o.lo(key)(d))
        }
      }
      this
    }

    def means: Map[Int, Array[java.lang.Float]] =
      (0 until keys).filter(rows(_) != null).map { key =>
        key -> rows(key).indices.map { d =>
          if (vals(key)(d) == 0L) null
          else {
            val sum = java.math.BigInteger.valueOf(hi(key)(d)).shiftLeft(64)
              .add(java.math.BigInteger.valueOf(lo(key)(d)).and(Low64))
            // SQL's sum of decimal(18,9) is a decimal(28,9)
            if (sum.abs.compareTo(Max28) > 0)
              throw new ArithmeticException(s"decimal(28,9) sum overflow at key $key, dim $d")
            java.lang.Float.valueOf((Decimal(new java.math.BigDecimal(sum, 9)).toDouble /
              rows(key)(d)).toFloat)
          }
        }.toArray
      }.toMap

    private def addTo(key: Int, d: Int, addHi: Long, addLo: Long): Unit = {
      val s = lo(key)(d) + addLo
      val carry = if (java.lang.Long.compareUnsigned(s, addLo) < 0) 1L else 0L
      hi(key)(d) += addHi + carry
      lo(key)(d) = s
    }

    private def grow(key: Int, n: Int): Unit = {
      require(key >= 0 && key < keys, s"key $key outside [0, $keys)")
      if (rows(key) == null || rows(key).length < n)
        Seq(rows, vals, lo, hi).foreach { a =>
          a(key) = if (a(key) == null) new Array[Long](n) else java.util.Arrays.copyOf(a(key), n)
        }
    }
  }

  private val Low64 = java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)
  private val Max28 = java.math.BigInteger.TEN.pow(28).subtract(java.math.BigInteger.ONE)

  /** Total within-cluster squared distance — the monotone objective
    * Lloyd minimizes; ClusteringSpec asserts it never increases across
    * iterations. One scan + a global decimal sum.
    */
  def inertia(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double =
    assign(corpus, centroids, idCol, vecCol)
      .agg(sum(col("d2").cast("decimal(28,9)")).cast("double"))
      .head().getDouble(0)
}
