package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath.dotF

/** Principal-component analysis over an embedding column — the
  * dimensionality-reduction step of a training-data pipeline (whitening
  * before clustering / semantic dedup, compaction before ANN indexing).
  * No reference implementation (north star, SURVEY.md §2.9).
  *
  * Scale shape — the part that matters at 100 TB: `fit` is ONE corpus
  * pass through a typed [[Aggregator]] whose buffer is the d-dim mean
  * sum plus the packed upper-triangular d×d second-moment (Gram)
  * matrix — 2 080 doubles at d = 64, merged associatively, so the only
  * cross-partition traffic is one ~17 KB buffer per partition (the
  * MLlib RowMatrix.computeCovariance / treeAggregate shape re-expressed
  * on the Dataset API; cf. SURVEY §2.11 — Aggregator is the sanctioned
  * escape hatch when per-row work is a d²-FMA update no built-in
  * expresses). The eigen-solve is a driver-side Jacobi on the d×d
  * covariance — O(d³) with d = 64, microseconds, never distributed.
  * `project` is a pure map: components broadcast as array literals,
  * each coordinate one codegen'd `dot_f32` against the row vector minus
  * a precomputed scalar (v−μ)·c = v·c − μ·c — no per-row centering
  * array is ever built, no shuffle at all.
  *
  * Determinism: the Gram sums are IEEE doubles, so the last bits vary
  * with partition order — PcaSpec pins the model's *invariants*
  * (orthonormality, eigenvalue order, variance accounting, sign
  * convention) with tolerances, and the registered query is rows-only
  * at the driver gate (same class as ANN/IVF).
  */
object Pca {

  /** n, Σv (d), and upper-triangular Σ v vᵀ packed row-major:
    * gram(idx(i,j)) = Σ v(i)·v(j) for i ≤ j, idx = i·d − i(i−1)/2 + (j−i).
    */
  final case class Moments(var n: Long, sum: Array[Double],
      gram: Array[Double])

  /** One-pass moment accumulation; buffers mutate in place (each
    * partial lives as a deserialized object under ObjectHashAggregate).
    */
  final class MomentsAgg(d: Int)
      extends Aggregator[Array[Float], Moments, Moments] {
    private def empty = Moments(0L, new Array[Double](d),
      new Array[Double](d * (d + 1) / 2))
    override def zero: Moments = empty
    override def reduce(b: Moments, v: Array[Float]): Moments = {
      require(v.length == d, s"expected dim $d, got ${v.length}")
      var i = 0; var idx = 0
      while (i < d) {
        val vi = v(i).toDouble
        b.sum(i) += vi
        var j = i
        while (j < d) { b.gram(idx) += vi * v(j).toDouble; idx += 1; j += 1 }
        i += 1
      }
      b.n += 1
      b
    }
    override def merge(x: Moments, y: Moments): Moments = {
      var i = 0
      while (i < d) { x.sum(i) += y.sum(i); i += 1 }
      i = 0
      while (i < x.gram.length) { x.gram(i) += y.gram(i); i += 1 }
      x.n += y.n
      x
    }
    override def finish(r: Moments): Moments = r
    // product encoders, NOT Encoders.kryo: Moments is a plain case
    // class, and the Kryo path breaks in minimal-classpath launchers
    // (FieldSerializer cannot handle the HeapByteBuffer Kryo wraps
    // rows in — observed under bare `java -cp` Verify runs); the
    // product encoder serializes to InternalRow, works everywhere,
    // and skips Kryo's object-graph walk on every exchange
    override def bufferEncoder: Encoder[Moments] = Encoders.product[Moments]
    override def outputEncoder: Encoder[Moments] = Encoders.product[Moments]
  }

  /** Mean, top-k components (rows, orthonormal, eigenvalue-descending,
    * sign-fixed: largest-|coord| entry positive), their eigenvalues,
    * and the total variance (covariance trace) for explained-variance
    * ratios.
    */
  final case class Model(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double],
      totalVariance: Double)

  /** One corpus pass → covariance → driver Jacobi → top-k model. */
  def fit(corpus: DataFrame, vecCol: String, k: Int, dim: Int): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = corpus.select(col(vecCol)).as[Array[Float]]
      .select(new MomentsAgg(dim).toColumn).head()
    require(m.n > 1, s"PCA needs at least 2 rows, got ${m.n}")
    val d = dim
    val mean = m.sum.map(_ / m.n)
    // covariance C(i,j) = gram(i,j)/n − mean(i)·mean(j)
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val c = m.gram(idx) / m.n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
      idx += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i)).take(k)
    val comps = order.map { ei =>
      val v = Array.tabulate(d)(r => evecs(r)(ei))
      // sign convention: the largest-|coord| entry is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(x => -x) else v
    }.toArray
    Model(mean, comps, order.map(evals).toArray,
      (0 until d).map(i => cov(i)(i)).sum)
  }

  /** Appends `projCol`: array<double> of length k, coordinate j =
    * (v − μ)·c_j computed as dot_f32(v, c_j) − μ·c_j (components are
    * float-cast for the codegen'd dot; ~1e-7 relative error, recorded
    * in PcaSpec's tolerances). Pure map-side — zero shuffle.
    */
  def project(df: DataFrame, vecCol: String, model: Model,
      projCol: String = "proj"): DataFrame = {
    val coords: Seq[Column] = model.components.map { c =>
      val cf = c.map(_.toFloat)
      val muDotC = model.mean.zip(c).map { case (a, b) => a * b }.sum
      dotF(col(vecCol), lit(cf)) - lit(muDotC)
    }.toSeq
    df.withColumn(projCol, array(coords: _*))
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-columns). O(d³) per sweep, converges
    * quadratically; off(A) < 1e-12·‖A‖ in ≲ 10 sweeps at d = 64.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val norm = math.sqrt(a0.map(r => r.map(x => x * x).sum).sum)
    val tol = 1e-14 * math.max(norm, 1e-300)
    var sweep = 0
    var off = Double.MaxValue
    while (off > tol && sweep < 64) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > tol) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          // Rutishauser: t = sign(θ)/(|θ|+√(θ²+1)); θ=0 → t=1
          val tAbs = 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val t = if (theta < 0) -tAbs else tAbs
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (j <- 0 until d) {
            val apj = a(p)(j); val aqj = a(q)(j)
            a(p)(j) = c * apj - s * aqj
            a(q)(j) = s * apj + c * aqj
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
