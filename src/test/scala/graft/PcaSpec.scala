package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Pca

class PcaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("jacobi recovers a known 2x2 eigensystem exactly") {
    // [[2,1],[1,2]] -> eigenvalues 3 (v=[1,1]/√2) and 1 (v=[1,-1]/√2)
    val (evals, evecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val order = evals.indices.sortBy(i => -evals(i))
    assert(math.abs(evals(order(0)) - 3.0) < 1e-12)
    assert(math.abs(evals(order(1)) - 1.0) < 1e-12)
    val v0 = Array(evecs(0)(order(0)), evecs(1)(order(0)))
    assert(math.abs(math.abs(v0(0)) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(v0(0) - v0(1)) < 1e-12) // same sign, equal coords
  }

  test("fit on points along a known line finds that direction first") {
    // 3-dim points spread along (1,2,0)/√5 with tiny noise on dim 2
    val dir = Array(1.0 / math.sqrt(5), 2.0 / math.sqrt(5), 0.0)
    val rows = (0 until 40).map { i =>
      val s = (i - 20).toDouble
      val noise = if (i % 2 == 0) 0.01 else -0.01
      (i.toLong, Array((s * dir(0)).toFloat, (s * dir(1)).toFloat,
        noise.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 3, dim = 3)
    val c0 = m.components(0)
    // first component parallel to dir (sign-fixed: largest coord > 0)
    assert(math.abs(math.abs(dot(c0, dir)) - 1.0) < 1e-4)
    assert(c0(1) > 0) // sign convention: largest-|coord| entry positive
    // eigenvalues descending, non-negative (within fp slack)
    assert(m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(m.eigenvalues.forall(_ > -1e-9))
    // variance accounting: Σ all eigenvalues == trace == totalVariance
    assert(math.abs(m.eigenvalues.sum - m.totalVariance) < 1e-9)
  }

  test("model invariants on the sf0.001 embeddings: orthonormal " +
      "components, per-coordinate projected variance equals eigenvalue") {
    val emb = graft.model.Tables.embeddings(spark, TestSpark.Sf0001)
    val k = 8
    val m = Pca.fit(emb, "embedding", k = k, dim = 64)
    // orthonormality of the top-k rows
    for (i <- 0 until k; j <- i until k) {
      val exp = if (i == j) 1.0 else 0.0
      assert(math.abs(dot(m.components(i), m.components(j)) - exp) < 1e-9,
        s"component pair ($i,$j) not orthonormal")
    }
    // eigenvalue ordering
    assert(m.eigenvalues.sliding(2).forall(p => p(0) >= p(1)))
    // projected data: per-coordinate variance == eigenvalue, and
    // coordinates are uncorrelated (covariance ~ 0). Float-cast dot
    // tolerance dominates (components cast to float in project).
    val proj = Pca.project(emb, "embedding", m)
      .select(col("proj")).as[Seq[Double]].collect()
    val n = proj.length
    for (j <- 0 until k) {
      val xs = proj.map(_(j))
      val mean = xs.sum / n
      val varj = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(varj - m.eigenvalues(j)) <
        1e-4 * math.max(1.0, m.eigenvalues(j)),
        s"coordinate $j variance $varj != eigenvalue ${m.eigenvalues(j)}")
      assert(math.abs(mean) < 1e-4) // centered
    }
    val x0 = proj.map(_(0)); val x1 = proj.map(_(1))
    val cov01 = x0.zip(x1).map { case (a, b) => a * b }.sum / n
    assert(math.abs(cov01) < 1e-3 * math.sqrt(
      m.eigenvalues(0) * m.eigenvalues(1)))
  }

  test("spectrum digest stability is STRUCTURAL, not probabilistic: " +
      "every emitted bround(…,5) value sits ≥ 1e-8 from its rounding " +
      "midpoint while partition-order jitter is ≤ 1e-15 — so the " +
      "q_embed_pca_spectrum pinned constants cannot flip across runs; " +
      "and ALL THREE scales' spectra double-pin the oracle constants " +
      "so fixture drift breaks spec and oracle together") {
    // midpoint distance at the 1e-5 grid (bround scale 5)
    def mid5(x: Double): Double = {
      val s = x * 100000.0
      math.abs((s - math.floor(s)) - 0.5) / 100000.0
    }
    def spectrum(dir: String): (Seq[Double], Seq[Double]) = {
      val emb = graft.model.Tables.embeddings(spark, dir)
      // three partitionings, not two (review r15): 1 and 32 bracket the
      // serial and max-parallel Gram merge orders, 7 is a ragged
      // middle — so the jitter bound is no longer a two-point sample
      val fits = Seq(1, 7, 32).map(p =>
        Pca.fit(emb.repartition(p), "embedding", k = 8, dim = 64))
      val jitter = (0 until 8).map { j =>
        val evs = fits.map(_.eigenvalues(j))
        evs.max - evs.min }.max
      // enforced bounds match the measured ones (review r15; the r14
      // asserts left 10^3 of unused slack while comments claimed the
      // measured 10^8): jitter ≤ 1e-15 (measured ≤ 2e-16 at all three
      // scales), margin ≥ 1e-8 (measured ≥ 2e-8) — a 10^7 structural
      // floor between them, so a pinned constant cannot flip
      assert(jitter <= 1e-15, s"$dir eigenvalue jitter $jitter")
      val m = fits.head
      val evr = m.eigenvalues.map(_ / m.totalVariance).toSeq
      val margin = (m.eigenvalues.toSeq ++ evr).map(mid5).min
      assert(margin >= 1e-8,
        s"$dir bround(…,5) midpoint margin $margin — re-pin the oracle " +
          "constants at a different scale before they can flip")
      def r5(x: Double) =
        BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_EVEN)
          .toDouble
      (m.eigenvalues.map(r5).toSeq, evr.map(r5))
    }
    val (ev1, er1) = spectrum(TestSpark.Sf0001)
    assert(ev1 == Seq(0.02889, 0.02693, 0.02583, 0.02526, 0.02466,
      0.02453, 0.02398, 0.02313), ev1.toString)
    assert(er1 == Seq(0.02894, 0.02697, 0.02587, 0.02531, 0.02470,
      0.02457, 0.02402, 0.02317), er1.toString)
    val (ev2, er2) = spectrum("/root/testdata/sf0.01")
    assert(ev2 == Seq(0.02751, 0.02717, 0.02662, 0.02559, 0.02537,
      0.02508, 0.02394, 0.02317), ev2.toString)
    assert(er2 == Seq(0.02758, 0.02723, 0.02668, 0.02565, 0.02543,
      0.02514, 0.02400, 0.02322), er2.toString)
    // sf0.1 too — the oracle pins ev3/er3 for n=2000, and the largest
    // fixture has the most partitions, i.e. the most ways for the
    // Gram merge order to vary (review r14: margin was unpinned here)
    val (ev3, er3) = spectrum("/root/testdata/sf0.1")
    assert(ev3 == Seq(0.02093, 0.02057, 0.02038, 0.01998, 0.01984,
      0.01964, 0.01923, 0.01910), ev3.toString)
    assert(er3 == Seq(0.02094, 0.02058, 0.02039, 0.01999, 0.01985,
      0.01965, 0.01924, 0.01911), er3.toString)
  }

  test("truncation reconstruction error shrinks as k grows and equals " +
      "the discarded eigenvalue mass") {
    val emb = graft.model.Tables.embeddings(spark, TestSpark.Sf0001)
    val full = Pca.fit(emb, "embedding", k = 64, dim = 64)
    // E[|v−μ|² − Σ_{j<k} proj_j²] == Σ_{j≥k} λ_j (Parseval)
    val proj = Pca.project(emb, "embedding", full)
      .select(col("proj")).as[Seq[Double]].collect()
    val totals = full.eigenvalues.sum
    for (k <- Seq(4, 16, 64)) {
      val kept = proj.map(_.take(k).map(x => x * x).sum).sum / proj.length
      val discarded = full.eigenvalues.drop(k).sum
      assert(math.abs((totals - discarded) - kept) < 1e-3 * totals,
        s"k=$k kept-variance mismatch")
    }
  }
}
