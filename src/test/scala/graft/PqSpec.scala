package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Clustering, Pq}
import graft.model.Tables

/** Product-quantization semantics (Jégou et al. 2011): code shape and
  * determinism, and the reconstruction bound that makes PQ a quantizer
  * rather than a hash.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val M = 8; private val Dsub = 8; private val K = 16
  private lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()
  private lazy val cb = Pq.train(emb, M, Dsub, K)

  test("codebook shape: m×k centroids of dsub dims, every subspace full") {
    val rows = cb.select(col("subspace"), col("cell_id"),
      size(col("centroid"))).as[(Int, Int, Int)].collect()
    assert(rows.length == M * K)
    assert(rows.forall(_._3 == Dsub))
    assert(rows.map(r => (r._1, r._2)).toSet ==
      (for (j <- 0 until M; c <- 0 until K) yield (j, c)).toSet)
  }

  test("one-pass training equals m independent per-subspace lloyd " +
      "runs bit-exactly (the single-scan rewrite changed the schedule, " +
      "not the algorithm)") {
    val ref = (0 until M).map { j =>
      Clustering.lloyd(
          emb.select(col("vec_id"),
            slice(col("embedding"), j * Dsub + 1, Dsub).as("embedding")),
          K, iters = 1)
        .select(lit(j).as("subspace"), col("cell_id"), col("centroid"))
    }.reduce(_.unionByName(_))
      .as[(Int, Int, Seq[Float])].collect()
      .map { case (j, c, v) => ((j, c), v) }.toMap
    val got = cb.as[(Int, Int, Seq[Float])].collect()
      .map { case (j, c, v) => ((j, c), v) }.toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (key, v) =>
      assert(v == ref(key), s"codebook centroid $key diverged") }
  }

  test("codes: length m, values in [0, k), deterministic across " +
      "partitionings (the digest the gate pins is partition-free)") {
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      Pq.encode(df, cb, M, Dsub)
        .select(col("vec_id"), col("codes")).as[(Long, Seq[Int])]
        .collect().toMap
    val base = codesOf(emb)
    assert(base.values.forall(c => c.length == M &&
      c.forall(x => x >= 0 && x < K)))
    assert(codesOf(emb.repartition(7)) == base)
    // and codes genuinely vary (a degenerate constant code table would
    // pass the shape checks while quantizing everything identically)
    assert(base.values.toSet.size > 100)
  }

  test("encode ties break toward the smaller cell_id in every subspace") {
    // subspace 0 ties cells 0 and 1, subspace 1 ties cells 1 and 2 (l2
    // distance 1 each); the third cell of each subspace is far
    val book = Seq(
      (0, 2, Array(5.0f, 5.0f)), (0, 1, Array(1.0f, 1.0f)), (0, 0, Array(1.0f, -1.0f)),
      (1, 2, Array(-1.0f, 1.0f)), (1, 1, Array(1.0f, 1.0f)), (1, 0, Array(9.0f, 9.0f)))
      .toDF("subspace", "cell_id", "centroid")
    val vecs = Seq((10L, Array(1.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val codes = Pq.encode(vecs, book, m = 2, dsub = 2)
      .select(col("codes")).as[Seq[Int]].head()
    assert(codes == Seq(0, 1))
  }

  test("train fails fast when m × dsub differs from the embedding width " +
      "(below it trains on a truncated prefix of every vector, above it " +
      "slices short or empty tail subvectors)") {
    Seq(4 -> 32, 16 -> 128).foreach { case (dsub, width) =>
      val e = intercept[IllegalArgumentException](Pq.train(emb, M, dsub, K))
      assert(e.getMessage.contains(s"= $width must equal the embedding width") &&
        e.getMessage.contains("got width(s) 64"), e.getMessage)
    }
  }

  test("reconstruction: PQ mean squared error beats the one-centroid " +
      "(global mean) quantizer — the bound that separates a quantizer " +
      "from a hash") {
    // codes → concatenated centroids (the quantized vector), rebuilt
    // locally from the collected codebook
    val book = cb.as[(Int, Int, Seq[Float])].collect()
      .map { case (j, c, v) => ((j, c), v) }.toMap
    val errs = Pq.encode(emb, cb, M, Dsub)
      .select(col("embedding"), col("codes")).as[(Seq[Float], Seq[Int])]
      .collect().map { case (v, codes) =>
        val recon = codes.zipWithIndex.flatMap { case (c, j) => book((j, c)) }
        v.zip(recon).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      }
    val pqMse = errs.sum / errs.length
    // one-centroid baseline: every vector reconstructs to the mean
    val meanVec = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(avg(col("v")).as("mu"))
      .orderBy(col("dim")).as[(Int, Double)].collect().map(_._2.toFloat)
    val baseMse = emb
      .select(graft.functions.ArrayMath.l2sqF(col("embedding"),
        lit(meanVec)).as("e"))
      .agg(avg(col("e"))).as[Double].head()
    assert(pqMse < baseMse,
      f"PQ MSE $pqMse%.5f not below the global-mean MSE $baseMse%.5f")
    info(f"PQ MSE $pqMse%.5f vs global-mean MSE $baseMse%.5f " +
      f"(${baseMse / pqMse}%.2fx better)")
  }

  test("q_embed_pq golden digests equal the oracle's pinned constants " +
      "at both test scales (fixture drift breaks spec and oracle " +
      "together)") {
    def digest(sf: String): (Long, Long) = {
      val r = SparkEntry.queries("q_embed_pq")(spark, sf).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (n1, d1) = digest(TestSpark.Sf0001)
    assert(n1 == 500L)
    val sql = SparkEntry.oracleSql("q_embed_pq")
    assert(sql.contains(d1.toString), s"sf0.001 digest $d1 not pinned")
    val sf001 = "/root/testdata/sf0.01"
    if (new java.io.File(sf001).isDirectory) {
      val (n2, d2) = digest(sf001)
      assert(n2 == 500L)
      assert(sql.contains(d2.toString), s"sf0.01 digest $d2 not pinned")
    }
  }
}
