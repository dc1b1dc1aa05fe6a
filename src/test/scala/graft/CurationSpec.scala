package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Curation, Dedup}
import graft.model.Tables

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()

  test("curation output: subset of input, quality-gated, dup-free, idempotent") {
    val out = Curation.curate(docs, "text", "doc_id", 20, 0.8).cache()
    val outIds = out.select("doc_id").as[Long].collect().toSet
    val inIds = docs.select("doc_id").as[Long].collect().toSet
    assert(outIds.subsetOf(inIds) && outIds.nonEmpty)
    // quality gate held
    assert(out.filter(col("n_tokens") < 20).isEmpty)
    // no surviving near-dup pairs at the threshold
    val survivors = docs.join(out.select("doc_id"), "doc_id")
    assert(Dedup.ngramJaccardPairs(survivors, "text", "doc_id", 3, 0.8).isEmpty)
    // idempotent: curating the survivors changes nothing
    val again = Curation.curate(survivors, "text", "doc_id", 20, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(again == outIds)
  }

  test("near-dup drop keeps the lower id of each pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val out = Curation.curate(docs, "text", "doc_id", 0, 0.8)
      .select("doc_id").as[Long].collect().toSet
    pairs.foreach { case (a, b, _) =>
      assert(!out.contains(b), s"higher id $b of pair ($a,$b) survived")
    }
    // J(1,5)=J(2,5)=0.8, J(1,2)=0.6 — at threshold 0.7 the pairs are
    // (1,5) and (2,5): doc 2's only pair is with a HIGHER id, so the
    // pairwise rule keeps {1,2} (not transitive: one drop per pair)
    val tri = Seq(
      (1L, "a b c d e f"),
      (2L, "b c d e f g"),
      (5L, "a b c d e f g")).toDF("doc_id", "text")
    val pairwise = Curation.dropNearDupes(tri, "text", "doc_id", 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(pairwise == Set(1L, 2L))
  }

  test("classifier filter keeps docs aligned with the quality direction") {
    // one orthogonal direction per label; doc 4 has no embedding ->
    // unscored, dropped by the inner join
    val embs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1),
      (3L, Array(-1f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val d4 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    def kept(label: Int) =
      Curation.classifierFilter(d4, embs, "doc_id",
          goodLabel = label, threshold = 0.5)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(0) == Set(1L))
    // direction [0,1] keeps only doc 2 — proves the centroid array is
    // assembled in dim order, not collect_list arrival order
    assert(kept(1) == Set(2L))
    assert(kept(2) == Set(3L))
  }

  test("stratified sample: deterministic, rate-accurate, nested by rate") {
    val rows = spark.range(1000)
      .select(col("id"), (col("id") % 2).cast("string").as("stratum"))
    def sample(r0: Double, r1: Double) =
      Curation.stratifiedSample(rows, "stratum", "id",
          Map("0" -> r0, "1" -> r1), defaultRate = 0.0)
        .select("id").as[Long].collect().toSet
    val s = sample(0.5, 0.1)
    assert(s == sample(0.5, 0.1), "same salt+rates must reproduce exactly")
    val n0 = s.count(_ % 2 == 0); val n1 = s.count(_ % 2 == 1)
    assert(n0 > 200 && n0 < 300, s"rate 0.5 of 500 gave $n0")
    assert(n1 > 20 && n1 < 80, s"rate 0.1 of 500 gave $n1")
    // threshold coins nest: raising a rate only ADDS rows (stable sample)
    assert(s.subsetOf(sample(0.8, 0.3)))
    assert(sample(1.0, 1.0).size == 1000)
    assert(sample(0.0, 0.0).isEmpty)
  }

  test("weighted sampling: k rows, partitioning-invariant, and weight-" +
      "monotone in aggregate") {
    val docs = graft.model.Tables.documents(spark, TestSpark.Sf0001)
    val a = Curation.weightedSample(docs, "doc_id", "n_chars", k = 30)
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 30)
    val b = Curation.weightedSample(docs.repartition(7), "doc_id", "n_chars",
        k = 30).select("doc_id").as[Long].collect().toSet
    assert(b == a, "sample changed under repartitioning")
    // aggregate monotonicity: giving half the docs 100x weight must pull
    // the sample overwhelmingly toward them
    val skewed = docs.withColumn("w",
      when(col("doc_id") % 2 === 0, lit(10000)).otherwise(lit(1)))
    val heavy = Curation.weightedSample(skewed, "doc_id", "w", k = 30)
      .filter(col("doc_id") % 2 === 0).count()
    assert(heavy >= 28, s"only $heavy/30 sampled from the heavy half")
  }
}
