package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Clustering
import graft.model.Tables

class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()

  test("assign: every vector lands on exactly one cell; a seed vector on itself") {
    val cents = Clustering.seedCentroids(emb, 4)
    val a = Clustering.assign(emb, cents).cache()
    assert(a.count() == emb.count())
    assert(a.select("vec_id").distinct().count() == emb.count())
    // the seed vectors ARE centroids: distance 0 to their own cell
    val seedIds = emb.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id")).as[Long].collect().toSet
    val selfAssigned = a.filter(col("vec_id").isin(seedIds.toSeq: _*))
      .select(col("d2")).as[Double].collect()
    assert(selfAssigned.forall(_ == 0.0))
  }

  test("assign ties break toward the smaller cell_id") {
    val vecs = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq((1, Array(1.0f, 1.0f)), (0, Array(1.0f, -1.0f)))
      .toDF("cell_id", "centroid")
    val cell = Clustering.assign(vecs, cents)
      .select(col("cell_id")).as[Int].head()
    assert(cell == 0) // both centroids at d2 = 1.0 — smaller id wins
  }

  test("centroidStats means match a hand-computed two-vector cell") {
    val vecs = Seq(
      (1L, Array(1.0f, 3.0f)), (2L, Array(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(0.0f, 0.0f))).toDF("cell_id", "centroid")
    val stats = Clustering.centroidStats(Clustering.assign(vecs, cents))
      .orderBy("dim").select("n", "centroid").as[(Long, Double)].collect()
    assert(stats.toSeq == Seq((2L, 2.0), (2L, 4.0)))
  }

  test("lloyd: inertia never increases across iterations") {
    val seeds = Clustering.seedCentroids(emb, 6)
    val i0 = Clustering.inertia(emb, seeds)
    val c1 = Clustering.lloyd(emb, 6, iters = 1)
    val i1 = Clustering.inertia(emb, c1)
    val c3 = Clustering.lloyd(emb, 6, iters = 3)
    val i3 = Clustering.inertia(emb, c3)
    assert(i1 <= i0, s"one Lloyd step must not increase inertia ($i1 > $i0)")
    assert(i3 <= i1 + 1e-9, s"more steps must not increase inertia ($i3 > $i1)")
  }

  test("lloyd keeps k centroids even when a cell empties") {
    // 3 tight points, k=2 seeded on the first two: cell 1's centroid
    // moves to the data mean only if it keeps members; either way the
    // result must still have k rows with non-null centroids.
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.01f, 0.0f)),
      (3L, Array(0.02f, 0.0f))).toDF("vec_id", "embedding")
    val c = Clustering.lloyd(vecs, 2, iters = 3).cache()
    assert(c.count() == 2)
    assert(c.filter(col("centroid").isNull).count() == 0)
  }

  test("lloyd is deterministic: two runs produce identical centroids") {
    val a = Clustering.lloyd(emb, 5, iters = 2)
      .orderBy("cell_id").select("centroid").as[Array[Float]].collect()
    val b = Clustering.lloyd(emb, 5, iters = 2)
      .orderBy("cell_id").select("centroid").as[Array[Float]].collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  /** The centroid fold the SQL way: (cell_id, dim, centroid) rows →
    * (cell_id, array<float> centroid), the recompute `lloyd` ran before
    * it folded the means in the assignment scan. The reference for
    * [[Clustering.meansByKey]].
    */
  private def packCentroids(stats: DataFrame): DataFrame =
    stats.groupBy(col("cell_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid").cast("float")).as("centroid"))

  private def bits(v: Seq[java.lang.Float]): Seq[Option[Int]] =
    v.map(x => Option(x).map(f => java.lang.Float.floatToRawIntBits(f)))

  /** Fold vs reference over the same assigned frame, bit for bit. */
  private def assertFoldEqualsReference(assigned: DataFrame, keys: Int): Unit = {
    val ref = packCentroids(Clustering.centroidStats(assigned)).collect()
      .map(r => r.getInt(0) -> bits(r.getSeq[java.lang.Float](1))).toMap
    val got = Clustering.meansByKey(
        assigned.select(col("cell_id").as("key"), col("embedding").as("v")), keys)
      .map { case (c, v) => c -> bits(v.toSeq) }
    assert(got == ref)
  }

  test("the means fold equals the centroidStats → packCentroids path bit " +
      "for bit: 9th-digit ties, null elements, ragged widths, an emptied " +
      "cell and several input partitions") {
    val tie = 153f / 1024 // 0.1494140625: a tie at the 9th decimal digit
    val vecs = Seq[(Long, Array[java.lang.Float])](
      (1L, Array(tie, 1.0f, null)),
      (2L, Array(-tie, 0.3f, 0.1f)),
      (3L, Array(0.1f, 0.2f, 0.7f)),
      (4L, Array(10.0f, 11.0f, null)), // cell 1's dim 2 holds only nulls
      (5L, Array(9.5f, 10.25f, null)),
      (6L, Array(10.5f, 9.75f)), // shorter: dim 2 counts two rows, not three
      (7L, null)
    ).toDF("vec_id", "embedding").repartition(3)
    // cell 2 sits far from every vector and empties
    val cents = Seq[(Int, Array[Float])]((0, Array(0f, 0f, 0f)), (1, Array(10f, 10f, 10f)),
      (2, Array(1000f, 1000f, 1000f))).toDF("cell_id", "centroid")
    val assigned = Clustering.assign(vecs, cents).cache()
    assert(assigned.rdd.getNumPartitions > 1)
    val means = Clustering.meansByKey(
      assigned.select(col("cell_id").as("key"), col("embedding").as("v")), 3)
    assert(!means.contains(2), "an emptied cell has no mean")
    assert(means(1)(2) == null, "a dim of only null elements has a null mean")
    assertFoldEqualsReference(assigned, 3)
    // the fixture at k = 8, split over several partitions
    assertFoldEqualsReference(
      Clustering.assign(emb.repartition(5), Clustering.seedCentroids(emb, 8)), 8)
  }

  test("lloyd(k, iters) runs at most 1 + 2·iters Spark jobs when called: the " +
      "seed collect, then per iteration the centroid broadcast and one " +
      "assign-and-fold scan") {
    val sc = spark.sparkContext
    val corpus = Tables.embeddings(spark, TestSpark.Sf0001)
    Seq(1, 3).foreach { iters =>
      val group = s"lloyd-job-budget-$iters"
      sc.setJobGroup(group, group)
      try Clustering.lloyd(corpus, 6, iters) finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 10000L)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      assert(jobs >= 1 + iters && jobs <= 1 + 2 * iters,
        s"lloyd(iters = $iters) ran $jobs jobs")
    }
  }
}
