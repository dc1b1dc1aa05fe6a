package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity
import graft.functions.ArrayMath
import graft.model.Tables

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()
  private def queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  test("native dot_f32 equals the interpreted zip_with+aggregate fold bit-for-bit") {
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f))).toDF("a", "b")
    val rows = df.select(ArrayMath.dotF(col("a"), col("b")).as("native"), hof.as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("dot_f32 is registered for SQL and codegen-evaluable") {
    // the one registration path: the session extension ScaleSpec uses
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyFunctionExtensions(ext, spark)
    val r = spark.sql(
      "SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").as[Double].head()
    assert(r == 11.0)
  }

  test("l2sq_f32: matches ||a||^2 - 2<a,b> + ||b||^2 identity and is zero on self") {
    val df = emb.limit(30).select(col("vec_id"), col("embedding"))
    val self = df.select(ArrayMath.l2sqF(col("embedding"), col("embedding")).as("d"))
      .as[Double].collect()
    assert(self.forall(_ == 0.0))
    val both = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(ArrayMath.l2sqF(col("a.embedding"), col("b.embedding")).as("l2"),
        (ArrayMath.dotF(col("a.embedding"), col("a.embedding"))
          - lit(2.0) * ArrayMath.dotF(col("a.embedding"), col("b.embedding"))
          + ArrayMath.dotF(col("b.embedding"), col("b.embedding"))).as("ident"))
      .as[(Double, Double)].collect()
    both.foreach { case (l2, ident) => assert(math.abs(l2 - ident) < 1e-9) }
  }

  test("cosine: self-similarity is 1, symmetry holds") {
    val df = emb.limit(20).select(col("vec_id"), col("embedding"))
    val self = df.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .as[Double].collect()
    assert(self.forall(c => math.abs(c - 1.0) < 1e-12))
    val pairAb = Similarity.cosine(col("a.embedding"), col("b.embedding"))
    val pairBa = Similarity.cosine(col("b.embedding"), col("a.embedding"))
    val sym = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(pairAb.as("ab"), pairBa.as("ba")).as[(Double, Double)].collect()
    assert(sym.forall { case (ab, ba) => ab == ba })
  }

  test("brute-force top-k: k rows per query, scores non-increasing") {
    val tk = Similarity.topKCosine(emb, queries, 10)
      .select("query_id", "rank", "score").as[(Long, Int, Double)].collect()
    assert(tk.length == 50)
    tk.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  test("hard negatives: every neighbor has a different label, and per " +
      "query equals top-k over the label-filtered corpus") {
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("qlabel"))
    val hn = Similarity.hardNegatives(emb, q, 5)
      .select("query_id", "rank", "vec_id", "label")
      .as[(Long, Int, Long, Int)].collect()
    assert(hn.length == 25)
    val qLabels = q.select("query_id", "qlabel").as[(Long, Int)].collect().toMap
    assert(hn.forall { case (qid, _, _, l) => l != qLabels(qid) })
    // per query: identical to brute-force top-k over only the
    // wrong-label corpus subset
    qLabels.foreach { case (qid, ql) =>
      val expect = Similarity.topKCosine(
          emb.filter(col("label") =!= ql),
          q.filter(col("query_id") === qid).drop("qlabel"), 5)
        .select("rank", "vec_id").as[(Int, Long)].collect().toSet
      val got = hn.filter(_._1 == qid).map(t => (t._2, t._3)).toSet
      assert(got == expect, s"query $qid")
    }
  }

  test("sign-LSH ANN reaches >=90% recall@10 vs brute force on random " +
      "vectors at the tuned defaults (L=12, r=3)") {
    val exact = Similarity.topKCosine(emb, queries, 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, queries, 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
    info(f"ann recall@10 at defaults: $recall%.2f")
  }

  test("LSH-bucketed near-dup pairs: subset of exact, usable recall") {
    val exact = Similarity.cosineNearDupPairs(emb, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupPairsLsh(emb, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact join rejects")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("LSH near-dup pairs reject shapes that would silently corrupt " +
      "buckets: planesPerTable = 64 and numTables = 0 throw up front") {
    intercept[IllegalArgumentException](
      Similarity.cosineNearDupPairsLsh(emb, 0.4, planesPerTable = 64))
    intercept[IllegalArgumentException](
      Similarity.cosineNearDupPairsLsh(emb, 0.4, numTables = 0))
  }

  test("r16 first-collision dedup: the LSH candidate set equals the " +
      "any-table-collision set, each pair exactly once, across (L, r) " +
      "word-packing shapes") {
    // threshold -1.0 keeps EVERY candidate pair (cosine >= -1 always),
    // so the output IS the candidate set — compare it against ground
    // truth derived from the ENGINE's own bucket values (collected via
    // lshBucket, so no driver float-reproduction risk), for parameter
    // shapes that exercise the packed-word filter: single word, exact
    // word fill, two words (the registered (24, 3)), one table (empty
    // prefixes everywhere), and wide buckets (few fields per word).
    val small = emb.filter(col("vec_id") < 120)
    for ((ll, rr) <- Seq((1, 3), (8, 4), (24, 3), (5, 5), (13, 2), (3, 31))) {
      val tables = (0 until ll).map(t =>
        Similarity.hyperplanes(rr, 64, seed = 1042L + t))
      val bucketRows = small.select(col("vec_id") +:
          tables.zipWithIndex.map { case (p, t) =>
            Similarity.lshBucket(col("embedding"), p).as(s"b$t") }: _*)
        .collect()
      val buckets = bucketRows.map(r =>
        r.getLong(0) -> (0 until ll).map(t => r.getLong(t + 1))).toMap
      val ids = buckets.keys.toSeq.sorted
      val expected = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        a = ids(i); b = ids(j)
        if (0 until ll).exists(t => buckets(a)(t) == buckets(b)(t))
      } yield (a, b)).toSet
      val got = Similarity.cosineNearDupPairsLsh(small, threshold = -1.0,
          numTables = ll, planesPerTable = rr)
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
      assert(got.length == got.toSet.size,
        s"(L=$ll, r=$rr): a pair was emitted more than once")
      assert(got.toSet == expected,
        s"(L=$ll, r=$rr): candidate set mismatch " +
          s"(got ${got.length}, expected ${expected.size})")
    }
  }

  test("IVF assigns every vector to exactly one cell") {
    val cents = graft.ext.Clustering.seedCentroids(emb, 8)
    val assigned = Similarity.ivfAssign(
      emb.select(col("vec_id"), col("embedding")), "embedding", cents)
    assert(assigned.count() == emb.count())
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)
  }

  test("ivfAssign ties break toward the smaller cell_id") {
    val vecs = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // both centroids at cosine 1/√2 from the vector, bit for bit
    val cents = Seq((5, Array(1.0f, 1.0f)), (3, Array(1.0f, -1.0f)))
      .toDF("cell_id", "centroid")
    val cell = Similarity.ivfAssign(vecs, "embedding", cents)
      .select(col("cell_id")).as[Int].collect()
    assert(cell.toSeq == Seq(3))
  }

  test("ivfProbe ranks equidistant cells by the smaller cell_id") {
    val cents = Seq((5, Array(1.0f, 1.0f)), (3, Array(1.0f, -1.0f)),
      (1, Array(-1.0f, 0.0f))).toDF("cell_id", "centroid")
    // one posting per cell; the query (1, 0) is equidistant from 3 and 5
    val postings = Seq((30L, 3, Array(1.0f, -0.5f)), (50L, 5, Array(1.0f, 0.5f)),
        (10L, 1, Array(-1.0f, 0.1f)))
      .toDF("vec_id", "cell_id", "embedding")
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    def hits(nprobe: Int): Set[Long] =
      Similarity.ivfProbe(cents, postings, q, k = 10, nprobe)
        .select(col("vec_id")).as[Long].collect().toSet
    assert(hits(1) == Set(30L))
    assert(hits(2) == Set(30L, 50L))
    assert(hits(3) == Set(10L, 30L, 50L))
  }

  test("null centroid cells are dead to the whole IVF path: never " +
    "assigned to, never probed, output identical to the cell set " +
    "without them (ADVICE r8 — pins the filter-before-fold contract)") {
    val cents = graft.ext.Clustering.seedCentroids(emb, 8)
    val withNull = cents.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("cell_id", "centroid"))
    // assignment: no vector lands in the null cell
    val assigned = Similarity.ivfAssign(
      emb.select(col("vec_id"), col("embedding")), "embedding", withNull)
    assert(assigned.filter(col("cell_id") === 99L).isEmpty)
    // end-to-end: search output is identical with and without the null
    // cell (the replaced window formulation ranked null cdist FIRST
    // ascending, i.e. probed the dead cell ahead of every live one)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(emb, queries, k = 10, cells = 8, nprobe = 3,
          centroids = Some(c))
        .select("query_id", "rank", "vec_id")
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long)].collect().toSeq
    assert(run(withNull) == run(cents))
  }

  test("label centroids: exact per-dimension means") {
    val df = Seq(
      (1L, Array(1f, 2f), 0),
      (2L, Array(3f, 4f), 0),
      (3L, Array(10f, 20f), 1)).toDF("vec_id", "embedding", "label")
    val c = Similarity.labelCentroids(df)
      .select("label", "dim", "n", "centroid")
      .as[(Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(c == Map((0, 0) -> ((2L, 2.0)), (0, 1) -> ((2L, 3.0)),
      (1, 0) -> ((1L, 10.0)), (1, 1) -> ((1L, 20.0))))
  }

  test("knn classify: majority vote wins, vote ties go to smaller label") {
    val corpus = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(0.99f, 0.05f), 7),
      (3L, Array(0.98f, 0.08f), 7), (4L, Array(0f, 1f), 3),
      (5L, Array(0.05f, 0.99f), 3)).toDF("vec_id", "embedding", "label")
    val qMajor = Seq((100L, Array(1f, 0.1f))).toDF("query_id", "query_vec")
    val major = Similarity.knnClassify(corpus, qMajor, k = 3)
      .select("pred_label", "votes").as[(Int, Long)].head()
    assert(major == ((7, 3L)))
    // 1-1 vote: two-vector corpus, k=2 — smaller label must win
    val two = Seq((1L, Array(1f, 0f), 7), (2L, Array(0f, 1f), 3))
      .toDF("vec_id", "embedding", "label")
    val qTie = Seq((200L, Array(1f, 1f))).toDF("query_id", "query_vec")
    val tie = Similarity.knnClassify(two, qTie, k = 2)
      .select("pred_label", "votes").as[(Int, Long)].head()
    assert(tie == ((3, 1L)))
  }

  test("ivf top-k: valid ranks, no self-matches, and usable recall vs " +
      "the exact baseline") {
    val exact = Similarity.topKCosine(emb, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, cells = 6, nprobe = 3)
      .cache()
    val rows = ivf.select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect()
    assert(rows.forall { case (q, r, v) => r >= 1 && r <= 10 && q != v })
    // per-query ranks are dense from 1
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq)
    }
    val got = rows.map(t => (t._1, t._3)).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.25,
      f"ivf recall $recall%.2f too low (random vectors, nprobe 3/6)")
    info(f"ivf recall@10 at cells=6, nprobe=3: $recall%.2f")
  }

  test("semdedup: precision 1 vs exact pairs; within-cell recall measured") {
    val exact = Similarity.cosineNearDupPairs(emb, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sem = Similarity.semDedupPairs(emb, cells = 4, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact), "semdedup produced a non-exact pair")
    if (exact.nonEmpty) {
      val recall = sem.size.toDouble / exact.size
      // random embeddings + coarse cells = worst case; just assert the
      // mechanism finds a nonzero share and report it
      assert(recall > 0.0, s"semdedup found none of ${exact.size} pairs")
      info(f"semdedup recall at cells=4: $recall%.2f (${sem.size}/${exact.size})")
    }
  }

  test("q_similarity_ann / q_similarity_ivf golden digests (deterministic " +
      "top-k — exact output pin at both test scales; the constants MUST " +
      "equal the ones in ExtQueries.oracles)") {
    // (n_rows, bit_xor(xxhash64(query_id, rank, vec_id))) over the
    // registered digest form — any change to the hyperplane seeds,
    // banding, IVF training, probe selection, scoring, or rank
    // tie-break moves it (the q_dedup_simhash discipline; fixture
    // regeneration breaks this pin and the oracle together).
    def digest(q: String, sf: String): (Long, Long) = {
      val r = SparkEntry.queries(q)(spark, sf).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest("q_similarity_ann", TestSpark.Sf0001) ==
      ((50L, 6463922699364467753L)))
    assert(digest("q_similarity_ivf", TestSpark.Sf0001) ==
      ((50L, 2786292923094074110L)))
    val sf001 = "/root/testdata/sf0.01"
    if (new java.io.File(sf001).isDirectory) {
      assert(digest("q_similarity_ann", sf001) ==
        ((50L, -8552199710931563464L)))
      assert(digest("q_similarity_ivf", sf001) ==
        ((50L, 2651920947355102651L)))
    }
    val annSql = SparkEntry.oracleSql("q_similarity_ann")
    assert(annSql.contains("6463922699364467753") &&
      annSql.contains("-8552199710931563464"))
    val ivfSql = SparkEntry.oracleSql("q_similarity_ivf")
    assert(ivfSql.contains("2786292923094074110") &&
      ivfSql.contains("2651920947355102651"))
  }

  test("IVF train→serve parity: probe over the parquet-round-tripped " +
      "index equals ivfTopK exactly, scores bit-for-bit") {
    // The serve contract (round 15): ivfTopK IS ivfProbe∘ivfIndex, and
    // every persisted value (float vectors, long ids, double norms)
    // round-trips parquet bit-exactly — so the reloaded index must
    // reproduce the one-shot answer including the float scores, not
    // just the id sets. Run at both scales so a cell-boundary change
    // can't hide in the tiny fixture.
    for (sf <- Seq(TestSpark.Sf0001, "/root/testdata/sf0.01")
         if new java.io.File(sf).isDirectory) {
      val corpus = Tables.embeddings(spark, sf)
      val q = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val oneShot = Similarity.ivfTopK(corpus, q, k = 10, cells = 8,
          nprobe = 3)
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("score")).as[(Long, Int, Long, Double)].collect()
        .map { case (a, b, c, s) =>
          (a, b, c, java.lang.Double.doubleToLongBits(s)) }.toSet
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ivf_parity").toString
      try {
        val (cents, posts) = Similarity.ivfIndex(corpus, cells = 8)
        Similarity.writeIvfIndex(cents, posts, dir)
        val (c2, p2) = Similarity.readIvfIndex(spark, dir)
        val served = Similarity.ivfProbe(c2, p2, q, k = 10, nprobe = 3)
          .select(col("query_id"), col("rank"), col("vec_id"),
            col("score")).as[(Long, Int, Long, Double)].collect()
          .map { case (a, b, c, s) =>
            (a, b, c, java.lang.Double.doubleToLongBits(s)) }.toSet
        assert(served == oneShot)
      } finally Tables.rmrf(dir)
    }
    // registry-level self-consistency: the served digest equals the
    // one-shot digest, which is why q_similarity_serve's oracle pins
    // the SAME constants as q_similarity_ivf's
    val serveRow = SparkEntry.queries("q_similarity_serve")(
      spark, TestSpark.Sf0001).collect()(0)
    val ivfRow = SparkEntry.queries("q_similarity_ivf")(
      spark, TestSpark.Sf0001).collect()(0)
    assert((serveRow.getLong(0), serveRow.getLong(1)) ==
      ((ivfRow.getLong(0), ivfRow.getLong(1))))
    assert(SparkEntry.oracleSql("q_similarity_serve")
      .contains("2786292923094074110"))
  }

  test("IVF serve probe is RUNTIME-pruned: the postings scan reads " +
      "exactly the probed cells' partitions, not the index") {
    // PlanSpec pins the dynamicpruning expression statically; this pin
    // EXECUTES the probe and reads the scan's own metrics — the number
    // of partition directories actually read must equal the distinct
    // cells the query probes (nprobe per query), at every nprobe
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_dpp").toString
    try {
      val (c0, p0) = Similarity.ivfIndex(emb, cells = 8)
      Similarity.writeIvfIndex(c0, p0, dir)
      val (c2, p2) = Similarity.readIvfIndex(spark, dir)
      val oneQuery = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      // AQE off for the measurement only: the adaptive plan hides the
      // scan inside leaf QueryStageExec nodes `collect` can't enter;
      // DPP itself is independent of AQE (the registered query keeps
      // AQE on — PlanSpec pins its dynamicpruning expression there)
      def partitionsRead(nprobe: Int): Long = {
        val df = Similarity.ivfProbe(c2, p2, oneQuery, k = 10, nprobe)
        df.collect()
        val scan = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(
                _.toString.contains("postings")) => f
        }.head
        scan.metrics("numPartitions").value
      }
      val key = "spark.sql.adaptive.enabled"
      val saved = spark.conf.get(key)
      try {
        spark.conf.set(key, "false")
        assert(partitionsRead(1) == 1L)
        assert(partitionsRead(3) == 3L)
        assert(partitionsRead(8) == 8L)
      } finally spark.conf.set(key, saved)
    } finally Tables.rmrf(dir)
  }

  test("int8 quantization: codes in [-127,127], max element hits ±127, " +
    "reconstruction error bounded by scale/2") {
    val (scaleC, codesC) = Similarity.quantizeInt8(col("embedding"))
    val q = emb.select(col("vec_id"), col("embedding"),
      scaleC.as("scale"), codesC.as("codes")).cache()
    val bad = q.filter(exists(col("codes"),
      c => c > 127 || c < -127)).count()
    assert(bad == 0)
    // every non-zero vector's largest-|v| element maps to ±127
    val hasExtreme = q.filter(col("scale") > 0)
      .filter(!exists(col("codes"), c => abs(c) === 127)).count()
    assert(hasExtreme == 0)
    // |v - code*scale| ≤ scale/2 element-wise
    val overErr = q.withColumn("err",
        array_max(zip_with(col("embedding"), col("codes"),
          (a, c) => abs(a.cast("double") - c.cast("double") * col("scale")))))
      .filter(col("err") > col("scale") / 2 + 1e-12).count()
    assert(overErr == 0)
    // zero vector: scale 0, all-zero codes
    val z = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val (zs, zc) = Similarity.quantizeInt8(col("embedding"))
    val zr = z.select(zs.as("s"), zc.as("c")).as[(Double, Array[Int])].head()
    assert(zr._1 == 0.0 && zr._2.sameElements(Array(0, 0, 0)))
  }

  test("matryoshka truncation: a prefix slice can invert retrieval — " +
      "hand-built vectors where the width-2 winner loses at full width, " +
      "so truncated recall correctly reads 0") {
    // q·A = 4 (cos .632) beats q·B = 0 at width 4; prefixes flip it:
    // A₂ = (1,−1) ⊥ q₂ = (1,1), B₂ = (1,1) ∥ q₂
    val corpus = Seq((10L, Array(1f, -1f, 2f, 2f)),
      (11L, Array(1f, 1f, -1f, -1f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1f, 1f, 1f, 1f))).toDF("query_id", "query_vec")
    def top1(c: org.apache.spark.sql.DataFrame,
        qq: org.apache.spark.sql.DataFrame): Long =
      Similarity.topKCosine(c, qq, k = 1).select("vec_id").as[Long].head()
    assert(top1(corpus, q) == 10L)
    val c2 = corpus.withColumn("embedding", slice(col("embedding"), 1, 2))
    val q2 = q.withColumn("query_vec", slice(col("query_vec"), 1, 2))
    assert(top1(c2, q2) == 11L)
  }
}
