package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Archive
import graft.ext.{Dedup, TextAnalysis}
import graft.functions.Aggregators

/** Property-based coverage (SURVEY.md §5.3): archival invariants over
  * generated batches, dedup/fingerprint invariances, partitioning-
  * independence of the typed aggregator.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic generator sampling (no scalatestplus bridge in the
    * offline cache): n samples from fixed seeds.
    */
  private def forAllSampled[T](g: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i))
        .foreach(v => body(v))
    }

  private val tsGen = Gen.choose(
    java.sql.Timestamp.valueOf("2023-11-01 00:00:00").getTime,
    java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime)
  private val rowsGen = Gen.listOfN(60,
    Gen.zip(Gen.choose(0L, 1000L), tsGen, Gen.choose(0.0, 100.0)))

  test("property: archived ∪ retained = all, disjoint, archived < cutoff, " +
      "top-k = sorted prefix") {
    forAllSampled(rowsGen, 8) { rows =>
      val df = rows.zipWithIndex
        .map { case ((_, ts, v), i) => (i.toLong, new java.sql.Timestamp(ts), v) }
        .toDF("id", "timestamp", "value")
      val cutoff = "2024-01-15 00:00:00"
      val k = 10
      val archived = df
        .transform(Archive.retentionFilter("timestamp", cutoff))
        .transform(Archive.topKNewest("timestamp", "id", k))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
      val all = df.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
      val cutoffTs = java.sql.Timestamp.valueOf(cutoff)
      val eligible = all.filter(_._2.before(cutoffTs))
      // archived = the k newest eligible rows (ties by id asc)
      val expect = eligible.sortBy { case (id, ts) => (-ts.getTime, id) }.take(k)
      assert(archived.toSet.subsetOf(all.toSet))
      assert(archived.forall(_._2.before(cutoffTs)))
      assert(archived.toSet == expect.toSet)
    }
  }

  test("property: canonical fingerprint invariant under token permutation " +
      "and duplication") {
    val wordGen = Gen.oneOf("spark", "join", "merge", "sort", "batch", "row")
    val docGen = Gen.nonEmptyListOf(wordGen)
    forAllSampled(docGen, 10) { words =>
      val shuffled = new scala.util.Random(7).shuffle(words)
      val duplicated = words ++ words.take(words.size / 2)
      val df = Seq((1L, words.mkString(" ")), (2L, shuffled.mkString(" ")),
        (3L, duplicated.mkString(" "))).toDF("doc_id", "text")
      val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
      assert(fps.distinct.length == 1)
    }
  }

  test("property: exact dedup keeps one representative per distinct text, " +
      "copies sum to input size") {
    val textGen = Gen.listOfN(40, Gen.oneOf("a b c", "x y z", "p q r", "a b d"))
    forAllSampled(textGen, 8) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val groups = Dedup.exactGroups(df, "text", "doc_id")
        .as[(String, Long, Long)].collect()
      assert(groups.map(_._3).sum == texts.size)
      assert(groups.length == texts.distinct.size)
    }
  }

  test("property: prefix-filtered containment equals its unpruned " +
      "baseline on random overlapping-slice corpora") {
    // docs = random slices of a shared token sequence (dense overlap /
    // containment structure, repeated hot tokens) — the regime where a
    // wrong prefix bound silently loses pairs
    val corpusGen = for {
      base <- Gen.const((0 until 60).map(i => s"t$i"))
      nDocs <- Gen.choose(8, 24)
      docs <- Gen.listOfN(nDocs, for {
        lo <- Gen.choose(0, 40)
        len <- Gen.choose(3, 20)
      } yield base.slice(lo, math.min(60, lo + len)).mkString(" "))
    } yield docs
    forAllSampled(corpusGen, 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sets = Dedup.shingleSets(docs, "text", "doc_id", 3)
      val hsets = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
      for (t <- Seq(0.6, 0.9)) {
        val cBase = Dedup.containmentPairsFromSets(sets, t)
          .as[(Long, Long, Double)].collect().toSet
        val cPref = Dedup.containmentPairsPrefix(hsets, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(cPref == cBase, s"containment t=$t on ${texts.size} docs")
      }
    }
  }

  test("property: connectedComponents equals driver-side union-find on " +
      "random graphs") {
    val edgesGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    forAllSampled(edgesGen, 5) { edges =>
      if (edges.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // root = min id of component by construction (always union
        // larger root under smaller)
        val expect = nodes.map(x => x -> find(x)).toMap
        val got = Dedup.connectedComponents(
            edges.toDF("a_id", "b_id"), "a_id", "b_id")
          .as[(Long, Long)].collect().toMap
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("property: token entropy ∈ [0, ln(n_tokens)], 0 iff one distinct " +
      "token, ln(n) iff all distinct — at any partitioning") {
    val docGen = Gen.listOfN(30, Gen.choose(1, 6).map(k => s"w$k"))
    forAllSampled(Gen.listOfN(6, docGen), 5) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text").repartition(3)
      val ent = TextAnalysis.tokenEntropy(df, "text", "doc_id")
        .as[(Long, Double)].collect().toMap
      docs.zipWithIndex.foreach { case (ws, i) =>
        val h = ent(i.toLong)
        val bound = math.log(ws.size)
        assert(h >= 0.0 && h <= bound + 3e-8, s"doc $i: H=$h bound=$bound")
        if (ws.distinct.size == 1) assert(h == 0.0)
        if (ws.distinct.size == ws.size) assert(math.abs(h - bound) < 3e-8)
      }
    }
  }

  test("property: containment ≥ Jaccard on every generated pair, and a " +
      "true subset always scores containment 1.0") {
    val wordsGen = Gen.listOfN(25, Gen.choose(1, 12).map(k => s"t$k"))
    forAllSampled(Gen.listOfN(4, wordsGen), 5) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val jac = Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.0)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val cont = Dedup.containmentPairsFromSets(
          Dedup.shingleSets(df, "text", "doc_id", 3), 0.0)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(cont.keySet == jac.keySet)
      cont.foreach { case (k, c) =>
        assert(c >= jac(k) - 1e-12 && c <= 1.0, s"pair $k: c=$c j=${jac(k)}")
      }
      // honest subset: doc 0's text embedded verbatim in a longer doc
      val sub = Seq((100L, docs.head.mkString(" ")),
        (101L, (docs.head ++ Seq("zz1", "zz2", "zz3", "zz4")).mkString(" ")))
        .toDF("doc_id", "text")
      val c = Dedup.containmentPairsFromSets(
          Dedup.shingleSets(sub, "text", "doc_id", 3), 0.0)
        .filter(col("a_id") === 100L && col("b_id") === 101L)
        .select("containment").as[Double].collect()
      assert(c.length == 1 && c.head == 1.0, c.toSeq.toString)
    }
  }

  test("property: ExactMoneyMean is partitioning-independent and exact") {
    val pricesGen = Gen.listOfN(50, Gen.choose(1, 10000000)
      .map(c => c / 100.0))
    forAllSampled(pricesGen, 4) { prices =>
      val expected = prices.map(p => math.round(p * 100)).sum / 100.0 / prices.size
      val results = Seq(1, 3, 7).map { parts =>
        prices.toDS().repartition(parts)
          .select(Aggregators.ExactMoneyMean.toColumn)
          .head()
      }
      assert(results.forall(_ == expected))
    }
  }

  test("property: bigramNll equals a driver-side bigram-LM reference " +
      "bit-for-bit on random small-vocab corpora") {
    val docGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(6, docGen)
    forAllSampled(corpusGen, 5) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = graft.ext.TextAnalysis
        .bigramNll(docs.toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "n_bigrams", "nll")
        .as[(Long, Long, Double)].collect()
        .map { case (id, n, v) => id -> ((n, v)) }.toMap
      // driver reference: MLE bigram model over ALL docs' bigrams,
      // per-bigram-type lp rounded into scale-9 decimal, exact sums
      val bigrams = docs.map { case (id, t) =>
        val w = t.split(" ", -1).toSeq
        id -> w.zip(w.drop(1))
      }
      val cBg = bigrams.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      val cW1 = bigrams.flatMap(_._2).groupBy(_._1).view.mapValues(_.size)
      val expected = bigrams.filter(_._2.nonEmpty).map { case (id, bgs) =>
        val s = bgs.groupBy(identity).map { case (bg, occ) =>
          val lp = BigDecimal(math.log(cBg(bg).toDouble / cW1(bg._1)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          BigDecimal(occ.size) * lp
        }.sum
        id -> ((bgs.size.toLong, (0.0 - s.toDouble) / bgs.size))
      }.toMap
      assert(out == expected)
    }
  }

  test("property: duplicatedSpans equals a driver-side window scan " +
      "(counts, docs, first occurrence) on random corpora") {
    val docGen = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(5, docGen)
    forAllSampled(corpusGen, 5) { texts =>
      val width = 2
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = graft.ext.Dedup
        .duplicatedSpans(docs.toDF("doc_id", "text"), "text", "doc_id", width)
        .select("n_occ", "n_docs", "first_ref")
        .as[(Long, Long, Long)].collect().toSet
      val occs = docs.flatMap { case (id, t) =>
        val w = t.split(" ", -1).toSeq
        if (w.size < width) Seq.empty
        else w.sliding(width).zipWithIndex.map { case (sp, i) =>
          (sp.mkString(" "), id, i + 1L)
        }.toSeq
      }
      val expected = occs.groupBy(_._1).values.filter(_.size > 1).map { g =>
        (g.size.toLong, g.map(_._2).distinct.size.toLong,
          g.map(o => o._2 * 100000L + o._3).min)
      }.toSet
      assert(out == expected)
    }
  }

  private val intervalsGen = Gen.listOfN(40,
    Gen.zip(Gen.choose(0L, 3L),       // key
      Gen.choose(0L, 500L),           // start
      Gen.choose(0L, 60L)))           // length

  test("property: coalesced intervals are disjoint with gaps between " +
      "them, count every input exactly once, and equal a driver-side " +
      "sweep-line reference") {
    forAllSampled(intervalsGen, 8) { rows =>
      val iv = rows.zipWithIndex.map { case ((k, s, len), i) =>
        (i.toLong, k, s, s + len) }
      val out = graft.ext.TimeSeries
        .coalesceIntervals(iv.toDF("tie", "k", "s", "e"), "k", "s", "e", "tie")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      // disjoint + separated within each key, in order
      out.groupBy(_._1).values.foreach { spans =>
        spans.sliding(2).foreach {
          case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1)
          case _ =>
        }
      }
      assert(out.map(_._4).sum == iv.size.toLong)
      // sweep-line reference per key
      val expected = iv.groupBy(_._2).flatMap { case (k, g) =>
        val sorted = g.map(t => (t._3, t._4)).sortBy(identity)
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
        sorted.foreach { case (s, e) =>
          spans.lastOption match {
            case Some((ss, se, n)) if s <= se =>
              spans.update(spans.size - 1, (ss, math.max(se, e), n + 1))
            case _ => spans += ((s, e, 1L))
          }
        }
        spans.map(sp => (k, sp._1, sp._2, sp._3))
      }.toSet
      assert(out.map(t => (t._1, t._2, t._3, t._4)).toSet == expected)
    }
  }

  private val cdcGen = Gen.zip(
    Gen.listOfN(30, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0.0, 9.0))),
    Gen.listOfN(15, Gen.zip(Gen.choose(0L, 50L), Gen.oneOf("D", "U", "I"),
      Gen.choose(10.0, 19.0))))

  test("property: applyChanges result keys = (base − deletes) ∪ upserts; " +
      "upserted rows carry the change values; fixpoint on re-apply") {
    forAllSampled(cdcGen, 8) { case (baseRaw, chRaw) =>
      // dedupe keys (one row per key is the operator's contract)
      val base = baseRaw.groupBy(_._1).map { case (k, g) => (k, g.head._2) }.toSeq
      val ch = chRaw.groupBy(_._1).map { case (k, g) => g.head }.toSeq
      val out = Archive.applyChanges(base.toDF("k", "v"),
          ch.toDF("k", "op", "v").select(col("k"), col("v"), col("op")),
          "k", "op")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val chMap = ch.map(t => t._1 -> t).toMap
      val expectedKeys = base.map(_._1).filterNot(k =>
        chMap.contains(k)).toSet ++
        ch.filter(_._2 != "D").map(_._1).toSet
      assert(out.keySet == expectedKeys)
      ch.filter(_._2 != "D").foreach { case (k, _, v) =>
        assert(out(k) == v, s"upsert value not applied for $k")
      }
      val again = Archive.applyChanges(
        out.toSeq.toDF("k", "v"),
        ch.toDF("k", "op", "v").select(col("k"), col("v"), col("op")),
        "k", "op").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(again == out)
    }
  }

  private val qnGen = Gen.listOfN(50,
    Gen.zip(Gen.choose(0L, 2L), Gen.choose(0, 15).map(_.toDouble)))

  test("property: quantile norm is bounded in [0,1], 0 at each group " +
      "min, monotone in value within a group, tie-consistent") {
    forAllSampled(qnGen, 8) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g.toString, v) }
        .toDF("event_id", "event_type", "value")
      val out = graft.ext.Profiling
        .quantileNorm(df, "event_type", "value", "event_id")
        .collect().map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
      out.foreach { case (_, _, pr) => assert(pr >= 0.0 && pr <= 1.0) }
      out.groupBy(_._1).values.foreach { grp =>
        val byV = grp.sortBy(_._2)
        assert(byV.head._3 == 0.0)
        byV.sliding(2).foreach {
          case Array((_, v1, p1), (_, v2, p2)) =>
            if (v1 == v2) assert(p1 == p2) else assert(p1 < p2)
          case _ =>
        }
      }
    }
  }

  test("property: event transitions — Σn equals Σ_user max(0, |events_u|−1), " +
      "conditional p sums to 1 per from_type, p ∈ (0, 1]") {
    val evGen = Gen.listOfN(50, Gen.zip(Gen.choose(1L, 8L), tsGen,
      Gen.oneOf("A", "B", "C")))
    forAllSampled(evGen, 8) { raw =>
      // distinct tie ids via index; ts from the shared generator
      val rows = raw.zipWithIndex.map { case ((u, t, et), i) =>
        (u, new java.sql.Timestamp(t), i.toLong, et) }
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
      val out = graft.ext.TimeSeries.eventTransitions(df, "user_id", "ts",
          "event_id", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      val expectedPairs = rows.groupBy(_._1).values
        .map(g => math.max(0, g.size - 1)).sum
      assert(out.map(_._3).sum == expectedPairs)
      out.groupBy(_._1).values.foreach { g =>
        assert(math.abs(g.map(_._4).sum - 1.0) < 1e-12)
        g.foreach(t => assert(t._4 > 0.0 && t._4 <= 1.0))
      }
    }
  }

  test("property: grouped percentiles are group members, non-decreasing " +
      "in p, and p100 is the group max") {
    val gGen = Gen.listOfN(40, Gen.zip(Gen.oneOf("x", "y"),
      Gen.choose(0.0, 50.0)))
    forAllSampled(gGen, 8) { rows =>
      val out = graft.ext.Profiling.groupPercentiles(
          rows.toDF("g", "v"), "g", "v", Seq(25, 50, 90, 100))
        .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5)))
      val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      out.foreach { case (g, p25, p50, p90, p100) =>
        val vs = byG(g)
        Seq(p25, p50, p90, p100).foreach(p => assert(vs.contains(p)))
        assert(p25 <= p50 && p50 <= p90 && p90 <= p100)
        assert(p100 == vs.last)
      }
    }
  }

  test("property: column profile counts obey n_distinct ≤ n_nonnull ≤ " +
      "n_rows on frames with generated null patterns") {
    val rowGen = Gen.listOfN(30, Gen.zip(
      Gen.option(Gen.choose(0L, 5L)), Gen.option(Gen.oneOf("p", "q"))))
    forAllSampled(rowGen, 8) { rows =>
      val df = rows.toDF("a", "b")
      val out = graft.ext.Profiling.columnProfile(df, Seq("a", "b"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      out.foreach { case (c, nRows, nn, nd) =>
        assert(nRows == rows.size)
        assert(nd <= nn && nn <= nRows)
        val col_ = if (c == "a") rows.map(_._1) else rows.map(_._2)
        assert(nn == col_.count(_.isDefined))
        assert(nd == col_.flatten.distinct.size)
      }
    }
  }

  test("property: source KL is non-negative (within per-term rounding) " +
      "and zero for a single source") {
    val docGen = Gen.listOfN(12, Gen.zip(
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")),
      Gen.oneOf("s1", "s2", "s3")))
    forAllSampled(docGen, 8) { docs =>
      val df = docs.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, s) }
        .toDF("doc_id", "text", "source")
      val out = graft.ext.TextAnalysis.sourceTokenKl(df, "text", "source")
        .collect().map(_.getDouble(2))
      out.foreach(kl => assert(kl >= -1e-6, s"KL negative: $kl"))
      val single = graft.ext.TextAnalysis.sourceTokenKl(
        df.withColumn("source", lit("only")), "text", "source")
        .collect().map(_.getDouble(2))
      assert(single.forall(_ == 0.0))
    }
  }

  test("property: skyline equals the brute-force dominance filter on " +
      "random point sets (ties and duplicates included)") {
    import graft.ext.Ranking
    val ptsGen = Gen.listOfN(40, Gen.zip(
      Gen.choose(0, 8).map(_.toDouble), Gen.choose(0, 8)))
    forAllSampled(ptsGen, 8) { pts =>
      val rows = pts.zipWithIndex.map { case ((c, g), i) => (i.toLong, c, g) }
      val got = Ranking.skyline(rows.toDF("id", "cost", "gain"),
          col("cost"), col("gain"), Seq(col("id")))
        .select("id").as[Long].collect().toSet
      val want = rows.filter { case (_, c, g) =>
        !rows.exists { case (_, c2, g2) =>
          c2 <= c && g2 >= g && (c2 < c || g2 > g) }
      }.map(_._1).toSet
      assert(got == want, s"pts=$pts got=$got want=$want")
    }
  }

  test("property: triangleCounts equals brute-force enumeration on " +
      "random graphs, and the k-core invariant holds (every core node " +
      "keeps >= k core neighbors)") {
    import graft.ext.Graph
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 11L),
      Gen.choose(0L, 11L))).map(_.filter(e => e._1 != e._2))
    forAllSampled(edgeGen, 6) { raw =>
      if (raw.nonEmpty) {
        val edges = raw.map(e =>
          (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
        val adj = edges.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        // brute force: count triangles per node over all vertex triples
        val nodes = adj.keys.toSeq.sorted
        val bruteCounts = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for {
          Seq(a, b, c) <- nodes.combinations(3)
          if adj(a)(b) && adj(a)(c) && adj(b)(c)
        } { bruteCounts(a) += 1; bruteCounts(b) += 1; bruteCounts(c) += 1 }
        val got = Graph.triangleCounts(edges.toDF("a_id", "b_id"),
            "a_id", "b_id")
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> r._2).toMap
        assert(got == bruteCounts.toMap.filter(_._2 > 0),
          s"edges=$edges got=$got want=$bruteCounts")
        // k-core invariant at k=2: every surviving node has >= 2
        // surviving neighbors
        val core = Graph.kCore(edges.toDF("a_id", "b_id"),
            "a_id", "b_id", k = 2)
          .as[(Long, Long)].collect().toMap
        core.foreach { case (n, d) =>
          assert(d >= 2, s"core node $n has degree $d < 2")
          assert(adj(n).count(core.contains) == d,
            s"core degree of $n inconsistent")
        }
      }
    }
  }

  test("property: mannWhitney matches a driver-side midrank reference " +
      "on random two-sample splits (ties included)") {
    import graft.ext.Profiling
    val gen = Gen.listOfN(24, Gen.zip(Gen.oneOf("A", "B"),
      Gen.choose(0, 8).map(_.toDouble)))
    forAllSampled(gen, 8) { rows =>
      val as = rows.filter(_._1 == "A").map(r => math.round(r._2 * 100))
      val bs = rows.filter(_._1 == "B").map(r => math.round(r._2 * 100))
      if (as.nonEmpty && bs.nonEmpty) {
        val out = Profiling.mannWhitney(rows.toDF("g", "v"), "g", "v",
          "A", "B").collect().head
        // reference: midranks over the pooled sorted sample
        val pooled = (as ++ bs).sorted
        def midrank(v: Long): Double = {
          val lo = pooled.indexOf(v); val hi = pooled.lastIndexOf(v)
          (lo + 1 + hi + 1) / 2.0
        }
        val r1 = as.map(midrank).sum
        val u1 = r1 - as.size.toLong * (as.size + 1) / 2.0
        assert(out.getDouble(2) == u1,
          s"rows=$rows got=${out.getDouble(2)} want=$u1")
      }
    }
  }

  test("property: interpolateHourly matches a driver-side reference on " +
      "random irregular series — every mark inside a segment, exact " +
      "blend, no duplicated boundary marks") {
    import graft.ext.TimeSeries
    val HourUs = 3600L * 1000000L
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val gen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 90L * 3600), Gen.choose(0, 5000)))
    forAllSampled(gen, 8) { raw =>
      val pts = raw.map { case (sec, cents) =>
        (new java.sql.Timestamp(base + sec * 1000L), cents / 100.0) }
      val df = pts.map(p => (1L, p._1, p._2)).toDF("k", "ts", "value")
      val got = TimeSeries.interpolateHourly(df, "k", "ts", "value",
          maxGapHours = 48)
        .collect().map(r => (r.getTimestamp(1).getTime,
          r.getDouble(2))).toMap
      // reference
      val collapsed = pts.groupBy(_._1.getTime).map { case (tms, vs) =>
        (tms, vs.map(v => math.round(v._2 * 100)).min) }
        .toSeq.sortBy(_._1)
      val want = collapsed.zip(collapsed.drop(1)).flatMap {
        case ((t0ms, v0), (t1ms, v1)) =>
          val t0 = t0ms * 1000L; val t1 = t1ms * 1000L
          if (t1 - t0 > 48L * HourUs) Seq.empty
          else {
            val first = (t0 / HourUs + 1) * HourUs
            val last = (t1 / HourUs) * HourUs
            (first to last by HourUs).map { t =>
              val num = v0 * (t1 - t) + v1 * (t - t0)
              // the operator emits the RAW double quotient now — the
              // reference is the identical IEEE chain, compared exactly
              t -> (num.toDouble / ((t1 - t0) * 100.0))
            }
          }
      }.toMap
      assert(got.keySet == want.keySet.map(_ / 1000L),
        s"marks differ: got=${got.keySet} want=${want.keySet}")
      want.foreach { case (tus, exp) =>
        val g = got(tus / 1000L)
        assert(g == exp, s"t=$tus got=$g want=$exp")
      }
    }
  }

  test("property: pairMergesBatched matches a driver-side sequential " +
      "reference on random corpora — pool truncation, greedy symbol-" +
      "disjoint selection, and left-to-right non-overlapping rewrite") {
    // Reference: the natural sequential BPE-batch spec. Selection =
    // top-`pool` pairs under (n desc, lft, rgt), then a greedy scan
    // keeping pairs whose symbols are unused; rewrite = per-doc
    // left-to-right scan consuming matched pairs non-overlappingly
    // (equivalent to the window algebra ONLY under symbol-disjointness
    // — which is exactly the invariant the operator must enforce).
    def refRound(docs: Map[Long, Vector[String]], k: Int, pool: Int)
        : (Seq[(String, String, Long)], Map[Long, Vector[String]]) = {
      val counts = docs.values.toSeq
        .flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).map { case (p, xs) => (p._1, p._2, xs.size.toLong) }
        .toSeq.sortBy { case (l, r, n) => (-n, l, r) }.take(pool)
      var used = Set.empty[String]
      val sel = Seq.newBuilder[(String, String, Long)]
      var taken = 0
      counts.foreach { case (l, r, n) =>
        if (taken < k && !used(l) && !used(r)) {
          sel += ((l, r, n)); used = used + l + r; taken += 1
        }
      }
      val s = sel.result()
      val selSet = s.map { case (l, r, _) => (l, r) }.toSet
      val rewritten = docs.map { case (id, ts) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && selSet((ts(i), ts(i + 1)))) {
            out += ts(i) + "+" + ts(i + 1); i += 2
          } else { out += ts(i); i += 1 }
        }
        id -> out.result()
      }
      (s, rewritten)
    }
    // small alphabet forces ties, self-pair runs, and pool pressure
    val docGen = Gen.listOfN(4,
      Gen.chooseNum(5, 30).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))))
    // (rounds, pairsPerRound, candidatePool): a batched shape, and the
    // one-pair-per-round sequential trainer
    val shapes = Seq((2, 3, 6), (3, 1, 1))
    forAllSampled(docGen, 8) { docLists =>
      val docs = docLists.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      shapes.foreach { case (rounds, k, pool) =>
        val got = graft.ext.Bpe.pairMergesBatched(
            docs.toDF("doc_id", "text"), "doc_id", "text",
            rounds = rounds, pairsPerRound = k, candidatePool = pool)
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq
        var state = docs.map { case (id, t) =>
          id -> t.split(" ").toVector }.toMap
        val want = Seq.newBuilder[(Int, Int, String, String, Long)]
        var round = 1
        var exhausted = false
        while (round <= rounds && !exhausted) {
          val (sel, next) = refRound(state, k, pool)
          if (sel.isEmpty) exhausted = true
          else {
            sel.zipWithIndex.foreach { case ((l, r, n), i) =>
              want += ((round, i + 1, l, r, n)) }
            state = next
          }
          round += 1
        }
        assert(got == want.result(),
          s"shape=($rounds, $k, $pool) docs=$docs\ngot=$got\nwant=${want.result()}")
      }
    }
  }

  test("property: Bpe.encode matches a driver-side rank-sequential " +
      "reference on random corpora and random merge tables (stacked " +
      "ranks and self-pairs included) — so pass grouping is " +
      "observationally invisible; and encode∘train reproduces the " +
      "trainer's own rewrite stream") {
    // reference: one greedy left-to-right non-overlapping pass PER
    // RANK, in rank order — the BPE apply spec
    def refApply(ts: Vector[String], l: String, r: String)
        : Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
          out += l + "+" + r; i += 2
        } else { out += ts(i); i += 1 }
      }
      out.result()
    }
    def refEncode(docs: Seq[(Long, String)],
        merges: Seq[(String, String)]): Map[Long, Vector[String]] =
      docs.map { case (id, t) =>
        id -> merges.foldLeft(t.split(" ").toVector) {
          case (ts, (l, r)) => refApply(ts, l, r) }
      }.toMap
    def sparkEncode(docs: Seq[(Long, String)],
        merges: Seq[(String, String)]): Map[Long, Vector[String]] =
      graft.ext.Bpe.encode(docs.toDF("doc_id", "text"),
          "doc_id", "text", merges)
        .orderBy(col("doc"), col("pos"))
        .collect().map(r => (r.getLong(0), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    val letters = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.listOfN(3,
      Gen.chooseNum(4, 24).flatMap(n => Gen.listOfN(n, letters)))
    // base pairs over the alphabet, then one STACKED rank appended:
    // its left is rank 1's output — exercises the flush-and-new-pass
    // path on every sample
    val tableGen = for {
      base <- Gen.listOfN(3, Gen.zip(letters, letters))
      tailR <- letters
    } yield base :+ (base.head._1 + "+" + base.head._2, tailR)
    forAllSampled(Gen.zip(docGen, tableGen), 8) { case (docLists, table) =>
      val docs = docLists.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      assert(sparkEncode(docs, table) == refEncode(docs, table),
        s"docs=$docs table=$table")
      // encode ∘ train: the trained table re-applied via encode equals
      // the trainer's rewrite stream (= the sequential reference — one
      // pair per round IS rank-sequential greedy application)
      val trained = graft.ext.Bpe.pairMergesBatched(
          docs.toDF("doc_id", "text"), "doc_id", "text", rounds = 3,
          pairsPerRound = 1, candidatePool = 1)
        .collect().map(r => (r.getString(2), r.getString(3))).toSeq
      if (trained.nonEmpty)
        assert(sparkEncode(docs, trained) == refEncode(docs, trained),
          s"docs=$docs trained=$trained")
    }
  }

  test("property: groupPercentilesCont matches a driver-side reference " +
      "interpolation on random value sets") {
    import graft.ext.Profiling
    val vGen = Gen.listOfN(25, Gen.choose(0, 9999).map(_ / 100.0))
    forAllSampled(vGen, 8) { vs =>
      val df = vs.map(("g", _)).toDF("grp", "v")
      val out = Profiling.groupPercentilesCont(df, "grp", "v", Seq(50, 90))
        .collect().head
      def ref(p: Int): Double = {
        val sorted = vs.map(v => math.round(v * 100)).sorted
        val h = (sorted.size - 1).toLong * p
        val lo = (h / 100).toInt
        val m = h % 100
        val hi = if (m > 0) sorted(lo + 1) else sorted(lo)
        (sorted(lo) * (100 - m) + hi * m) / 10000.0
      }
      assert(out.getDouble(2) == ref(50) && out.getDouble(3) == ref(90),
        s"vs=$vs got=(${out.getDouble(2)}, ${out.getDouble(3)}) " +
          s"want=(${ref(50)}, ${ref(90)})")
    }
  }

  test("property: linearAttribution equals a driver-side reference on " +
      "random event streams — window filtering, equal split, remainder " +
      "to the lowest touch_id, and exact 10^6-ppm conservation per " +
      "conversion") {
    import graft.ext.TimeSeries
    val evGen = for {
      n <- Gen.choose(6, 50)
      rows <- Gen.listOfN(n, for {
        user <- Gen.choose(1L, 4L)
        kind <- Gen.oneOf("click", "purchase", "view")
        // seconds across ~20 days so the 7-day window genuinely cuts
        sec <- Gen.choose(0L, 20L * 86400L)
      } yield (user, kind, sec))
    } yield rows
    forAllSampled(evGen, 8) { rows =>
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val df = rows.zipWithIndex.map { case ((u, k, sec), i) =>
        (i.toLong, u, k, new java.sql.Timestamp(base + sec * 1000L))
      }.toDF("event_id", "user_id", "event_type", "ts")
      val got = TimeSeries.linearAttribution(df, "user_id", "ts",
          "event_id", "event_type", "click", "purchase", windowDays = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      // driver-side reference
      val ev = rows.zipWithIndex.map { case ((u, k, sec), i) =>
        (i.toLong, u, k, sec) }
      val winSec = 7L * 86400L
      val convs = ev.filter(_._3 == "purchase")
      val touches = ev.filter(_._3 == "click")
      val perConv = convs.map { case (cid, cu, _, cs) =>
        cid -> touches.filter { case (_, tu, _, ts) =>
          tu == cu && ts <= cs && ts >= cs - winSec }.map(_._1).sorted
      }.filter(_._2.nonEmpty)
      val credits = perConv.flatMap { case (_, tids) =>
        val n = tids.size
        val baseC = 1000000L / n
        val rem = 1000000L % n
        tids.zipWithIndex.map { case (tid, i) =>
          tid -> (baseC + (if (i == 0) rem else 0L)) }
      }
      val want = credits.groupBy(_._1).toSeq.map { case (tid, cs) =>
        (tid, cs.size.toLong, cs.map(_._2).sum) }.sortBy(_._1)
      assert(got == want, s"rows=$rows\ngot=$got\nwant=$want")
      // conservation: totals sum to exactly 10^6 per attributed conv
      assert(got.map(_._3).sum == 1000000L * perConv.size)
    }
  }

  test("property: changepoints equals a driver-side BigInteger argmax " +
      "on random event sets — the emitted digit string is the exact " +
      "score under arbitrary-precision arithmetic, ties break to the " +
      "earliest day") {
    import graft.ext.TimeSeries
    val evGen = for {
      n <- Gen.choose(5, 40)
      rows <- Gen.listOfN(n, for {
        day <- Gen.choose(1, 9)
        grp <- Gen.oneOf("A", "B")
        // money-like 2-dp values, occasionally large
        cents <- Gen.oneOf(Gen.choose(0L, 100000L),
          Gen.choose(0L, 900000000000L))
      } yield (day, grp, cents))
    } yield rows
    forAllSampled(evGen, 8) { rows =>
      val df = rows.zipWithIndex.map { case ((day, grp, cents), i) =>
        (i.toLong,
          java.sql.Timestamp.valueOf(f"2024-03-0$day%d 12:00:00"),
          grp, cents / 100.0)
      }.toDF("event_id", "ts", "event_type", "value")
      val got = TimeSeries.changepoints(df, "event_type", "ts", "value")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2),
          r.getLong(3))).toSeq
      // driver-side reference in BigInteger (no width ceiling at all)
      val want = rows.groupBy(_._2).toSeq.map { case (grp, rs) =>
        val daily = rs.groupBy(_._1).map { case (d, xs) =>
          (d, xs.map(_._3).sum, xs.size.toLong) }.toSeq.sortBy(_._1)
        val sTot = BigInt(daily.map(_._2).sum)
        val nTot = BigInt(daily.map(_._3).sum)
        var c = BigInt(0); var nt = BigInt(0)
        val scored = daily.map { case (d, cents, nDay) =>
          c += cents; nt += nDay
          (d, (nTot * c - nt * sTot).abs)
        }
        val best = scored.maxBy { case (d, s) => (s, BigInt(-d)) }
        (grp, f"2024-03-0${best._1}%d", best._2.toString,
          daily.size.toLong)
      }.sortBy(_._1)
      assert(got == want, s"rows=$rows\ngot=$got\nwant=$want")
    }
  }

  test("property: the round(x,6) portability policy's residual risk " +
      "class is CHARACTERIZED — Spark's string-based HALF_UP and a " +
      "DuckDB-style multiply-based rounding agree everywhere except " +
      "(possibly) within a few ULP of a .5e-6 midpoint, and any " +
      "disagreement is exactly one last-digit step (ADVICE r12)") {
    // DuckDB rounds DOUBLE via multiply/round-half-away/divide; Spark
    // via BigDecimal(Double.toString).setScale(6, HALF_UP). The 6-digit
    // policy (OracleDisciplineSpec rule b) accepts that these can
    // disagree when x*1e6 lands within a hair of a .5 midpoint. This
    // test pins the class: sweep ULP-neighborhoods of midpoints (the
    // worst case) plus off-midpoint controls, in both signs.
    def duckRound(x: Double): Double = {
      val s = x * 1e6
      (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)) / 1e6
    }
    val kGen = Gen.choose(0L, 2000000L)
    val vals = Seq.newBuilder[Double]
    forAllSampled(kGen, 200) { k =>
      val mid = (k + 0.5) / 1e6 // nearest double to the midpoint
      var v = math.nextDown(math.nextDown(mid))
      (0 until 5).foreach { _ => // mid ± 2 ULP sweep
        vals += v; vals += -v; v = math.nextUp(v)
      }
      vals += (k + 0.3) / 1e6 // off-midpoint controls
      vals += -((k + 0.7) / 1e6)
    }
    val vs = vals.result().distinct
    val got = vs.toDF("v")
      .select(col("v"), round(col("v"), 6).as("r"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    var disagreements = 0
    got.foreach { case (v, sparkR) =>
      val duck = duckRound(v)
      if (sparkR != duck) {
        disagreements += 1
        val s = math.abs(v) * 1e6
        val distUlps = math.abs(s - (math.floor(s) + 0.5)) / Math.ulp(s)
        assert(distUlps <= 4.0,
          s"disagreement OUTSIDE the midpoint class: v=$v spark=$sparkR " +
            s"duck=$duck distUlps=$distUlps")
        assert(math.abs(sparkR - duck) <= 1.000001e-6,
          s"disagreement larger than one last-digit step: v=$v " +
            s"spark=$sparkR duck=$duck")
      }
    }
    // the class exists but is rare even under an adversarial sweep —
    // log the measured rate so the residual risk is quantified, not
    // just asserted about
    info(s"round-6 midpoint sweep: ${got.length} values, " +
      s"$disagreements disagreements (all within 4 ULP of a midpoint)")
  }
}
