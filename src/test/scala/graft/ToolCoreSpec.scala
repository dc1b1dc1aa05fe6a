package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The tool mains' shared core and the driver contract of [[Bench]]. */
class ToolCoreSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  test("jsonString round-trips quote, backslash and control characters " +
      "through a real JSON parser") {
    val s = "say \"hi\" \\ path\nnext\tcol\u0001end"
    assert(json.readValue(ToolCore.jsonString(s), classOf[String]) == s)
  }

  test("query selection keeps the listed order and rejects unknown names " +
      "and empty lists") {
    assert(ToolCore.selectQueries(Some("q_row_counts, q_max_ts,q_row_counts"))
      .map(_._1) == Seq("q_row_counts", "q_max_ts"))
    assert(ToolCore.selectQueries(None).map(_._1).toSet ==
      SparkEntry.queries.keySet)
    val e = intercept[IllegalArgumentException] {
      ToolCore.selectQueries(Some("q_row_counts,q_row_count"))
    }
    assert(e.getMessage.contains("q_row_count"))
    intercept[IllegalArgumentException](ToolCore.selectQueries(Some(" , ")))
  }

  test("the recorder collects every micro-batch's progress of a registered " +
      "stream that runs on a newSession") {
    val spark = TestSpark.spark
    val rec = ToolCore.recorder(spark)
    try {
      val w = ToolCore.measure(spark, rec)(
        SparkEntry.queries("q_ohlc_stream")(spark, TestSpark.Sf0001).count())
      assert(w.rows.isRight, w.rows)
      // one stream, one data micro-batch per staged shard
      assert(w.progress.map(_.id).distinct.size == 1, w.progress.map(_.json))
      assert(w.progress.count(_.numInputRows > 0) == 3, w.progress.map(_.json))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  test("Bench keeps its stdout line and detail-file contract and counts an " +
      "injected failure") {
    val (subsetQ, otherQ) = ("q_row_counts", "q_archive_checksum")
    assert(Bench.BaselineSubset(subsetQ) && !Bench.BaselineSubset(otherQ))
    val detail = java.nio.file.Files.createTempFile("graft_bench_detail", ".json")
    val (code, out) = TestSpark.runMain("graft.Bench", Nil, Map(
      "SPARK_GRAFT_SF_DIR" -> TestSpark.Sf0001,
      "SPARK_GRAFT_ONLY" -> s"$subsetQ,$otherQ",
      "SPARK_GRAFT_FAIL_INJECT" -> otherQ,
      "SPARK_GRAFT_BENCH_DETAIL" -> detail.toString), heap = "2g")
    assert(code == 0, out.mkString("\n"))
    val line = json.readTree(out.last)
    assert(line.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "baseline_subset_s", "baseline_subset_n", "n_queries", "n_failed",
      "failed", "queries", "sf"))
    assert(line.get("n_queries").asInt == 2)
    assert(line.get("n_failed").asInt == 1)
    assert(line.get("failed").elements.asScala.map(_.asText).toSeq == Seq(otherQ))
    assert(line.get("baseline_subset_n").asInt == 1)
    assert(line.get("sf").asText == TestSpark.Sf0001)

    val d = json.readTree(java.nio.file.Files.readString(detail))
    assert(d.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "baseline_subset_s", "baseline_subset_n", "n_failed", "errs", "queries",
      "shuffle_mb", "spill_mb", "gc_ms", "exec_ms", "sched_delay_ms", "jobs",
      "sf"))
    assert(d.get("errs").fieldNames.asScala.toSeq == Seq(otherQ))
    assert(d.get("errs").get(otherQ).asText.contains("SPARK_GRAFT_FAIL_INJECT"))
    Seq("queries", "shuffle_mb", "spill_mb", "gc_ms", "exec_ms",
        "sched_delay_ms", "jobs").foreach { k =>
      assert(d.get(k).fieldNames.asScala.toSet == Set(subsetQ, otherQ), k)
    }
    assert(d.get("jobs").get(subsetQ).asLong > 0L)
  }
}
