package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (and the oracle json
    // below) for local iteration; the driver never sets it.
    val selected = ToolCore.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = ToolCore.session()
    new java.io.File(outDir).mkdirs()
    // Schema canary first (footer-only, seconds): if the driver
    // regenerated fixtures incompatibly, name the drifted column at the
    // top of the log instead of letting every query fail cryptically.
    graft.model.FixtureCheck.driftAll(spark, sfDir)
      .foreach(m => System.err.println(s"[verify] FIXTURE DRIFT: $m"))
    var nFailed = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Loud summary (r9): a dump with missing queries must be
    // unmistakable in the log tail, not inferred from absent dirs.
    if (nFailed > 0)
      System.err.println(s"[verify] n_failed=$nFailed — $nFailed quer" +
        s"${if (nFailed == 1) "y" else "ies"} produced NO output above")
    else System.err.println("[verify] n_failed=0")
    val wanted = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${ToolCore.jsonString(k)}: ${ToolCore.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
