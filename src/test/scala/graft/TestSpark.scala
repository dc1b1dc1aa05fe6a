package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Runs `mainClass` in its own JVM on the forked test classpath, with
    * the test JVM's `--add-opens` (Spark needs them outside
    * spark-submit) and `env` added to the inherited environment.
    * Returns the exit code and the stdout lines; stderr is dropped.
    */
  def runMain(mainClass: String, args: Seq[String],
      env: Map[String, String] = Map.empty, heap: String = "1g"): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    val addOpens = in.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, in(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++
      addOpens ++ Seq(s"-Xmx$heap", "-cp", System.getProperty("java.class.path"),
        mainClass) ++ args
    val out = Vector.newBuilder[String]
    val code = scala.sys.process.Process(cmd, None, env.toSeq: _*)
      .run(scala.sys.process.ProcessLogger(l => { out += l; () }, _ => ()))
      .exitValue()
    (code, out.result())
  }
}
