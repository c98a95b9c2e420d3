package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries into files — the
  * optimization-round evidence trail (plans/<round>/<query>_<tag>.txt).
  * Usage: runMain graft.tools.PlanDump <tag> <q1>[,<q2>...]
  * Round dir via SPARK_GRAFT_PLANDIR (default plans/r15).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional session confs, e.g. SPARK_GRAFT_CONF="spark.sql.files.maxPartitionBytes=8192"
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach { case (k, v) =>
      spark.conf.set(k, v)
    })
    val tag = args(0)
    val names = args(1).split(",").toSeq
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r15"))
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      println(s"PLANDUMP wrote ${name}_$tag.txt")
    }
    spark.stop()
  }

  /** Comma-separated `key=value` session confs; an entry without `=` is
    * rejected by name.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }
}
