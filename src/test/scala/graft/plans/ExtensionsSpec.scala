package graft.plans

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` deployment path, end to end: a session built
  * from the conf string alone (class name, reflective no-arg construction,
  * classloader lookup) must resolve every graft SQL function without
  * `GraftFunctions.registerAll` and must inject the opt-in COUNT(DISTINCT)
  * rewrite. `spark.sql.extensions` is a static conf read once per JVM, and
  * the test JVM already holds a session, so each case runs
  * [[ExtensionsChild]] in a fresh `java` process.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** Exit code, full output, and the child's `EXT key=value` report. */
  private case class Child(exit: Int, out: String) {
    val report: Map[String, String] = out.linesIterator
      .filter(_.startsWith("EXT ")).map(_.drop(4).split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
  }

  private def runChild(extensions: String): Child = {
    // the launcher reports each --add-opens that build.sbt passed to this
    // JVM in its `--add-opens=module/package=target` form
    val addOpens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens="))
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g") ++ addOpens ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.plans.ExtensionsChild", extensions)
    val log = Files.createTempFile("extensions-child", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).redirectOutput(log.toFile).start()
      if (!p.waitFor(5, TimeUnit.MINUTES)) {
        p.destroyForcibly().waitFor()
        fail(s"child JVM timed out:\n${Files.readString(log, UTF_8)}")
      }
      Child(p.exitValue(), Files.readString(log, UTF_8))
    } finally Files.deleteIfExists(log)
  }

  private def assertExtensionsLive(c: Child): Unit = {
    val n = GraftFunctions.sqlFunctions.size
    assert(c.report.get("resolved").contains(s"$n/$n"),
      s"not every graft function resolved:\n${c.out}")
    assert(c.exit == 0, s"child JVM failed:\n${c.out}")
    assert(c.report("kmv").toDouble == 1234.0)
    assert(math.abs(c.report("hll").toDouble - 1234) / 1234.0 < 0.05)
    assert(c.report("rewrite").toBoolean,
      s"COUNT(DISTINCT) not rewritten to hll_cardinality:\n${c.out}")
  }

  test("spark.sql.extensions=graft.plans.GraftExtensions registers every function and the rewrite") {
    assertExtensionsLive(runChild("graft.plans.GraftExtensions"))
  }

  test("a nonexistent extensions class fails the same checks") {
    // Spark only logs a warning for an unloadable extensions class, so
    // the session builds (and the graft names that shadow Spark built-ins
    // still resolve); the checks above must still catch it
    intercept[TestFailedException](
      assertExtensionsLive(runChild("graft.plans.NoSuchExtensions")))
  }
}

/** Child-JVM side of [[ExtensionsSpec]]: builds a session whose only graft
  * wiring is `spark.sql.extensions=<args(0)>` and prints one
  * `EXT key=value` line per check. Stops at the first SQL that fails to
  * resolve.
  */
object ExtensionsChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", args(0))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      (0 until 5000).map(i => s"u${i % 1234}").toDF("v").createOrReplaceTempView("t")
      val names = GraftFunctions.sqlFunctions.map(_._1)
      val resolved = names.count(n =>
        spark.sessionState.catalog.functionExists(FunctionIdentifier(n)))
      println(s"EXT resolved=$resolved/${names.size}")
      val kmv = spark.sql(
        "SELECT kmv_estimate(kmv_union_agg(sk)) FROM (SELECT kmv_sketch_agg(v, 2048) AS sk FROM t)")
        .collect()(0).getDouble(0)
      println(s"EXT kmv=$kmv")
      val hll = spark.sql("SELECT hll_cardinality(v, 4096) FROM t").collect()(0).getDouble(0)
      println(s"EXT hll=$hll")
      spark.conf.set("spark.graft.rewrite.approxDistinct", "true")
      val plan = spark.sql("SELECT COUNT(DISTINCT v) FROM t").queryExecution.optimizedPlan
      println(s"EXT rewrite=${plan.toString.contains("hll_cardinality")}")
    } finally spark.stop()
  }
}
