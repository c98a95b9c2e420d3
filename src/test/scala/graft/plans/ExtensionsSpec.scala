package graft.plans

import graft.ChildJvm
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

/** How sessions get the engine, end to end: `GraftExtensions` is a
  * `SparkSessionExtensionsProvider` listed in `META-INF/services`, so a
  * plain session must resolve every graft SQL function and inject the
  * opt-in COUNT(DISTINCT) rewrite; naming it in `spark.sql.extensions` as
  * well must change nothing. `spark.sql.extensions` is a static conf read
  * once per JVM, and the test JVM already holds a session, so each case
  * runs [[ExtensionsChild]] in a fresh `java` process.
  */
class ExtensionsSpec extends AnyFunSuite {

  private def assertExtensionsLive(c: ChildJvm.Result): Unit = {
    val report = c.report("EXT")
    val n = GraftFunctions.sqlFunctions.size
    assert(report.get("resolved").contains(s"$n/$n"),
      s"not every graft function resolved:\n${c.out}")
    assert(c.exit == 0, s"child JVM failed:\n${c.out}")
    assert(report("kmv").toDouble == 1234.0)
    assert(math.abs(report("hll").toDouble - 1234) / 1234.0 < 0.05)
    assert(report("rewrite").toBoolean,
      s"COUNT(DISTINCT) not rewritten to hll_cardinality:\n${c.out}")
  }

  test("spark.sql.extensions=graft.plans.GraftExtensions registers every function and the rewrite") {
    assertExtensionsLive(ChildJvm.run("graft.plans.ExtensionsChild", "graft.plans.GraftExtensions"))
  }

  test("a session with no spark.sql.extensions gets every function and the rewrite") {
    assertExtensionsLive(ChildJvm.run("graft.plans.ExtensionsChild"))
  }

  test("a session missing one graft function fails the same checks") {
    intercept[TestFailedException](assertExtensionsLive(
      ChildJvm.run("graft.plans.ExtensionsChild", "", "kmv_sketch_agg")))
  }
}

/** Child-JVM side of [[ExtensionsSpec]]: builds a session with
  * `spark.sql.extensions=<args(0)>` when given and not empty, drops the
  * function `args(1)` when given, and prints one `EXT key=value` line per
  * check. Stops at the first SQL that fails to resolve.
  */
object ExtensionsChild {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    args.headOption.filter(_.nonEmpty).foreach(b.config("spark.sql.extensions", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      args.lift(1).foreach(n => spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
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
