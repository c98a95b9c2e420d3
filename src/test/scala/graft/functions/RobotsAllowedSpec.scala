package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The Spark surface of the robots gate: SQL registration, agreement
  * with the plain-Scala evaluator row by row, and the codegen path
  * (static-call pattern — the expression must live inside a
  * WholeStageCodegen span, not fall back to interpreted eval).
  */
class RobotsAllowedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val robots =
    "User-agent: graftbot\nDisallow: /private/\nAllow: /private/open/\n" +
      "Disallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"

  test("SQL surface agrees with the plain evaluator over generated paths") {
    import spark.implicits._
    val paths = (0L until 200L).map { i =>
      i % 5 match {
        case 0 => s"/public/$i"
        case 1 => s"/private/$i"
        case 2 => s"/private/open/$i"
        case 3 => s"/files/$i.tmp"
        case _ => s"/files/$i.txt"
      }
    }
    paths.toDF("path").createOrReplaceTempView("_robots_paths")
    val got = spark.sql(
      s"SELECT path, robots_allowed('${robots.replace("\n", "\\n")}', 'graftbot', path) AS ok " +
        "FROM _robots_paths").collect()
    assert(got.length == 200)
    got.foreach { r =>
      val want = graft.operators.Robots.allowed(robots, "graftbot", r.getString(0))
      assert(r.getBoolean(1) == want, s"path ${r.getString(0)}")
    }
    // the unknown agent falls back to the deny-all * group
    val fb = spark.sql(
      s"SELECT robots_allowed('${robots.replace("\n", "\\n")}', 'nobody', '/public/x') AS ok")
      .collect()(0).getBoolean(0)
    assert(!fb)
  }

  test("expression codegens via the static-call pattern") {
    import org.apache.spark.sql.execution.debug._
    // range() always whole-stage-codegens, unlike a LocalTableScan toy plan
    val gen = codegenString(spark.sql(
      "SELECT robots_allowed('User-agent: *\\nDisallow: /x/\\n', 'bot', " +
        "CONCAT('/x/', CAST(id AS STRING))) AS ok FROM range(100)")
      .queryExecution.executedPlan)
    assert(gen.contains("Robots$.MODULE$.allowed"),
      s"robots_allowed missing from generated code:\n${gen.take(2000)}")
  }

  test("url_normalize codegens too (same static-call pattern)") {
    import org.apache.spark.sql.execution.debug._
    val gen = codegenString(spark.sql(
      "SELECT url_normalize(CONCAT('HTTP://H', CAST(id AS STRING), " +
        "'.INVALID:80/p?b=2&a=1#f')) AS u FROM range(100)")
      .queryExecution.executedPlan)
    assert(gen.contains("UrlNormalize$.MODULE$.normalize"),
      s"url_normalize missing from generated code:\n${gen.take(2000)}")
  }
}
