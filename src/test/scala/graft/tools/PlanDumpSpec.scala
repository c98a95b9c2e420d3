package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF parses comma-separated key=value entries") {
    assert(PlanDump.parseConf("spark.sql.files.maxPartitionBytes=8192,a.b=x=y") ==
      Seq("spark.sql.files.maxPartitionBytes" -> "8192", "a.b" -> "x=y"))
  }

  test("an entry without '=' fails by name") {
    val e = intercept[IllegalArgumentException](
      PlanDump.parseConf("a=1,spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains("'spark.sql.adaptive.enabled'"))
  }
}
