package graft.functions

import graft.functions.GraftFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 10k deterministic pseudo-uniform doubles in [0, 1)
  private def data = {
    import spark.implicits._
    (0 until 10000).map(i => (i % 7, ((i * 2654435761L) % 100000) / 100000.0))
      .toDF("g", "v")
  }

  test("stored-sketch quantiles land within the GK rank-error bound") {
    val sk = data.agg(gk_sketch_agg(col("v"), 0.01).as("gk"))
    val got = sk.select(
      gk_quantile(col("gk"), lit(0.5)).as("p50"),
      gk_quantile(col("gk"), lit(0.9)).as("p90")).collect()(0)
    // uniform [0,1): quantile q sits near q; rank error 1% plus discreteness
    assert(math.abs(got.getDouble(0) - 0.5) < 0.03, s"p50=${got.getDouble(0)}")
    assert(math.abs(got.getDouble(1) - 0.9) < 0.03, s"p90=${got.getDouble(1)}")
  }

  test("per-group sketches union to the same answer as one direct sketch") {
    val direct = data.agg(gk_sketch_agg(col("v"), 0.01).as("gk"))
      .select(gk_quantile(col("gk"), lit(0.5))).collect()(0).getDouble(0)
    val merged = data.groupBy(col("g"))
      .agg(gk_sketch_agg(col("v"), 0.01).as("gk"))
      .agg(gk_union_agg(col("gk")).as("gk"))
      .select(gk_quantile(col("gk"), lit(0.5))).collect()(0).getDouble(0)
    // both carry the same epsilon guarantee; allow both errors end to end
    assert(math.abs(direct - merged) < 0.05, s"direct=$direct merged=$merged")
  }

  test("empty input and null handling") {
    import spark.implicits._
    val empty = Seq.empty[Double].toDF("v")
      .agg(gk_sketch_agg(col("v")).as("gk"))
      .select(gk_quantile(col("gk"), lit(0.5))).collect()(0)
    assert(empty.isNullAt(0))
    val withNulls = Seq(Some(1.0), None, Some(3.0)).toDF("v")
      .agg(gk_sketch_agg(col("v")).as("gk"))
      .select(gk_quantile(col("gk"), lit(1.0))).collect()(0).getDouble(0)
    assert(withNulls == 3.0)
  }

  test("SQL registration: gk family through spark.sql") {
    data.createOrReplaceTempView("gk_in")
    val p50 = spark.sql(
      """SELECT gk_quantile(gk_union_agg(gk), 0.5) FROM
        |  (SELECT g, gk_sketch_agg(v, 0.01) AS gk FROM gk_in GROUP BY g)""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(p50 - 0.5) < 0.05)
  }
}
