package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def topkOf(df: org.apache.spark.sql.DataFrame, k: Int, cap: Int): Seq[(String, Long)] =
    df.agg(GraftFunctions.approx_top_k(col("v"), k, cap).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("exact when capacity >= distinct, regardless of partitioning") {
    import spark.implicits._
    val rows = (0 until 30000).map(i => s"item${i % 20}")
    val expected = rows.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .toSeq.sortBy { case (i, c) => (-c, i) }.take(5)
    Seq(1, 4, 13).foreach { parts =>
      val got = topkOf(spark.createDataset(rows).toDF("v").repartition(parts), 5, 64)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("heavy hitter guarantee under truncation") {
    import spark.implicits._
    // one item at 40% frequency among 5000 distinct tail items, capacity 128
    val rows = (0 until 50000).map(i => if (i % 5 < 2) "HEAVY" else s"tail${i % 5000}")
    val got = topkOf(spark.createDataset(rows).toDF("v").repartition(8), 1, 128)
    assert(got.head._1 == "HEAVY")
    val trueCount = rows.count(_ == "HEAVY").toLong
    // MG undercounts by at most n/capacity
    assert(got.head._2 <= trueCount && got.head._2 >= trueCount - rows.size / 128)
  }

  test("SQL surface and sketch merge across groups") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (s"g${i % 2}", s"w${i % 7}")).toDF("g", "v")
    df.createOrReplaceTempView("tk_t")
    val viaSql = spark.sql(
      "SELECT approx_top_k_mg(v, 3, 32) FROM tk_t").collect()(0).getSeq[Any](0)
    assert(viaSql.length == 3)
    // grouped: each group's counts exact (capacity >= distinct)
    val grouped = df.groupBy("g")
      .agg(GraftFunctions.approx_top_k(col("v"), 7, 32).as("tk"))
      .select(col("g"), explode(col("tk")).as("e"))
      .groupBy("g").agg(sum(col("e.count")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == Map("g0" -> 500L, "g1" -> 500L))
  }
}
