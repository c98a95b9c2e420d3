package graft.functions

import graft.functions.GraftFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CountMinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freqData = {
    import spark.implicits._
    // zipf-ish: item i appears (50 - i) times
    (0 until 50).flatMap(i => Seq.fill(50 - i)(s"item_$i")).toDF("v")
  }

  test("exact regime: wide sketch reproduces every exact count") {
    val sk = freqData.agg(cms_sketch_agg(col("v"), 5, 4096).as("sk"))
    val got = freqData.distinct().crossJoin(sk)
      .select(col("v"), cms_query(col("sk"), col("v")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 50).foreach { i =>
      assert(got(s"item_$i") == (50 - i).toLong, s"item_$i")
    }
  }

  test("partition invariance: same sketch bytes regardless of layout") {
    def bytes(parts: Int): Seq[Byte] =
      freqData.repartition(parts)
        .agg(cms_sketch_agg(col("v"), 5, 1024)).collect()(0)
        .getAs[Array[Byte]](0).toSeq
    assert(bytes(1) == bytes(7))
  }

  test("never undercounts, even with a deliberately tiny sketch") {
    val sk = freqData.agg(cms_sketch_agg(col("v"), 3, 8).as("sk"))
    val rows = freqData.groupBy(col("v")).agg(count(lit(1)).as("exact"))
      .crossJoin(sk)
      .select(cms_query(col("sk"), col("v")).as("est"), col("exact"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) >= r.getLong(1),
      s"CMS undercounted: est=${r.getLong(0)} exact=${r.getLong(1)}"))
  }

  test("unseen keys estimate 0 in the exact regime; non-string input coerced") {
    import spark.implicits._
    val sk = freqData.agg(cms_sketch_agg(col("v"), 5, 4096).as("sk"))
    val miss = sk.select(cms_query(col("sk"), lit("never_seen")))
      .collect()(0).getLong(0)
    assert(miss == 0L)
    // long column: coerced through the same str() path as the HLL family
    val nums = Seq(7L, 7L, 8L).toDF("n")
    val skN = nums.agg(cms_sketch_agg(col("n"), 5, 256).as("sk"))
    val seven = skN.select(cms_query(col("sk"), lit(7L))).collect()(0).getLong(0)
    assert(seven == 2L)
  }

  test("SQL registration: cms_sketch_agg + cms_query through spark.sql") {
    freqData.createOrReplaceTempView("cms_in")
    val n = spark.sql(
      """SELECT cms_query(sk, 'item_0') FROM
        |  (SELECT cms_sketch_agg(v, 5, 4096) AS sk FROM cms_in)""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 50L)
  }
}
