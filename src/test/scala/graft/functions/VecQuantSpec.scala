package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** vec_minmax_agg / vec_quantize8 / vec_dequantize8: calibration equals the
  * brute-force per-dimension extremes under any partitioning, the step/2
  * reconstruction bound holds as a theorem, degenerate and out-of-range
  * inputs behave as documented.
  */
class VecQuantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 4f - 2f)))
  }

  test("calibration equals brute-force extremes, independent of partitioning") {
    import spark.implicits._
    val data = vecs(500, 16, 7L)
    val df = data.toDF("id", "v")
    for (parts <- Seq(1, 7)) {
      val got = df.repartition(parts)
        .agg(GraftFunctions.vec_minmax_agg(col("v")))
        .head.getSeq[org.apache.spark.sql.Row](0)
      assert(got.length == 16)
      for (d <- 0 until 16) {
        val col = data.map(_._2(d).toDouble)
        assert(got(d).getDouble(0) == col.min, s"dim $d min parts=$parts")
        assert(got(d).getDouble(1) == col.max, s"dim $d max parts=$parts")
      }
    }
  }

  test("quantize/dequantize reconstructs within half a step everywhere") {
    import spark.implicits._
    val df = vecs(300, 24, 11L).toDF("id", "v")
    val mm = df.agg(GraftFunctions.vec_minmax_agg(col("v")).as("r"))
    val bad = df.crossJoin(mm)
      .select(col("v").cast("array<double>").as("v"),
        GraftFunctions.vec_dequantize8(
          GraftFunctions.vec_quantize8(col("v"), col("r")), col("r")).as("d"),
        col("r"))
      .select(forall(
        zip_with(
          zip_with(col("v"), col("d"), (a, b) => abs(a - b)),
          transform(col("r"), r => (r.getField("mx") - r.getField("mn")) / lit(510.0) + lit(1e-9)),
          (err, half) => err <= half), x => x).as("ok"))
      .filter(!col("ok")).count()
    assert(bad == 0)
  }

  test("degenerate dimension (mn == mx) codes to 0 and reconstructs mn") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.5f, 1f)), (2L, Seq(3.5f, 2f))).toDF("id", "v")
    val mm = df.agg(GraftFunctions.vec_minmax_agg(col("v")).as("r"))
    val rows = df.crossJoin(mm)
      .select(col("id"), GraftFunctions.vec_dequantize8(
        GraftFunctions.vec_quantize8(col("v"), col("r")), col("r")).as("d"))
      .orderBy("id").collect()
    rows.foreach(r => assert(r.getSeq[Double](1).head == 3.5))
  }

  test("out-of-calibration vectors clamp to the range edges") {
    import spark.implicits._
    val cal = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 1f))).toDF("id", "v")
    val mm = cal.agg(GraftFunctions.vec_minmax_agg(col("v")).as("r"))
    val stray = Seq((9L, Seq(-5f, 9f))).toDF("id", "v")
    val d = stray.crossJoin(mm)
      .select(GraftFunctions.vec_dequantize8(
        GraftFunctions.vec_quantize8(col("v"), col("r")), col("r")))
      .head.getSeq[Double](0)
    assert(d == Seq(0.0, 1.0))
  }

  test("null vector elements are an error, not silent zeros") {
    import spark.implicits._
    val df = Seq((1L, Seq(Some(1f), None, Some(3f))), (2L, Seq(Some(1f), Some(2f), Some(3f))))
      .toDF("id", "v")
    val e = intercept[Exception] {
      df.agg(GraftFunctions.vec_minmax_agg(col("v"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("ragged input is an error, not a silent truncation") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f))).toDF("id", "v")
    val e = intercept[Exception] {
      df.agg(GraftFunctions.vec_minmax_agg(col("v"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("SQL surface round-trips and 4x-compresses") {
    import spark.implicits._
    vecs(100, 32, 3L).toDF("id", "v").createOrReplaceTempView("vq_in")
    val r = spark.sql(
      """WITH cal AS (SELECT vec_minmax_agg(v) AS r FROM vq_in)
        |SELECT MAX(length(vec_quantize8(v, r))) AS nbytes,
        |  MAX(size(vec_dequantize8(vec_quantize8(v, r), r))) AS ndims
        |FROM vq_in, cal""".stripMargin).head
    assert(r.getInt(0) == 32) // 1 byte per dimension (float32 would be 128)
    assert(r.getInt(1) == 32)
  }
}
