package graft.functions

import graft.functions.GraftFunctions._
import graft.hll.HllSketch
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `hll_cardinality_fast(c, k)` keeps Spark's HLL++ registers in one object
  * buffer; it must stay bit-identical to the builtin it replaced,
  * `approx_count_distinct(c, 1.04/sqrt(2^pFor(k)))`, on every input type the
  * hash distinguishes, on empty and all-null input, and through the sort
  * fallback of ObjectHashAggregate (which serializes and deserializes
  * buffers mid-task).
  */
class HllFastSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Ks = Seq(16, 4096)
  /** At k = 262144 (Spark p = 19) the builtin spends about 40 s per query on
    * its 52,429 buffer columns, so this k runs on the STRING column and the
    * grouped case only.
    */
  private val MaxK = 262144

  private def builtin(c: Column, k: Int): Column =
    approx_count_distinct(c, 1.04 / math.sqrt((1 << HllSketch.pFor(k)).toDouble))

  /** Both aggregates over `df`, each in its own query so the builtin keeps
    * its own plan; asserts equal values and an equal BIGINT non-null schema.
    */
  private def assertSame(df: DataFrame, c: Column, k: Int, groups: Column*): Seq[Row] = {
    def run(agg: Column) = {
      val out = if (groups.isEmpty) df.agg(agg.as("n")) else df.groupBy(groups: _*).agg(agg.as("n"))
      val field = out.schema("n")
      assert(field.dataType == LongType && !field.nullable, s"schema ${out.schema}")
      out.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    val fast = run(hll_cardinality_fast(c, k))
    val want = run(builtin(c, k))
    assert(fast == want, s"k=$k $c")
    fast.map(Row.fromSeq)
  }

  private def estimate(df: DataFrame, c: Column, k: Int): Long =
    assertSame(df, c, k).head.getLong(0)

  test("equals approx_count_distinct on STRING, collated STRING, INT, BIGINT, BINARY") {
    val base = spark.range(0, 30000).repartition(3)
      .select(
        (col("id") % 20011).as("i"),
        concat(lit("User_"), (col("id") % 9001).cast("string")).as("s"),
        // each of 4000 keys in upper and lower case: 4000 distinct under
        // UTF8_LCASE, 8000 under binary collation
        when(col("id") / 4000 % 2 === 0, upper(concat(lit("key"), (col("id") % 4000).cast("string"))))
          .otherwise(concat(lit("key"), (col("id") % 4000).cast("string"))).as("mixed"))
    val df = base.select(
      col("s"),
      collate(col("mixed"), "UTF8_LCASE").as("lcase"),
      col("mixed"),
      col("i").cast("int").as("int"),
      (col("i") * 1000003L).as("bigint"),
      col("s").cast("binary").as("bin"))
    assert(df.schema("lcase").dataType != StringType, "collation did not reach the column type")
    val est = (for (c <- Seq("s", "lcase", "mixed", "int", "bigint", "bin"); k <- Ks)
      yield (c, k) -> estimate(df, col(c), k)).toMap
    assert(est.values.forall(_ > 0))
    assert(estimate(df, col("s"), MaxK) > 0)
    // the collated column really counts case-insensitively
    assert(est(("lcase", 4096)) < est(("mixed", 4096)))
  }

  test("equals approx_count_distinct on DOUBLE with +0.0, -0.0 and NaNs") {
    val specials = Seq(0.0, -0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)
    val values = specials ++ (0 until 5000).map(i => i / 7.0)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)), 3),
      StructType(Seq(StructField("d", DoubleType))))
    for (k <- Ks) assertSame(df, col("d"), k)
    // Spark normalizes the zeros and the NaNs: the specials hash as 5 values
    val onlySpecials = spark.createDataFrame(
      spark.sparkContext.parallelize(specials.map(Row(_)), 2),
      StructType(Seq(StructField("d", DoubleType))))
    assert(estimate(onlySpecials, col("d"), 4096) == 5)
  }

  test("all-null column and empty input both give 0") {
    val df = spark.range(0, 1000).select(lit(null).cast("string").as("s"))
    val empty = spark.range(0, 1000).filter(col("id") < 0).select(col("id").cast("string").as("s"))
    for (k <- Ks) {
      assert(estimate(df, col("s"), k) == 0)
      assert(estimate(empty, col("s"), k) == 0)
    }
    // nulls are skipped, not counted as one more value
    val some = spark.range(0, 1000).select(when(col("id") % 2 === 0, col("id")).as("v"))
    assert(estimate(some, col("v"), 4096) == estimate(some.na.drop(), col("v"), 4096))
  }

  test("grouped: more than 128 groups per task runs the sort fallback and still equals the builtin") {
    for (k <- Ks :+ MaxK) {
      // one input task over 300 groups at MaxK (420 KB per group)
      val nGroups = if (k == MaxK) 300 else 1000
      val df = spark.range(0, 60000).repartition(if (k == MaxK) 1 else 2)
        .select((col("id") % nGroups).as("g"), (col("id") * 7919 % 25013).cast("string").as("v"))
      val rows = assertSame(df, col("v"), k, col("g"))
      assert(rows.size == nGroups)
      val fast = df.groupBy(col("g")).agg(hll_cardinality_fast(col("v"), k).as("n"))
      fast.collect()
      val fellBack = collect(fast.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }
      assert(fellBack.nonEmpty && fellBack.sum > 0, s"no sort fallback in ${fast.queryExecution.executedPlan}")
    }
  }

  test("an rsd the HLL++ helper rejects fails at analysis") {
    val df = spark.range(0, 10).select(col("id").as("v"))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      df.agg(hll_cardinality_fast(col("v"), 2)).collect())
    assert(err.getMessage.contains("HLL++"), err.getMessage)
  }
}
