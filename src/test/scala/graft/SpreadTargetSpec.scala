package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The partition probe behind `spreadIfNarrow` and `docIds`: it reads the
  * scan's width off the planned RDD, and refuses a plan whose `toRdd`
  * would run shuffle or broadcast jobs first.
  */
class SpreadTargetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cores = math.max(2, spark.sparkContext.defaultParallelism)

  test("a narrow scan spreads to the core count; a wide one stays as it is") {
    assert(SparkEntry.spreadTarget(spark.range(0, 100, 1, 1).toDF()) == Some(cores))
    assert(SparkEntry.spreadTarget(spark.range(0, 100, 1, cores).toDF()).isEmpty)
  }

  test("inputs with a planned exchange fail the exchange-free precondition") {
    val shuffled = spark.range(0, 100, 1, 1).repartition(3, col("id")).toDF()
    // its sparkPlan holds no Exchange yet: EnsureRequirements adds the shuffle
    val aggregated = spark.range(0, 100, 1, 2).groupBy((col("id") % 7).as("k")).count()
    Seq(shuffled, aggregated).foreach { df =>
      val e = intercept[IllegalArgumentException](SparkEntry.spreadTarget(df))
      assert(e.getMessage.contains("exchange-free"))
    }
  }
}
