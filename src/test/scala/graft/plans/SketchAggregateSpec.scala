package graft.plans

import graft.ChildJvm
import graft.functions.{CmsSketch, HllSketchAgg, KmvSketch, VecMinMax}
import graft.functions.GraftFunctions._
import graft.hll.HllSketch
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions.{array, col, concat, count, lit, when}
import org.apache.spark.sql.graftshim.GraftShims
import org.scalatest.funsuite.AnyFunSuite

/** Grouped sketch builds and unions run in [[SketchPartialAggregateExec]]
  * and [[SketchFinalAggregateExec]], and what they produce equals sketches
  * built on the driver, with and without flushes and hand-overs.
  */
class SketchAggregateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def assertAllEqual(results: Seq[SketchPartialChecks.Result]): Unit =
    results.foreach { r =>
      assert(r.partials >= 1, s"${r.name}: no SketchPartialAggregate ran")
      assert(r.finals >= 1, s"${r.name}: no SketchFinalAggregate ran")
      assert(r.groups == r.want, s"${r.name}: ${r.groups} groups, want ${r.want}")
      assert(r.mismatched == 0, s"${r.name}: ${r.mismatched} groups differ from the driver's")
    }

  test("grouped HLL, KMV, CMS and vec_minmax builds and unions equal driver-side sketches") {
    assertAllEqual(SketchPartialChecks.run(spark))
  }

  test("under a small execution memory the partial flushes, the final hands over, results equal") {
    val c = ChildJvm.run("graft.plans.SketchAggregateChild")
    assert(c.exit == 0, s"child JVM failed:\n${c.out}")
    // 4 shuffle partitions write through BypassMergeSortShuffleWriter, 201
    // through UnsafeShuffleWriter, whose sorter asks the task for memory
    // while the partial hands out its keys
    for (parts <- SketchAggregateChild.Partitions) {
      val tag = s"SPA $parts "
      val results = c.out.linesIterator.filter(_.startsWith(tag)).map(l =>
        SketchPartialChecks.Result.parse(l.drop(tag.length))).toSeq
      assert(results.map(_.name) == SketchPartialChecks.Names, c.out)
      assertAllEqual(results)
      results.foreach(r => assert(r.flushes > 0, s"${r.name}: the partial never flushed:\n${c.out}"))
      results.foreach(r => assert(r.handedOver > 0, s"${r.name}: the final never handed over:\n${c.out}"))
    }
  }

  test("top-k, GK, global, filtered and mixed aggregates keep Spark's ObjectHashAggregates") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i % 300, s"u$i", i.toDouble)).toDF("g", "v", "x")
    val keep = Seq(
      df.groupBy(col("g")).agg(topk_sketch_agg(col("v"))),
      df.groupBy(col("g")).agg(approx_top_k(col("v"))),
      df.groupBy(col("g")).agg(gk_sketch_agg(col("x"))),
      df.agg(hll_sketch_agg(col("v"))),
      // the SQL builders reject FILTER, so the clause is built directly
      df.groupBy(col("g")).agg(GraftShims.column(HllSketchAgg(GraftShims.expression(col("v")))
        .toAggregateExpression(isDistinct = false, filter = Some(GraftShims.expression(col("x") > 500))))),
      df.groupBy(col("g")).agg(hll_sketch_agg(col("v")), count(lit(1))))
    keep.foreach { k =>
      k.collect()
      val p = k.queryExecution.executedPlan
      assert(collect(p) { case s: SketchPartialAggregateExec => s }.isEmpty, s"$p")
      assert(collect(p) { case s: SketchFinalAggregateExec => s }.isEmpty, s"$p")
      assert(collect(p) { case o: ObjectHashAggregateExec => o }.size == 2, s"$p")
    }
  }
}

/** The checks both the test JVM and [[SketchAggregateChild]] run: each family
  * grouped over 10,000 keys from 4 input partitions (every key in every
  * partition), compared group by group with sketches built on the driver
  * from the same rows.
  */
object SketchPartialChecks {
  /** What one aggregate produced: groups out, groups expected, groups
    * whose value differs from the driver's, partial nodes and their
    * flushes, final nodes and their tasks handed to Spark's aggregate.
    */
  final case class Result(name: String, groups: Int, want: Int, mismatched: Int,
      partials: Int, flushes: Long, finals: Int, handedOver: Long) {
    override def toString: String =
      s"$name $groups $want $mismatched $partials $flushes $finals $handedOver"
  }
  object Result {
    def parse(s: String): Result = s.split(" ") match {
      case Array(n, g, w, m, p, f, fi, h) =>
        Result(n, g.toInt, w.toInt, m.toInt, p.toInt, f.toLong, fi.toInt, h.toLong)
    }
  }

  val Names = Seq("hll", "kmv", "cms", "vec_minmax", "hll_union", "kmv_union", "cms_union")

  private val Rows = 60000
  private val Groups = 10000
  private val Coarse = 1000
  private val K = 4096
  private val KmvK = 256
  private val (depth, width) = (2, 64)

  private def element(i: Int): String = s"u${i % 7919}"
  /** Dimension 0 holds both zeros and no negative value, dimension 1 the
    * same negated, so their min and max are a zero whose sign must not
    * depend on the order rows and partials meet in.
    */
  private def vec(i: Int): Array[Double] = {
    val d0 = if (i % 3 == 0) -0.0 else if (i % 3 == 1) 0.0 else (i % 11).toDouble
    Array(d0, -d0, (i.toLong * 2654435761L % 1000) / 7.0)
  }

  private def rows(spark: SparkSession): DataFrame = {
    val id = col("id")
    val d0 = when(id % 3 === 0, lit(-0.0)).when(id % 3 === 1, lit(0.0))
      .otherwise((id % 11).cast("double"))
    spark.range(0, Rows, 1, 4).select(
      (id % Groups).cast("int").as("g"),
      concat(lit("u"), (id % 7919).cast("string")).as("v"),
      array(d0, -d0, (id * 2654435761L % 1000) / 7.0).as("vec"))
  }

  /** Driver-side value per group: serialized sketch bytes, or the raw bits
    * of vec_minmax's (min, max) pairs.
    */
  private def driver[S](groupOf: Int => Int, empty: => S, add: (S, Int) => Unit,
      out: S => Seq[Byte]): Map[Int, Seq[Byte]] = {
    val by = scala.collection.mutable.HashMap.empty[Int, S]
    (0 until Rows).foreach(i => add(by.getOrElseUpdate(groupOf(i), empty), i))
    by.map { case (g, s) => g -> out(s) }.toMap
  }

  private def minMaxBits(mins: Seq[Double], maxs: Seq[Double]): Seq[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 * mins.length)
    mins.zip(maxs).foreach { case (a, b) =>
      bb.putLong(java.lang.Double.doubleToRawLongBits(a)).putLong(java.lang.Double.doubleToRawLongBits(b))
    }
    bb.array().toSeq
  }

  def run(spark: SparkSession): Seq[Result] = {
    val df = rows(spark)
    val fine = (i: Int) => i % Groups
    val coarse = (i: Int) => i % Groups % Coarse
    val hll = driver[HllSketch](_, HllSketch.empty(K), (s, i) => s.update(element(i)), _.serialize().toSeq)
    val kmv = driver[KmvSketch](_, new KmvSketch(KmvK), (s, i) => s.add(element(i)), _.serialize().toSeq)
    val cms = driver[CmsSketch](_, new CmsSketch(depth, width), (s, i) => s.add(element(i)), _.serialize().toSeq)
    val vm = driver[VecMinMax](fine, new VecMinMax,
      (s, i) => s.update(new GenericArrayData(vec(i).map(x => x: Any)), isFloat = false),
      s => minMaxBits(s.mins.toSeq, s.maxs.toSeq))

    val built = df.groupBy(col("g")).agg(
      hll_sketch_agg(col("v"), K).as("hll"),
      kmv_sketch_agg(col("v"), KmvK).as("kmv"),
      cms_sketch_agg(col("v"), depth, width).as("cms"))
    val stored = built.withColumn("c", col("g") % Coarse)
    val bytes = (r: Row) => r.getAs[Array[Byte]](1).toSeq
    val minMax = (r: Row) => {
      val ps = r.getSeq[Row](1)
      minMaxBits(ps.map(_.getDouble(0)), ps.map(_.getDouble(1)))
    }
    Seq(
      ("hll", built.select(col("g"), col("hll")), hll(fine), bytes),
      ("kmv", built.select(col("g"), col("kmv")), kmv(fine), bytes),
      ("cms", built.select(col("g"), col("cms")), cms(fine), bytes),
      ("vec_minmax", df.groupBy(col("g")).agg(vec_minmax_agg(col("vec"))), vm, minMax),
      ("hll_union", stored.groupBy(col("c")).agg(hll_union_agg(col("hll"))), hll(coarse), bytes),
      ("kmv_union", stored.groupBy(col("c")).agg(kmv_union_agg(col("kmv"))), kmv(coarse), bytes),
      ("cms_union", stored.groupBy(col("c")).agg(cms_union_agg(col("cms"))), cms(coarse), bytes)
    ).map { case (name, q, want, value) =>
      val got = q.collect().map(r => r.getInt(0) -> value(r)).toMap
      val plan = q.queryExecution.executedPlan
      val partials = AdaptiveSparkPlanHelperOf.collect(plan) { case s: SketchPartialAggregateExec => s }
      val finals = AdaptiveSparkPlanHelperOf.collect(plan) { case s: SketchFinalAggregateExec => s }
      Result(name, got.size, want.size, want.count { case (g, v) => !got.get(g).contains(v) },
        partials.size, partials.map(_.metrics("numFlushes").value).sum,
        finals.size, finals.map(_.metrics("numHandedOver").value).sum)
    }
  }

  private object AdaptiveSparkPlanHelperOf extends AdaptiveSparkPlanHelper
}

/** Child-JVM side of the flush test: a session whose execution memory is
  * about 1.2 MB for its two task slots, so every partial aggregate of
  * [[SketchPartialChecks]] is refused memory and flushes, and every final
  * one hands its task to Spark's aggregate. Runs the checks at each of
  * [[Partitions]] shuffle partitions and prints one
  * `SPA <partitions> <result>` line per aggregate.
  */
object SketchAggregateChild {
  val Partitions = Seq(4, 201)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.testing.memory", (2L << 20).toString)
      .config("spark.testing.reservedMemory", "0")
      .config("spark.buffer.pageSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Partitions.foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      SketchPartialChecks.run(spark).foreach(r => println(s"SPA $parts $r"))
    } finally spark.stop()
  }
}
