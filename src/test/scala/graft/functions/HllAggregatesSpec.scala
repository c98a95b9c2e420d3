package graft.functions

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** End-to-end Catalyst tests: scan -> partial agg -> exchange -> final agg ->
  * finalize, checking the distributed result matches the reference goldens
  * bit-for-bit (distribution must not change the estimate — the sketch monoid
  * is partition-invariant, generalizing ref test_examples.py:88-98).
  */
class HllAggregatesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def dataTokens: Array[String] = {
    val in = getClass.getResourceAsStream("/data.txt")
    try """-?\d+(?:\.\d+)?""".r.findAllIn(Source.fromInputStream(in, "UTF-8").mkString).toArray
    finally in.close()
  }

  test("hll_cardinality over DataFrame matches reference golden exactly") {
    import spark.implicits._
    val df = spark.createDataset(dataTokens.toSeq).toDF("v").repartition(7)
    val est = df.agg(hll_cardinality(col("v"), 1 << 12).as("est"))
      .collect()(0).getDouble(0)
    assert(est == 645.2579301443818) // ref test_examples.py:86-87
  }

  test("partition invariance: estimate identical across repartitions") {
    import spark.implicits._
    val base = spark.createDataset((0 until 20000).map(i => s"u$i")).toDF("v")
    val ests = Seq(1, 3, 16).map { n =>
      base.repartition(n).agg(hll_cardinality(col("v"), 4096)).collect()(0).getDouble(0)
    }
    assert(ests.distinct.size == 1)
    assert(ests.head == 17339.786613077766) // golden card_sweep_k4096_64_n20000
  }

  test("double input hashes like Python str(float): matches executed-reference golden") {
    import spark.implicits._
    // tools/gen_goldens.py's float section plus the doubles a Formatter-based
    // renderer spelled wrongly; the aggregate's PyStrCoerce must hash the
    // CPython str() forms (1e+16, 9.999e-05, ...) of the corpus, register for
    // register — Spark's CAST AS STRING would diverge on 7 of the fixture
    val fixture = Seq(
      0.1, 1.5, 400.2024, 654941.845, 12345678.0, 1e16, 1.5e16,
      1e-4, 9.999e-5, 5e-324, 1.7976931348623157e308, -0.0, 2.0,
      -273.15, 6.02214076e23, 3.141592653589793, 1e15, 123456789.123)
    def viaPython(ds: Seq[Double]): graft.hll.HllSketch = {
      val h = graft.hll.HllSketch.empty(1 << 12, 64)
      ds.foreach(d => h.update(PythonStrCorpus.pyStr(java.lang.Double.doubleToRawLongBits(d))))
      h
    }
    def viaSpark(df: org.apache.spark.sql.DataFrame): (graft.hll.HllSketch, Double) = {
      val row = df.repartition(3).agg(GraftFunctions.hll_sketch_agg(col("v"), 1 << 12),
        hll_cardinality(col("v"), 1 << 12)).collect()(0)
      (graft.hll.HllSketch.deserialize(row.getAs[Array[Byte]](0)), row.getDouble(1))
    }
    val values = PythonStrCorpus.formatterMisses ++ fixture
    val want = viaPython(values)
    val (sk, est) = viaSpark(spark.createDataset(values).toDF("v"))
    assert(sk.registers.sameElements(want.registers))
    assert(est == want.cardinality)
    // a FLOAT column widens first: its Python strings are the widened doubles'
    val wantF = viaPython(fixture.map(_.toFloat.toDouble))
    val (skF, estF) = viaSpark(spark.createDataset(fixture.map(_.toFloat)).toDF("v"))
    assert(skF.registers.sameElements(wantF.registers))
    assert(estF == wantF.cardinality)
  }

  test("long input hashes like Python str(int): numeric vs string columns agree") {
    import spark.implicits._
    val asLong = spark.createDataset((1L to 5000L)).toDF("v")
    val asStr = spark.createDataset((1L to 5000L).map(_.toString)).toDF("v")
    val a = asLong.agg(hll_cardinality(col("v"), 1024)).collect()(0).getDouble(0)
    val b = asStr.agg(hll_cardinality(col("v"), 1024)).collect()(0).getDouble(0)
    assert(a == b)
  }

  test("grouped estimates + sketch re-aggregation equal direct estimates") {
    import spark.implicits._
    // two-level rollup: sketch per group, union to total — the stored-sketch
    // pattern that avoids rescanning raw data at scale
    val df = spark.createDataset((0 until 9000).map(i => (s"g${i % 3}", s"u${i % 4000}")))
      .toDF("g", "v")
    val direct = df.agg(hll_cardinality(col("v"), 4096)).collect()(0).getDouble(0)
    val viaSketches = df.groupBy("g").agg(GraftFunctions.hll_sketch_agg(col("v"), 4096).as("sk"))
      .agg(hll_estimate(GraftFunctions.hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getDouble(0)
    assert(viaSketches == direct)
    // per-group estimate equals a single-group build
    val g0 = df.filter($"g" === "g0").agg(hll_cardinality(col("v"), 4096)).collect()(0).getDouble(0)
    val grouped = df.groupBy("g").agg(hll_cardinality(col("v"), 4096).as("est"))
      .filter($"g" === "g0").collect()(0).getDouble(1)
    assert(grouped == g0)
  }

  test("SQL registration: same results through spark.sql") {
    import spark.implicits._
    spark.createDataset(dataTokens.toSeq).toDF("v").createOrReplaceTempView("hll_sql_t")
    val est = spark.sql("SELECT hll_cardinality(v, 4096) AS est FROM hll_sql_t")
      .collect()(0).getDouble(0)
    assert(est == 645.2579301443818)
    val viaSketch = spark.sql(
      "SELECT hll_estimate(hll_union_agg(sk)) FROM (SELECT hll_sketch_agg(v, 4096) AS sk FROM hll_sql_t GROUP BY length(v))")
      .collect()(0).getDouble(0)
    assert(viaSketch == 645.2579301443818)
    val err = spark.sql(
      "SELECT hll_error(hll_sketch_agg(v, 4096)) FROM hll_sql_t").collect()(0).getDouble(0)
    assert(math.abs(err - 1.04 / math.sqrt(4096)) < 1e-15)
    // text expressions reachable from SQL too
    val ts = spark.sql(
      "SELECT text_stats('the cat and the hat').n_words, text_stats('a b!').n_punct")
      .collect()(0)
    assert(ts.getInt(0) == 5 && ts.getInt(1) == 1)
    val cr = spark.sql("SELECT compression_ratio('aaaaaaaaaaaaaaaaaaaaaaaa')")
      .collect()(0).getDouble(0)
    assert(cr < 0.5) // repetitive text compresses well
    val br = spark.sql("SELECT bigram_repetition('buy now buy now buy now').dup_bigram_frac")
      .collect()(0).getDouble(0)
    assert(br == 1.0) // every bigram repeats in a pure loop
  }

  test("sparse-path grouped aggregation hits the reference golden at k=2^17") {
    // 3 distinct values in a 2^17-register sketch: the buffer stays sparse
    // through update, serialize, exchange, merge, and finalize — and must
    // still produce the reference's exact golden (test_HyperLogLog.py:170-171)
    import spark.implicits._
    val df = spark.createDataset(Seq("abc", "def", "ghi", "abc", "def"))
      .toDF("v").repartition(3)
    val est = df.agg(hll_cardinality(col("v"), 1 << 17)).collect()(0).getDouble(0)
    assert(est == 3.0000343327992325)
    // grouped: many tiny groups at max precision, each sparse end-to-end
    val g = spark.createDataset((0 until 300).map(i => (i % 100, s"x$i")))
      .toDF("g", "v").repartition(4)
      .groupBy("g").agg(hll_cardinality(col("v"), 1 << 18).as("est"))
      .collect().map(_.getDouble(1))
    val m = (1 << 18).toDouble
    val expected = m * math.log(m / (m - 3.0)) // linear counting, 3 distinct
    assert(g.length == 100 && g.forall(_ == expected))
  }

  test("hll_union scalar merges two sketch values (reference + operator)") {
    import spark.implicits._
    val (l, r) = dataTokens.splitAt(400)
    val df = spark.createDataset(l.toSeq).toDF("v").withColumn("side", lit("l"))
      .union(spark.createDataset(r.toSeq).toDF("v").withColumn("side", lit("r")))
    val sketches = df.groupBy("side").agg(GraftFunctions.hll_sketch_agg(col("v"), 4096).as("sk"))
    val row = sketches.agg(collect_list("sk")).collect()(0).getSeq[Array[Byte]](0)
    val merged = spark.createDataset(Seq((row(0), row(1)))).toDF("a", "b")
      .select(hll_estimate(GraftFunctions.hll_union(col("a"), col("b"))).as("est"))
      .collect()(0).getDouble(0)
    assert(merged == 645.2579301443818)
  }

  test("32-bit variant reachable and parity-exact") {
    import spark.implicits._
    val df = spark.createDataset(dataTokens.toSeq).toDF("v")
    val est = df.agg(hll_cardinality(col("v"), 250, 32)).collect()(0).getDouble(0)
    assert(est == 695.1859783711712) // ref test_HyperLogLog.py:178 golden
  }

  test("empty input edge cases: estimate 0.0, null sketch union, null scalars") {
    import spark.implicits._
    val empty = spark.createDataset(Seq.empty[String]).toDF("v")
    // aggregate over zero rows: empty sketch -> estimate 0.0 (ref: V=m path)
    val est = empty.agg(hll_cardinality(col("v"), 16)).collect()(0).getDouble(0)
    assert(est == 0.0)
    // hll_union_agg over zero rows -> null sketch; hll_estimate(null) -> null
    val u = empty.withColumn("sk", lit(null).cast("binary"))
      .agg(GraftFunctions.hll_union_agg(col("sk")).as("u"))
      .select(hll_estimate(col("u")))
      .collect()(0)
    assert(u.isNullAt(0))
    // hll_union with one null side -> null (binary expression null semantics)
    val df = spark.createDataset(Seq("x")).toDF("v")
      .agg(GraftFunctions.hll_sketch_agg(col("v"), 16).as("sk"))
      .select(hll_estimate(GraftFunctions.hll_union(col("sk"), lit(null).cast("binary"))))
      .collect()(0)
    assert(df.isNullAt(0))
  }

  test("nulls are skipped (SQL aggregate semantics)") {
    import spark.implicits._
    val df = spark.createDataset(Seq(Some("a"), None, Some("b"), None, Some("a")))
      .toDF("v")
    val withNulls = df.agg(hll_cardinality(col("v"), 16)).collect()(0).getDouble(0)
    val without = df.na.drop().agg(hll_cardinality(col("v"), 16)).collect()(0).getDouble(0)
    assert(withNulls == without)
  }

  test("jaccard estimate tracks true overlap on controlled sets") {
    import spark.implicits._
    // A = [0, 1200), B = [800, 2000): |A∩B| = 400, |A∪B| = 2000, J = 0.2.
    // Cardinalities kept inside the linear-counting regime at p=12
    // (threshold 3100) — the raw-minus-bias region reproduces the
    // reference's documented mid-range bias and would swamp the ratio.
    val a = spark.range(0, 1200).toDF("v")
      .agg(GraftFunctions.hll_sketch_agg(col("v"), 1 << 12).as("sk_a"))
    val b = spark.range(800, 2000).toDF("v")
      .agg(GraftFunctions.hll_sketch_agg(col("v"), 1 << 12).as("sk_b"))
    val j = a.crossJoin(b)
      .select(GraftFunctions.hll_jaccard_estimate(col("sk_a"), col("sk_b")))
      .collect()(0).getDouble(0)
    assert(math.abs(j - 0.2) < 0.05, s"jaccard estimate $j too far from 0.2")
    // disjoint sets: estimate must sit near zero
    val c = spark.range(10000, 11200).toDF("v")
      .agg(GraftFunctions.hll_sketch_agg(col("v"), 1 << 12).as("sk_b"))
    val j0 = a.crossJoin(c)
      .select(GraftFunctions.hll_jaccard_estimate(col("sk_a"), col("sk_b")))
      .collect()(0).getDouble(0)
    assert(math.abs(j0) < 0.05, s"disjoint jaccard estimate $j0 not near 0")
  }

  test("Spark's own hll_sketch_agg binary fails graft's estimate and union by name") {
    // hll_sketch_agg, hll_union_agg and hll_union are also Spark built-ins
    // (DataSketches HLL). Every session resolves the SQL names to graft, so
    // Spark's binary comes from its own expression class; it is a different
    // format, which graft's Column functions must refuse
    assert(spark.catalog.getFunction("hll_sketch_agg").className == "graft")
    val sk = spark.range(1000).agg(GraftShims.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(
        GraftShims.expression(col("id"))).toAggregateExpression()).as("sk"))
    for ((name, use) <- Seq[(String, Column => Column)](
        "hll_estimate" -> (c => GraftFunctions.hll_estimate(c)),
        "hll_union_agg" ->
          (c => GraftFunctions.hll_estimate(GraftFunctions.hll_union_agg(c))))) {
      val e = intercept[Exception](sk.select(use(col("sk"))).collect())
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(named.isDefined, s"$name: no IllegalArgumentException in $e")
      // the sketch header's k field: DataSketches bytes decode to no valid k
      assert(named.get.getMessage.contains("should be in range"), s"$name: ${named.get}")
    }
  }
}
