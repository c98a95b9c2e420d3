package graft.functions

import graft.functions.GraftFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KmvSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("zero-copy UTF8String hash equals the String-path hash") {
    import org.apache.spark.unsafe.types.UTF8String
    Seq("", "a", "hello world", "naïve café 日本語 🚀", "x" * 1000).foreach { s =>
      assert(KmvSketch.hash64(s) == KmvSketch.hash64(UTF8String.fromString(s)), s)
    }
  }

  test("exact below capacity: estimate is the precise distinct count") {
    val s = new KmvSketch(1024)
    (0 until 500).foreach(i => s.add(s"v$i"))
    (0 until 500).foreach(i => s.add(s"v$i")) // duplicates change nothing
    assert(s.estimate == 500.0)
  }

  test("estimating regime: 100k distinct within the 1/sqrt(k) band") {
    val s = new KmvSketch(1024)
    (0 until 100000).foreach(i => s.add(s"item_$i"))
    val rel = math.abs(s.estimate - 100000.0) / 100000.0
    // RSE ~ 1/sqrt(k-2) = 3.1%; 3 sigma
    assert(rel < 0.094, s"rel err $rel")
  }

  test("merge equals the sketch of the union; commutative and idempotent") {
    def build(lo: Int, hi: Int): KmvSketch = {
      val s = new KmvSketch(256)
      (lo until hi).foreach(i => s.add(s"x$i"))
      s
    }
    val direct = build(0, 3000)
    val ab = build(0, 2000).merge(build(1000, 3000))
    val ba = build(1000, 3000).merge(build(0, 2000))
    assert(ab.serialize().toSeq == direct.serialize().toSeq)
    assert(ba.serialize().toSeq == direct.serialize().toSeq)
    assert(ab.merge(build(0, 3000)).serialize().toSeq == direct.serialize().toSeq)
  }

  test("serde round-trip; truncated and corrupt buffers rejected") {
    val s = new KmvSketch(64)
    (0 until 1000).foreach(i => s.add(s"r$i"))
    val bytes = s.serialize()
    val back = KmvSketch.deserialize(bytes)
    assert(back.serialize().toSeq == bytes.toSeq)
    assert(back.estimate == s.estimate)
    intercept[IllegalArgumentException](KmvSketch.deserialize(bytes.take(bytes.length - 3)))
    intercept[IllegalArgumentException](KmvSketch.deserialize(Array[Byte](1, 2, 3)))
  }

  test("disjoint sets: intersection and jaccard are exactly zero") {
    val a = new KmvSketch(128)
    val b = new KmvSketch(128)
    (0 until 10000).foreach(i => a.add(s"a$i"))
    (0 until 10000).foreach(i => b.add(s"b$i"))
    assert(KmvSketch.jaccard(a, b) == 0.0)
    assert(KmvSketch.intersectEstimate(a, b) == 0.0)
  }

  test("overlap below capacity: jaccard and intersection are exact") {
    val a = new KmvSketch(1024)
    val b = new KmvSketch(1024)
    (0 until 600).foreach(i => a.add(s"k$i"))       // A = [0, 600)
    (300 until 900).foreach(i => b.add(s"k$i"))     // B = [300, 900), |A∩B|=300
    assert(KmvSketch.jaccard(a, b) == 300.0 / 900.0)
    assert(KmvSketch.intersectEstimate(a, b) == 300.0)
  }

  test("difference below capacity is exact; disjoint gives |A|; subset gives 0") {
    def build(k: Int, items: Range): KmvSketch = {
      val s = new KmvSketch(k)
      items.foreach(i => s.add(s"d$i"))
      s
    }
    val a = build(1024, 0 until 600)
    val b = build(1024, 400 until 900)
    assert(KmvSketch.differenceEstimate(a, b) == 400.0) // exact regime
    assert(KmvSketch.differenceEstimate(b, a) == 300.0) // {600..900}
    val disjoint = build(1024, 10000 until 10400) // union 1000 < k: exact
    assert(KmvSketch.differenceEstimate(a, disjoint) == 600.0)
    val superset = build(1024, 0 until 1000)
    assert(KmvSketch.differenceEstimate(a, superset) == 0.0) // A ⊆ B
    assert(KmvSketch.differenceEstimate(a, a) == 0.0)
  }

  test("difference in the estimating regime: union-relative 3-sigma band") {
    def big(lo: Int, hi: Int): KmvSketch = {
      val s = new KmvSketch(1024)
      (lo until hi).foreach(i => s.add(s"big$i"))
      s
    }
    val a = big(0, 60000)      // |A \ B| = 20000
    val b = big(20000, 80000)  // union = 80000
    val est = KmvSketch.differenceEstimate(a, b)
    assert(math.abs(est - 20000.0) / 80000.0 < 0.094,
      s"difference est $est vs 20000 (union 80000)")
    // partition identity: the three disjoint classes of the SAME merged
    // sample must sum to its union estimate (up to fp rounding)
    val total = est + KmvSketch.intersectEstimate(a, b) +
      KmvSketch.differenceEstimate(b, a)
    val u = KmvSketch.unionEstimate(a, b)
    assert(math.abs(total - u) / u < 1e-12, s"partition identity: $total vs $u")
  }

  test("n-way intersection: exact below capacity, matches pair path at n=2") {
    def build(items: Range): KmvSketch = {
      val s = new KmvSketch(1024)
      items.foreach(i => s.add(s"n$i"))
      s
    }
    val a = build(0 until 400)
    val b = build(200 until 600)
    val c = build(300 until 700)
    // union 700 < k: everything exact. a∩b∩c = {300..400} = 100
    assert(KmvSketch.intersectAllEstimate(Seq(a, b, c)) == 100.0)
    // n=2 reduces to the pair estimator bit-for-bit
    assert(KmvSketch.intersectAllEstimate(Seq(a, b)) ==
      KmvSketch.intersectEstimate(a, b))
    val disjoint = build(5000 until 5200)
    assert(KmvSketch.intersectAllEstimate(Seq(a, b, disjoint)) == 0.0)
    // estimating regime: 3-sigma union-relative band
    def big(lo: Int, hi: Int): KmvSketch = {
      val s = new KmvSketch(1024)
      (lo until hi).foreach(i => s.add(s"m$i"))
      s
    }
    val x = big(0, 50000)
    val y = big(20000, 70000)
    val z = big(30000, 80000)  // x∩y∩z = {30000..50000} = 20000, union 80000
    val est = KmvSketch.intersectAllEstimate(Seq(x, y, z))
    assert(math.abs(est - 20000.0) / 80000.0 < 0.094, s"3-way est $est")
  }

  test("large-overlap estimate tracks truth within 3 sigma") {
    val a = new KmvSketch(1024)
    val b = new KmvSketch(1024)
    (0 until 60000).foreach(i => a.add(s"k$i"))     // A = [0, 60k)
    (30000 until 90000).foreach(i => b.add(s"k$i")) // |A∩B|=30k, |A∪B|=90k
    val jErr = math.abs(KmvSketch.jaccard(a, b) - 30000.0 / 90000.0)
    // binomial sample of k'=1024 union positions: 3*sqrt(J(1-J)/k) ~ 0.044
    assert(jErr < 0.06, s"jaccard err $jErr")
    val iErr = math.abs(KmvSketch.intersectEstimate(a, b) - 30000.0) / 90000.0
    assert(iErr < 0.1, s"intersect err (union-relative) $iErr")
  }

  test("partition invariance: same sketch bytes regardless of layout") {
    import spark.implicits._
    val df = (0 until 5000).map(i => s"u${i % 1700}").toDF("v")
    def bytes(parts: Int): Seq[Byte] =
      df.repartition(parts).agg(kmv_sketch_agg(col("v"), 256)).collect()(0)
        .getAs[Array[Byte]](0).toSeq
    assert(bytes(1) == bytes(7))
  }

  test("dataframe + SQL surface: build, store, re-aggregate, estimate") {
    import spark.implicits._
    val df = (0 until 3000).map(i => (i % 10, s"u${i % 1300}")).toDF("g", "v")
    df.createOrReplaceTempView("kmv_in")
    // per-group sketches stored, then re-merged: same answer as one global
    val reagg = spark.sql(
      """SELECT kmv_estimate(kmv_union_agg(sk)) AS est FROM (
        |  SELECT g, kmv_sketch_agg(v, 2048) AS sk FROM kmv_in GROUP BY g)""".stripMargin)
      .collect()(0).getDouble(0)
    assert(reagg == 1300.0) // below capacity: exact
    val direct = df.agg(kmv_estimate(kmv_sketch_agg(col("v"), 2048)))
      .collect()(0).getDouble(0)
    assert(direct == 1300.0)
  }

  test("set ops against an all-null-group (0-byte) sketch read as the empty set") {
    import spark.implicits._
    val real = (0 until 100).map(i => s"v$i").toDF("v")
      .agg(kmv_sketch_agg(col("v"), 64).as("sk"))
    // one group with a real sketch, one whose kmv_union_agg saw only nulls
    val empty = Seq((1, null: Array[Byte])).toDF("g", "raw")
      .groupBy(col("g")).agg(kmv_union_agg(col("raw")).as("sk_e"))
    val r = real.crossJoin(empty).select(
      kmv_jaccard(col("sk"), col("sk_e")).as("j"),
      kmv_intersect_estimate(col("sk"), col("sk_e")).as("ix"),
      kmv_estimate(col("sk_e")).as("e"))
      .collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
  }

  test("stored union-agg outputs re-aggregate, including 0-byte empty-group values") {
    import spark.implicits._
    // a real per-group sketch plus the 0-byte output kmv_union_agg emits
    // for an all-null group — both must flow through a SECOND union_agg
    val real = (0 until 50).map(i => (1, s"s$i")).toDF("g", "v")
      .groupBy(col("g")).agg(kmv_sketch_agg(col("v"), 128).as("sk"))
      .select(col("sk"))
    val withEmpty = real
      .union(Seq((1, null: Array[Byte])).toDF("g", "raw")
        .groupBy(col("g")).agg(kmv_union_agg(col("raw")).as("sk"))
        .select(col("sk")))
    val est = withEmpty.agg(kmv_estimate(kmv_union_agg(col("sk"))))
      .collect()(0).getDouble(0)
    assert(est == 50.0)
  }

  test("union_agg over an empty/all-null group estimates 0") {
    import spark.implicits._
    Seq((1, null: Array[Byte])).toDF("g", "sk").createOrReplaceTempView("kmv_null")
    val est = spark.sql(
      "SELECT kmv_estimate(kmv_union_agg(sk)) FROM kmv_null GROUP BY g")
      .collect()(0).getDouble(0)
    assert(est == 0.0)
  }
}
