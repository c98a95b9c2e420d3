package graft.functions
// in-package: the wire tests read KmvSketch.values (private[functions])

import graft.functions.{GraftFunctions, KmvSketch}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KmvWireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("export/import roundtrip is byte-identical, below and at capacity") {
    for ((k, n) <- Seq((1024, 5), (1024, 50000), (16, 1000))) {
      val s = new KmvSketch(k)
      (0 until n).foreach(i => s.add(s"item$i"))
      val bytes = s.serialize()
      val roundtrip = spark.range(1).select(
          GraftFunctions.kmv_import(GraftFunctions.kmv_export(
            lit(bytes))).as("b"))
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(roundtrip, bytes), s"k=$k n=$n")
    }
    // the empty sketch (stored all-null-group union output) survives too
    val empty = spark.range(1).select(
        GraftFunctions.kmv_import(GraftFunctions.kmv_export(
          lit(Array.emptyByteArray))).as("b"))
      .collect().head.getAs[Array[Byte]](0)
    assert(empty.isEmpty)
  }

  test("union of exported hash rows imports to the merged sketch") {
    val a = new KmvSketch(256)
    val b = new KmvSketch(256)
    (0 until 3000).foreach(i => a.add(s"a$i"))
    (2000 until 6000).foreach(i => b.add(s"a$i"))
    val merged = {
      val m = KmvSketch.deserialize(a.serialize()); m.merge(b); m
    }
    def hashes(s: KmvSketch): Seq[Long] = {
      val it = s.values.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().longValue()).toSeq
    }
    // concatenated exports, shuffled: import must dedupe + re-trim bottom-k
    val rows = scala.util.Random.shuffle(hashes(a) ++ hashes(b))
    val back = new KmvSketch(256)
    rows.foreach(back.addHash)
    assert(java.util.Arrays.equals(back.serialize(), merged.serialize()))
  }

  test("import validates parameters and hash family") {
    import spark.implicits._
    def imp(k: Int, hash: String, hs: Seq[Long]) =
      Seq((k, hash, hs)).toDF("k", "hash", "hashes")
        .select(GraftFunctions.kmv_import(struct(col("k"), col("hash"), col("hashes"))))
        .collect()
    intercept[Exception](imp(1024, "MURMUR3", Seq(1L, 2L)))
    intercept[Exception](imp(1, "XXH64_42", Seq(1L)))
    intercept[Exception](imp(0, "XXH64_42", Seq(1L)))
    assert(imp(1024, "XXH64_42", Seq(1L, 2L)).length == 1)
  }

  test("wire contents equal the bottom-k of the xxhash64 builtin, in SQL") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (s"g${i % 3}", s"u${i % 700}"))
      .toDF("g", "u")
    df.createOrReplaceTempView("kmv_wire_src")
    // independent SQL reconstruction: distinct xxhash64 values, unsigned
    // bottom-64 via the sign-bit flip, never touching the sketch code
    val rows = spark.sql(
      """SELECT g, kmv_export(kmv_sketch_agg(u, 64)).hashes AS wire,
        |  transform(
        |    slice(array_sort(transform(collect_set(xxhash64(u)),
        |      h -> h ^ -9223372036854775808)), 1, 64),
        |    h -> h ^ -9223372036854775808) AS rebuilt
        |FROM kmv_wire_src GROUP BY g""".stripMargin)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"group ${r.getString(0)}")
    }
    // and the exploded-rows -> SQL re-assembly path (cross-engine storage)
    val est = spark.sql(
      """WITH w AS (
        |  SELECT g, kmv_export(kmv_sketch_agg(u, 64)) AS w
        |  FROM kmv_wire_src GROUP BY g),
        |r AS (SELECT g, w.k AS k, w.hash AS hash, h
        |      FROM w LATERAL VIEW explode(w.hashes) AS h)
        |SELECT g, kmv_estimate(kmv_import(
        |  struct(k, hash, collect_list(h)))) AS est
        |FROM r GROUP BY g, k, hash""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = spark.sql(
      """SELECT g, kmv_estimate(kmv_sketch_agg(u, 64)) AS est
        |FROM kmv_wire_src GROUP BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est == direct && est.size == 3)
  }
}
