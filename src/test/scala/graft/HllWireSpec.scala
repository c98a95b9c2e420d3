package graft

import graft.functions.GraftFunctions
import graft.hll.HllSketch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HllWireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("export/import roundtrip is byte-identical, sparse and dense") {
    for ((k, n) <- Seq((4096, 5), (4096, 20000), (64, 1000))) {
      val s = HllSketch.empty(k)
      (0 until n).foreach(i => s.update(s"item$i"))
      val bytes = s.serialize()
      val roundtrip = spark.range(1).select(
          GraftFunctions.hll_import(GraftFunctions.hll_export(
            lit(bytes))).as("b"))
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(roundtrip, bytes), s"k=$k n=$n")
    }
  }

  test("union of exported register rows imports to the merged sketch") {
    val a = HllSketch.empty(1024)
    val b = HllSketch.empty(1024)
    (0 until 3000).foreach(i => a.update(s"a$i"))
    (2000 until 6000).foreach(i => b.update(s"a$i"))
    val merged = a.copySketch().merge(b)
    // exported rows from both sketches, concatenated in any order
    def rows(s: HllSketch): Seq[(Int, Int)] = {
      val r = s.registers
      r.indices.collect { case i if r(i) != 0 => (i, r(i).toInt) }
    }
    val imported = HllSketch.fromRegisters(1024, 64, "SHA-1",
      (scala.util.Random.shuffle(rows(a) ++ rows(b))).iterator)
    assert(java.util.Arrays.equals(imported.serialize(), merged.serialize()))
    assert(imported.cardinality == merged.cardinality)
  }

  test("import validates range and parameters") {
    intercept[IllegalArgumentException] {
      HllSketch.fromRegisters(1024, 64, "SHA-1", Iterator((1024, 3)))
    }
    intercept[IllegalArgumentException] {
      HllSketch.fromRegisters(1024, 64, "SHA-1", Iterator((0, 0)))
    }
    intercept[IllegalArgumentException] {
      HllSketch.fromRegisters(1024, 64, "SHA-1", Iterator((0, 60)))
    }
    intercept[IllegalArgumentException] {
      HllSketch.fromRegisters(1024, 64, "no-such-hash", Iterator((0, 3)))
    }
    // non-default hash name survives the roundtrip
    val s = HllSketch.empty(4096, 64, "MD5")
    (0 until 500).foreach(i => s.update(s"x$i"))
    val r = s.registers
    val back = HllSketch.fromRegisters(4096, 64, "MD5",
      r.indices.collect { case i if r(i) != 0 => (i, r(i).toInt) }.iterator)
    assert(back.hashName == "MD5")
    assert(java.util.Arrays.equals(back.serialize(), s.serialize()))
  }

  test("wire struct survives as exploded relational rows and re-assembles in SQL") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (s"g${i % 3}", s"u${i % 700}"))
      .toDF("g", "u")
    df.createOrReplaceTempView("wire_src")
    spark.sql(
      """SELECT g, hll_export(hll_sketch_agg(u, 4096)) AS w
        |FROM wire_src GROUP BY g""".stripMargin)
      .createOrReplaceTempView("wire_exported")
    // flatten to plain rows — the cross-engine storage shape
    spark.sql(
      """SELECT g, w.k AS k, w.bits AS bits, w.hash AS hash,
        |       r.idx AS idx, r.rho AS rho
        |FROM wire_exported LATERAL VIEW explode(w.regs) AS r""".stripMargin)
      .createOrReplaceTempView("wire_rows")
    val back = spark.sql(
      """SELECT g, hll_estimate(hll_import(
        |  struct(k, bits, hash, collect_list(struct(idx, rho))))) AS est
        |FROM wire_rows GROUP BY g, k, bits, hash""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = spark.sql(
      """SELECT g, hll_estimate(hll_sketch_agg(u, 4096)) AS est
        |FROM wire_src GROUP BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back == direct && back.size == 3)
  }
}
