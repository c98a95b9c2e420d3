package graft.functions
// in-package: the wire tests read CmsSketch.counts directly

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CMS row wire (WIRE.md): sparse cell export/import, additive fold on
  * duplicate cells (= element-wise merge), and the positions handshake that
  * lets a murmur-less engine replay point queries from exported rows.
  */
class CmsWireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def build(depth: Int, width: Int, items: Seq[String]): CmsSketch = {
    val s = new CmsSketch(depth, width)
    items.foreach(s.add(_))
    s
  }

  test("export/import roundtrip is byte-identical; export is sparse") {
    for ((depth, width, n) <- Seq((5, 2048, 100), (3, 64, 5000), (1, 2, 10))) {
      val s = build(depth, width, (0 until n).map(i => s"item${i % 700}"))
      val bytes = s.serialize()
      val row = spark.range(1).select(
          GraftFunctions.cms_import(GraftFunctions.cms_export(lit(bytes))).as("b"),
          size(GraftFunctions.cms_export(lit(bytes)).getField("cells")).as("nc"))
        .collect().head
      assert(java.util.Arrays.equals(row.getAs[Array[Byte]](0), bytes),
        s"depth=$depth width=$width")
      val nonZero = s.counts.count(_ != 0L)
      assert(row.getInt(1) == nonZero) // only non-zero cells on the wire
      assert(nonZero <= math.min(depth * width, depth * 700))
    }
  }

  test("concatenated exports import to the merged sketch (additive fold)") {
    val a = build(5, 256, (0 until 3000).map(i => s"a${i % 90}"))
    val b = build(5, 256, (0 until 2000).map(i => s"a${i % 130}"))
    val merged = CmsSketch.deserialize(a.serialize()).merge(b)
    import spark.implicits._
    // both exports' cells concatenated into ONE wire row (total = sum)
    val cells = Seq(a, b).flatMap { s =>
      s.counts.zipWithIndex.collect {
        case (c, i) if c != 0L => (i / s.width, i % s.width, c)
      }
    }
    val back = Seq((5, 256, a.total + b.total, cells))
      .toDF("depth", "width", "total", "cells")
      .select(GraftFunctions.cms_import(
        struct(col("depth"), col("width"), col("total"),
          col("cells").cast("array<struct<d:int,w:int,n:bigint>>"))).as("b"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(back, merged.serialize()))
  }

  test("positions + exported cells replay cms_query exactly (no murmur needed)") {
    val keys = (0 until 40).map(i => s"key$i")
    val s = build(4, 128, keys.flatMap(k => Seq.fill(k.length * 7)(k)))
    keys.foreach { k =>
      val pos = CmsSketch.positions(k, 4, 128)
      val replay = pos.zipWithIndex.map { case (w, d) => s.counts(d * 128 + w) }.min
      assert(replay == s.query(k), k)
    }
    // and a key never inserted still never undercounts (min over its cells)
    val ghost = CmsSketch.positions("never-added", 4, 128)
      .zipWithIndex.map { case (w, d) => s.counts(d * 128 + w) }.min
    assert(ghost >= 0 && ghost == s.query("never-added"))
  }

  test("import validates header and cell ranges") {
    import spark.implicits._
    def imp(depth: Int, width: Int, cells: Seq[(Int, Int, Long)]) =
      Seq((depth, width, 0L, cells)).toDF("depth", "width", "total", "cells")
        .select(GraftFunctions.cms_import(
          struct(col("depth"), col("width"), col("total"),
            col("cells").cast("array<struct<d:int,w:int,n:bigint>>"))))
        .collect()
    intercept[Exception](imp(0, 2048, Nil))
    intercept[Exception](imp(17, 2048, Nil))
    intercept[Exception](imp(5, 1, Nil))
    intercept[Exception](imp(5, 16, Seq((5, 0, 1L))))  // d out of range
    intercept[Exception](imp(5, 16, Seq((0, 16, 1L)))) // w out of range
  }

  test("SQL surface: cms_export/cms_import/cms_positions registered") {
    import spark.implicits._
    val r = (0 until 500).map(i => s"t${i % 9}").toDF("v").createOrReplaceTempView("cms_in")
    val got = spark.sql(
      """SELECT cms_query(cms_import(cms_export(sk)), 't3') AS q,
        |       size(cms_positions('t3', 5, 2048)) AS np
        |FROM (SELECT cms_sketch_agg(v, 5, 2048) AS sk FROM cms_in)""".stripMargin)
      .collect().head
    assert(got.getLong(0) == (0 until 500).count(i => i % 9 == 3))
    assert(got.getInt(1) == 5)
  }
}
