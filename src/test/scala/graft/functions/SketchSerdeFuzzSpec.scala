package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Deserialize fuzz for the non-HLL sketch families (HLL got this in
  * round 4 — HllSerdeFuzzSpec). Stored sketches cross trust boundaries
  * (SQL-surface binary args, wire tables, checkpoints), so every corrupt
  * input must die in a cheap `require` — never an EOFException mid-loop, a
  * NegativeArraySizeException, or a length-driven multi-GB allocation.
  */
class SketchSerdeFuzzSpec extends AnyFunSuite {

  private def intBytes(vals: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vals.length * 4)
    vals.foreach(bb.putInt)
    bb.array()
  }

  private def assertDiesCleanly(f: => Any, label: String): Unit = {
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException](f)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 200, s"$label took $ms ms to reject — allocation before validation?")
  }

  test("topk: adversarial headers and entry lengths rejected before allocation") {
    assertDiesCleanly(TopKSketch.deserialize(Array.emptyByteArray), "empty")
    assertDiesCleanly(TopKSketch.deserialize(intBytes(0, 0)), "capacity 0")
    assertDiesCleanly(TopKSketch.deserialize(intBytes(-5, 0)), "negative capacity")
    assertDiesCleanly(TopKSketch.deserialize(intBytes(Int.MaxValue, 0)), "huge capacity")
    assertDiesCleanly(TopKSketch.deserialize(intBytes(1024, Int.MaxValue)), "huge n")
    assertDiesCleanly(TopKSketch.deserialize(intBytes(1024, -1)), "negative n")
    // one entry claiming a 2 GB string on a 32-byte buffer
    val bb = java.nio.ByteBuffer.allocate(8 + 12)
    bb.putInt(16).putInt(1).putInt(Int.MaxValue).putLong(1L)
    assertDiesCleanly(TopKSketch.deserialize(bb.array()), "2GB entry length")
    // negative entry length
    val bb2 = java.nio.ByteBuffer.allocate(8 + 12)
    bb2.putInt(16).putInt(1).putInt(-4).putLong(1L)
    assertDiesCleanly(TopKSketch.deserialize(bb2.array()), "negative entry length")
    // non-positive count
    val bb3 = java.nio.ByteBuffer.allocate(8 + 13)
    bb3.putInt(16).putInt(1).putInt(1).put('a'.toByte).putLong(0L)
    assertDiesCleanly(TopKSketch.deserialize(bb3.array()), "zero count")
  }

  test("gk: corrupt headers rejected before the sample allocation") {
    assertDiesCleanly(GkBuffer.deserialize(Array.emptyByteArray), "empty")
    def hdr(relErr: Double, thr: Int, count: Long, n: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.putDouble(relErr).putInt(thr).putLong(count).putInt(n)
      bb.array()
    }
    assertDiesCleanly(GkBuffer.deserialize(hdr(0.0, 10000, 5L, 0)), "rel_err 0")
    assertDiesCleanly(GkBuffer.deserialize(hdr(1.5, 10000, 5L, 0)), "rel_err > 1")
    assertDiesCleanly(GkBuffer.deserialize(hdr(-0.01, 10000, 5L, 0)), "negative rel_err")
    assertDiesCleanly(GkBuffer.deserialize(hdr(0.01, 10000, -5L, 0)), "negative count")
    assertDiesCleanly(GkBuffer.deserialize(hdr(0.01, 10000, 5L, Int.MaxValue)), "huge n")
    assertDiesCleanly(GkBuffer.deserialize(hdr(0.01, 10000, 5L, -1)), "negative n")
  }

  test("kmv and cms: headers already gated (regression pins)") {
    assertDiesCleanly(KmvSketch.deserialize(intBytes(1)), "kmv truncated")
    assertDiesCleanly(KmvSketch.deserialize(intBytes(1024, Int.MaxValue)), "kmv huge n")
    assertDiesCleanly(KmvSketch.deserialize(intBytes(1024, -1)), "kmv negative n")
    assertDiesCleanly(CmsSketch.deserialize(intBytes(5)), "cms truncated")
    assertDiesCleanly(CmsSketch.deserialize(
      intBytes(Int.MaxValue, Int.MaxValue, 0, 0)), "cms huge dims")
  }

  test("cms_import: width bomb and Int-overflow products rejected (SQL surface)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    def imp(depth: Int, width: Int): Unit =
      spark.sql(
        s"""SELECT cms_import(named_struct('depth', $depth, 'width', $width,
           |'total', CAST(0 AS BIGINT),
           |'cells', CAST(array() AS ARRAY<STRUCT<d: INT, w: INT, n: BIGINT>>)))""".stripMargin)
        .collect()
    imp(5, 2048) // sane header imports — and warms the SQL session so the
                 // timing assertion below measures rejection, not codegen
    assertDiesCleanly(imp(5, 500000000), "2.5e9-cell width bomb")
    assertDiesCleanly(imp(16, 134217728), "Int-overflow product")
  }

  test("topk: understated entry count (trailing bytes) rejected, not truncated") {
    val s = new TopKSketch(16)
    Seq("aa", "bb", "cc").foreach(s.add(_))
    val good = s.serialize()
    val bad = good.clone()
    // entry count lives at bytes 4..7 — understate it by one
    val bb = java.nio.ByteBuffer.wrap(bad)
    val n = bb.getInt(4)
    bb.putInt(4, n - 1)
    assertDiesCleanly(TopKSketch.deserialize(bad), "understated entry count")
  }

  test("gk: g-sum Long overflow cannot sneak past the count guard") {
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val big = Long.MaxValue / 2 + 10
    val e = intercept[Exception] {
      Seq((0.01, 10000, 1L, Seq((1.0, big, 0L), (2.0, big, 0L)))).toDF("rel_err", "threshold", "count", "tuples")
        .select(GraftFunctions.gk_import(
          struct(col("rel_err"), col("threshold"), col("count"),
            col("tuples").cast("array<struct<v:double,g:bigint,delta:bigint>>"))))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("row-wire imports: malformed untrusted rows die in a clean IllegalArgumentException") {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import org.apache.spark.unsafe.types.UTF8String
    def irow(values: Any*) = new GenericInternalRow(values.toArray[Any])
    def iarr(values: Any*) = new GenericArrayData(values.toArray[Any])

    // the wire `accepts` matchers are structural and tolerate nullable
    // arrays, so null elements and hostile values ARE reachable from real
    // engine-portable ingest rows — each must die in a require, never an
    // NPE, a wrapped Long, or a silently-wrong sketch
    val cms = CmsImport(Literal(null))
    cms.nullSafeEval(irow(2, 4, 5L, iarr(irow(0, 1, 3L), irow(1, 2, 2L)))) // positive control
    assertDiesCleanly(cms.nullSafeEval(irow(2, 4, -1L, iarr())), "cms negative total")
    assertDiesCleanly(cms.nullSafeEval(irow(2, 4, 5L, iarr(irow(0, 1, -3L)))), "cms negative cell")
    // a ZERO cell is a no-op, not a violation: dense engine-portable
    // producers emit every cell including zeros — the import must equal the
    // sparse form of the same sketch
    assert(java.util.Arrays.equals(
      cms.nullSafeEval(irow(2, 4, 5L, iarr(irow(0, 1, 3L), irow(1, 0, 0L), irow(1, 2, 2L))))
        .asInstanceOf[Array[Byte]],
      cms.nullSafeEval(irow(2, 4, 5L, iarr(irow(0, 1, 3L), irow(1, 2, 2L))))
        .asInstanceOf[Array[Byte]]),
      "cms zero cell must import as a no-op")
    assertDiesCleanly(cms.nullSafeEval(irow(2, 4, 5L, iarr(null))), "cms null cell")
    assertDiesCleanly(cms.nullSafeEval(irow(2, 4, 5L,
      iarr(irow(0, 1, Long.MaxValue), irow(0, 1, Long.MaxValue)))), "cms Long-wrap cells")

    val gk = GkImport(Literal(null))
    gk.nullSafeEval(irow(0.01, 10000, 3L,
      iarr(irow(1.0, 1L, 0L), irow(2.0, 1L, 0L), irow(3.0, 1L, 0L)))) // positive control
    assertDiesCleanly(gk.nullSafeEval(irow(0.01, 10000, 3L,
      iarr(irow(1.0, 1L, 0L), irow(2.0, 1L, 0L)))), "gk truncated tuples (g sum < count)")
    assertDiesCleanly(gk.nullSafeEval(irow(0.01, 10000, 3L,
      iarr(irow(1.0, 1L, 0L), null, irow(3.0, 1L, 0L)))), "gk null tuple")

    val tk = TopKImport(Literal(null))
    tk.nullSafeEval(irow(4, iarr(
      irow(UTF8String.fromString("a"), 3L),
      irow(UTF8String.fromString("b"), 1L)))) // positive control
    assertDiesCleanly(tk.nullSafeEval(irow(4, iarr(null))), "topk null entry")
    assertDiesCleanly(tk.nullSafeEval(irow(4, iarr(irow(null, 3L)))), "topk null item")

    val ranges = iarr(irow(0.0, 1.0), null)
    val vq = VecQuantize8(Literal.create(null, ArrayType(DoubleType)), Literal(null))
    assertDiesCleanly(vq.nullSafeEval(iarr(0.5, 0.5), ranges), "vec_quantize8 null range")
    val vd = VecDequantize8(Literal(null), Literal(null))
    assertDiesCleanly(vd.nullSafeEval(Array[Byte](1, 2), ranges), "vec_dequantize8 null range")
  }

  test("random bit flips either round-trip or die in a require, for all families") {
    val rnd = new scala.util.Random(99)
    val tk = new TopKSketch(64)
    (0 until 500).foreach(i => tk.add(s"item${i % 40}"))
    val gk = new GkBuffer(0.01)
    (0 until 5000).foreach(_ => gk.add(rnd.nextDouble()))
    val kmv = new KmvSketch(128)
    (0 until 2000).foreach(i => kmv.add(s"k$i"))
    val cms = new CmsSketch(5, 256)
    (0 until 2000).foreach(i => cms.add(s"c${i % 97}"))
    val cases: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
      ("topk", tk.serialize(), TopKSketch.deserialize _),
      ("gk", gk.serialize(), GkBuffer.deserialize _),
      ("kmv", kmv.serialize(), KmvSketch.deserialize _),
      ("cms", cms.serialize(), CmsSketch.deserialize _))
    for ((name, good, des) <- cases; trial <- 0 until 200) {
      val mutated = good.clone()
      val bit = rnd.nextInt(mutated.length * 8)
      mutated(bit / 8) = (mutated(bit / 8) ^ (1 << (bit % 8))).toByte
      try des(mutated)
      catch {
        case _: IllegalArgumentException => // clean reject
        case e: Throwable =>
          fail(s"$name trial $trial (bit $bit): unclean failure ${e.getClass}: ${e.getMessage}")
      }
    }
  }
}
