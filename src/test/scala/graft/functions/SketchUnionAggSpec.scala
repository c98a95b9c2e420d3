package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `*_union_agg` warehouse rollups of all five stored-sketch families:
  * merged stored sketches must equal the single-pass sketch, independent
  * of partitioning; each family's empty-group output, 0-byte input and
  * mixed-parameter rules are pinned (the table in WIRE.md, "Empty sketch
  * and union rules"); all-null groups follow each family's empty-sketch
  * convention end to end (query/export/import).
  */
class SketchUnionAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One row of the union contract. `build(c, alt)` builds the family's
    * sketch from column `c`, with its second parameter set when `alt`;
    * `canonical` maps a union output to the value two equal sketches share
    * (the bytes, except Misra-Gries, whose byte wire follows hash-map
    * order and so compares through its sorted row export).
    */
  private case class Family(
      name: String,
      input: String,
      build: (Column, Boolean) => Column,
      union: Column => Column,
      canonical: Column => Column,
      emptyGroup: Option[Seq[Byte]], // None: SQL NULL
      zeroByteRejected: Option[String], // None: read as the empty set
      mixedFails: Boolean)

  private val families = Seq(
    Family("hll", "k",
      (c, alt) => GraftFunctions.hll_sketch_agg(c, if (alt) 2048 else 1024),
      GraftFunctions.hll_union_agg, identity,
      None, Some("sketch buffer truncated"), mixedFails = true),
    Family("kmv", "k",
      (c, alt) => GraftFunctions.kmv_sketch_agg(c, if (alt) 512 else 256),
      GraftFunctions.kmv_union_agg, identity,
      Some(Seq.empty), None, mixedFails = true),
    Family("cms", "k",
      (c, alt) => GraftFunctions.cms_sketch_agg(c, 5, if (alt) 1024 else 512),
      GraftFunctions.cms_union_agg, identity,
      Some(Seq.empty), None, mixedFails = true),
    Family("topk", "k",
      (c, alt) => GraftFunctions.topk_sketch_agg(c, if (alt) 512 else 256),
      GraftFunctions.topk_union_agg, GraftFunctions.topk_export,
      Some(Seq.empty), None, mixedFails = true),
    Family("gk", "x",
      (c, alt) => GraftFunctions.gk_sketch_agg(c, if (alt) 0.05 else 0.01),
      GraftFunctions.gk_union_agg, identity,
      Some(new GkBuffer(QuantileSummaries.defaultRelativeError).serialize().toSeq),
      Some("gk buffer truncated"), mixedFails = false))

  /** 13 days of string keys and distinct doubles (a fixed permutation of
    * 0 until 20000, so a value's rank is the value itself).
    */
  private def days: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 20000).toVector).zipWithIndex
      .map { case (x, i) => (i % 13, s"key${i % 211}", x.toDouble) }
      .toDF("day", "k", "x")
  }

  private def sketches(f: Family, alt: Boolean = false): DataFrame =
    days.groupBy("day").agg(f.build(col(f.input), alt).as("sk")).select("sk")

  private def unionOf(f: Family, df: DataFrame): org.apache.spark.sql.Row =
    df.agg(f.canonical(f.union(col("sk")))).collect().head

  private def sameValue(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Boolean =
    (a.get(0), b.get(0)) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x, y) => x == y
    }

  private def messages(t: Throwable): Iterator[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))

  test("union contract: an all-null group and an empty input give the family's empty output") {
    import spark.implicits._
    val nulls = Seq.fill(3)((1, null: Array[Byte])).toDF("g", "sk")
    for (f <- families) {
      val grouped = nulls.groupBy("g").agg(f.union(col("sk"))).collect().head
      val global = nulls.filter(lit(false)).agg(f.union(col("sk"))).collect().head
      for (r <- Seq(grouped.toSeq.last, global.get(0))) f.emptyGroup match {
        case None => assert(r == null, f.name)
        case Some(want) => assert(r.asInstanceOf[Array[Byte]].toSeq == want, f.name)
      }
    }
    // GK's empty set is any count-0 summary: unioning only those, at a
    // non-default error, still gives the default-error empty summary
    val gk = families.find(_.name == "gk").get
    val emptyGk = Seq(Option.empty[Double]).toDF("x")
      .agg(GraftFunctions.gk_sketch_agg(col("x"), 0.05).as("sk"))
    assert(unionOf(gk, emptyGk).getAs[Array[Byte]](0).toSeq == gk.emptyGroup.get)
  }

  test("union contract: a 0-byte input is the empty set or rejected, per family") {
    import spark.implicits._
    val zero = Seq(Array.emptyByteArray).toDF("sk")
    for (f <- families) f.zeroByteRejected match {
      case Some(msg) =>
        val e = intercept[Exception](zero.agg(f.union(col("sk"))).collect())
        assert(messages(e).exists(_.contains(msg)), s"${f.name}: ${e.getMessage}")
      case None =>
        val alone = zero.agg(f.union(col("sk"))).collect().head.getAs[Array[Byte]](0)
        assert(alone.toSeq == f.emptyGroup.get, f.name)
        val real = sketches(f)
        assert(sameValue(unionOf(f, real.union(zero).coalesce(1)), unionOf(f, real.coalesce(1))),
          f.name)
    }
  }

  test("union contract: mixed parameters fail, except GK, which merges at the max error") {
    for (f <- families) {
      val mixed = sketches(f).union(sketches(f, alt = true))
      if (f.mixedFails)
        intercept[Exception](mixed.agg(f.union(col("sk"))).collect())
      else {
        val out = mixed.agg(f.union(col("sk"))).collect().head.getAs[Array[Byte]](0)
        assert(GkBuffer.deserialize(out).relativeError == 0.05, f.name)
      }
    }
  }

  test("union contract: null rows are skipped") {
    for (f <- families) {
      val real = sketches(f).coalesce(1)
      val withNulls = real.select(explode(array(col("sk"), lit(null).cast("binary"))).as("sk"))
      assert(sameValue(unionOf(f, withNulls), unionOf(f, real)), f.name)
    }
  }

  test("union contract: rollups equal the single-pass sketch at 1 and 7 partitions") {
    for (f <- families if f.name != "gk"; parts <- Seq(1, 7)) {
      val direct = days.agg(f.canonical(f.build(col(f.input), false))).collect().head
      val rolled = days.repartition(parts).groupBy("day")
        .agg(f.build(col(f.input), false).as("sk"))
      assert(sameValue(unionOf(f, rolled), direct), s"${f.name} parts=$parts")
    }
  }

  test("union contract: the GK rollup's p50 stays within its rank bound at 1 and 7 partitions") {
    for (parts <- Seq(1, 7)) {
      val p50 = days.repartition(parts).groupBy("day")
        .agg(GraftFunctions.gk_sketch_agg(col("x"), 0.01).as("sk"))
        .agg(GraftFunctions.gk_quantile(GraftFunctions.gk_union_agg(col("sk")), lit(0.5)))
        .collect().head.getDouble(0)
      // values are 0 until 20000, so p50's rank is p50 itself
      assert(math.abs(p50 - 10000) <= 0.01 * 20000, s"parts=$parts p50=$p50")
    }
  }

  test("cms: daily rollup == single-pass sketch, byte-identical, any partitioning") {
    import spark.implicits._
    val df = (0 until 20000).map(i => (i % 13, s"key${i % 211}")).toDF("day", "k")
    val direct = df.agg(GraftFunctions.cms_sketch_agg(col("k"), 5, 512))
      .collect().head.getAs[Array[Byte]](0)
    for (parts <- Seq(1, 7)) {
      val merged = df.repartition(parts)
        .groupBy("day").agg(GraftFunctions.cms_sketch_agg(col("k"), 5, 512).as("sk"))
        .agg(GraftFunctions.cms_union_agg(col("sk")))
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(merged, direct), s"parts=$parts")
    }
  }

  test("cms: mixed (depth, width) inputs fail loudly") {
    import spark.implicits._
    val a = Seq("x").toDF("k").agg(GraftFunctions.cms_sketch_agg(col("k"), 5, 512).as("sk"))
    val b = Seq("y").toDF("k").agg(GraftFunctions.cms_sketch_agg(col("k"), 5, 1024).as("sk"))
    val e = intercept[Exception] {
      a.unionByName(b).agg(GraftFunctions.cms_union_agg(col("sk"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("topk: mixed capacities fail loudly") {
    import spark.implicits._
    val a = Seq("x").toDF("k").agg(GraftFunctions.topk_sketch_agg(col("k"), 64).as("sk"))
    val b = Seq("y").toDF("k").agg(GraftFunctions.topk_sketch_agg(col("k"), 128).as("sk"))
    val e = intercept[Exception] {
      a.unionByName(b).agg(GraftFunctions.topk_union_agg(col("sk"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("topk: daily rollup stays exact at capacity >= distinct, any partitioning") {
    import spark.implicits._
    val df = (0 until 20000).map(i => (i % 13, s"t${i % 23}")).toDF("day", "k")
    val want = (0 until 20000).groupBy(i => s"t${i % 23}").view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7)) {
      val entries = df.repartition(parts)
        .groupBy("day").agg(GraftFunctions.topk_sketch_agg(col("k"), 64).as("sk"))
        .agg(GraftFunctions.topk_export(
          GraftFunctions.topk_union_agg(col("sk"))).as("w"))
        .collect().head.getStruct(0).getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(entries == want, s"parts=$parts")
    }
  }

  test("topk: over-capacity rollup keeps the guaranteed heavy hitter") {
    import spark.implicits._
    // 3 daily sketches, capacity 4, 10 distinct keys; 'heavy' holds > n/4
    val rows = (0 until 900).map(i => (i % 3, "heavy")) ++
      (0 until 600).map(i => (i % 3, s"light${i % 9}"))
    val df = rows.toDF("day", "k")
    val entries = df.groupBy("day").agg(GraftFunctions.topk_sketch_agg(col("k"), 4).as("sk"))
      .agg(GraftFunctions.topk_export(GraftFunctions.topk_union_agg(col("sk"))).as("w"))
      .collect().head.getStruct(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(entries.nonEmpty && entries.head._1 == "heavy")
    assert(entries.head._2 <= 900L) // MG never overcounts
  }

  test("profileDeep survives an all-null categorical column (empty MG export)") {
    import spark.implicits._
    val df = Seq((1.0, Option.empty[String]), (2.0, None), (3.0, None))
      .toDF("x", "c")
    val rows = graft.operators.Profile.profileDeep(df,
        numeric = Seq("x"), categorical = Seq("c"))
      .orderBy("col_name").collect()
    assert(rows.length == 2)
    val cRow = rows.find(_.getString(0) == "c").get
    assert(cRow.isNullAt(cRow.fieldIndex("top_value"))) // null, not a crash
    assert(cRow.getLong(cRow.fieldIndex("n_nulls")) == 3L)
  }

  test("all-null groups follow the empty-bytes convention end to end") {
    import spark.implicits._
    val df = Seq.fill(5)(Option.empty[Array[Byte]]).toDF("sk")
    val row = df.agg(GraftFunctions.cms_union_agg(col("sk")).as("c"),
        GraftFunctions.topk_union_agg(col("sk")).as("t"))
      .select(
        length(col("c")).as("cl"), length(col("t")).as("tl"),
        GraftFunctions.cms_query(col("c"), lit("anything")).as("q"),
        GraftFunctions.cms_import(GraftFunctions.cms_export(col("c"))).as("ci"),
        GraftFunctions.topk_import(GraftFunctions.topk_export(col("t"))).as("ti"))
      .collect().head
    assert(row.getInt(0) == 0 && row.getInt(1) == 0)
    assert(row.getLong(2) == 0L) // empty sketch never counted anything
    assert(row.getAs[Array[Byte]](3).isEmpty && row.getAs[Array[Byte]](4).isEmpty)
  }
}
