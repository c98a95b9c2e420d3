package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("interleave_bits is a monotone grid curve: neighbors share prefixes") {
    import spark.implicits._
    // 2-bit, 2-col: the 4x4 Morton curve is the textbook sequence
    val df = (0L until 4L).flatMap(x => (0L until 4L).map(y => (x, y))).toDF("x", "y")
    val keyed = df.select(col("x"), col("y"),
      org.apache.spark.sql.graftshim.GraftShims.column(
        graft.functions.InterleaveBits(Seq(
          org.apache.spark.sql.graftshim.GraftShims.expression(col("x")),
          org.apache.spark.sql.graftshim.GraftShims.expression(col("y"))), 2)).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(keyed((0L, 0L)) == 0L)
    assert(keyed((1L, 0L)) == 1L) // x occupies even bit positions
    assert(keyed((0L, 1L)) == 2L)
    assert(keyed((1L, 1L)) == 3L)
    assert(keyed((2L, 2L)) == 12L)
    assert(keyed((3L, 3L)) == 15L)
  }

  test("interleave_bits is SQL-registered: z-key from plain SQL, bits rule works") {
    val r = spark.sql(
      """SELECT interleave_bits(3, 1) AS z2,
        |       interleave_bits(3L, 1L, 2) AS z2b,
        |       interleave_bits(1, 1, 1) AS z3
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 7L)  // default 16 bits, same placement as the expr
    assert(r.getLong(1) == 7L)  // trailing literal consumed as bits=2
    assert(r.getLong(2) == 3L)  // all-literal: trailing 1 is bits, ranks=(1,1)
    // 3 ranks where the last is NOT foldable stays a rank column
    import spark.implicits._
    val df = Seq((1L, 0L, 1L)).toDF("a", "b", "c")
    df.createOrReplaceTempView("ib_t")
    val v = spark.sql("SELECT interleave_bits(a, b, c) AS z FROM ib_t").collect()(0).getLong(0)
    assert(v == (1L | (1L << 2)), s"got $v") // bit0 of a -> pos0, bit0 of c -> pos2
    // 4 rank columns with NO explicit bits: default drops to 63/4 = 15 so
    // the documented r1..r4 form analyzes (4*16=64 > 63 used to reject it)
    val df4 = Seq((1L, 1L, 1L, 1L)).toDF("a", "b", "c", "d")
    df4.createOrReplaceTempView("ib_t4")
    val v4 = spark.sql("SELECT interleave_bits(a, b, c, d) AS z FROM ib_t4")
      .collect()(0).getLong(0)
    assert(v4 == 15L, s"got $v4") // bit0 of each rank -> positions 0..3
  }

  test("interleave_bits handles 3 columns: bit j of rank i lands at j*3+i") {
    import spark.implicits._
    val df = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (2L, 0L, 0L), (3L, 3L, 3L)).toDF("x", "y", "z")
    val got = df.select(
      org.apache.spark.sql.graftshim.GraftShims.column(
        graft.functions.InterleaveBits(Seq("x", "y", "z").map(c =>
          org.apache.spark.sql.graftshim.GraftShims.expression(col(c))), 2)).as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 4L, 7L, 8L, 63L))
  }

  test("zorder write prunes files on BOTH columns; single-col sort only on one") {
    import spark.implicits._
    val n = 64
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
    val df = grid.toDF("x", "y")
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    val sDir = java.nio.file.Files.createTempDirectory("sorted").toString
    try {
      Layout.zorderWrite(df, Seq("x", "y"), zDir, numFiles = 16, bits = 8)
      // baseline layout: globally sorted by x only, same file count
      df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").parquet(sDir)

      // fraction of files whose [min,max] box overlaps a y-range predicate:
      // what file-level footer pruning would keep for `y BETWEEN 0 AND 7`
      def overlapFraction(dir: String): Double = {
        val stats = spark.read.parquet(dir)
          .groupBy(input_file_name().as("f"))
          .agg(min("y").as("ymin"), max("y").as("ymax"))
          .collect()
        val hits = stats.count(r => r.getAs[Long]("ymin") <= 7L && r.getAs[Long]("ymax") >= 0L)
        hits.toDouble / stats.length
      }
      val zFrac = overlapFraction(zDir)
      val sFrac = overlapFraction(sDir)
      // x-sorted layout: every file spans the full y range -> no pruning
      assert(sFrac == 1.0, s"expected x-sort to be unprunable on y, got $sFrac")
      // z-ordered: the y-slab intersects only the curve cells along it
      assert(zFrac <= 0.5, s"expected z-order to prune files on y, got $zFrac")
      // and the write is lossless
      assert(spark.read.parquet(zDir).count() == n.toLong * n)
      val back = spark.read.parquet(zDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(back == grid.toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sDir))
    }
  }

  test("compaction collapses a small-files mess to size-targeted files, content intact") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_spec"
    val src = s"$base/src"
    val dest = s"$base/dest"
    // 64 tiny files
    (0 until 6400).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartition(64).write.mode("overwrite").parquet(src)
    val srcFiles = new java.io.File(src)
      .listFiles((_, n) => n.endsWith(".parquet")).length
    assert(srcFiles == 64)
    val totalBytes = new java.io.File(src)
      .listFiles((_, n) => n.endsWith(".parquet")).map(_.length).sum
    // target a quarter of the total -> expect ~4 files
    val n = Layout.compactTo(spark, src, dest, targetFileBytes = totalBytes / 4)
    val destFiles = new java.io.File(dest)
      .listFiles((_, n) => n.endsWith(".parquet")).length
    assert(destFiles.toLong == n && n >= 4 && n <= 5, s"n=$n destFiles=$destFiles")
    // content identical
    val a = spark.read.parquet(src).orderBy("id").collect().toSeq
    val b = spark.read.parquet(dest).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("sorted export: file ranges are disjoint and concatenation is the total order") {
    import spark.implicits._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_sorted_export"
    val df = (0 until 10000).map(i => ((i * 2654435761L) % 1000003, i))
      .toDF("key", "payload")
    Layout.sortedExport(df, Seq("key"), path, numFiles = 8)
    val files = new java.io.File(path)
      .listFiles((_, n) => n.endsWith(".parquet")).map(_.getName).sorted
    assert(files.length == 8)
    // per-file ranges: sorted within, disjoint and ascending across files
    val ranges = files.map { f =>
      val ks = spark.read.parquet(s"$path/$f").select("key")
        .collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"file $f not internally sorted")
      (ks.min, ks.max)
    }
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $hi > $lo")
    }
    // concatenation in file order is the global order, content intact
    val concat = files.flatMap(f => spark.read.parquet(s"$path/$f")
      .select("key").collect().map(_.getLong(0))).toSeq
    assert(concat == df.select("key").collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("bucketed tables join with no shuffle exchange and prune point scans") {
    import spark.implicits._
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    // force a sort-merge join (broadcast would dodge the shuffle question)
    // and a non-adaptive plan so executedPlan is the final word
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val facts = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "v")
      val dims = (0L until 100L).map(i => (i, s"name_$i")).toDF("k", "name")
      Layout.bucketedWrite(facts, "bw_facts", 8, Seq("k"), Seq("k"))
      Layout.bucketedWrite(dims, "bw_dims", 8, Seq("k"), Seq("k"))

      val j = spark.table("bw_facts").join(spark.table("bw_dims"), "k")
      assert(j.count() == 1000L)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

      // same join on the unbucketed frames DOES shuffle — the assertion
      // above is meaningful, not vacuous
      val unbucketed = facts.join(dims, "k").queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange"))

      // equality filter on the bucket column narrows the scan to one bucket
      // (the auto-bucketed-scan rule de-buckets shuffle-free scans, so pin
      // it on for the pruning check)
      conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = spark.table("bw_facts").filter(col("k") === 7L)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"), scan)
      assert(pruned.count() == 10L)
    } finally {
      conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.sql("DROP TABLE IF EXISTS bw_facts")
      spark.sql("DROP TABLE IF EXISTS bw_dims")
    }
  }

  test("bloom-filtered write: footers carry blooms on the chosen column only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bloomw").toFile
    val path = new java.io.File(tmp, "t").getAbsolutePath
    try {
      val df = spark.range(20000)
        .select(concat(lit("u"), col("id")).as("url"), (col("id") % 7).as("v"))
      Layout.bloomFilteredWrite(df, path, Seq("url"), expectedNdv = 20000)
      // open a parquet footer directly: the url chunks must carry a bloom
      // offset, the v chunks must not
      val f = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val chunks = reader.getFooter.getBlocks.get(0).getColumns
        val byCol = (0 until chunks.size()).map { i =>
          val c = chunks.get(i)
          c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)
        }.toMap
        assert(byCol("url"), s"url chunk lacks a bloom filter: $byCol")
        assert(!byCol("v"), s"v chunk unexpectedly has a bloom filter: $byCol")
      } finally reader.close()
      // read path stays correct with filter pushdown on the bloom column
      val got = spark.read.parquet(path).filter(col("url") === "u12345")
        .select("v").as[Long].collect()
      assert(got.toSeq == Seq(12345L % 7))
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm); x.delete()
      }
      rm(tmp)
    }
  }
}
