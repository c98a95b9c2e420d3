package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.functions.{GraftFunctions => G, PythonStr}
import graft.hll.{Hll64Constants, HllSketch}
import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

sealed trait Sink
case object Collect extends Sink
final case class ParquetOut(path: String) extends Sink

/** One closed-loop query: `build` returns the DataFrame (and may run eager
  * jobs, as contract queries do); the sink is the timed action.
  */
final case class Query(
    name: String, family: String, rows: Long,
    build: SparkSession => DataFrame, sink: Sink = Collect)

/** The last output of a query: its schema and collected rows. */
final case class Output(schema: StructType, rows: Array[Row])

/** Outcome of one output check, outside the timed region. */
final case class Check(name: String, status: String, detail: String = "") {
  def toMap: Map[String, Any] = Map("name" -> name, "status" -> status, "detail" -> detail)
}

trait Workload {
  def name: String
  /** The set-up step that is repeated to time set-up (input generation). */
  def prepare(spark: SparkSession): Unit
  /** One pass: the fixed query set, in canonical order. Set-up runs it
    * once as the warm-up. */
  def queries: Seq[Query]
  /** Check the last output of each query. */
  def check(spark: SparkSession, outputs: Map[String, Output]): Seq[Check]
  /** Largest |estimate - exact| / exact over the sketch lanes, if any. */
  def relErr: Option[Double] = None
  /** Elements and doubles for the kernel lanes; the contract workloads,
    * which generate no input, take them from the seeded element stream.
    */
  def kernelInputs: (Array[String], Array[Double])
}

object Workloads {
  val K = 4096
  val Sigma: Double = 1.04 / math.sqrt((1 << HllSketch.pFor(K)).toDouble)
  /** An estimate is checked against five standard errors, 5 * 1.04/sqrt(m):
    * a correct sketch misses that bound with probability below 1e-6.
    */
  val Tolerance: Double = 5 * Sigma

  /** Absolute slack for small sets. For n << m the estimate is off by whole
    * hash collisions, about Poisson(n^2 / 2m) of them, which 1.04/sqrt(m)
    * does not describe (three collisions among 23 elements is a 13% miss):
    * allow the collision count a correct sketch exceeds with probability
    * below 1e-7. Above lambda = 30 the relative bound is the wider one.
    */
  def collisionSlack(n: Double): Double = {
    val lambda = n * n / (2.0 * m)
    if (lambda > 30) 0.0
    else {
      var k = 0
      var pmf = math.exp(-lambda)
      var tail = 1 - pmf
      while (tail >= 1e-7) { k += 1; pmf *= lambda / k; tail -= pmf }
      k - lambda
    }
  }

  def within(est: Double, exact: Double): Boolean =
    math.abs(est - exact) <= math.max(Tolerance * exact, collisionSlack(exact))

  /** Exact counts for which the 64-bit parity estimator takes its
    * bias-corrected branch (above the linear-counting threshold, at most
    * 5m), widened by the raw estimate's spread. The reference indexes its
    * bias table slice-locally there (see `HllSketch.estimateBias`) and the
    * engine reproduces that bit for bit, so the estimates there run up to
    * ~27% low. Misses in this range are reported by name as `known_bias`,
    * neither passed nor counted as wrong results.
    */
  private val m = 1 << HllSketch.pFor(K)
  def inBiasRange(exact: Double): Boolean =
    exact > 0.9 * Hll64Constants.threshold(HllSketch.pFor(K) - 4) && exact <= 1.25 * 5 * m

  /** Error-bound checks over (label, estimate, exact) triples: `name`
    * passes or fails; misses in the parity estimator's bias range go to
    * `name.known_bias` when `parity` is set.
    */
  def boundCheck(name: String, xs: Seq[(String, Double, Long)],
      errs: collection.mutable.Buffer[Double], parity: Boolean = true): Seq[Check] = {
    val misses = xs.filterNot { case (_, est, exact) => within(est, exact) }
    errs ++= xs.map { case (_, est, exact) => math.abs(est - exact) / exact }
    val (known, bad) = misses.partition { case (_, _, exact) => parity && inBiasRange(exact.toDouble) }
    def show(ys: Seq[(String, Double, Long)]) = ys.sortBy { case (_, e, x) => -math.abs(e - x) / x }
      .take(3).map { case (l, e, x) => f"$l: $e%.1f vs $x" }.mkString(", ")
    val main =
      if (xs.isEmpty) Check(name, "fail", "no estimates")
      else if (bad.isEmpty) Check(name, "pass", s"${xs.size - known.size}/${xs.size} estimates within bound")
      else Check(name, "fail", s"${bad.size}/${xs.size} beyond bound: ${show(bad)}")
    if (known.isEmpty) Seq(main)
    else Seq(main, Check(s"$name.known_bias", "known_bias",
      s"${known.size}/${xs.size} beyond bound in the bias-corrected range: ${show(known)}"))
  }
}

/** `contract_small` / `contract_large`: the engine's contract queries. */
final class ContractWorkload(
    val name: String, seed: Long, dir: String, lanes: Seq[String], outDir: String)
    extends Workload {
  private val all = SparkEntry.queries
  private def q(n: String) = Query(n, n.takeWhile(_ != '_'), 0L, s => all(n)(s, dir))

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Opens every table: file listing, footers and schema, no job. */
  def prepare(spark: SparkSession): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)

  def queries: Seq[Query] = lanes.map(q)

  /** Writes each output and its oracle SQL for the DuckDB comparison; the
    * comparison itself runs after the JVM exits.
    */
  def check(spark: SparkSession, outputs: Map[String, Output]): Seq[Check] = {
    val oracle = SparkEntry.oracleSql
    outputs.foreach { case (n, o) =>
      spark.createDataFrame(o.rows.toSeq.asJava, o.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    }
    val sql = outputs.keys.toSeq.sorted.flatMap(n => oracle.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(sql))
    Nil
  }

  def kernelInputs: (Array[String], Array[Double]) =
    (Inputs.kernelElements(seed, 100000), Inputs.kernelDoubles(seed, 50000))
}

/** `sketch_build`: the write side — hashing, register updates and the
  * aggregate buffer, on seeded rows with known distinct counts.
  */
final class SketchBuildWorkload(seed: Long, rows: Long, outDir: String) extends Workload {
  import Workloads._
  val name = "sketch_build"
  val input = new Inputs.BuildInput(seed, rows)
  private var cached: DataFrame = _
  private var rewrite: SparkSession = _
  private val errs = collection.mutable.ArrayBuffer.empty[Double]
  private val sparsePath = s"$outDir/sketches_30k"

  def prepare(spark: SparkSession): Unit = {
    if (cached != null) cached.unpersist(blocking = true)
    cached = input.frame(spark).persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    // COUNT(DISTINCT) lane: its own session with the rewrite turned on; the
    // same plan, so it reads the same cached rows
    rewrite = spark.newSession()
    rewrite.conf.set("spark.graft.rewrite.approxDistinct", "true")
    rewrite.conf.set("spark.graft.rewrite.approxDistinct.k", K.toString)
    GraftExtensions.install(rewrite)
    input.frame(rewrite).createOrReplaceTempView("gen")
  }

  private val DoubleGroups = 4

  private def sketches(c: String)(df: DataFrame) =
    df.groupBy(col("g16")).agg(G.hll_sketch_agg(col(c), K).as("sk"))
      .select(col("g16"), G.hll_estimate(col("sk")).as("est"))

  def queries: Seq[Query] = Seq(
    Query("build.hll_global", "hll", rows, _ => cached.agg(G.hll_cardinality(col("e"), K).as("est"))),
    Query("build.hll_dense16", "hll", rows, _ => sketches("e")(cached)),
    Query("build.hll_sparse30k", "hll", rows,
      _ => cached.groupBy(col("day"), col("segment")).agg(G.hll_sketch_agg(col("e"), K).as("sk")),
      ParquetOut(sparsePath)),
    // python_str renders every double, so this lane reads a quarter of the rows
    Query("build.hll_double", "hll", rows / 4,
      _ => sketches("x")(cached.filter(col("g16") < DoubleGroups))),
    Query("build.exact", "ref", rows, _ => cached.agg(countDistinct(col("e")).as("n"))),
    Query("build.fast", "ref", rows, _ => cached.agg(G.hll_cardinality_fast(col("e"), K).as("est"))),
    Query("build.sql_rewrite", "ref", rows, _ => rewrite.sql("SELECT COUNT(DISTINCT e) AS n FROM gen")))

  private def driverSketch(elems: Iterator[String]): Double = {
    val s = HllSketch.empty(K)
    elems.foreach(s.update)
    s.cardinality
  }

  def check(spark: SparkSession, outputs: Map[String, Output]): Seq[Check] = {
    val out = outputs.map { case (n, o) => n -> o.rows }
    val d = input.distinct
    def one(n: String): Option[Double] = out.get(n).map(r => r.head.get(0).asInstanceOf[Number].doubleValue)
    def grouped(n: String): Seq[(Int, Double)] =
      out.getOrElse(n, Array.empty[Row]).map(r => (r.getInt(0), r.getDouble(1))).toSeq.sortBy(_._1)
    val checks = Seq.newBuilder[Check]
    checks += (one("build.exact") match {
      case Some(x) if x == d => Check("build.exact", "pass", s"$d distinct")
      case other => Check("build.exact", "fail", s"got $other, want $d")
    })
    for (n <- Seq("build.hll_global", "build.fast", "build.sql_rewrite"))
      checks ++= one(n).map(e => boundCheck(n, Seq((n, e, d)), errs, parity = n != "build.fast"))
        .getOrElse(Seq(Check(n, "fail", "no output")))
    // the rewrite runs the same parity aggregate, truncated to BIGINT
    checks += ((one("build.sql_rewrite"), one("build.hll_global")) match {
      case (Some(r), Some(g)) if r == g.toLong.toDouble => Check("build.sql_rewrite.parity", "pass")
      case other => Check("build.sql_rewrite.parity", "fail", s"rewrite vs parity: $other")
    })
    for ((n, render) <- Seq[(String, Long => String)](
        "build.hll_dense16" -> Inputs.element, "build.hll_double" -> (p => PythonStr.render(p / 1000.0)))) {
      val gs = grouped(n)
      checks ++= (if (n == "build.hll_double" && gs.size != DoubleGroups)
        Seq(Check(n, "fail", s"${gs.size} groups, want $DoubleGroups"))
      else boundCheck(n, gs.map { case (g, e) => (s"g$g", e, input.denseCount(g)) }, errs))
      // parity: Spark's estimate of group 0 equals a driver-side sketch over
      // the same generated elements
      val want = driverSketch(input.denseElements(0).map(render))
      checks += (gs.find(_._1 == 0) match {
        case Some((_, got)) if got == want => Check(s"$n.parity", "pass", s"group 0 estimate $got")
        case other => Check(s"$n.parity", "fail", s"spark $other vs driver $want")
      })
    }
    val counts = input.groupCounts
    val est = spark.read.parquet(sparsePath)
      .select(col("day"), col("segment"), G.hll_estimate(col("sk")))
      .collect().map(r => (r.getInt(1) * input.days + r.getInt(0), r.getDouble(2)))
    val nonEmpty = counts.count(_ > 0)
    checks ++= (if (est.length == nonEmpty)
      boundCheck("build.hll_sparse30k", est.map { case (g, e) => (s"g$g", e, counts(g)) }.toSeq, errs)
    else Seq(Check("build.hll_sparse30k", "fail", s"${est.length} sketches, want $nonEmpty")))
    checks.result()
  }

  override def relErr: Option[Double] = errs.maxOption

  def kernelInputs: (Array[String], Array[Double]) = {
    val n = math.min(100000L, input.distinct).toInt
    val ps = Iterator.iterate(0L)(_ + 1).map(input.perm(_)).take(n).toArray
    (ps.map(Inputs.element), ps.take(50000).map(_ / 1000.0))
  }
}

/** `sketch_rollup`: the read side — deserialize, merge, estimate and the
  * shuffled sketch bytes over a stored table of (day, segment) sketches.
  */
final class SketchRollupWorkload(seed: Long, outDir: String) extends Workload {
  import Workloads._
  val name = "sketch_rollup"
  val input = new Inputs.RollupInput(seed)
  private val tablePath = s"$outDir/sketch_table"
  private val pairSegments = 8
  private val errs = collection.mutable.ArrayBuffer.empty[Double]
  private def table(s: SparkSession) = s.read.parquet(tablePath)
  private val sketchRows = (input.days * input.segments).toLong

  def prepare(spark: SparkSession): Unit =
    input.rowFrame(spark).groupBy(col("day"), col("segment"))
      .agg(G.hll_sketch_agg(col("e"), K).as("sk"))
      .write.mode("overwrite").parquet(tablePath)

  private def est(c: String) = G.hll_estimate(G.hll_union_agg(col(c))).as("est")

  def queries: Seq[Query] = Seq(
    Query("rollup.by_segment", "hll", sketchRows,
      s => table(s).groupBy(col("segment")).agg(est("sk"))),
    Query("rollup.by_day", "hll", sketchRows,
      s => table(s).groupBy(col("day")).agg(est("sk"))),
    Query("rollup.window7", "hll", sketchRows, s => table(s)
      .select(explode(sequence(greatest(col("day") - (input.window - 1), lit(0)),
        least(col("day"), lit(input.days - input.window)))).as("w"), col("sk"))
      .groupBy(col("w")).agg(est("sk"))),
    Query("rollup.estimate_each", "hll", sketchRows, s => table(s)
      .select(col("day"), col("segment"), G.hll_estimate(col("sk")).as("est"))),
    Query("rollup.segment_pairs", "hll", sketchRows, { s =>
      val seg = table(s).filter(col("segment") < pairSegments)
        .groupBy(col("segment")).agg(G.hll_union_agg(col("sk")).as("sk"))
      val (a, b) = (seg.as("a"), seg.as("b"))
      a.join(b, col("a.segment") < col("b.segment")).select(
        col("a.segment").as("sa"), col("b.segment").as("sb"),
        G.hll_intersect_estimate(col("a.sk"), col("b.sk")).as("inter"),
        G.hll_jaccard_estimate(col("a.sk"), col("b.sk")).as("jaccard"))
    }))

  def check(spark: SparkSession, outputs: Map[String, Output]): Seq[Check] = {
    val out = outputs.map { case (n, o) => n -> o.rows }
    def keyed(n: String) = out.getOrElse(n, Array.empty[Row]).map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val checks = Seq.newBuilder[Check]
    checks ++= boundCheck("rollup.by_segment", keyed("rollup.by_segment").map { case (s, e) =>
      (s"segment $s", e, input.unionSize(input.segmentGroups(s))) }, errs)
    checks ++= boundCheck("rollup.by_day", keyed("rollup.by_day").map { case (d, e) =>
      (s"day $d", e, input.unionSize(input.dayGroups(d))) }, errs)
    val windows = keyed("rollup.window7")
    checks ++= (if (windows.size != input.days - input.window + 1)
      Seq(Check("rollup.window7", "fail", s"${windows.size} windows"))
    else boundCheck("rollup.window7", windows.map { case (w, e) =>
      (s"window $w", e, input.unionSize(input.windowGroups(w))) }, errs))
    val each = out.getOrElse("rollup.estimate_each", Array.empty[Row])
    checks ++= (if (each.length != sketchRows) Seq(Check("rollup.estimate_each", "fail", s"${each.length} sketches"))
    else boundCheck("rollup.estimate_each", each.toSeq.map { r =>
      val (d, s) = (r.getInt(0), r.getInt(1))
      (s"($d,$s)", r.getDouble(2), input.size(s)(d)) }, errs))
    // inclusion-exclusion: the intersection inherits the error of all three
    // estimates it is made of
    val pairs = out.getOrElse("rollup.segment_pairs", Array.empty[Row]).toSeq
    val misses = pairs.flatMap { r =>
      val (sa, sb) = (r.getInt(0), r.getInt(1))
      val (ga, gb) = (input.segmentGroups(sa), input.segmentGroups(sb))
      val (na, nb, nu) = (input.unionSize(ga), input.unionSize(gb), input.unionSize(ga ++ gb))
      val inter = input.intersectSize(ga, gb)
      val tolI = Seq(na, nb, nu).map(n => Tolerance * n + collisionSlack(n.toDouble)).sum
      val tolJ = tolI / (nu * (1 - Tolerance)) + Tolerance
      val (ei, ej) = (r.getDouble(2), r.getDouble(3))
      if (math.abs(ei - inter) <= tolI && math.abs(ej - inter.toDouble / nu) <= tolJ) None
      else Some((Seq(na, nb, nu).exists(n => inBiasRange(n.toDouble)),
        s"($sa,$sb): inter $ei vs $inter, jaccard $ej vs ${inter.toDouble / nu}"))
    }
    val (known, bad) = misses.partition(_._1)
    val wantPairs = pairSegments * (pairSegments - 1) / 2
    checks += (if (pairs.size == wantPairs && bad.isEmpty) Check("rollup.segment_pairs", "pass", s"$wantPairs pairs")
    else Check("rollup.segment_pairs", "fail", s"${pairs.size} pairs; " + bad.map(_._2).take(3).mkString("; ")))
    if (known.nonEmpty) checks += Check("rollup.segment_pairs.known_bias", "known_bias",
      s"${known.size}/${pairs.size} pairs beyond bound with a set in the bias-corrected range: " +
        known.map(_._2).take(3).mkString("; "))
    checks.result()
  }

  override def relErr: Option[Double] = errs.maxOption

  def kernelInputs: (Array[String], Array[Double]) = {
    val ps = (0L until 100000L).map(u => input.perm(u % input.users)).toArray
    (ps.map(Inputs.element), ps.take(50000).map(_ / 1000.0))
  }
}
