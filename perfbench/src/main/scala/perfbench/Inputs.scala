package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every input and every exact count derives from
  * the seed here; engine code only ever receives the resulting DataFrames
  * or the stored sketch table.
  *
  * Elements are `"u" + perm(v)` for `v` in `[0, D)`, where `perm` is an
  * affine map modulo the prime 2^31-1 with seed-chosen coefficients. The
  * map is a bijection on that field, so the element set has exactly `D`
  * members, and a different seed hashes to different registers.
  */
object Inputs {
  val Prime = 2147483647L

  final case class Affine(a: Long, b: Long) {
    def apply(v: Long): Long = (a * v + b) % Prime
    def col(v: Column): Column = (lit(a) * v + lit(b)) % lit(Prime)
  }

  def affine(rng: SplittableRandom): Affine =
    Affine(1L + rng.nextLong(Prime - 1), rng.nextLong(Prime))

  def element(perm: Long): String = "u" + perm
  def elementCol(perm: Column): Column = concat(lit("u"), perm.cast("string"))

  /** `sketch_build` input: `rows` rows over `distinct` values. */
  final class BuildInput(seed: Long, val rows: Long) {
    private val rng = new SplittableRandom(seed)
    val distinct: Long = rows / 4 + rng.nextLong(rows / 40)
    val perm: Affine = affine(rng)
    private val groupHash: Affine = affine(rng)
    val days = 250
    val segments = 120
    val groups: Int = days * segments
    val dense = 16

    /** Skewed group index: the square of a uniform 24-bit value, scaled to
      * `groups`, so low indices (low segments) hold most values. Integer
      * arithmetic only, so the driver and Spark agree bit for bit.
      */
    def groupOf(v: Long): Int = {
      val r = groupHash(v) & 0xffffffL
      ((r * r * groups) >>> 48).toInt
    }
    private def groupCol(v: Column): Column = {
      val r = groupHash.col(v).bitwiseAND(lit(0xffffffL))
      shiftrightunsigned(r * r * lit(groups.toLong), 48).cast("int")
    }

    def frame(spark: SparkSession): DataFrame = {
      val v = pmod(col("id"), lit(distinct))
      val p = perm.col(v)
      val g = groupCol(v)
      spark.range(0L, rows, 1L, 2 * Host.cores).select(
        elementCol(p).as("e"),
        (p / lit(1000.0)).as("x"),
        pmod(v, lit(dense.toLong)).cast("int").as("g16"),
        pmod(g, lit(days)).as("day"),
        (g / lit(days)).cast("int").as("segment"))
    }

    /** Exact distinct count of each skewed (day, segment) group, by construction. */
    lazy val groupCounts: Array[Long] = {
      val c = new Array[Long](groups)
      var v = 0L
      while (v < distinct) { c(groupOf(v)) += 1; v += 1 }
      c
    }

    /** Exact distinct count of dense group `g`. */
    def denseCount(g: Int): Long = (distinct - g + dense - 1) / dense

    /** Elements of dense group `g`, for driver-side parity sketches. */
    def denseElements(g: Int): Iterator[Long] =
      Iterator.iterate(g.toLong)(_ + dense).takeWhile(_ < distinct).map(perm(_))
  }

  /** `sketch_rollup` input: per (day, segment) a contiguous run of user ids
    * on a ring of `users`, so every exact union and intersection is
    * interval arithmetic.
    */
  final class RollupInput(seed: Long, val users: Long = 400000L) {
    private val rng = new SplittableRandom(seed ^ 0x5eedL)
    val perm: Affine = affine(rng)
    val days = 250
    val segments = 120
    val window = 7

    // segment weight ~ 1/(s+1): a few large segments give dense sketches,
    // the long tail gives sparse ones
    private val segOffset = Array.fill(segments)(rng.nextLong(users))
    private val segDrift = Array.fill(segments)(1L + rng.nextLong(400))
    val size: Array[Array[Long]] = Array.tabulate(segments, days) { (s, _) =>
      math.max(1L, (1000.0 / (s + 1) * (0.5 + rng.nextDouble())).toLong)
    }
    def start(s: Int, d: Int): Long = (segOffset(s) + d * segDrift(s)) % users

    def rows: Long = size.map(_.sum).sum

    def groupFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val gs = for (s <- 0 until segments; d <- 0 until days)
        yield (d, s, start(s, d), size(s)(d))
      gs.toDF("day", "segment", "start", "n").repartition(2 * Host.cores)
    }

    def rowFrame(spark: SparkSession): DataFrame = {
      val u = pmod(col("start") + col("i"), lit(users))
      groupFrame(spark)
        .select(col("day"), col("segment"), col("start"),
          explode(sequence(lit(0L), col("n") - 1)).as("i"))
        .select(col("day"), col("segment"), elementCol(perm.col(u)).as("e"))
    }

    /** Half-open intervals on the ring, unwrapped onto [0, users). */
    private def intervals(groups: Seq[(Int, Int)]): Seq[(Long, Long)] =
      groups.flatMap { case (s, d) =>
        val a = start(s, d); val b = a + size(s)(d)
        if (b <= users) Seq((a, b)) else Seq((a, users), (0L, b - users))
      }

    private def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      iv.sortBy(_._1).foreach { case (a, b) =>
        if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
        else out += ((a, b))
      }
      out.toSeq
    }

    def unionSize(groups: Seq[(Int, Int)]): Long =
      merge(intervals(groups)).map { case (a, b) => b - a }.sum

    def intersectSize(x: Seq[(Int, Int)], y: Seq[(Int, Int)]): Long = {
      val (mx, my) = (merge(intervals(x)), merge(intervals(y)))
      var (i, j, n) = (0, 0, 0L)
      while (i < mx.size && j < my.size) {
        val lo = math.max(mx(i)._1, my(j)._1)
        val hi = math.min(mx(i)._2, my(j)._2)
        if (hi > lo) n += hi - lo
        if (mx(i)._2 < my(j)._2) i += 1 else j += 1
      }
      n
    }

    def segmentGroups(s: Int): Seq[(Int, Int)] = (0 until days).map(d => (s, d))
    def dayGroups(d: Int): Seq[(Int, Int)] = (0 until segments).map(s => (s, d))
    def windowGroups(w: Int): Seq[(Int, Int)] =
      for (d <- w until w + window; s <- 0 until segments) yield (s, d)
  }

  /** Seed-determined facts of every generated input, for the tests. */
  def digest(seed: Long, rows: Long): Map[String, Any] = {
    val b = new BuildInput(seed, rows)
    val r = new RollupInput(seed)
    Map(
      "build.distinct" -> b.distinct,
      "build.elements" -> (0L until 5L).map(v => element(b.perm(v))),
      "build.group_counts" -> b.groupCounts.zipWithIndex.map { case (c, i) => c * (i + 1) }.sum,
      "rollup.rows" -> r.rows,
      "rollup.segment0_users" -> r.unionSize(r.segmentGroups(0)),
      "rollup.elements" -> (0L until 5L).map(u => element(r.perm(u))),
      "kernel.elements" -> kernelElements(seed, 5).toSeq)
  }

  /** Kernel-lane samples: `n` elements of a seeded element stream. */
  def kernelElements(seed: Long, n: Int): Array[String] = {
    val p = affine(new SplittableRandom(seed ^ 0x6b65726eL))
    Array.tabulate(n)(i => element(p(i.toLong)))
  }

  def kernelDoubles(seed: Long, n: Int): Array[Double] = {
    val p = affine(new SplittableRandom(seed ^ 0x646f75L))
    Array.tabulate(n)(i => p(i.toLong) / 1000.0)
  }
}
