package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RepetitionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bruteLongestRepeated(s: String): Int = {
    val b = s.getBytes("UTF-8")
    var best = 0
    var l = b.length - 1
    while (l > best) { // lengths above current best only
      val seen = new java.util.HashSet[String]()
      var found = false
      var i = 0
      while (i + l <= b.length && !found) {
        val sub = new String(b, i, l, "ISO-8859-1")
        if (!seen.add(sub)) found = true
        i += 1
      }
      if (found) best = l
      l -= 1
    }
    best
  }

  private def bruteDistinct(s: String): Long = {
    val b = s.getBytes("UTF-8")
    val seen = new java.util.HashSet[String]()
    for (i <- b.indices; j <- (i + 1) to b.length)
      seen.add(new String(b, i, j - i, "ISO-8859-1"))
    seen.size.toLong
  }

  test("suffix automaton matches brute force on assorted strings") {
    val cases = Seq(
      "", "a", "aa", "ab", "aaaa", "abab", "banana", "mississippi",
      "abcdefgh", "the cat sat on the mat the cat sat on the mat",
      "xyxyxyxyxy", "a b a b c a b", "naïve café naïve café")
    cases.foreach { s =>
      val (longest, distinct) = SuffixAutomaton.repetitionStats(s.getBytes("UTF-8"))
      assert(longest == bruteLongestRepeated(s), s"longest for '$s'")
      assert(distinct == bruteDistinct(s), s"distinct for '$s'")
    }
  }

  test("matches brute force on random strings over small alphabets") {
    val rnd = new scala.util.Random(42)
    (0 until 60).foreach { t =>
      val alpha = 2 + rnd.nextInt(4)
      val n = 1 + rnd.nextInt(120)
      val s = Array.fill(n)(('a' + rnd.nextInt(alpha)).toChar).mkString
      val (longest, distinct) = SuffixAutomaton.repetitionStats(s.getBytes("UTF-8"))
      assert(longest == bruteLongestRepeated(s), s"longest, trial $t: '$s'")
      assert(distinct == bruteDistinct(s), s"distinct, trial $t: '$s'")
    }
  }

  test("expression surface: repetitive template scores below fresh text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ERROR timeout ERROR timeout ERROR timeout ERROR timeout ERROR timeout"),
      (2L, "a genuinely varied sentence mentioning parquet footers and crows"),
      (3L, "")
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.repeatedSpanStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.longest_rep_len"), col("r.distinct_ratio"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getDouble(2))).toMap
    assert(r(1L)._1 > 40, s"template doc should have a long repeated span: ${r(1L)}")
    assert(r(1L)._2 < r(2L)._2, "template doc must score lower distinct ratio")
    assert(r(3L) == ((0, 1.0)), "empty text convention")
    // SQL registration round-trip
    docs.createOrReplaceTempView("rep_docs")
    val viaSql = spark.sql(
      "SELECT repeated_span_stats(text).longest_rep_len FROM rep_docs WHERE doc_id = 1")
      .collect().head.getInt(0)
    assert(viaSql == r(1L)._1)
  }
}
