package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // force FULL output materialization: count() lets Catalyst prune every
    // unreferenced projection, so map-heavy queries would be timed as little
    // more than a scan; the noop sink evaluates every output column
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // Free the blocks this query's localCheckpoints pinned (51 sites
      // across the operators; they materialize inside the query and are
      // only consumed by it). A 257-query × 3+-lap single-JVM bench
      // otherwise accumulates storage/GC pressure into the late-alphabet
      // queries — the r14 final lap measured tx_wiki_index 2.6× over its
      // round-open time with NO code touching that lane. Deliberately
      // INSIDE the timed region: every query pays for its own cleanup,
      // so per-query numbers stay honest (the call is a no-op map scan
      // for the ~200 queries that checkpoint nothing).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // warm-up lap: JVM/codegen/parquet-footer caches, so timed numbers
    // reflect steady-state per-query cost rather than first-query startup
    SparkEntry.queries.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => }
    }
    // Two timed laps, keep the per-query minimum: damps scheduler/GC noise on
    // shared hosts without hiding real per-query cost. A query that throws is
    // NOT timed — it goes into a "failed" list, is excluded from the total,
    // and flips the exit code, so a broken query can never masquerade as a
    // fast one (r3 post-mortem: 25 analysis failures read as ~0.05 s each).
    def lap(): Map[String, Either[String, Double]] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          run(fn)
          name -> Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      }
    val (l1, l2) = (lap(), lap())
    val merged = l1.map { case (name, r1) =>
      name -> ((r1, l2(name)) match {
        case (Right(a), Right(b)) => Right(math.min(a, b))
        case (Left(m), _)         => Left(m)
        case (_, Left(m))         => Left(m)
      })
    }
    val okLaps = merged.collect { case (k, Right(v)) => k -> v }
    val failed = merged.collect { case (k, Left(_)) => k }.toSeq.sorted
    // Re-time-on-miss (r5/r6 verdict): one CPU burst during a lap can push a
    // query past its hard band even after the two-lap min (r5 saw four such
    // phantoms). If the committed baseline is readable, any query the gate
    // would hard-fail gets ONE more timed run and keeps the overall min — a
    // burst clears on the re-run, a real regression fails three times.
    val bands = try {
      val p = java.nio.file.Paths.get("src/test/resources/bench_baseline.json")
      if (java.nio.file.Files.exists(p)) BenchGate.parse(java.nio.file.Files.readString(p))._1
      else {
        // CWD-relative on purpose (the driver runs Bench from the repo
        // root), but say so: silently skipping the retry pass from another
        // working directory looked exactly like "no misses"
        System.err.println(
          s"[bench] no baseline at ${p.toAbsolutePath} — re-time-on-miss disabled this run")
        Map.empty[String, Double]
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] baseline unreadable, skipping re-time: $e")
      Map.empty[String, Double]
    }
    // guard the whole candidate computation: a degenerate run (e.g. zero
    // overlap with the baseline because every banded query failed) must
    // fall back to no-retries and still REPORT, not abort three laps in
    val retried = try BenchGate.retryCandidates(bands, okLaps)
      catch { case e: Throwable =>
        System.err.println(s"[bench] retry-candidate selection skipped: $e"); Nil }
    // TWO re-times, keep the overall min: the r11 lap showed bursts that
    // span consecutive queries (positions 44-46 all 3-4x their bands at
    // once), so a single retry can land inside the same burst window. A
    // real regression still fails all four timings.
    val ok = okLaps ++ retried.flatMap { name =>
      System.err.println(s"[bench] $name over its hard band — re-timing twice")
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try { run(SparkEntry.queries(name)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None } // it ran twice already; keep the lap time
      }
      Some(name -> (okLaps(name) +: times).min)
    }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rt = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fl,"retried":$rt,"n_ok":${ok.size},"n_failed":${failed.size},"sf":"$sfDir"}"""
    // stdout gets a COMPACT line (<2000 chars): harnesses that keep only a
    // stdout tail must still be able to json-parse the result, so the
    // printed "queries" map carries a fixed headline subset (one per
    // operator family) at 3-decimal precision; the complete map is in
    // bench_full.json.
    val headline = Seq(
      "q_pricing_summary", "q_tpch_q3", "q_tpch_q9", "q_tpch_q18",
      "q_top_orders_per_cust", "q_sessionize", "q_profile_orders",
      "q_zorder_layout", "hll_users_by_type", "hll_wire_roundtrip",
      "dd_exact_keep", "dd_minhash_pairs", "dd_neardedup_keep",
      "dd_line_dedup", "sim_bruteforce_topk", "sim_ann_ivf", "sim_ann_ivfpq",
      "tx_token_counts", "tx_contamination", "tx_release_pipeline",
      "mm_image_features", "mm_mp4_frames")
    val hqs = headline.flatMap(k => ok.get(k).map(v =>
        s"\"" + k + "\":" + math.rint(v * 1000) / 1000))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","queries":$hqs,"failed":$fl,"retried":$rt,"n_ok":${ok.size},"n_failed":${failed.size},"sf":"$sfDir","full":"bench_full.json"}""")
    // Persist the full per-query map next to the repo so the numbers stay
    // machine-checkable even when a harness truncates captured stdout, and
    // so BenchBandSpec can gate the latest run against the committed
    // baseline (regenerate the baseline by copying this file over
    // src/test/resources/bench_baseline.json after a quiet-host run).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_full.json"), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write bench_full.json: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
