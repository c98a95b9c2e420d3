package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Closed-loop benchmark driver: one local session, one client, each query
  * starting after the previous one finished. Writes `result.json` (and, in
  * a traced run, `spans.jsonl`) into `--out`; the Python front end turns
  * those into metrics.
  *
  * {{{
  * perfbench.Main --mode run --workload sketch_build --seed 1 --seconds 10
  *   --trace 0 --out DIR [--data DIR --lanes a,b] [--rows N]
  * perfbench.Main --mode calibrate --data DIR --scales sf0.01,sf0.1 --out FILE.tsv
  * perfbench.Main --mode inputs --seed 1 --rows N    (digest of the seeded inputs)
  * }}}
  */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def list(k: String): Seq[String] = get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Host.cores}]")
      .config("spark.sql.shuffle.partitions", Host.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.get("mode").getOrElse("run") match {
      case "calibrate" => Calibrate.run(a)
      case "inputs" => println(Json.write(Inputs.digest(a("seed").toLong, a("rows").toLong)))
      case "run" => run(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  object PlanStats extends AdaptiveSparkPlanHelper {
    def exchanges(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
  }

  def run(a: Args): Unit = {
    val name = a("workload")
    val seed = a("seed").toLong
    val budget = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    val hostStart = Host.calibrate()
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = seconds(t0)
    val sc = spark.sparkContext
    val tracer = if (traceMode) Some(new Tracer(sc)) else None
    val listener = if (traceMode) Some(new QueryListener(tracer)) else None
    listener.foreach(sc.addSparkListener)

    val wl: Workload = name match {
      case "contract_small" | "contract_large" =>
        new ContractWorkload(name, seed, a("data"), a.list("lanes"), out)
      case "sketch_build" => new SketchBuildWorkload(seed, a("rows").toLong, out)
      case "sketch_rollup" => new SketchRollupWorkload(seed, out)
      case other => sys.error(s"unknown workload $other")
    }

    val outputs = collection.mutable.Map.empty[String, Output]
    val records = ArrayBuffer.empty[Map[String, Any]]
    var seq = 0L

    // one query run; the timed region is build + action + cleanup
    def execute(q: Query, pass: Int, traced: Boolean): Map[String, Any] = {
      seq += 1
      val rid = s"${q.name}#$seq"
      val keep = sc.getPersistentRDDs.keySet
      if (traced) sc.setLocalProperty(Tracer.QueryProp, rid)
      def phase[T](n: String)(body: => T): T = tracer match {
        case Some(t) if traced => t.span(n, q.name)(body)
        case _ => body
      }
      var df: DataFrame = null
      var buildNs = 0L
      val start = System.nanoTime()
      val res = try {
        phase("query") {
          val b0 = System.nanoTime()
          df = phase("entry.build")(q.build(spark))
          buildNs = System.nanoTime() - b0
          if (traced) phase("plans.plan")(df.queryExecution.executedPlan)
          phase("exec.run") {
            q.sink match {
              case Collect => outputs(q.name) = Output(df.schema, df.collect())
              case ParquetOut(p) => df.write.mode("overwrite").parquet(p)
            }
          }
          phase("cleanup") {
            sc.getPersistentRDDs.foreach { case (id, r) =>
              if (!keep.contains(id)) r.unpersist(blocking = false)
            }
          }
        }
        None
      } catch { case NonFatal(e) =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally {
        if (traced) {
          sc.setLocalProperty(Tracer.QueryProp, null)
          sc.setLocalProperty(Tracer.SpanProp, null)
        }
      }
      val latency = seconds(start)
      val base = Map[String, Any]("name" -> q.name, "family" -> q.family, "pass" -> pass,
        "traced" -> traced, "latency_s" -> latency, "ok" -> res.isEmpty,
        "error" -> res.getOrElse(""), "rows" -> q.rows, "run_id" -> rid)
      if (!traced || res.nonEmpty) base
      else {
        PerfbenchBus.drain(sc)
        val c = listener.get.byQuery.getOrDefault(rid, new QueryCounters)
        val qe = df.queryExecution
        base ++ Map(
          "build_ms" -> buildNs / 1e6,
          "plan_ms" -> qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
          "exchanges" -> PlanStats.exchanges(qe.executedPlan),
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_cpu_s" -> c.cpuNs / 1e9, "task_run_s" -> c.runMs / 1e3,
          "gc_s" -> c.gcMs / 1e3, "max_task_s" -> c.maxTaskMs / 1e3,
          "spill_bytes" -> c.spillBytes, "shuffle_bytes" -> c.shuffleWriteBytes,
          "records_read" -> c.recordsRead)
      }
    }

    // set-up: the input step is repeated and its median taken; the warm-up
    // runs every query of the pass once, so the timed passes are steady state
    val prepS = (0 until 3).map { _ =>
      val p0 = System.nanoTime(); wl.prepare(spark); seconds(p0)
    }.sorted
    val w0 = System.nanoTime()
    wl.queries.foreach(q => execute(q, -1, traced = false))
    outputs.clear()
    val warmS = seconds(w0)
    val setupS = sessionS + prepS(prepS.size / 2) + warmS

    // measurement: at least two whole passes, each in a seed-permuted
    // order, then more while at least a quarter of the budget remains. Two
    // passes average out much of the JIT activity a young JVM still has
    // during the first one. A traced run executes every query twice in a
    // row, once untraced and once traced, the order alternating from query
    // to query so warm-up favours neither side.
    val rng = new scala.util.Random(seed)
    val jvm0 = Host.jvmMs()
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || seconds(m0) < 0.75 * budget) {
      rng.shuffle(wl.queries).zipWithIndex.foreach { case (q, i) =>
        if (!traceMode) records += execute(q, pass, traced = false)
        else Seq(i % 2 == 0, i % 2 == 1).foreach(t => records += execute(q, pass, t))
      }
      pass += 1
    }
    val measuredS = seconds(m0)
    val jvm1 = Host.jvmMs()

    val c0 = System.nanoTime()
    val checks = try wl.check(spark, outputs.toMap)
      catch { case NonFatal(e) => Seq(Check(s"${wl.name}.check", "fail", String.valueOf(e.getMessage))) }

    val kernels = tracer.map { t =>
      val (els, dbls) = wl.kernelInputs
      Kernels.run(t, els, dbls)
    }.getOrElse(Map.empty)
    val checkS = seconds(c0)
    val hostEnd = Host.calibrate()
    val rss = Host.peakRssMb()

    val result = Map[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traceMode,
      "cores" -> Host.cores,
      "setup_s" -> setupS, "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
      "measured_s" -> measuredS, "passes" -> pass, "check_s" -> checkS,
      "peak_rss_mb" -> rss,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "measure_jvm_ms" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) },
      "queries" -> records,
      "checks" -> checks.map(_.toMap),
      "rel_err" -> wl.relErr,
      "kernels" -> kernels)
    Files.writeString(Paths.get(s"$out/result.json"), Json.write(result))
    tracer.foreach(t => Files.write(Paths.get(s"$out/spans.jsonl"),
      java.util.Arrays.asList(t.toJsonLines: _*)))
    spark.stop()
  }
}

/** Measures every contract query once per scale: wall time, task CPU and
  * jobs. The table it writes is what the contract workloads' lane sets are
  * derived from.
  */
object Calibrate {
  def run(a: Main.Args): Unit = {
    val spark = Main.session()
    val sc = spark.sparkContext
    val listener = new QueryListener(None)
    sc.addSparkListener(listener)
    val all = graft.SparkEntry.queries
    val names = all.keys.toSeq.sorted
    val rows = ArrayBuffer.empty[String]
    for (sf <- a.list("scales")) {
      val dir = s"${a("data")}/$sf"
      // warm every family's code paths before timing
      names.groupBy(_.takeWhile(_ != '_')).values.map(_.head).foreach { n =>
        try all(n)(spark, dir).collect() catch { case NonFatal(_) => }
      }
      for (n <- names) {
        val keep = sc.getPersistentRDDs.keySet
        sc.setLocalProperty(Tracer.QueryProp, s"$sf/$n")
        val t0 = System.nanoTime()
        val ok = try { all(n)(spark, dir).collect(); true } catch { case NonFatal(_) => false }
        sc.getPersistentRDDs.foreach { case (id, r) => if (!keep.contains(id)) r.unpersist(false) }
        val wall = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Tracer.QueryProp, null)
        PerfbenchBus.drain(sc)
        val c = listener.byQuery.getOrDefault(s"$sf/$n", new QueryCounters)
        rows += f"$n\t$sf\t$wall%.3f\t${c.cpuNs / 1e9}%.3f\t${c.jobs}\t$ok"
        System.err.println(rows.last)
      }
    }
    Files.writeString(Paths.get(a("out")),
      ("query\tscale\twall_s\ttask_cpu_s\tjobs\tok" +: rows).mkString("", "\n", "\n"))
    spark.stop()
  }
}
