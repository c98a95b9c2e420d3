#!/usr/bin/env python3
"""Benchmark front end: builds the engine and the driver from source, runs
one workload in a fresh JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it,
`{"report": ...}`, carries the context: host calibration, failed_share,
hll_rel_err, the tail percentile used, unchecked lanes, and in a traced
run every per-layer metric, the layer self times and the tracing overhead.

    python3 perfbench/run.py --calibrate

re-measures every contract query at sf0.01 and sf0.1 and rewrites
contract_lanes.tsv, from which the contract lane sets are derived.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORKLOADS = ("contract_small", "contract_large", "sketch_build", "sketch_rollup")
# Every end-to-end metric, with its unit. The report line prints all of
# them; the result line carries END_TO_END, the ones BENCHMARK.json bounds.
E2E_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "queries_per_s": "1/s", "rows_per_s": "rows/s", "failed_share": "fraction",
    "hll_rel_err": "fraction", "peak_rss_mb": "MB",
}
END_TO_END = {k: E2E_UNITS[k] for k in ("setup_s", "latency_p50_s", "queries_per_s", "peak_rss_mb")}
# Units of the per-layer metrics the report can carry; the result line of a
# traced run carries PER_LAYER.
LAYER_UNITS = {
    "hll.update_ns": "ns", "hll.merge_dense_us": "us", "hll.merge_sparse_us": "us",
    "hll.deserialize_us": "us", "hll.estimate_us": "us", "hll.serialize_us": "us",
    "hll.wire_bytes.sparse": "bytes", "hll.wire_bytes.dense": "bytes",
    "functions.python_str_ns": "ns", "functions.task_cpu_ns_per_row": "ns",
    "functions.shuffle_bytes": "bytes",
    "plans.plan_ms": "ms", "plans.exchanges": "count",
    "entry.build_ms": "ms", "entry.jobs": "count", "entry.stages": "count",
    "entry.tasks": "count",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.max_task_s": "s",
    "exec.spill_bytes": "bytes", "exec.core_idle_frac": "fraction",
}
LAYER_UNITS.update({f"operators.task_cpu_s.{f}": "s" for f in benchlib.OPERATOR_FAMILIES})
LAYER_UNITS.update({f"self.{l}_ms": "ms" for l in benchlib.SPAN_LAYER.values()})
PER_LAYER = {k: LAYER_UNITS[k] for k in LAYER_UNITS
             if k not in ("exec.gc_s", "exec.spill_bytes", "self.bench_ms", "self.cleanup_ms")
             and not k.startswith("operators.")}
# rows of the sketch_build input
BUILD_ROWS = 1_000_000
DEADLINE_S = 150
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    """Newest modification time over the engine and driver sources."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return str(newest)


def build():
    """Compile engine + driver with sbt once per source state; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to the benchmark directory")
    stamp_file = os.path.join(BUILD_DIR, "bench-stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        if os.path.isfile(repo_cfg):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840, stdin=subprocess.DEVNULL)
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed, see {log_path}")
    cps = [l.strip() for l in p.stdout.splitlines() if os.pathsep in l and "classes" in l]
    if not cps:
        fail(f"no classpath in build output, see {log_path}")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work_dir, timeout):
    """Run the driver; its log and every temporary file (Spark's local dir
    defaults to java.io.tmpdir) stay under `work_dir`."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the peak RSS is then the heap plus the
    # JVM's native peak (classes, code, threads, direct buffers), not an
    # artefact of when the collector happened to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work_dir, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode


def data_root():
    root = os.environ.get("PERFBENCH_DATA", os.path.expanduser(os.path.join("~", "testdata")))
    if not os.path.isdir(os.path.join(root, "sf0.01")):
        fail(f"contract tables not found under {root} (set PERFBENCH_DATA)")
    return root


def lanes_table():
    with open(os.path.join(HERE, "contract_lanes.tsv")) as f:
        return benchlib.read_calibration(f.read())


# ---- contract output checks -----------------------------------------------

def oracle_checks(out_dir, sf_dir, scale, deadline):
    """Compare each contract output with its DuckDB oracle over the same
    tables (columns sorted by name, values compared as strings, row order
    kept). Oracles pinned to sf0.01 literals are unchecked elsewhere, and so
    is an oracle still running at `deadline` (some take minutes at sf0.1)."""
    import threading
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def norm(df):
        df = df[sorted(df.columns)]
        return [tuple(str(x) for x in row) for row in df.itertuples(index=False)]

    checks = []
    for name in sorted(oracle):
        if scale != "sf0.01" and name in benchlib.PINNED_SF001:
            checks.append({"name": name, "status": "unchecked",
                           "detail": f"oracle pinned to sf0.01 literals; unchecked at {scale}"})
            continue
        timer = threading.Timer(max(0.0, deadline - time.time()), con.interrupt)
        timer.start()
        try:
            want = norm(con.execute(oracle[name]).df())
        except duckdb.InterruptException:
            checks.append({"name": name, "status": "unchecked",
                           "detail": "oracle did not finish within the run's deadline"})
            continue
        finally:
            timer.cancel()
        try:
            got = norm(pd.read_parquet(os.path.join(out_dir, name)))
            ok = got == want
            detail = f"{len(got)} rows" if ok else f"spark {len(got)} rows vs duckdb {len(want)} rows"
        except Exception as e:  # an unreadable output is a wrong result
            ok, detail = False, str(e)[:300]
        checks.append({"name": name, "status": "pass" if ok else "fail", "detail": detail})
    con.close()
    return checks


# ---- metrics --------------------------------------------------------------

def metrics(result, checks, spans):
    records = result["queries"]
    names = {r["name"] for r in records}
    wrong = benchlib.wrong_queries(checks, names)
    plain = [r for r in records if not r["traced"]]
    lat = benchlib.latency_stats([r["latency_s"] for r in plain if r["ok"]])
    plain_s = sum(r["latency_s"] for r in plain)
    e2e = {
        "setup_s": result["setup_s"],
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "queries_per_s": len(plain) / plain_s if plain_s else None,
        "failed_share": benchlib.failed_share(records, wrong),
        "hll_rel_err": result["rel_err"],
        "peak_rss_mb": result["peak_rss_mb"],
    }
    if result["workload"] == "sketch_build":
        e2e["rows_per_s"] = sum(r["rows"] for r in plain if r["ok"]) / plain_s
    host = result["host"]
    report = {
        "workload": result["workload"], "seed": result["seed"],
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()
                       if v is not None},
        "latency_tail_pct": lat["tail_pct"],
        "samples": sum(1 for r in plain if r["ok"]),
        "passes": result["passes"], "measured_s": result["measured_s"],
        "measure_jvm_ms": result["measure_jvm_ms"],
        "host.spin_1t_ms": {k: host[k]["spin_1t_ms"] for k in ("start", "end")},
        "host.spin_all_ms": {k: host[k]["spin_all_ms"] for k in ("start", "end")},
        "setup_parts_s": {"session": result["session_s"], "prepare": result["prepare_s"],
                          "warmup": result["warmup_s"]},
        "unchecked": sorted(c["name"] for c in checks if c["status"] == "unchecked"),
        "known_bias": [c for c in checks if c["status"] == "known_bias"],
        "failed_checks": [c for c in checks if c["status"] == "fail"],
        "errors": sorted({f'{r["name"]}: {r["error"]}' for r in records if not r["ok"]}),
        "checks": len(checks),
    }
    layers = {}
    if result["trace"]:
        traced = [r for r in records if r["traced"] and r["ok"]]
        layers.update(result["kernels"])
        layers.update(benchlib.layer_metrics(traced, result["cores"]))
        for layer, ms in benchlib.layer_self_ms(spans).items():
            layers[f"self.{layer}_ms"] = ms
        report["tracing_overhead"] = benchlib.tracing_overhead(records)
        report["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS.get(k, "")}
                               for k, v in sorted(layers.items())}
    failed = benchlib.failure_count(records, wrong)
    return e2e, layers, report, failed


def run(args):
    cp = build()
    start = time.time()  # the run's deadline excludes a first-run build
    run_dir = os.path.join(BUILD_DIR, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_args = ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", run_dir]
    sf_dir = scale = None
    if args.workload.startswith("contract_"):
        scale = "sf0.01" if args.workload == "contract_small" else "sf0.1"
        sf_dir = os.path.join(data_root(), scale)
        lanes = benchlib.contract_lanes(lanes_table(), args.workload, args.seconds)
        jvm_args += ["--data", sf_dir, "--lanes", ",".join(lanes)]
    elif args.workload == "sketch_build":
        jvm_args += ["--rows", str(BUILD_ROWS)]
    timeout = DEADLINE_S - (time.time() - start)
    j0 = time.time()
    code = run_jvm(cp, jvm_args, run_dir, timeout)
    jvm_s = time.time() - j0
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"driver exited with {code}, see {run_dir}/jvm.log")
    with open(result_path) as f:
        result = json.load(f)
    checks = list(result["checks"])
    if sf_dir:
        checks += oracle_checks(run_dir, sf_dir, scale, start + DEADLINE_S + 15)
    spans = []
    spans_path = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans_path):
        with open(spans_path) as f:
            spans = [json.loads(l) for l in f if l.strip()]
    e2e, layers, report, failed = metrics(result, checks, spans)
    report["wall_s"] = {"jvm": jvm_s, "check": result["check_s"], "total": time.time() - start}
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    out = {k: {"value": chosen.get(k), "unit": u} for k, u in units.items()}
    missing = [k for k, v in out.items() if v["value"] is None]
    correct = (not missing and failed == 0
               and all(c["status"] != "fail" for c in checks) and len(result["queries"]) > 0)
    if missing:
        report["missing_metrics"] = missing
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": len(result["queries"]),
                      "failed": failed, "metrics": out}))


def calibrate():
    cp = build()
    out = os.path.join(HERE, "contract_lanes.tsv")
    work = os.path.join(BUILD_DIR, "calibrate")
    tmp = os.path.join(work, "contract_lanes.tsv")
    os.makedirs(work, exist_ok=True)
    code = run_jvm(cp, ["--mode", "calibrate", "--data", data_root(),
                        "--scales", "sf0.01,sf0.1", "--out", tmp], work, 3600)
    if code != 0:
        fail(f"calibration failed with {code}, see {work}/jvm.log")
    shutil.copyfile(tmp, out)
    print(f"wrote {out}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true")
    a = ap.parse_args()
    if a.calibrate:
        calibrate()
    elif a.workload:
        run(a)
    else:
        ap.error("--workload or --calibrate is required")
