"""Pure helpers of the benchmark front end: lane selection, latency
statistics, failure accounting, per-layer metrics and span self times.

Everything here works on plain Python data so it can be unit-tested
without Spark (see tests/test_benchlib.py).
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Contract families, named by the query-name prefix.
FAMILIES = ("hll", "q", "dd", "sim", "tx", "mm")
# Families whose operators dominate the contract_large lanes.
OPERATOR_FAMILIES = ("dd", "mm", "tx", "q", "sim")

# Contract lanes whose oracle holds literal values measured at sf0.01, so
# their outputs cannot be checked at any other scale.
PINNED_SF001 = (
    "dd_pipeline_stats", "dd_simhash_pairs",
    "sim_ann_ivf", "sim_ann_ivfpq", "sim_ann_lsh", "sim_ann_maintain",
    "tx_contamination", "tx_contamination_pruned", "tx_repeated_span",
    "tx_shard_overlap", "tx_winnow_overlap",
)

# A contract pass is sized by calibration to under half the run: calibrated
# walls come from a long-lived JVM, a young one runs them ~1.5x slower, and
# a run measures at least two passes.
PASS_SHARE = 0.45
TAIL_GRID = (99, 95, 90, 75, 50)


def family(query):
    return query.split("_", 1)[0]


# ---- lane selection -------------------------------------------------------

def read_calibration(text):
    """Rows of the calibration table as dicts keyed by column name."""
    lines = [l for l in text.splitlines() if l.strip()]
    head = lines[0].split("\t")
    rows = []
    for line in lines[1:]:
        r = dict(zip(head, line.split("\t")))
        r["wall_s"] = float(r["wall_s"])
        r["task_cpu_s"] = float(r["task_cpu_s"])
        r["ok"] = r["ok"] == "true"
        rows.append(r)
    return rows


def stratified_sample(lanes, pass_s):
    """Deterministic family-stratified sample of `lanes` ({name: wall_s}).

    Every family present keeps at least one lane. Each family's quota is
    proportional to its size; within a family the picks sit at evenly
    spaced quantiles of calibrated wall time, so the sample spans each
    family's fast and slow lanes. The sample grows while its calibrated
    pass time stays within `pass_s`.
    """
    by_fam = {}
    for name, wall in lanes.items():
        by_fam.setdefault(family(name), []).append((wall, name))
    for v in by_fam.values():
        v.sort()

    def pick(total):
        out = []
        for fam in sorted(by_fam):
            group = by_fam[fam]
            quota = max(1, round(total * len(group) / len(lanes)))
            quota = min(quota, len(group))
            out += [group[int((i + 0.5) * len(group) / quota)][1] for i in range(quota)]
        return sorted(out)

    best = pick(len(by_fam))
    for total in range(len(by_fam) + 1, len(lanes) + 1):
        cand = pick(total)
        if sum(lanes[n] for n in cand) > pass_s:
            break
        best = cand
    return best


def contract_lanes(calibration, workload, seconds):
    """The lanes of a contract workload, from the calibration table.

    contract_small: every lane that ran at sf0.01.
    contract_large: the lanes whose task CPU exceeded their wall time at
    sf0.1, i.e. that kept more than one core busy on the measuring host.
    """
    scale = "sf0.01" if workload == "contract_small" else "sf0.1"
    rows = [r for r in calibration if r["scale"] == scale and r["ok"]]
    if workload == "contract_large":
        rows = [r for r in rows if r["task_cpu_s"] > r["wall_s"]]
    walls = {r["query"]: r["wall_s"] for r in rows}
    return stratified_sample(walls, PASS_SHARE * seconds)


# ---- statistics -----------------------------------------------------------

def nearest_rank(sorted_xs, p):
    """The p-th percentile by nearest rank (1-based rank ceil(p/100 * n))."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_xs[rank - 1]


def tail_percentile(n):
    """The highest percentile of TAIL_GRID with at least ten samples beyond
    it, i.e. whose nearest rank leaves n - rank >= 10. Below 20 samples no
    grid point qualifies and the median (p50) is used."""
    for p in TAIL_GRID:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p
    return 50


def latency_stats(latencies):
    xs = sorted(latencies)
    if not xs:
        return {"p50": None, "tail": None, "tail_pct": None}
    p = tail_percentile(len(xs))
    return {"p50": statistics.median(xs), "tail": nearest_rank(xs, p), "tail_pct": p}


def wrong_queries(checks, names):
    """Query names whose output check failed. A check named `q` or `q.<x>`
    belongs to query `q`."""
    bad = [c["name"] for c in checks if c["status"] == "fail"]
    return {q for q in names for b in bad if b == q or b.startswith(q + ".")}


def failure_count(records, wrong):
    """Executions that threw, plus successful executions of a query whose
    output was wrong."""
    return sum(1 for r in records if not r["ok"] or r["name"] in wrong)


def failed_share(records, wrong):
    return failure_count(records, wrong) / len(records) if records else 1.0


# ---- per-layer metrics ----------------------------------------------------

def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(traced, cores):
    """Per-query means of the listener and plan counters of traced runs."""
    if not traced:
        return {}
    # rows the query declares (generated input), else rows its scans read
    rows = [r["rows"] or r["records_read"] for r in traced]
    wall = sum(r["latency_s"] for r in traced)
    m = {
        "entry.build_ms": _mean(r["build_ms"] for r in traced),
        "entry.jobs": _mean(r["jobs"] for r in traced),
        "entry.stages": _mean(r["stages"] for r in traced),
        "entry.tasks": _mean(r["tasks"] for r in traced),
        "plans.plan_ms": _mean(r["plan_ms"] for r in traced),
        "plans.exchanges": _mean(r["exchanges"] for r in traced),
        "exec.task_cpu_s": _mean(r["task_cpu_s"] for r in traced),
        "exec.gc_s": _mean(r["gc_s"] for r in traced),
        "exec.max_task_s": _mean(r["max_task_s"] for r in traced),
        "exec.spill_bytes": _mean(r["spill_bytes"] for r in traced),
        "exec.core_idle_frac": 1.0 - sum(r["task_run_s"] for r in traced) / (wall * cores),
        "functions.task_cpu_ns_per_row":
            sum(r["task_cpu_s"] for r in traced) * 1e9 / max(1, sum(rows)),
        "functions.shuffle_bytes": _mean(r["shuffle_bytes"] for r in traced),
    }
    for fam in OPERATOR_FAMILIES:
        xs = [r["task_cpu_s"] for r in traced if r["family"] == fam]
        if xs:
            m["operators.task_cpu_s." + fam] = _mean(xs)
    return m


def tracing_overhead(records):
    """Median over queries of (traced median / untraced median) - 1."""
    ratios = []
    for name in sorted({r["name"] for r in records}):
        t = [r["latency_s"] for r in records if r["name"] == name and r["ok"] and r["traced"]]
        u = [r["latency_s"] for r in records if r["name"] == name and r["ok"] and not r["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0 if ratios else None


# ---- spans ----------------------------------------------------------------

SPAN_LAYER = {
    "query": "bench", "entry.build": "entry", "plans.plan": "plans",
    "exec.run": "exec", "cleanup": "cleanup", "spark.job": "jobs",
}


def self_times(spans):
    """Exclusive time of every span of one tree, in microseconds.

    Each instant of the root's interval goes to the deepest span covering
    it (the latest-started one on a tie), so overlapping children - jobs
    Spark runs concurrently - are never counted twice, and the self times
    of a tree sum to exactly its root's wall time.
    """
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] not in by_id]
    out = {s["id"]: 0 for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    for root in roots:
        lo, hi = root["start_us"], root["end_us"]
        tree = [s for s in spans if _root_of(s, by_id) is root]
        clipped = [(max(lo, s["start_us"]), min(hi, s["end_us"]), depth(s), s) for s in tree]
        clipped = [c for c in clipped if c[1] > c[0]]
        cuts = sorted({lo, hi} | {c[0] for c in clipped} | {c[1] for c in clipped})
        for a, b in zip(cuts, cuts[1:]):
            cover = [c for c in clipped if c[0] <= a and c[1] >= b]
            if cover:
                owner = max(cover, key=lambda c: (c[2], c[0]))[3]
                out[owner["id"]] += b - a
    return out


def _root_of(s, by_id):
    while s["parent"] in by_id:
        s = by_id[s["parent"]]
    return s


def layer_self_ms(spans):
    """Mean self time per layer and per query tree, in ms."""
    by_id = {s["id"]: s for s in spans}
    trees = {}
    for s in spans:
        trees.setdefault(_root_of(s, by_id)["id"], []).append(s)
    totals, n = {}, 0
    for tree in trees.values():
        root = _root_of(tree[0], by_id)
        if root["name"] != "query":
            continue
        n += 1
        for sid, us in self_times(tree).items():
            layer = SPAN_LAYER.get(by_id[sid]["name"], by_id[sid]["name"])
            totals[layer] = totals.get(layer, 0) + us
    return {k: v / 1e3 / n for k, v in totals.items()} if n else {}
