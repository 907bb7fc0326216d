"""Per-layer metrics and self times from a traced run's spans.

A span tree per operation (a serve request or a deck entry):

    request → operator (building the DataFrame) | materialise (collect/write)
            → catalyst.analysis / .optimization / .planning, spark.job
            → spark.stage → spark.task

Jobs, stages and tasks reach their request through the job group the
harness sets per call; jobs of the order stream's own thread and queries
without a group are placed by time (serve_write has one caller, so this
is exact there). A layer's self time is the wall time its spans cover
and the layers below them do not, so overlapping jobs, stages and tasks
count once and the layers of an operation sum to its duration: tasks
(time at least one task runs), stages (a stage is open but no task runs),
jobs, Catalyst phases, then the harness's own driver-side time.
"""
from collections import defaultdict

import duckdb

SERVE_OPS = {
    "Relational": ("checkStock", "productSearch", "fuzzySearch", "productBm25",
                   "categorySearch", "productBySku", "userOrders", "cancelEligible"),
    "VectorOps": ("cosineTopK",),
}
DECK = {"g_pagerank": "GraphOps", "d_minhash_lsh": "Dedup", "p_corpus_clean": "CorpusPipeline"}
SPARK = [
    ("spark.plan.analysis_ms", "ms"), ("spark.plan.optimization_ms", "ms"),
    ("spark.plan.planning_ms", "ms"),
    ("spark.sched.jobs", "count"), ("spark.sched.stages", "count"), ("spark.sched.tasks", "count"),
    ("spark.sched.task_wait_ms", "ms"),
    ("spark.task.run_s", "s"), ("spark.task.cpu_s", "s"), ("spark.task.gc_s", "s"),
    ("spark.shuffle.write_mb", "MB"), ("spark.shuffle.read_mb", "MB"),
    ("spark.shuffle.fetch_wait_ms", "ms"), ("spark.spill_mb", "MB"),
    ("spark.codegen.compiles", "count"),
    ("spark.task.failed", "count"), ("spark.task.retried", "count"),
    ("spark.task.useful_ratio", "ratio"),
]


def metric_names():
    """Every per-layer metric a traced run reports, with its unit."""
    out = [(f"{m}.{op}.p50_ms", "ms") for m, ops in SERVE_OPS.items() for op in ops]
    out += [("TableWriter.mergeInto.p50_ms", "ms"),
            ("TableWriter.rows_written", "count"), ("TableWriter.files_written", "count"),
            ("OrderFold.placeOrderStream.p50_ms", "ms"), ("Caches.persisted_rdds", "count"),
            ("Caches.persisted_rdds_growth", "count"), ("Tables.rows_read_per_result", "ratio"),
            ("spark.storage.peak_mb", "MB")]
    out += [(f"{mod}.{e}.{k}", u) for e, mod in DECK.items()
            for k, u in (("s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_mb", "MB"))]
    return out + SPARK


def storage_peak_mb(resps):
    """Peak bytes held in Spark block storage (persisted and checkpointed
    data), sampled after each operation, warm-ups included."""
    return max(r["storage_bytes"] for r in resps) / 2 ** 20


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default); 0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _union(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def build_trees(spans):
    """group → the spans of that operation (request, harness, Spark)."""
    reqs = {s["group"]: s for s in spans if s["name"] == "request"}
    ordered = sorted(reqs.values(), key=lambda s: s["start_us"])

    def by_time(t):
        hit = [r for r in ordered if r["start_us"] <= t <= r["end_us"]]
        return hit[-1]["group"] if hit else None

    group = {}
    for s in spans:  # jobs and phases: their own group, else placed by time
        if s["name"] == "spark.job" or s["name"].startswith("catalyst."):
            group[s["id"]] = s["group"] if s["group"] in reqs else by_time(s["start_us"])
    for kind in ("spark.stage", "spark.task"):  # stages follow their job, tasks their stage
        for s in spans:
            if s["name"] == kind:
                group[s["id"]] = group.get(s["parent"])
    trees = defaultdict(list)
    for s in spans:
        g = s["group"] if s["name"] in ("request", "operator", "materialise") else group.get(s["id"])
        if g in reqs:
            trees[g].append(s)
    return trees


def self_times(tree):
    """Layer → self time (µs) of one operation: each layer's wall time not
    covered by the layers below it, so concurrent jobs, stages and tasks
    are counted once and the layers sum to the request's duration."""
    iv = defaultdict(list)
    for s in tree:
        iv[s["name"]].append((s["start_us"], s["end_us"]))
    below, out = [], {}
    for layer in ("spark.task", "spark.stage", "spark.job"):
        out[layer] = _union(below + iv[layer]) - _union(below)
        below += iv[layer]
    phases = [k for k in iv if k.startswith("catalyst.")]
    for k in phases:
        out[k] = _union(below + iv[k]) - _union(below)
    below += [x for k in phases for x in iv[k]]
    for k in ("operator", "materialise"):
        out[k] = _union(below + iv[k]) - _union(below)
    below += iv["operator"] + iv["materialise"]
    out["request"] = _union(below + iv["request"]) - _union(below)
    return out


def per_layer(spans, resps, summ, writes):
    trees = build_trees(spans)
    timed = [r for r in resps if not r["warmup"]]
    vals = {name: 0.0 for name, _ in metric_names()}
    lat = defaultdict(list)
    for r in timed:
        lat[r["op"]].append((r["t1_us"] - r["t0_us"]) / 1000)
    for m, ops in SERVE_OPS.items():
        for op in ops:
            vals[f"{m}.{op}.p50_ms"] = quantile(lat.get(op, []), 0.5)
    vals["TableWriter.mergeInto.p50_ms"] = quantile(lat.get("upsert", []), 0.5)
    vals["OrderFold.placeOrderStream.p50_ms"] = quantile(lat.get("placeOrders", []), 0.5)
    ups = [r for r in timed if r["op"] == "upsert"]
    if ups:
        vals["TableWriter.rows_written"] = sum(writes[r["id"]]["rows"] for r in ups) / len(ups)
        vals["TableWriter.files_written"] = sum(writes[r["id"]]["files"] for r in ups) / len(ups)
    vals["spark.storage.peak_mb"] = storage_peak_mb(resps)
    vals["Caches.persisted_rdds"] = summ["persisted_rdds_end"]
    vals["Caches.persisted_rdds_growth"] = summ["persisted_rdds_end"] - summ["persisted_rdds_start"]

    agg = defaultdict(float)
    per_op = {}
    layer_tot = defaultdict(float)
    result_rows = 0
    for r in timed:
        t = trees.get(r["group"])
        if not t:
            continue
        a = defaultdict(float)
        for s in t:
            n, at = s["name"], s["attrs"]
            if n.startswith("catalyst."):
                a[f"spark.plan.{n.split('.', 1)[1]}_ms"] += (s["end_us"] - s["start_us"]) / 1000
            elif n == "spark.job":
                a["spark.sched.jobs"] += 1
            elif n == "spark.stage":
                a["spark.sched.stages"] += 1
            elif n == "spark.task":
                a["spark.sched.tasks"] += 1
                a["spark.sched.task_wait_ms"] += at["wait_ms"]
                a["spark.task.run_s"] += at["run_ms"] / 1000
                a["spark.task.cpu_s"] += at["cpu_ns"] / 1e9
                a["spark.task.gc_s"] += at["gc_ms"] / 1000
                a["spark.shuffle.write_mb"] += at["shuffle_write_b"] / 2 ** 20
                a["spark.shuffle.read_mb"] += at["shuffle_read_b"] / 2 ** 20
                a["spark.shuffle.fetch_wait_ms"] += at["fetch_wait_ms"]
                a["spark.spill_mb"] += at["spill_b"] / 2 ** 20
                a["spark.task.failed"] += 1 - at["ok"]
                a["spark.task.retried"] += at["retry"]
                a["records_in"] += at["records_in"]
        a["spark.codegen.compiles"] = r["codegen"]
        st = self_times(t)
        for k, v in st.items():
            layer_tot[k] += v / 1000
        for k, v in a.items():
            agg[k] += v
        if r["op"] in DECK:
            result_rows += duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{r['cols'][0]}/*.parquet')").fetchone()[0]
        else:
            result_rows += len(r["rows"])
        per_op[r["id"]] = {"op": r["op"], "ms": (r["t1_us"] - r["t0_us"]) / 1000,
                           "counts": dict(a), "self_ms": {k: v / 1000 for k, v in st.items()}}
        if r["op"] in DECK and r["group"].startswith("deck-0-"):
            mod = DECK[r["op"]]
            vals[f"{mod}.{r['op']}.s"] = (r["t1_us"] - r["t0_us"]) / 1e6
            vals[f"{mod}.{r['op']}.jobs"] = a["spark.sched.jobs"]
            vals[f"{mod}.{r['op']}.task_s"] = a["spark.task.run_s"]
            vals[f"{mod}.{r['op']}.shuffle_mb"] = a["spark.shuffle.write_mb"]
    n = max(1, len(per_op))
    for name, _ in SPARK:
        vals[name] = agg[name] / n
    vals["spark.task.useful_ratio"] = (
        (agg["spark.sched.tasks"] - agg["spark.task.failed"]) / agg["spark.sched.tasks"]
        if agg["spark.sched.tasks"] else 1.0)
    vals["Tables.rows_read_per_result"] = agg["records_in"] / result_rows if result_rows else 0.0

    total_ms = sum(v["ms"] for v in per_op.values())
    plan = sum(v for k, v in layer_tot.items() if k.startswith("catalyst."))
    sched = layer_tot["spark.job"] + layer_tot["spark.stage"]
    share_by_op = defaultdict(lambda: defaultdict(float))
    ms_by_op = defaultdict(float)
    for v in per_op.values():
        ms_by_op[v["op"]] += v["ms"]
        for k, x in v["self_ms"].items():
            share_by_op[v["op"]][k] += x
    share_by_op = {op: {k: x / ms_by_op[op] for k, x in sorted(d.items())}
                   for op, d in sorted(share_by_op.items())}
    detail = {
        "self_ms_per_op": {k: v / n for k, v in sorted(layer_tot.items())},
        "self_share": {k: v / total_ms for k, v in sorted(layer_tot.items())} if total_ms else {},
        "plan_plus_sched_share": (plan + sched) / total_ms if total_ms else 0.0,
        "task_wall_share": layer_tot["spark.task"] / total_ms if total_ms else 0.0,
        "self_share_by_op": share_by_op,
        "ops": per_op,
    }
    units = dict(metric_names())
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}, detail
