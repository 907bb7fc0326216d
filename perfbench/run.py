#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. It compiles graft and the JVM
harness from source into .bench_build/ (once per source state), makes the
run's inputs from the seed, runs the workload in a fresh JVM launched like
dev/run_main.sh (local[nproc], pinned and pre-touched heap), checks every
output against DuckDB, and prints each metric by name and unit. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
from a traced run (its spans and self times go to the artifact). Each run
leaves a full artifact in .bench_build/artifacts/. Needs SPARK_HOME (its
jars hold Spark and the Scala compiler) and the sf0.1 tables, found at
$SPARK_GRAFT_SF_DIR or else ~/testdata/sf0.1. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import oracle  # noqa: E402
import traffic  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_write", "batch_deck")
HEAP = "4g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def find_sf_dir():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.exists(os.path.join(sf_dir, "part.parquet")):
        die(f"sf0.1 tables not found in {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    return sf_dir


def build(jars):
    """Compile graft's src/main and the harness once per source state."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not any("/src/main/scala/" in s for s in srcs):
        die("graft sources (src/main/scala) not found: run from a graft checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(BUILD, "sources.txt"), "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
             "@" + os.path.join(BUILD, "sources.txt")],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            die("compile failed:\n" + r.stdout[-4000:])
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        print(f"perfbench: built graft + harness in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, workload, run_dir, sf_dir, seconds, trace):
    # the deck warms up on the smallest tables of the same generator (TESTDATA.md)
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    if workload == "batch_deck" and not os.path.exists(os.path.join(warm_dir, "part.parquet")):
        die(f"the deck's warm-up tables are not in {warm_dir}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    launch_ms = int(time.time() * 1000)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(run_dir, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Harness", workload, run_dir, sf_dir, str(seconds), str(trace),
            str(launch_ms), str(sum(traffic.BLOCK.values())), warm_dir])
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.err")) as f:
            tail = f.read()[-3000:]
        die(f"the JVM run ended with {code}:\n{tail}")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_serve(reqs, resps, sf_dir, oracle_sql, table_dir=None):
    """Per-response verdicts (id → reason or None), replayed in request
    order; with table_dir, the merged table must also read back as the
    replayed catalogue."""
    by_id = {r["id"]: r for r in reqs}
    ck = oracle.ServeChecker(sf_dir, oracle_sql, os.path.join(BUILD, "oracle-cache", "serve.json"))
    verdict = {}
    for resp in sorted(resps, key=lambda r: r["id"]):
        verdict[resp["id"]] = ck.check(by_id[resp["id"]], resp)
    ck.save()
    if table_dir:
        for key in ck.table_state(table_dir):
            rid = ck.last_upsert.get(key, max(ck.last_upsert.values(), default=None))
            if rid is not None and verdict.get(rid) is None:
                verdict[rid] = f"part key {key} does not read back as last upserted"
    return verdict, ck.bad_shapes


def check_deck(resps, sf_dir, oracle_sql):
    cache = os.path.join(BUILD, "oracle-cache")
    return {r["id"]: ("error: " + r["error"][:300]) if r["error"] else
            oracle.check_deck_entry(sf_dir, r["op"], oracle_sql.get(r["op"]), r["cols"][0], cache)
            for r in resps}


def mix_sensitivity(by_op):
    """The run's metrics as they would read had each block held n
    cosineTopK requests instead of its real count, the rest of the mix
    unchanged: each op type's measured latencies are weighted to its
    share of the re-mixed block. op_p50_ms is the weighted median,
    ops_per_s one over the weighted mean; op_gmean_ms does not depend on
    the mix. An estimate: latencies are taken as they were."""
    out = {}
    for n in (0, 6, traffic.BLOCK["cosineTopK"], 16, 22):
        mix = {**traffic.BLOCK, "cosineTopK": n}
        pts = sorted((x, mix[op] / len(xs)) for op, xs in by_op.items() if mix.get(op) for x in xs)
        total = sum(w for _, w in pts)
        acc = 0.0
        for x, w in pts:
            acc += w
            if acc >= total / 2:
                out[f"op_p50_ms_if_cosineTopK_{n}"] = x
                break
        out[f"ops_per_s_if_cosineTopK_{n}"] = 1000 * total / sum(x * w for x, w in pts)
    return out


def gmean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def count_failures(resps, verdict):
    """Wrong or failed answers among the timed and the warm-up operations."""
    bad = {r["id"]: verdict[r["id"]] for r in resps if verdict.get(r["id"])}
    warm = {r["id"] for r in resps if r["warmup"]}
    return ({k: v for k, v in bad.items() if k not in warm},
            {k: v for k, v in bad.items() if k in warm})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME")
    jars = os.path.join(spark_home or "", "jars")
    if not spark_home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("SPARK_HOME must point at a Spark install whose jars include scala-compiler")
    sf_dir = find_sf_dir()
    classes = build(jars)

    # every run starts from clean scratch state: warehouse, merge table,
    # checkpoint dirs and serving table all live in run_dir
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = measure(a, classes, jars, run_dir, sf_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def measure(a, classes, jars, run_dir, sf_dir):
    serve = a.workload == "serve_write"
    reqs = []
    if serve:
        reqs = traffic.generate(a.seed, int(a.seconds * 25) + 50, sf_dir)
        with open(os.path.join(run_dir, "requests.jsonl"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in reqs)
    run_jvm(classes, jars, a.workload, run_dir, sf_dir, a.seconds, a.trace)
    with open(os.path.join(run_dir, "summary.json")) as f:
        summ = json.load(f)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    if summ.get("traffic_exhausted"):
        die("the generated traffic ran out before the timed window ended")
    resps = read_jsonl(os.path.join(run_dir, "responses.jsonl"))
    writes = {w["id"]: w for w in read_jsonl(os.path.join(run_dir, "writes.jsonl"))}

    t_check = time.time()
    if serve:
        verdict, bad_shapes = check_serve(reqs, resps, sf_dir, oracle_sql,
                                          os.path.join(run_dir, "data", "part.parquet"))
    else:
        verdict, bad_shapes = check_deck(resps, sf_dir, oracle_sql), []
    check_s = time.time() - t_check

    timed = [r for r in resps if not r["warmup"]]
    failures, warm_failures = count_failures(resps, verdict)
    lat = [(r["t1_us"] - r["t0_us"]) / 1000 for r in timed]
    window_s = (max(r["t1_us"] for r in timed) - min(r["t0_us"] for r in timed)) / 1e6
    by_op = defaultdict(list)
    for r in timed:
        by_op[r["op"]].append((r["t1_us"] - r["t0_us"]) / 1000)
    e2e = {
        "setup_s": (summ["setup_s"], "s"),
        "op_gmean_ms": (gmean([layers.quantile(x, 0.5) for x in by_op.values()]), "ms"),
        "ops_per_s": (len(timed) / window_s, "1/s"),
    }
    # each workload's named metrics (artifact and stdout table)
    named = {"failed_ratio": (len(failures) / len(timed), "ratio"),
             "samples": (len(timed), "count"),
             "op_p50_ms": (layers.quantile(lat, 0.5), "ms"),
             "storage_peak_mb": (layers.storage_peak_mb(resps), "MB")}
    if serve:
        named["serve_p50_ms"] = named["op_p50_ms"]
        named["serve_rps"] = e2e["ops_per_s"]
        for q in (75, 90):
            named[f"serve_p{q}_ms"] = (layers.quantile(lat, q / 100), "ms")
            named[f"samples_beyond_p{q}"] = (sum(x > named[f"serve_p{q}_ms"][0] for x in lat), "count")
        executed = [r for r in reqs if not r.get("warmup") and r["id"] in {x["id"] for x in timed}]
        rk, rr = traffic.repeat_shares(executed)
        named["repeat_key_share"] = (rk, "ratio")
        named["repeat_request_share"] = (rr, "ratio")
        wl = by_op["upsert"] + by_op["placeOrders"]
        named["write_p50_ms"] = (layers.quantile(wl, 0.5), "ms")
        ups = [r for r in executed if r["op"] == "upsert"]
        delta_rows = sum(len(r["rows"]) for r in ups)
        rows_written = sum(writes[r["id"]]["rows"] for r in ups)
        named["write_amp_rows"] = (rows_written / delta_rows if delta_rows else 0.0, "count")
    else:
        passes = defaultdict(lambda: defaultdict(float))  # pass → part → seconds
        for r in timed:
            part = "graph_s" if r["op"] in summ["deck_graph"] else "corpus_s"
            passes[r["group"].split("-")[1]][part] += (r["t1_us"] - r["t0_us"]) / 1e6
        for part in ("graph_s", "corpus_s"):
            named[part] = (statistics.median(p[part] for p in passes.values()), "s")
    named["setup_s"] = e2e["setup_s"]

    per_layer = None
    spans_path = os.path.join(run_dir, "spans.jsonl")
    layer_detail = {}
    if a.trace:
        spans = read_jsonl(spans_path)
        per_layer, layer_detail = layers.per_layer(spans, resps, summ, writes)

    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": {k: summ.get(k) for k in ("nproc", "heap_mb", "jdk", "jvm", "spark", "scala")},
        "sentinels": {k: summ.get(k) for k in (
            "sentinel_cpu_pre_s", "sentinel_mem_pre_s", "sentinel_cpu_post_s",
            "sentinel_mem_post_s", "sentinel_time_s")},
        "sf_dir": sf_dir, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "per_op_p50_ms": {op: layers.quantile(x, 0.5) for op, x in sorted(by_op.items())},
        "per_op_count": {op: len(x) for op, x in sorted(by_op.items())},
        "failures": failures, "warmup_failures": warm_failures, "template_mismatches": bad_shapes,
        "check_s": check_s, "summary": summ,
        "mix": traffic.BLOCK if serve else None,
        "mix_sensitivity": mix_sensitivity(by_op) if serve else None,
    }
    if a.trace:
        artifact["per_layer"] = per_layer
        artifact["layers"] = layer_detail
        base = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            artifact["tracing_overhead"] = {
                k: {"traced": v, "untraced": untraced[k]["value"], "diff": v - untraced[k]["value"],
                    "unit": u} for k, (v, u) in e2e.items() if k in untraced}
        else:
            artifact["tracing_overhead"] = "no untraced run of this workload and seed in this checkout"
        shutil.copy(spans_path, os.path.join(art_dir, tag + "-spans.jsonl"))
    with open(os.path.join(art_dir, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)

    for k, (v, u) in named.items():
        print(f"{a.workload:12s} {k:24s} {v:14.4f} {u}")
    for k, v in (artifact["mix_sensitivity"] or {}).items():
        print(f"{a.workload:12s} {k:44s} {v:14.4f} {'ms' if k.startswith('op_p50') else '1/s'}")
    for k, v in failures.items():
        print(f"{a.workload:12s} FAILED op {k}: {v}")
    if a.trace:
        for k, v in per_layer.items():
            print(f"{a.workload:12s} {k:44s} {v['value']:14.4f} {v['unit']}")
    metrics = per_layer if a.trace else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": not failures and not warm_failures, "attempted": len(timed),
            "failed": len(failures), "metrics": metrics}


if __name__ == "__main__":
    main()
