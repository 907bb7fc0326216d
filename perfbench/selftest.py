#!/usr/bin/env python3
"""Shows that the output checks catch and count a wrong answer.

    python3 perfbench/selftest.py

Builds right answers for a seeded serve_write request log (DuckDB for the
lookups, the batch fold for the order batches), corrupts one lookup row
and one order decision, and runs them through the same check and count
path as a benchmark run. Exits 0 only if exactly the two corrupted
answers are counted as failed. Needs no JVM.
"""
import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402
import run  # noqa: E402
import traffic  # noqa: E402


def main():
    sf_dir = run.find_sf_dir()
    reqs = [r for r in traffic.generate(0, 40, sf_dir) if r["op"] != "upsert"]
    contract = {entry: render(defaults) for entry, render, defaults in oracle.TEMPLATES.values()}
    truth = oracle.ServeChecker(sf_dir, contract, os.path.join(run.BUILD, "oracle-cache", "serve.json"))
    resps = []
    for r in reqs:
        if r["op"] == "placeOrders":
            cols, rows = ["part", "okey", "lineno", "qty", "accepted", "stock_after"], truth.fold(r["rows"])
        else:
            cols, rows = truth.expected(r)
        resps.append({"id": r["id"], "op": r["op"], "warmup": bool(r.get("warmup")), "error": None,
                      "cols": cols, "rows": copy.deepcopy(rows)})
    lookup = next(x for x in resps if not x["warmup"] and x["op"] == "productBySku" and x["rows"])
    lookup["rows"][0][-1] += 0.01  # p_retailprice off by a cent
    order = next(x for x in resps if not x["warmup"] and x["op"] == "placeOrders")
    order["rows"][-1][4] = not order["rows"][-1][4]  # one accept/reject flipped
    verdict, _ = run.check_serve(reqs, resps, sf_dir, contract)
    failures, warm = run.count_failures(resps, verdict)
    for k, v in failures.items():
        print(f"caught op {k}: {v}")
    ok = set(failures) == {lookup["id"], order["id"]} and not warm
    print(f"selftest {'passed' if ok else 'FAILED'}: {len(failures)} of "
          f"{sum(not x['warmup'] for x in resps)} answers counted as failed")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
