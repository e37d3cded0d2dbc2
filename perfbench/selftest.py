#!/usr/bin/env python3
"""Checker self-test: feed each checker the outputs of a real traced run,
then deliberately corrupted copies of them, and show that the checker
passes the former and fails every one of the latter.

    python3 perfbench/selftest.py

Run it from the repository root. It reuses the newest traced run of each
workload under perfbench/_runs, or makes one (seed 1) when there is none
or its inputs have left the cache. Exits non-zero if a checker misses a
corruption.
"""
import copy
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

RUNS = os.path.join(HERE, "_runs")


def traced_run(workload):
    d = os.path.join(RUNS, workload + "-t1")
    path = os.path.join(d, "meta.json")
    meta = json.load(open(path)) if os.path.exists(path) else None
    if meta is None or not os.path.isdir(meta["inputs"]):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", "1"],
                       stdout=subprocess.DEVNULL, check=True)
        with open(path) as f:
            meta = json.load(f)
    with open(os.path.join(d, "check", workload + ".json")) as f:
        out = json.load(f)
    with open(os.path.join(meta["inputs"], "truth.json")) as f:
        truth = json.load(f)
    return out, meta["inputs"], truth


def curate_cases(out, inputs, truth):
    def drop_survivor(o):
        o["survivors"] = o["survivors"][1:]

    def keep_near_dup(o):
        fam = next(iter(truth["near"].values()))
        o["survivors"] = sorted(set(o["survivors"]) | set(fam))

    def leak_contaminated(o):
        o["survivors"] = sorted(set(o["survivors"]) | {truth["contam"][0]})

    def wrong_jaccard(o):
        a, b, j = o["pairs"][0]
        o["pairs"][0] = [a, b, round(j - 0.01, 4)]

    def stage_mismatch(o):
        o["stages"]["exact"] = o["stages"]["exact"][:-1]

    for name, corrupt in [("dropped survivor", drop_survivor),
                          ("near-dup family member kept", keep_near_dup),
                          ("contaminated doc kept", leak_contaminated),
                          ("pair Jaccard off by 0.01", wrong_jaccard),
                          ("exact-dedup stage lost a doc", stage_mismatch)]:
        o = copy.deepcopy(out)
        corrupt(o)
        yield name, o


def rewrite(path, fn):
    """Apply `fn` to the rows of the parquet data under `path`, in place."""
    files = sorted(os.path.join(b, n) for b, _, ns in os.walk(path)
                   for n in ns if n.endswith(".parquet"))
    tables = [pq.read_table(f) for f in files]
    rows = [r for t in tables for r in t.to_pylist()]
    rows = fn(rows)
    schema = tables[0].schema
    for f in files:
        os.remove(f)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), files[0])


def etl_cases(out, inputs, truth):
    def changed_merge_value(rows):
        rows[0]["priority"] = rows[0]["priority"] % 5 + 1
        return rows

    def swapped_topk_id(rows):
        a = next(i for i, r in enumerate(rows) if r["cust_id"] != rows[0]["cust_id"])
        rows[0]["order_id"], rows[a]["order_id"] = rows[a]["order_id"], rows[0]["order_id"]
        return rows

    def dropped_row(rows):
        return rows[1:]

    def nudged_revenue(rows):
        rows[0]["revenue"] *= 1.0001
        return rows

    base = os.path.join(RUNS, "selftest-etl")
    for name, sink, fn in [("changed merge value", "store_final", changed_merge_value),
                           ("swapped top-k id", "topk", swapped_topk_id),
                           ("dropped sink row", "by_nation", dropped_row),
                           ("as-of revenue off by 1e-4", "asof_revenue", nudged_revenue)]:
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(out["dir"], base)
        rewrite(os.path.join(base, sink), fn)
        yield name, {"dir": base}
    shutil.rmtree(base, ignore_errors=True)


CASES = {"curate": curate_cases, "etl": etl_cases}


def main():
    ok = True
    for workload, cases in CASES.items():
        out, inputs, truth = traced_run(workload)
        check = checks.CHECKERS[workload]
        clean = check(out, inputs, truth)
        print("%-8s %-32s %s" % (workload, "unmodified output",
                                 "passes" if not clean else "FAILS: " + clean[0]))
        ok &= not clean
        for name, bad in cases(out, inputs, truth):
            fails = check(bad, inputs, truth)
            print("%-8s %-32s %s" % (workload, name,
                                     "caught: " + fails[0] if fails else "MISSED"))
            ok &= bool(fails)
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
