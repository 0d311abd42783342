#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts (bench_results/*.json).

    python3 perfbench/compare.py A_DIR B_DIR            # A = parent, B = change
    python3 perfbench/compare.py --overhead DIR         # traced vs untraced runs
    python3 perfbench/compare.py --counts DIR           # deterministic counts

Gain rule (choosing-metrics guide, section 8): the runs of A and B are
paired in the order they ran, which should alternate A, B, A, B. B claims
a gain on a metric only when it wins at least 9 of every 10 pairs (ties
count for neither side), over at least 10 pairs, and the medians differ
by more than A's own interquartile distance, and B fails no more ops
than A: when any B run fails its checks (correct false) or B's error
rate is above A's, every metric reads "regression". Every other metric is
checked against the bound BENCHMARK.json fixes for it: B's median may be
worse than A's by at most that share; where A's own spread is wider than
the bound, the metric is reported as unresolved, not unchanged.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

DETERMINISTIC = ["spark.jobs", "spark.exchanges", "spark.ckpt_jobs", "bus.msgs",
                 "streaming.files_loaded"]


def load(d, trace=None):
    out = []
    for f in glob.glob(os.path.join(d, "*.json")):
        with open(f) as fh:
            a = json.load(fh)
        if trace is None or a.get("trace") == trace:
            out.append(a)
    out.sort(key=lambda a: a.get("finished_ms", 0))
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def error_rate(runs):
    return (sum(r["summary"]["failed"] for r in runs)
            / sum(r["summary"]["attempted"] for r in runs))


def verdict(name, a, b, m, b_fails):
    lower = m["better"] == "lower"
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
    ma, mb = statistics.median(a), statistics.median(b)
    qa = quartiles(a)
    iqr = qa[1] - qa[0]
    worse = (mb - ma) / ma if lower else (ma - mb) / ma
    if b_fails:
        v = "regression (B fails checks)"
    elif len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mb - ma) > iqr:
        v = "gain"
    elif worse > m["bound"]:
        v = "regression"
    elif iqr / ma > m["bound"] and not all((y < x if lower else y > x) for x in a for y in b):
        v = "unresolved"
    else:
        v = "within bound"
    return (f"  {name:14s} A {ma:.4g} [{qa[0]:.4g}, {qa[1]:.4g}]  "
            f"B {mb:.4g} [{quartiles(b)[0]:.4g}, {quartiles(b)[1]:.4g}]  "
            f"wins {wins}/{len(pairs)}  worse {worse:+.1%} (bound {m['bound']:.0%})  {v}")


def compare(da, db):
    metrics = {m["name"]: m for m in stats.benchmark()["end_to_end"]}
    a_runs, b_runs = load(da, 0), load(db, 0)
    for wl in sorted({r["workload"] for r in a_runs}):
        a = [r for r in a_runs if r["workload"] == wl]
        b = [r for r in b_runs if r["workload"] == wl]
        if not b:
            continue
        print(f"{wl}: {len(a)} A runs, {len(b)} B runs; canary A "
              f"{statistics.median(r['canary_sec'] for r in a):.3f} s, "
              f"B {statistics.median(r['canary_sec'] for r in b):.3f} s; error rate "
              f"A {error_rate(a):.4g}, B {error_rate(b):.4g}")
        b_fails = (not all(r["summary"]["correct"] for r in b)
                   or error_rate(b) > error_rate(a))
        for name, m in metrics.items():
            va = [r["summary"]["metrics"][name]["value"] for r in a]
            vb = [r["summary"]["metrics"][name]["value"] for r in b]
            print(verdict(name, va, vb, m, b_fails))


def overhead(d):
    runs = load(d)
    for wl in sorted({r["workload"] for r in runs}):
        off = [r for r in runs if r["workload"] == wl and r["trace"] == 0]
        on = [r for r in runs if r["workload"] == wl and r["trace"] == 1]
        if not off or not on:
            continue
        for key, traced in (("op_p50_ms", "trace.op_p50_ms"), ("ops_per_s", "trace.ops_per_s")):
            x = statistics.median(r["summary"]["metrics"][key]["value"] for r in off)
            y = statistics.median(r["summary"]["metrics"][traced]["value"] for r in on)
            print(f"{wl}: {key} untraced {x:.4g} ({len(off)} runs), traced {y:.4g} "
                  f"({len(on)} runs): {(y - x) / x:+.1%}")


def counts(d):
    runs = [r for r in load(d, 1)]
    ok = True
    for key in sorted({(r["workload"], r["seed"]) for r in runs}):
        same = [r for r in runs if (r["workload"], r["seed"]) == key]
        vals = {c: [r["summary"]["metrics"][c]["value"] for r in same] for c in DETERMINISTIC}
        steady = all(len(set(v)) == 1 for v in vals.values())
        ok &= steady or len(same) < 2
        print(f"{key[0]} seed {key[1]}: {len(same)} traced runs, "
              + ", ".join(f"{c}={v}" for c, v in vals.items())
              + ("" if steady else "  NOT REPEATED EXACTLY"))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--counts", action="store_true")
    a = ap.parse_args()
    if a.overhead:
        overhead(a.dirs[0])
    elif a.counts:
        sys.exit(0 if counts(a.dirs[0]) else 1)
    else:
        compare(a.dirs[0], a.dirs[1])


if __name__ == "__main__":
    main()
