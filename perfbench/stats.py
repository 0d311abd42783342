"""Turns one run's raw result (per-op latencies, kinds, check failures,
layer counters) into the metrics BENCHMARK.json names."""
import json
import math
import os

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
MIN_TAIL = 10


def benchmark():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def units(trace):
    """Name -> unit of the metrics a run reports: the end-to-end metrics
    with tracing off, the per-layer metrics with tracing on."""
    return {m["name"]: m["unit"]
            for m in benchmark()["per_layer" if trace else "end_to_end"]}


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_above(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_reportable(n, candidates=(99, 95, 90, 75, 50), min_tail=MIN_TAIL):
    """The highest percentile leaving at least `min_tail` samples beyond
    it, or None when even the median does not."""
    for p in candidates:
        if tail_above(n, p) >= min_tail:
            return p
    return None


def failed_ops(kinds, check_failures):
    """Ops that raised, plus every op of a kind whose output check failed
    (kind "*" charges every op)."""
    bad_kinds = {f["kind"] for f in check_failures}
    return sum(1 for k in kinds
               if k.startswith("failed_") or "*" in bad_kinds or k in bad_kinds)


def summarize(res, trace, units):
    """The run's summary; its "metrics" are exactly the names in `units`."""
    lat = res["latencies_ms"]
    kinds = res["kinds"]
    attempted = len(lat)
    failed = failed_ops(kinds, res["check_failures"])
    ops_per_s = attempted / res["loop_s"]
    summary = {
        "attempted": attempted,
        "failed": failed,
        "correct": not res["check_failures"] and not res["errors"],
        "error_rate": failed / attempted,
        "op_samples": attempted,
        "p90_tail": tail_above(attempted, 90),
        "highest_reportable_percentile": highest_reportable(attempted),
    }
    workload = {
        "workload.rows_per_s": sum(res["rows"]) / res["loop_s"],
        "workload.error_rate": failed / attempted,
    }
    summary.update(workload)
    if trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "op_p50_ms": percentile(lat, 50),
            "op_p90_ms": percentile(lat, 90),
            "ops_per_s": ops_per_s,
            "peak_rss_mb": res["peak_rss_mb"],
        }
    else:
        values = dict(res["layers"])
        values.update(workload)
        values["trace.op_p50_ms"] = percentile(lat, 50)
        values["trace.ops_per_s"] = ops_per_s
    summary["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return summary
