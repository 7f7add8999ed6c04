"""Metric names and units the benchmark reports, and the result table.

The serving workloads (serve_warm, serve_cold) report the metrics
BENCHMARK.json lists, with its units. The batch workloads are run by
hand and report their own sets.
"""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BATCH_E2E = ["setup_s", "suite_s", "query_p50_ms", "heap_live_mb"]


def bench():
    """BENCHMARK.json as a dict."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def unit(name, listed):
    """A metric's unit: BENCHMARK.json's for a listed metric, otherwise
    (batch metrics) the unit its name ends in."""
    if name in listed:
        return listed[name]["unit"]
    tail = name.split("_per_")[0].rsplit("_", 1)[-1]
    return {"ms": "ms", "s": "s", "kb": "KB", "mb": "MB"}.get(
        tail, "ratio" if tail == "max" else "count")


def names(workload, trace, reported, b):
    """The metric names a run prints in its result line."""
    if workload.startswith("serve_"):
        return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]
    return sorted(reported) if trace else BATCH_E2E


def print_table(workload, seed, res, listed):
    """Every metric of a result, by name and unit, plus its checks."""
    info = res.get("info", {})
    print(f"workload {workload}  seed {seed}  samples {info.get('samples')}"
          f"  digest {info.get('digest', '-')}")
    rows = list(res["end_to_end"].items()) + list(res["per_layer"].items())
    for name, value in rows:
        print(f"  {name:<34} {value:>14.4f} {unit(name, listed)}")
    ratio = res["failed"] / max(res["attempted"], 1)
    print(f"  {'fail_ratio':<34} {ratio:>14.4f} ratio"
          f"  ({res['failed']} of {res['attempted']})")
    for e in res.get("errors", []):
        print(f"  ERROR {e}")
