#!/usr/bin/env python3
"""Compare benchmark runs of two commits, or check the spread of one.

    python3 perfbench/compare.py runs/parent.jsonl runs/change.jsonl
    python3 perfbench/compare.py runs/head.jsonl

Input files are written by perfbench/series.py. For each workload and
metric it prints each side's median and quartiles (Python's
statistics.quantiles, n=4), the share of seed-matched pairs the change
won (ties count for neither side), and a verdict:

- gain: the change won at least 9/10 of the pairs, the medians
  differ by more than the parent's own quartile distance, and the
  change failed no more operations than the parent (a gain bought with
  failures is reported as "gain refused: failures");
- regression: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
- unresolved: the parent's quartile distance, as a share of its median,
  is wider than the bound, and not every change run beat every parent
  run;
- within bound: otherwise.

Runs that crashed, or whose outputs failed a check, are counted per
workload and side and printed first; a seed that one side lacks is
named. Metrics of runs with failed outputs are still compared.

Records of traced runs (series.py --traces 0,1) carry the end-to-end
metrics beside the per-layer ones, so the untraced and traced files of
one side compare into the tracing overhead.

With one file it prints the spread (quartile distance / median) of each
end-to-end metric against a third of its bound, the target for a steady
benchmark.
"""

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """({(workload, metric): {seed: value}}, {workload: Runs})."""
    vals, runs = {}, {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            r = runs.setdefault(rec["workload"], Runs())
            res = rec.get("result")
            if res is None:
                r.crashed.add(rec["seed"])
                continue
            r.seeds.add(rec["seed"])
            r.attempted += res["attempted"]
            r.failed += res["failed"]
            if not res["correct"] or res["failed"]:
                r.failed_runs.add(rec["seed"])
            metrics = dict(rec.get("end_to_end", {}))
            metrics.update((n, m["value"]) for n, m in res["metrics"].items())
            for name, v in metrics.items():
                vals.setdefault((rec["workload"], name), {})[rec["seed"]] = v
    return vals, runs


class Runs:
    """Seeds with a result, crashed seeds and failure counts of one
    workload on one side."""

    def __init__(self):
        self.seeds, self.crashed, self.failed_runs = set(), set(), set()
        self.attempted = self.failed = 0

    def fail_ratio(self):
        return self.failed / max(self.attempted, 1)

    def worse_than(self, parent):
        """True when this side failed more than `parent` did."""
        return (len(self.crashed | self.failed_runs)
                > len(parent.crashed | parent.failed_runs)
                or self.fail_ratio() > parent.fail_ratio())

    def summary(self):
        def seeds(s):
            return f" {sorted(s)}" if s else ""
        return (f"{len(self.seeds)} runs, {len(self.crashed)} crashed{seeds(self.crashed)},"
                f" {len(self.failed_runs)} with failed outputs{seeds(self.failed_runs)},"
                f" fail_ratio {self.fail_ratio():.4g}")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, failures_worse):
    sign = 1 if better == "lower" else -1
    pq1, pmed, pq3 = quartiles(sorted(parent.values()))
    _, cmed, _ = quartiles(sorted(change.values()))
    seeds = sorted(set(parent) & set(change))
    wins = sum(1 for s in seeds if sign * (change[s] - parent[s]) < 0)
    share = wins / len(seeds) if seeds else 0.0
    spread = (pq3 - pq1) / abs(pmed) if pmed else 0.0
    worse = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) < 0 for c in change.values() for p in parent.values())
    if share >= 0.9 and abs(cmed - pmed) > pq3 - pq1:
        v = "gain refused: failures" if failures_worse else "gain"
    elif bound is None:
        v = "no claim"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return share, len(seeds), v


def main():
    meta = bench()
    loaded = [load(p) for p in sys.argv[1:3]]
    if not loaded:
        sys.exit(__doc__)
    sides = [v for v, _ in loaded]
    runs = [r for _, r in loaded]
    for workload in sorted(set().union(*runs)):
        rs = [r.get(workload, Runs()) for r in runs]
        for path, r in zip(sys.argv[1:3], rs):
            print(f"{workload:<12} {os.path.basename(path)}: {r.summary()}")
        if len(rs) == 2:
            for a, b, path in ((rs[0], rs[1], sys.argv[2]), (rs[1], rs[0], sys.argv[1])):
                lost = sorted((a.seeds | a.crashed) - (b.seeds | b.crashed))
                if lost:
                    print(f"{workload:<12} WARNING: seeds {lost} missing from {path}")
    keys = sorted(set().union(*sides), key=lambda k: (k[0], k[1] not in meta, k[1]))
    for workload, metric in keys:
        m = meta.get(metric, {})
        bound = m.get("bound")
        cols = []
        for side in sides:
            vals = sorted(side.get((workload, metric), {}).values())
            if not vals:
                cols.append("-")
                continue
            q1, med, q3 = quartiles(vals)
            cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals)}")
        row = f"{workload:<12} {metric:<30} " + "  |  ".join(cols)
        if len(sides) == 1 and bound is not None:
            q1, med, q3 = quartiles(sorted(sides[0][(workload, metric)].values()))
            spread = (q3 - q1) / abs(med) if med else 0.0
            ok = "steady" if spread < bound / 3 else "NOT steady"
            row += f"  spread {spread:.3f} vs bound/3 {bound / 3:.3f}: {ok}"
        elif len(sides) == 2 and all((workload, metric) in s for s in sides):
            worse = runs[1][workload].worse_than(runs[0][workload])
            share, n, v = verdict(sides[0][(workload, metric)], sides[1][(workload, metric)],
                                  m.get("better", "lower"), bound, worse)
            row += f"  won {share:.2f} of {n}: {v}"
        print(row)


if __name__ == "__main__":
    main()
