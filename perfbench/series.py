#!/usr/bin/env python3
"""Run the benchmark over many seeds and record every result line.

    python3 perfbench/series.py --seeds 1-10 --out-dir runs/
    python3 perfbench/series.py --side parent=../graft-parent --side change=. \\
        --seeds 101-110 --out-dir runs/
    python3 perfbench/series.py --traces 0,1 --seeds 1-8 --out-dir runs/

Each --side NAME=ROOT names a checkout to run `perfbench/run.py` in
(default: this checkout, as "head"). For every seed and workload the
sides, and with --traces 0,1 the untraced and traced runs, run back to
back, in reversed order on every other seed, so that none always runs
first. Results go to <out-dir>/<NAME>.jsonl (untraced) and
<out-dir>/<NAME>-traced.jsonl, one line per run: workload, seed, trace,
wall seconds, the result line, the run's end-to-end metrics and the
host's speed. Compare
two files with perfbench/compare.py: two sides, or a side's untraced
and traced runs for the tracing overhead.
"""

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# ledger info on the host: a fixed scalar loop's time, and the CPU share
# the hypervisor took during the window
HOST_INFO = ["calibration_ms", "steal_share"]


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--side", action="append", default=[], metavar="NAME=ROOT")
    ap.add_argument("--workloads", default="serve_warm,serve_cold")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traces", default="0", help="0, 1 or 0,1")
    ap.add_argument("--out-dir", required=True)
    a = ap.parse_args()

    # run length is the benchmark's, the same on every side
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    sides = [s.split("=", 1) for s in a.side] or [["head", ROOT]]
    os.makedirs(a.out_dir, exist_ok=True)
    runs = [(name, root, int(t)) for name, root in sides for t in a.traces.split(",")]
    for i, seed in enumerate(seeds(a.seeds)):
        for workload in a.workloads.split(","):
            for name, root, trace in (runs if i % 2 == 0 else runs[::-1]):
                with tempfile.TemporaryDirectory(dir=a.out_dir) as tmp:
                    ledger = os.path.join(tmp, "ledger.json")
                    t0 = time.time()
                    r = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", workload,
                         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace),
                         "--ledger-out", ledger],
                        cwd=os.path.abspath(root), capture_output=True, text=True)
                    wall = time.time() - t0
                    e2e, info = {}, {}
                    if os.path.exists(ledger):
                        with open(ledger) as f:
                            led = json.load(f)
                        e2e = led["end_to_end"]
                        # the host's speed in this run, to tell a slow run
                        info = {k: led["info"][k] for k in HOST_INFO if k in led["info"]}
                lines = r.stdout.strip().splitlines()
                rec = {"workload": workload, "seed": seed, "trace": trace,
                       "wall_s": round(wall, 1), "exit": r.returncode,
                       "result": json.loads(lines[-1]) if r.returncode == 0 else None,
                       "end_to_end": e2e, "host": info}
                if r.returncode != 0:
                    sys.stderr.write(r.stderr[-3000:])
                out = f"{name}-traced.jsonl" if trace else f"{name}.jsonl"
                with open(os.path.join(a.out_dir, out), "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{name} {workload} seed {seed} trace {trace}: exit {r.returncode}"
                      f" in {wall:.0f} s", flush=True)


if __name__ == "__main__":
    main()
