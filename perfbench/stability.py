"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/stability.py --workloads search,churn --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out results.json]

For every workload and metric it prints the median of the runs and the
quartile spread (Q3 - Q1) / median, the figure each end-to-end metric's
``bound`` in ``BENCHMARK.json`` must stay above.  Runs are sequential; each
run's wall time is reported too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import highest_supported_percentile, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    ops = {}
    for ln in proc.stderr.splitlines():
        for key in ("op seconds", "op cpu seconds"):
            if ln.startswith(f"perfbench: {key}:"):
                ops[key.replace(" ", "_")] = [
                    float(x) for x in ln.split(":", 2)[2].split()]
    return {"workload": workload, "seed": seed, "wall_s": wall, **ops,
            **json.loads(lines[-1])}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results = []
    for wl in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            r = run_once(wl, seed, args.seconds, args.trace)
            results.append(r)
            print(f"{wl} seed={seed} wall={r['wall_s']:.1f}s "
                  f"correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}", flush=True)
        runs = [r for r in results if r["workload"] == wl]
        walls = [r["wall_s"] for r in runs]
        n_ops = min(len(r.get("op_seconds", [])) for r in runs)
        print(f"== {wl}: {len(runs)} runs, wall median "
              f"{statistics.median(walls):.1f}s max {max(walls):.1f}s; "
              f">= {n_ops} timed ops a run support percentile "
              f"{highest_supported_percentile(n_ops)}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            spread = quartile_spread(vals) if len(vals) > 1 else 0.0
            bound = bounds.get(name)
            flag = ""
            if bound is not None and name != "setup_s":
                flag = "ok" if spread < bound / 3 else "WIDE"
            print(f"   {name:32s} median={statistics.median(vals):.6g} "
                  f"spread={spread:.4f} bound={bound} {flag}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
