"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,search} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  It generates a seeded corpus, drives the
library's public API from this one process with a Spark session of
``local[<cpus>]``, checks every result, and prints one JSON object as the
last line of standard output::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans to ``.perfbench_out/``).  Scratch data lives in
``.perfbench_work/`` and is removed on exit.  Exits 2 without a result
when the library is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
WORKLOADS = ("ingest", "search")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work`` (no
    JVM perf-data file in /tmp either); must run before pyspark starts
    the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _stop_spark(run) -> None:
    """Stop the session and the JVM, then wait for every process this one
    started (the JVM's Python workers included) to end."""
    import rss

    from pyspark import SparkContext

    started = rss.descendants(os.getpid())
    if run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own zombie child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            return False
    return state != "Z"


def main(argv=None) -> int:
    args = _args(argv)
    missing = [p for p in ("bleve_spark", "bench_extra.py", "tests/oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: library files not found beside {HERE}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    import rss
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    run = W.Run(args.seed, args.seconds, bool(args.trace), work, cores)
    try:
        with rss.PeakRss() as peak:
            W.WORKLOADS[args.workload](run)
            metrics = run.metrics(peak.peak / (1024 * 1024))
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(
                out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        _stop_spark(run)
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench: op seconds: "
          + " ".join(f"{o['s']:.3f}" for o in run.ops), file=sys.stderr)
    print("perfbench: op cpu seconds: "
          + " ".join(f"{o['cpu_s']:.3f}" for o in run.ops), file=sys.stderr)
    for e in run.errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
