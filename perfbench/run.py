#!/usr/bin/env python3
"""Benchmark entry point.

One workload, one process (the form the metrics contract uses)::

    python3 perfbench/run.py --workload latinad_fanout --seed 1 --seconds 1 --trace 0

prints progress on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the run installs the layer wrappers and reports the
per-layer ones.

Every workload, untraced and then traced, each in a fresh process::

    python3 perfbench/run.py [--seed 1] [--seconds N]

prints every end-to-end metric per workload with its unit, then the
tracing overhead. ``--seconds`` defaults to ``run_seconds`` of
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("latinad_fanout", "analytics_queries")
RUN_LIMIT_S = 175


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metrics_line(result: dict, trace: bool, spec: dict) -> dict:
    """The contract's last line: every end-to-end (or per-layer)
    metric of BENCHMARK.json, by name, with its unit."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    values = result.get("layers", {}) if trace else result
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in listed
    }
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    if not os.path.isdir(os.path.join(ROOT, "etl_python_azure_spark")):
        print("perfbench: the etl_python_azure_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    from perfbench.workloads import WORKLOADS as classes

    spec = _spec()
    run = harness.Run(classes[workload], seed, seconds, trace)
    harness.prepare_environment(run.work_dir)
    try:
        result = run.execute()
    finally:
        run.cleanup()
    print(
        f"[perfbench] {workload} seed={seed} trace={int(trace)} "
        f"attempted={result['attempted']} failed={result['failed']} "
        f"failed_frac={result['failed'] / result['attempted']:.3f} "
        f"loadavg start={result['load'][0]:.2f} end={result['load'][1]:.2f}",
        file=sys.stderr,
    )
    print(json.dumps(metrics_line(result, trace, spec)), flush=True)
    return 0


def run_all(seed: int, seconds: int) -> int:
    """Each workload untraced then traced, in fresh processes; prints
    the end-to-end metrics with units, and the tracing overhead."""
    status = 0
    for w in WORKLOADS:
        lines = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False,
            )
            out = p.stdout.strip().splitlines()
            if p.returncode != 0 or not out:
                print(f"{w} trace={trace}: exit {p.returncode}")
                status = 1
                continue
            lines[trace] = json.loads(out[-1])
        if 0 in lines:
            r = lines[0]
            print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} "
                  f"failed_frac={r['failed'] / max(1, r['attempted']):.3f}")
            for name, m in r["metrics"].items():
                print(f"  {name:<14} {m['value']:>14.4f} {m['unit']}")
        if 1 in lines:
            t = lines[1]["metrics"]
            print(f"  trace overhead {t['trace.overhead_s']['value']:>14.4f} s "
                  f"(traced run_s {t['trace.run_s']['value']:.4f} s)")
            print(f"  peak RSS       {t['host.peak_rss_mb']['value']:>14.4f} MB "
                  f"(traced run)")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = _spec()["run_seconds"]
    if args.workload is None:
        return run_all(args.seed, args.seconds)
    # a run must end within 180 s: past that, dump the stacks and exit
    faulthandler.dump_traceback_later(RUN_LIMIT_S, exit=True)
    try:
        code = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — report, then exit non-zero without a result
        traceback.print_exc()
        code = 1
    # Spark, its JVM and workers are stopped and waited for by now; do
    # not let a lingering library thread hold the exit
    sys.stderr.flush()
    os._exit(code)


if __name__ == "__main__":
    sys.exit(main())
