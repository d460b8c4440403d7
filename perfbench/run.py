"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_bulk --seed 1 --seconds 28 --trace 0

Run from the root of a checkout. Prints the run's figures under their
design names as readable lines, then, as the last line of stdout, one
JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics; ``--trace 1`` is a separate run that gives the
per-layer metrics and writes ``.perfbench/trace-<workload>.json``
(spans with self time, per-layer metrics, tracing overhead against
the last untraced run of the same workload).

``--workload all`` runs every workload, untraced and traced, in child
processes and prints one table; with ``--reference`` it also runs the
single-core reference (``local[1]``) next to the ``--cores`` run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sync_bulk", "sync_trickle", "query_mix")


def _out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import bireme_spark  # noqa: F401  (fails here when the program is absent)
    import common

    work = os.path.join(_out_dir(), f"work-{args.workload}-{os.getpid()}")
    t_start = time.perf_counter()
    try:
        if args.workload == "query_mix":
            from querymix import run_queries

            res = run_queries(args.seed, args.seconds, bool(args.trace), args.cores, work)
        else:
            from sync import run_sync

            res = run_sync(
                args.workload, args.seed, args.seconds, bool(args.trace), args.cores, work
            )
        info = res["info"]
        print(f"setup phases: {info['setup_phases']}", file=sys.stderr)
        for k in ("warmup_times", "op_times", "scan_times"):
            print(f"{k}: {[round(t, 3) for t in info.get(k, [])]}", file=sys.stderr)
        for f in info["failures"]:
            print(f"FAILED {f}")
        for name, (value, unit) in info["named"].items():
            print(f"{name} {value:.6g} {unit}")
        print(f"ops_attempted {res['attempted']} count")
        print(f"ops_failed {res['failed']} count")
        if args.trace:
            metrics = {
                k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                for k, u in common.layer_units().items()
            }
            base = os.path.join(_out_dir(), f"e2e-{args.workload}-c{args.cores}.json")
            overhead = None
            if os.path.exists(base):
                with open(base, encoding="utf-8") as f:
                    untraced = json.load(f)
                overhead = {
                    k: res["e2e"][k] - untraced[k] for k in res["e2e"] if k in untraced
                }
            with open(os.path.join(_out_dir(), f"trace-{args.workload}.json"), "w") as f:
                json.dump(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "cores": args.cores,
                        "metrics": res["layers"],
                        "end_to_end_traced": res["e2e"],
                        "tracing_overhead": overhead,
                        "spans": info.get("spans", []),
                        "batches": info.get("batches_trace", []),
                        "run_s": time.perf_counter() - t_start,
                    },
                    f,
                    indent=1,
                )
        else:
            metrics = {
                k: {"value": float(res["e2e"][k]), "unit": u} for k, u in common.E2E_UNITS.items()
            }
            with open(os.path.join(_out_dir(), f"e2e-{args.workload}-c{args.cores}.json"), "w") as f:
                json.dump(res["e2e"], f)
    finally:
        common.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, at ``--cores`` (and at
    ``local[1]`` too with ``--reference``); one summary table."""
    rows = []
    cores_list = [args.cores] + ([1] if args.reference and args.cores != 1 else [])
    for cores in cores_list:
        for w in WORKLOADS:
            for trace in (0, 1):
                cmd = [
                    sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(trace), "--cores", str(cores),
                ]
                out = subprocess.run(cmd, capture_output=True, text=True, check=False)
                lines = out.stdout.strip().splitlines()
                for line in lines[:-1]:
                    print(f"[{w} c{cores} t{trace}] {line}")
                if out.returncode != 0 or not lines:
                    print(out.stderr[-2000:], file=sys.stderr)
                    return out.returncode or 1
                if not trace:
                    rows.append((w, cores, json.loads(lines[-1])))
    print(f"{'workload':14} {'cores':>5} {'metric':18} {'value':>14} unit")
    for w, cores, res in rows:
        for k, m in res["metrics"].items():
            print(f"{w:14} {cores:>5} {k:18} {m['value']:>14.6g} {m['unit']}")
        print(f"{w:14} {cores:>5} {'correct':18} {str(res['correct']):>14}")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=28)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    p.add_argument("--reference", action="store_true", help="also run at local[1]")
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
