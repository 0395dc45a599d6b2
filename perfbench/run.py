"""Lakehouse benchmark: one seeded workload per run, outputs checked.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Run from the repository root. Each run starts its own local[nproc] Spark
session, generates its inputs from ``--seed``, builds the workload's base
state (timed as ``setup_s``), runs operations back to back for
``--seconds`` seconds, checks the outputs, and prints progress on stderr
and, as the LAST line of stdout, one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` measures twice as long, alternating whole blocks of ops
between untraced and traced with spans recorded around every engine entry
point (perfbench/tracing.py), and reports the per-layer metrics plus the
tracing overhead.

Everything the run writes — warehouse, Spark local dirs, JVM and Python
temp files, generated inputs — lives under ``.perfbench_work/`` in the
current directory and is removed when the run ends. Exit status: 0 when
every operation and check passed, 1 when one failed (the result line is
still printed), 2 when the run could not start (e.g. the engine package is
missing; no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402  (after the path setup)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    """Every workload in its own process; prints each result line, then a
    combined line whose metric names are ``<workload>.<metric>``."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    status = 0
    for name in WORKLOADS:
        cmd = [
            sys.executable,
            os.path.abspath(__file__),
            "--workload", name,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode == 2 or not lines:
            return 2
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        status = max(status, proc.returncode)
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined), flush=True)
    return status


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import personal_data_lakehouse_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"cannot start: {exc}")
        return 2
    if args.workload == "all":
        return run_all(args)

    from perfbench.harness import Harness

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    harness = Harness(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = harness.run()
    except Exception:
        traceback.print_exc()
        log("run aborted")
        return 2
    finally:
        harness.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
