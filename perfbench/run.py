"""Lakehouse benchmark: one workload, one seed, one process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload neows_daily --seed 1 --seconds 8 --trace 0

Workloads: ``neows_daily`` and ``lakehouse_mix`` (see
``perfbench/README.md``).  With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the per-layer ones,
and the spans go to ``.perfbench_work/traces/``.  The line before it is
a detail record (op counts, tail percentile, host record).  Exits 1 when
a correctness check fails and 2 when the package cannot be imported.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("neows_daily", "lakehouse_mix")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every scratch file of Python, Spark and the package inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["NDL_SCRATCH_DIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import nasa_asteroid_data_lakehouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package not importable from {root}: {exc}", file=sys.stderr)
        return 2

    import importlib

    from harness import Run

    ctx = Run(root, args.workload, args.seed, args.seconds, bool(args.trace), T0)
    isolate(ctx.work)
    workload = importlib.import_module(args.workload)
    try:
        heap = workload.run(ctx)
        if ctx.trace:
            ctx.tracer.write(os.path.join(
                root, ".perfbench_work", "traces",
                f"{args.workload}-seed{args.seed}.jsonl"))
        result = ctx.report(heap)
    finally:
        ctx.stop()
        ctx.cleanup()
    print(json.dumps({"detail": ctx.detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
