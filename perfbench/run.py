"""Layered benchmark of the gmall engine.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
``--seed``; outputs are checked against DuckDB before the result is printed.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) of
``perfbench/spec.py``. The line before it is a detail record. A traced run
also writes its spans to ``.perfbench_work/traces/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(CHECKOUT, ".perfbench_work")
ENGINE = os.path.join(CHECKOUT, "flink_gmall2024_realtime_spark")
ORACLE_TOOL = os.path.join(CHECKOUT, "tools", "verify_oracle.py")


def _shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM (it exits when its stdin
    closes); Python workers end with their executor."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _isolate(work: str) -> None:
    """Keep every scratch file of Python, Spark and its workers inside the
    run directory, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    # a bounded heap keeps the memory footprint and the RSS figure small and steady
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _vs_untraced(path: str, traced) -> dict | str:
    """Relative change of each end-to-end metric from the last untraced run
    of the same workload and seed in this checkout: the tracing overhead as
    a user would see it."""
    if not os.path.exists(path):
        return "no untraced run of this workload and seed yet"
    with open(path) as f:
        base = json.load(f)
    return {k: v / base[k] - 1 for k, (v, _unit) in traced.end_to_end.items()
            if base.get(k)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(ENGINE) and os.path.isfile(ORACLE_TOOL)):
        print(f"engine sources not found under {CHECKOUT}", file=sys.stderr)
        return 2

    sys.path.insert(0, CHECKOUT)
    from perfbench import catalog_mix, spec, warehouse
    from perfbench.common import Run
    from perfbench.meters import RssSampler

    runners = {"catalog_mix": catalog_mix.run, "warehouse_backfill": warehouse.run}
    if args.workload not in runners:
        print(f"unknown workload {args.workload!r}; choose from {sorted(runners)}",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        with RssSampler() as rss:
            try:
                result = runners[args.workload](run)
            finally:
                _shutdown(run.spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    untraced = os.path.join(WORK_ROOT, "untraced", f"{args.workload}-{args.seed}.json")
    if run.trace:
        names, values = spec.PER_LAYER, result.per_layer
        run.tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.jsonl"))
        result.detail["self_s"] = run.tracer.self_times()
        result.detail["vs_untraced"] = _vs_untraced(untraced, result)
    else:
        names, values = spec.END_TO_END, dict(result.end_to_end)
        values["peak_rss_mb"] = (rss.peak_mb, "MB")
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump({k: v for k, (v, _unit) in result.end_to_end.items()}, f)
    metrics = {
        name: {"value": float(values.get(name, (0.0,))[0]), "unit": unit}
        for name, (unit, _better) in names.items()
    }
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "peak_rss_mb": rss.peak_mb, **result.detail}}, default=str))
    print(json.dumps({"correct": result.correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
