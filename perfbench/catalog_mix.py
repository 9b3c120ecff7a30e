"""``catalog_mix``: a closed loop with one client running the catalog's
``bench=True`` entries over seeded fixtures, in a seed-permuted order per
pass. Each query is timed in three layers: the builder call
(``CATALOG[q].spark``), Catalyst planning (forcing ``executedPlan()``) and the
materializing ``collect()``."""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from flink_gmall2024_realtime_spark.plans import CATALOG

from . import fixtures
from .common import Result, Run, hd_median, median, tail
from .meters import JobMeter, PlanTotals, plan_metrics, tree_cpu_s
from .oracle import CatalogOracle

SF = 0.005  # lineitem ~30k rows
PASS_S = 10  # seconds of measurement one timed pass stands for


def passes_for(seconds: int) -> int:
    """Timed passes: one per PASS_S seconds asked for, at least one. The
    count is fixed by ``--seconds`` alone, so a faster engine is not measured
    over more passes than a slower one."""
    return max(1, seconds // PASS_S)


@dataclass
class QueryRun:
    name: str
    build_s: float = 0.0
    catalyst_s: float = 0.0
    exec_s: float = 0.0
    columns: list | None = None
    rows: list | None = None
    error: str | None = None
    build_jobs: int = 0
    jobs: int = 0
    tasks: int = 0
    plan: PlanTotals | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.catalyst_s + self.exec_s


def run_query(spark, run: Run, jobs: JobMeter | None, name: str, sf_dir: str,
              trace_id: str) -> QueryRun:
    q = QueryRun(name)
    spec = CATALOG[name]
    try:
        if jobs:
            build_group = jobs.group(f"{name}.build")
        t0 = time.time()
        df = spec.spark(spark, sf_dir)
        t1 = time.time()
        if jobs:
            exec_group = jobs.group(f"{name}.exec")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.time()
        q.rows = df.collect()
        t3 = time.time()
        q.columns = df.columns
    except Exception as e:  # a failing query is a failed operation, not a crash
        q.error = f"{type(e).__name__}: {e}"[:300]
        return q
    finally:
        if jobs:
            jobs.clear()
    q.build_s, q.catalyst_s, q.exec_s = t1 - t0, t2 - t1, t3 - t2
    if jobs:
        m0 = time.perf_counter()
        q.build_jobs, _ = jobs.counts(build_group)
        q.jobs, q.tasks = jobs.counts(exec_group)
        q.plan = plan_metrics(qe.executedPlan())
        tr = run.tracer
        root = tr.add("query", trace_id, t0, t3, query=name)
        tr.add("plans.build", trace_id, t0, t1, root, jobs=q.build_jobs)
        tr.add("plans.catalyst", trace_id, t1, t2, root)
        tr.add("operators.execute", trace_id, t2, t3, root, jobs=q.jobs, tasks=q.tasks)
        tr.cost_s += time.perf_counter() - m0
    return q


def run(run: Run) -> Result:
    spark, start_s = run.session()
    sf_dir = run.path("fixtures")
    t0 = time.perf_counter()
    fixtures.write(run.seed, SF, sf_dir)
    stage_s = time.perf_counter() - t0
    names = sorted(n for n, s in CATALOG.items() if s.bench)

    # warm-up: one pass in catalog order pays JIT, codegen and worker spawn
    t0 = time.perf_counter()
    warm = [run_query(spark, run, None, n, sf_dir, "warmup") for n in names]
    warm_s = time.perf_counter() - t0

    jobs = JobMeter(spark) if run.trace else None
    rng = random.Random(run.seed)
    runs: list[QueryRun] = []
    passes: list[float] = []
    t_begin, cpu_begin = time.perf_counter(), tree_cpu_s()
    for _ in range(passes_for(run.seconds)):
        p0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            runs.append(run_query(spark, run, jobs, name, sf_dir, f"{len(passes)}.{name}"))
        passes.append(time.perf_counter() - p0)
    timed_s = time.perf_counter() - t_begin
    cpu_s = tree_cpu_s() - cpu_begin

    oracle = CatalogOracle(sf_dir)
    failures = {}
    for q in warm + runs:
        why = q.error or oracle.check(q.name, CATALOG[q.name].oracle, q.columns, q.rows)
        if why:
            failures.setdefault(q.name, why)
    oracle.close()
    failed = sum(1 for q in runs if q.name in failures)

    walls = [q.wall_s for q in runs if not q.error]
    best: dict[str, float] = {}
    for q in runs:
        if not q.error:
            best[q.name] = min(best.get(q.name, q.wall_s), q.wall_s)
    tail_v, tail_p, n = tail(walls)
    detail = {
        "query_p50_s": median(walls),
        "query_tail_s": {"value": tail_v, "percentile": tail_p, "samples": n},
        "query_best_s": best,
        "pass_s": median(passes),
        "passes_s": passes,
        "failed_ratio": failed / len(runs),
        "failures": failures,
        "within_float_tolerance": sorted(oracle.within_tolerance),
        "scale_factor": SF,
    }
    e2e = {
        "setup_s": (start_s + stage_s + warm_s, "s"),
        "op_p50_s": (hd_median(best.values()), "s"),
        "op_per_s": (len(names) / min(passes), "1/s"),
        "op_cpu_s": (cpu_s / len(runs), "s"),
    }
    layers: dict[str, tuple[float, str]] = {"session.start_s": (start_s, "s")}
    if run.trace:
        k = len(passes)
        totals = PlanTotals()
        for q in runs:
            if q.plan:
                totals.add(q.plan)
        per_pass = lambda attr: sum(getattr(q, attr) for q in runs) / k  # noqa: E731
        layers.update({
            "sources.scan_files": (totals.scan_files / k, "count"),
            "sources.scan_bytes": (totals.scan_bytes / k, "bytes"),
            "plans.build_s": (per_pass("build_s"), "s"),
            "plans.build_jobs": (per_pass("build_jobs"), "count"),
            "plans.catalyst_s": (per_pass("catalyst_s"), "s"),
            "operators.exec_s": (per_pass("exec_s"), "s"),
            "operators.jobs": (per_pass("jobs"), "count"),
            "operators.tasks": (per_pass("tasks"), "count"),
            "operators.exchanges": (totals.exchanges / k, "count"),
            "operators.shuffle_bytes": (totals.shuffle_bytes / k, "bytes"),
            "operators.spill_bytes": (totals.spill_bytes / k, "bytes"),
            "operators.python_bytes": (totals.python_bytes / k, "bytes"),
        })
        layers["bench.trace_overhead"] = (run.tracer.cost_s / timed_s, "ratio")
        detail["per_query"] = {
            name: {
                "build_s": median(q.build_s for q in runs if q.name == name),
                "catalyst_s": median(q.catalyst_s for q in runs if q.name == name),
                "exec_s": median(q.exec_s for q in runs if q.name == name),
                "build_jobs": max(q.build_jobs for q in runs if q.name == name),
                "jobs": max(q.jobs for q in runs if q.name == name),
            }
            for name in names
        }
    return Result(len(runs), failed, {"catalog_oracles": None if not failures else
                                      f"{len(failures)} entries differ"},
                  e2e, layers, detail)
