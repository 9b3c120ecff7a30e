"""Run context shared by the workloads: the Spark session the engine builds,
scratch directories inside the checkout, statistics and the result record."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from .meters import Tracer

NPROC = len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def hd_median(xs) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-weighted
    mean of all order statistics. With a few dozen samples from different
    queries or micro-batches it moves far less between runs than the sample
    median, which jumps from one order statistic to the next."""
    s = np.sort(np.asarray(list(xs), dtype=float))
    n = len(s)
    if n < 2:
        return float(s[0]) if n else 0.0
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        log_pdf = (a - 1) * (np.log(grid) + np.log1p(-grid))
    pdf = np.exp(log_pdf - log_pdf[np.isfinite(log_pdf)].max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ s)


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at least
    ten samples beyond it. Below 20 samples that percentile would not exceed
    the median, so the sample supports no tail; the maximum is returned with
    percentile 100 instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    tracer: Tracer = field(init=False)
    spark: object = field(init=False, default=None)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, shuffle_partitions: int | None = None):
        """Start the engine's session (``session.get_spark``) on local[nproc];
        returns (spark, seconds taken). Spark's scratch space and the SQL
        warehouse stay inside the run directory."""
        from flink_gmall2024_realtime_spark.session import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark, time.perf_counter() - t0


@dataclass
class Result:
    """What a workload returns: operation counts, the contract metrics
    (end-to-end or per-layer, by trace mode) and a free-form detail record."""

    attempted: int
    failed: int
    gates: dict[str, str | None]
    end_to_end: dict[str, tuple[float, str]]
    per_layer: dict[str, tuple[float, str]]
    detail: dict

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(v is None for v in self.gates.values())
