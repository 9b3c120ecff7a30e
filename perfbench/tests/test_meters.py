"""Pins the outside-in meters against plans and streams whose counts are
known in advance."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from perfbench import spec
from perfbench.common import hd_median, tail
from perfbench.meters import CallLog, JobMeter, ProgressLog, Tracer, plan_metrics, plan_nodes

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]


def test_plan_walker_reads_scan_exchange_and_python_metrics(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 3000, 1, 3).withColumn("k", F.col("id") % 7).write.parquet(path)
    files = _parquet_files(path)
    assert len(files) == 3

    df = (
        spark.read.parquet(path)
        .groupBy("k").agg(F.sum("id").alias("s"))
        .mapInPandas(lambda it: it, "k long, s long")
    )
    rows = df.collect()
    assert len(rows) == 7
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    # Spark 4 wraps the final AQE stage; the walker must see through it
    assert plan.executedPlan().getClass().getSimpleName() == "ResultQueryStageExec"

    names = [cls for cls, _ in plan_nodes(plan)]
    # the walk goes through AQE and its query stages down to the leaf scan
    assert "FileSourceScanExec" in names
    assert "ShuffleExchangeExec" in names
    assert not any(n.endswith("QueryStageExec") for n in names)

    t = plan_metrics(plan)
    assert t.scan_files == 3
    assert t.scan_bytes == sum(os.path.getsize(f) for f in files)
    assert t.exchanges == 1
    assert t.shuffle_bytes > 0
    assert t.python_bytes > 0
    assert t.spill_bytes == 0


def test_plan_walker_counts_no_exchange_for_a_map_only_plan(spark):
    df = spark.range(100).select((F.col("id") * 2).alias("x"))
    df.collect()
    t = plan_metrics(df._jdf.queryExecution().executedPlan())
    assert t.exchanges == 0 and t.shuffle_bytes == 0 and t.scan_files == 0


def test_job_meter_counts_jobs_and_tasks_of_its_group(spark):
    jobs = JobMeter(spark)
    g = jobs.group("probe")
    try:
        spark.sparkContext.parallelize(range(100), 5).count()
    finally:
        jobs.clear()
    assert jobs.counts(g) == (1, 5)
    spark.sparkContext.parallelize(range(10), 2).count()  # outside the group
    assert jobs.counts(g) == (1, 5)


def test_listener_sees_one_progress_event_per_trigger(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        p = src / f"{i}.txt"
        p.write_text(f"line {i}\nmore {i}\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    log, calls = ProgressLog(), CallLog()
    spark.streams.addListener(log)
    try:
        q = (
            spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(src))
            .writeStream.queryName("probe").foreachBatch(calls.wrap("probe", lambda df, b: df.count()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        deadline = time.time() + 10
        while len(log.by_query().get("probe", ())) < 3 and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(log)
    events = log.by_query()["probe"]
    assert len(events) == len(calls.calls) == 3
    assert [e["batchId"] for e in events] == [0, 1, 2]
    assert log.log_offset("probe") == 2  # the index of the last file read
    assert sum(e["numInputRows"] for e in events) == 6
    assert all("triggerExecution" in e["durationMs"] for e in events)


def test_tracer_self_time_subtracts_covered_child_time():
    tr = Tracer(True)
    root = tr.add("query", "t", 0.0, 10.0)
    tr.add("build", "t", 1.0, 3.0, root)
    tr.add("exec", "t", 2.0, 5.0, root)  # overlaps build: covered = 1..5
    st = tr.self_times()
    assert st["query"] == pytest.approx(6.0)
    assert st["build"] == pytest.approx(2.0) and st["exec"] == pytest.approx(3.0)
    assert Tracer(False).add("x", "t", 0, 1) is None


def test_hd_median_estimates_the_median():
    assert hd_median([4.0]) == 4.0
    assert hd_median([1.0, 2.0, 3.0]) == pytest.approx(2.0)
    # at the benchmark's sample sizes one very slow sample barely moves it
    assert hd_median([*range(1, 21), 1000.0]) == pytest.approx(11.0, rel=0.01)
    assert hd_median(range(1001)) == pytest.approx(500.0, rel=1e-3)


def test_tail_needs_ten_samples_beyond_it():
    value, pct, n = tail(range(100))
    assert (value, pct, n) == (89, 90.0, 100)
    assert tail([3, 1, 2]) == (3, 100.0, 3)


def test_benchmark_json_matches_the_metric_catalogue():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == spec.PER_LAYER
