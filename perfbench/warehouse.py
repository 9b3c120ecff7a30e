"""``warehouse_backfill``: the four streaming queries of ``topology`` run
with triggers back to back; a seeded ODS backlog for both topics lands at
once and each query drains it one file per trigger (a closed loop: a query
takes its next file only when its previous batch has committed).

Set-up drains the first WARM_TICKS ticks, so the timed drain starts with warm
JIT, codegen, Python workers, dim buckets and state."""

from __future__ import annotations

import datetime as dt
import os
import time

from . import topology
from .common import NPROC, Result, Run, hd_median, median, tail
from .meters import Call, CallLog, JobMeter, ProgressLog, tree_cpu_s
from .ods import SINK_COLUMNS, OdsGenerator
from .oracle import StreamTwin

LOG_PER_TICK = 200
DB_PER_TICK = 4
DIM_KEYS = 2000  # Zipf keys: hot ones are updated, the tail keeps inserting
TICK_MS = 5000  # event time between ticks: a few ticks close several 10 s windows
T0_MS = 1_717_200_000_000  # 2024-06-01 08:00 Asia/Shanghai
WARM_TICKS = 1
# a run must end within three minutes even on a machine twice as slow
WARM_TIMEOUT_S = 60
DRAIN_TIMEOUT_S = 80
QUIET_S = 2.0
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
SINKS = ("dim", "dwd", "dws")
TOPIC = {"dim": "topic_db", "dwd": "topic_log", "dws": "topic_log", "state": "topic_log"}


def ticks_for(seconds: int) -> int:
    """Backlog size: one tick (a topic_log and a topic_db file) per five
    seconds of measurement asked for, at least 4."""
    return max(4, seconds // 5)


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _render(run: Run, n_ticks: int):
    return OdsGenerator(run.seed, dim_keys=DIM_KEYS).files(WARM_TICKS + n_ticks, LOG_PER_TICK, DB_PER_TICK,
                                        T0_MS, TICK_MS)


def _place(files, ods: str) -> None:
    """Write each file aside, stamp its due time as mtime (the file source
    orders by it), then rename it into the source directory atomically."""
    for f in files:
        src_dir = os.path.join(ods, f.topic)
        tmp = os.path.join(ods, f"_{f.topic}_{f.index:06d}.tmp")
        with open(tmp, "w") as out:
            out.write(f.body)
        os.utime(tmp, (f.due_ms / 1000, f.due_ms / 1000))
        os.replace(tmp, os.path.join(src_dir, f"{f.index:06d}.json"))


def _drained(qs: dict, progress: ProgressLog, last_file: int, deadline: float) -> list[str]:
    """Wait until every query has committed the batch that read file
    ``last_file`` of its topic (read from the source offsets, so no row
    count is assumed); returns errors, if any."""
    while time.time() < deadline:
        dead = [f"{n}: {str(q.exception())[:300]}" for n, q in qs.items() if not q.isActive]
        if dead:
            return dead
        if all(progress.log_offset(n) >= last_file for n in qs):
            return []
        time.sleep(0.05)
    return ["backlog not drained in time"]


def _settle(progress: ProgressLog) -> None:
    """Wait until no batch has reported for QUIET_S: the DWS query runs one
    more batch without data to emit the windows its watermark closed."""
    seen, since = len(progress.events), time.time()
    while time.time() - since < QUIET_S:
        time.sleep(0.05)
        if len(progress.events) != seen:
            seen, since = len(progress.events), time.time()


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def _rows(spark, path: str) -> list[dict]:
    """A sink's table as Python rows, read the way the engine's readers do
    (``spark.read.parquet`` on the table), so the gates see what the table
    holds, not how its files are laid out."""
    if not os.path.isdir(path):
        return []
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _diff(got: set, want: set) -> str | None:
    if got == want and want:
        return None
    return (f"{len(got - want)} unexpected, {len(want - got)} missing of {len(want)}; "
            f"e.g. {sorted(got - want, key=str)[:2]} vs {sorted(want - got, key=str)[:2]}")


def _check_outputs(spark, root: str, twin: StreamTwin, progress: dict[str, list[dict]],
                   generated: dict[str, int]) -> dict[str, str | None]:
    gates: dict[str, str | None] = {}
    for name, topic in TOPIC.items():
        # a query may scan its batch more than once (dim_app_pipeline reads
        # an un-persisted batch once per routed table), never partially
        got, want = sum(e["numInputRows"] for e in progress.get(name, ())), generated[topic]
        gates[f"{name}.input_rows"] = (
            None if got >= want > 0 and got % want == 0
            else f"{got} rows read, not a whole multiple of the {want} generated")
    for name in ("dws", "state"):
        dropped = sum(op.get("numRowsDroppedByWatermark", 0) for e in progress.get(name, ())
                      for op in e.get("stateOperators", ()))
        gates[f"{name}.dropped_by_watermark"] = None if dropped == 0 else f"{dropped} rows dropped"

    want = twin.dim_tables(SINK_COLUMNS)
    for table, rows in want.items():
        got = {(r["row_key"], r["type"], tuple(sorted(r["data"].items())), r["ts"])
               for r in _rows(spark, os.path.join(root, "dim", f"dim_{table}", "table"))}
        gates[f"dim.{table}"] = _diff(got, rows)

    counts = twin.dwd_counts()
    for branch, n in counts.items():
        got = len(_rows(spark, os.path.join(root, "dwd", f"dwd_traffic_{branch}")))
        gates[f"dwd.{branch}"] = None if got == n else f"{got} rows, twin {n}"

    wm = max((e["eventTime"].get("watermark") for e in progress.get("dws", ())
              if e.get("eventTime", {}).get("watermark")), default=None)
    want_w = twin.page_windows(_epoch(wm) * 1000 if wm else 0)
    got_w = {
        (r["stt"], r["edt"], str(r["cur_date"]), r["page_id"], r["pv_ct"], r["dur_sum"])
        for r in _rows(spark, os.path.join(root, "dws", topology.DWS_TABLE))
    }
    gates["dws.closed_windows"] = _diff(got_w, want_w)

    want_s = twin.first_seen()
    got_s = {
        (r["_batch_id"], r["key"], str(r["cur_date"]), r["is_new"])
        for r in _rows(spark, os.path.join(root, "state", topology.STATE_TABLE))
    }
    gates["state.first_seen"] = _diff(got_s, want_s)
    return gates


def run(run: Run) -> Result:
    # shuffle partitions = cores: the reference apps run at parallelism 4 and
    # the engine's own warehouse example lowers the 32 default the same way
    spark, start_s = run.session(shuffle_partitions=NPROC)
    progress = ProgressLog()
    spark.streams.addListener(progress)
    root = run.path("warehouse")
    ods = os.path.join(root, "ods")
    for topic in ("topic_log", "topic_db"):
        os.makedirs(os.path.join(ods, topic), exist_ok=True)

    n_ticks = ticks_for(run.seconds)
    t0 = time.perf_counter()
    ticks = _render(run, n_ticks)
    render_s = time.perf_counter() - t0

    calls = CallLog()
    jobs = JobMeter(spark) if run.trace else None

    def count_jobs() -> int:
        # a micro-batch's jobs run under the query's run id as job group
        m0 = time.perf_counter()
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        n = len(list(jobs.tracker.getJobIdsForGroup(group))) if group else 0
        run.tracer.cost_s += time.perf_counter() - m0
        return n

    t0 = time.perf_counter()
    _place([f for pair in ticks[:WARM_TICKS] for f in pair], ods)
    qs = topology.start(spark, root, lambda n, fn: calls.wrap(n, fn, count_jobs if jobs else None))
    try:
        errors = _drained(qs, progress, WARM_TICKS - 1, time.time() + WARM_TIMEOUT_S)
        warm_s = time.perf_counter() - t0
        out_before = {s: _dir_stats(os.path.join(root, s)) for s in ("dim", "dwd", "dws", "state")}
        run.tracer.cost_s = 0.0
        # the timed drain: the backlog lands at once, each query takes it a
        # file per trigger
        t_placed, cpu_begin = time.time(), tree_cpu_s()
        _place([f for pair in ticks[WARM_TICKS:] for f in pair], ods)
        if not errors:
            errors = _drained(qs, progress, len(ticks) - 1, time.time() + DRAIN_TIMEOUT_S)
        cpu_s = tree_cpu_s() - cpu_begin
        if not errors:
            _settle(progress)
    finally:
        for q in qs.values():
            q.stop()
    by_query = progress.by_query()
    timed = {q: [e for e in by_query.get(q, ()) if _epoch(e["timestamp"]) >= t_placed]
             for q in topology.QUERIES}
    timed_calls = [c for c in calls.calls if c.start >= t_placed]
    batches = [e for es in timed.values() for e in es]
    trig = [e["durationMs"].get("triggerExecution", 0) / 1000 for e in batches]

    first = min((_epoch(e["timestamp"]) for e in batches), default=time.time())
    last = max((c.end for c in timed_calls), default=first)
    wall = max(last - first, 1e-9)
    events = n_ticks * (LOG_PER_TICK + DB_PER_TICK)

    twin = StreamTwin(ods)
    generated = {t: twin.rows(t) for t in ("topic_log", "topic_db")}
    gates = {"drain": "; ".join(errors) or None}
    if not errors:
        gates.update(_check_outputs(spark, root, twin, by_query, generated))
    twin.close()
    # a failed gate fails every batch of its query; a failed drain, all of them
    bad = {g.split(".")[0] for g, v in gates.items() if v}
    attempted = max(len(batches), 1)
    failed = attempted if "drain" in bad else sum(1 for e in batches if e["name"] in bad)

    tail_v, tail_p, n = tail(trig)
    detail = {
        "batch_p50_s": median(trig),
        "batch_tail_s": {"value": tail_v, "percentile": tail_p, "samples": n},
        "events_per_s": events / wall,
        "failed_ratio": failed / attempted,
        "ticks": n_ticks,
        "events": events,
        "gates": {k: v for k, v in gates.items() if v},
        "trigger_ms": {q: [_dur(e, "triggerExecution") for e in es] for q, es in timed.items()},
    }
    e2e = {
        "setup_s": (start_s + render_s + warm_s, "s"),
        "op_p50_s": (hd_median(trig), "s"),
        "op_per_s": (2 * n_ticks / wall, "1/s"),
        "op_cpu_s": (cpu_s / attempted, "s"),
    }
    layers: dict[str, tuple[float, str]] = {"session.start_s": (start_s, "s")}
    if run.trace:
        layers.update(_stream_layers(run, timed, timed_calls, root, out_before))
        layers["bench.trace_overhead"] = (run.tracer.cost_s / wall, "ratio")
    return Result(attempted, failed, gates, e2e, layers, detail)


def _dur(e: dict, key: str) -> float:
    return float(e["durationMs"].get(key, 0))


def _stream_layers(run: Run, timed: dict[str, list[dict]], calls: list[Call], root: str,
                   out_before: dict) -> dict[str, tuple[float, str]]:
    batches = [e for es in timed.values() for e in es]
    out: dict[str, tuple[float, str]] = {
        "sources.latest_offset_ms": (median(_dur(e, "latestOffset") for e in batches), "ms"),
        "sources.get_batch_ms": (median(_dur(e, "getBatch") for e in batches), "ms"),
        "sources.input_rows": (sum(e["numInputRows"] for e in batches), "count"),
        "streaming.batches": (len(batches), "count"),
        "streaming.add_batch_ms": (median(_dur(e, "addBatch") for e in batches), "ms"),
        "streaming.query_planning_ms": (median(_dur(e, "queryPlanning") for e in batches), "ms"),
        "streaming.wal_commit_ms": (median(_dur(e, "walCommit") for e in batches), "ms"),
        "streaming.commit_offsets_ms": (median(_dur(e, "commitOffsets") for e in batches), "ms"),
        "streaming.overhead_ms": (median(_dur(e, "triggerExecution") - _dur(e, "addBatch")
                                         for e in batches), "ms"),
    }
    for q, es in timed.items():
        t = [_dur(e, "triggerExecution") for e in es]
        out[f"streaming.{q}.trigger_p50_ms"] = (median(t), "ms")
        out[f"streaming.{q}.trigger_tail_ms"] = (tail(t)[0], "ms")
    lags = [
        _epoch(e["eventTime"]["max"]) - _epoch(e["eventTime"]["watermark"])
        for e in timed["dws"] if e.get("eventTime", {}).get("max") and
        e["eventTime"].get("watermark")
    ]
    out["streaming.watermark_lag_s"] = (median(lags), "s")
    ops = [(e, op) for q in ("dws", "state") for e in timed[q] for op in e.get("stateOperators", ())]
    last = {q: timed[q][-1].get("stateOperators", ()) if timed[q] else () for q in ("dws", "state")}
    out["streaming.state.rows_total"] = (sum(op.get("numRowsTotal", 0)
                                             for v in last.values() for op in v), "count")
    out["streaming.state.memory_bytes"] = (sum(op.get("memoryUsedBytes", 0)
                                               for v in last.values() for op in v), "bytes")
    out["streaming.state.commit_ms"] = (median(op.get("commitTimeMs", 0) for _, op in ops), "ms")
    out["streaming.state.update_ms"] = (median(op.get("allUpdatesTimeMs", 0) for _, op in ops), "ms")
    out["streaming.state.dropped_by_watermark"] = (
        sum(op.get("numRowsDroppedByWatermark", 0) for _, op in ops), "count")
    for q in SINKS:
        out[f"streaming.sinks.{q}_ms"] = (
            median((c.end - c.start) * 1000 for c in calls if c.name == q), "ms")
    sink_calls = [c for c in calls if c.name in SINKS]
    out["streaming.sinks.jobs_per_call"] = (
        sum(c.jobs for c in sink_calls) / max(len(sink_calls), 1), "count")
    files = size = 0
    for s in ("dim", "dwd", "dws", "state"):
        f, b = _dir_stats(os.path.join(root, s))
        files += f - out_before[s][0]
        size += b - out_before[s][1]
    out["streaming.sinks.files_written"] = (files, "count")
    out["streaming.sinks.bytes_written"] = (size, "bytes")
    out["trace.accounted_share"] = (_trace_batches(run, timed, calls), "ratio")
    return out


def _trace_batches(run: Run, timed: dict[str, list[dict]], calls: list[Call]) -> float:
    """Record batch -> phase -> sink-call spans; returns the share of batch
    wall covered by the phases ``durationMs`` reports."""
    tr = run.tracer
    by_key = {(c.name, c.batch_id): c for c in calls}
    covered = total = 0.0
    for q, es in timed.items():
        for e in es:
            trace_id = f"{q}.{e['batchId']}"
            start = _epoch(e["timestamp"])
            wall = _dur(e, "triggerExecution") / 1000
            root = tr.add("streaming.batch", trace_id, start, start + wall, query=q,
                          rows=e["numInputRows"])
            t = start
            for phase in PHASES:
                d = _dur(e, phase) / 1000
                if not d:
                    continue
                sid = tr.add(f"streaming.{phase}", trace_id, t, t + d, root)
                if phase == "addBatch" and (q, e["batchId"]) in by_key:
                    c = by_key[(q, e["batchId"])]
                    tr.add(f"streaming.sinks.{q}", trace_id, c.start, c.end, sid, jobs=c.jobs)
                t += d
                covered += d
            total += wall
    return covered / total if total else 0.0
