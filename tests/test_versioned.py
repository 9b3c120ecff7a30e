"""Versioned keyed store (``DeltaKeyedStore`` in streaming/delta.py):
snapshot isolation, time travel, replay idempotence, crash healing,
concurrent-writer refusal, vacuum — the reproducible-training-snapshot
contract. Delta versions are 0-based: version ``v`` is the fold of
batches ``0..v``."""

from __future__ import annotations

import json
import os

import pytest

from flink_gmall2024_realtime_spark.streaming.delta import (
    ConcurrentWriteError,
    DeltaKeyedStore,
)

_SCHEMA = "k long, v long, ord long, op string"


def _batches(spark):
    """Three micro-batches of (k, v, ord) upserts, the last with a delete."""
    mk = lambda rows: spark.createDataFrame(rows, _SCHEMA)
    return [
        mk([(1, 10, 1, "u"), (2, 20, 1, "u"), (3, 30, 1, "u")]),
        mk([(2, 21, 2, "u"), (4, 40, 2, "u")]),
        mk([(1, 11, 3, "u"), (3, 0, 3, "delete")]),
    ]


def _store(spark, path, type_col=None):
    return DeltaKeyedStore(spark, path, key="k", order_col="ord",
                           type_col=type_col)


def _as_dict(df):
    return {r["k"]: r["v"] for r in df.collect()}


def _batch_ids(store):
    """The producing batch id of every committed version, from the log."""
    ids = []
    for v in store.committed_versions():
        with open(store._commit_path(v)) as f:
            for line in f:
                action = json.loads(line)
                if "commitInfo" in action:
                    ids.append(action["commitInfo"]["batchId"])
    return ids


def test_time_travel_and_replay_equals_batch(spark, tmp_path):
    store = _store(spark, str(tmp_path / "dim"), type_col="op")
    write = store.sink()
    for i, b in enumerate(_batches(spark)):
        write(b, i)
    assert store.head_version() == 2
    # per-version snapshots: each is the fold of the prefix
    assert _as_dict(store.read_as_of(0)) == {1: 10, 2: 20, 3: 30}
    assert _as_dict(store.read_as_of(1)) == {1: 10, 2: 21, 3: 30, 4: 40}
    assert _as_dict(store.read_as_of(2)) == {1: 11, 2: 21, 4: 40}
    assert _as_dict(store.read_latest()) == _as_dict(store.read_as_of(2))
    # snapshot isolation: the old version is byte-stable after new commits
    v1_before = sorted(map(tuple, store.read_as_of(1).collect()))
    write(spark.createDataFrame([(9, 90, 9, "u")], _SCHEMA), 3)
    assert sorted(map(tuple, store.read_as_of(1).collect())) == v1_before
    # the log chains one commit per batch, carrying the producing batch id
    assert store.committed_versions() == [0, 1, 2, 3]
    assert _batch_ids(store) == [0, 1, 2, 3]


def test_replay_idempotence(spark, tmp_path):
    store = _store(spark, str(tmp_path / "dim"))
    b0, b1, _ = _batches(spark)
    write = store.sink()
    write(b0.drop("op"), 0)
    write(b1.drop("op"), 1)
    head = store.head_version()
    rows = _as_dict(store.read_latest())
    # at-least-once replay of an already-committed batch is a no-op
    write(b1.drop("op"), 1)
    write(b0.drop("op"), 0)
    assert store.commit_batch(b1.drop("op"), 1) is None
    assert store.head_version() == head
    assert _as_dict(store.read_latest()) == rows


def test_crash_before_commit_heals_on_restart(spark, tmp_path):
    path = str(tmp_path / "dim")
    store = _store(spark, path)
    b0, b1, _ = _batches(spark)
    store.sink()(b0.drop("op"), 0)
    head = store.head_version()
    # simulate a crash AFTER batch 1's merged data file is written but
    # BEFORE its commit json is published
    with open(os.path.join(path, "merge-b0000000001.parquet"), "wb") as f:
        f.write(b"garbage from a dead writer")
    # restart: the unpublished file is invisible, the replay commits cleanly
    store2 = _store(spark, path)
    write2 = store2.sink()
    assert store2.head_version() == head
    assert _as_dict(store2.read_latest()) == {1: 10, 2: 20, 3: 30}
    write2(b1.drop("op"), 1)
    assert store2.head_version() == head + 1
    assert _as_dict(store2.read_latest()) == {1: 10, 2: 21, 3: 30, 4: 40}
    # restart twice more and replay everything: no change (idempotent)
    for _ in range(2):
        store3 = _store(spark, path)
        w3 = store3.sink()
        w3(b0.drop("op"), 0)
        w3(b1.drop("op"), 1)
        assert store3.head_version() == head + 1
    assert _as_dict(store3.read_latest()) == {1: 10, 2: 21, 3: 30, 4: 40}


def test_concurrent_writer_fails_loudly(spark, tmp_path):
    b0, b1, b2 = (b.drop("op") for b in _batches(spark))

    def race(path, setup):
        mine, other = _store(spark, path), _store(spark, path)
        setup(mine)
        real = mine._commit_actions

        def lose(*args, **kw):
            other.commit_batch(b2, 7)  # lands between read and publish
            return real(*args, **kw)

        mine._commit_actions = lose
        with pytest.raises(ConcurrentWriteError, match="concurrent update"):
            mine.commit_batch(b1, 1)
        return other

    # a merge computed against a replaced snapshot must not commit a
    # second live snapshot beside the winner's: the log is uncorrupted
    other = race(str(tmp_path / "t1"), lambda s: s.commit_batch(b0, 0))
    assert other.committed_versions() == [0, 1]
    assert other.snapshot()["n_files"] == 1
    assert _as_dict(other.read_latest()) == {1: 11, 2: 20, 3: 0}
    # the same holds for two writers creating the table
    other = race(str(tmp_path / "t2"), lambda s: None)
    assert other.committed_versions() == [0]
    assert _as_dict(other.read_latest()) == {1: 11, 3: 0}


def test_vacuum_keeps_lineage_drops_old_data(spark, tmp_path):
    store = _store(spark, str(tmp_path / "dim"))
    write = store.sink()
    for i, b in enumerate(_batches(spark)):
        write(b.drop("op"), i)
    dropped = store.vacuum(retention_seconds=0)
    assert dropped == ["merge-b0000000000.parquet", "merge-b0000000001.parquet"]
    with pytest.raises(Exception):
        store.read_as_of(0).collect()
    assert _as_dict(store.read_latest())  # head survives
    assert store.committed_versions() == [0, 1, 2]  # the log (lineage) survives
    assert _batch_ids(store) == [0, 1, 2]
    with pytest.raises(ValueError, match="not committed"):
        store.read_as_of(99)
