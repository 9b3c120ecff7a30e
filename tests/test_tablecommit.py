"""The table-format commit core (``streaming/tablecommit.py``) without
Spark: durability of the putIfAbsent publish through both table formats,
the lost-race contract, the footer-stats fold and the drift check."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_gmall2024_realtime_spark.operators.iceberg import IcebergAppendSink
from flink_gmall2024_realtime_spark.streaming import tablecommit
from flink_gmall2024_realtime_spark.streaming.delta import (
    ConcurrentWriteError,
    DeltaAppendSink,
)


def _fsync_spy(monkeypatch) -> list:
    """Record the (device, inode) of every fsynced descriptor."""
    synced = []
    real = os.fsync

    def spy(fd):
        st = os.fstat(fd)
        synced.append((st.st_dev, st.st_ino))
        return real(fd)

    monkeypatch.setattr(os, "fsync", spy)
    return synced


def _ident(path: str) -> tuple:
    st = os.stat(path)
    return st.st_dev, st.st_ino


def test_delta_log_commit_fsyncs_file_and_directory(tmp_path, monkeypatch):
    sink = DeltaAppendSink(str(tmp_path / "t"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}
    ]}
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
    ]
    with open(sink._commit_path(0), "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in v0))
    synced = _fsync_spy(monkeypatch)
    assert sink._commit_actions(None, 1, []) == 1
    assert _ident(sink._commit_path(1)) in synced
    assert _ident(os.path.join(sink.path, "_delta_log")) in synced


def test_iceberg_metadata_commit_fsyncs_file_and_directory(tmp_path, monkeypatch):
    sink = IcebergAppendSink(None, str(tmp_path / "t"))
    snaps = [
        {"snapshot-id": i, "sequence-number": i, "timestamp-ms": 0,
         "manifest-list": f"metadata/snap-{i}.avro",
         "summary": {"operation": "append", "batch-id": str(i - 1)}}
        for i in (1, 2)
    ]
    md = {"format-version": 2, "location": ".", "current-snapshot-id": 2,
          "snapshots": snaps}
    with open(os.path.join(sink.path, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    synced = _fsync_spy(monkeypatch)
    assert sink.expire_snapshots(keep_last=1) == [1]
    target = os.path.join(sink.path, "metadata", "v2.metadata.json")
    assert _ident(target) in synced
    assert _ident(os.path.join(sink.path, "metadata")) in synced


def test_lost_race_returns_false_and_leaves_no_temp_file(tmp_path):
    target = str(tmp_path / "00000000000000000003.json")
    assert tablecommit.publish_if_absent(target, b"winner\n")
    assert not tablecommit.publish_if_absent(target, b"loser\n")
    assert open(target, "rb").read() == b"winner\n"
    assert os.listdir(tmp_path) == ["00000000000000000003.json"]


def test_footer_stats_drop_a_column_missing_stats_in_any_row_group(tmp_path):
    """``x`` has bounds in row group 0 and none in row group 1 (all
    nulls); ``b``'s binary bounds are not UTF-8 in row group 0. Both lose
    their bounds in the fold and in each format's encoding of it, while
    the null counts still sum over every row group."""
    path = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table({
            "x": pa.array([1, 2, None, None], pa.int64()),
            "b": pa.array([b"\xff\xfe", b"a", b"b", b"c"]),
            "s": pa.array(["m", "a", None, "c"]),
        }),
        path,
        row_group_size=2,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 2
    mins, maxs, nulls = tablecommit.footer_stats(path)
    assert mins == {"s": "a"} and maxs == {"s": "m"}
    assert nulls == {"x": 2, "b": 0, "s": 1}

    delta = DeltaAppendSink(str(tmp_path))
    stats = json.loads(json.loads(delta._add_action("f.parquet", 4))["add"]["stats"])
    assert stats["minValues"] == {"s": "a"} and stats["maxValues"] == {"s": "m"}
    lo, hi = IcebergAppendSink._footer_bounds(path, [
        {"id": 1, "name": "x", "type": "long"},
        {"id": 2, "name": "b", "type": "string"},
        {"id": 3, "name": "s", "type": "string"},
    ])
    assert lo == {3: b"a"} and hi == {3: b"m"}


def test_drift_check_subset_and_exact_modes():
    expected = {"a": 1, "b": 2}
    # subset mode tolerates a concurrent commit that left a and b alone
    tablecommit.check_drift(expected, {"a": 1, "b": 2, "c": 3}, "delete")
    with pytest.raises(ConcurrentWriteError, match="under delete"):
        tablecommit.check_drift(expected, {"a": 1, "b": 5}, "delete")
    with pytest.raises(ConcurrentWriteError, match="concurrent update"):
        tablecommit.check_drift(expected, {"a": 1, "b": 2, "c": 3}, "x", exact=True)
    # exact mode over an empty expected set: nothing moved, nothing raised
    tablecommit.check_drift({}, {}, "compact", exact=True)
    with pytest.raises(ConcurrentWriteError):
        tablecommit.check_drift({}, {"c": 3}, "compact", exact=True)
