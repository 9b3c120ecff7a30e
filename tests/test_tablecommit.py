"""The table-format commit core (``streaming/tablecommit.py``) without
Spark: durability of the putIfAbsent publish through both table formats,
the lost-race contract, the retry loop, the Iceberg version hint, the
footer-stats fold and the drift check."""

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


def _delta_table_at_v0(path: str) -> DeltaAppendSink:
    sink = DeltaAppendSink(path)
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
    return sink


def test_lost_race_to_the_same_batch_returns_none(tmp_path, monkeypatch):
    """Another attempt of batch 1 claims version 1 between this attempt's
    build and its publish: the loser reports the batch as already
    committed (None) instead of committing it a second time."""
    from flink_gmall2024_realtime_spark.streaming import delta as delta_mod

    path = str(tmp_path / "t")
    mine, other = _delta_table_at_v0(path), DeltaAppendSink(path)
    real = delta_mod.publish_if_absent
    raced = []

    def publish(target, body):
        if not raced:
            raced.append(target)
            assert other._commit_actions(None, 1, []) == 1
        return real(target, body)

    monkeypatch.setattr(delta_mod, "publish_if_absent", publish)
    assert mine._commit_actions(None, 1, []) is None
    assert raced == [mine._commit_path(1)]
    assert mine.committed_versions() == [0, 1]


def test_lost_race_of_another_batch_rebuilds_on_the_new_head():
    heads = iter([4, 5])
    built = []

    def build():
        v = next(heads) + 1
        built.append(v)
        return v, b"body", v

    claimed = {5}  # another writer holds version 5
    got = tablecommit.commit_with_retry(
        "op", build, lambda v, body: v not in claimed, lambda: False
    )
    assert got == 6 and built == [5, 6]


def test_permanent_loss_raises_concurrent_write_error_naming_the_op(
    tmp_path, monkeypatch
):
    from flink_gmall2024_realtime_spark.streaming import delta as delta_mod

    calls = []

    def build():
        calls.append(1)
        return len(calls), b"body", len(calls)

    with pytest.raises(ConcurrentWriteError, match="iceberg rollback to snapshot 7"):
        tablecommit.commit_with_retry(
            "iceberg rollback to snapshot 7", build, lambda v, body: False
        )
    assert len(calls) == tablecommit.MAX_COMMIT_ATTEMPTS
    assert issubclass(ConcurrentWriteError, RuntimeError)
    # a format commit that can never claim its version surfaces the same way
    sink = _delta_table_at_v0(str(tmp_path / "t"))
    monkeypatch.setattr(delta_mod, "publish_if_absent", lambda t, b: False)
    with pytest.raises(ConcurrentWriteError, match="delta commit of batch 2"):
        sink._commit_actions(None, 2, [])
    assert sink.committed_versions() == [0]


def _hint(path: str) -> int:
    with open(os.path.join(path, "metadata", "version-hint.text")) as f:
        return int(f.read())


def _head_version(path: str) -> int:
    return max(
        int(fn[1:].split(".")[0])
        for fn in os.listdir(os.path.join(path, "metadata"))
        if fn.endswith(".metadata.json")
    )


def test_every_iceberg_metadata_op_advances_the_version_hint(tmp_path):
    """``version-hint.text`` names the head metadata version after every
    op that publishes one, not only after a snapshot commit."""
    from flink_gmall2024_realtime_spark.operators.iceberg import (
        _dir_reader,
        _iceberg_live,
    )

    path = str(tmp_path / "t")
    sink = IcebergAppendSink(None, path)
    fields = [{"id": 1, "name": "k", "required": False, "type": "long"}]
    for b in range(3):
        rel = f"data/part-b{b:010d}.parquet"
        pq.write_table(
            pa.table({"k": pa.array([b, b + 10], pa.int64())}),
            os.path.join(path, rel),
        )
        sink._commit_snapshot(b, fields, [sink._data_entry(rel, 2, fields)])
        assert _hint(path) == _head_version(path) == b + 1
    first = sink._head()[1]["snapshots"][0]["snapshot-id"]

    assert sink.rewrite_manifests(10) == 11
    assert _hint(path) == _head_version(path) == 4
    assert sink.rollback_to(first) == 5
    assert _hint(path) == _head_version(path) == 5
    assert sink.expire_snapshots(keep_last=4) == []  # nothing to publish
    assert _hint(path) == _head_version(path) == 5
    assert sink.rollback_to(11) == 6
    assert sink.expire_snapshots(keep_last=1) == [1, 2, 3]
    assert _hint(path) == _head_version(path) == 7
    # the hinted head still resolves: three live files, one manifest
    sid, n_manifests, live, _d, _e, _md, _loc = _iceberg_live(
        *_dir_reader(path), None
    )
    assert (sid, n_manifests, len(live)) == (11, 1, 3)


def test_iceberg_lost_race_reads_the_head_once_for_landed_and_rebuild(
    tmp_path,
):
    """After losing the pointer race to another batch, the commit reads the
    new head once: that read tells ``landed()`` the batch is not yet
    committed and is the head the rebuild publishes onto."""
    path = str(tmp_path / "t")
    mine, other = IcebergAppendSink(None, path), IcebergAppendSink(None, path)
    fields = [{"id": 1, "name": "k", "required": False, "type": "long"}]

    def entry(b):
        rel = f"data/part-b{b:010d}.parquet"
        pq.write_table(
            pa.table({"k": pa.array([b], pa.int64())}),
            os.path.join(path, rel),
        )
        return mine._data_entry(rel, 1, fields)

    mine._commit_snapshot(0, fields, [entry(0)])
    reads = []
    real_head, real_publish = mine._head, mine._publish_metadata

    def head():
        reads.append(1)
        return real_head()

    def publish(version, body):
        if version == 2:
            other._commit_snapshot(1, fields, [entry(1)])
        return real_publish(version, body)

    mine._head, mine._publish_metadata = head, publish
    assert mine._commit_snapshot(2, fields, [entry(2)]) == 3
    assert len(reads) == 2
    assert other.committed_batch_ids() == {0, 1, 2}
