"""Delta transaction-log snapshot reader tests: replay semantics, time
travel, the stats cross-check, and every documented refusal seam."""

from __future__ import annotations

import io
import json
import os
import zipfile

import pytest

from flink_gmall2024_realtime_spark.operators.deltalog import (
    read_delta_snapshot,
    synth_delta_table,
)


def _n(seed, j):
    return (seed + j) % 20 + 5


def _s(seed, j):
    n = _n(seed, j)
    return n * (seed + 100 * j) + n * (n - 1) // 2


class TestReplay:
    def test_time_travel_versions(self):
        for seed in range(8):
            p = synth_delta_table(seed)
            v0 = read_delta_snapshot(p, version=0)
            assert v0 == {
                "version": 0, "n_files": 2,
                "n_rows": _n(seed, 0) + _n(seed, 1),
                "int_sum": _s(seed, 0) + _s(seed, 1),
                "n_partitions": 0,
            }
            v1 = read_delta_snapshot(p, version=1)
            assert v1["n_files"] == 2
            assert v1["n_rows"] == _n(seed, 0) + _n(seed, 2)
            last = read_delta_snapshot(p)
            assert last["version"] == (2 if seed % 2 == 0 else 1)

    def test_remove_tombstone_applies(self):
        # part-00001's rows are in v0 but absent from v1 on
        p = synth_delta_table(3)
        assert read_delta_snapshot(p, 0)["n_rows"] - read_delta_snapshot(p, 1)[
            "n_rows"
        ] == _n(3, 1) - _n(3, 2)

    def test_version_out_of_range(self):
        p = synth_delta_table(1)  # odd seed: latest is 1
        with pytest.raises(ValueError, match="outside log range"):
            read_delta_snapshot(p, version=2)


def _rebuild(payload: bytes, mutate) -> bytes:
    """Unzip, let ``mutate(members: dict)`` edit, re-zip."""
    members = {}
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        for name in z.namelist():
            members[name] = z.read(name)
    mutate(members)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in members.items():
            z.writestr(name, body)
    return buf.getvalue()


class TestSeamsAndChecks:
    def test_stats_mismatch_raises(self):
        def lie(members):
            log0 = "_delta_log/" + "0" * 20 + ".json"
            lines = members[log0].decode().splitlines()
            out = []
            for line in lines:
                a = json.loads(line)
                if "add" in a:
                    a["add"]["stats"] = json.dumps({"numRecords": 9999})
                out.append(json.dumps(a))
            members[log0] = "\n".join(out).encode()

        with pytest.raises(ValueError, match="numRecords"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), lie))

    def test_non_contiguous_log_raises(self):
        def drop_v0(members):
            del members["_delta_log/" + "0" * 20 + ".json"]

        with pytest.raises(ValueError, match="contiguous"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), drop_v0))

    def test_missing_live_file_raises(self):
        def drop_part(members):
            del members["part-00000.parquet"]

        with pytest.raises(ValueError, match="missing from payload"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), drop_part))

    def test_protocol_gate_r13_semantics(self):
        # r13 narrowed the refusal: v2 (column mapping era) reads; v3
        # with only implemented readerFeatures reads; v3 WITHOUT a
        # readerFeatures list is malformed; unknown features and future
        # versions refuse BY NAME
        def bump(mrv, feats=None):
            def mutate(members):
                log0 = "_delta_log/" + "0" * 20 + ".json"
                out = []
                for line in members[log0].decode().splitlines():
                    a = json.loads(line)
                    if "protocol" in a:
                        a["protocol"]["minReaderVersion"] = mrv
                        if feats is not None:
                            a["protocol"]["readerFeatures"] = feats
                    out.append(json.dumps(a))
                members[log0] = "\n".join(out).encode()

            return mutate

        base = read_delta_snapshot(synth_delta_table(2))
        v2 = read_delta_snapshot(_rebuild(synth_delta_table(2), bump(2)))
        assert v2 == base
        v3 = read_delta_snapshot(
            _rebuild(synth_delta_table(2), bump(3, ["deletionVectors"]))
        )
        assert v3 == base
        with pytest.raises(ValueError, match="requires a readerFeatures"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), bump(3)))
        # v2Checkpoint became a supported feature in r13 — a table
        # declaring it (without actually shipping one) reads fine
        v3cp = read_delta_snapshot(
            _rebuild(synth_delta_table(2), bump(3, ["v2Checkpoint"]))
        )
        assert v3cp == base
        with pytest.raises(NotImplementedError, match="typeWidening"):
            read_delta_snapshot(
                _rebuild(synth_delta_table(2), bump(3, ["typeWidening"]))
            )
        with pytest.raises(NotImplementedError, match="minReaderVersion 4"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), bump(4)))

    def test_partitioned_metadata_reads_fine_since_r12(self):
        # r11 refused partitioned tables; r12 reads them — declaring
        # partitionColumns alone must not change the snapshot contents
        def partition(members):
            log0 = "_delta_log/" + "0" * 20 + ".json"
            lines = members[log0].decode().splitlines()
            out = []
            for line in lines:
                a = json.loads(line)
                if "metaData" in a:
                    a["metaData"]["partitionColumns"] = ["k"]
                out.append(json.dumps(a))
            members[log0] = "\n".join(out).encode()

        plain = read_delta_snapshot(synth_delta_table(2))
        part = read_delta_snapshot(_rebuild(synth_delta_table(2), partition))
        assert part == plain

    def test_missing_metadata_raises(self):
        def strip(members):
            log0 = "_delta_log/" + "0" * 20 + ".json"
            lines = [
                line
                for line in members[log0].decode().splitlines()
                if "metaData" not in json.loads(line)
            ]
            members[log0] = "\n".join(lines).encode()

        with pytest.raises(ValueError, match="metaData"):
            read_delta_snapshot(_rebuild(synth_delta_table(2), strip))

    def test_no_log_raises(self):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("readme.txt", "not a delta table")
        with pytest.raises(ValueError, match="_delta_log"):
            read_delta_snapshot(buf.getvalue())


class TestDeltaAppendSink:
    def _batches(self, spark):
        return [
            spark.createDataFrame([(1, "a", 0.5), (2, "b", 1.5)], "k long, v string, d double"),
            spark.createDataFrame([(3, "c", 2.5)], "k long, v string, d double"),
            spark.createDataFrame([(4, "dd", 3.5), (5, "e", 4.5)], "k long, v string, d double"),
        ]

    def test_commits_time_travel_and_replay(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        write = sink.sink()
        for i, b in enumerate(self._batches(spark)):
            write(b, i)
        assert sink.committed_versions() == [0, 1, 2]
        assert sink.snapshot()["n_rows"] == 5
        assert sink.snapshot(version=0) == {
            "version": 0, "n_files": 1, "n_rows": 2, "int_sum": 3,
            "n_partitions": 0,
        }
        assert sink.snapshot(version=1)["n_rows"] == 3
        # at-least-once replay: same batches again, nothing changes
        head = sink.snapshot()
        for i, b in enumerate(self._batches(spark)):
            write(b, i)
        assert sink.committed_versions() == [0, 1, 2]
        assert sink.snapshot() == head
        # the table is readable by pyarrow directly (open-format check)
        import pyarrow.parquet as pq

        got = sorted(
            pq.read_table(str(tmp_path / "tbl" / f"part-b{i:010d}.parquet"))
            .column("k")
            .to_pylist()[0]
            for i in range(3)
        )
        assert got == [1, 3, 4]

    def test_crash_before_commit_then_replay(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        b0, b1, _ = self._batches(spark)
        sink.commit_batch(b0, 0)
        # crash: data file written, commit json never published
        orphan = str(tmp_path / "tbl" / "part-b0000000001.parquet")
        with open(orphan, "wb") as f:
            f.write(b"garbage from a dead writer")
        # replay of batch 1 rewrites the file and commits cleanly
        assert sink.commit_batch(b1, 1) == 1
        assert sink.snapshot()["n_rows"] == 3
        # the stats cross-check would have caught a stale orphan: the
        # rewritten file decodes to exactly the declared numRecords

    def test_lost_race_retries_at_next_version(self, spark, tmp_path):
        import json as _json

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        b0, b1, _ = self._batches(spark)
        sink.commit_batch(b0, 0)
        # a second writer claims version 1 (foreign batch id 777)
        foreign = "\n".join(
            [
                _json.dumps({"commitInfo": {"batchId": 777}}),
                _json.dumps(
                    {
                        "add": {
                            "path": "part-b0000000777.parquet",
                            "size": 0, "partitionValues": {},
                            "modificationTime": 0, "dataChange": True,
                        }
                    }
                ),
            ]
        )
        with open(sink._commit_path(1), "w") as f:
            f.write(foreign)
        assert sink.commit_batch(b1, 1) == 2  # retried past the taken slot

    def test_unsupported_column_type_is_loud(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        # nested types are Delta columns, but a partition value is a
        # string in the log: a struct partition column has no encoding
        sink = DeltaAppendSink(str(tmp_path / "tbl"), partition_columns=["s"])
        df = spark.createDataFrame([(1, (2,))], "k long, s struct<a: long>")
        with _pytest.raises(NotImplementedError, match="unsupported column type"):
            sink.commit_batch_distributed(df, 0)
        assert not os.listdir(tmp_path / "tbl" / "_delta_log")


def test_last_checkpoint_without_parquet_raises():
    # a _last_checkpoint pointer naming a checkpoint that does not exist
    # must be a loud error, never a silent fall-back to JSON replay
    def add_checkpoint(members):
        members["_delta_log/_last_checkpoint"] = b'{"version": 0, "size": 3}'

    with pytest.raises(ValueError, match="no such"):
        read_delta_snapshot(_rebuild(synth_delta_table(2), add_checkpoint))


class TestCheckpointedTables:
    """r12: checkpoint parquet decoded via the in-repo nested record
    assembly; JSON replay resumes after it (VERDICT r11 #1/#2)."""

    def _expect(self, seed, js):
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        s = lambda j: n(j) * (seed + 100 * j) + n(j) * (n(j) - 1) // 2  # noqa: E731
        return sum(n(j) for j in js), sum(s(j) for j in js)

    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5])
    def test_snapshot_at_and_after_checkpoint(self, seed):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        p = synth_delta_checkpointed(seed)
        latest = 11 + seed % 3
        at_cp = read_delta_snapshot(p, version=10)
        rows, isum = self._expect(seed, range(11))
        assert at_cp == {
            "version": 10, "n_files": 11, "n_rows": rows,
            "int_sum": isum, "n_partitions": 0,
        }
        # latest crosses the post-checkpoint remove of file 1
        last = read_delta_snapshot(p)
        live = [j for j in range(latest + 1) if j != 1]
        rows, isum = self._expect(seed, live)
        assert last == {
            "version": latest, "n_files": latest, "n_rows": rows,
            "int_sum": isum, "n_partitions": 0,
        }

    def test_time_travel_before_checkpoint_needs_json(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        # even seed: full JSON kept; pre-checkpoint versions replay fine
        full = synth_delta_checkpointed(2)
        assert read_delta_snapshot(full, version=0)["n_files"] == 1
        assert read_delta_snapshot(full, version=5)["n_files"] == 6
        # odd seed: JSON <= 10 pruned; the same read refuses loudly
        pruned = synth_delta_checkpointed(3)
        with pytest.raises(ValueError, match="precedes checkpoint"):
            read_delta_snapshot(pruned, version=5)
        # but reads at/after the checkpoint still work
        assert read_delta_snapshot(pruned, version=10)["n_files"] == 11
        assert read_delta_snapshot(pruned, version=11)["n_files"] == 11

    def test_missing_tail_after_checkpoint_raises(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        def drop_v12(members):
            del members["_delta_log/" + f"{12:020d}" + ".json"]

        with pytest.raises(ValueError, match="missing after checkpoint"):
            read_delta_snapshot(_rebuild(synth_delta_checkpointed(5), drop_v12))

    def test_multipart_checkpoint_reads(self):
        # seed%4==2: the fixture writes the checkpoint as TWO parts
        # (round-robin adds, header rows in part 1) — the snapshot must
        # equal the single-part formula exactly (r12: the multi-part
        # refusal seam is closed)
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        seed = 2
        p = synth_delta_checkpointed(seed)
        rows, isum = self._expect(seed, range(11))
        assert read_delta_snapshot(p, version=10) == {
            "version": 10, "n_files": 11, "n_rows": rows,
            "int_sum": isum, "n_partitions": 0,
        }
        # seed 6 is also multi-part AND... seed 6 % 2 == 0 keeps JSON;
        # seed 10 % 4 == 2 and % 2 == 0 too — use a pruned multi-part
        # by rebuilding seed 2 without the JSON prefix
        def prune(members):
            for v in range(11):
                members.pop(f"_delta_log/{v:020d}.json", None)

        pruned = _rebuild(p, prune)
        assert read_delta_snapshot(pruned, version=10)["n_files"] == 11

    def test_multipart_missing_part_raises(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        def drop_part2(members):
            del members[
                f"_delta_log/{10:020d}.checkpoint.{2:010d}.{2:010d}.parquet"
            ]

        with pytest.raises(ValueError, match="missing parts"):
            read_delta_snapshot(
                _rebuild(synth_delta_checkpointed(2), drop_part2), version=10
            )

    def test_multipart_parts_mismatch_raises(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        def lie_parts(members):
            members["_delta_log/_last_checkpoint"] = (
                b'{"version": 10, "size": 13, "parts": 3}'
            )

        with pytest.raises(ValueError, match="parts"):
            read_delta_snapshot(
                _rebuild(synth_delta_checkpointed(2), lie_parts), version=10
            )

    def test_checkpoint_survives_missing_last_checkpoint_pointer(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_checkpointed,
        )

        # _last_checkpoint is only a pointer; the checkpoint file itself
        # is authoritative for a pruned-log table
        def drop_pointer(members):
            del members["_delta_log/_last_checkpoint"]

        p = _rebuild(synth_delta_checkpointed(3), drop_pointer)
        assert read_delta_snapshot(p, version=10)["n_files"] == 11

    def test_checkpoint_blob_roundtrip(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            _checkpoint_state,
            write_checkpoint_blob,
        )

        live = {
            "p=a/f1.parquet": {
                "path": "p=a/f1.parquet", "size": 10,
                "stats": '{"numRecords":5}', "partitionValues": {"p": "a"},
            },
            "f2.parquet": {
                "path": "f2.parquet", "size": 7,
                "stats": None, "partitionValues": {},
            },
        }
        blob = write_checkpoint_blob(
            live,
            {"id": "t", "schemaString": "{}", "partitionColumns": ["p"]},
            {"minReaderVersion": 1, "minWriterVersion": 2},
        )
        got, saw_meta = _checkpoint_state(blob)
        assert saw_meta
        assert got == live

    def test_checkpoint_protocol_gate(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            _checkpoint_state,
            write_checkpoint_blob,
        )

        # v3 checkpoint rows carry readerFeatures; unknown ones refuse
        # by name, implemented ones read (r13)
        blob = write_checkpoint_blob(
            {},
            {"id": "t", "schemaString": "{}", "partitionColumns": []},
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["typeWidening"]},
        )
        with pytest.raises(NotImplementedError, match="typeWidening"):
            _checkpoint_state(blob)
        blob = write_checkpoint_blob(
            {},
            {"id": "t", "schemaString": "{}", "partitionColumns": []},
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["deletionVectors", "columnMapping"]},
        )
        live, meta = _checkpoint_state(blob)
        assert live == {} and meta["id"] == "t"


class TestPartitionedTables:
    def test_partition_filter_prunes_files(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_partitioned,
        )

        seed = 4
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        s = lambda j: n(j) * (seed + 100 * j) + n(j) * (n(j) - 1) // 2  # noqa: E731
        p = synth_delta_partitioned(seed)
        full = read_delta_snapshot(p)
        assert full["n_files"] == 6 and full["n_partitions"] == 3
        assert full["n_rows"] == sum(n(j) for j in range(6))
        pruned = read_delta_snapshot(p, partition_filter={"p": "p1"})
        assert pruned == {
            "version": 1, "n_files": 2, "n_rows": n(1) + n(4),
            "int_sum": s(1) + s(4), "n_partitions": 1,
        }

    def test_partition_filter_no_match_is_empty(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_partitioned,
        )

        got = read_delta_snapshot(
            synth_delta_partitioned(1), partition_filter={"p": "nope"}
        )
        assert got["n_files"] == 0 and got["n_rows"] == 0

    def test_partition_pruning_skips_data_decode(self, monkeypatch):
        # pruning must happen BEFORE fetch/decode: corrupt every file
        # outside p0 and the pruned read must still succeed
        import io
        import zipfile

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_partitioned,
        )

        def corrupt_others(members):
            for name in list(members):
                if name.startswith(("p=p1/", "p=p2/")):
                    members[name] = b"corrupted beyond recognition"

        p = _rebuild(synth_delta_partitioned(2), corrupt_others)
        ok = read_delta_snapshot(p, partition_filter={"p": "p0"})
        assert ok["n_files"] == 2
        with pytest.raises(Exception):
            read_delta_snapshot(p)  # the full read does hit the corruption


class TestDeltaSinkDistributed:
    """r12: the fact-sized write path — Spark's distributed parquet
    writer, one AddFile per task file, single commit."""

    def test_multi_file_commit_and_snapshot(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        df = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v").repartition(4)
        assert sink.commit_batch_distributed(df, 0) == 0
        snap = sink.snapshot()
        assert snap["n_rows"] == 1000
        assert snap["n_files"] == 4  # one AddFile per task file
        assert snap["int_sum"] == sum(range(1000))
        # no staging leftovers
        assert not (tmp_path / "tbl" / "_staging").exists() or not any(
            (tmp_path / "tbl" / "_staging").iterdir()
        )

    def test_replay_is_exactly_once(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        df = spark.range(0, 100).selectExpr("id AS k").repartition(3)
        write = sink.sink(distributed=True)
        write(df, 0)
        head = sink.snapshot()
        write(df, 0)  # at-least-once replay
        assert sink.snapshot() == head
        assert sink.committed_versions() == [0]

    def test_restarted_sink_skips_committed_batches(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        df = spark.range(0, 50).selectExpr("id AS k").repartition(2)
        DeltaAppendSink(path).commit_batch_distributed(df, 0)
        # fresh instance (restart): same batch must be skipped
        sink2 = DeltaAppendSink(path)
        assert sink2.commit_batch_distributed(df, 0) is None
        assert sink2.snapshot()["n_rows"] == 50

    def test_crash_mid_stage_then_replay(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        df = spark.range(0, 60).selectExpr("id AS k").repartition(2)
        # crash: staging dir written, no commit
        stage = tmp_path / "tbl" / "_staging" / "b0000000007"
        stage.mkdir(parents=True)
        (stage / "part-dead-writer.parquet").write_bytes(b"half a file")
        assert sink.commit_batch_distributed(df, 7) == 0
        assert sink.snapshot()["n_rows"] == 60

    def test_empty_partitions_add_no_files(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        df = spark.range(0, 3).selectExpr("id AS k").repartition(8)
        sink.commit_batch_distributed(df, 0)
        snap = sink.snapshot()
        assert snap["n_rows"] == 3
        assert snap["n_files"] <= 3


class TestDeltaSinkCheckpointing:
    """r12: sink-side checkpoints + log cleanup; exactly-once and reads
    survive a pruned JSON log via the checkpoint's txn rows."""

    def _run(self, spark, path, n_batches, interval):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(path, checkpoint_interval=interval)
        for i in range(n_batches):
            df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            sink.commit_batch(df, i)
        return sink

    def test_checkpoints_written_on_interval(self, spark, tmp_path):
        sink = self._run(spark, str(tmp_path / "tbl"), 12, 5)
        assert sink.checkpoint_versions() == [4, 9]
        # reads go through the dir-rooted reader that now understands them
        assert sink.snapshot()["n_rows"] == 12
        assert sink.snapshot(version=4)["n_rows"] == 5

    def test_clean_log_preserves_reads_and_idempotence(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = self._run(spark, path, 12, 5)
        pruned = sink.clean_log()
        assert pruned == list(range(10))  # everything <= checkpoint 9
        assert sink.committed_versions() == [10, 11]
        # snapshot at and after the checkpoint still reads
        assert sink.snapshot()["n_rows"] == 12
        assert sink.snapshot(version=9)["n_rows"] == 10
        # time travel below the pruned prefix refuses loudly
        with pytest.raises(ValueError, match="precedes checkpoint"):
            sink.snapshot(version=3)
        # a RESTARTED sink on the cleaned table skips pruned-era batches
        # (their ids now live only in the checkpoint's txn rows)
        sink2 = DeltaAppendSink(path, checkpoint_interval=5)
        df = spark.createDataFrame([(99, "dup")], "k long, v string")
        assert sink2.commit_batch(df, 3) is None
        assert sink2.commit_batch(df, 11) is None
        assert sink2.commit_batch(df, 12) == 12
        assert sink2.snapshot()["n_rows"] == 13

    def test_same_instance_replay_after_clean_log(self, spark, tmp_path):
        # ADVICE r12: a SAME-instance replay after clean_log() pruned
        # the batch's commit JSON must still be recognized as committed
        # (foreachBatch retry after mid-stream cleanup). Previously the
        # seeded-flag short-circuit plus never-folding own commits let
        # the replay re-commit the batch -> duplicate rows.
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=2)
        for i in range(4):
            df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            sink.commit_batch(df, i)
        assert sink.clean_log() == [0, 1, 2, 3]  # checkpoints at 1, 3
        for i in range(4):  # replay EVERY batch on the same instance
            df = spark.createDataFrame([(i, "dup")], "k long, v string")
            assert sink.commit_batch(df, i) is None
        assert sink.snapshot()["n_rows"] == 4
        # distributed path: replay after cleanup leaves no stale files
        sink.commit_batch_distributed(
            spark.range(4).selectExpr("id AS k", "'x' AS v"), 4
        )
        sink.write_checkpoint(4)
        sink.clean_log()
        assert sink.commit_batch_distributed(
            spark.range(2).selectExpr("id AS k", "'dup' AS v"), 4
        ) is None
        assert sink.snapshot()["n_rows"] == 8

    def test_incomplete_multipart_checkpoint_falls_back(self, spark, tmp_path):
        # ADVICE r12: when _last_checkpoint is lost and the newest
        # multi-part checkpoint is missing a part (crash mid-write),
        # reads must fall back to the newest COMPLETE checkpoint (or the
        # JSON log) instead of raising 'missing parts'.
        import os

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=3, checkpoint_parts=2)
        for i in range(7):
            df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            sink.commit_batch(df, i)
        logdir = os.path.join(path, "_delta_log")
        assert sink.checkpoint_versions() == [2, 5]
        # crash simulation: newest checkpoint loses part 2 of 2 AND the
        # pointer file
        os.unlink(
            os.path.join(
                logdir, "00000000000000000005.checkpoint.0000000002.0000000002.parquet"
            )
        )
        os.unlink(os.path.join(logdir, "_last_checkpoint"))
        assert sink.snapshot()["n_rows"] == 7  # via checkpoint 2 + JSON tail
        # a fresh sink instance still recognizes pruned-era batch ids by
        # seeding from the complete checkpoint, not the partial one
        fresh = DeltaAppendSink(path, checkpoint_interval=3, checkpoint_parts=2)
        for v in range(3):
            os.unlink(os.path.join(logdir, f"{v:020d}.json"))
        df = spark.createDataFrame([(0, "dup")], "k long, v string")
        assert fresh.commit_batch(df, 0) is None
        assert fresh.commit_batch(df, 7) == 7

    def test_checkpoint_after_clean_uses_prior_checkpoint(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = self._run(spark, path, 10, 5)
        sink.clean_log()
        # keep committing past the next interval: the new checkpoint's
        # state must chain from the previous one (no version-0 JSON left)
        for i in range(10, 16):
            df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            sink.commit_batch(df, i)
        assert 14 in sink.checkpoint_versions()
        sink.clean_log()
        assert sink.snapshot()["n_rows"] == 16
        assert sink.snapshot(version=14)["n_rows"] == 15

    def test_distributed_commits_checkpoint_too(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=2)
        for i in range(4):
            df = spark.range(i * 10, (i + 1) * 10).selectExpr("id AS k").repartition(2)
            sink.commit_batch_distributed(df, i)
        assert sink.checkpoint_versions() == [1, 3]
        sink.clean_log()
        snap = sink.snapshot()
        assert snap["n_rows"] == 40 and snap["n_files"] == 8


class TestDeltaKeyedStore:
    """r12: keyed MERGE upserts over the Delta log — the engine's versioned
    keyed store (VERDICT r11 #6); its snapshot contract is also covered
    in tests/test_versioned.py."""

    def _batches(self, spark):
        return [
            spark.createDataFrame(
                [("a", 1, "x", "upsert"), ("b", 2, "y", "upsert")],
                "k string, ts long, v string, op string",
            ),
            spark.createDataFrame(
                [("a", 5, "x2", "upsert"), ("c", 3, "z", "upsert")],
                "k string, ts long, v string, op string",
            ),
            spark.createDataFrame(
                [("b", 9, "", "delete"), ("d", 4, "w", "upsert")],
                "k string, ts long, v string, op string",
            ),
        ]

    def _store(self, spark, path, **kw):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaKeyedStore

        return DeltaKeyedStore(spark, path, key="k", order_col="ts",
                               type_col="op", **kw)

    def _rows(self, df):
        return sorted((r["k"], r["ts"], r["v"]) for r in df.collect())

    def test_merge_time_travel_and_vacuum(self, spark, tmp_path):
        store = self._store(spark, str(tmp_path / "tbl"))
        for i, b in enumerate(self._batches(spark)):
            store.commit_batch(b, i)
        assert self._rows(store.read_latest()) == [
            ("a", 5, "x2"), ("c", 3, "z"), ("d", 4, "w"),
        ]
        # time travel across the merge/compaction commits
        assert self._rows(store.read_as_of(0)) == [("a", 1, "x"), ("b", 2, "y")]
        assert self._rows(store.read_as_of(1)) == [
            ("a", 5, "x2"), ("b", 2, "y"), ("c", 3, "z"),
        ]
        # the generic snapshot auditor agrees (live set is one file)
        assert store.snapshot()["n_files"] == 1
        assert store.snapshot()["n_rows"] == 3
        # default retention (7d) protects freshly-written files — an
        # in-flight concurrent writer's data must survive (ADVICE r12)
        assert store.vacuum() == []
        # vacuum with no retention drops unreferenced files; head still
        # reads, history not
        dropped = store.vacuum(retention_seconds=0)
        assert len(dropped) == 2
        assert self._rows(store.read_latest()) == [
            ("a", 5, "x2"), ("c", 3, "z"), ("d", 4, "w"),
        ]
        with pytest.raises(Exception):
            store.read_as_of(0).collect()
        # the log (the lineage) survives vacuum; unknown versions refuse
        assert store.committed_versions() == [0, 1, 2]
        with pytest.raises(ValueError, match="not committed"):
            store.read_as_of(99)

    def test_replay_equals_batch_and_restart_twice(self, spark, tmp_path):
        # once-through vs replayed-twice vs restarted-mid-stream: all
        # three converge to the same state (the K5 equivalence contract)
        p1, p2, p3 = (str(tmp_path / n) for n in ("once", "replay", "restart"))
        s1 = self._store(spark, p1)
        for i, b in enumerate(self._batches(spark)):
            s1.commit_batch(b, i)
        s2 = self._store(spark, p2)
        for i, b in enumerate(self._batches(spark)):
            s2.commit_batch(b, i)
        for i, b in enumerate(self._batches(spark)):  # full replay
            assert s2.commit_batch(b, i) is None
        s3 = self._store(spark, p3)
        batches = self._batches(spark)
        s3.commit_batch(batches[0], 0)
        s3.commit_batch(batches[1], 1)
        s3b = self._store(spark, p3)  # restart: fresh instance
        assert s3b.commit_batch(batches[1], 1) is None  # replayed tail
        s3b.commit_batch(batches[2], 2)
        ref = self._rows(s1.read_latest())
        assert self._rows(s2.read_latest()) == ref
        assert self._rows(s3b.read_latest()) == ref
        assert s1.committed_versions() == s2.committed_versions() == [0, 1, 2]

    def test_checkpoint_and_clean_log_keyed(self, spark, tmp_path):
        store = self._store(
            spark, str(tmp_path / "tbl"), checkpoint_interval=2
        )
        for i in range(6):
            b = spark.createDataFrame(
                [(f"k{i % 3}", i, f"v{i}", "upsert")],
                "k string, ts long, v string, op string",
            )
            store.commit_batch(b, i)
        assert store.checkpoint_versions() == [1, 3, 5]
        store.clean_log()
        assert store.committed_versions() == []
        # head reads fine through the checkpoint; replay stays idempotent
        assert self._rows(store.read_latest()) == [
            ("k0", 3, "v3"), ("k1", 4, "v4"), ("k2", 5, "v5"),
        ]
        fresh = self._store(
            spark, str(tmp_path / "tbl"), checkpoint_interval=2
        )
        b = spark.createDataFrame(
            [("k0", 99, "dup", "upsert")],
            "k string, ts long, v string, op string",
        )
        assert fresh.commit_batch(b, 3) is None  # pruned-era batch id
        assert fresh.commit_batch(b, 6) == 6
        assert ("k0", 99, "dup") in self._rows(fresh.read_latest())

    def test_distributed_path_is_loud_for_keyed(self, spark, tmp_path):
        store = self._store(spark, str(tmp_path / "tbl"))
        with pytest.raises(NotImplementedError, match="dim-shaped"):
            store.commit_batch_distributed(None, 0)


class TestDeltaScan:
    """r12: distributed DataFrame scan of a Delta table directory —
    live-file resolution from the log, partition columns attached from
    partitionValues (the log is authoritative, not the paths)."""

    def _write_partitioned_dir(self, tmp_path, seed=4):
        # materialize the partitioned ZIP fixture onto a real directory
        import io
        import zipfile

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_partitioned,
        )

        root = tmp_path / "tbl"
        with zipfile.ZipFile(io.BytesIO(synth_delta_partitioned(seed))) as z:
            for name in z.namelist():
                dst = root / name
                dst.parent.mkdir(parents=True, exist_ok=True)
                dst.write_bytes(z.read(name))
        return str(root)

    def test_scan_attaches_partition_columns(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan

        seed = 4
        path = self._write_partitioned_dir(tmp_path, seed)
        df = delta_scan(spark, path)
        assert set(df.columns) == {"k", "p"}
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        rows = df.groupBy("p").count().collect()
        got = {r["p"]: r["count"] for r in rows}
        exp = {}
        for j in range(6):
            exp[f"p{j % 3}"] = exp.get(f"p{j % 3}", 0) + n(j)
        assert got == exp

    def test_scan_partition_filter_prunes(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan

        seed = 4
        path = self._write_partitioned_dir(tmp_path, seed)
        df = delta_scan(spark, path, partition_filter={"p": "p1"})
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        assert df.count() == n(1) + n(4)
        assert df.select("p").distinct().collect()[0]["p"] == "p1"
        with pytest.raises(ValueError, match="non-partition"):
            delta_scan(spark, path, partition_filter={"nope": "x"})

    def test_scan_time_travel_on_sink_table(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"), checkpoint_interval=2)
        for i in range(5):
            sink.commit_batch(
                spark.createDataFrame([(i, f"v{i}")], "k long, v string"), i
            )
        sink.clean_log()
        # head scan + time travel at/after the checkpoint
        assert delta_scan(spark, str(tmp_path / "tbl")).count() == 5
        assert delta_scan(spark, str(tmp_path / "tbl"), version=3).count() == 4
        got = sorted(
            r["k"] for r in delta_scan(spark, str(tmp_path / "tbl")).collect()
        )
        assert got == [0, 1, 2, 3, 4]

    def test_scan_empty_partition_selection(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan

        path = self._write_partitioned_dir(tmp_path, 2)
        df = delta_scan(spark, path, partition_filter={"p": "absent"})
        assert df.count() == 0
        assert set(df.columns) == {"k", "p"}


class TestMultiPartSinkCheckpoints:
    def test_sink_multipart_checkpoint_roundtrip(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=4, checkpoint_parts=3)
        for i in range(9):
            sink.commit_batch(
                spark.createDataFrame([(i, f"v{i}")], "k long, v string"), i
            )
        assert sink.checkpoint_versions() == [3, 7]
        import os

        names = sorted(os.listdir(tmp_path / "tbl" / "_delta_log"))
        assert sum(".checkpoint." in n for n in names) == 6  # 2 cps x 3 parts
        sink.clean_log()
        assert sink.snapshot()["n_rows"] == 9
        assert sink.snapshot(version=7)["n_rows"] == 8
        # restart on the cleaned multi-part table: idempotence survives
        fresh = DeltaAppendSink(path, checkpoint_interval=4, checkpoint_parts=3)
        dup = spark.createDataFrame([(99, "dup")], "k long, v string")
        assert fresh.commit_batch(dup, 5) is None
        assert fresh.commit_batch(dup, 9) == 9

    def test_delta_scan_reads_multipart_table(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=2, checkpoint_parts=2)
        for i in range(4):
            sink.commit_batch(
                spark.createDataFrame([(i,)], "k long"), i
            )
        sink.clean_log()
        assert sorted(r["k"] for r in delta_scan(spark, path).collect()) == [0, 1, 2, 3]
        assert delta_scan(spark, path, version=1).count() == 2


class TestDeltaStreamSource:
    """r12: incremental micro-batch source over a Delta table — snapshot
    first, then one batch per commit range; delta-to-delta pipelines."""

    def test_snapshot_then_increments(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        path = str(tmp_path / "src")
        sink = DeltaAppendSink(path)
        for i in range(3):
            sink.commit_batch(spark.createDataFrame([(i,)], "k long"), i)
        src = DeltaStreamSource(spark, path)
        df, through = src.next_batch()
        assert through == 2
        assert sorted(r["k"] for r in df.collect()) == [0, 1, 2]
        assert src.next_batch() is None  # caught up
        sink.commit_batch(spark.createDataFrame([(7,), (8,)], "k long"), 3)
        sink.commit_batch(spark.createDataFrame([(9,)], "k long"), 4)
        df, through = src.next_batch()
        assert through == 4
        assert sorted(r["k"] for r in df.collect()) == [7, 8, 9]
        assert src.next_batch() is None

    def test_delta_to_delta_pipeline_exactly_once(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        src_path, dst_path = str(tmp_path / "a"), str(tmp_path / "b")
        src_sink = DeltaAppendSink(src_path)
        for i in range(4):
            src_sink.commit_batch(
                spark.range(i * 5, (i + 1) * 5).selectExpr("id AS k"), i
            )
        dst = DeltaAppendSink(dst_path)
        src = DeltaStreamSource(spark, src_path)
        assert src.stream_to(dst.sink()) == 1  # snapshot batch
        # more commits upstream, drain again
        src_sink.commit_batch(spark.range(20, 25).selectExpr("id AS k"), 4)
        assert src.stream_to(dst.sink()) == 1
        assert dst.snapshot()["n_rows"] == 25
        # a RESTARTED source resuming after the snapshot version delivers
        # only the tail; the sink's idempotence absorbs a replayed range
        src2 = DeltaStreamSource(spark, src_path, starting_version=3)
        assert src2.stream_to(dst.sink()) == 1  # through-version 4 replays
        assert dst.snapshot()["n_rows"] == 25  # unchanged: batch id 4 known

    def test_merge_commits_refused_without_ignore_changes(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaKeyedStore,
            DeltaStreamSource,
        )

        path = str(tmp_path / "keyed")
        store = DeltaKeyedStore(spark, path, key="k", order_col="ts")
        b = spark.createDataFrame([("a", 1, "x")], "k string, ts long, v string")
        store.commit_batch(b, 0)
        src = DeltaStreamSource(spark, path)
        src.next_batch()  # snapshot at v0
        b2 = spark.createDataFrame([("a", 2, "y")], "k string, ts long, v string")
        store.commit_batch(b2, 1)  # MERGE: remove+add
        with pytest.raises(ValueError, match="ignore_changes"):
            src.next_batch()
        relaxed = DeltaStreamSource(
            spark, path, starting_version=0, ignore_changes=True
        )
        df, through = relaxed.next_batch()
        assert through == 1
        assert [r["v"] for r in df.collect()] == ["y"]

    def test_cleaned_log_gap_is_loud(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, checkpoint_interval=2)
        for i in range(4):
            sink.commit_batch(spark.createDataFrame([(i,)], "k long"), i)
        sink.clean_log()  # JSON <= 3? checkpoints at 1,3 -> prunes 0..3
        src = DeltaStreamSource(spark, path, starting_version=0)
        sink.commit_batch(spark.createDataFrame([(9,)], "k long"), 4)
        with pytest.raises(ValueError, match="cleaned from the log"):
            src.next_batch()
        # snapshot-first start covers the cleaned range
        fresh = DeltaStreamSource(spark, path)
        df, through = fresh.next_batch()
        assert through == 4
        assert df.count() == 5

    def test_partition_columns_attach_on_increments(self, spark, tmp_path):
        import io
        import zipfile

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_partitioned,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaStreamSource,
        )

        root = tmp_path / "tbl"
        with zipfile.ZipFile(io.BytesIO(synth_delta_partitioned(4))) as z:
            for name in z.namelist():
                dst = root / name
                dst.parent.mkdir(parents=True, exist_ok=True)
                dst.write_bytes(z.read(name))
        src = DeltaStreamSource(spark, str(root), starting_version=0)
        df, through = src.next_batch()  # commit 1 added files 3,4,5
        assert through == 1
        n = lambda j: (4 + j) % 20 + 5  # noqa: E731
        got = {r["p"]: r["count"] for r in df.groupBy("p").count().collect()}
        assert got == {"p0": n(3), "p1": n(4), "p2": n(5)}


def _unzip_to_dir(payload: bytes, root) -> str:
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        for name in z.namelist():
            dst = root / name
            dst.parent.mkdir(parents=True, exist_ok=True)
            dst.write_bytes(z.read(name))
    return str(root)


class TestDeletionVectors:
    """r13 (VERDICT r12 #1): protocol-v3 tables with deletion vectors —
    merge-on-read in the audit reader AND the distributed scan."""

    def test_zip_audit_time_travel_across_dv_commits(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_dv,
        )

        for seed in (0, 1, 2, 3, 6):  # covers prefix dir + shared DV file
            p = synth_delta_dv(seed)
            n0, n1 = (seed % 20) + 5, (seed + 1) % 20 + 5
            keep0 = [i for i in range(n0) if i % 3 != 0]
            keep1 = [i for i in range(n1) if i % 4 != 1]
            v0 = read_delta_snapshot(p, version=0)
            assert (v0["n_rows"], v0["n_files"]) == (n0 + n1, 2)
            v1 = read_delta_snapshot(p, version=1)
            assert v1["n_rows"] == len(keep0) + n1
            assert v1["int_sum"] == sum(seed + i for i in keep0) + sum(
                seed + 100 + i for i in range(n1)
            )
            v2 = read_delta_snapshot(p)
            assert v2["n_rows"] == len(keep0) + len(keep1)
            assert v2["int_sum"] == sum(seed + i for i in keep0) + sum(
                seed + 100 + i for i in keep1
            )

    def test_dv_integrity_checks_are_loud(self):
        import json as _json

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_dv,
        )

        def mutate_dv(**patch):
            def mutate(members):
                log1 = "_delta_log/" + f"{1:020d}" + ".json"
                out = []
                for line in members[log1].decode().splitlines():
                    a = _json.loads(line)
                    if "add" in a and "deletionVector" in a["add"]:
                        a["add"]["deletionVector"].update(patch)
                    out.append(_json.dumps(a))
                members[log1] = "\n".join(out).encode()

            return mutate

        base = synth_delta_dv(1)
        with pytest.raises(ValueError, match="cardinality"):
            read_delta_snapshot(_rebuild(base, mutate_dv(cardinality=99)))
        with pytest.raises(ValueError, match="sizeInBytes"):
            read_delta_snapshot(_rebuild(base, mutate_dv(sizeInBytes=3)))
        # r14: absolute-path ('p') DVs are SUPPORTED — a zip payload
        # (no filesystem) still refuses loudly via its missing-file seam
        with pytest.raises(ValueError, match="missing from payload"):
            read_delta_snapshot(
                _rebuild(base, mutate_dv(storageType="p",
                                         pathOrInlineDv="/abs/dv.bin"))
            )
        with pytest.raises(ValueError, match="storageType"):
            read_delta_snapshot(_rebuild(base, mutate_dv(storageType="x")))

    def test_delta_scan_filters_dv_rows(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            synth_delta_dv,
        )

        seed = 2
        path = _unzip_to_dir(synth_delta_dv(seed), tmp_path / "tbl")
        n0, n1 = (seed % 20) + 5, (seed + 1) % 20 + 5
        keep0 = [seed + i for i in range(n0) if i % 3 != 0]
        keep1 = [seed + 100 + i for i in range(n1) if i % 4 != 1]
        got = sorted(r.k for r in delta_scan(spark, path).collect())
        assert got == sorted(keep0 + keep1)
        # time travel: pre-DV version still reads every row
        v0 = sorted(r.k for r in delta_scan(spark, path, version=0).collect())
        assert v0 == sorted(
            [seed + i for i in range(n0)] + [seed + 100 + i for i in range(n1)]
        )

    def test_checkpoint_carries_dv(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            _checkpoint_state,
            write_checkpoint_blob,
        )

        dv = {
            "storageType": "i",
            "pathOrInlineDv": "aBcDe",
            "offset": None,
            "sizeInBytes": 4,
            "cardinality": 2,
        }
        blob = write_checkpoint_blob(
            {
                "f.parquet": {
                    "path": "f.parquet",
                    "size": 10,
                    "stats": None,
                    "partitionValues": {},
                    "deletionVector": dv,
                }
            },
            {"id": "t", "schemaString": "{}", "partitionColumns": [],
             "configuration": {"delta.columnMapping.mode": "none"}},
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["deletionVectors"]},
        )
        live, meta = _checkpoint_state(blob)
        assert live["f.parquet"]["deletionVector"] == dv
        assert meta["configuration"] == {"delta.columnMapping.mode": "none"}


class TestColumnMapping:
    """r13 (VERDICT r12 #1): name-mode column mapping — parquet files,
    partitionValues keys and stats keys speak PHYSICAL names, every API
    surface speaks logical."""

    def test_zip_audit_and_logical_partition_filter(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_mapped,
        )

        seed = 3
        p = synth_delta_mapped(seed)
        ns = [(seed + j) % 20 + 5 for j in range(4)]
        full = read_delta_snapshot(p)
        assert full["n_files"] == 4 and full["n_rows"] == sum(ns)
        p0 = read_delta_snapshot(p, partition_filter={"p": "p0"})
        assert p0["n_files"] == 2 and p0["n_rows"] == ns[0] + ns[2]

    def test_id_mode_resolves_by_field_id(self):
        # r14: id mode reads for real. The fixture is ADVERSARIAL: the
        # parquet column names DRIFT from physicalName (matching by
        # name finds nothing) and a decoy dropped int column (field id
        # 9, value 7777) sits FIRST in every file (taking the first int
        # column sums garbage) — only field-id resolution is correct
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_mapped,
        )

        for seed in (0, 3, 7):
            p = synth_delta_mapped(seed, mode="id")
            ns = [(seed + j) % 20 + 5 for j in range(4)]
            sums = [
                n * (seed + 100 * j) + n * (n - 1) // 2
                for j, n in enumerate(ns)
            ]
            full = read_delta_snapshot(p)
            assert full["n_rows"] == sum(ns)
            assert full["int_sum"] == sum(sums)
            p0 = read_delta_snapshot(p, partition_filter={"p": "p0"})
            assert p0["n_files"] == 2 and p0["n_rows"] == ns[0] + ns[2]
            assert p0["int_sum"] == sums[0] + sums[2]

    def test_unknown_mapping_mode_is_loud(self):
        import json as _json

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_mapped,
        )

        def to_bad_mode(members):
            log0 = "_delta_log/" + "0" * 20 + ".json"
            out = []
            for line in members[log0].decode().splitlines():
                a = _json.loads(line)
                if "metaData" in a:
                    a["metaData"]["configuration"][
                        "delta.columnMapping.mode"
                    ] = "surprise"
                out.append(_json.dumps(a))
            members[log0] = "\n".join(out).encode()

        with pytest.raises(NotImplementedError, match="'name' and 'id'"):
            read_delta_snapshot(_rebuild(synth_delta_mapped(2), to_bad_mode))

    def test_id_mode_delta_scan_and_delete_where_e2e(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            read_delta_snapshot_dir,
            replay_delta_dir,
            synth_delta_mapped,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        seed = 5
        path = _unzip_to_dir(
            synth_delta_mapped(seed, mode="id"), tmp_path / "tbl"
        )
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        every = sorted(
            seed + 100 * j + i for j in range(4) for i in range(n(j))
        )
        df = delta_scan(spark, path)
        assert df.columns == ["k", "p"]  # logical names out
        assert sorted(r.k for r in df.collect()) == every
        # DELETE + OPTIMIZE on the id-mapped table (refusals lifted)
        sink = DeltaAppendSink(path)
        sink.spark = spark
        sink.delete_where("k % 2 = 0", 1)
        want = [k for k in every if k % 2 == 1]
        assert sorted(r.k for r in delta_scan(spark, path).collect()) == want
        assert read_delta_snapshot_dir(path)["int_sum"] == sum(want)
        sink.optimize(2)
        live = replay_delta_dir(path)["live"]
        assert not any(a.get("deletionVector") for a in live.values())
        assert sorted(r.k for r in delta_scan(spark, path).collect()) == want

    def test_append_to_mapped_table_translates_to_physical(
        self, spark, tmp_path
    ):
        """ADVICE r14: the writer gate admits columnMapping tables, so
        appended batches MUST land with physical names (+ field ids in
        id mode) — before the fix they kept logical names and the new
        rows read back as nulls (silent data loss). Both commit paths,
        both modes."""
        import os

        import pyarrow.parquet as pq

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            replay_delta_dir,
            synth_delta_mapped,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        for mode in ("name", "id"):
            seed = 5
            path = _unzip_to_dir(
                synth_delta_mapped(seed, mode=mode), tmp_path / f"tbl-{mode}"
            )
            n = lambda j: (seed + j) % 20 + 5  # noqa: E731
            every = sorted(
                seed + 100 * j + i for j in range(4) for i in range(n(j))
            )
            sink = DeltaAppendSink(path, partition_columns=["p"])
            batch = spark.createDataFrame(
                [(9001, "p0"), (9002, "p1")], "k long, p string"
            )
            sink.commit_batch_distributed(batch, 1)
            df = delta_scan(spark, path)
            assert df.columns == ["k", "p"]
            got = sorted((r.k, r.p) for r in df.collect())
            assert (9001, "p0") in got and (9002, "p1") in got
            assert None not in [k for k, _p in got]  # no silent nulls
            assert len(got) == len(every) + 2
            # the appended file itself speaks PHYSICAL names
            live = replay_delta_dir(path)["live"]
            new_rels = [r for r in live if "part-b0000000001" in r]
            assert new_rels, sorted(live)
            sch = pq.ParquetFile(
                os.path.join(path, new_rels[0])
            ).schema_arrow
            assert "k" not in sch.names and "p" not in sch.names
            # partitionValues keys are physical too
            assert all(
                "p" not in (live[r].get("partitionValues") or {})
                for r in new_rels
            )
            # logical partition pruning still reaches the new file
            p0 = delta_scan(spark, path, partition_filter={"p": "p0"})
            assert 9001 in [r.k for r in p0.collect()]
            # unknown logical columns refuse loudly (mapped-table
            # evolution needs field-id assignment)
            import pytest as _pytest

            with _pytest.raises(NotImplementedError, match="column-mapped"):
                sink.commit_batch_distributed(
                    spark.createDataFrame(
                        [(1, "p0", 2)], "k long, p string, extra long"
                    ),
                    2,
                )
            # a sink whose partition_columns disagree with the table's
            # declared ones refuses up front (an add without
            # partitionValues silently breaks pruning)
            path2 = _unzip_to_dir(
                synth_delta_mapped(seed, mode=mode),
                tmp_path / f"tbl2-{mode}",
            )
            with _pytest.raises(ValueError, match="partitionColumns"):
                DeltaAppendSink(path2).commit_batch(
                    spark.createDataFrame(
                        [(7777, "p9")], "k long, p string"
                    ),
                    1,
                )

    def test_commit_batch_translates_on_unpartitioned_mapped_table(
        self, spark, tmp_path
    ):
        """The driver-side Arrow path (commit_batch) also lands physical
        names + field ids: CREATE a mapped unpartitioned table by log
        fixture, append through commit_batch, read back by delta_scan."""
        import json as _json
        import os

        import pyarrow.parquet as pq

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        for mode in ("name", "id"):
            path = str(tmp_path / f"tbl-{mode}")
            os.makedirs(os.path.join(path, "_delta_log"))
            meta = {
                "k": {"physicalName": "col-aaa", "id": 1},
                "v": {"physicalName": "col-bbb", "id": 2},
            }
            fields = [
                {
                    "name": n,
                    "type": t,
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.physicalName": meta[n][
                            "physicalName"
                        ],
                        **(
                            {"delta.columnMapping.id": meta[n]["id"]}
                            if mode == "id"
                            else {}
                        ),
                    },
                }
                for n, t in (("k", "long"), ("v", "string"))
            ]
            lines = [
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 2,
                            "minWriterVersion": 5,
                        }
                    }
                ),
                _json.dumps(
                    {
                        "metaData": {
                            "id": "t-map",
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": _json.dumps(
                                {"type": "struct", "fields": fields}
                            ),
                            "partitionColumns": [],
                            "configuration": {
                                "delta.columnMapping.mode": mode
                            },
                        }
                    }
                ),
            ]
            with open(
                os.path.join(path, "_delta_log", "0" * 20 + ".json"), "w"
            ) as f:
                f.write("\n".join(lines) + "\n")
            sink = DeltaAppendSink(path)
            sink.commit_batch(
                spark.createDataFrame(
                    [(1, "a"), (2, "b")], "k long, v string"
                ),
                0,
            )
            got = sorted(
                (r.k, r.v) for r in delta_scan(spark, path).collect()
            )
            assert got == [(1, "a"), (2, "b")]
            rels = [
                fn for fn in os.listdir(path) if fn.endswith(".parquet")
            ]
            sch = pq.ParquetFile(os.path.join(path, rels[0])).schema_arrow
            assert set(sch.names) == {"col-aaa", "col-bbb"}
            if mode == "id":
                from flink_gmall2024_realtime_spark.operators.parquetmeta import (
                    parse_parquet_field_ids,
                )

                with open(os.path.join(path, rels[0]), "rb") as f:
                    fid = parse_parquet_field_ids(f.read())
                assert fid == {1: "col-aaa", 2: "col-bbb"}

    def test_delta_scan_returns_logical_columns(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            synth_delta_mapped,
        )

        seed = 4
        path = _unzip_to_dir(synth_delta_mapped(seed), tmp_path / "tbl")
        df = delta_scan(spark, path)
        assert set(df.columns) == {"k", "p"}
        ns = [(seed + j) % 20 + 5 for j in range(4)]
        assert df.count() == sum(ns)
        # logical partition filter prunes to the p0 files
        p0 = delta_scan(spark, path, partition_filter={"p": "p0"})
        assert p0.count() == ns[0] + ns[2]
        assert set(r.p for r in p0.select("p").distinct().collect()) == {"p0"}
        # logical stats filter translates to the physical stats keys:
        # only file 3 (k >= seed+300) intersects the bound
        hi = delta_scan(spark, path, stats_filter={"k": (seed + 300, None)})
        assert hi.count() == ns[3]

    def test_delta_scan_stats_skip_never_decodes_pruned_mapped_file(
        self, spark, tmp_path
    ):
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            synth_delta_mapped,
        )

        seed = 4
        path = _unzip_to_dir(synth_delta_mapped(seed), tmp_path / "tbl")
        # corrupt every file EXCEPT file 3: if pruning failed, the scan
        # would blow up reading them
        for j in range(3):
            full = os.path.join(path, f"part-{j:05d}.parquet")
            with open(full, "wb") as f:
                f.write(b"not parquet at all")
        hi = delta_scan(spark, path, stats_filter={"k": (seed + 300, None)})
        assert hi.count() == (seed + 3) % 20 + 5


class TestDeltaStatsSkipping:
    """r12: AddFile min/max stats (from the parquet footers the writer
    already paid for) + stats_filter data skipping in delta_scan."""

    def test_sink_writes_column_stats(self, spark, tmp_path):
        import json as _json

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        sink.commit_batch(
            spark.createDataFrame(
                [(5, "mm"), (9, "aa"), (7, None)], "k long, v string"
            ),
            0,
        )
        line = [
            _json.loads(x)
            for x in open(sink._commit_path(0), "rb").read().splitlines()
            if b'"add"' in x
        ][0]
        stats = _json.loads(line["add"]["stats"])
        assert stats["numRecords"] == 3
        assert stats["minValues"]["k"] == 5 and stats["maxValues"]["k"] == 9
        assert stats["minValues"]["v"] == "aa" and stats["maxValues"]["v"] == "mm"
        assert stats["nullCount"]["v"] == 1

    def test_stats_filter_skips_files(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        # three files with disjoint k ranges
        for i, lo in enumerate((0, 100, 200)):
            sink.commit_batch(
                spark.range(lo, lo + 10).selectExpr("id AS k"), i
            )
        # corrupt the files outside [100, 109]: a scan that touches them fails
        import os

        for fn in os.listdir(path):
            if fn.endswith(".parquet") and fn != "part-b0000000001.parquet":
                with open(os.path.join(path, fn), "wb") as f:
                    f.write(b"not parquet anymore")
        df = delta_scan(spark, path, stats_filter={"k": (100, 109)})
        assert sorted(r["k"] for r in df.collect()) == list(range(100, 110))
        # an unskippable bound (None, None intersects everything) does fail
        with pytest.raises(Exception):
            delta_scan(spark, path, stats_filter={"k": (None, None)}).collect()

    def test_files_without_stats_are_kept(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import _stats_skip

        live = {
            "a": {"stats": None},
            "b": {"stats": '{"numRecords": 1}'},
            "c": {"stats": '{"numRecords": 1, "minValues": {"k": 50}, "maxValues": {"k": 60}}'},
        }
        kept = _stats_skip(live, {"k": (0, 10)})
        assert set(kept) == {"a", "b"}  # only c is provably out of range
        assert set(_stats_skip(live, {"k": (55, None)})) == {"a", "b", "c"}


class TestDeltaSchemaEvolution:
    """r12: batch-schema validation + opt-in mergeSchema evolution —
    previously any post-v0 batch committed silently with whatever
    columns it carried."""

    def test_mismatched_batch_is_loud_by_default(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        sink = DeltaAppendSink(str(tmp_path / "tbl"))
        sink.commit_batch(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
        wider = spark.createDataFrame([(2, "b", 1.5)], "k long, v string, score double")
        with pytest.raises(ValueError, match="schema_evolution is off"):
            sink.commit_batch(wider, 1)
        retyped = spark.createDataFrame([("x", "b")], "k string, v string")
        with pytest.raises(ValueError, match="never rewrites"):
            sink.commit_batch(retyped, 1)

    def test_evolution_appends_and_scan_backfills_nulls(self, spark, tmp_path):
        import json as _json

        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, schema_evolution=True)
        sink.commit_batch(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
        sink.commit_batch(
            spark.createDataFrame([(2, "b", 1.5)], "k long, v string, score double"),
            1,
        )
        # the evolution commit carries an updated metaData action
        actions = [
            _json.loads(x)
            for x in open(sink._commit_path(1), "rb").read().splitlines()
        ]
        metas = [a["metaData"] for a in actions if "metaData" in a]
        assert len(metas) == 1
        names = [f["name"] for f in _json.loads(metas[0]["schemaString"])["fields"]]
        assert names == ["k", "v", "score"]
        # scans project every file to the evolved schema
        df = delta_scan(spark, path)
        assert df.columns == ["k", "v", "score"]
        rows = {r["k"]: (r["v"], r["score"]) for r in df.collect()}
        assert rows == {1: ("a", None), 2: ("b", 1.5)}
        # narrower batches (missing the new column) stay legal
        sink.commit_batch(spark.createDataFrame([(3, "c")], "k long, v string"), 2)
        assert delta_scan(spark, path).count() == 3
        # and the evolved schema survives checkpoint-style state rebuilds
        state = sink._replay_state(sink.head_version())
        assert "score" in state["metadata"]["schemaString"]

    def test_keyed_store_merge_carries_schema(self, spark, tmp_path):
        # the keyed store merges old+new frames, so the merged snapshot
        # carries the union schema; evolution must flow through it too
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaKeyedStore

        store = DeltaKeyedStore(
            spark, str(tmp_path / "tbl"), key="k", order_col="ts",
            schema_evolution=True,
        )
        store.commit_batch(
            spark.createDataFrame([("a", 1, "x")], "k string, ts long, v string"), 0
        )
        store.commit_batch(
            spark.createDataFrame(
                [("b", 2, "y", 9.0)], "k string, ts long, v string, w double"
            ),
            1,
        )
        got = {r["k"]: r["w"] for r in store.read_latest().collect()}
        assert got == {"a": None, "b": 9.0}


class TestSourceRateLimitAndVacuum:
    def test_max_commits_per_batch(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        for i in range(5):
            sink.commit_batch(spark.createDataFrame([(i,)], "k long"), i)
        src = DeltaStreamSource(
            spark, path, starting_version=0, max_commits_per_batch=2
        )
        seen = []
        while True:
            got = src.next_batch()
            if got is None:
                break
            df, through = got
            seen.append((through, sorted(r["k"] for r in df.collect())))
        assert seen == [(2, [1, 2]), (4, [3, 4])]

    def test_vacuum_orphans(self, spark, tmp_path):
        import os

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        # nothing committed: a lone data file must NOT be vacuumed (it
        # may be a first batch that has not committed yet)
        with open(os.path.join(path, "part-b0000000000.parquet"), "wb") as f:
            f.write(b"in flight")
        assert sink.vacuum_orphans(retention_seconds=0) == []
        os.unlink(os.path.join(path, "part-b0000000000.parquet"))
        sink.commit_batch(spark.createDataFrame([(1,)], "k long"), 0)
        # crash leftover: data file written, never committed
        with open(os.path.join(path, "part-b0000000009.parquet"), "wb") as f:
            f.write(b"dead writer leftover")
        # default retention (7d) protects the file — it could equally be
        # a LIVE concurrent writer mid-commit (ADVICE r12)
        assert sink.vacuum_orphans() == []
        assert sink.vacuum_orphans(retention_seconds=0) == [
            "part-b0000000009.parquet"
        ]
        assert sink.snapshot()["n_rows"] == 1  # live data untouched
        assert sink.vacuum_orphans(retention_seconds=0) == []


class TestBucketedDeltaKeyedStore:
    """r13 (VERDICT r12 #3): hash-bucketed keyed MERGE — O(delta) per
    batch instead of O(state), distributed merge + write."""

    def _batches(self, spark):
        # three keyed micro-batches with updates and deletes, key space
        # wide enough to hit many buckets
        b0 = spark.createDataFrame(
            [(k, k * 10, 0, "u") for k in range(40)],
            "k long, v long, ord long, op string",
        )
        b1 = spark.createDataFrame(
            [(k, k * 10 + 1, 1, "u") for k in range(0, 40, 2)],
            "k long, v long, ord long, op string",
        )
        b2 = spark.createDataFrame(
            [(k, 0, 2, "delete") for k in range(0, 40, 5)]
            + [(41, 999, 2, "u")],
            "k long, v long, ord long, op string",
        )
        return [b0, b1, b2]

    def _state(self, df):
        return sorted((r.k, r.v) for r in df.select("k", "v").collect())

    def test_state_equivalence_with_single_file_store(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
            DeltaKeyedStore,
        )

        plain = DeltaKeyedStore(
            spark, str(tmp_path / "plain"), "k", "ord", type_col="op"
        )
        bucketed = BucketedDeltaKeyedStore(
            spark, str(tmp_path / "bucketed"), "k", "ord", type_col="op",
            n_buckets=8,
        )
        for i, b in enumerate(self._batches(spark)):
            plain.commit_batch(b, i)
            bucketed.commit_batch(b, i)
        for v in range(3):
            assert self._state(bucketed.read_as_of(v)) == self._state(
                plain.read_as_of(v)
            )

    def test_untouched_bucket_files_survive_commits(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        store = BucketedDeltaKeyedStore(
            spark, str(tmp_path / "tbl"), "k", "ord", type_col="op",
            n_buckets=8,
        )
        store.commit_batch(self._batches(spark)[0], 0)
        files_v0 = set(store.live_files())
        assert len(files_v0) > 1  # genuinely bucketed
        # a single-key batch touches exactly ONE bucket
        one = spark.createDataFrame(
            [(7, 777, 5, "u")], "k long, v long, ord long, op string"
        )
        store.commit_batch(one, 1)
        files_v1 = set(store.live_files())
        # O(delta): every other bucket's file is the SAME file (same
        # name, untouched bytes), exactly one bucket was rewritten
        assert len(files_v0 - files_v1) == 1
        assert len(files_v1 - files_v0) == 1
        rewritten = (files_v1 - files_v0).pop()
        assert rewritten.endswith("-b0000000001.parquet")
        assert store._bucket_of(rewritten) == store._bucket_of(
            (files_v0 - files_v1).pop()
        )
        # a delete-only batch can empty a bucket: remove without add
        import pyspark.sql.functions as F

        k_del = 7
        dele = spark.createDataFrame(
            [(k_del, 0, 9, "delete")], "k long, v long, ord long, op string"
        )
        # delete every key in k_del's bucket first so it empties
        bucket = store._bucket_of(rewritten)
        keys_in_bucket = [
            r.k
            for r in store.read_latest()
            .select("k")
            .where(
                F.pmod(F.xxhash64(F.col("k")), F.lit(8)).cast("int")
                == F.lit(bucket)
            )
            .collect()
        ]
        dele = spark.createDataFrame(
            [(k, 0, 9, "delete") for k in keys_in_bucket],
            "k long, v long, ord long, op string",
        )
        store.commit_batch(dele, 2)
        files_v2 = set(store.live_files())
        assert rewritten not in files_v2
        assert len(files_v2) == len(files_v1) - 1

    def test_restart_twice_and_replay(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        path = str(tmp_path / "tbl")
        batches = self._batches(spark)
        store = BucketedDeltaKeyedStore(
            spark, path, "k", "ord", type_col="op", n_buckets=8,
            checkpoint_interval=2,
        )
        store.commit_batch(batches[0], 0)
        store.commit_batch(batches[1], 1)
        state_v1 = self._state(store.read_latest())
        # restart: a fresh instance must skip replayed batches
        fresh = BucketedDeltaKeyedStore(
            spark, path, "k", "ord", type_col="op", n_buckets=8,
            checkpoint_interval=2,
        )
        assert fresh.commit_batch(batches[0], 0) is None
        assert fresh.commit_batch(batches[1], 1) is None
        assert self._state(fresh.read_latest()) == state_v1
        # clean the log, then replay again on the same instance
        fresh.clean_log()
        assert fresh.commit_batch(batches[1], 1) is None
        fresh.commit_batch(batches[2], 2)
        # time travel below the checkpoint resolves through it
        assert self._state(fresh.read_as_of(1)) == state_v1

    def test_any_delta_reader_reads_the_bucketed_table(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        path = str(tmp_path / "tbl")
        store = BucketedDeltaKeyedStore(
            spark, path, "k", "ord", type_col="op", n_buckets=4
        )
        for i, b in enumerate(self._batches(spark)):
            store.commit_batch(b, i)
        df = delta_scan(spark, path)
        assert self._state(df) == self._state(store.read_latest())


class TestTimestampNtz:
    """r13: timestamp_ntz columns ride the spec's timestampNtz
    reader+writer feature — the sink creates the table at protocol
    v3/v7 with the feature listed, and the reader accepts it."""

    def test_sink_writes_feature_protocol_and_scan_reads(
        self, spark, tmp_path
    ):
        import json as _json
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        df = spark.sql(
            "SELECT id AS k, timestamp_ntz'2024-01-02 03:04:05' AS ts "
            "FROM range(5)"
        )
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        sink.commit_batch(df, 0)
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as f:
            protos = [
                _json.loads(line)["protocol"]
                for line in f.read().splitlines()
                if "protocol" in _json.loads(line)
            ]
        assert protos == [
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz"],
            }
        ]
        out = delta_scan(spark, path)
        assert out.schema["ts"].dataType.typeName() == "timestamp_ntz"
        assert out.count() == 5
        assert sink.snapshot()["n_rows"] == 5

    def test_plain_schema_stays_protocol_v1(self, spark, tmp_path):
        import json as _json
        import os

        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        DeltaAppendSink(path).commit_batch(
            spark.createDataFrame([(1,)], "k long"), 0
        )
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as f:
            protos = [
                _json.loads(line)["protocol"]
                for line in f.read().splitlines()
                if "protocol" in _json.loads(line)
            ]
        assert protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]

    def test_evolving_ntz_onto_v1_table_is_loud(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, schema_evolution=True)
        sink.commit_batch(spark.createDataFrame([(1,)], "k long"), 0)
        ntz = spark.sql(
            "SELECT id AS k, timestamp_ntz'2024-01-01 00:00:00' AS ts "
            "FROM range(2)"
        )
        with pytest.raises(NotImplementedError, match="timestampNtz"):
            sink.commit_batch(ntz, 1)


class TestDeleteWhere:
    """r13: DELETE FROM ... WHERE by WRITING deletion vectors — no data
    file rewritten; the write side of the r13 DV reader."""

    def _table(self, spark, tmp_path, n=100, files=4):
        from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        df = spark.range(n).selectExpr("id AS k", "id % 10 AS v")
        sink.commit_batch_distributed(df.repartitionByRange(files, "k"), 0)
        return path, sink

    def test_delete_masks_rows_without_rewriting_files(self, spark, tmp_path):
        import hashlib
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            read_delta_snapshot_dir,
        )

        path, sink = self._table(spark, tmp_path)

        def data_hashes():
            out = {}
            for fn in sorted(os.listdir(path)):
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    with open(os.path.join(path, fn), "rb") as f:
                        out[fn] = hashlib.md5(f.read()).hexdigest()
            return out

        before = data_hashes()
        v = sink.delete_where("k % 3 = 0", 1)
        assert v == 1
        # every data file byte-identical; one DV sidecar appeared
        assert data_hashes() == before
        dvs = [fn for fn in os.listdir(path) if fn.startswith("deletion_vector_")]
        assert len(dvs) == 1
        got = sorted(r.k for r in delta_scan(spark, path).collect())
        assert got == [k for k in range(100) if k % 3 != 0]
        # time travel: pre-delete snapshot still reads every row
        assert delta_scan(spark, path, version=0).count() == 100
        snap = read_delta_snapshot_dir(path)
        assert snap["n_rows"] == len(got)
        # replay of the same batch id is a no-op
        assert sink.delete_where("k % 3 = 0", 1) is None
        assert delta_scan(spark, path).count() == len(got)

    def test_protocol_upgrades_in_the_delete_commit(self, spark, tmp_path):
        import json as _json
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            replay_delta_dir,
        )

        path, sink = self._table(spark, tmp_path)
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as f:
            v0_protos = [
                _json.loads(line)["protocol"]
                for line in f.read().splitlines()
                if "protocol" in _json.loads(line)
            ]
        assert v0_protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]
        sink.delete_where("k < 5", 1)
        proto = replay_delta_dir(path)["protocol"]
        assert proto["minReaderVersion"] == 3
        assert "deletionVectors" in proto["readerFeatures"]

    def test_second_delete_unions_existing_dv(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)
        sink.delete_where("k % 5 = 0", 2)
        got = sorted(r.k for r in delta_scan(spark, path).collect())
        assert got == [k for k in range(100) if k % 3 != 0 and k % 5 != 0]
        # intermediate version shows only the first delete
        mid = delta_scan(spark, path, version=1).count()
        assert mid == sum(1 for k in range(100) if k % 3 != 0)

    def test_fully_deleted_file_is_removed(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            read_delta_snapshot_dir,
        )

        path, sink = self._table(spark, tmp_path, n=100, files=4)
        before = read_delta_snapshot_dir(path)
        assert before["n_files"] == 4
        # wipe one whole range file (k < 25 covers file 0 exactly for
        # spark's rangepartitioner on 0..99 into 4) — use a predicate
        # guaranteed to cover at least one file fully
        sink.delete_where("k < 50", 1)
        after = read_delta_snapshot_dir(path)
        assert after["n_rows"] == 50
        assert after["n_files"] < 4  # at least one file removed outright

    def test_noop_and_empty_matches_stay_idempotent(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan

        path, sink = self._table(spark, tmp_path)
        assert sink.delete_where("k > 1000000", 1) == 1  # txn-only commit
        assert delta_scan(spark, path).count() == 100
        assert sink.delete_where("k > 1000000", 1) is None
        # deleting already-deleted rows only is also a txn-only commit
        sink.delete_where("k = 7", 2)
        v = sink.delete_where("k = 7", 3)
        assert v == 3
        assert delta_scan(spark, path).count() == 99


def test_keyed_stores_refuse_delete_where(spark, tmp_path):
    # deletion vectors would be resurrected by the next MERGE (which
    # reads data files raw) — keyed stores delete via type_col rows
    from flink_gmall2024_realtime_spark.streaming.delta import (
        BucketedDeltaKeyedStore,
        DeltaKeyedStore,
    )

    for cls in (DeltaKeyedStore, BucketedDeltaKeyedStore):
        store = cls(spark, str(tmp_path / cls.__name__), "k", "ord")
        store.commit_batch(
            spark.createDataFrame([(1, 1)], "k long, ord long"), 0
        )
        with pytest.raises(NotImplementedError, match="type_col"):
            store.delete_where("k = 1", 1)


def test_bucketed_store_schema_evolution_mixed_buckets(spark, tmp_path):
    # evolution appends a column via ONE touched bucket; untouched
    # buckets keep pre-evolution files — reads must mergeSchema so the
    # appended column survives as typed nulls everywhere else
    from flink_gmall2024_realtime_spark.streaming.delta import (
        BucketedDeltaKeyedStore,
    )

    store = BucketedDeltaKeyedStore(
        spark, str(tmp_path / "tbl"), "k", "ord", n_buckets=4,
        schema_evolution=True,
    )
    b0 = spark.createDataFrame(
        [(k, 0, k * 2) for k in range(12)], "k long, ord long, v long"
    )
    store.commit_batch(b0, 0)
    b1 = spark.createDataFrame(
        [(3, 1, 333, "x")], "k long, ord long, v long, extra string"
    )
    store.commit_batch(b1, 1)
    rows = {r.k: (r.v, r.extra) for r in store.read_latest().collect()}
    assert rows[3] == (333, "x")
    assert rows[5] == (10, None)  # untouched bucket, appended col null
    assert len(rows) == 12


class TestV2Checkpoints:
    """r13: UUID-named V2 checkpoints with sidecar files — the modern
    form delta-spark writes (previously refused by feature name)."""

    def test_pruned_log_reads_only_via_sidecars(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_v2checkpoint,
        )

        seed = 3  # odd: JSON prefix pruned, the v2 checkpoint is it
        p = synth_delta_v2checkpoint(seed)
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        at_cp = read_delta_snapshot(p, version=10)
        assert at_cp["n_files"] == 11
        assert at_cp["n_rows"] == sum(n(j) for j in range(11))
        last = read_delta_snapshot(p)
        latest = 11 + seed % 3
        live = [j for j in range(latest + 1) if j != 1]
        assert last["n_files"] == len(live)

    def test_missing_sidecar_is_loud(self):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_v2checkpoint,
        )

        def drop_one_sidecar(members):
            victims = [
                m for m in members if m.startswith("_delta_log/_sidecars/")
            ]
            del members[victims[0]]

        p = _rebuild_zip(synth_delta_v2checkpoint(3), drop_one_sidecar)
        with pytest.raises(ValueError, match="missing from payload"):
            read_delta_snapshot(p, version=10)

    def test_sidecars_without_fetch_refuse(self):
        import io
        import zipfile

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            _checkpoint_state,
            synth_delta_v2checkpoint,
        )

        with zipfile.ZipFile(
            io.BytesIO(synth_delta_v2checkpoint(2))
        ) as z:
            top = next(
                n for n in z.namelist()
                if ".checkpoint." in n and n.endswith(".parquet")
            )
            blob = z.read(top)
        with pytest.raises(NotImplementedError, match="sidecar"):
            _checkpoint_state(blob)  # no fetch provided


def _rebuild_zip(payload: bytes, mutate) -> bytes:
    import io
    import zipfile

    members = {}
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        for name in z.namelist():
            members[name] = z.read(name)
    mutate(members)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in members.items():
            z.writestr(name, body)
    return buf.getvalue()


class TestPartitionedSink:
    """r13: the sink WRITES partitioned tables — partitionValues on
    every add, Hive-style dirs without the partition columns, and
    delta_scan's log-side pruning works against our own layout."""

    def test_partitioned_distributed_write_and_pruned_scan(
        self, spark, tmp_path
    ):
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            read_delta_snapshot_dir,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path, partition_columns=["p"])
        df = spark.range(90).selectExpr(
            "id AS k", "concat('p', id % 3) AS p"
        )
        assert sink.commit_batch_distributed(df.repartition(4), 0) == 0
        assert sink.commit_batch_distributed(
            spark.range(90, 120).selectExpr("id AS k", "'p0' AS p"), 1
        ) == 1
        # layout: Hive dirs, data files do NOT carry the partition col
        pdirs = [d for d in os.listdir(path) if d.startswith("p=")]
        assert sorted(pdirs) == ["p=p0", "p=p1", "p=p2"]
        import pyarrow.parquet as pq

        one = next(
            os.path.join(path, "p=p1", f)
            for f in os.listdir(os.path.join(path, "p=p1"))
        )
        assert "p" not in pq.ParquetFile(one).schema_arrow.names
        # full scan attaches the partition column back from the LOG
        full = delta_scan(spark, path)
        assert full.count() == 120
        assert dict(
            (r.p, r.ct)
            for r in full.groupBy("p").count().withColumnRenamed(
                "count", "ct"
            ).collect()
        ) == {"p0": 60, "p1": 30, "p2": 30}
        # partition-pruned scan + snapshot audit partition counts
        p0 = delta_scan(spark, path, partition_filter={"p": "p0"})
        assert p0.count() == 60
        snap = read_delta_snapshot_dir(path, partition_filter={"p": "p2"})
        assert snap["n_rows"] == 30 and snap["n_partitions"] == 1
        # pruning happens in the log: corrupt every non-p0 file
        for d in ("p=p1", "p=p2"):
            for fn in os.listdir(os.path.join(path, d)):
                with open(os.path.join(path, d, fn), "wb") as f:
                    f.write(b"garbage")
        assert delta_scan(
            spark, path, partition_filter={"p": "p0"}
        ).count() == 60

    def test_replay_checkpoint_and_vacuum_partitioned(self, spark, tmp_path):
        import os

        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(
            path, partition_columns=["p"], checkpoint_interval=2
        )
        for i in range(4):
            sink.commit_batch_distributed(
                spark.range(10).selectExpr(
                    "id AS k", f"concat('p', id % 2) AS p"
                ),
                i,
            )
        assert sink.commit_batch_distributed(
            spark.range(1).selectExpr("id AS k", "'p0' AS p"), 2
        ) is None  # replay
        sink.clean_log()
        assert sink.snapshot()["n_rows"] == 40
        # orphan in a partition dir is vacuumed (walk, not listdir)
        orphan = os.path.join(path, "p=p0", "dead.parquet")
        with open(orphan, "wb") as f:
            f.write(b"leftover")
        assert sink.vacuum_orphans(retention_seconds=0) == ["p=p0/dead.parquet"]

    def test_driver_path_refuses_partitions(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        sink = DeltaAppendSink(str(tmp_path / "t"), partition_columns=["p"])
        with pytest.raises(NotImplementedError, match="distributed"):
            sink.commit_batch(
                spark.createDataFrame([(1, "a")], "k long, p string"), 0
            )
        with pytest.raises(ValueError, match="partition column"):
            sink.commit_batch_distributed(
                spark.createDataFrame([(1,)], "k long"), 0
            )


def test_delete_where_dv_survives_checkpoint_and_clean_log(spark, tmp_path):
    # the DV written by delete_where must ride the checkpoint's
    # deletionVector columns: after clean_log() prunes the JSON, the
    # masked state is only reconstructible through the checkpoint
    from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path)
    sink.commit_batch_distributed(
        spark.range(60).selectExpr("id AS k").repartitionByRange(3, "k"), 0
    )
    sink.delete_where("k % 4 = 0", 1)
    sink.write_checkpoint(1)
    assert sink.clean_log() == [0, 1]
    expect = [k for k in range(60) if k % 4 != 0]
    assert sorted(r.k for r in delta_scan(spark, path).collect()) == expect
    snap = sink.snapshot()
    assert snap["n_rows"] == len(expect)
    # and a replay of the delete on a FRESH instance stays skipped
    fresh = DeltaAppendSink(path)
    assert fresh.delete_where("k % 4 = 0", 1) is None


def test_dv_anti_join_plan_is_broadcast(spark, tmp_path):
    # plan lock: the deletion-vector row filter must be a BROADCAST
    # anti-join (positions are cardinality-bounded) — a shuffled anti
    # join here would turn every DV file read into a full shuffle at
    # 100 TB
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        synth_delta_dv,
    )

    path = _unzip_to_dir(synth_delta_dv(2), tmp_path / "tbl")
    plan = delta_scan(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_dv_scan_never_decodes_positions_on_driver(
    spark, tmp_path, monkeypatch
):
    """Driver-memory lock (VERDICT r14 #1): building AND executing a
    DV-masked delta_scan must never decode deleted positions driver-side
    — the roaring bitmaps ship raw and explode in executors. The decode
    entry points are poisoned on the DRIVER only (executors re-import
    clean modules)."""
    from flink_gmall2024_realtime_spark.operators import deltalog, roaring
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        synth_delta_dv,
    )

    path = _unzip_to_dir(synth_delta_dv(2), tmp_path / "tbl")
    expected = sorted(
        r.k for r in delta_scan(spark, path).collect()
    )  # ground truth before poisoning

    def boom(*a, **kw):
        raise AssertionError("deleted positions decoded on the driver")

    monkeypatch.setattr(deltalog, "_dv_positions", boom)
    monkeypatch.setattr(roaring, "parse_roaring_bitmap_array", boom)
    monkeypatch.setattr(roaring, "parse_dv_in_file", boom)
    got = sorted(r.k for r in delta_scan(spark, path).collect())
    assert got == expected


def test_dv_scan_shuffle_path_above_broadcast_threshold(
    spark, tmp_path, monkeypatch
):
    """Above _DV_BROADCAST_MAX_POSITIONS the positions anti-join must
    NOT broadcast (the ~8 GB ceiling at GDPR scale) — and the shuffled
    plan stays exact."""
    from flink_gmall2024_realtime_spark.operators import deltalog
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        synth_delta_dv,
    )

    path = _unzip_to_dir(synth_delta_dv(2), tmp_path / "tbl")
    expected = sorted(r.k for r in delta_scan(spark, path).collect())
    monkeypatch.setattr(deltalog, "_DV_BROADCAST_MAX_POSITIONS", -1)
    df = delta_scan(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    anti = [
        ln for ln in plan.splitlines()
        if "LeftAnti" in ln and "__pos" in ln
    ]
    assert anti and all("Broadcast" not in ln for ln in anti), plan
    assert sorted(r.k for r in df.collect()) == expected


class TestOptimize:
    """r13: OPTIMIZE bin-pack compaction — DVs materialize, incremental
    readers skip the dataChange=false commit."""

    def test_optimize_materializes_dvs_and_compacts(self, spark, tmp_path):
        import json as _json
        import os

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            replay_delta_dir,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(80).selectExpr("id AS k").repartitionByRange(4, "k"), 0
        )
        sink.delete_where("k % 4 = 0", 1)
        expect = sorted(k for k in range(80) if k % 4 != 0)
        v = sink.optimize(2, target_files=1)
        assert v == 2
        assert sink.optimize(2) is None  # replay skipped
        live = replay_delta_dir(path)["live"]
        assert list(live) == ["compact-b0000000002-00000.parquet"]
        # DV materialized: the compacted add carries NO deletionVector
        assert "deletionVector" not in live[list(live)[0]]
        assert sorted(r.k for r in delta_scan(spark, path).collect()) == expect
        # time travel below the optimize reads the old (masked) layout
        assert sorted(
            r.k for r in delta_scan(spark, path, version=1).collect()
        ) == expect
        assert delta_scan(spark, path, version=0).count() == 80
        # the commit is dataChange=false throughout
        with open(os.path.join(path, "_delta_log", f"{2:020d}.json")) as f:
            for line in f.read().splitlines():
                a = _json.loads(line)
                for kind in ("add", "remove"):
                    if kind in a:
                        assert a[kind]["dataChange"] is False

    def test_stream_source_skips_optimize_commits(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch(spark.range(10).selectExpr("id AS k"), 0)
        src = DeltaStreamSource(spark, path)
        df, through = src.next_batch()
        assert df.count() == 10 and through == 0
        sink.commit_batch(spark.range(10, 15).selectExpr("id AS k"), 1)
        sink.optimize(2, target_files=1)
        # the incremental batch carries ONLY batch 1's rows — the
        # optimize commit neither refuses nor re-emits
        df2, through2 = src.next_batch()
        assert through2 == 2
        assert sorted(r.k for r in df2.collect()) == list(range(10, 15))
        assert src.next_batch() is None


def test_delete_where_on_partitioned_table(spark, tmp_path):
    # DV re-adds must preserve partitionValues so pruning keeps working
    from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path, partition_columns=["p"])
    df = spark.range(60).selectExpr("id AS k", "concat('p', id % 2) AS p")
    sink.commit_batch_distributed(df, 0)
    sink.delete_where("k % 3 = 0", 1)
    expect = sorted(k for k in range(60) if k % 3 != 0)
    assert sorted(r.k for r in delta_scan(spark, path).collect()) == expect
    # pruned read of one partition still masks its DV rows
    p0 = delta_scan(spark, path, partition_filter={"p": "p0"})
    assert sorted(r.k for r in p0.collect()) == [
        k for k in expect if k % 2 == 0
    ]


class TestR14Hardening:
    """r14: O(1)-plan DV scans, mutating-commit OCC conflict detection,
    writerFeatures checkpoint round-trip, DV-aware stream source."""

    def _table(self, spark, root, n_files, rows_per_file=20):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        sink = DeltaAppendSink(str(root))
        df = spark.range(n_files * rows_per_file).selectExpr(
            "id AS k", "id % 7 AS v"
        )
        sink.commit_batch_distributed(
            df.repartitionByRange(n_files, "k"), 0
        )
        return sink

    def test_dv_scan_plan_size_independent_of_dv_file_count(
        self, spark, tmp_path
    ):
        # the GDPR-sweep shape: delete_where touching EVERY file must
        # not create one plan branch per file — 4-file and 16-file
        # tables produce the SAME number of parquet scan nodes
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
        )

        def scan_nodes(n_files, name):
            sink = self._table(spark, tmp_path / name, n_files)
            sink.delete_where("k % 2 = 0", 1)  # touches every file
            df = delta_scan(spark, str(tmp_path / name))
            total = n_files * 20
            assert sorted(r.k for r in df.collect()) == [
                k for k in range(total) if k % 2 == 1
            ]
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Scan parquet")

        # 64 files covers the broad-GDPR-sweep shape (50+ DV files)
        assert scan_nodes(4, "t4") == scan_nodes(64, "t64")

    def test_mutating_commit_conflict_raises(self, spark, tmp_path):
        # two writers race a delete_where: the loser must NOT re-commit
        # its stale removes/DV union against the moved head
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.streaming.delta import (
            ConcurrentWriteError,
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink_a = self._table(spark, tmp_path / "tbl", 4)
        sink_b = DeltaAppendSink(path)
        snap = sink_a._replay_state(0)
        rel = sorted(snap["live"])[0]
        # B lands a delete that rewrites rel's DV while A holds v0 state
        sink_b.spark = spark
        sink_b.delete_where("k % 3 = 0", 100)
        with _pytest.raises(ConcurrentWriteError, match="concurrent update"):
            sink_a._commit_actions(
                None,
                200,
                adds=[],
                removes=[rel],
                expected_files={rel: snap["live"][rel]},
                snapshot_version=0,
            )

    def test_nonconflicting_append_does_not_block_mutation(
        self, spark, tmp_path
    ):
        # an append between snapshot and publish moves the head but
        # touches none of the mutated files: the commit proceeds
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
        )

        sink = self._table(spark, tmp_path / "tbl", 4)
        snap = sink._replay_state(0)
        rel = sorted(snap["live"])[0]
        extra = spark.range(1000, 1010).selectExpr("id AS k", "id % 7 AS v")
        sink.commit_batch_distributed(extra, 1)  # head moves to v1
        v = sink._commit_actions(
            None,
            2,
            adds=[],
            removes=[rel],
            expected_files={rel: snap["live"][rel]},
            snapshot_version=0,
        )
        assert v == 2
        assert rel not in sink.live_files()
        assert delta_scan(spark, str(tmp_path / "tbl")).count() > 0

    def test_writer_features_survive_checkpoint_and_clean_log(
        self, spark, tmp_path
    ):
        # after clean_log the checkpoint is the ONLY protocol record:
        # minWriterVersion=7 without writerFeatures is spec-invalid
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            replay_delta_dir,
        )

        sink = self._table(spark, tmp_path / "tbl", 4)
        sink.delete_where("k % 3 = 0", 1)  # upgrades protocol to 3/7
        head = sink.head_version()
        sink.write_checkpoint(head)
        assert sink.clean_log()
        proto = replay_delta_dir(str(tmp_path / "tbl"))["protocol"]
        assert proto["minReaderVersion"] == 3
        assert proto["minWriterVersion"] == 7
        assert "deletionVectors" in proto["readerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]

    def test_stream_source_applies_dvs_on_readded_files(
        self, spark, tmp_path
    ):
        # ignore_changes re-emits delete_where's re-added files: the
        # DELETED rows must not flow downstream (they carry a DV); two
        # delete commits in one batch window emit each file ONCE with
        # the newest (union) DV
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaStreamSource,
        )

        sink = self._table(spark, tmp_path / "tbl", 4)
        src = DeltaStreamSource(
            spark, str(tmp_path / "tbl"), ignore_changes=True
        )
        df, through = src.next_batch()
        assert df.count() == 80 and through == 0
        sink.delete_where("k % 3 = 0", 1)
        sink.delete_where("k % 5 = 0", 2)
        df, through = src.next_batch()
        assert through == 2
        got = sorted(r.k for r in df.collect())
        assert got == [
            k for k in range(80) if k % 3 != 0 and k % 5 != 0
        ]
        assert src.next_batch() is None

    def test_dv_offset_is_optional_in_the_descriptor(self, tmp_path):
        # spec: offset may be absent — data then starts right after the
        # 1-byte format version
        import os
        import uuid

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            _dv_positions,
        )
        from flink_gmall2024_realtime_spark.operators.roaring import (
            build_dv_file,
            serialize_roaring_bitmap_array,
            z85_encode,
        )

        data = serialize_roaring_bitmap_array([1, 3, 5, 70000])
        blob, offsets = build_dv_file([data])
        assert offsets[0] == 1
        uid = uuid.uuid4()
        with open(tmp_path / f"deletion_vector_{uid}.bin", "wb") as f:
            f.write(blob)

        def fetch(rel):
            with open(os.path.join(tmp_path, rel), "rb") as f:
                return f.read()

        dv = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(uid.bytes),
            "sizeInBytes": len(data),
            "cardinality": 4,
        }
        assert _dv_positions(dv, fetch) == [1, 3, 5, 70000]
        assert _dv_positions({**dv, "offset": None}, fetch) == [
            1, 3, 5, 70000,
        ]


def test_delete_where_never_collects_positions_as_rows(
    spark, tmp_path, monkeypatch
):
    # r14: DV construction is distributed — with 1M matched rows, every
    # driver-side collect during delete_where returns at most one row
    # per touched FILE (the serialized bitmaps), never the positions
    import pyspark.sql.classic.dataframe as _D

    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        replay_delta_dir,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    n_files, total = 8, 2_000_000
    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path)
    df = spark.range(total).selectExpr("id AS k")
    sink.commit_batch_distributed(df.repartitionByRange(n_files, "k"), 0)

    orig = _D.DataFrame.collect
    sizes = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_D.DataFrame, "collect", spy)
    sink.delete_where("k % 2 = 0", 1)  # 1M matched rows
    monkeypatch.undo()
    assert sizes and max(sizes) <= n_files
    assert delta_scan(spark, path).count() == total // 2
    # the written DVs carry the full cardinality
    live = replay_delta_dir(path)["live"]
    assert sum(
        (a.get("deletionVector") or {}).get("cardinality", 0)
        for a in live.values()
    ) == total // 2


def test_optimize_on_partitioned_table_e2e(spark, tmp_path):
    # r14: per-partition bin-pack — same state-invariance oracle as the
    # unpartitioned OPTIMIZE, plus partitionValues survive and the
    # partitioned stream source skips the dataChange=false commit
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        read_delta_snapshot_dir,
        replay_delta_dir,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import (
        DeltaAppendSink,
        DeltaStreamSource,
    )

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path, partition_columns=["p"])
    # pin the file layout (4 range tasks x 3 partition values = 12 files
    # of ~5 rows): every file is PARTIALLY deleted, so delete_where
    # re-adds each with a DV instead of removing it outright
    df = (
        spark.range(60)
        .selectExpr("id AS k", "concat('p', id % 3) AS p")
        .repartitionByRange(4, "k")
    )
    sink.commit_batch_distributed(df, 0)
    src = DeltaStreamSource(spark, path, ignore_changes=True)
    b0, _ = src.next_batch()
    assert b0.count() == 60
    sink.delete_where("k % 4 = 0", 1)
    assert sink.optimize(2, target_files=2) == 2
    want = [k for k in range(60) if k % 4 != 0]
    live = replay_delta_dir(path)["live"]
    assert all("compact-" in rel for rel in live)
    assert {
        tuple(sorted((a.get("partitionValues") or {}).items()))
        for a in live.values()
    } == {(("p", "p0"),), (("p", "p1"),), (("p", "p2"),)}
    assert not any(a.get("deletionVector") for a in live.values())
    assert sorted(r.k for r in delta_scan(spark, path).collect()) == want
    # partition pruning still lands post-compaction
    p1 = delta_scan(spark, path, partition_filter={"p": "p1"})
    assert sorted(r.k for r in p1.collect()) == [k for k in want if k % 3 == 1]
    # the audit twin agrees
    assert read_delta_snapshot_dir(path)["n_rows"] == len(want)
    # stream source: DV-masked re-adds flow once, optimize commit skipped
    b1, through = src.next_batch()
    assert through == 2
    assert sorted(r.k for r in b1.collect()) == want
    assert src.next_batch() is None
    # replay is a no-op
    assert sink.optimize(2, target_files=2) is None


class TestRebucket:
    """r14 (VERDICT r13 #8): BucketedDeltaKeyedStore.rebucket — the
    exit for a store that outgrew its bucket count."""

    def _store(self, spark, tmp_path, n_buckets=4):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        path = str(tmp_path / "store")
        store = BucketedDeltaKeyedStore(
            spark, path, key="k", order_col="o", n_buckets=n_buckets
        )
        store.commit_batch(
            spark.range(100).selectExpr("id AS k", "id AS v", "0L AS o"), 0
        )
        store.commit_batch(
            spark.range(50).selectExpr("id AS k", "id + 1000 AS v", "1L AS o"),
            1,
        )
        return path, store

    def _state(self, store, v=None):
        df = store.read_as_of(
            store.head_version() if v is None else v
        )
        return sorted((r.k, r.v) for r in df.collect())

    def test_state_equivalence_and_time_travel(self, spark, tmp_path):
        _path, store = self._store(spark, tmp_path)
        before = self._state(store)
        assert store.rebucket(16, 2) == 2
        assert self._state(store) == before  # state invariant
        assert self._state(store, 1) == before  # time travel intact
        assert len(store.live_files()) == 16
        assert store.rebucket(16, 2) is None  # replay no-op

    def test_back_to_o1_bucket_after(self, spark, tmp_path):
        _path, store = self._store(spark, tmp_path)
        store.rebucket(16, 2)
        store.commit_batch(
            spark.range(7, 8).selectExpr(
                "id AS k", "id + 9999 AS v", "2L AS o"
            ),
            3,
        )
        new = [r for r in store.live_files() if "b0000000003" in r]
        assert len(new) == 1  # one touched bucket, one rewritten file

    def test_new_instance_adopts_table_bucket_count(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        path, store = self._store(spark, tmp_path)
        before = self._state(store)
        store.rebucket(16, 2)
        # constructed with the STALE count: the table is authoritative
        fresh = BucketedDeltaKeyedStore(
            spark, path, key="k", order_col="o", n_buckets=4
        )
        fresh.commit_batch(
            spark.range(8, 9).selectExpr(
                "id AS k", "id + 777 AS v", "3L AS o"
            ),
            3,
        )
        assert fresh.n_buckets == 16
        want = sorted(
            [(k, v) for k, v in before if k != 8] + [(8, 8 + 777)]
        )
        assert self._state(fresh) == want

    def test_rebucket_survives_checkpoint_and_clean_log(
        self, spark, tmp_path
    ):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            BucketedDeltaKeyedStore,
        )

        path, store = self._store(spark, tmp_path)
        before = self._state(store)
        store.rebucket(8, 2)
        store.write_checkpoint(store.head_version())
        assert store.clean_log()
        fresh = BucketedDeltaKeyedStore(
            spark, path, key="k", order_col="o", n_buckets=4
        )
        # the nBuckets config rode the checkpoint's metaData row
        assert fresh._table_n_buckets() == 8
        assert self._state(fresh) == before
        # replay of the rebucket batch over the cleaned log still skips
        assert fresh.rebucket(8, 2) is None


class TestRestoreAndAbsDV:
    """r14: RESTORE TABLE ... TO VERSION AS OF, and absolute-path ('p')
    deletion vectors."""

    def test_restore_rolls_back_deletes_and_appends(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(40).selectExpr("id AS k").repartitionByRange(4, "k"),
            0,
        )
        sink.commit_batch_distributed(
            spark.range(100, 110).selectExpr("id AS k"), 1
        )
        sink.delete_where("k % 2 = 0", 2)
        assert sink.restore(1, 3) == 3
        got = sorted(r.k for r in delta_scan(spark, path).collect())
        assert got == list(range(40)) + list(range(100, 110))
        # history intact on BOTH sides of the restore
        assert delta_scan(spark, path, version=2).count() == 25
        assert delta_scan(spark, path, version=0).count() == 40
        assert sink.restore(1, 3) is None  # replay
        # restore further down removes the v1 append too
        sink.restore(0, 4)
        assert sorted(
            r.k for r in delta_scan(spark, path).collect()
        ) == list(range(40))

    def test_restore_refuses_vacuumed_targets(self, spark, tmp_path):
        import os

        import pytest as _pytest

        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(spark.range(10).selectExpr("id AS k"), 0)
        v0_files = sink.live_files()
        sink.optimize(1)
        sink.vacuum_orphans(retention_seconds=0)
        assert not os.path.exists(os.path.join(path, v0_files[0]))
        with _pytest.raises(ValueError, match="vacuumed"):
            sink.restore(0, 2)

    def test_absolute_path_deletion_vectors(self, spark, tmp_path):
        import json as _json
        import os
        import uuid as _uuid

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            read_delta_snapshot_dir,
        )
        from flink_gmall2024_realtime_spark.operators.roaring import (
            z85_decode,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(30).selectExpr("id AS k").repartitionByRange(2, "k"),
            0,
        )
        sink.delete_where("k % 5 = 0", 1)  # DISTINCT masks per file
        # rewrite the commit to the spec's 'p' storage (absolute path),
        # offsets preserved
        log1 = os.path.join(path, "_delta_log", f"{1:020d}.json")
        out = []
        for line in open(log1).read().splitlines():
            a = _json.loads(line)
            dv = (a.get("add") or {}).get("deletionVector")
            if dv:
                uid = _uuid.UUID(bytes=z85_decode(dv["pathOrInlineDv"][-20:]))
                dv["storageType"] = "p"
                dv["pathOrInlineDv"] = os.path.join(
                    path, f"deletion_vector_{uid}.bin"
                )
            out.append(_json.dumps(a))
        open(log1, "w").write("\n".join(out) + "\n")
        want = [k for k in range(30) if k % 5 != 0]
        assert sorted(
            r.k for r in delta_scan(spark, path).collect()
        ) == want
        # the audit reader resolves 'p' too (absolute joins win)
        assert read_delta_snapshot_dir(path)["n_rows"] == len(want)


def test_delete_where_partition_predicates(spark, tmp_path):
    # r14: predicates over PARTITION columns (the delete-by-date GDPR
    # shape) — the columns re-attach from the log's partitionValues via
    # a broadcast file-name join before evaluation
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_scan,
        replay_delta_dir,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path, partition_columns=["p"])
    df = (
        spark.range(60)
        .selectExpr("id AS k", "concat('p', id % 3) AS p")
        .repartitionByRange(4, "k")
    )
    sink.commit_batch_distributed(df, 0)
    sink.delete_where("p = 'p1'", 1)
    want = [k for k in range(60) if k % 3 != 1]
    assert sorted(r.k for r in delta_scan(spark, path).collect()) == want
    # whole-partition delete removes its files outright — no DVs written
    live = replay_delta_dir(path)["live"]
    assert not any(a.get("deletionVector") for a in live.values())
    assert all(
        (a.get("partitionValues") or {}).get("p") != "p1"
        for a in live.values()
    )
    # a mixed data+partition predicate composes
    sink.delete_where("p = 'p0' AND k < 30", 2)
    want2 = [k for k in want if not (k % 3 == 0 and k < 30)]
    assert sorted(r.k for r in delta_scan(spark, path).collect()) == want2


class TestTableChanges:
    """r14: CHANGE DATA FEED from the log alone — inserts from
    dataChange adds, deletes from DV diffs and file removals;
    dataChange=false commits invisible; MERGE rewrites refuse."""

    def _changes(self, spark, path, start, end=None):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_table_changes,
        )

        df = delta_table_changes(spark, path, start, end)
        return sorted(
            (r.k, r._change_type, r._commit_version) for r in df.collect()
        )

    def test_insert_delete_restore_feed(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(20).selectExpr("id AS k").repartitionByRange(2, "k"),
            0,
        )
        sink.commit_batch_distributed(
            spark.range(100, 105).selectExpr("id AS k"), 1
        )
        sink.delete_where("k % 3 = 0", 2)
        want = sorted(
            [(k, "insert", 0) for k in range(20)]
            + [(k, "insert", 1) for k in range(100, 105)]
            + [
                (k, "delete", 2)
                for k in list(range(20)) + list(range(100, 105))
                if k % 3 == 0
            ]
        )
        assert self._changes(spark, path, 0) == want
        # a sub-range sees only its own commits
        assert self._changes(spark, path, 2, 2) == [
            t for t in want if t[2] == 2
        ]
        # a second delete produces ONLY the newly-masked rows
        sink.delete_where("k % 2 = 0", 3)
        only_new = [
            (k, "delete", 3)
            for k in list(range(20)) + list(range(100, 105))
            if k % 2 == 0 and k % 3 != 0
        ]
        assert self._changes(spark, path, 3, 3) == sorted(only_new)

    def test_optimize_is_invisible_and_merge_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_table_changes,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(20).selectExpr("id AS k").repartitionByRange(2, "k"),
            0,
        )
        sink.delete_where("k % 3 = 0", 1)
        v = sink.optimize(2)
        assert self._changes(spark, path, v, v) == []
        # a rewrite commit (remove+add different paths, dataChange=true)
        # cannot be attributed row-wise
        sink.commit_batch_distributed(
            spark.range(200, 205).selectExpr("id AS k"), 3
        )
        head = sink.head_version()
        removes = sink.live_files()
        # hand-craft a MERGE-shaped commit: remove one live file, add a
        # fresh one, both dataChange=true
        import json as _json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        buf_path = os.path.join(path, "part-handmade.parquet")
        pq.write_table(
            pa.table({"k": pa.array([999], type=pa.int64())}), buf_path
        )
        lines = [
            _json.dumps(
                {"txn": {"appId": "x", "version": 99, "lastUpdated": 0}}
            ),
            _json.dumps({"commitInfo": {"operation": "MERGE"}}),
            _json.dumps(
                {
                    "remove": {
                        "path": removes[0],
                        "deletionTimestamp": 0,
                        "dataChange": True,
                    }
                }
            ),
            _json.dumps(
                {
                    "add": {
                        "path": "part-handmade.parquet",
                        "size": os.path.getsize(buf_path),
                        "partitionValues": {},
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            ),
        ]
        with open(
            os.path.join(path, "_delta_log", f"{head + 1:020d}.json"), "w"
        ) as f:
            f.write("\n".join(lines) + "\n")
        with _pytest.raises(NotImplementedError, match="_change_data"):
            delta_table_changes(spark, path, head + 1, head + 1).collect()

    def test_optimize_advances_state_for_later_restore(self, spark, tmp_path):
        """ADVICE r14: dataChange=false removes (OPTIMIZE) must advance
        the incremental live state — before the fix, a restore() after
        an in-range optimize was misread as an unchanged live re-add and
        the feed silently reported the table emptied (deletes with no
        matching inserts). Now the restore commit is recognized as a
        rewrite shape and refuses LOUDLY, and ranges ending at the
        optimize itself stay exactly the pre-optimize feed."""
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_table_changes,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.commit_batch_distributed(
            spark.range(10).selectExpr("id AS k").repartitionByRange(2, "k"),
            0,
        )
        sink.commit_batch_distributed(
            spark.range(100, 105).selectExpr("id AS k"), 1
        )
        sink.optimize(2)
        sink.restore(1, 3)
        # through the optimize: inserts only, optimize invisible
        assert self._changes(spark, path, 0, 2) == sorted(
            [(k, "insert", 0) for k in range(10)]
            + [(k, "insert", 1) for k in range(100, 105)]
        )
        # across optimize+restore: a rewrite shape — loud, never a
        # silent "everything deleted" feed
        with _pytest.raises(NotImplementedError, match="rewrites rows"):
            delta_table_changes(spark, path, 0, 3).collect()
        with _pytest.raises(NotImplementedError, match="rewrites rows"):
            delta_table_changes(spark, path, 3, 3).collect()

    def test_cdf_plan_size_constant(self, spark, tmp_path):
        # one grouped scan per change kind regardless of file/version
        # count
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_table_changes,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        def scans(n_batches, name):
            path = str(tmp_path / name)
            sink = DeltaAppendSink(path)
            for b in range(n_batches):
                sink.commit_batch_distributed(
                    spark.range(b * 10, b * 10 + 10)
                    .selectExpr("id AS k")
                    .repartitionByRange(2, "k"),
                    b,
                )
            sink.delete_where("k % 3 = 0", n_batches)
            df = delta_table_changes(spark, path, 0)
            assert df.count() == n_batches * 10 + sum(
                1 for k in range(n_batches * 10) if k % 3 == 0
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Scan parquet")

        assert scans(2, "t2") == scans(8, "t8")


def test_table_changes_reads_cdc_actions(spark, tmp_path):
    # r14: a commit carrying cdc actions (delta-spark's _change_data
    # files from a CDF-enabled MERGE) is read AS WRITTEN — the cdc rows
    # are authoritative and the commit's add/remove pairs are ignored
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_table_changes,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path)
    sink.commit_batch_distributed(
        spark.range(10).selectExpr("id AS k").repartitionByRange(2, "k"), 0
    )
    live = sink.live_files()
    # a MERGE-shaped commit WITH its _change_data file: k=3 updated 3->33
    new_rel = "part-merge.parquet"
    pq.write_table(
        pa.table({"k": pa.array([33] + list(range(5, 10)), pa.int64())}),
        os.path.join(path, new_rel),
    )
    cdc_rel = "_change_data/cdc-00000.parquet"
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([3, 33], pa.int64()),
                "_change_type": pa.array(
                    ["update_preimage", "update_postimage"]
                ),
            }
        ),
        os.path.join(path, cdc_rel),
    )
    lines = [
        _json.dumps({"txn": {"appId": "m", "version": 1, "lastUpdated": 0}}),
        _json.dumps({"commitInfo": {"operation": "MERGE"}}),
        _json.dumps(
            {
                "remove": {
                    "path": live[-1],
                    "deletionTimestamp": 0,
                    "dataChange": True,
                }
            }
        ),
        _json.dumps(
            {
                "add": {
                    "path": new_rel,
                    "size": os.path.getsize(os.path.join(path, new_rel)),
                    "partitionValues": {},
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ),
        _json.dumps(
            {
                "cdc": {
                    "path": cdc_rel,
                    "size": os.path.getsize(os.path.join(path, cdc_rel)),
                    "partitionValues": {},
                    "dataChange": False,
                }
            }
        ),
    ]
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    got = sorted(
        (r.k, r._change_type, r._commit_version)
        for r in delta_table_changes(spark, path, 1, 1).collect()
    )
    assert got == [(3, "update_preimage", 1), (33, "update_postimage", 1)]
    # the full range composes the v0 inserts with the cdc commit
    full = delta_table_changes(spark, path, 0)
    assert full.count() == 12


def test_keyed_store_change_data_feed(spark, tmp_path):
    # r14: CDF on WRITE — the MERGE store emits _change_data parquet +
    # cdc actions, which delta_table_changes reads as authoritative
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_table_changes,
        replay_delta_dir,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaKeyedStore

    path = str(tmp_path / "store")
    store = DeltaKeyedStore(
        spark, path, "k", "ord", type_col="op", change_data_feed=True
    )
    b0 = spark.range(5).selectExpr("id AS k", "id AS v", "0L AS ord", "'u' AS op")
    store.commit_batch(b0, 0)
    b1 = spark.createDataFrame(
        [(1, 111, 1, "u"), (7, 77, 1, "u"), (3, None, 1, "delete")],
        "k long, v long, ord long, op string",
    )
    store.commit_batch(b1, 1)
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in delta_table_changes(spark, path, 0).collect()
    )
    want = sorted(
        [(k, k, "insert", 0) for k in range(5)]
        + [
            (1, 1, "update_preimage", 1),
            (1, 111, "update_postimage", 1),
            (7, 77, "insert", 1),
            (3, 3, "delete", 1),
        ]
    )
    assert got == want
    # the table property rides the CREATE commit like real Delta
    md = replay_delta_dir(path)["metadata"]
    assert md["configuration"]["delta.enableChangeDataFeed"] == "true"
    # evolution keeps it
    b2 = spark.createDataFrame(
        [(9, 9, 2, "u", "x")], "k long, v long, ord long, op string, extra string"
    )
    store.schema_evolution = True
    store.commit_batch(b2, 2)
    md2 = replay_delta_dir(path)["metadata"]
    assert md2["configuration"]["delta.enableChangeDataFeed"] == "true"
    # replay of a CDF commit never duplicates change rows
    assert store.commit_batch(b1, 1) is None
    n = delta_table_changes(spark, path, 0).count()
    store.commit_batch(b1, 1)
    assert delta_table_changes(spark, path, 0).count() == n


class TestTableProperties:
    """r14: writer-side enforcement of delta.constraints.* CHECK
    expressions and delta.appendOnly."""

    def test_check_constraints_enforced(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.table_configuration["delta.constraints.k_nonneg"] = "k >= 0"
        sink.commit_batch_distributed(
            spark.range(10).selectExpr("id AS k"), 0
        )
        # a later writer instance picks the constraint up FROM THE TABLE
        fresh = DeltaAppendSink(path)
        with _pytest.raises(ValueError, match="k_nonneg"):
            fresh.commit_batch_distributed(
                spark.range(-3, 3).selectExpr("id AS k"), 1
            )
        fresh.commit_batch_distributed(
            spark.range(20, 25).selectExpr("id AS k"), 2
        )
        assert len(fresh.live_files()) > 1

    def test_append_only_forbids_data_removes(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = DeltaAppendSink(path)
        sink.table_configuration["delta.appendOnly"] = "true"
        sink.commit_batch_distributed(
            spark.range(20).selectExpr("id AS k").repartitionByRange(2, "k"),
            0,
        )
        with _pytest.raises(ValueError, match="appendOnly"):
            sink.delete_where("k % 2 = 0", 1)
        sink.commit_batch_distributed(
            spark.range(100, 105).selectExpr("id AS k"), 2
        )
        with _pytest.raises(ValueError, match="appendOnly"):
            sink.restore(0, 3)  # would remove the batch-2 files
        # compaction (dataChange=false removes) stays legal
        assert sink.optimize(4) is not None


def test_table_changes_across_delete_then_optimize(spark, tmp_path):
    # r14: a range spanning [delete_where, OPTIMIZE] — the compaction
    # removes the masked files from the end state, but the delete's
    # change rows must still resolve (metadata captured at diff time)
    from flink_gmall2024_realtime_spark.operators.deltalog import (
        delta_table_changes,
    )
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path)
    sink.commit_batch_distributed(
        spark.range(20).selectExpr("id AS k").repartitionByRange(2, "k"), 0
    )
    sink.delete_where("k % 3 = 0", 1)
    sink.optimize(2)
    got = sorted(
        (r.k, r._change_type, r._commit_version)
        for r in delta_table_changes(spark, path, 0).collect()
    )
    want = sorted(
        [(k, "insert", 0) for k in range(20)]
        + [(k, "delete", 1) for k in range(20) if k % 3 == 0]
    )
    assert got == want


def test_writer_protocol_gate(spark, tmp_path):
    # r14: the spec's writer gate — unknown writerFeatures refuse by
    # name; schema-declared generated columns refuse even on legacy
    # writer versions; tables using only honored features keep writing
    import json as _json
    import os

    import pytest as _pytest

    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path)
    sink.commit_batch_distributed(spark.range(5).selectExpr("id AS k"), 0)

    def rewrite_v0(edit):
        log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
        out = []
        for line in open(log0).read().splitlines():
            a = _json.loads(line)
            edit(a)
            out.append(_json.dumps(a))
        open(log0, "w").write("\n".join(out) + "\n")

    def set_proto(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["rowTracking"],
            }

    rewrite_v0(set_proto)
    fresh = DeltaAppendSink(path)
    with _pytest.raises(NotImplementedError, match="rowTracking"):
        fresh.commit_batch_distributed(
            spark.range(5, 9).selectExpr("id AS k"), 1
        )

    def honored(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["appendOnly", "checkConstraints"],
            }

    rewrite_v0(honored)
    assert DeltaAppendSink(path).commit_batch_distributed(
        spark.range(5, 9).selectExpr("id AS k"), 1
    ) == 1

    def generated_col(a):
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 4}
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"] = {
                "delta.generationExpression": "k + 1"
            }
            a["metaData"]["schemaString"] = _json.dumps(sch)

    rewrite_v0(generated_col)
    with _pytest.raises(NotImplementedError, match="generated column"):
        DeltaAppendSink(path).commit_batch_distributed(
            spark.range(9, 12).selectExpr("id AS k"), 2
        )


def test_scan_read_schema_comes_from_the_log_not_inference(spark, tmp_path):
    """r15: delta_scan reads with an explicit schema built from the log's
    schemaString (physical names) — no mergeSchema footer inference. The
    result dtypes must follow the log's declared types, and files that
    predate an added column must still return typed nulls (the property
    inference used to provide)."""
    from flink_gmall2024_realtime_spark.operators.deltalog import delta_scan
    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    path = str(tmp_path / "tbl")
    sink = DeltaAppendSink(path, schema_evolution=True)
    sink.commit_batch(
        spark.createDataFrame([(1, "a", 2.5)], "k long, v string, x double"), 0
    )
    sink.commit_batch(
        spark.createDataFrame(
            [(2, "b", 1.5, 7)], "k long, v string, x double, n int"
        ),
        1,
    )
    df = delta_scan(spark, path)
    assert dict(df.dtypes) == {
        "k": "bigint", "v": "string", "x": "double", "n": "int"
    }
    rows = {r["k"]: (r["v"], r["x"], r["n"]) for r in df.collect()}
    assert rows == {1: ("a", 2.5, None), 2: ("b", 1.5, 7)}


def _replay_outcome(replay, version):
    """(sorted live paths) or ('raises', message) of one replay."""
    try:
        return sorted(replay(version)["live"])
    except ValueError as e:
        return ("raises", str(e))


@pytest.mark.parametrize(
    "fixture,seed",
    [
        ("synth_delta_checkpointed", 2),  # full JSON, two-part checkpoint
        ("synth_delta_checkpointed", 3),  # JSON <= 10 pruned
        ("synth_delta_checkpointed", 4),  # full JSON, single-part
        ("synth_delta_checkpointed", 5),
        ("synth_delta_v2checkpoint", 0),  # sidecars, full JSON
        ("synth_delta_v2checkpoint", 1),  # sidecars, JSON pruned
        ("synth_delta_dv", 0),
        ("synth_delta_dv", 1),
    ],
)
def test_dir_replay_matches_zip_replay(tmp_path, fixture, seed):
    """The same table as a ZIP payload and extracted to a directory
    replays to the same live files at every version, and both refuse the
    same versions (a pruned JSON prefix below the checkpoint)."""
    from flink_gmall2024_realtime_spark.operators import deltalog

    payload = getattr(deltalog, fixture)(seed)
    root = tmp_path / "tbl"
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        z.extractall(root)
    head = deltalog.replay_delta_dir(str(root))["version"]
    assert head == deltalog._replay(deltalog._zip_reader(payload))["version"]
    readable = 0
    for v in range(head + 1):
        from_zip = _replay_outcome(
            lambda ver: deltalog._replay(deltalog._zip_reader(payload), ver), v
        )
        from_dir = _replay_outcome(
            lambda ver: deltalog.replay_delta_dir(str(root), ver), v
        )
        assert from_dir == from_zip, v
        if from_zip[0] == "raises":
            assert "precedes checkpoint" in from_zip[1]
            continue
        readable += 1
        assert deltalog.read_delta_snapshot_dir(str(root), v) == (
            deltalog.read_delta_snapshot(payload, v)
        )
    # odd seeds of the checkpointed fixtures prune the JSON <= 10: they
    # read only from the checkpoint at version 10 on
    pruned = fixture != "synth_delta_dv" and seed % 2 == 1
    assert readable == (head - 9 if pruned else head + 1)


def test_restore_from_a_checkpoint_writes_complete_add_actions(tmp_path):
    """A restore whose target version is served by a checkpoint re-adds
    files from checkpoint rows, which carry no ``modificationTime``; the
    re-add must still carry every field the protocol requires."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_gmall2024_realtime_spark.streaming.delta import DeltaAppendSink

    sink = DeltaAppendSink(str(tmp_path / "t"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}
    ]}
    with open(sink._commit_path(0), "w") as f:
        f.write(json.dumps(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        ) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {},
        }}) + "\n")
    pq.write_table(pa.table({"k": [1]}), os.path.join(sink.path, "f1.parquet"))
    sink._commit_actions(None, 1, [sink._add_action("f1.parquet", 1)])
    sink.write_checkpoint(1)
    assert sink.clean_log() == [0, 1]
    sink._commit_actions(None, 2, [], removes=["f1.parquet"])
    v = sink.restore(1, 3)
    with open(sink._commit_path(v)) as f:
        adds = [json.loads(line)["add"] for line in f if '"add"' in line]
    assert [a["path"] for a in adds] == ["f1.parquet"]
    assert {"path", "partitionValues", "size", "modificationTime",
            "dataChange"} <= set(adds[0])
    assert adds[0]["dataChange"] is True
    assert sink.live_files() == ["f1.parquet"]


def _count_calls(monkeypatch, module, name) -> list:
    """Wrap ``module.name`` so every call is recorded, and return the log."""
    calls: list = []
    real = getattr(module, name)

    def counted(*args, **kw):
        calls.append(args)
        return real(*args, **kw)

    monkeypatch.setattr(module, name, counted)
    return calls


@pytest.mark.parametrize("kind", ["append", "keyed", "bucketed"])
def test_each_delta_write_replays_its_log_once(spark, tmp_path, monkeypatch, kind):
    """A write reads its table once: on a 6-version table with no
    checkpoint an uncontended commit replays the log exactly once, and a
    replayed batch id replays once and writes no data file."""
    from flink_gmall2024_realtime_spark.operators import deltalog
    from flink_gmall2024_realtime_spark.streaming.delta import (
        BucketedDeltaKeyedStore,
        DeltaAppendSink,
        DeltaKeyedStore,
    )

    path = str(tmp_path / kind)
    if kind == "append":
        sink = DeltaAppendSink(path)
    elif kind == "keyed":
        sink = DeltaKeyedStore(spark, path, key="k", order_col="o")
    else:
        sink = BucketedDeltaKeyedStore(
            spark, path, key="k", order_col="o", n_buckets=4
        )

    def batch(b):
        return spark.range(3 * b, 3 * b + 3).selectExpr(
            "id AS k", "id * 10 AS v", f"{b}L AS o"
        )

    for b in range(6):
        sink.commit_batch(batch(b), b)
    assert sink.committed_versions() == list(range(6))
    assert sink.checkpoint_versions() == []
    replays = _count_calls(monkeypatch, deltalog, "_replay")
    assert sink.commit_batch(batch(6), 6) == 6
    assert len(replays) == 1

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), path)
            for d, _dirs, fns in os.walk(path)
            for f in fns
        )

    before = files()
    replays.clear()
    assert sink.commit_batch(batch(3), 3) is None
    assert len(replays) == 1
    assert files() == before


_RACE_SCHEMA = "k long, v long, ord long"


def _bucketed_race(spark, path, n_buckets, setup, mine_rows, other_rows):
    """``mine`` reads its snapshot and writes its buckets; ``other``
    commits ``other_rows`` before ``mine`` publishes. Returns (result or
    the raised error, other)."""
    from flink_gmall2024_realtime_spark.streaming.delta import (
        BucketedDeltaKeyedStore,
    )

    def store():
        return BucketedDeltaKeyedStore(
            spark, path, key="k", order_col="ord", n_buckets=n_buckets
        )

    mine, other = store(), store()
    setup(mine)
    real = mine._commit_actions

    def lose(*args, **kw):
        other.commit_batch(spark.createDataFrame(other_rows, _RACE_SCHEMA), 7)
        return real(*args, **kw)

    mine._commit_actions = lose
    try:
        got = mine.commit_batch(spark.createDataFrame(mine_rows, _RACE_SCHEMA), 1)
    except Exception as e:  # noqa: BLE001 — the caller asserts the type
        got = e
    return got, other


def _bucket_of_keys(spark, keys, n_buckets):
    from pyspark.sql import functions as F

    return {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .select("k", F.pmod(F.xxhash64("k"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    }


def test_bucketed_store_merge_that_loses_its_bucket_fails_loudly(spark, tmp_path):
    """A bucketed merge that another writer's commit to the SAME bucket
    overtook raises ``ConcurrentWriteError`` instead of publishing a
    second live file for that bucket (duplicate keys)."""
    from flink_gmall2024_realtime_spark.streaming.delta import (
        ConcurrentWriteError,
    )

    first = [(1, 10, 1), (2, 20, 1), (3, 30, 1)]
    got, other = _bucketed_race(
        spark,
        str(tmp_path / "one_bucket"),
        1,
        lambda s: s.commit_batch(spark.createDataFrame(first, _RACE_SCHEMA), 0),
        [(2, 21, 2), (4, 40, 2)],
        [(1, 11, 3), (3, 31, 3)],
    )
    assert isinstance(got, ConcurrentWriteError), got
    assert "concurrent update" in str(got)
    assert other.committed_versions() == [0, 1]
    assert len(other.live_files()) == 1
    rows = {r.k: r.v for r in other.read_latest().collect()}
    assert rows == {1: 11, 2: 20, 3: 31}


def test_bucketed_store_race_into_an_empty_bucket_fails_loudly(spark, tmp_path):
    """Two merges inserting into the same bucket, empty in both snapshots:
    the loser has no file there to lose, yet a second live file for the
    bucket would still duplicate keys."""
    from flink_gmall2024_realtime_spark.streaming.delta import (
        ConcurrentWriteError,
    )

    buckets = _bucket_of_keys(spark, range(40), 2)
    zero = [k for k in buckets if buckets[k] == 0]
    one = [k for k in buckets if buckets[k] == 1]
    got, other = _bucketed_race(
        spark,
        str(tmp_path / "empty_bucket"),
        2,
        lambda s: s.commit_batch(
            spark.createDataFrame([(zero[0], 0, 1)], _RACE_SCHEMA), 0
        ),
        [(one[0], 1, 2)],
        [(one[0], 2, 3), (one[1], 2, 3)],
    )
    assert isinstance(got, ConcurrentWriteError), got
    assert len(other.live_files()) == 2  # one per bucket
    rows = {r.k: r.v for r in other.read_latest().collect()}
    assert rows == {zero[0]: 0, one[0]: 2, one[1]: 2}


def test_bucketed_store_race_on_other_buckets_commits(spark, tmp_path):
    """Only the touched buckets must be unchanged: a concurrent commit to
    another bucket does not block the merge, and both land."""
    buckets = _bucket_of_keys(spark, range(40), 2)
    zero = [k for k in buckets if buckets[k] == 0]
    one = [k for k in buckets if buckets[k] == 1]
    got, other = _bucketed_race(
        spark,
        str(tmp_path / "other_bucket"),
        2,
        lambda s: s.commit_batch(
            spark.createDataFrame(
                [(zero[0], 0, 1), (one[0], 0, 1)], _RACE_SCHEMA
            ),
            0,
        ),
        [(zero[0], 5, 2), (zero[1], 5, 2)],
        [(one[0], 7, 3)],
    )
    assert got == 2
    assert len(other.live_files()) == 2
    rows = {r.k: r.v for r in other.read_latest().collect()}
    assert rows == {zero[0]: 5, zero[1]: 5, one[0]: 7}


def _all_nullable(dt):
    """``dt`` with every field, array element and map value nullable."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _all_nullable(f.dataType), True) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _all_nullable(dt.valueType), True)
    return dt


class TestSchemaCodec:
    """One Delta schema codec: the ``schemaString`` is Spark's own
    DataType JSON, so nested types are Delta columns."""

    def _zoo(self):
        from pyspark.sql import types as T

        prim = T.StructType(
            [
                T.StructField("l", T.LongType(), False),
                T.StructField("i", T.IntegerType()),
                T.StructField("sh", T.ShortType()),
                T.StructField("b", T.ByteType()),
                T.StructField("d", T.DoubleType()),
                T.StructField("f", T.FloatType()),
                T.StructField("s", T.StringType(), False),
                T.StructField("bo", T.BooleanType()),
                T.StructField("dt", T.DateType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("ntz", T.TimestampNTZType()),
                T.StructField("bin", T.BinaryType(), True, {"comment": "x"}),
            ]
        )
        nested = T.StructType(
            [
                T.StructField("dec", T.DecimalType(10, 2), False),
                T.StructField(
                    "st",
                    T.StructType(
                        [
                            T.StructField("t", T.TimestampNTZType(), False),
                            T.StructField("x", T.LongType()),
                        ]
                    ),
                ),
                T.StructField(
                    "arr",
                    T.ArrayType(
                        T.StructType(
                            [T.StructField("a", T.StringType(), False)]
                        ),
                        False,
                    ),
                ),
                T.StructField(
                    "m", T.MapType(T.StringType(), T.LongType(), False), False
                ),
            ]
        )
        return prim, nested

    def test_round_trip_over_a_type_zoo(self):
        from pyspark.sql import types as T

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            decode_schema,
            encode_schema,
        )

        prim, nested = self._zoo()
        for schema in (prim, nested, T.StructType([*prim, *nested])):
            data, ptypes = decode_schema(encode_schema(schema))
            assert data == _all_nullable(schema) and ptypes == {}
        # partition columns come back apart from the data fields
        data, ptypes = decode_schema(encode_schema(prim, ["s"]), ["s", "gone"])
        assert "s" not in data.names and ptypes == {"s": T.StringType()}

    def test_primitive_schema_string_is_unchanged(self):
        """The primitive schemaString is byte-identical to the one the
        writer emitted before the codec, so every table it wrote keeps
        its log bytes."""
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            encode_schema,
        )

        prim, _nested = self._zoo()
        types = [
            ("l", "long", "false"), ("i", "integer", "true"),
            ("sh", "short", "true"), ("b", "byte", "true"),
            ("d", "double", "true"), ("f", "float", "true"),
            ("s", "string", "false"), ("bo", "boolean", "true"),
            ("dt", "date", "true"), ("ts", "timestamp", "true"),
            ("ntz", "timestamp_ntz", "true"), ("bin", "binary", "true"),
        ]
        want = '{"type": "struct", "fields": [' + ", ".join(
            f'{{"name": "{n}", "type": "{t}", "nullable": {nl}, '
            '"metadata": {}}'
            for n, t, nl in types
        ) + "]}"
        assert encode_schema(prim) == want

    def test_codec_refusals(self):
        from pyspark.sql import types as T

        from flink_gmall2024_realtime_spark.operators.deltalog import (
            decode_schema,
            encode_schema,
        )

        _prim, nested = self._zoo()
        with pytest.raises(NotImplementedError, match="partition column 'st'"):
            encode_schema(nested, ["st"])
        with pytest.raises(NotImplementedError, match="partition column 'arr'"):
            decode_schema(encode_schema(nested), ["arr"])
        interval = T.StructType(
            [T.StructField("iv", T.ArrayType(T.DayTimeIntervalType()))]
        )
        with pytest.raises(NotImplementedError, match="field 'iv'"):
            encode_schema(interval)

    @pytest.mark.parametrize("mode", ["name", "id"])
    def test_nested_field_under_column_mapping_is_loud(self, mode):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            synth_delta_mapped,
        )

        def add_struct(members):
            log0 = "_delta_log/" + "0" * 20 + ".json"
            out = []
            for line in members[log0].decode().splitlines():
                a = json.loads(line)
                if "metaData" in a:
                    schema = json.loads(a["metaData"]["schemaString"])
                    schema["fields"].append(
                        {
                            "name": "s",
                            "type": {
                                "type": "struct",
                                "fields": [
                                    {"name": "a", "type": "long",
                                     "nullable": True, "metadata": {}}
                                ],
                            },
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.physicalName": "col-s",
                                "delta.columnMapping.id": 99,
                            },
                        }
                    )
                    a["metaData"]["schemaString"] = json.dumps(schema)
                out.append(json.dumps(a))
            members[log0] = "\n".join(out).encode()

        with pytest.raises(NotImplementedError, match="nested field 's'"):
            read_delta_snapshot(
                _rebuild(synth_delta_mapped(2, mode=mode), add_struct)
            )

    def test_nested_timestamp_ntz_needs_the_feature(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            replay_delta_dir,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        ntz = spark.sql(
            "SELECT 1L AS k, named_struct('t', "
            "TIMESTAMP_NTZ'2024-01-02 03:04:05') AS s"
        )
        path = str(tmp_path / "ntz")
        DeltaAppendSink(path).commit_batch(ntz, 0)
        proto = replay_delta_dir(path)["protocol"]
        assert proto == {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"],
        }
        assert delta_scan(spark, path).collect() == ntz.collect()
        # evolution into a v1 table: a nested timestamp_ntz needs the
        # feature the table lacks
        plain = str(tmp_path / "plain")
        sink = DeltaAppendSink(plain, schema_evolution=True)
        sink.commit_batch(spark.sql("SELECT 1L AS k"), 0)
        assert replay_delta_dir(plain)["protocol"] == {
            "minReaderVersion": 1, "minWriterVersion": 2,
        }
        with pytest.raises(NotImplementedError, match=r"\['s'\]"):
            sink.commit_batch(ntz, 1)

    def test_nested_type_change_is_loud_and_nullability_is_not(
        self, spark, tmp_path
    ):
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            replay_delta_dir,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        path = str(tmp_path / "t")
        sink = DeltaAppendSink(path, schema_evolution=True)
        sink.commit_batch(
            spark.createDataFrame([(1, (2, [3]))], "k long, s struct<a: long, b: array<long>>"),
            0,
        )
        # the same type with non-null leaves is the same column type
        sink.commit_batch(
            spark.createDataFrame(
                [(4, (5, [6]))],
                "k long, s struct<a: long not null, b: array<long> not null>",
            ),
            1,
        )
        with pytest.raises(ValueError, match=r"changes the type .*\['s'\]"):
            sink.commit_batch(
                spark.createDataFrame(
                    [(7, (8, ["9"]))], "k long, s struct<a: long, b: array<string>>"
                ),
                2,
            )
        # evolution appends a nested column at the top level
        sink.commit_batch(
            spark.createDataFrame(
                [(10, (11, [12]), {"x": 1})],
                "k long, s struct<a: long, b: array<long>>, m map<string, long>",
            ),
            3,
        )
        assert replay_delta_dir(path)["version"] == 2
        got = sorted(tuple(r) for r in delta_scan(spark, path).collect())
        assert got == [
            (1, (2, [3]), None), (4, (5, [6]), None), (10, (11, [12]), {"x": 1}),
        ]

    def test_dwd_page_branch_commits_and_reads_back(self, spark, tmp_path):
        """A DWD page-branch batch, with the reference's ``common`` and
        ``page`` structs, is a Delta table: it reads back equal through
        the snapshot scan, the stream source and the change feed, its
        stats stay flat, and a top-level stats filter still prunes."""
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            delta_table_changes,
            replay_delta_dir,
        )
        from flink_gmall2024_realtime_spark.streaming import pipelines
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
            DeltaStreamSource,
        )

        def page_batch(ts0):
            logs = [
                json.dumps(
                    {
                        "common": {"mid": f"m{i}", "is_new": str(i % 2),
                                   "ar": str(i % 3), "uid": str(i)},
                        "page": {"page_id": "home" if i % 2 else "good_detail",
                                 "during_time": 1000 + i,
                                 "last_page_id": None if i % 2 else "home"},
                        "ts": ts0 + i,
                    }
                )
                for i in range(6)
            ]
            raw = spark.createDataFrame([(x,) for x in logs], "value string")
            return pipelines.dwd_base_log_pipeline(raw)["page"]

        b0, b1 = page_batch(1000), page_batch(9000)
        assert {"common", "page"} <= set(b0.columns)
        path = str(tmp_path / "dwd_traffic_page")
        sink = DeltaAppendSink(path)
        sink.commit_batch(b0, 0)
        sink.commit_batch_distributed(b1.coalesce(1), 1)

        def rows(df):
            return sorted(
                tuple(r) for r in df.select(*b0.columns).collect()
            )

        want = rows(b0.unionByName(b1))
        assert len(want) == 12
        assert rows(delta_scan(spark, path)) == want
        src_df, through = DeltaStreamSource(spark, path).next_batch()
        assert through == 1 and rows(src_df) == want
        changes = delta_table_changes(spark, path, 0)
        assert {r[0] for r in changes.select("_change_type").collect()} == {
            "insert"
        }
        assert rows(changes) == want

        live = replay_delta_dir(path)["live"]
        assert len(live) == 2
        for add in live.values():
            stats = json.loads(add["stats"])
            for key in ("minValues", "maxValues", "nullCount"):
                assert not [k for k in stats.get(key, {}) if "." in k]
            assert "ts" in stats["minValues"]
        late = delta_scan(spark, path, stats_filter={"ts": (9000, None)})
        assert rows(late) == rows(b1)

    def test_decimal_and_nested_leaves_get_no_bounds(self, spark, tmp_path):
        """Decimals (a Spark file stores decimal(10,2) as INT64, an Arrow
        file as fixed-length bytes) and nested leaves carry no min/max;
        the other columns of the same file keep theirs."""
        from flink_gmall2024_realtime_spark.operators.deltalog import (
            delta_scan,
            replay_delta_dir,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            DeltaAppendSink,
        )

        df = spark.sql(
            "SELECT id AS k, CAST(id / 4 AS DECIMAL(10,2)) AS d, "
            "named_struct('a', id) AS s FROM range(8)"
        ).coalesce(1)
        path = str(tmp_path / "dec")
        sink = DeltaAppendSink(path)
        sink.commit_batch(df, 0)
        sink.commit_batch_distributed(df, 1)
        live = replay_delta_dir(path)["live"]
        assert len(live) == 2
        for add in live.values():
            stats = json.loads(add["stats"])
            assert stats["numRecords"] == 8
            assert set(stats["minValues"]) == {"k"}
            assert set(stats["maxValues"]) == {"k"}
            assert "." not in "".join(stats["nullCount"])
        got = sorted(tuple(r) for r in delta_scan(spark, path).collect())
        assert got == sorted(tuple(r) for r in df.unionAll(df).collect())
