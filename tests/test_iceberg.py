"""Iceberg snapshot reader tests: snapshot resolution, time travel,
status filtering, metadata versioning, and every refusal seam."""

from __future__ import annotations

import io
import json
import zipfile

import pytest

from flink_gmall2024_realtime_spark.operators.iceberg import (
    read_iceberg_snapshot,
    synth_iceberg_table,
)


def _n(seed, j):
    return (seed + j) % 20 + 5


def _s(seed, j):
    n = _n(seed, j)
    return n * (seed + 100 * j) + n * (n - 1) // 2


def _rebuild(payload: bytes, mutate) -> bytes:
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


def _edit_meta(members, fn, which="metadata/v2.metadata.json"):
    md = json.loads(members[which])
    fn(md)
    members[which] = json.dumps(md).encode()


class TestSnapshots:
    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 7])
    def test_time_travel_and_current(self, seed):
        p = synth_iceberg_table(seed)
        s1 = read_iceberg_snapshot(p, seed * 10 + 1)
        assert s1["n_files"] == 2
        assert s1["n_rows"] == _n(seed, 0) + _n(seed, 1)
        assert s1["int_sum"] == _s(seed, 0) + _s(seed, 1)
        cur = read_iceberg_snapshot(p)
        live = [0, 2] + ([3] if seed % 2 == 0 else [])
        assert cur["snapshot_id"] == seed * 10 + 2
        assert cur["n_manifests"] == 2
        assert cur["n_files"] == len(live)
        assert cur["n_rows"] == sum(_n(seed, j) for j in live)

    def test_unknown_snapshot_raises(self):
        with pytest.raises(ValueError, match="not in table metadata"):
            read_iceberg_snapshot(synth_iceberg_table(2), 424242)

    def test_lagging_version_hint_probes_forward(self):
        # a hint left behind by a crash between metadata publish and
        # hint write (or a racing committer's rollback) must NOT serve a
        # stale snapshot: readers probe forward to the newest metadata
        # file, HadoopTableOperations-style (ADVICE r12)
        seed = 2

        def hint_v1(members):
            members["metadata/version-hint.text"] = b"1"

        p = _rebuild(synth_iceberg_table(seed), hint_v1)
        assert read_iceberg_snapshot(p)["snapshot_id"] == seed * 10 + 2
        # time travel to s1 through the newest metadata still works
        assert read_iceberg_snapshot(p, seed * 10 + 1)["n_files"] == 2

    def test_hint_past_newest_metadata_raises(self):
        def hint_v9(members):
            members["metadata/version-hint.text"] = b"9"

        p = _rebuild(synth_iceberg_table(2), hint_v9)
        with pytest.raises(ValueError, match="version-hint names v9"):
            read_iceberg_snapshot(p)

    def test_latest_metadata_wins_without_hint(self):
        def drop_hint(members):
            del members["metadata/version-hint.text"]

        p = _rebuild(synth_iceberg_table(2), drop_hint)
        assert read_iceberg_snapshot(p)["snapshot_id"] == 22


class TestSeams:
    def test_manifest_length_cross_check(self):
        # rewrite snapshot 1's manifest list declaring the wrong length
        def lie(members):
            from flink_gmall2024_realtime_spark.operators.avro import _zz
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _MANIFEST_LIST_SCHEMA,
                _avro_ocf,
                _enc_str,
            )

            man = members["metadata/m-001.avro"]
            entry = (
                _enc_str("warehouse/t/metadata/m-001.avro")
                + _zz(len(man) + 1) + _zz(0) + _zz(0) + _zz(21)
            )
            members[f"metadata/snap-{21}.avro"] = _avro_ocf(
                _MANIFEST_LIST_SCHEMA, [entry], 99
            )

        with pytest.raises(ValueError, match="manifest_length"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_table(2), lie), 21)

    def test_record_count_cross_check(self):
        # swap two data files of different row counts: the manifest's
        # record_count no longer matches the decoded rows
        def swap(members):
            members["data/part-00000.parquet"], members["data/part-00001.parquet"] = (
                members["data/part-00001.parquet"],
                members["data/part-00000.parquet"],
            )

        with pytest.raises(ValueError, match="record_count"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_table(2), swap), 21)

    def test_missing_data_file_raises(self):
        def drop(members):
            del members["data/part-00002.parquet"]

        with pytest.raises(ValueError, match="missing from payload"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_table(2), drop))

    def test_delete_manifest_is_loud(self):
        def make_delete(members):
            _edit_meta(members, lambda md: None)
            # flip the content field inside the manifest LIST entry:
            # easier spec-true route — rewrite the list with content=1
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _MANIFEST_LIST_SCHEMA,
                _avro_ocf,
                _enc_str,
            )
            from flink_gmall2024_realtime_spark.operators.avro import _zz

            man = members["metadata/m-001.avro"]
            entry = (
                _enc_str("warehouse/t/metadata/m-001.avro")
                + _zz(len(man)) + _zz(0) + _zz(1) + _zz(21)
            )
            members[f"metadata/snap-{21}.avro"] = _avro_ocf(
                _MANIFEST_LIST_SCHEMA, [entry], 99
            )

        # r13: DELETE manifests are read (position deletes compose) —
        # but a delete manifest whose entries are NOT delete files is a
        # spec violation and must refuse, not misread
        with pytest.raises(ValueError, match="non-delete data_file"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_table(2), make_delete), 21)

    def test_future_format_version_is_loud(self):
        def bump(members):
            _edit_meta(members, lambda md: md.update({"format-version": 3}))

        with pytest.raises(NotImplementedError, match="format-version"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_table(2), bump))

    def test_no_metadata_raises(self):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("readme.txt", "not iceberg")
        with pytest.raises(ValueError, match="metadata"):
            read_iceberg_snapshot(buf.getvalue())


class TestPartitionedIceberg:
    def test_partition_filter_prunes_from_manifests(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_partitioned,
        )

        seed = 4
        p = synth_iceberg_partitioned(seed)
        full = read_iceberg_snapshot(p)
        assert full["n_files"] == 6 and full["n_partitions"] == 3
        pruned = read_iceberg_snapshot(p, partition_filter={"p": "p1"})
        assert pruned["n_files"] == 2
        assert pruned["n_rows"] == _n(seed, 1) + _n(seed, 4)
        assert pruned["n_partitions"] == 1

    def test_pruning_skips_data_decode(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_partitioned,
        )

        def corrupt_others(members):
            for name in list(members):
                if name.startswith(("data/p=1/", "data/p=2/")):
                    members[name] = b"corrupted"

        p = _rebuild(synth_iceberg_partitioned(2), corrupt_others)
        ok = read_iceberg_snapshot(p, partition_filter={"p": "p0"})
        assert ok["n_files"] == 2
        with pytest.raises(Exception):
            read_iceberg_snapshot(p)


class TestIcebergScan:
    def _materialize(self, tmp_path, payload):
        root = tmp_path / "tbl"
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            for name in z.namelist():
                dst = root / name
                dst.parent.mkdir(parents=True, exist_ok=True)
                dst.write_bytes(z.read(name))
        return str(root)

    def test_scan_partitioned_table(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_partitioned,
        )

        seed = 4
        path = self._materialize(tmp_path, synth_iceberg_partitioned(seed))
        df = iceberg_scan(spark, path)
        assert set(df.columns) == {"k", "p"}
        got = {r["p"]: r["count"] for r in df.groupBy("p").count().collect()}
        exp = {}
        for j in range(6):
            exp[f"p{j % 3}"] = exp.get(f"p{j % 3}", 0) + _n(seed, j)
        assert got == exp
        pruned = iceberg_scan(spark, path, partition_filter={"p": "p2"})
        assert pruned.count() == _n(seed, 2) + _n(seed, 5)

    def test_scan_time_travel(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_table,
        )

        seed = 2
        path = self._materialize(tmp_path, synth_iceberg_table(seed))
        cur = iceberg_scan(spark, path)
        live = [0, 2, 3]
        assert cur.count() == sum(_n(seed, j) for j in live)
        old = iceberg_scan(spark, path, snapshot_id=seed * 10 + 1)
        assert old.count() == _n(seed, 0) + _n(seed, 1)


class TestIcebergAppendSink:
    def test_commits_snapshots_and_time_travel(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        sink = IcebergAppendSink(spark, str(tmp_path / "tbl"))
        for i in range(3):
            sink.commit_batch(
                spark.range(i * 10, (i + 1) * 10).selectExpr("id AS k"), i
            )
        assert sink.scan().count() == 30
        assert sink.scan(snapshot_id=1).count() == 10  # snapshot of batch 0
        assert sink.scan(snapshot_id=2).count() == 20
        assert sorted(r["k"] for r in sink.scan().collect()) == list(range(30))

    def test_replay_and_restart_are_exactly_once(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        b = spark.createDataFrame([(1,), (2,)], "k long")
        assert sink.commit_batch(b, 0) == 1
        assert sink.commit_batch(b, 0) is None  # same-instance replay
        fresh = IcebergAppendSink(spark, path)  # restart
        assert fresh.commit_batch(b, 0) is None
        assert fresh.commit_batch(b, 1) == 2
        assert fresh.scan().count() == 4

    def test_crash_before_commit_then_replay(self, spark, tmp_path):
        import os

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.createDataFrame([(1,)], "k long"), 0)
        # crash: data + manifest written, metadata never published
        with open(os.path.join(path, "data/part-b0000000001.parquet"), "wb") as f:
            f.write(b"dead writer")
        assert sink.commit_batch(spark.createDataFrame([(2,)], "k long"), 1) == 2
        assert sink.scan().count() == 2

    def test_lost_pointer_race_retries(self, spark, tmp_path):
        import json as _json
        import os

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.createDataFrame([(1,)], "k long"), 0)
        # a second writer claims v2 with a foreign snapshot
        _, md = sink._head()
        foreign = dict(md)
        foreign["snapshots"] = md["snapshots"] + [
            {
                "snapshot-id": 777, "sequence-number": 2, "timestamp-ms": 0,
                "manifest-list": md["snapshots"][0]["manifest-list"],
                "summary": {"operation": "append", "batch-id": "777"},
            }
        ]
        foreign["current-snapshot-id"] = 777
        with open(os.path.join(path, "metadata", "v2.metadata.json"), "w") as f:
            f.write(_json.dumps(foreign))
        # our batch 1 loses the v2 race and lands on v3
        assert sink.commit_batch(spark.createDataFrame([(2,)], "k long"), 1) == 2
        versions = sink._meta_versions()
        assert sorted(versions) == [1, 2, 3]

    def test_readable_by_the_zip_reader_arithmetic(self, spark, tmp_path):
        # the sink's table, zipped, reads through read_iceberg_snapshot
        import io
        import os
        import zipfile

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            read_iceberg_snapshot,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.createDataFrame([(5,), (7,)], "k long"), 0)
        sink.commit_batch(spark.createDataFrame([(11,)], "k long"), 1)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, path))
        snap = read_iceberg_snapshot(buf.getvalue())
        assert snap == {
            "snapshot_id": 2, "n_manifests": 2, "n_files": 2,
            "n_rows": 3, "int_sum": 23, "n_partitions": 0,
        }


def _unzip_to_dir(payload: bytes, root) -> str:
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        for name in z.namelist():
            dst = root / name
            dst.parent.mkdir(parents=True, exist_ok=True)
            dst.write_bytes(z.read(name))
    return str(root)


class TestTransforms:
    """r13 (VERDICT r12 #5): bucket/truncate/day partition transforms."""

    def test_murmur3_matches_iceberg_spec_appendix_b(self):
        # the spec's published hash vectors — the external anchor (no
        # murmur3 library ships in this container)
        import struct

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            _murmur3_x86_32,
        )

        def signed(u):
            return u - (1 << 32) if u >= (1 << 31) else u

        assert signed(_murmur3_x86_32(struct.pack("<q", 34))) == 2017239379
        assert signed(_murmur3_x86_32(b"iceberg")) == 1210000089
        assert signed(_murmur3_x86_32(struct.pack("<q", 17486))) == -653330422
        assert (
            signed(_murmur3_x86_32(struct.pack("<q", 1510871468000000)))
            == -2047944441
        )

    def test_transform_semantics(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            _apply_transform,
            iceberg_bucket,
        )

        # ints hash as longs (spec: bucketing survives type promotion)
        assert iceberg_bucket(34, 16, "int") == iceberg_bucket(34, 16, "long")
        assert _apply_transform("identity", "x", "string") == "x"
        # truncate uses FLOORED mod for negatives, per spec
        assert _apply_transform("truncate[10]", -1, "long") == -10
        assert _apply_transform("truncate[10]", 19, "long") == 10
        assert _apply_transform("truncate[3]", "iceberg", "string") == "ice"
        # day floors micros to days
        assert _apply_transform("day", 17486 * 86400000000 + 5, "timestamp") == 17486
        assert _apply_transform("day", 17486, "date") == 17486
        assert _apply_transform("void", 123, "long") is None
        # r14: hour floors micros to hours (timestamps only, per spec)
        assert _apply_transform(
            "hour", 17486 * 86400000000 + 7 * 3600000000 + 5, "timestamp"
        ) == 17486 * 24 + 7
        with pytest.raises(NotImplementedError, match="hour transform"):
            _apply_transform("hour", 17486, "date")
        # r14: month/year are months/years since epoch (calendar math);
        # day 17486 = 2017-11-16
        assert _apply_transform("year", 17486, "date") == 47
        assert _apply_transform("month", 17486, "date") == 47 * 12 + 10
        assert _apply_transform(
            "month", 17486 * 86400000000 + 5, "timestamp"
        ) == 47 * 12 + 10
        # pre-epoch floors correctly: 1969-12-31 is year -1, month -1
        assert _apply_transform("year", -1, "date") == -1
        assert _apply_transform("month", -1, "date") == -1
        with pytest.raises(NotImplementedError, match="transform"):
            _apply_transform("surprise", 1, "date")

    def test_bucket_pruning_cross_checked_against_full_scan(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_transforms,
        )

        seed = 5
        p = synth_iceberg_transforms(seed)
        full = read_iceberg_snapshot(p)
        # source constants 0/3/4/6 hash to the four DISTINCT buckets
        # 0/3/2/1, so the four filtered reads partition the table: their
        # row/sum totals must reproduce the full scan exactly
        scopes = [
            read_iceberg_snapshot(p, partition_filter={"b_bucket": b})
            for b in (0, 3, 4, 6)
        ]
        assert sum(s["n_rows"] for s in scopes) == full["n_rows"]
        assert sum(s["int_sum"] for s in scopes) == full["int_sum"]
        assert sum(s["n_files"] for s in scopes) == full["n_files"]
        b0 = scopes[0]
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        assert b0["n_files"] == 2 and b0["n_rows"] == n(0) + n(4)

    def test_unknown_partition_field_raises(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_transforms,
        )

        with pytest.raises(ValueError, match="unknown partition field"):
            read_iceberg_snapshot(
                synth_iceberg_transforms(1), partition_filter={"nope": 1}
            )


class TestPositionDeletes:
    """r13 (VERDICT r12 #2): v2 merge-on-read through DELETE manifests."""

    def test_sequence_rule_protects_newer_data(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_deletes,
        )

        for seed in (0, 1, 5):
            p = synth_iceberg_deletes(seed)
            n = lambda j: (seed + j) % 20 + 5  # noqa: E731
            keep0 = [i for i in range(n(0)) if i % 3 != 0]
            keep1 = [i for i in range(n(1)) if i % 4 != 1]
            v2 = read_iceberg_snapshot(p, seed * 10 + 2)
            assert v2["n_rows"] == len(keep0) + len(keep1)
            # snap 3: file 2's data_seq (3) > delete_seq (2) -> the
            # delete rows listing file 2's path must NOT apply
            v3 = read_iceberg_snapshot(p)
            assert v3["n_rows"] == len(keep0) + len(keep1) + n(2)

    def test_equality_content_without_ids_is_malformed(self):
        # r13: equality deletes are READ now (TestEqualityDeletes) —
        # but a content=2 entry with no equality_ids is a spec
        # violation that must refuse, not guess columns
        import json as _json

        from flink_gmall2024_realtime_spark.operators.avro import parse_avro
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_deletes,
        )

        def to_equality(members):
            # rewrite the delete manifest declaring content=2 entries
            from flink_gmall2024_realtime_spark.operators.avro import _zz
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _MANIFEST_SCHEMA,
                _avro_ocf,
                _enc_str,
            )

            _, recs = parse_avro(members["metadata/m-del.avro"])
            df = recs[0]["data_file"]
            entry = (
                _zz(recs[0]["status"])
                + _zz(recs[0]["snapshot_id"])
                + _zz(2)  # EQUALITY_DELETES
                + _enc_str(df["file_path"])
                + _enc_str("PARQUET")
                + _zz(df["record_count"])
                + _zz(df["file_size_in_bytes"])
            )
            members["metadata/m-del.avro"] = _avro_ocf(
                _MANIFEST_SCHEMA, [entry], 42
            )
            # manifest_length changed: patch the two manifest lists that
            # reference it (snap 2 and snap 3)
            meta = _json.loads(members["metadata/v1.metadata.json"])
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _MANIFEST_LIST_SEQ_SCHEMA,
            )

            for snap in meta["snapshots"][1:]:
                ml_rel = snap["manifest-list"][len("warehouse/t/"):]
                _, entries = parse_avro(members[ml_rel])
                out = []
                for e in entries:
                    length = (
                        len(members["metadata/m-del.avro"])
                        if e["manifest_path"].endswith("m-del.avro")
                        else e["manifest_length"]
                    )
                    out.append(
                        _enc_str(e["manifest_path"])
                        + _zz(length)
                        + _zz(e["partition_spec_id"])
                        + _zz(e["content"])
                        + _zz(e["sequence_number"])
                        + _zz(e["added_snapshot_id"])
                    )
                members[ml_rel] = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, out, 43)

        with pytest.raises(ValueError, match="equality_ids"):
            read_iceberg_snapshot(_rebuild(synth_iceberg_deletes(2), to_equality))

    def test_iceberg_scan_respects_deletes(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_deletes,
        )

        seed = 3
        path = _unzip_to_dir(synth_iceberg_deletes(seed), tmp_path / "tbl")
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        expect = sorted(
            [seed + i for i in range(n(0)) if i % 3 != 0]
            + [seed + 100 + i for i in range(n(1)) if i % 4 != 1]
            + [seed + 200 + i for i in range(n(2))]
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == expect
        # pre-delete snapshot scans every row
        s1 = iceberg_scan(spark, path, snapshot_id=seed * 10 + 1)
        assert s1.count() == n(0) + n(1)


class TestStatsPruning:
    """r13 (VERDICT r12 #4): manifest column-bounds file skipping."""

    def test_pruned_files_are_never_decoded(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_stats,
        )

        seed = 4

        def corrupt_low_files(members):
            for j in range(3):
                members[f"data/part-{j:05d}.parquet"] = b"garbage"

        p = _rebuild(synth_iceberg_stats(seed), corrupt_low_files)
        hi = read_iceberg_snapshot(p, stats_filter={"k": (seed + 300, None)})
        n3 = (seed + 3) % 20 + 5
        assert hi["n_files"] == 1 and hi["n_rows"] == n3
        # without the filter the corruption IS seen (proving the files
        # only survive via pruning, not by accident)
        with pytest.raises(ValueError):
            read_iceberg_snapshot(p)

    def test_files_without_bounds_are_kept(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_table,
        )

        # the plain fixture's manifests carry no bounds at all: a stats
        # filter must keep everything (skipping is an optimization)
        p = synth_iceberg_table(2)
        full = read_iceberg_snapshot(p)
        filt = read_iceberg_snapshot(p, stats_filter={"k": (10**9, None)})
        assert filt["n_rows"] == full["n_rows"]

    def test_unknown_stats_column_raises(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_stats,
        )

        with pytest.raises(ValueError, match="unknown column"):
            read_iceberg_snapshot(
                synth_iceberg_stats(1), stats_filter={"zzz": (0, 1)}
            )

    def test_iceberg_scan_stats_filter(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_stats,
        )

        seed = 2
        path = _unzip_to_dir(synth_iceberg_stats(seed), tmp_path / "tbl")
        hi = iceberg_scan(spark, path, stats_filter={"k": (seed + 300, None)})
        assert hi.count() == (seed + 3) % 20 + 5


class TestSinkBoundsAndDistributed:
    """r13: sink writes real schema fields + footer-derived column
    bounds; distributed path commits one entry per task file."""

    def test_distributed_commit_and_stats_pruning(self, spark, tmp_path):
        import os

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )
        from pyspark.sql import functions as F

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        # range-partitioned write -> tight per-file k ranges
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartitionByRange(4, "k")
        assert sink.commit_batch_distributed(df, 0) == 1
        assert sink.commit_batch_distributed(df, 0) is None  # replay
        n_data = [
            fn for fn in os.listdir(os.path.join(path, "data"))
            if fn.endswith(".parquet")
        ]
        assert len(n_data) == 4
        full = iceberg_scan(spark, path)
        assert full.count() == 1000
        # stats pruning is FILE-level: k >= 900 only intersects the last
        # range file, whose full contents (not just k>=900) survive
        hi = iceberg_scan(spark, path, stats_filter={"k": (900, None)})
        assert 100 <= hi.count() < 1000
        assert sorted(r.k for r in hi.where("k >= 900").collect()) == list(
            range(900, 1000)
        )
        # corrupt the three low files: the pruned read must never touch them
        names = sorted(n_data)
        import pyarrow.parquet as pq

        keep = None
        for fn in names:
            md = pq.ParquetFile(os.path.join(path, "data", fn))
            ks = md.read(columns=["k"])["k"].to_pylist()
            if max(ks) >= 900:
                keep = fn
        for fn in names:
            if fn != keep:
                with open(os.path.join(path, "data", fn), "wb") as f:
                    f.write(b"garbage")
        assert iceberg_scan(
            spark, path, stats_filter={"k": (950, None)}
        ).where("k >= 950").count() == 50

    def test_driver_commit_carries_bounds_and_schema(self, spark, tmp_path):
        import io
        import os
        import zipfile

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            read_iceberg_snapshot,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(
            spark.createDataFrame([(5, "x"), (7, "y")], "k long, s string"), 0
        )
        sink.commit_batch(
            spark.createDataFrame([(100, "z")], "k long, s string"), 1
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, path))
        payload = buf.getvalue()
        full = read_iceberg_snapshot(payload)
        assert full["n_rows"] == 3 and full["int_sum"] == 112
        # bounds written by the sink drive the reader's stats_filter
        hi = read_iceberg_snapshot(payload, stats_filter={"k": (50, None)})
        assert hi["n_files"] == 1 and hi["int_sum"] == 100
        lo = read_iceberg_snapshot(payload, stats_filter={"k": (None, 10)})
        assert lo["n_files"] == 1 and lo["int_sum"] == 12


class TestEqualityDeletes:
    """r13: v2 equality deletes — DELETE-by-value merge-on-read with
    the spec's STRICT sequence rule (data_seq < delete_seq)."""

    def test_strict_rule_spares_same_sequence_file(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_eqdeletes,
        )

        for seed in (0, 2, 7):
            p = synth_iceberg_eqdeletes(seed)
            n = lambda j: (seed + j) % 20 + 5  # noqa: E731
            keep = lambda j: [  # noqa: E731
                i for i in range(n(j)) if i % 5 not in (1, 3)
            ]
            v2 = read_iceberg_snapshot(p)
            # files 0/1 (seq 1) masked; file 2 (seq 2 == delete seq) FULL
            assert v2["n_rows"] == len(keep(0)) + len(keep(1)) + n(2)

    def test_iceberg_scan_anti_joins_equality_deletes(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_eqdeletes,
        )

        seed = 4
        path = _unzip_to_dir(synth_iceberg_eqdeletes(seed), tmp_path / "tbl")
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        expect = sorted(
            [seed + i for i in range(n(0)) if i % 5 not in (1, 3)]
            + [seed + 100 + i for i in range(n(1)) if i % 5 not in (1, 3)]
            + [seed + 200 + i for i in range(n(2))]
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == expect
        # time travel to snapshot 1: nothing deleted yet
        assert iceberg_scan(
            spark, path, snapshot_id=seed * 10 + 1
        ).count() == n(0) + n(1)

    def test_bad_equality_ids_raise(self):
        import json as _json

        from flink_gmall2024_realtime_spark.operators.avro import parse_avro
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_eqdeletes,
        )

        def to_unknown_field(members):
            from flink_gmall2024_realtime_spark.operators.avro import _zz
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _EQ_MANIFEST_SCHEMA,
                _avro_ocf,
                _enc_str,
            )

            _, recs = parse_avro(members["metadata/m-eqdel.avro"])
            df = recs[0]["data_file"]
            entry = (
                _zz(recs[0]["status"])
                + _zz(recs[0]["snapshot_id"])
                + _zz(2)
                + _enc_str(df["file_path"])
                + _enc_str("PARQUET")
                + _zz(df["record_count"])
                + _zz(df["file_size_in_bytes"])
                + _zz(1) + _zz(99) + _zz(0)  # equality_ids: [99] (no field)
            )
            man = _avro_ocf(_EQ_MANIFEST_SCHEMA, [entry], 42)
            members["metadata/m-eqdel.avro"] = man
            # patch manifest_length in snap 2's list
            from flink_gmall2024_realtime_spark.operators.iceberg import (
                _MANIFEST_LIST_SEQ_SCHEMA,
            )

            meta = _json.loads(members["metadata/v1.metadata.json"])
            ml_rel = meta["snapshots"][1]["manifest-list"][len("warehouse/t/"):]
            _, entries = parse_avro(members[ml_rel])
            out = []
            for e in entries:
                length = (
                    len(man)
                    if e["manifest_path"].endswith("m-eqdel.avro")
                    else e["manifest_length"]
                )
                out.append(
                    _enc_str(e["manifest_path"])
                    + _zz(length)
                    + _zz(e["partition_spec_id"])
                    + _zz(e["content"])
                    + _zz(e["sequence_number"])
                    + _zz(e["added_snapshot_id"])
                )
            members[ml_rel] = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, out, 43)

        with pytest.raises(ValueError, match="equality_ids"):
            read_iceberg_snapshot(
                _rebuild(synth_iceberg_eqdeletes(2), to_unknown_field)
            )


class TestPartitionedSink:
    """r13: identity-partitioned WRITES — partition struct on every
    manifest entry, source columns kept in the data files, pruning
    works against our own manifests."""

    def test_partitioned_write_prune_and_replay(self, spark, tmp_path):
        import os

        import pyarrow.parquet as pq

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path, partition_columns=["p"])
        df = spark.range(90).selectExpr("id AS k", "concat('p', id % 3) AS p")
        assert sink.commit_batch_distributed(df.repartition(4), 0) == 1
        assert sink.commit_batch_distributed(df, 0) is None  # replay
        # identity partitioning STORES the source column in the files
        one = next(
            os.path.join(path, "data", f)
            for f in os.listdir(os.path.join(path, "data"))
            if f.endswith(".parquet")
        )
        assert "p" in pq.ParquetFile(one).schema_arrow.names
        full = iceberg_scan(spark, path)
        assert full.count() == 90
        pruned = iceberg_scan(spark, path, partition_filter={"p": "p1"})
        assert pruned.count() == 30
        assert set(r.p for r in pruned.select("p").distinct().collect()) == {
            "p1"
        }
        # pruning is manifest-level: corrupt every non-p1 file
        for f in os.listdir(os.path.join(path, "data")):
            fp = os.path.join(path, "data", f)
            vals = set(
                pq.ParquetFile(fp).read(columns=["p"])["p"].to_pylist()
            )
            if vals != {"p1"}:
                with open(fp, "wb") as fh:
                    fh.write(b"garbage")
        assert iceberg_scan(
            spark, path, partition_filter={"p": "p1"}
        ).count() == 30

    def test_long_partition_values_typed(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path, partition_columns=["b"])
        df = spark.range(40).selectExpr("id AS k", "id % 4 AS b")
        sink.commit_batch_distributed(df, 0)
        pruned = iceberg_scan(spark, path, partition_filter={"b": 2})
        assert pruned.count() == 10
        assert set(r.b for r in pruned.select("b").distinct().collect()) == {2}

    def test_driver_path_refuses_partitions(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        sink = IcebergAppendSink(
            spark, str(tmp_path / "t"), partition_columns=["p"]
        )
        with pytest.raises(NotImplementedError, match="distributed"):
            sink.commit_batch(
                spark.createDataFrame([(1, "a")], "k long, p string"), 0
            )


class TestEqualityDeleteNulls:
    """r14: the spec (and the audit reader) treat null==null as a MATCH
    for equality deletes — iceberg_scan's anti-join must be null-safe or
    the two read paths diverge on tables with NULL equality columns."""

    def test_null_equality_values_delete_null_rows(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            read_iceberg_snapshot,
            synth_iceberg_eqdeletes,
        )

        seed = 4
        payload = synth_iceberg_eqdeletes(seed, with_nulls=True)
        path = _unzip_to_dir(payload, tmp_path / "tbl")
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        # delete values {1, 3, NULL}; i%5==4 rows carry NULL — files
        # 0/1 (seq 1) keep only i%5 in {0, 2}; file 2 (seq 2) survives
        expect = sorted(
            [seed + i for i in range(n(0)) if i % 5 in (0, 2)]
            + [seed + 100 + i for i in range(n(1)) if i % 5 in (0, 2)]
            + [seed + 200 + i for i in range(n(2))]
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == expect
        # the audit reader agrees exactly
        assert read_iceberg_snapshot(payload)["n_rows"] == len(expect)


class TestIcebergDeleteWhere:
    """r14: write-side POSITION deletes — the Iceberg twin of Delta's
    delete_where, sharing its semantics: no data file rewritten, time
    travel intact, sequence numbers spare future appends, replay no-op."""

    def _table(self, spark, tmp_path, n=100, files=4):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        df = spark.range(n).selectExpr(
            "id AS k", "id % 7 AS v"
        ).repartitionByRange(files, "k")
        sink.commit_batch_distributed(df, 0)
        return path, sink

    def test_delete_masks_without_rewriting_files(self, spark, tmp_path):
        import hashlib
        import os

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)

        def data_hashes():
            d = os.path.join(path, "data")
            return {
                fn: hashlib.md5(open(os.path.join(d, fn), "rb").read())
                .hexdigest()
                for fn in sorted(os.listdir(d))
                if fn.startswith("part-")
            }

        before = data_hashes()
        sd = sink.delete_where("k % 3 = 0", 1)
        assert sd == 2
        assert data_hashes() == before  # data files byte-identical
        want = [k for k in range(100) if k % 3 != 0]
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == want
        # time travel below the delete reads every row
        assert iceberg_scan(spark, path, snapshot_id=1).count() == 100
        # replay of the same batch id is a no-op
        assert sink.delete_where("k % 3 = 0", 1) is None

    def test_scan_never_decodes_positions_on_driver(
        self, spark, tmp_path, monkeypatch
    ):
        """Driver-memory lock (VERDICT r14 #1): a position-delete scan
        reads the delete parquets DISTRIBUTED and anti-joins — the
        driver-side decoders must never run while building or executing
        the scan."""
        from flink_gmall2024_realtime_spark.operators import iceberg as ice

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)

        def boom(*a, **kw):
            raise AssertionError("delete positions decoded on the driver")

        monkeypatch.setattr(ice, "_resolve_position_deletes", boom)
        monkeypatch.setattr(ice, "_deleted_positions", boom)
        got = sorted(r.k for r in ice.iceberg_scan(spark, path).collect())
        assert got == [k for k in range(100) if k % 3 != 0]

    def test_scan_plan_over_position_deletes_starts_no_spark_job(
        self, spark, tmp_path
    ):
        """The position-delete files are read with the spec's schema, so
        building the scan plan runs no schema-inference job."""
        from flink_gmall2024_realtime_spark.operators import iceberg as ice

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)
        sc = spark.sparkContext
        group = "test_scan_plan_over_position_deletes_starts_no_spark_job"
        sc.setJobGroup(group, "iceberg scan plan")
        try:
            df = ice.iceberg_scan(spark, path)
            assert df.columns and df.schema.fields
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = sorted(r.k for r in df.collect())
        assert got == [k for k in range(100) if k % 3 != 0]

    def test_scan_shuffle_path_above_broadcast_threshold(
        self, spark, tmp_path, monkeypatch
    ):
        """Above _POS_DELETE_BROADCAST_MAX_BYTES the delete-frame
        anti-join must NOT broadcast — and the shuffled plan stays
        exact."""
        from flink_gmall2024_realtime_spark.operators import iceberg as ice

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)
        want = [k for k in range(100) if k % 3 != 0]
        df = ice.iceberg_scan(spark, path)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pos_anti = [
            ln for ln in plan.splitlines()
            if "LeftAnti" in ln and "__dpos" in ln
        ]
        assert pos_anti and all("Broadcast" in ln for ln in pos_anti), plan
        monkeypatch.setattr(ice, "_POS_DELETE_BROADCAST_MAX_BYTES", -1)
        df = ice.iceberg_scan(spark, path)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pos_anti = [
            ln for ln in plan.splitlines()
            if "LeftAnti" in ln and "__dpos" in ln
        ]
        assert pos_anti and all(
            "Broadcast" not in ln for ln in pos_anti
        ), plan
        assert sorted(r.k for r in df.collect()) == want

    def test_basename_collision_falls_back_to_per_file_masking(
        self, spark, tmp_path
    ):
        """ADVICE r14: two same-named data files in different
        directories must never cross-mask — the collision disables the
        distributed basename anti-join and positions apply per exact
        file path."""
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path, n=10, files=1)
        d = os.path.join(path, "data")
        fn = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.makedirs(os.path.join(d, "dup"))
        shutil.copy(os.path.join(d, fn), os.path.join(d, "dup", fn))
        rel_dup = f"data/dup/{fn}"
        md = sink._head()[1]
        fields = next(
            s
            for s in md["schemas"]
            if s.get("schema-id") == md.get("current-schema-id", 0)
        )["fields"]
        size = os.path.getsize(os.path.join(d, fn))
        sink._commit_snapshot(
            1, fields, [(rel_dup, 10, size, {}, {}, {})]
        )
        # positions 0,1 of the ORIGINAL file only
        first_two = pq.ParquetFile(os.path.join(d, fn)).read(
            columns=["k"]
        )["k"].to_pylist()[:2]
        rel_del = "data/del-hand.parquet"
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([f"data/{fn}"] * 2),
                    "pos": pa.array([0, 1], pa.int64()),
                }
            ),
            os.path.join(path, rel_del),
        )
        sink._commit_snapshot(
            2,
            fields,
            [],
            delete_files=[
                (rel_del, 2, os.path.getsize(os.path.join(path, rel_del)))
            ],
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        want = sorted(
            [k for k in range(10) if k not in first_two]  # orig, masked
            + list(range(10))  # dup untouched despite same basename
        )
        assert got == want

    def test_delete_where_conflicts_when_referenced_files_leave(
        self, spark, tmp_path, monkeypatch
    ):
        """OCC twin of the Delta test (VERDICT r14 #2): a delete_where
        whose referenced data files stop being live before its publish
        must raise, never re-commit (file_path,pos) entries pointing at
        dead files — silent row resurrection. A concurrent APPEND that
        leaves the referenced files alone is NOT a conflict."""
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            ConcurrentWriteError,
        )

        path, sink = self._table(spark, tmp_path)
        snap1 = sink._head()[1]["current-snapshot-id"]
        df2 = spark.range(200, 210).selectExpr("id AS k", "id % 7 AS v")
        sink.commit_batch(df2, 1)

        # inject a rollback between delete_where's live read and its
        # commit publish: the b1 file the delete references is gone
        orig = IcebergAppendSink._commit_snapshot
        fired = {}

        def raced(self, *a, **kw):
            if "done" not in fired:
                fired["done"] = True
                IcebergAppendSink(spark, path).rollback_to(snap1)
            return orig(self, *a, **kw)

        monkeypatch.setattr(IcebergAppendSink, "_commit_snapshot", raced)
        with _pytest.raises(ConcurrentWriteError, match="delete_where"):
            sink.delete_where("k >= 200", 2)
        monkeypatch.setattr(IcebergAppendSink, "_commit_snapshot", orig)
        # the rolled-back table is intact, no stale delete applied
        assert iceberg_scan(spark, path).count() == 100

        # non-conflicting concurrent append: the loser retries and wins
        fired.clear()

        def raced_append(self, *a, **kw):
            if "done" not in fired:
                fired["done"] = True
                IcebergAppendSink(spark, path).commit_batch(
                    spark.range(500, 505).selectExpr(
                        "id AS k", "id % 7 AS v"
                    ),
                    50,
                )
            return orig(self, *a, **kw)

        monkeypatch.setattr(IcebergAppendSink, "_commit_snapshot", raced_append)
        assert sink.delete_where("k % 3 = 0", 3) is not None
        monkeypatch.setattr(IcebergAppendSink, "_commit_snapshot", orig)
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        # the concurrent append's rows survive (their file was never
        # referenced by the delete), original k%3==0 rows are masked
        assert got == sorted(
            [k for k in range(100) if k % 3 != 0] + list(range(500, 505))
        )

    def test_keyed_store_compact_conflicts_on_concurrent_merge(
        self, spark, tmp_path, monkeypatch
    ):
        """A replace snapshot erases every prior manifest — compact()
        must refuse when any commit lands between its read and its
        publish (exact live-signature validation), else the concurrent
        batch silently vanishes."""
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators import iceberg as ice
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergKeyedStore,
        )
        from flink_gmall2024_realtime_spark.streaming.delta import (
            ConcurrentWriteError,
        )

        path = str(tmp_path / "store")
        store = IcebergKeyedStore(
            spark, path, key="k", order_col="ord", type_col="op"
        )
        b0 = spark.range(10).selectExpr(
            "id AS k", "id AS v", "0L AS ord", "'u' AS op"
        )
        store.commit_batch(b0, 0)
        b1 = spark.range(5).selectExpr(
            "id AS k", "id + 100 AS v", "1L AS ord", "'u' AS op"
        )
        store.commit_batch(b1, 1)

        orig_scan = ice.iceberg_scan
        fired = {}

        def raced(spark_, p, *a, **kw):
            if "done" not in fired and p == path:
                fired["done"] = True
                other = IcebergKeyedStore(
                    spark, path, key="k", order_col="ord", type_col="op"
                )
                other.commit_batch(
                    spark.range(7, 9).selectExpr(
                        "id AS k", "id + 900 AS v", "2L AS ord", "'u' AS op"
                    ),
                    2,
                )
            return orig_scan(spark_, p, *a, **kw)

        def self_state(st):
            return sorted(
                (r.k, r.v)
                for r in st.read_as_of().select("k", "v").collect()
            )

        monkeypatch.setattr(ice, "iceberg_scan", raced)
        with _pytest.raises(ConcurrentWriteError, match="compact"):
            store.compact(3)
        monkeypatch.setattr(ice, "iceberg_scan", orig_scan)
        # nothing lost: the concurrent batch's rows are visible and a
        # clean compact now succeeds with identical state
        want = sorted(
            [(k, k + 100) for k in range(5)]
            + [(5, 5), (6, 6), (9, 9)]
            + [(7, 907), (8, 908)]
        )
        assert self_state(store) == want
        assert store.compact(4) is not None
        assert self_state(store) == want

    def test_delete_where_writes_multiple_sorted_delete_files(
        self, spark, tmp_path
    ):
        """VERDICT r14 #6: the spec allows many delete files — with
        ``delete_file_partitions`` the sweep writes one per file_path
        range, each internally sorted by (file_path, pos), and the scan
        stays exact."""
        import os

        import pyarrow.parquet as pq

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 2 = 0", 1, delete_file_partitions=3)
        dels = sorted(
            fn for fn in os.listdir(os.path.join(path, "data"))
            if fn.startswith("delete-b")
        )
        assert len(dels) > 1
        for fn in dels:
            t = pq.ParquetFile(
                os.path.join(path, "data", fn)
            ).read()
            rows = list(
                zip(t["file_path"].to_pylist(), t["pos"].to_pylist())
            )
            assert rows == sorted(rows)
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == [k for k in range(100) if k % 2 == 1]

    def test_sequence_numbers_spare_future_appends(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)
        # rows the old delete WOULD match, appended after it
        df2 = spark.range(0, 30, 3).selectExpr("id AS k", "id % 7 AS v")
        sink.commit_batch(df2, 2)
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        want = sorted(
            [k for k in range(100) if k % 3 != 0] + list(range(0, 30, 3))
        )
        assert got == want

    def test_deletes_compose_and_audit_agrees(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        sink.delete_where("k % 3 = 0", 1)
        sink.delete_where("k % 5 = 0", 2)
        want = [k for k in range(100) if k % 3 != 0 and k % 5 != 0]
        assert sorted(
            r.k for r in iceberg_scan(spark, path).collect()
        ) == want
        # the delete parquet is readable by the in-repo record decoder
        # (the audit stack) with the spec's sorted (file_path, pos) rows
        import os

        from flink_gmall2024_realtime_spark.operators.parquetmeta import (
            parse_parquet_records,
        )

        d = os.path.join(path, "data")
        dels = [fn for fn in sorted(os.listdir(d)) if fn.startswith("delete-")]
        assert len(dels) == 2
        recs = parse_parquet_records(
            open(os.path.join(d, dels[0]), "rb").read(),
            columns=["file_path", "pos"],
        )
        pairs = list(zip(recs["file_path"], recs["pos"]))
        assert pairs == sorted(pairs)
        assert all(
            (fp.decode() if isinstance(fp, bytes) else fp).startswith("data/")
            for fp, _ in pairs
        )

    def test_empty_match_commits_dedupe_marker(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        assert sink.delete_where("k > 1000000", 1) == 2  # snapshot, no dels
        assert sink.delete_where("k > 1000000", 1) is None  # replay no-op
        assert iceberg_scan(spark, path).count() == 100


class TestExpireAndVacuum:
    """r14: expire_snapshots + vacuum_orphans — the maintenance twins
    of Delta's clean_log/vacuum_orphans with the same 7-day default."""

    def _table(self, spark, tmp_path, batches=4):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        for b in range(batches):
            df = spark.range(b * 10, b * 10 + 10).selectExpr(
                "id AS k", "id % 7 AS v"
            )
            sink.commit_batch(df, b)
        return path, sink

    def test_expire_prunes_history_not_head(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        assert sink.expire_snapshots(keep_last=2) == [1, 2]
        assert iceberg_scan(spark, path).count() == 40
        # retained older snapshot still time-travels
        assert iceberg_scan(spark, path, snapshot_id=3).count() == 30
        # expired snapshot refuses loudly
        with _pytest.raises(ValueError, match="not in table metadata"):
            iceberg_scan(spark, path, snapshot_id=1)
        # idempotent once at the floor
        assert sink.expire_snapshots(keep_last=2) == []
        # current snapshot always survives
        with _pytest.raises(ValueError, match="keep_last"):
            sink.expire_snapshots(keep_last=0)

    def test_replay_dedupe_survives_expiration(self, spark, tmp_path):
        path, sink = self._table(spark, tmp_path)
        sink.expire_snapshots(keep_last=1)
        # batches 0..2 live only in the expired watermark now
        df = spark.range(5).selectExpr("id AS k", "id % 7 AS v")
        for b in range(4):
            assert sink.commit_batch(df, b) is None
        # a genuinely new batch still commits
        assert sink.commit_batch(df, 9) is not None

    def test_vacuum_reclaims_unreferenced_past_horizon(
        self, spark, tmp_path
    ):
        import os
        import time

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
        )

        path, sink = self._table(spark, tmp_path)
        sink.expire_snapshots(keep_last=2)
        old = (time.time() - 10 * 86400,) * 2
        # a lost-race writer's stray file, past the horizon
        stray = os.path.join(path, "data", "orphan-old.parquet")
        open(stray, "wb").write(b"x")
        os.utime(stray, old)
        # a possibly-in-flight writer's fresh file
        fresh = os.path.join(path, "data", "orphan-new.parquet")
        open(fresh, "wb").write(b"x")
        for sub in ("data", "metadata"):
            for fn in os.listdir(os.path.join(path, sub)):
                p = os.path.join(path, sub, fn)
                if os.path.isfile(p) and fn != "orphan-new.parquet":
                    os.utime(p, old)
        dropped = sink.vacuum_orphans()
        assert "data/orphan-old.parquet" in dropped
        # the expired snapshots' manifest LISTS are unreferenced now
        assert any(fn.startswith("metadata/snap-1") for fn in dropped)
        assert os.path.exists(fresh)
        # every retained read is intact after the vacuum
        assert iceberg_scan(spark, path).count() == 40
        assert iceberg_scan(spark, path, snapshot_id=3).count() == 30


class TestHourTransformAndAvroData:
    """r14: the hour partition transform and Avro data-file reads."""

    def test_hour_pruning_discriminates_within_a_day(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            _tr_ts,
            read_iceberg_snapshot,
            synth_iceberg_transforms,
        )

        seed = 4
        p = synth_iceberg_transforms(seed, with_hour=True)
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        full = read_iceberg_snapshot(p)
        assert full["n_files"] == 6
        # files 0-2 share a day but sit in hours 0/1/2: the hour filter
        # selects exactly one file where the day filter keeps three
        ts1 = _tr_ts(1, True)
        by_day = read_iceberg_snapshot(p, partition_filter={"d_day": ts1})
        assert by_day["n_files"] == 3
        by_hour = read_iceberg_snapshot(p, partition_filter={"h_hour": ts1})
        assert by_hour["n_files"] == 1
        assert by_hour["n_rows"] == n(1)

    def test_avro_data_files_audit(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_avrodata,
        )

        for seed in (0, 4, 7):
            p = synth_iceberg_avrodata(seed)
            n = lambda j: (seed + j) % 20 + 5  # noqa: E731
            s1 = read_iceberg_snapshot(p, seed * 10 + 1)
            assert s1["n_rows"] == n(0) + n(1)
            # snap 2: +avro file 2, position-delete parquet masks
            # i%3==0 of avro file 0 — formats compose
            keep0 = [i for i in range(n(0)) if i % 3 != 0]
            s2 = read_iceberg_snapshot(p)
            assert s2["n_rows"] == len(keep0) + n(1) + n(2)
            assert s2["int_sum"] == (
                sum(seed + i for i in keep0)
                + sum(seed + 100 + i for i in range(n(1)))
                + sum(seed + 200 + i for i in range(n(2)))
            )

    def test_avro_data_files_scan(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_avrodata,
        )

        seed = 4
        path = _unzip_to_dir(synth_iceberg_avrodata(seed), tmp_path / "tbl")
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        want = sorted(
            [seed + i for i in range(n(0)) if i % 3 != 0]
            + [seed + 100 + i for i in range(n(1))]
            + [seed + 200 + i for i in range(n(2))]
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == want
        # time travel to snap 1: no deletes yet
        assert iceberg_scan(
            spark, path, snapshot_id=seed * 10 + 1
        ).count() == n(0) + n(1)


class TestOrcDataFiles:
    """r14: ORC data files through the new in-repo record assembler —
    the third container format composing in one Iceberg table read."""

    def test_orc_data_files_audit(self):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            read_iceberg_snapshot,
            synth_iceberg_avrodata,
        )

        for seed in (0, 4, 7):
            p = synth_iceberg_avrodata(seed, fmt="ORC")
            n = lambda j: (seed + j) % 20 + 5  # noqa: E731
            keep0 = [i for i in range(n(0)) if i % 3 != 0]
            s2 = read_iceberg_snapshot(p)
            assert s2["n_rows"] == len(keep0) + n(1) + n(2)
            assert s2["int_sum"] == (
                sum(seed + i for i in keep0)
                + sum(seed + 100 + i for i in range(n(1)))
                + sum(seed + 200 + i for i in range(n(2)))
            )

    def test_orc_data_files_scan(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            iceberg_scan,
            synth_iceberg_avrodata,
        )

        seed = 4
        path = _unzip_to_dir(
            synth_iceberg_avrodata(seed, fmt="ORC"), tmp_path / "tbl"
        )
        n = lambda j: (seed + j) % 20 + 5  # noqa: E731
        want = sorted(
            [seed + i for i in range(n(0)) if i % 3 != 0]
            + [seed + 100 + i for i in range(n(1))]
            + [seed + 200 + i for i in range(n(2))]
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == want


class TestRewriteManifests:
    """r14: manifest compaction — a long-lived table's manifest count
    stops growing with its commit count."""

    def test_compacts_preserving_state_and_delete_scoping(
        self, spark, tmp_path
    ):
        import os

        from flink_gmall2024_realtime_spark.operators.avro import parse_avro
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path, partition_columns=["p"])
        for b in range(4):
            df = spark.range(b * 10, b * 10 + 10).selectExpr(
                "id AS k", "cast(id % 2 as string) AS p"
            )
            sink.commit_batch_distributed(df.repartition(2), b)
        sink.delete_where("k % 5 = 0", 4)
        want = [k for k in range(40) if k % 5 != 0]

        def manifest_count():
            _, md = sink._head()
            cur = {s["snapshot-id"]: s for s in md["snapshots"]}[
                md["current-snapshot-id"]
            ]
            with open(os.path.join(path, cur["manifest-list"]), "rb") as f:
                _, mls = parse_avro(f.read())
            return len(mls)

        assert manifest_count() == 5  # 4 data + 1 delete
        assert sink.rewrite_manifests(5) is not None
        assert manifest_count() == 2  # 1 compacted data + 1 delete
        assert sorted(
            r.k for r in iceberg_scan(spark, path).collect()
        ) == want
        # partition pruning still lands through the compacted manifest
        p0 = iceberg_scan(spark, path, partition_filter={"p": "0"})
        assert sorted(r.k for r in p0.collect()) == [
            k for k in want if k % 2 == 0
        ]
        # per-entry sequence numbers survived: a later append is NOT
        # masked by the pre-compaction delete
        sink.commit_batch_distributed(
            spark.range(100, 105).selectExpr(
                "id AS k", "cast(id % 2 as string) AS p"
            ),
            6,
        )
        got = sorted(r.k for r in iceberg_scan(spark, path).collect())
        assert got == sorted(want + list(range(100, 105)))
        # replay no-op; already-compact no-op
        assert sink.rewrite_manifests(5) is None
        assert sink.rewrite_manifests(7) is not None  # batch-6 manifest
        assert sink.rewrite_manifests(8) is None


def test_rollback_to_snapshot(spark, tmp_path):
    # r14: current-snapshot pointer rollback — no files move, history
    # stays, writes continue after
    import pytest as _pytest

    from flink_gmall2024_realtime_spark.operators.iceberg import (
        IcebergAppendSink,
        iceberg_scan,
    )

    path = str(tmp_path / "tbl")
    sink = IcebergAppendSink(spark, path)
    for b in range(3):
        sink.commit_batch(
            spark.range(b * 10, b * 10 + 10).selectExpr("id AS k"), b
        )
    assert sink.rollback_to(2) == 4
    assert iceberg_scan(spark, path).count() == 20
    assert iceberg_scan(spark, path, snapshot_id=3).count() == 30
    sink.commit_batch(spark.range(100, 105).selectExpr("id AS k"), 3)
    assert iceberg_scan(spark, path).count() == 25
    with _pytest.raises(ValueError, match="not in table metadata"):
        sink.rollback_to(999)


class TestIcebergKeyedStore:
    """r14: streaming MERGE via equality deletes — the Iceberg twin of
    DeltaKeyedStore, write side of the r13 equality-delete reader."""

    def _store(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergKeyedStore,
        )

        return IcebergKeyedStore(
            spark, str(tmp_path / "store"), key="k", order_col="ord",
            type_col="op",
        )

    def _state(self, store, sid=None):
        return sorted(
            (r.k, r.v)
            for r in store.read_as_of(sid).select("k", "v").collect()
        )

    def test_upsert_delete_timetravel_replay(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        b0 = spark.range(10).selectExpr(
            "id AS k", "id AS v", "0L AS ord", "'u' AS op"
        )
        s0 = store.commit_batch(b0, 0)
        b1 = spark.createDataFrame(
            [(k, k + 100, 1, "u") for k in range(5)] + [(3, 999, 0, "u")],
            "k long, v long, ord long, op string",
        )
        s1 = store.commit_batch(b1, 1)
        b2 = spark.createDataFrame(
            [(0, None, 2, "delete"), (7, None, 2, "delete"), (8, 888, 2, "u")],
            "k long, v long, ord long, op string",
        )
        store.commit_batch(b2, 2)
        want = sorted(
            [(k, k + 100) for k in range(1, 5)]
            + [(5, 5), (6, 6), (8, 888), (9, 9)]
        )
        assert self._state(store) == want  # in-batch dup: ord wins (3->103)
        assert self._state(store, s1) == sorted(
            [(k, k + 100) for k in range(5)] + [(k, k) for k in range(5, 10)]
        )
        assert self._state(store, s0) == [(k, k) for k in range(10)]
        assert store.commit_batch(b1, 1) is None  # replay
        assert self._state(store) == want

    def test_compact_materializes_and_history_survives(
        self, spark, tmp_path
    ):
        import os

        from flink_gmall2024_realtime_spark.operators.avro import parse_avro

        store = self._store(spark, tmp_path)
        b0 = spark.range(10).selectExpr(
            "id AS k", "id AS v", "0L AS ord", "'u' AS op"
        )
        s0 = store.commit_batch(b0, 0)
        b1 = spark.createDataFrame(
            [(k, k + 100, 1, "u") for k in range(5)],
            "k long, v long, ord long, op string",
        )
        store.commit_batch(b1, 1)
        want = sorted(
            [(k, k + 100) for k in range(5)] + [(k, k) for k in range(5, 10)]
        )
        assert store.compact(2) is not None
        assert self._state(store) == want
        # the head manifest list holds ONE manifest, no delete manifests
        _, md = store._head()
        cur = {s["snapshot-id"]: s for s in md["snapshots"]}[
            md["current-snapshot-id"]
        ]
        with open(
            os.path.join(store.path, cur["manifest-list"]), "rb"
        ) as f:
            _, mls = parse_avro(f.read())
        assert len(mls) == 1 and mls[0]["content"] == 0
        # time travel below the compaction still resolves
        assert self._state(store, s0) == [(k, k) for k in range(10)]
        # upserts continue after
        b3 = spark.createDataFrame(
            [(1, 1111, 3, "u")], "k long, v long, ord long, op string"
        )
        store.commit_batch(b3, 3)
        assert self._state(store) == sorted(
            [t for t in want if t[0] != 1] + [(1, 1111)]
        )
        # replay of the compaction is a no-op
        assert store.compact(2) is None


class TestIcebergStreamSource:
    """r14: incremental micro-batch source — snapshot-first, then added
    files per snapshot; 'replace' snapshots skipped, deletes refuse
    without ignore_changes."""

    def test_snapshot_first_then_incremental(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            IcebergStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.range(10).selectExpr("id AS k"), 0)
        src = IcebergStreamSource(spark, path)
        b0, t0 = src.next_batch()
        assert b0.count() == 10 and t0 == 1
        assert src.next_batch() is None
        sink.commit_batch(spark.range(10, 25).selectExpr("id AS k"), 1)
        sink.commit_batch_distributed(
            spark.range(25, 30).selectExpr("id AS k"), 2
        )
        b1, _t1 = src.next_batch()
        assert sorted(r.k for r in b1.collect()) == list(range(10, 30))
        assert src.next_batch() is None

    def test_replace_skipped_delete_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            IcebergStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.range(10).selectExpr("id AS k"), 0)
        sink.commit_batch(spark.range(10, 20).selectExpr("id AS k"), 1)
        src = IcebergStreamSource(spark, path)
        src.next_batch()
        # compaction re-adds existing rows: an empty incremental batch
        sink.rewrite_manifests(2)
        got = src.next_batch()
        assert got is not None and got[0].count() == 0
        # a delete cannot be represented append-only
        sink.delete_where("k % 2 = 0", 3)
        with _pytest.raises(ValueError, match="ignore_changes"):
            src.next_batch()
        relaxed = IcebergStreamSource(spark, path, ignore_changes=True)
        relaxed._pos = got[1]
        b, _t = relaxed.next_batch()
        assert b.count() == 0  # the delete added no data files
        sink.commit_batch(spark.range(100, 103).selectExpr("id AS k"), 4)
        b2, _ = relaxed.next_batch()
        assert sorted(r.k for r in b2.collect()) == [100, 101, 102]

    def test_expired_position_is_loud(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            IcebergStreamSource,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.range(5).selectExpr("id AS k"), 0)
        src = IcebergStreamSource(spark, path)
        src.next_batch()
        sink.commit_batch(spark.range(5, 9).selectExpr("id AS k"), 1)
        sink.expire_snapshots(keep_last=1)  # the source's position expires
        with _pytest.raises(ValueError, match="expired"):
            src.next_batch()


class TestIcebergSchemaEvolution:
    """r14: batches appending new columns evolve the table schema; old
    files read as typed nulls; existing columns must keep name/type."""

    def test_evolution_appends_and_projects(self, spark, tmp_path):
        import pytest as _pytest

        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_scan,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        sink.commit_batch(spark.range(5).selectExpr("id AS k"), 0)
        # new column refuses with evolution off
        evolved = spark.range(5, 8).selectExpr("id AS k", "id * 2 AS extra")
        with _pytest.raises(ValueError, match="schema_evolution"):
            sink.commit_batch(evolved, 1)
        sink.schema_evolution = True
        sink.commit_batch(evolved, 1)
        df = iceberg_scan(spark, path)
        assert df.columns == ["k", "extra"]
        got = sorted((r.k, r.extra) for r in df.collect())
        assert got == [(k, None) for k in range(5)] + [
            (k, 2 * k) for k in range(5, 8)
        ]
        # bounds on the new column prune the NEW file; pre-evolution
        # files lack extra's bounds and are conservatively KEPT
        pruned = iceberg_scan(
            spark, path, stats_filter={"extra": (100, 999)}
        )
        assert sorted(r.k for r in pruned.collect()) == [0, 1, 2, 3, 4]
        # bounds on the original column still prune across the evolution
        pruned2 = iceberg_scan(spark, path, stats_filter={"k": (5, 99)})
        assert sorted(r.k for r in pruned2.collect()) == [5, 6, 7]
        # a dropped/reordered prefix is always loud
        with _pytest.raises(ValueError, match="prefix"):
            sink.commit_batch(
                spark.range(2).selectExpr("id * 2 AS extra", "id AS k"), 2
            )
        # type change is loud
        with _pytest.raises(ValueError, match="prefix"):
            sink.commit_batch(
                spark.range(2).selectExpr("CAST(id AS string) AS k"), 3
            )


class TestIcebergTableChanges:
    """r14: the changelog scan — inserts from added files, deletes from
    position/equality delete files; replace snapshots invisible."""

    def test_append_and_position_delete_feed(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergAppendSink,
            iceberg_table_changes,
        )

        path = str(tmp_path / "tbl")
        sink = IcebergAppendSink(spark, path)
        s0 = sink.commit_batch(
            spark.range(10).selectExpr("id AS k", "id % 3 AS v"), 0
        )
        s1 = sink.commit_batch(
            spark.range(10, 15).selectExpr("id AS k", "id % 3 AS v"), 1
        )
        sd = sink.delete_where("k % 4 = 0", 2)
        got = sorted(
            (r.k, r._change_type, r._commit_snapshot_id)
            for r in iceberg_table_changes(spark, path).collect()
        )
        want = sorted(
            [(k, "insert", s0) for k in range(10)]
            + [(k, "insert", s1) for k in range(10, 15)]
            + [(k, "delete", sd) for k in range(15) if k % 4 == 0]
        )
        assert got == want
        # sub-range sees only its own snapshots
        sub = sorted(
            (r.k, r._change_type)
            for r in iceberg_table_changes(
                spark, path, from_snapshot_id=s1
            ).collect()
        )
        assert sub == sorted(
            (k, "delete") for k in range(15) if k % 4 == 0
        )
        # compaction is invisible (empty frame, right schema)
        sink.rewrite_manifests(3)
        ch = iceberg_table_changes(spark, path, from_snapshot_id=sd)
        assert ch.count() == 0
        assert ch.columns[-2:] == ["_change_type", "_commit_snapshot_id"]

    def test_keyed_store_equality_delete_feed(self, spark, tmp_path):
        from flink_gmall2024_realtime_spark.operators.iceberg import (
            IcebergKeyedStore,
            iceberg_table_changes,
        )

        store = IcebergKeyedStore(
            spark, str(tmp_path / "s"), key="k", order_col="ord",
            type_col="op",
        )
        t0 = store.commit_batch(
            spark.range(5).selectExpr(
                "id AS k", "id AS v", "0L AS ord", "'u' AS op"
            ),
            0,
        )
        t1 = store.commit_batch(
            spark.createDataFrame(
                [(1, 111, 1, "u"), (7, 77, 1, "u"), (3, None, 1, "delete")],
                "k long, v long, ord long, op string",
            ),
            1,
        )
        got = sorted(
            (r.k, r.v, r._change_type, r._commit_snapshot_id)
            for r in iceberg_table_changes(
                spark, store.path
            ).collect()
        )
        # the upsert's change record: new rows insert, PREVIOUS-state
        # rows matching the equality keys delete (update = delete+insert
        # pair, iceberg changelog semantics)
        assert got == sorted(
            [(k, k, "insert", t0) for k in range(5)]
            + [(1, 111, "insert", t1), (7, 77, "insert", t1)]
            + [(1, 1, "delete", t1), (3, 3, "delete", t1)]
        )


def test_temporal_scan_takes_explicit_schema_fast_path(spark, tmp_path):
    """r16 (VERDICT r15 #3): the sink declares spec-correct temporal types
    (timestamptz = Spark TimestampType, bare timestamp = NTZ), so the
    explicit-read fast path covers temporal tables — the read schema must
    resolve from metadata (no mergeSchema inference), dtypes and values
    must round-trip exactly."""
    import datetime

    from flink_gmall2024_realtime_spark.operators.iceberg import (
        IcebergAppendSink,
        _parquet_read_schema,
        iceberg_scan,
    )

    path = str(tmp_path / "tbl")
    sink = IcebergAppendSink(spark, path)
    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    sink.commit_batch(
        spark.createDataFrame(
            [(1, ts, ts)], "k long, t timestamp, u timestamp_ntz"
        ),
        0,
    )
    md = sink._head()[1]
    # declared types are spec-correct and the fast path resolves
    sid = md.get("current-schema-id", 0)
    sch = next(s for s in md["schemas"] if s.get("schema-id", 0) == sid)
    declared = {f["name"]: f["type"] for f in sch["fields"]}
    assert declared["t"] == "timestamptz" and declared["u"] == "timestamp"
    rs = _parquet_read_schema(md)
    assert rs is not None, "temporal schema must take the explicit path"
    df = iceberg_scan(spark, path)
    assert dict(df.dtypes) == {
        "k": "bigint", "t": "timestamp", "u": "timestamp_ntz"
    }
    row = df.collect()[0]
    assert row["t"] == ts and row["u"] == ts


def test_changelog_range_union_schema_with_midrange_evolution(spark, tmp_path):
    """r16 (VERDICT r15 #1): the changelog/stream-source range reads
    resolve their union schema from the snapshots' schema-ids instead of
    a mergeSchema footer sweep. A range that spans an evolution commit
    must surface the union columns with typed nulls for pre-evolution
    rows — identical to what inference produced."""
    from flink_gmall2024_realtime_spark.operators.iceberg import (
        IcebergAppendSink,
        IcebergStreamSource,
        _range_read_schema,
        iceberg_table_changes,
    )

    path = str(tmp_path / "tbl")
    sink = IcebergAppendSink(spark, path, schema_evolution=True)
    sink.commit_batch(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
    sink.commit_batch(
        spark.createDataFrame([(2, "b", 7)], "k long, v string, n int"), 1
    )
    md = sink._head()[1]
    snaps = md["snapshots"]
    assert all("schema-id" in s for s in snaps)
    rs = _range_read_schema(md, snaps)
    assert rs is not None and [f.name for f in rs.fields] == ["k", "v", "n"]
    got = sorted(
        (r.k, r.v, r.n, r._change_type)
        for r in iceberg_table_changes(spark, path).collect()
    )
    assert got == [(1, "a", None, "insert"), (2, "b", 7, "insert")]
    # the stream source's incremental batch spans the same union
    src = IcebergStreamSource(spark, path)
    src._pos = snaps[0]["snapshot-id"]  # consumed through the first commit
    df, _through = src.next_batch()
    assert [f.name for f in df.schema.fields] == ["k", "v", "n"]
    assert [tuple(r) for r in df.collect()] == [(2, "b", 7)]


def test_plain_scan_explicit_schema_matches_inference(spark, tmp_path):
    """r15: the no-deletes parquet path reads with an explicit schema from
    the table metadata when every column is non-temporal primitive — dtypes
    and rows must be identical to what mergeSchema inference produced, and
    pre-evolution files must return typed nulls for appended columns."""
    from flink_gmall2024_realtime_spark.operators.iceberg import (
        IcebergAppendSink,
        iceberg_scan,
    )

    path = str(tmp_path / "tbl")
    sink = IcebergAppendSink(spark, path, schema_evolution=True)
    sink.commit_batch(
        spark.createDataFrame([(1, "a", 2.5)], "k long, v string, x double"), 0
    )
    sink.commit_batch(
        spark.createDataFrame(
            [(2, "b", 1.5, 7)], "k long, v string, x double, n int"
        ),
        1,
    )
    df = iceberg_scan(spark, path)
    assert dict(df.dtypes) == {
        "k": "bigint", "v": "string", "x": "double", "n": "int"
    }
    rows = {r["k"]: (r["v"], r["x"], r["n"]) for r in df.collect()}
    assert rows == {1: ("a", 2.5, None), 2: ("b", 1.5, 7)}


def test_append_commit_reads_the_head_metadata_at_most_twice(
    spark, tmp_path, monkeypatch
):
    """An uncontended ``commit_batch`` parses the head metadata once for
    its batch-id dedupe and once to build the commit: never more."""
    from flink_gmall2024_realtime_spark.operators import iceberg

    sink = iceberg.IcebergAppendSink(spark, str(tmp_path / "t"))

    def batch(b):
        return spark.range(3 * b, 3 * b + 3).selectExpr("id AS k", "id * 10 AS v")

    for b in range(6):
        sink.commit_batch(batch(b), b)
    calls: list = []
    real = iceberg._head_metadata

    def counted(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(iceberg, "_head_metadata", counted)
    assert sink.commit_batch(batch(6), 6) is not None
    assert len(calls) <= 2
    calls.clear()
    assert sink.commit_batch(batch(3), 3) is None
    assert len(calls) == 1


def test_mutating_commits_walk_the_manifests_once_when_uncontended(
    spark, tmp_path, monkeypatch
):
    """``delete_where`` and ``compact`` walk the manifests (``_iceberg_live``)
    once for their read; the commit re-walks only when the head moved since
    that read, and a lost race still conflicts loudly."""
    from flink_gmall2024_realtime_spark.operators import iceberg
    from flink_gmall2024_realtime_spark.streaming.delta import (
        ConcurrentWriteError,
    )

    sink = iceberg.IcebergAppendSink(spark, str(tmp_path / "t"))
    for b in range(6):
        sink.commit_batch(
            spark.range(10 * b, 10 * b + 10).selectExpr("id AS k", "id % 7 AS v"), b
        )
    store = iceberg.IcebergKeyedStore(
        spark, str(tmp_path / "store"), key="k", order_col="ord", type_col="op"
    )
    for b in range(6):
        store.commit_batch(
            spark.range(b, b + 4).selectExpr(
                "id AS k", f"id * 10 + {b} AS v", f"{b}L AS ord", "'u' AS op"
            ),
            b,
        )
    want = sorted((r.k, r.v) for r in store.read_as_of().select("k", "v").collect())

    walks: list = []
    real = iceberg._iceberg_live

    def counted(*a, **kw):
        walks.append(a[2:3])
        return real(*a, **kw)

    monkeypatch.setattr(iceberg, "_iceberg_live", counted)
    assert sink.delete_where("k % 3 = 0", 6) is not None
    assert len(walks) == 1
    walks.clear()
    assert sink.delete_where("k % 3 = 0", 6) is None
    assert walks == []
    assert sorted(r.k for r in iceberg.iceberg_scan(spark, sink.path).collect()) == [
        k for k in range(60) if k % 3
    ]

    walks.clear()
    assert store.compact(6) is not None
    assert len(walks) == 1
    assert (
        sorted((r.k, r.v) for r in store.read_as_of().select("k", "v").collect())
        == want
    )

    # lost race: a merge lands between compact's read and its publish
    orig_scan = iceberg.iceberg_scan
    fired: dict = {}

    def raced(spark_, p, *a, **kw):
        if not fired:
            fired["done"] = True
            iceberg.IcebergKeyedStore(
                spark, store.path, key="k", order_col="ord", type_col="op"
            ).commit_batch(
                spark.range(1).selectExpr(
                    "id AS k", "-1L AS v", "7L AS ord", "'u' AS op"
                ),
                7,
            )
        return orig_scan(spark_, p, *a, **kw)

    monkeypatch.setattr(iceberg, "iceberg_scan", raced)
    with pytest.raises(ConcurrentWriteError, match="compact"):
        store.compact(8)
    assert fired
