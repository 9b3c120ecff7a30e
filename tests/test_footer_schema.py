"""Fixture reads declare their schema from the parquet footer
(``sources.fixtures.footer_schema``): the declared schema must be the one
Spark's inference would give, and building a fixture read must start no
Spark job."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_gmall2024_realtime_spark.sources import fixtures

SCALE_FACTORS = ("sf0.001", "sf0.01", "sf0.1")


def _shape(schema):
    return [(f.name, f.dataType) for f in schema]


def _assert_footer_matches_inference(spark, path):
    inferred = spark.read.parquet(path).schema
    assert _shape(fixtures.footer_schema(path)) == _shape(inferred)


@pytest.mark.parametrize("name", fixtures.TABLES)
@pytest.mark.parametrize("sf", SCALE_FACTORS)
def test_footer_schema_equals_inferred_on_fixture_tables(spark, sf_dir, sf, name):
    """Every fixture table at every scale factor beside the test one."""
    table_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(table_dir):
        pytest.skip(f"{table_dir} not present")
    _assert_footer_matches_inference(spark, fixtures.table_path(table_dir, name))


def test_footer_schema_equals_inferred_on_spark_written_directory(spark, tmp_path):
    """A directory table Spark wrote (several part files, ``_SUCCESS``,
    ``.crc`` side files), with the types whose parquet encoding alone
    would not say what Spark reads: INT96 timestamps, ``timestamp_ntz``,
    decimals, nested arrays/maps/structs."""
    path = str(tmp_path / "spark_dir")
    spark.range(40).selectExpr(
        "id",
        "CAST(id AS INT) AS i",
        "CAST(id AS DECIMAL(12, 2)) AS dec",
        "DATE'2024-01-01' + CAST(id AS INT) AS d",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts_ntz",
        "array(id, id + 1) AS arr",
        "map('k', CAST(id AS DOUBLE)) AS m",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
    ).repartition(3).write.parquet(path)
    assert len(fixtures.data_files(path)) == 3
    _assert_footer_matches_inference(spark, path)
    got = spark.read.schema(fixtures.footer_schema(path)).parquet(path)
    assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())


def test_footer_schema_equals_inferred_on_pyarrow_type_zoo(spark, tmp_path):
    """Every Arrow type the explicit mapping names, written by pyarrow."""
    n = 3
    table = pa.table(
        {
            "b": pa.array([True, False, None]),
            "i8": pa.array([1, 2, 3], pa.int8()),
            "i16": pa.array([1, 2, 3], pa.int16()),
            "u8": pa.array([1, 2, 3], pa.uint8()),
            "u16": pa.array([1, 2, 3], pa.uint16()),
            "u32": pa.array([1, 2, 3], pa.uint32()),
            "u64": pa.array([1, 2, 3], pa.uint64()),
            "f": pa.array([1.0, 2.0, 3.0], pa.float32()),
            "s": pa.array(["a", "b", "c"], pa.large_string()),
            "bin": pa.array([b"a", b"b", b"c"], pa.binary()),
            "dict": pa.array(["x", "y", "x"]).dictionary_encode(),
            "dec": pa.array([decimal.Decimal("1.25")] * n, pa.decimal128(9, 2)),
            "d": pa.array([datetime.date(2024, 1, 1)] * n, pa.date32()),
            "ts_ms": pa.array([0, 1, 2], pa.timestamp("ms")),
            "ts_us_utc": pa.array([0, 1, 2], pa.timestamp("us", tz="UTC")),
            "ts_ns": pa.array([0, 1000, 2000], pa.timestamp("ns")),
            "lst": pa.array([[1.0], [], None], pa.list_(pa.float32())),
            "mp": pa.array([[("k", 1)], [], None], pa.map_(pa.string(), pa.int64())),
            "st": pa.array(
                [{"x": 1, "y": "a"}] * n,
                pa.struct([("x", pa.int32()), ("y", pa.string())]),
            ),
        }
    )
    path = str(tmp_path / "zoo.parquet")
    pq.write_table(table, path)
    _assert_footer_matches_inference(spark, path)


def test_footer_schema_raises_on_an_unmappable_column(tmp_path):
    path = str(tmp_path / "dur.parquet")
    pq.write_table(
        pa.table({"ok": [1], "lag": pa.array([5], pa.duration("us"))}), path
    )
    with pytest.raises(TypeError, match="'lag'"):
        fixtures.footer_schema(path)
    pq.write_table(
        pa.table({"t96": pa.array([0], pa.timestamp("ns"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    with pytest.raises(TypeError, match="'t96'"):
        fixtures.footer_schema(path)
    with pytest.raises(FileNotFoundError):
        fixtures.footer_schema(str(tmp_path / "missing"))


def test_footer_schema_equals_inferred_on_both_events_flavours(
    spark, sf_dir, tmp_path
):
    """``events.ts`` has shipped as zone-less timestamp[us] (the current
    fixtures) and as TIMESTAMP(NANOS). The µs flavour must read as
    ``timestamp_ntz``: read as ``timestamp`` it shifts by the session's
    +08:00. The ns flavour reads as bigint, and after ``_normalize_events``
    both flavours hold the same rows."""
    us_path = fixtures.table_path(sf_dir, "events")
    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    ns_path = str(ns_dir / "events.parquet")
    tbl = pq.read_table(us_path)
    assert tbl.schema.field("ts").type == pa.timestamp("us")
    ts_i = tbl.schema.get_field_index("ts")
    pq.write_table(
        tbl.set_column(ts_i, "ts", tbl.column("ts").cast(pa.timestamp("ns"))),
        ns_path,
        version="2.6",
    )
    for path, ts_type in ((us_path, "timestamp_ntz"), (ns_path, "bigint")):
        _assert_footer_matches_inference(spark, path)
        assert dict(fixtures.read_parquet(spark, path).dtypes)["ts"] == ts_type
    us = fixtures.load_table(spark, sf_dir, "events")
    ns = fixtures.load_table(spark, str(ns_dir), "events")
    assert dict(ns.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(us.collect()) == sorted(ns.collect())
    first = min(r.ts for r in us.select("ts").collect())
    assert first == min(tbl.column("ts").to_pylist())


def test_load_table_starts_no_spark_job(spark, sf_dir):
    """Building a fixture read (and asking its schema) runs no job: the
    schema comes from the footer on the driver, not from Spark's
    inference job."""
    sc = spark.sparkContext
    group = "test_load_table_starts_no_spark_job"
    sc.setJobGroup(group, "fixture reads")
    try:
        for name in fixtures.TABLES:
            df = fixtures.load_table(spark, sf_dir, name)
            assert df.columns and df.schema.fields
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
