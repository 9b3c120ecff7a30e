"""Fixture (file) sources: the driver's deterministic parquet tables.

Batch analogue of the reference's Kafka sources (``FlinkSourceUtil.java:24-56``)
for correctness checking: each parquet table is read with schema pushdown and
registered as a temp view so both the DataFrame API and ``spark.sql`` paths
work — the same way the reference registers Kafka topics as Flink SQL tables
(``SQLUtil.java:25-37``).

Like the reference's DDL, every read declares its schema up front:
``footer_schema`` derives it from one file footer on the driver, so building
a plan over a fixture table starts no Spark schema-inference job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table (``read_parquet``); ``events`` additionally gets
    its ``ts`` normalized."""
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events(df)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema declared from the
    footer (``footer_schema``): the same columns and types, and no Spark
    schema-inference job when the plan is built."""
    return spark.read.schema(footer_schema(path)).parquet(path)


def data_files(path: str) -> list[str]:
    """The parquet data files of a table: ``path`` itself when it is a
    file, else every ``*.parquet`` below it in sorted order, skipping the
    ``_``/``.`` names Spark treats as hidden (``_SUCCESS``, ``.crc``,
    ``_delta_log``). [] when ``path`` does not exist."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(files)


# Spark's own schema JSON, written into the footer of every file it writes;
# its schema inference prefers it over the parquet types, and so do we
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_ARROW_SCALARS = {
    "bool": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    # Spark widens unsigned parquet ints to the next signed type
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
    "binary": T.BinaryType(),
    "large_binary": T.BinaryType(),
    "date32[day]": T.DateType(),
}


def footer_schema(path: str) -> T.StructType:
    """The schema Spark's parquet inference would give ``path`` (a file or
    a directory table), read from the footer of its first data file on the
    driver with pyarrow: no Spark job.

    Files Spark wrote carry their Spark schema in the footer, which is
    taken as is. Otherwise the Arrow types map explicitly, as Spark's
    reader maps the parquet types under this engine's session confs:
    ``timestamp[ns]`` is ``bigint`` (``nanosAsLong``), a zone-less
    timestamp is ``timestamp_ntz`` (``inferTimestampNTZ``; reading it as
    ``timestamp`` would shift every value by the session's zone offset),
    a zoned one ``timestamp``. Every column is nullable, as Spark makes
    every file-source column. A type with no mapping raises, naming its
    column: there is no fallback to inference."""
    import pyarrow.parquet as pq

    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data file at {path!r}")
    with pq.ParquetFile(files[0]) as pf:
        md, arrow = pf.metadata, pf.schema_arrow
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        return _as_nullable(T.StructType.fromJson(json.loads(spark_json)))
    for i in range(md.num_columns):
        leaf = md.schema.column(i)
        if leaf.physical_type == "INT96":
            raise TypeError(
                f"{path}: column {leaf.path.split('.')[0]!r} is an INT96 "
                "timestamp outside a Spark-written file; no footer mapping"
            )
    return T.StructType(
        [T.StructField(f.name, _spark_type(f.type, f.name), True) for f in arrow]
    )


def _spark_type(at, column: str) -> T.DataType:
    import pyarrow.types as pat

    if pat.is_timestamp(at):
        if at.unit == "ns":
            return T.LongType()
        return T.TimestampNTZType() if at.tz is None else T.TimestampType()
    if pat.is_decimal(at):
        return T.DecimalType(at.precision, at.scale)
    if pat.is_dictionary(at):
        return _spark_type(at.value_type, column)
    if pat.is_list(at) or pat.is_large_list(at):
        return T.ArrayType(_spark_type(at.value_type, column), True)
    if pat.is_map(at):
        return T.MapType(
            _spark_type(at.key_type, column),
            _spark_type(at.item_type, column),
            True,
        )
    if pat.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, column), True) for f in at]
        )
    if str(at) in _ARROW_SCALARS:
        return _ARROW_SCALARS[str(at)]
    raise TypeError(f"column {column!r}: no Spark read type for parquet type {at}")


def _as_nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to timestamp_ntz whatever the fixture's
    on-disk flavor.  The driver has shipped two formats across rounds:
    TIMESTAMP(NANOS), whose ``footer_schema`` type is bigint nanos (what
    Spark reads under ``spark.sql.legacy.parquet.nanosAsLong``) and which
    we rebuild here (ns -> µs instant -> reinterpret the UTC wall time as
    naive wall time: the to_utc_timestamp shifts by the fixed +08:00
    session offset, the cast reads it back out — bit-identical to what
    DuckDB/pyarrow see in the file), and plain timestamp[us] with
    isAdjustedToUTC=false, which reads as timestamp_ntz and passes through
    untouched. Batch (``load_table``) and stream (``stream_events``) reads
    both declare the footer schema, so both arrive here with one of these
    two types."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        # integer div — a double division would lose precision above 2^53 ns
        ntz = F.to_utc_timestamp(
            F.timestamp_micros(F.expr("ts div 1000")), "Asia/Shanghai"
        ).cast("timestamp_ntz")
        df = df.withColumn("ts", ntz)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load all fixture tables as DataFrames (lazy — scans are deferred, so
    Catalyst still prunes columns/filters down to the parquet reader)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load and register every fixture table as a temp view for SQL use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
