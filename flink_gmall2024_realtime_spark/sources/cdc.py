"""Config-table (CDC) sources — the MySQL-CDC / JDBC capability (S3/S4).

The reference watches its routing-config tables with Flink CDC
(``FlinkSourceUtil.getMySqlSource``, :58-77 — snapshot then binlog,
parallelism forced to 1) and *also* preloads them over raw JDBC to dodge the
broadcast-race (``JdbcUtil.queryList``, :37-68; ``DimBroadcastFunction.java:
39-46``).

Under micro-batch semantics the whole construction collapses: the config is a
tiny table (one row per routed source table), so the engine re-reads a fresh
snapshot at the top of every batch — always-consistent, no race, no binlog
client. Three interchangeable providers:

- ``jdbc_config_source``   — live deployments: ``spark.read.jdbc`` each batch
- ``file_config_source``   — fixture/tests: parquet/csv/json snapshot
- ``cdc_log_config_source``— when the config *is* delivered as a CDC changelog
  (Debezium-style {op, before, after} records, e.g. over Kafka): fold the log
  into current state with last-write-wins by primary key, drop 'd' ops —
  the same upsert semantics as streaming/sinks.upsert_batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fixtures import read_parquet

TABLE_PROCESS_DIM_SCHEMA = (
    "source_table string, sink_table string, sink_columns string, "
    "sink_family string, sink_row_key string, op string"
)

TABLE_PROCESS_DWD_SCHEMA = (
    "source_table string, source_type string, sink_table string, sink_columns string, op string"
)


def jdbc_config_source(
    spark: SparkSession, url: str, table: str, user: str, password: str, driver: str | None = None
) -> DataFrame:
    """S4 — bounded JDBC snapshot of a config table (JdbcUtil.queryList
    equivalent; snake_case column names end-to-end make the reference's
    camelCase bean mapping moot, F12)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if driver:
        reader = reader.option("driver", driver)
    return reader.load()


def file_config_source(spark: SparkSession, path: str, schema: str = TABLE_PROCESS_DIM_SCHEMA) -> DataFrame:
    """Fixture-mode config snapshot (csv/json/parquet by extension)."""
    if path.endswith(".csv"):
        return spark.read.schema(schema).option("header", "true").csv(path)
    if path.endswith(".json") or path.endswith(".jsonl"):
        return spark.read.schema(schema).json(path)
    return read_parquet(spark, path)


def cdc_log_config_source(
    changelog: DataFrame, key: str = "source_table", order_col: str = "ts"
) -> DataFrame:
    """S3 — fold a Debezium-style config changelog into current state.

    Input rows: ``op`` (c|r|u|d), ``before``/``after`` (struct or map), plus
    an ordering column. Snapshot ('r') and create ('c') rows seed state,
    updates replace by key, deletes remove — the DimApp.java:132-151 parse,
    minus the per-record HBase DDL side effects (those live in
    streaming/sinks.DimCatalog.apply_ops, driven by the same ``op``)."""
    flat = changelog.select(
        F.col("op"),
        F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after")).alias("row"),
        F.col(order_col).alias("_ord"),
    ).select("op", "row.*", "_ord")
    w = Window.partitionBy(key).orderBy(F.col("_ord").desc())
    latest = (
        flat.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ord")
    )
    return latest.filter(F.col("op") != "d")
