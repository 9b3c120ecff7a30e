"""The reference warehouse topology wired from the engine's public pieces:
four concurrent streaming queries over the ODS directories.

- ``dim``: ``etl_db_stream`` -> ``dim_app_pipeline`` (config-routed,
  column-pruned keyed upserts into two dim tables);
- ``dwd``: ``dwd_base_log_pipeline`` fanned out to the five branch sinks in
  one ``foreachBatch``;
- ``dws``: the page branch, 10 s tumbling window under a 5 s watermark ->
  ``append_serving_sink``;
- ``state``: per-device first-seen state via ``streaming.state.apply_stateful``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall2024_realtime_spark.operators.etl import etl_db_stream, etl_log_stream
from flink_gmall2024_realtime_spark.streaming import pipelines, sinks
from flink_gmall2024_realtime_spark.streaming.state import (
    FIRST_SEEN_SCHEMA,
    FIRST_SEEN_STATE,
    apply_stateful,
    first_seen_repair_func,
)

from .ods import SINK_COLUMNS

QUERIES = ("dim", "dwd", "dws", "state")
BRANCHES = ("err", "start", "display", "action", "page")
WATERMARK = "5 seconds"
WINDOW = "10 seconds"
DWS_TABLE = "dws_traffic_page_view_window"
STATE_TABLE = "dwd_device_first_seen"


def _cur_date(ts_ms) -> F.Column:
    return F.date_format(F.timestamp_millis(ts_ms), "yyyy-MM-dd")


def page_window(page: DataFrame) -> DataFrame:
    """DwsTrafficPageViewWindow shape: per page_id, 10 s tumbling counts."""
    rows = page.withColumn("row_time", F.timestamp_millis(F.col("ts")))
    return (
        rows.withWatermark("row_time", WATERMARK)
        .groupBy(F.window("row_time", WINDOW), F.col("page.page_id").alias("page_id"))
        .agg(F.count(F.lit(1)).alias("pv_ct"), F.sum("page.during_time").alias("dur_sum"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            F.date_format("window.start", "yyyy-MM-dd").alias("cur_date"),
            "page_id",
            "pv_ct",
            "dur_sum",
        )
    )


def dwd_fanout(out_dir: str):
    """One foreachBatch that runs the DwdBaseLog split once per batch and
    appends each branch to its own serving sink."""
    writers = {b: sinks.append_serving_sink(out_dir, f"dwd_traffic_{b}") for b in BRANCHES}

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for name, df in pipelines.dwd_base_log_pipeline(batch).items():
                writers[name](df.withColumn("cur_date", _cur_date(F.col("ts"))), batch_id)
        finally:
            batch.unpersist()

    return write


def dim_config(spark: SparkSession) -> DataFrame:
    rows = [(t, f"dim_{t}", cols, "id", "c") for t, cols in sorted(SINK_COLUMNS.items())]
    return spark.createDataFrame(
        rows,
        "source_table string, sink_table string, sink_columns string, "
        "sink_row_key string, op string",
    )


def start(spark: SparkSession, root: str, wrap) -> dict:
    """Start the four queries over ``root/ods``, triggers back to back, one
    file per trigger. ``wrap(name, fn)`` wraps each foreachBatch writer."""
    ods = os.path.join(root, "ods")

    def read(topic: str) -> DataFrame:
        return (
            spark.readStream.format("text").schema("value string")
            .option("maxFilesPerTrigger", "1")
            .load(os.path.join(ods, topic))
        )

    def launch(name: str, df: DataFrame, fn):
        return (
            df.writeStream.queryName(name)
            .foreachBatch(wrap(name, fn))
            .option("checkpointLocation", os.path.join(root, "ckpt", name))
            .trigger(processingTime="0 seconds")
            .start()
        )

    catalog = sinks.DimCatalog(os.path.join(root, "dim"))
    dim_fn = pipelines.dim_app_pipeline(spark, None, dim_config(spark), catalog, root)
    page = pipelines.dwd_base_log_pipeline(read("topic_log"))["page"]
    keyed = etl_log_stream(read("topic_log")).select(
        F.col("common.mid").alias("key"), _cur_date(F.col("ts")).alias("cur_date")
    )
    first_seen = apply_stateful(
        keyed.groupBy("key"), first_seen_repair_func, FIRST_SEEN_SCHEMA, FIRST_SEEN_STATE
    )
    return {
        "dim": launch("dim", etl_db_stream(read("topic_db")), dim_fn),
        "dwd": launch("dwd", read("topic_log"), dwd_fanout(os.path.join(root, "dwd"))),
        "dws": launch(
            "dws", page_window(page),
            sinks.append_serving_sink(os.path.join(root, "dws"), DWS_TABLE),
        ),
        "state": launch(
            "state", first_seen,
            sinks.append_serving_sink(os.path.join(root, "state"), STATE_TABLE),
        ),
    }
