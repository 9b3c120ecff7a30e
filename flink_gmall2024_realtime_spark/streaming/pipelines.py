"""End-to-end streaming topologies (SURVEY §3) in fixture (file-stream) mode.

Each topology is the Spark re-expression of a reference app; the same
DataFrame-building code runs against Kafka sources (streaming/kafka.py) in a
live deployment — only the source/sink edges differ (the FlinkSourceUtil /
FlinkSinkUtil split, mirrored here).

Fixture mode streams the driver's parquet through a file source with
``maxFilesPerTrigger``/availableNow so tests replay deterministic micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.etl import etl_log_stream
from ..operators.split import split_log_stream
from .sinks import TABLE_COL, DimCatalog, upsert_tables
from .state import (
    FIRST_SEEN_SCHEMA,
    FIRST_SEEN_STATE,
    apply_stateful,
    first_seen_repair_func,
)


def stream_events(spark: SparkSession, sf_dir: str, schema=None) -> DataFrame:
    """Replay the events fixture as a stream with ``ts`` normalized exactly
    like the batch reader.

    File streams require a declared schema; hard-coding one would silently
    desync from the driver's fixture format (which has already changed
    TIMESTAMP(NANOS)-as-bigint -> timestamp[us] between rounds), so the
    schema is ``footer_schema`` of the same file (the batch reader's, read
    on the driver with no Spark job) and the ts normalization is the shared
    dtype-conditional one in ``sources.fixtures``."""
    from ..sources.fixtures import _normalize_events, footer_schema, table_path

    sch = schema or footer_schema(table_path(sf_dir, "events"))
    # file stream sources take a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_events(raw)


def windowed_type_counts(events: DataFrame, watermark: str = "5 seconds") -> DataFrame:
    """A1/W1 streaming form: watermarked 10 s tumbling window per event_type —
    identical logical plan to the batch catalog query, plus late-data drop.
    Event-time watermark needs TIMESTAMP (not NTZ): the cast only shifts the
    epoch, window boundaries stay wall-aligned."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("pv_ct"), F.round(F.sum("value"), 2).alias("val_sum"))
    )
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        F.date_format("window.start", "yyyy-MM-dd").alias("cur_date"),
        "event_type",
        "pv_ct",
        "val_sum",
    )


def is_new_repair_stream(events: DataFrame) -> DataFrame:
    """W2 streaming form: applyInPandasWithState keyed by user, state = first
    active date (DwdBaseLog.java:154-198). Output (key, cur_date, is_new)."""
    keyed = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.date_format("ts", "yyyy-MM-dd").alias("cur_date"),
    )
    return apply_stateful(
        keyed.groupBy("key"), first_seen_repair_func, FIRST_SEEN_SCHEMA, FIRST_SEEN_STATE
    )


def dwd_base_log_pipeline(raw_logs: DataFrame) -> dict[str, DataFrame]:
    """The DwdBaseLog topology (DwdBaseLog.java:46-93): edge ETL then 5-way
    split. Works identically on a batch or streaming DataFrame of JSON log
    lines — Catalyst shares the parse across all five branches."""
    parsed = etl_log_stream(raw_logs)
    return split_log_stream(parsed)


def dim_app_pipeline(
    spark: SparkSession,
    db_stream: DataFrame,
    config_df: DataFrame,
    catalog: DimCatalog,
    warehouse: str,
):
    """The DimApp topology (DimApp.java:56-85) as one foreachBatch loop:

    1. apply config ops to the dim catalog (R4 DDL side effects);
    2. route each CDC record through a literal map from ``source_table`` to
       its ``(table index, kept columns, row-key column)`` routes, built from
       the config rows just collected (J5 without a join) — the reference's
       broadcast-state race machinery (W5) is unnecessary: config is read
       fresh at the top of every batch; a source routed to several dim
       tables explodes into one row per route;
    3. prune each record's ``data`` to the config's sinkColumns (P6) and
       take ``row_key`` from the pruned map;
    4. keyed upsert (insert/update) or delete into every dim table at once
       (K5): one merge and one write per batch (``sinks.upsert_tables``).

    Returns the foreachBatch function (also directly callable on batch
    DataFrames for deterministic tests).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        cfg_rows = config_df.collect()
        catalog.apply_ops(cfg_rows)
        active = [r for r in cfg_rows if r["op"] != "d"]
        tables = list(dict.fromkeys(r["sink_table"] for r in active))
        if not tables:
            return
        routes: dict[str, list] = {}
        for r in active:
            keep = r["sink_columns"].split(",") if r["sink_columns"] is not None else []
            routes.setdefault(r["source_table"], []).append(F.struct(
                F.lit(tables.index(r["sink_table"])).alias(TABLE_COL),
                F.array(*[F.lit(c) for c in keep]).cast("array<string>").alias("keep"),
                F.lit(r["sink_row_key"]).cast("string").alias("rk"),
            ))
        route_map = F.create_map(*[
            x for src, rs in routes.items() if src is not None for x in (F.lit(src), F.array(*rs))
        ])
        routed = batch.select(
            F.explode(route_map[F.col("table")]).alias("r"), "type", "data", "ts"
        )
        pruned = routed.withColumn(
            "data",
            F.map_filter(F.col("data"), lambda k, _v: F.array_contains(F.col("r.keep"), k)),
        )
        upsert_tables(
            spark,
            catalog.root,
            [catalog.path(t) + "/table" for t in tables],
            pruned.select(
                F.col(f"r.{TABLE_COL}").alias(TABLE_COL),
                F.col("data")[F.col("r.rk")].alias("row_key"),
                "type",
                "data",
                "ts",
            ),
            batch_id,
            "row_key",
            "ts",
            type_col="type",
        )

    return process_batch


def dws_user_register_pipeline(events: DataFrame, watermark: str = "5 seconds") -> DataFrame:
    """The register-window app (DwsUserUserRegisterWindow.java:56-106) on a
    stream: the event time is the STRING ``create_time`` of the JSON payload
    (parsed tz-pinned, :82-88), malformed rows dropped (:90-106), then a
    10 s tumbling count with a 5 s bounded-out-of-orderness watermark —
    identical logical plan to the batch catalog query ``dws_user_register``
    plus late-data drop."""
    from ..functions import date_to_ts, json_get

    ev = events.filter(F.col("event_type") == "signup")
    payload = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.when(
                    F.col("event_id") % 97 != 0,
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                ).alias("create_time"),
            )
        ).alias("value")
    )
    parsed = payload.select(
        json_get(F.col("value"), "id").alias("id"),
        json_get(F.col("value"), "create_time").alias("create_time"),
    )
    ok = parsed.filter(F.col("id").isNotNull() & F.col("create_time").isNotNull())
    ts = F.timestamp_millis(date_to_ts(F.col("create_time")))
    out = (
        ok.withColumn("evt", ts)
        .withWatermark("evt", watermark)
        .groupBy(F.window("evt", "10 seconds"))
        .agg(F.count(F.lit(1)).alias("register_ct"))
    )
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "register_ct",
    )


def dws_keyword_pipeline(events: DataFrame, watermark: str = "5 seconds") -> DataFrame:
    """The traffic-keyword DWS app
    (DwsTrafficSourceKeywordPageViewWindow.java:61-90) on a stream: search
    filter -> keyword extraction from the JSON payload -> watermarked 10 s
    tumbling keyword counts with the stt/edt/cur_date serving decoration —
    identical logical plan to the batch catalog ``dws_keyword_window`` plus
    late-data drop."""
    from ..functions import json_get

    kw = events.filter(F.col("event_type") == "view").select(
        F.col("ts").cast("timestamp").alias("evt"),
        F.concat(F.lit("kw_"), json_get(F.col("props"), "k")).alias("keyword"),
    )
    out = (
        kw.withWatermark("evt", watermark)
        .groupBy(F.window("evt", "10 seconds"), "keyword")
        .agg(F.count(F.lit(1)).alias("keyword_count"))
    )
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        F.date_format("window.start", "yyyy-MM-dd").alias("cur_date"),
        "keyword",
        "keyword_count",
    )


def dwd_trade_pay_suc_pipeline(
    od_stream: DataFrame,
    pay_stream: DataFrame,
    dic: DataFrame,
    watermark: str = "30 seconds",
) -> DataFrame:
    """The composed payment-success app (DwdTradeOrderPaySucDetail.java:
    76-168) as a REAL two-stream topology: the status-flip-filtered payment
    stream interval-joins the order-detail stream (both watermarked; the
    equality conjunct keeps it a keyed state-store join, the ±range bounds
    the state each side retains — Flink's idle-state TTL, expressed as
    watermark distance), then left-lookup-joins the static payment_type
    dict per micro-batch.

    ``od_stream`` needs (id, order_id, sku_id, split_total_amount,
    province_id, od_ts); ``pay_stream`` needs (order_id, user_id,
    payment_type_code, pay_ts). Inner stream-stream joins emit matches
    eagerly, so an availableNow replay produces exactly the batch plan's
    rows."""
    from ..operators.joins import interval_join, lookup_join

    od = od_stream.withWatermark("od_ts", watermark)
    pay = pay_stream.withWatermark("pay_ts", watermark)
    joined = interval_join(od, pay, "order_id", "od_ts", "pay_ts")
    return lookup_join(joined, dic, "payment_type_code", "dic_code", how="left").select(
        "id",
        od["order_id"].alias("order_id"),
        "user_id",
        "payment_type_code",
        F.col("dic_name").alias("payment_type_name"),
        F.date_format("pay_ts", "yyyy-MM-dd HH:mm:ss").alias("payment_time"),
        "sku_id",
        "province_id",
        "split_total_amount",
    )


def dws_user_login_pipeline(events: DataFrame) -> DataFrame:
    """The user-login DWS app (DwsUserUserLoginWindow.java:69-135) composed
    end-to-end on a stream: keyed returning-user state (uu/back per active
    date) feeding the serving aggregate (cur_date, uu_ct, back_ct).

    The stateful stage shards by user exactly like the reference's keyBy;
    output mode is update-per-date via the downstream aggregate in
    foreachBatch/complete mode."""
    from pyspark.sql import functions as F

    from .state import LOGIN_SCHEMA, LOGIN_STATE, apply_stateful, returning_user_func

    keyed = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.date_format("ts", "yyyy-MM-dd").alias("cur_date"),
    )
    flags = apply_stateful(keyed.groupBy("key"), returning_user_func, LOGIN_SCHEMA, LOGIN_STATE)
    return flags.groupBy("cur_date").agg(
        F.sum("uu").alias("uu_ct"), F.sum("back").alias("back_ct")
    )
