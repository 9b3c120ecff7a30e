"""Gmall pipeline semantics over the events stream table.

Split from the original single-file ``plans/catalog.py`` (r9, VERDICT r7
#6) with ZERO entry changes: importing this module registers its section's
queries into the shared ``catalog.CATALOG`` registry; the full oracle run
proves behavior identity. Shared determinism rules live in ``catalog``'s
module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..functions import (  # noqa: F401
    date_to_ts,
    json_get,
    json_map,
    md5_long,
    md5_long_sql_duckdb,
    ts_to_date,
    ts_to_datetime,
    ts_to_partition,
)
from ..operators import (  # noqa: F401
    dedup,
    graph,
    multimodal,
    similarity,
    sketch,
    skew,
    state,
    text,
)
from ..operators.etl import cdc_project, etl_db_stream  # noqa: F401
from ..operators.joins import (  # noqa: F401
    config_router_join,
    interval_join,
    lateral_tokens,
    lookup_join,
)
from ..operators.windows import daily_distinct_count, tumble  # noqa: F401
from ..sources.fixtures import load_table  # noqa: F401
from .catalog import CATALOG, QuerySpec, _t, register  # noqa: F401


# =========================================================================
# Gmall pipeline semantics over the events stream table
# =========================================================================


@register(
    "dwd_etl_project",
    oracle="""
SELECT event_id, user_id, event_type,
       json_extract_string(props, '$.k')::INT AS k_json,
       json_extract_string(props, '$.k')::INT AS k_map,
       CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END AS val_band
FROM events
WHERE event_type IN ('view', 'click') AND user_id IS NOT NULL
""",
    survey_ids=("P2", "P3", "F1", "F7", "F8"),
)
def dwd_etl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge ETL + JSON projection (DwdBaseLog.java:216-239 filter pattern;
    fastjson access DimApp.java:186-189): predicate pushdown reaches the
    parquet scan, JSON parsed once via both get_json_object and a
    map<string,string> subscript (SQLUtil.java:30-31 payload shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("view", "click") & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            json_get(F.col("props"), "k").cast("int").alias("k_json"),
            json_map(F.col("props"))["k"].cast("int").alias("k_map"),
            F.when(F.col("value") > 100, "hi").otherwise("lo").alias("val_band"),
        )
    )


@register(
    "dwd_cdc_route_project",
    oracle="""
SELECT o_orderkey AS id, o_totalprice AS total
FROM orders
WHERE o_orderkey % 4 <> 3
""",
    survey_ids=("P1", "P4", "S2"),
)
def dwd_cdc_route_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC envelope round-trip (P1 etl DimApp.java:181-201 + P4 map-subscript
    projection DwdInteractionCommentInfo.java:82-102): orders are wrapped into
    Maxwell-style JSON envelopes, pushed through the real edge parser+filter
    (bootstrap records dropped), and projected back out of the data map."""
    o = _t(spark, sf_dir, "orders")
    envelope = o.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("order_info").alias("table"),
                F.element_at(
                    F.array(F.lit("insert"), F.lit("update"), F.lit("delete"), F.lit("bootstrap-start")),
                    (F.col("o_orderkey") % 4 + 1).cast("int"),
                ).alias("type"),
                F.create_map(
                    F.lit("id"), F.col("o_orderkey").cast("string"),
                    F.lit("total"), F.col("o_totalprice").cast("string"),
                ).alias("data"),
                F.lit(0).alias("ts"),
            )
        ).alias("value")
    )
    parsed = etl_db_stream(envelope)
    return cdc_project(parsed, ["id", "total"]).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("total").cast("double").alias("total"),
    )


@register(
    "dws_tumble_type_counts",
    oracle="""
WITH b AS (
  SELECT time_bucket(INTERVAL '10 seconds', ts) AS w, event_type,
         count(*) AS pv_ct, round(sum(value), 2) AS val_sum
  FROM events GROUP BY 1, 2
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(w + INTERVAL '10 seconds', '%Y-%m-%d %H:%M:%S') AS edt,
       strftime(w, '%Y-%m-%d') AS cur_date,
       event_type, pv_ct, val_sum
FROM b
""",
    survey_ids=("A1", "A2", "W1"),
    bench=True,
)
def dws_tumble_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-second tumbling-window keyed counts — the flagship DWS shape
    (TUMBLE GROUP BY, DwsTrafficSourceKeywordPageViewWindow.java:61-72;
    window decorator stt/edt/cur_date :93-107). Partial (map-side)
    aggregation is automatic; the reference hand-builds it with reduce()."""
    ev = _t(spark, sf_dir, "events")
    return tumble(
        ev,
        "ts",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            F.round(F.sum("value"), 2).alias("val_sum"),
        ],
    )


@register(
    "dws_tumble_global_hourly",
    oracle="""
WITH b AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         count(*) AS pv_ct, count(DISTINCT user_id) AS uv_ct,
         round(sum(value), 2) AS val_sum
  FROM events GROUP BY 1
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(w + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS edt,
       strftime(w, '%Y-%m-%d') AS cur_date,
       pv_ct, uv_ct, val_sum
FROM b
""",
    survey_ids=("A3",),
)
def dws_tumble_global_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (non-keyed) window aggregate — the reference's parallelism-1
    windowAll (DwsTrafficHomeDetailPageViewWindow.java:71-95 etc.); Spark
    still computes distributed partials, strictly better at scale."""
    ev = _t(spark, sf_dir, "events")
    return tumble(
        ev,
        "ts",
        keys=[],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            F.count_distinct(F.col("user_id")).alias("uv_ct"),
            F.round(F.sum("value"), 2).alias("val_sum"),
        ],
        window_size="1 hour",
    )


@register(
    "dws_daily_uv",
    oracle="""
SELECT ts::DATE AS cur_date,
       count(DISTINCT user_id) AS uv_ct,
       count(*) AS pv_ct
FROM events GROUP BY 1
""",
    survey_ids=("A4", "W3"),
    bench=True,
)
def dws_daily_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily UV — the keyed-ValueState daily dedup
    (DwsTrafficVcChArIsNewPageViewWindow.java:134-189) in its deterministic
    (key, date) formulation."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("cur_date")).agg(
        F.count_distinct(F.col("user_id")).alias("uv_ct"),
        F.count(F.lit(1)).alias("pv_ct"),
    )


@register(
    "dws_session_window_agg",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS session_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, ts,
         sum(session_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start_ts,
       strftime(max(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end_ts,
       count(*) AS event_ct
FROM sid GROUP BY user_id, session_id
""",
    survey_ids=("W3", "A2"),
)
def dws_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (r7): the same 30-min-gap sessions as
    ``dws_session_count``, expressed with the built-in
    ``F.session_window(ts, gap)`` aggregate instead of the window-function
    sessionize — one groupBy, merging windows handled by the engine
    (SURVEY §2.8 notes the reference uses no session windows; this entry
    pins the native operator's semantics to the declarative gap rule:
    window.start = first event ts, window.end = last event ts + gap).
    The oracle derives the identical sessions via the lag/gap rule.
    Adversarial hot_key ×10 (900k rows on one user): 1.96 s bounded —
    Spark's session merge is a sort-based per-partition pass, so even the
    native form survives the flood (BASELINE.md survival table)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("event_ct"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start_ts"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end_ts"),
            "event_ct",
        )
    )


@register(
    "dws_is_new_repair",
    oracle="""
SELECT DISTINCT user_id, ts::DATE AS cur_date,
       CASE WHEN ts::DATE = min(ts::DATE) OVER (PARTITION BY user_id)
            THEN 1 ELSE 0 END AS is_new
FROM events
""",
    survey_ids=("W2",),
)
def dws_is_new_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New/old-visitor repair (DwdBaseLog.java:154-198): is_new holds only on
    the key's first active date. Declarative batch form of the ValueState op;
    streaming/state.py holds the applyInPandasWithState twin."""
    ev = _t(spark, sf_dir, "events")
    repaired = state.first_seen_repair(ev, "user_id", F.to_date("ts"))
    return repaired.select("user_id", "cur_date", "is_new").distinct()


@register(
    "dws_session_count",
    oracle="""
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS session_start
  FROM events
)
SELECT user_id, ts::DATE AS cur_date, sum(session_start)::BIGINT AS session_ct
FROM s GROUP BY 1, 2
""",
    survey_ids=("W3",),
    bench=True,
)
def dws_session_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the reference marks session starts via
    last_page_id IS NULL, DwsTrafficVcChArIsNewPageViewWindow.java:171-174;
    30-min inactivity gap is the general form): sessions per user per day."""
    ev = _t(spark, sf_dir, "events")
    s = state.sessionize(ev, "user_id", "ts", gap_seconds=1800)
    return s.groupBy("user_id", F.to_date("ts").alias("cur_date")).agg(
        F.sum("session_start").alias("session_ct")
    )


@register(
    "dws_returning_users",
    oracle="""
WITH v AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events),
f AS (SELECT user_id, d, lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev FROM v)
SELECT d AS cur_date, count(*) AS uu_ct,
       sum(CASE WHEN prev IS NOT NULL AND date_diff('day', prev, d) > 7
                THEN 1 ELSE 0 END)::BIGINT AS back_ct
FROM f GROUP BY 1
""",
    survey_ids=("W4",),
)
def dws_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returning-user detection (DwsUserUserLoginWindow.java:95-135): daily
    unique users + users coming back after a >7-day absence."""
    ev = _t(spark, sf_dir, "events")
    flags = state.returning_user_flags(ev.select("user_id", F.to_date("ts").alias("d")), "user_id", "d")
    return flags.groupBy(F.col("d").alias("cur_date")).agg(
        F.count(F.lit(1)).alias("uu_ct"), F.sum("back").alias("back_ct")
    )


@register(
    "dws_purchase_uu",
    oracle="""
SELECT ts::DATE AS cur_date, count(DISTINCT user_id) AS cart_add_uu_ct
FROM events WHERE event_type = 'purchase' GROUP BY 1
""",
    survey_ids=("A4", "W3", "P3"),
)
def dws_purchase_uu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily unique purchasers — the cart-add-UU pipeline shape
    (DwsTradeCartAddUuWindow.java:65-115): per-app ETL filter + daily
    ValueState dedup as dropDuplicates(key, date) + count."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return daily_distinct_count(ev, F.to_date("ts"), "user_id", out="cart_add_uu_ct")


@register(
    "dwd_interval_join",
    oracle="""
SELECT p.user_id, p.event_id AS pay_id, c.event_id AS click_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL '15 minutes'
 AND c.ts <= p.ts + INTERVAL '15 seconds'
""",
    survey_ids=("J3",),
    bench=True,
)
def dwd_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (DwdTradeOrderPaySucDetail.java:101-125): purchases
    paired with same-user clicks in [-15 min, +15 s] — equality conjunct keeps
    it a hash join on user_id, range applied within key partitions."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("pay_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    joined = interval_join(p, c.withColumnRenamed("c_user", "user_id"), "user_id", "p_ts", "c_ts")
    return joined.select(p["user_id"], "pay_id", "click_id")


@register(
    "dwd_lookup_join_dict",
    oracle="""
SELECT e.event_id, e.event_type, d.dic_name
FROM events e LEFT JOIN (VALUES
  ('view', 'View Page'), ('click', 'Click'),
  ('purchase', 'Purchase'), ('signup', 'Sign Up')
) d(dic_code, dic_name) ON e.event_type = d.dic_code
""",
    survey_ids=("J4", "S5"),
)
def dwd_lookup_join_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup (dictionary) join — FOR SYSTEM_TIME AS OF proc_time against the
    base_dic table (DwdTradeOrderPaySucDetail.java:76-99, left variant).
    Stream-static broadcast join: the dict is re-read per micro-batch, the
    fact side never shuffles."""
    ev = _t(spark, sf_dir, "events")
    dic = spark.createDataFrame(
        [("view", "View Page"), ("click", "Click"), ("purchase", "Purchase"), ("signup", "Sign Up")],
        "dic_code string, dic_name string",
    )
    return lookup_join(ev, dic, "event_type", "dic_code", how="left").select(
        "event_id", "event_type", "dic_name"
    )


@register(
    "dim_config_routing",
    oracle="""
SELECT cfg.sink_table, e.event_id,
       array_to_string(
         list_sort(list_intersect(['event_id','user_id','value'],
                                  string_split(cfg.sink_columns, ','))), ',') AS kept_keys
FROM events e
JOIN (VALUES
  ('purchase', 'dwd_trade_order',   'event_id,user_id,value'),
  ('click',    'dwd_traffic_click', 'event_id,user_id'),
  ('view',     'dwd_traffic_page',  'event_id')
) cfg(source_table, sink_table, sink_columns)
  ON e.event_type = cfg.source_table
""",
    survey_ids=("J5", "P6", "R3", "S3", "S4"),
)
def dim_config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-table-driven routing + runtime column pruning — the reference's
    most distinctive capability (DimBroadcastFunction.java:57-99 broadcast
    config join; DimApp.java:87-104 sinkColumns pruning; DwdBaseDb.java:77-98
    sink_table injection). Config is data: a table_process row per source,
    broadcast-joined, with the kept-column set applied via map_filter."""
    ev = _t(spark, sf_dir, "events")
    cfg = spark.createDataFrame(
        [
            ("purchase", "dwd_trade_order", "event_id,user_id,value"),
            ("click", "dwd_traffic_click", "event_id,user_id"),
            ("view", "dwd_traffic_page", "event_id"),
        ],
        "source_table string, sink_table string, sink_columns string",
    )
    routed = config_router_join(
        ev.withColumn("source_table", F.col("event_type")), cfg, on=["source_table"]
    )
    with_data = routed.withColumn(
        "data",
        F.create_map(
            F.lit("event_id"), F.col("event_id").cast("string"),
            F.lit("user_id"), F.col("user_id").cast("string"),
            F.lit("value"), F.col("value").cast("string"),
        ),
    )
    keep = F.split(F.col("sink_columns"), ",")
    pruned = with_data.withColumn(
        "data", F.map_filter(F.col("data"), lambda k, _v: F.array_contains(keep, k))
    )
    return pruned.select(
        "sink_table",
        "event_id",
        F.array_join(F.array_sort(F.map_keys(F.col("data"))), ",").alias("kept_keys"),
    )


@register(
    "k3_upsert_final_state",
    oracle="""
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    survey_ids=("K3", "K5"),
    bench=True,
)
def k3_upsert_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-upsert sink semantics (upsert-kafka PK compaction,
    DwdTradeOrderDetail.java:59-79; HBase put-by-rowkey,
    DimHBaseSinkFunction.java:34-47): last-write-wins final state per key.
    This dedup-by-key-keep-latest is exactly what the foreachBatch upsert
    writer (streaming/sinks.py) applies per micro-batch. Spelled as the
    partial-aggregatable argmax (``max_by`` over the (ts, event_id) order
    struct) so a hot key collapses map-side per task instead of shuffling
    its whole lifetime to one reducer and sorting it there."""
    ev = _t(spark, sf_dir, "events")
    from ..operators.skew import latest_by_key

    latest = latest_by_key(
        ev.select("user_id", "ts", "event_id", "event_type", "value"),
        "user_id",
        ("ts", "event_id"),
    )
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def _dim_store_asof(
    spark: SparkSession, sf_dir: str, prefix: str, make_store,
    clean_log: bool = False,
) -> DataFrame:
    """Three deterministic dim micro-batches (batch b = docs with
    doc_id%3==b, key doc_id%37, order doc_id; batch 2 carries deletes)
    committed through the keyed store ``make_store(path)`` builds, read
    back with ``read_as_of(1)``: the table AS IT STOOD before batch 2,
    proving an old snapshot survives later commits (the
    reproducible-training-run contract). ``clean_log`` prunes the JSON log
    after batch 1 and replays batch 1 over the cleaned log, so the batch-2
    commit and the time travel both resolve through the checkpoint. The
    shared oracle folds batches 0+1 independently (batch-1 rows overwrite
    batch-0 per key; within a batch the max-doc_id row wins)."""
    import shutil as _shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 37).alias("k"),
        F.col("doc_id").alias("v"),
        (F.col("doc_id") % 3).cast("int").alias("src_batch"),
        F.col("doc_id").alias("ord"),
    )
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        store = make_store(tmp)
        write = store.sink()
        for b in range(3):
            batch = docs.filter(F.col("src_batch") == b).withColumn(
                "op",
                F.when(
                    (F.lit(b) == 2) & (F.col("k") % 5 == 0), F.lit("delete")
                ).otherwise(F.lit("u")),
            )
            write(batch, b)
            if clean_log and b == 1:
                store.clean_log()  # prune the JSON prefix mid-stream
                write(batch, b)  # at-least-once replay over a cleaned log
        asof = store.read_as_of(1).select("k", "v", "src_batch").toPandas()
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(asof, "k long, v long, src_batch int")


@register(
    "dim_version_store_asof",
    oracle="""
WITH r AS (
  SELECT doc_id % 37 AS k, doc_id AS v, (doc_id % 3)::INT AS b, doc_id
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
SELECT k::BIGINT AS k,
       arg_max(v, b * 10000000000 + doc_id)::BIGINT AS v,
       arg_max(b, b * 10000000000 + doc_id)::INT AS src_batch
FROM r GROUP BY k
""",
    survey_ids=("K5", "W6"),
)
def dim_version_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned keyed store time travel (r11 — VERDICT r10 #4): the dim
    micro-batches of ``_dim_store_asof`` commit through a plain
    ``DeltaKeyedStore`` (one MERGE-as-compaction Delta commit per batch,
    JSON log only) and the entry reads version 1 — the table before
    batch 2 (Delta versions are 0-based). The store is driver-local here
    only because the fixture fits; snapshots are parquet files under a
    Delta log, so at scale the same table lives on the object store and
    readers stay fully distributed (``streaming/delta.py``)."""
    from ..streaming.delta import DeltaKeyedStore

    return _dim_store_asof(
        spark, sf_dir, "dim_version_store_asof_",
        lambda path: DeltaKeyedStore(spark, path, "k", "ord", type_col="op"),
    )


@register(
    "delta_keyed_store_asof",
    oracle="""
WITH r AS (
  SELECT doc_id % 37 AS k, doc_id AS v, (doc_id % 3)::INT AS b, doc_id
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
SELECT k::BIGINT AS k,
       arg_max(v, b * 10000000000 + doc_id)::BIGINT AS v,
       arg_max(b, b * 10000000000 + doc_id)::INT AS src_batch
FROM r GROUP BY k
""",
    survey_ids=("K5", "W6"),
)
def delta_keyed_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-backed keyed store time travel (r12 — VERDICT r11 #6): the
    SAME dim micro-batches and oracle as ``dim_version_store_asof``,
    through a ``DeltaKeyedStore`` writing a checkpoint parquet every 2
    commits with ``clean_log()`` pruning the JSON prefix MID-STREAM after
    batch 1 and batch 1 REPLAYED once (skipped via txn rows). Proves the
    Delta surface end-to-end under the oracle: nested-parquet checkpoint
    decode, pruned-log replay, and keyed-upsert semantics
    (``streaming/delta.py``)."""
    from ..streaming.delta import DeltaKeyedStore

    return _dim_store_asof(
        spark, sf_dir, "delta_keyed_store_asof_",
        lambda path: DeltaKeyedStore(
            spark, path, "k", "ord", type_col="op", checkpoint_interval=2
        ),
        clean_log=True,
    )


@register(
    "iceberg_keyed_store_asof",
    oracle="""
WITH r AS (
  SELECT doc_id % 37 AS k, doc_id AS v, (doc_id % 3)::INT AS b, doc_id
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
SELECT k::BIGINT AS k,
       arg_max(v, b * 10000000000 + doc_id)::BIGINT AS v,
       arg_max(b, b * 10000000000 + doc_id)::INT AS src_batch
FROM r GROUP BY k
""",
    survey_ids=("K5", "W6"),
)
def iceberg_keyed_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-backed keyed MERGE store time travel (r14 — the SECOND
    format's streaming upsert, SAME oracle as ``delta_keyed_store_asof``
    / ``dim_version_store_asof``: all three stores must land on
    identical state): each micro-batch commits ONE snapshot carrying an
    EQUALITY-DELETE parquet over the batch's keys plus the replacement
    rows — the spec's strict ``data_seq < del_seq`` rule masks every
    earlier version while the same-commit rows survive, the
    merge-on-read upsert real streaming writers produce (the WRITE side
    of the r13 equality-delete reader). Batch 1 is REPLAYED once
    (snapshot-summary dedupe); after batch 2 the store is COMPACTED
    (``replace`` snapshot materializing the merge) and the as-of read
    still resolves BELOW the compaction through the old self-contained
    manifest list. (``operators/iceberg.py`` ``IcebergKeyedStore``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.iceberg import IcebergKeyedStore

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 37).alias("k"),
        F.col("doc_id").alias("v"),
        (F.col("doc_id") % 3).cast("int").alias("src_batch"),
        (F.col("doc_id") % 3 * 10000000000 + F.col("doc_id")).alias("ord"),
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_keyed_store_asof_")
    try:
        store = IcebergKeyedStore(
            spark, tmp, key="k", order_col="ord", type_col="op"
        )
        snap_ids = {}
        for b in range(3):
            batch = docs.filter(F.col("src_batch") == b).withColumn(
                "op",
                F.when(
                    (F.lit(b) == 2) & (F.col("k") % 5 == 0), F.lit("delete")
                ).otherwise(F.lit("u")),
            )
            snap_ids[b] = store.commit_batch(batch, b)
        assert store.commit_batch(batch, 1) is None  # replay skipped
        assert store.compact(3) is not None  # materialize the merge
        asof = (
            store.read_as_of(snap_ids[1])
            .select("k", "v", "src_batch")
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(asof, "k long, v long, src_batch int")


@register(
    "delta_bucketed_store_asof",
    oracle="""
WITH r AS (
  SELECT doc_id % 37 AS k, doc_id AS v, (doc_id % 3)::INT AS b, doc_id
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
SELECT k::BIGINT AS k,
       arg_max(v, b * 10000000000 + doc_id)::BIGINT AS v,
       arg_max(b, b * 10000000000 + doc_id)::INT AS src_batch
FROM r GROUP BY k
""",
    survey_ids=("K5", "W6"),
)
def delta_bucketed_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED Delta keyed store (r13 — VERDICT r12 #3): the SAME
    three dim micro-batches and the SAME oracle as
    ``delta_keyed_store_asof`` — the fact-sized hash-bucketed MERGE
    must land on state identical to the single-file compaction store —
    but each commit now rewrites ONLY the buckets the batch touches
    (distributed merge + partitionBy write, rows never through the
    driver), with a mid-stream ``clean_log()`` + replay so bucket
    membership (encoded in file names) provably survives checkpoint
    resume. ``read_as_of(1)`` time-travels through the checkpoint
    (``streaming/delta.py`` ``BucketedDeltaKeyedStore``)."""
    from ..streaming.delta import BucketedDeltaKeyedStore

    return _dim_store_asof(
        spark, sf_dir, "delta_bucketed_store_asof_",
        lambda path: BucketedDeltaKeyedStore(
            spark, path, "k", "ord", type_col="op", n_buckets=8,
            checkpoint_interval=2,
        ),
        clean_log=True,
    )


@register(
    "delta_delete_where_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def delta_delete_where_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-by-DELETION-VECTOR end-to-end under the oracle (r13): the
    documents keys commit through ``DeltaAppendSink``'s distributed
    path (4 range files), then ``delete_where("k % 7 = 0")`` masks rows
    by WRITING a roaring DV sidecar — zero data files rewritten, the
    table protocol upgraded to v3 + deletionVectors in the same commit
    — and ``delta_scan`` reads the masked table back (per-file
    ``_metadata.row_index`` anti-joins). The delete is also REPLAYED
    once (txn-skipped). Oracle is the plain SQL DELETE semantics
    (``streaming/delta.py`` ``delete_where``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="delta_delete_where_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        assert sink.delete_where("k % 7 = 0", 1) == 1
        assert sink.delete_where("k % 7 = 0", 1) is None  # replay skipped
        out = (
            delta_scan(spark, table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "delta_partitioned_write_e2e",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS ct,
       SUM(o_orderkey)::BIGINT AS key_sum
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    survey_ids=("K4",),
)
def delta_partitioned_write_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED Delta WRITE end-to-end under the oracle (r13): the
    orders keys commit through the sink's distributed path with
    ``partition_columns=["o_orderstatus"]`` — Hive-style dirs, data
    files WITHOUT the partition column, partitionValues on every add —
    then ``delta_scan`` prunes to the 'F' partition from the LOG alone
    and re-attaches the partition column. The write is REPLAYED once
    (txn-skipped). Closes the write side of r12's partitioned-read
    surface (``streaming/delta.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan
    from ..streaming.delta import DeltaAppendSink

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    tmp = tempfile.mkdtemp(prefix="delta_partitioned_write_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table, partition_columns=["o_orderstatus"])
        assert sink.commit_batch_distributed(orders.repartition(4), 0) == 0
        assert sink.commit_batch_distributed(orders, 0) is None  # replay
        out = (
            delta_scan(
                spark, table, partition_filter={"o_orderstatus": "F"}
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "o_orderpriority string, ct bigint, key_sum bigint"
    )


@register(
    "iceberg_partitioned_write_e2e",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS ct,
       SUM(o_orderkey)::BIGINT AS key_sum
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    survey_ids=("K4",),
)
def iceberg_partitioned_write_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED Iceberg WRITE end-to-end under the oracle (r13, the
    format twin of ``delta_partitioned_write_e2e`` with the SAME
    oracle): the orders keys commit through ``IcebergAppendSink``'s
    distributed path with ``partition_columns=["o_orderstatus"]`` —
    identity partition struct on every manifest entry, source column
    KEPT in the data files (Iceberg's layout, unlike Delta's) — then
    ``iceberg_scan`` prunes to the 'F' partition from the manifests
    alone. The write is REPLAYED once (snapshot-summary batch-id
    dedupe). (``operators/iceberg.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.iceberg import IcebergAppendSink, iceberg_scan

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_partitioned_write_")
    try:
        table = f"{tmp}/t"
        sink = IcebergAppendSink(
            spark, table, partition_columns=["o_orderstatus"]
        )
        assert sink.commit_batch_distributed(orders.repartition(4), 0) == 1
        assert sink.commit_batch_distributed(orders, 0) is None  # replay
        out = (
            iceberg_scan(
                spark, table, partition_filter={"o_orderstatus": "F"}
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "o_orderpriority string, ct bigint, key_sum bigint"
    )


@register(
    "delta_optimize_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def delta_optimize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE end-to-end under the oracle (r13): write (4 range
    files) -> delete_where (DV sidecar) -> OPTIMIZE (bin-pack to one
    file, the DV MATERIALIZES and drops, dataChange=false commit) ->
    scan. Same oracle as ``delta_delete_where_e2e`` — compaction must
    be state-invariant. The optimize is also REPLAYED once
    (``streaming/delta.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan, replay_delta_dir
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="delta_optimize_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        sink.delete_where("k % 7 = 0", 1)
        assert sink.optimize(2, target_files=1) == 2
        assert sink.optimize(2) is None  # replay skipped
        live = replay_delta_dir(table)["live"]
        assert len(live) == 1  # genuinely compacted
        assert "deletionVector" not in next(iter(live.values()))
        out = (
            delta_scan(spark, table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "iceberg_delete_where_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def iceberg_delete_where_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg write-side POSITION deletes end-to-end under the oracle
    (r14 — the format twin of ``delta_delete_where_e2e`` with the SAME
    oracle, closing the read/write asymmetry): the documents keys
    commit through ``IcebergAppendSink``'s distributed path, then
    ``delete_where("k % 7 = 0")`` writes ONE sorted (file_path, pos)
    positional-delete parquet (distributed, reserved field ids) +
    a DELETE manifest (content=1) whose sequence number masks every
    current data file — zero data files rewritten — and
    ``iceberg_scan`` merges-on-read via a grouped broadcast anti-join.
    The delete is also REPLAYED once (snapshot-summary batch-id
    dedupe). (``operators/iceberg.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.iceberg import IcebergAppendSink, iceberg_scan

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_delete_where_")
    try:
        table = f"{tmp}/t"
        sink = IcebergAppendSink(spark, table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        assert sink.delete_where("k % 7 = 0", 1) == 2
        assert sink.delete_where("k % 7 = 0", 1) is None  # replay skipped
        out = (
            iceberg_scan(spark, table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "delta_delete_where_many_files_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def delta_delete_where_many_files_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BROAD-SWEEP shape of ``delta_delete_where_e2e`` (r14 — same
    oracle): 64 range files, every one touched by the delete, so the
    table carries 64 deletion vectors — the case whose scan plan was
    the r13 verdict's flagged scale-killer. The O(1)-plan grouped DV
    scan is asserted IN the entry: the masked read's executed plan
    holds at most 3 parquet scan nodes no matter how many files carry
    DVs (``operators/deltalog.py`` ``_dv_grouped_scan``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="delta_delete_where_many_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table)
        sink.commit_batch_distributed(docs.repartitionByRange(64, "k"), 0)
        assert sink.delete_where("k % 7 = 0", 1) == 1
        df = delta_scan(spark, table)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") <= 3, "DV plan-size lock broke"
        out = (
            df.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "delta_optimize_partitioned_e2e",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS ct,
       SUM(o_orderkey)::BIGINT AS key_sum
FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 <> 0
GROUP BY o_orderpriority
""",
    survey_ids=("K4", "K5", "W6"),
)
def delta_optimize_partitioned_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED OPTIMIZE end-to-end under the oracle (r14 — the
    refusal lifted): partitioned write (Hive dirs) -> delete_where (DV
    sidecars across partitions) -> OPTIMIZE (PER-PARTITION bin-pack
    staged through partitionBy; DVs materialize; partitionValues
    survive on every compacted add; dataChange=false) -> scan pruned to
    one partition from the log alone. Same state-invariance oracle
    shape as ``delta_optimize_e2e``. The optimize is also REPLAYED once
    (``streaming/delta.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan, replay_delta_dir
    from ..streaming.delta import DeltaAppendSink

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    tmp = tempfile.mkdtemp(prefix="delta_optimize_partitioned_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table, partition_columns=["o_orderstatus"])
        sink.commit_batch_distributed(orders.repartition(4), 0)
        sink.delete_where("o_orderkey % 7 = 0", 1)
        assert sink.optimize(2, target_files=2) == 2
        assert sink.optimize(2) is None  # replay skipped
        live = replay_delta_dir(table)["live"]
        assert all("compact-" in rel for rel in live)  # fully compacted
        assert not any(a.get("deletionVector") for a in live.values())
        out = (
            delta_scan(
                spark, table, partition_filter={"o_orderstatus": "F"}
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "o_orderpriority string, ct bigint, key_sum bigint"
    )


@register(
    "delta_restore_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def delta_restore_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE end-to-end under the oracle (r14): write -> delete_where
    (DV sidecars) -> RESTORE TO VERSION 0 — the rollback must return
    the table to EXACTLY the pre-delete state (the oracle is the full
    un-deleted aggregate) while history stays time-travelable on both
    sides. The restore is also REPLAYED once (txn-skipped).
    (``streaming/delta.py`` ``restore``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="delta_restore_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        sink.delete_where("k % 7 = 0", 1)
        assert sink.restore(0, 2) == 2
        assert sink.restore(0, 2) is None  # replay skipped
        # the deleted intermediate is still readable below the restore
        assert delta_scan(spark, table, version=1).count() < delta_scan(
            spark, table
        ).count()
        out = (
            delta_scan(spark, table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "iceberg_maintenance_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
""",
    survey_ids=("K5", "W6"),
)
def iceberg_maintenance_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg MAINTENANCE composition under the oracle (r14): write
    over several commits -> delete_where (positional-delete parquet) ->
    rewrite_manifests (ONE compacted data manifest, per-entry sequence
    numbers preserved so the delete still scopes) -> expire_snapshots
    (history pruned to the head) -> vacuum_orphans(0) (superseded
    manifests and pre-delete leftovers reclaimed) -> scan. Every
    maintenance op must be state-INVARIANT for the current snapshot —
    the oracle is the plain delete semantics. (``operators/iceberg.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.iceberg import IcebergAppendSink, iceberg_scan

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_maintenance_")
    try:
        table = f"{tmp}/t"
        sink = IcebergAppendSink(spark, table)
        # three append commits -> three data manifests to compact
        third = docs.withColumn("__m", F.col("k") % 3)
        for b in range(3):
            sink.commit_batch_distributed(
                third.filter(F.col("__m") == b)
                .drop("__m")
                .repartitionByRange(2, "k"),
                b,
            )
        sink.delete_where("k % 7 = 0", 3)
        assert sink.rewrite_manifests(4) is not None
        assert sink.expire_snapshots(keep_last=1)
        assert sink.vacuum_orphans(retention_seconds=0) is not None
        out = (
            iceberg_scan(spark, table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "delta_change_data_feed",
    oracle="""
SELECT 'insert' AS _change_type, 0::BIGINT AS _commit_version,
       COUNT(*) AS ct, SUM(doc_id)::BIGINT AS key_sum
FROM documents
UNION ALL
SELECT 'delete', 1::BIGINT, COUNT(*), SUM(doc_id)::BIGINT
FROM documents WHERE doc_id % 7 = 0
""",
    survey_ids=("S3", "W6"),
)
def delta_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED end-to-end under the oracle (r14 —
    delta-spark's ``table_changes``, derived from the log alone):
    write (v0) -> ``delete_where`` (v1, DV sidecars) ->
    ``delta_table_changes(0)`` must yield every row as an
    (_change_type='insert', v0) change plus exactly the deleted rows as
    ('delete', v1) — the DV diff IS the delete feed; no per-commit
    change files needed for the insert/delete shapes. Plan is O(1):
    one grouped scan per change kind, versions re-attached by broadcast
    file-name joins (``operators/deltalog.py``
    ``delta_table_changes``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_table_changes
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("k"))
    tmp = tempfile.mkdtemp(prefix="delta_cdf_")
    try:
        table = f"{tmp}/t"
        sink = DeltaAppendSink(table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        sink.delete_where("k % 7 = 0", 1)
        out = (
            delta_table_changes(spark, table, 0)
            .groupBy("_change_type", "_commit_version")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "_change_type string, _commit_version bigint, ct bigint, "
        "key_sum bigint",
    )


@register(
    "iceberg_to_delta_stream_e2e",
    oracle="""
SELECT (doc_id % 10)::INT AS bucket,
       COUNT(*) AS ct,
       SUM(doc_id)::BIGINT AS key_sum
FROM documents
GROUP BY 1
""",
    survey_ids=("S3", "K4", "W6"),
)
def iceberg_to_delta_stream_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FORMAT incremental pipeline under the oracle (r14):
    documents commit into an Iceberg table over three snapshots;
    ``IcebergStreamSource`` drains them into a Delta table — the first
    drain is the snapshot at the then-head, the second picks up exactly
    the two later snapshots' added files from the manifests
    (metadata-only resolution, rows never pass the driver) — and
    ``delta_scan`` of the SINK must reproduce the full documents
    aggregate. The through-snapshot id is the sink batch id, so a
    replayed drain is idempotent (``operators/iceberg.py``
    ``IcebergStreamSource``, ``streaming/delta.py``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.deltalog import delta_scan
    from ..operators.iceberg import IcebergAppendSink, IcebergStreamSource
    from ..streaming.delta import DeltaAppendSink

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
        (F.col("doc_id") % 3).cast("int").alias("b"),
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_to_delta_")
    try:
        src_table, dst_table = f"{tmp}/src", f"{tmp}/dst"
        ice = IcebergAppendSink(spark, src_table)
        ice.commit_batch_distributed(
            docs.filter(F.col("b") == 0).drop("b").repartition(2), 0
        )
        src = IcebergStreamSource(spark, src_table)
        dst = DeltaAppendSink(dst_table)

        def write(df, through):
            dst.commit_batch_distributed(df, through)

        assert src.stream_to(write) == 1  # snapshot-first drain
        for b in (1, 2):
            ice.commit_batch_distributed(
                docs.filter(F.col("b") == b).drop("b").repartition(2), b
            )
        assert src.stream_to(write) == 1  # one incremental batch
        out = (
            delta_scan(spark, dst_table)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "bucket int, ct bigint, key_sum bigint")


@register(
    "iceberg_change_log",
    oracle="""
SELECT 'insert' AS _change_type, 1::BIGINT AS _commit_snapshot_id,
       COUNT(*) AS ct, SUM(doc_id)::BIGINT AS key_sum
FROM documents
UNION ALL
SELECT 'delete', 2::BIGINT, COUNT(*), SUM(doc_id)::BIGINT
FROM documents WHERE doc_id % 7 = 0
""",
    survey_ids=("S3", "W6"),
)
def iceberg_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHANGELOG SCAN end-to-end under the oracle (r14 — the
    format twin of ``delta_change_data_feed``, same change semantics):
    write (snapshot 1) -> ``delete_where`` (snapshot 2, a
    positional-delete parquet) -> ``iceberg_table_changes`` must yield
    every row as an ('insert', snap 1) change plus exactly the deleted
    rows as ('delete', snap 2) — the delete FILES are the change
    record; inserts ride one grouped scan with snapshot ids attached by
    a broadcast file-name join, deletes one (file, pos) semi-join scan
    (``operators/iceberg.py`` ``iceberg_table_changes``)."""
    import shutil as _shutil
    import tempfile

    from ..operators.iceberg import IcebergAppendSink, iceberg_table_changes

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("k"))
    tmp = tempfile.mkdtemp(prefix="iceberg_change_log_")
    try:
        table = f"{tmp}/t"
        sink = IcebergAppendSink(spark, table)
        sink.commit_batch_distributed(docs.repartitionByRange(4, "k"), 0)
        sink.delete_where("k % 7 = 0", 1)
        out = (
            iceberg_table_changes(spark, table)
            .groupBy("_change_type", "_commit_snapshot_id")
            .agg(
                F.count(F.lit(1)).alias("ct"),
                F.sum("k").alias("key_sum"),
            )
            .toPandas()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "_change_type string, _commit_snapshot_id bigint, ct bigint, "
        "key_sum bigint",
    )


@register(
    "dwd_keyword_split",
    oracle="""
SELECT t.tok AS keyword, count(*) AS keyword_count
FROM documents d,
     unnest(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), x -> x <> '')) AS t(tok)
GROUP BY 1
""",
    survey_ids=("J6", "F13", "R2"),
)
def dwd_keyword_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword tokenize + lateral explode + count — the traffic-keyword DWS
    app (KwSplit UDTF + LATERAL TABLE, DwsTrafficSourceKeywordPageViewWindow
    .java:36,74-79). Tokenizer is a codegen'd split; explode is the lateral
    view; the count is the windowless core of A1."""
    docs = _t(spark, sf_dir, "documents")
    from ..functions import tokenize

    toks = lateral_tokens(docs.select("doc_id", "text"), tokenize(F.col("text")), out="keyword")
    return toks.groupBy("keyword").agg(F.count(F.lit(1)).alias("keyword_count"))


@register(
    "q_split_counts",
    oracle="""
SELECT CASE event_type
         WHEN 'error' THEN 'err' WHEN 'signup' THEN 'start'
         WHEN 'view' THEN 'display' WHEN 'click' THEN 'action'
         ELSE 'page' END AS branch,
       count(*) AS ct
FROM events GROUP BY 1
""",
    survey_ids=("R1",),
)
def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way side-output split (DwdBaseLog.java:76-152): one parsed pass
    derives five mutually-exclusive branches (filters over a shared plan
    prefix), here recombined with unionByName for verification."""
    ev = _t(spark, sf_dir, "events")
    branches = {
        "err": ev.filter(F.col("event_type") == "error"),
        "start": ev.filter(F.col("event_type") == "signup"),
        "display": ev.filter(F.col("event_type") == "view"),
        "action": ev.filter(F.col("event_type") == "click"),
        "page": ev.filter(~F.col("event_type").isin("error", "signup", "view", "click")),
    }
    parts = [df.select(F.lit(name).alias("branch")) for name, df in branches.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("branch").agg(F.count(F.lit(1)).alias("ct"))


@register(
    "scalar_time_project",
    oracle="""
SELECT event_id,
       strftime(make_timestamp(ms * 1000) + INTERVAL 8 HOURS, '%Y-%m-%d') AS dt,
       strftime(make_timestamp(ms * 1000) + INTERVAL 8 HOURS, '%Y-%m-%d %H:%M:%S') AS dtt,
       strftime(make_timestamp(ms * 1000) + INTERVAL 8 HOURS, '%Y%m%d') AS dpart,
       strftime(make_timestamp((ms - 86400000) * 1000) + INTERVAL 8 HOURS, '%Y-%m-%d') AS yesterday,
       event_type || ':' || user_id::VARCHAR AS concat_key,
       (ms - ms % 1000) AS roundtrip_ms
FROM (SELECT event_id, user_id, event_type, event_id * 1000000 + 123456 AS ms FROM events)
""",
    survey_ids=("F2", "F3", "F4", "F5", "F9", "F11"),
)
def scalar_time_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DateFormatUtil surface (DateFormatUtil.java:26-57, +08:00 pinned):
    ms-epoch -> date / datetime / partition-key strings, yesterday arithmetic
    (DwdBaseLog.java:189), concat keys (DwsTrafficVcChArIsNewPageViewWindow
    .java:114), and the string->ms round trip (dateToTs)."""
    ev = _t(spark, sf_dir, "events")
    ms = (F.col("event_id") * 1000000 + 123456).alias("ms")
    base = ev.select("event_id", "user_id", "event_type", ms)
    return base.select(
        "event_id",
        ts_to_date(F.col("ms")).alias("dt"),
        ts_to_datetime(F.col("ms")).alias("dtt"),
        ts_to_partition(F.col("ms")).alias("dpart"),
        ts_to_date(F.col("ms") - 86400000).alias("yesterday"),
        F.concat_ws(":", F.col("event_type"), F.col("user_id")).alias("concat_key"),
        date_to_ts(ts_to_datetime(F.col("ms"))).alias("roundtrip_ms"),
    )


