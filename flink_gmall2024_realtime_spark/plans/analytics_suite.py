"""Product-analytics suite: funnel, retention, robust stats, attribution.

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
# Product-analytics suite (operators/analytics.py): funnel, retention,
# gap-fill, equi-depth buckets, histogram, data-quality audit
# =========================================================================


@register(
    "q_funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY 1
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY 1
)
SELECT 1 AS stage_index, 'signup' AS stage, (SELECT count(*) FROM s1) AS users
UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
""",
    survey_ids=("A2", "W2"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel signup -> view -> click ->
    purchase over the events stream (the composition of the reference's
    per-step DWS windows, DwsUserUserLoginWindow.java:60-103). Each stage
    is a keyed join + min-agg over the previous stage's PER-USER THRESHOLD
    frame — see operators/analytics.funnel for the 100 TB argument."""
    from ..operators import analytics

    ev = _t(spark, sf_dir, "events")
    out = analytics.funnel(ev, ("signup", "view", "click", "purchase"))
    return out.withColumn("stage_index", F.col("stage_index").cast("int"))


@register(
    "q_retention_cohorts",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS w
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
first AS (SELECT u, min(w) AS cohort_week FROM uw GROUP BY 1),
act AS (
  SELECT uw.u, f.cohort_week,
         CAST((uw.w - f.cohort_week) // 7 AS INT) AS week_offset
  FROM uw JOIN first f ON uw.u = f.u
),
counted AS (
  SELECT cohort_week, week_offset, count(*) AS n_users
  FROM act GROUP BY 1, 2
),
base AS (
  SELECT cohort_week, n_users AS cohort_size FROM counted WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_users, b.cohort_size,
       round(c.n_users / b.cohort_size, 6) AS retained_ratio
FROM counted c JOIN base b ON c.cohort_week = b.cohort_week
""",
    survey_ids=("W2", "W4"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (cohort = Monday-truncated week of first
    event) — the batch generalization of the reference's is-new repair +
    returning-user gap logic (DwsUserUserLoginWindow.java:78-95): the W2
    ValueState answers 'is this the user's first week', W4's 7-day gap is
    week_offset >= 1. See operators/analytics.retention_cohorts."""
    from ..operators import analytics

    return analytics.retention_cohorts(_t(spark, sf_dir, "events"))


@register(
    "q_gap_fill_daily",
    oracle="""
WITH daily AS (
  SELECT event_type AS k, ts::DATE AS d, count(*) AS n,
         round(max(value), 2) AS mx
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value > 195
  GROUP BY 1, 2
),
span AS (SELECT k, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
calendar AS (
  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM span
)
SELECT c.k AS event_type, c.d AS day,
       coalesce(dl.n, 0) AS n_events,
       CAST(CASE WHEN dl.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
       last_value(dl.mx IGNORE NULLS) OVER (
         PARTITION BY c.k ORDER BY c.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS carried_max_value
FROM calendar c LEFT JOIN daily dl ON c.k = dl.k AND c.d = dl.d
""",
    survey_ids=("A1", "A3"),
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + forward fill over a sparse daily series
    (high-value events only, so real gaps exist at every SF): missing days
    get n_events=0/is_gap=1 and carry the last observed max forward —
    what Flink's continuously-firing windows give for free and a batch
    engine must synthesize (DwsTrafficVcChArIsNewPageViewWindow.java's
    dense emission). Window runs over the bounded per-key calendar frame,
    never raw events — operators/analytics.gap_fill_daily."""
    from ..operators import analytics

    ev = _t(spark, sf_dir, "events").where(F.col("value") > 195)
    return analytics.gap_fill_daily(ev)


@register(
    "q_equidepth_buckets",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
         count(*) OVER () AS n
  FROM orders
)
SELECT CAST(((rnk - 1) * 8) // n + 1 AS INT) AS bucket,
       count(*) AS n_rows,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM ranked GROUP BY 1
""",
    survey_ids=("A2",),
)
def q_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (octile) bucketing of order value — the quantile-binning
    step behind quality-score stratification. The global rank that makes
    this a skew trap (row_number with no PARTITION BY = one task) runs as
    skew.two_phase_rank over value-range buckets; only the tiny bucket-
    count frame sees a global window. Bucket = ((rank-1)*8) div n + 1 in
    integer arithmetic — identical formula in the oracle, hash-exact."""
    from ..operators import analytics

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return analytics.equidepth_buckets(
        o, "o_totalprice", "o_orderkey", k=8, bucket_width=25000.0
    )


@register(
    "q_value_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bin,
       count(*) AS n_rows,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders WHERE o_totalprice IS NOT NULL
GROUP BY 1
""",
    survey_ids=("A1",),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value (bin = floor(v / 20000)): one
    keyed shuffle with map-side partials, bin cardinality bounded by the
    value range — the distribution-profile dual of q_equidepth_buckets
    (fixed width vs fixed depth). floor of an IEEE division is
    bit-identical across engines."""
    from ..operators import analytics

    return analytics.value_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", 20000.0
    )


@register(
    "q_dq_audit",
    oracle="""
SELECT 'orphan_order_custkey' AS check_name,
       (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_bad,
       (SELECT count(*) FROM orders) AS n_total
UNION ALL
SELECT 'orphan_lineitem_orderkey',
       (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'dup_orderkey',
       (SELECT coalesce(sum(c), 0) FROM (
          SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'null_custkey',
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'nonpositive_totalprice',
       (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
       (SELECT count(*) FROM orders)
""",
    survey_ids=("P2", "P6"),
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in one result set: referential orphans (anti
    joins), duplicate-PK mass, null and domain violations — the batch
    generalization of the reference's dirty-data side-output routing
    (DwdBaseLog.java:216-239 dead-letter split). Anti joins are keyed
    (AQE picks broadcast when the dim side is small); duplicate mass is
    a keyed count-filter-sum; everything else is a scan aggregate. All
    integer counts, hash-exact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def _row(name: str, bad: DataFrame, total: DataFrame) -> DataFrame:
        b = bad.agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
        t = total.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        return b.crossJoin(t).select(
            F.lit(name).alias("check_name"), "n_bad", "n_total"
        )

    orphan_o = o.where(F.col("o_custkey").isNotNull()).join(
        c, o["o_custkey"] == c["c_custkey"], "left_anti"
    )
    orphan_l = li.where(F.col("l_orderkey").isNotNull()).join(
        o, li["l_orderkey"] == o["o_orderkey"], "left_anti"
    )
    dup_mass = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_bad"))
    )
    dup_row = dup_mass.crossJoin(
        o.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ).select(F.lit("dup_orderkey").alias("check_name"), "n_bad", "n_total")

    out = _row("orphan_order_custkey", orphan_o, o)
    out = out.unionByName(_row("orphan_lineitem_orderkey", orphan_l, li))
    out = out.unionByName(dup_row)
    out = out.unionByName(_row("null_custkey", o.where(F.col("o_custkey").isNull()), o))
    out = out.unionByName(
        _row("nonpositive_totalprice", o.where(F.col("o_totalprice") <= 0), o)
    )
    return out


@register(
    "multimodal_tiff_meta",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 509 + 1)::INT AS width,
       (doc_id % 389 + 1)::INT AS height,
       (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END)::INT AS n_samples,
       8::INT AS bits_per_sample,
       (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::INT AS compressed,
       (doc_id % 8 + 1)::INT AS orientation,
       (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)::INT AS n_pages
FROM documents
""",
    survey_ids=("mm-decode",),
)
def multimodal_tiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF metadata gate: synthesize a structurally valid TIFF per doc
    (both II/MM byte orders, out-of-line BitsPerSample and RATIONAL
    resolutions, odd-length ASCII decoys, strip decoys, chained second
    page every third doc), then parse the IFD chain back with the
    independent directory walker: dimensions, samples, bit depth,
    compression flag, orientation, page count — the archival/scan image
    curation columns, no strip decode (that stays behind the decode_media
    vendor seam). The EXIF IFD inside multimodal_jpeg_meta is this exact
    structure — one parser family, two container entries. Oracle = seed
    arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    payloads = multimodal.synth_media(docs, "doc_id", "tiff")
    media = multimodal.to_media_table(payloads, "media_id", F.col("payload"), "image/tiff")
    return multimodal.tiff_meta(media)


@register(
    "graph_triangle_count",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (
  SELECT x AS a, y AS b FROM pairs
  WHERE {md5_long_sql_duckdb("x || '-' || y")} % 3 = 0
),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
verts AS (
  SELECT x AS vertex FROM t
  UNION ALL SELECT y FROM t
  UNION ALL SELECT z FROM t
)
SELECT vertex, count(*) AS n_triangles FROM verts GROUP BY 1
""",
    survey_ids=("graph-pagerank",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-order parts graph (parts appearing in
    the same order, hash-sampled to ~1/3 of pairs). This graph's density
    FALLS with scale — pairs per order are bounded by C(lines, 2) <= 21
    while the vertex set grows with the part count, so expected degree
    stays constant and the triangle mass grows ~linearly (measured: 5.8%
    dense at sf0.01, 0.6% at sf0.1). The earlier co-supply formulation was
    ~33% of the complete supplier graph at every SF — triangle output grew
    cubically in the vertex count, a fixture defect, not an operator one.
    The Spark side runs the degree-ordered wedge enumeration
    (graph.triangle_count — O(m^1.5), celebrity-vertex safe); the oracle
    is the INDEPENDENT naive a<b<c triple join, feasible only at fixture
    scale — agreeing answers from two different algorithms is the point.
    Integer-exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _co_group_edges(li, "l_orderkey", "l_partkey")
    return graph.triangle_count(edges, "x", "y")


def _co_group_edges(df: DataFrame, key_col: str, val_col: str, with_verts: bool = False):
    """Distinct hash-sampled pairs (x < y) of values sharing a group key —
    ONE wide shuffle instead of three: ``groupBy(key).collect_set(val)``
    (map-side partial aggregation collapses duplicate (key, val) rows
    before the exchange) followed by an in-row higher-order-function pair
    expansion, the md5 1/3 sample, and the cross-key pair distinct. The
    previous formulation (distinct -> self-join on key -> distinct)
    shuffled the full input three times; this shuffles it once plus the
    (much smaller) pair set once — at x100 that's ~30% of the whole
    connected-components entry's wall. Per-row expansion is safe here
    because TPC-H bounds the group degree structurally (<= 4 suppliers
    per part, <= 7 lines per order); for an unbounded-degree graph keep
    the join formulation or cap the set like the LSH buckets do."""
    grp = df.groupBy(F.col(key_col).alias("k")).agg(
        F.sort_array(F.collect_set(F.col(val_col))).alias("vs")
    )
    if with_verts:
        # eager checkpoint: grp feeds both the pair expansion and the
        # vertex set; without it the wide shuffle runs twice
        grp = grp.localCheckpoint(eager=True)
    pairs = (
        grp.where(F.size("vs") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(vs, (v, i) -> transform("
                        "slice(vs, i + 2, size(vs) - i - 1), "
                        "w -> named_struct('x', v, 'y', w)))"
                    )
                )
            ).alias("pr")
        )
        .select(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
    )
    # cross-key duplicate pairs are real (many parts can share the same
    # supplier pair) and plentiful — dedup them JVM-side here even for the
    # union-find consumer, which would tolerate duplicates semantically
    # but pays Python per-row cost for each one (measured 2x slower at
    # x100 without this distinct).
    edges = pairs.where(
        md5_long(F.concat_ws("-", F.col("x"), F.col("y"))) % 3 == 0
    ).distinct()
    if with_verts:
        return edges, grp.select(F.explode("vs").alias("v")).distinct()
    return edges


@register(
    "graph_connected_components",
    oracle=f"""
WITH RECURSIVE
ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
prs AS (
  SELECT DISTINCT a.s AS x, b.s AS y FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
),
e AS (
  SELECT x AS a, y AS b FROM prs
  WHERE {md5_long_sql_duckdb("x || '-' || y")} % 3 = 0
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT r.src, u.b AS dst FROM reach r JOIN und u ON r.dst = u.a
),
verts AS (SELECT DISTINCT s AS v FROM ps)
SELECT v AS supplier, least(v, coalesce(min(r.dst), v)) AS component_id
FROM verts LEFT JOIN reach r ON r.src = v
GROUP BY v
""",
    survey_ids=("graph-pagerank",),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the hash-sampled co-supply graph (same
    edge set as graph_triangle_count): component_id = smallest reachable
    supplier id. The Spark side is the iterative min-label propagation
    already powering near-dup clustering (dedup.dedup_clusters —
    O(diameter) keyed-join rounds, lineage cut per round via eager local
    checkpoints); the oracle computes full transitive closure with a
    recursive CTE — a formulation only feasible at fixture scale, which is
    exactly why two independent algorithms agreeing is the check.
    Integer-exact."""
    li = _t(spark, sf_dir, "lineitem")
    edges, verts = _co_group_edges(
        li.select("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey", with_verts=True
    )
    edges = edges.select(F.col("x").alias("id_a"), F.col("y").alias("id_b"))
    verts = verts.select(F.col("v").alias("supplier"))
    out = dedup.dedup_clusters(verts, edges, id_col="supplier")
    return out.withColumnRenamed("cluster_id", "component_id")


@register(
    "q_unpivot_metrics",
    oracle="""
SELECT o_orderkey, 'total_price' AS metric, round(o_totalprice, 2) AS value
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, 'cust_key', CAST(o_custkey AS DOUBLE) FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, 'order_epoch_day', CAST(o_orderdate::DATE - DATE '1970-01-01' AS DOUBLE)
FROM orders WHERE o_orderstatus = 'F'
""",
    survey_ids=("R2",),
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long melt): three typed metrics per order become
    (key, metric, value) rows — the R2 array-flatten's relational dual and
    the standard shape for metric stores. Spark's native unpivot plans an
    Expand (each input row emits k rows map-side, no shuffle at all); the
    oracle is the equivalent UNION ALL. Values are exact (round/cast,
    no arithmetic)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    wide = o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("order_epoch_day"),
    )
    return wide.unpivot(
        ["o_orderkey"],
        ["total_price", "cust_key", "order_epoch_day"],
        "metric",
        "value",
    )


@register(
    "q_time_weighted_avg",
    oracle="""
WITH held AS (
  SELECT user_id AS k,
         CAST(round(value, 2) AS DECIMAL(18,2)) AS v,
         ts AS t,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, CAST(round(value, 2) AS DECIMAL(18,2))) AS nxt
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
agg AS (
  SELECT k,
         sum(v * (epoch_us(nxt) - epoch_us(t))) AS mass,
         sum(epoch_us(nxt) - epoch_us(t)) AS span
  FROM held WHERE nxt IS NOT NULL GROUP BY k
)
SELECT k AS user_id,
       round(CAST(mass AS DOUBLE) / CAST(span AS DOUBLE), 6) AS twavg,
       CAST(span AS BIGINT) AS held_micros
FROM agg
""",
    survey_ids=("A2", "J3"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value (zero-order hold:
    each value is weighted by the microseconds until the user's next
    event) — the correct mean for irregularly-sampled series, where plain
    AVG over-weights bursts. DECIMAL(38,2) mass x integer-microsecond
    durations keep the aggregation order-invariant exact; one final IEEE
    division both engines share. See operators/analytics.time_weighted_avg
    for the skew story (same two-phase recipe as sessionize if a key
    floods)."""
    from ..operators import analytics

    return analytics.time_weighted_avg(_t(spark, sf_dir, "events"))


def _round6(x):
    """``x`` rounded half-up to 6 places from its binary double, as
    DuckDB's ``round(x, 6)`` does. ``F.round`` rounds the shortest
    decimal string instead, so it takes ties the double does not have:
    41/640 is 0.06406249999999999445 as a double, and ``F.round`` gives
    0.064063 where DuckDB gives 0.064062."""
    return F.floor(x * 1e6 + 0.5) / 1e6


@register(
    "q_rank_distribution",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal FROM customer
)
SELECT c_custkey, c_nationkey, bal,
       row_number() OVER w AS rnk,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       lag(bal) OVER w AS prev_bal,
       round(bal - lag(bal) OVER w, 2) AS step
FROM c
WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal, c_custkey)
""",
    survey_ids=("A2",),
)
def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window surface (row_number / percent_rank / cume_dist /
    lag) computed WITHOUT a per-key single-task sort: skew.two_phase_rank
    gives the unique (value, id) rank per nation, per-key counts give
    n, and — because the ordering is unique, making every row its own peer
    group — percent_rank = (rnk-1)/(n-1), cume_dist = rnk/n follow
    arithmetically; lag is a keyed self-join on (key, rnk-1). The oracle
    is the standard window formulation — same numbers, different plan: the
    hot key's rows never gather into one task here, which is the 100 TB
    difference. Ratios are single IEEE divisions of exact integers."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("bal")
    )
    ranked = skew.two_phase_rank(
        c, "c_nationkey", "bal", "c_custkey", bucket_width=500.0, rank_col="rnk"
    )
    n = ranked.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("_n"))
    prev = ranked.select(
        F.col("c_nationkey").alias("_pk"),
        (F.col("rnk") + 1).alias("_prnk"),
        F.col("bal").alias("prev_bal"),
    )
    out = (
        ranked.join(n, "c_nationkey")
        .join(
            prev,
            (F.col("c_nationkey") == F.col("_pk")) & (F.col("rnk") == F.col("_prnk")),
            "left",
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "bal",
            "rnk",
            F.when(F.col("_n") == 1, F.lit(0.0))
            .otherwise(_round6((F.col("rnk") - 1) / (F.col("_n") - 1)))
            .alias("pct_rank"),
            _round6(F.col("rnk") / F.col("_n")).alias("cume"),
            "prev_bal",
            F.round(F.col("bal") - F.col("prev_bal"), 2).alias("step"),
        )
    )
    return out


@register(
    "q_rolling_wau",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
days AS (SELECT DISTINCT d FROM ud),
win AS (
  SELECT DISTINCT ud.u, days.d
  FROM ud JOIN days ON days.d >= ud.d AND days.d <= ud.d + INTERVAL 6 DAY
)
SELECT d AS day, count(*) AS wau FROM win GROUP BY 1
""",
    survey_ids=("A4", "W3"),
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the sliding-window DISTINCT
    that a naive window function cannot express (COUNT(DISTINCT) over a
    RANGE frame isn't supported, and recomputing distinct per day rescans
    everything). The scalable shape: collapse to distinct (user, day)
    FIRST, then each pair contributes to exactly 7 window-days via a
    bounded explode(sequence), distinct again, and count — work is
    7 x |user-days|, independent of raw event volume. The oracle joins a
    calendar instead (feasible only at fixture scale). Only days that
    appear in the data are reported (declared semantics: a day with zero
    events has no row). Integer-exact."""
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(F.col("user_id").alias("u"), F.to_date("ts").alias("d"))
        .distinct()
    )
    days = ud.select("d").distinct()
    expanded = ud.select(
        "u",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6), F.expr("interval 1 day"))
        ).alias("wd"),
    ).distinct()
    # keep only window-days that exist in the data (join on the small
    # distinct-days frame; broadcast)
    present = expanded.join(
        F.broadcast(days).withColumnRenamed("d", "wd"), "wd"
    )
    return present.groupBy(F.col("wd").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )


@register(
    "q_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
cnt AS (
  SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT src, sum(n) AS n_src FROM cnt GROUP BY 1)
SELECT c.src, c.dst, c.n, round(c.n / t.n_src, 6) AS p
FROM cnt c JOIN tot t ON c.src = t.src
""",
    survey_ids=("A2", "graph-pagerank"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    count (src -> next) pairs, normalize per source — the behavioral model
    behind next-event prediction and the probabilistic sibling of the
    pagerank click-graph (graph.transition_edges). The lead runs through
    skew.two_phase_shift(mode="auto") over the unique (ts, event_id)
    order — hourly-bucketed when the row estimate says a key could be
    hot, so no user's lifetime ever sorts in one task (VERDICT r7 #1);
    counts shuffle once keyed on (src, dst), and the normalization joins
    a 5x5 frame. Counts are exact; p is one IEEE division both engines
    share."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    seq = skew.two_phase_shift(
        ev,
        "user_id",
        ["ts", "event_id"],
        ["event_type"],
        skew.hour_bucket("ts"),
        mode="auto",
    ).select(
        F.col("event_type").alias("src"),
        F.col("event_type_lead").alias("dst"),
    ).where(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").alias("_n_src"))
    return cnt.join(tot, "src").select(
        "src", "dst", "n", F.round(F.col("n") / F.col("_n_src"), 6).alias("p")
    )


@register(
    "q_mode_per_group",
    oracle="""
WITH cnt AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment AS mode_segment, n AS mode_count
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY c_nationkey ORDER BY n DESC, c_mktsegment
  ) AS rn FROM cnt
)
WHERE rn = 1
""",
    survey_ids=("A2",),
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent market segment per
    nation, ties broken by segment name ascending — declared, not
    incidental): two keyed aggregates with map-side partials, no window,
    no sort of raw rows. Spark side uses min_by over the (-count, value)
    struct; the oracle mirrors with a rank-1 window over the counts frame.
    Integer-exact."""
    c = _t(spark, sf_dir, "customer")
    cnt = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cnt.groupBy("c_nationkey").agg(
        F.min_by(
            "c_mktsegment", F.struct((-F.col("n")).alias("neg"), F.col("c_mktsegment"))
        ).alias("mode_segment"),
        F.max("n").alias("mode_count"),
    )


@register(
    "q_weighted_median",
    oracle="""
WITH r AS (
  SELECT l.l_suppkey, round(l.l_extendedprice, 2) AS price, l.l_quantity AS w,
         sum(l.l_quantity) OVER (
           PARTITION BY l.l_suppkey
           ORDER BY round(l.l_extendedprice, 2), l.l_orderkey, l.l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_w,
         sum(l.l_quantity) OVER (PARTITION BY l.l_suppkey) AS total_w
  FROM lineitem l
)
SELECT l_suppkey,
       min(price) FILTER (WHERE cum_w * 2 >= total_w) AS weighted_median_price,
       max(total_w) AS total_quantity
FROM r GROUP BY l_suppkey
""",
    survey_ids=("A2",),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower) of line price per supplier, weighted
    by quantity: the first price (in (price, orderkey, linenumber) order)
    whose inclusive cumulative weight reaches half the total. The
    cumulative weight — the skew trap, since a running total over raw rows
    normally pins a key to one task — comes from skew.two_phase_cumsum
    (two_phase_rank's weighted generalization: local prefix within value
    buckets + one window over the tiny (key, bucket) totals frame). The
    oracle is the standard one-window formulation. Quantities are integral
    doubles far below 2^53, so every partial sum is exact in any order."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round("l_extendedprice", 2).alias("price"),
        F.col("l_quantity").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    # unique per-key order: (price, orderkey, linenumber); the *10 packing
    # is collision-free because l_linenumber <= 7 by TPC-H construction
    cum = skew.two_phase_cumsum(
        li.withColumn(
            "_tb",
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ),
        "l_suppkey",
        "price",
        "_tb",
        "w",
        bucket_width=5000.0,
    )
    return cum.groupBy("l_suppkey").agg(
        F.min(F.when(F.col("cum_w") * 2 >= F.col("total_w"), F.col("price"))).alias(
            "weighted_median_price"
        ),
        F.max("total_w").alias("total_quantity"),
    )


@register(
    "q_linear_trend",
    oracle="""
WITH q AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 AS xs,
         CAST(round(round(value, 6) * 1000000.0, 0) AS BIGINT) AS ym
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
base AS (SELECT event_type, min(xs) AS x0 FROM q GROUP BY 1),
c AS (
  SELECT q.event_type, (q.xs - b.x0) AS x, q.ym AS y
  FROM q JOIN base b ON q.event_type = b.event_type
),
s AS (
  SELECT event_type,
         count(*) AS n,
         sum(x) AS sx,
         sum(y) AS sy,
         sum(x * y) AS sxy,
         sum(x * x) AS sxx
  FROM c GROUP BY 1
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 86400.0 / 1000000.0, 6) AS slope_per_day,
       round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept
FROM s
""",
    survey_ids=("A2",),
)
def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ordinary-least-squares trend: per event type, the slope
    (micro-units/second scaled to value-units/day) and intercept of value
    against time, from the closed-form normal equations. All five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are EXACT integer sums —
    y is micro-unit-quantized (emb_hygiene's recipe) and x is seconds
    re-based to the group minimum so Σx² stays ~1e18, far inside BIGINT —
    making the aggregation order-free and the oracle hash-exact; the two
    final divisions are the only floats and both engines IEEE-share them.
    One pass for the per-group re-base minimum, one for the statistics —
    both keyed aggregates with map-side partials, no window, no collect.
    The classic map-reduce formulation of regression at 100 TB."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    q = ev.select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("xs"),
        F.round(F.round("value", 6) * 1_000_000.0, 0).cast("long").alias("ym"),
    )
    base = q.groupBy("event_type").agg(F.min("xs").alias("_x0"))
    c = q.join(base, "event_type").select(
        "event_type",
        (F.col("xs") - F.col("_x0")).alias("x"),
        F.col("ym").alias("y"),
    )
    # decimal sums: long x long products can pass 2^63 at scale (DuckDB
    # promotes to HUGEINT; Spark longs would wrap silently)
    xd = F.col("x").cast("decimal(20,0)")
    yd = F.col("y").cast("decimal(20,0)")
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        "event_type",
        "n",
        F.round(slope * 86400.0 / 1_000_000.0, 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1_000_000.0,
            6,
        ).alias("intercept"),
    )


@register(
    "q_grouping_sets",
    oracle="""
SELECT grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_priority,
       o_orderstatus, o_orderpriority,
       count(*) AS n,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority), ())
""",
    survey_ids=("A1", "A3"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (each dimension alone, the cross, and the
    grand total) with grouping() indicator columns — completing the
    grouped-aggregation surface next to q_rollup and q_cube_counts. Spark
    plans ONE scan + one Expand (4 replicas map-side) + one shuffle; at
    scale the Expand multiplies map output, which is the documented cost
    of multi-set aggregation vs running the sets separately (4 scans).
    Indicator + count + min/max only: integer/rounded-exact."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return o.sparkSession.sql(
        """
        SELECT grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    ).withColumn("g_status", F.col("g_status").cast("int")).withColumn(
        "g_priority", F.col("g_priority").cast("int")
    )


@register(
    "q_grouped_correlation",
    oracle="""
WITH q AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 AS xs,
         CAST(round(round(value, 6) * 1000000.0, 0) AS BIGINT) AS ym
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
base AS (SELECT event_type, min(xs) AS x0 FROM q GROUP BY 1),
c AS (SELECT q.event_type, (q.xs - b.x0) AS x, q.ym AS y FROM q JOIN base b USING (event_type)),
s AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM c GROUP BY 1
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
FROM s
""",
    survey_ids=("A2",),
)
def q_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation of value against time from the same
    exact integer sufficient statistics as q_linear_trend (plus Σy²):
    decimal sums make the aggregation order-free; r is two IEEE sqrt/
    divide steps both engines share. The built-in F.corr is the
    convenience path but accumulates in floats (order-dependent at the
    ulp level, unusable for a hash gate) — the sufficient-statistics
    formulation is both the exact one and the map-reduce-friendly one."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    q = ev.select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("xs"),
        F.round(F.round("value", 6) * 1_000_000.0, 0).cast("long").alias("ym"),
    )
    base = q.groupBy("event_type").agg(F.min("xs").alias("_x0"))
    c = q.join(base, "event_type").select(
        "event_type",
        (F.col("xs") - F.col("_x0")).alias("x"),
        F.col("ym").alias("y"),
    )
    xd = F.col("x").cast("decimal(20,0)")
    yd = F.col("y").cast("decimal(20,0)")
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    return s.select(
        "event_type",
        "n",
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt((nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            / F.sqrt((nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
            6,
        ).alias("pearson_r"),
    )


@register(
    "q_daily_anomalies",
    oracle="""
WITH d AS (
  SELECT event_type, ts::DATE AS day, count(*) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
s AS (
  SELECT event_type, count(*) AS k, sum(n) AS sn, sum(n * n) AS snn
  FROM d GROUP BY 1
)
SELECT d.event_type, d.day, d.n,
       round(CAST(d.n * s.k - s.sn AS DOUBLE)
             / sqrt(CAST(s.k * s.snn - s.sn * s.sn AS DOUBLE)), 6) AS z_num_scaled,
       CASE WHEN abs(CAST(d.n * s.k - s.sn AS DOUBLE))
                 > 2.0 * sqrt(CAST(s.k * s.snn - s.sn * s.sn AS DOUBLE))
            THEN 1 ELSE 0 END AS is_anomaly
FROM d JOIN s USING (event_type)
""",
    survey_ids=("A1", "P2"),
)
def q_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly gate over daily event volumes: a day is anomalous
    when |n - mean| > 2 sigma within its event type. Rearranged to clear
    denominators — compare ``|n*k - sum(n)|`` against
    ``2*sqrt(k*sum(n^2) - sum(n)^2)`` — so every input to the one sqrt
    and one divide is an EXACT integer (counts and counts-of-squares);
    the flag is a comparison both engines evaluate on identical doubles.
    Two keyed aggregates over the bounded per-(type, day) frame; the
    monitoring primitive a curation pipeline runs on every ingest."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    j = d.join(s, "event_type")
    num = (F.col("n") * F.col("k") - F.col("sn")).cast("double")
    var = (F.col("k") * F.col("snn") - F.col("sn") * F.col("sn")).cast("double")
    return j.select(
        "event_type",
        "day",
        "n",
        F.round(num / F.sqrt(var), 6).alias("z_num_scaled"),
        F.when(F.abs(num) > 2.0 * F.sqrt(var), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_anomaly"),
    )


@register(
    "q_last_touch_attribution",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER w AS last_click_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER w AS last_click_ts,
         min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS first_view_ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       last_click_id,
       CAST(CASE WHEN last_click_ts IS NOT NULL
                 THEN epoch_us(ts) // 1000000 - epoch_us(last_click_ts) // 1000000 END
            AS BIGINT) AS secs_since_click,
       first_view_ts
FROM e WHERE event_type = 'purchase'
""",
    survey_ids=("W2", "J4"),
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the user's most recent
    click at-or-before it (last touch — carry-forward of click ids/times
    over the unique (ts, event_id) order) and their earliest view so far
    (first touch — running min). Both prefix scans run through
    skew.two_phase_prefix(mode="auto") over the unique (ts, event_id)
    order — hourly-bucketed when the row estimate says a key could be
    hot, so carry-forwards stitch with each bucket's last carried value
    instead of sorting a flooding user's lifetime in one task (VERDICT
    r7 #1). Integer/timestamp-exact."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    pre = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("_ck_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("_ck_ts"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("_vw_ts"),
    )
    carried = skew.two_phase_prefix(
        pre,
        "user_id",
        ["ts", "event_id"],
        carry_cols=["_ck_id", "_ck_ts"],
        min_cols=["_vw_ts"],
        bucket=skew.hour_bucket("ts"),
        mode="auto",
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("_ck_id_pfx").alias("last_click_id"),
        F.col("_ck_ts_pfx").alias("last_click_ts"),
        F.col("_vw_ts_pfx").alias("first_view_ts"),
    )
    return carried.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_id",
        F.when(
            F.col("last_click_ts").isNotNull(),
            (
                F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
            ).cast("long")
            - (
                F.unix_micros(F.col("last_click_ts").cast("timestamp")) / 1_000_000
            ).cast("long"),
        ).cast("long").alias("secs_since_click"),
        "first_view_ts",
    )


@register(
    "q_type_entropy",
    oracle="""
WITH d AS (
  SELECT ts::DATE AS day, event_type, count(*) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT day, sum(n) AS nd, count(*) AS k FROM d GROUP BY 1),
terms AS (
  SELECT d.day, t.nd, t.k,
         CAST(round(-(CAST(d.n AS DOUBLE) / t.nd) * ln(CAST(d.n AS DOUBLE) / t.nd), 9)
              AS DECIMAL(18,9)) AS term
  FROM d JOIN tot t USING (day)
)
SELECT day, max(nd) AS n_events, max(k) AS n_types,
       round(CAST(sum(term) AS DOUBLE), 6) AS entropy,
       round(CAST(sum(term) AS DOUBLE) / ln(CAST(max(k) AS DOUBLE)), 6) AS norm_entropy
FROM terms GROUP BY day
""",
    survey_ids=("A1", "text-quality"),
)
def q_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Shannon entropy of the event-type mix (plus the 0..1
    normalized form) — the distribution-drift monitor a curation pipeline
    watches next to q_daily_anomalies. Float discipline: each -p*ln(p)
    term rounds to 9 places and sums as DECIMAL(18,9), so the
    order-dependence of float addition never reaches the result; ln is
    libm-identical across engines (proven by the A-ES sampler's hash-green
    ln keys). Counts shuffle once keyed on (day, type); the entropy
    aggregate groups a frame bounded by days x types."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = d.groupBy("day").agg(
        F.sum("n").alias("nd"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n").cast("double") / F.col("nd")
    terms = d.join(tot, "day").select(
        "day",
        "nd",
        "k",
        F.round(-p * F.log(p), 9).cast("decimal(18,9)").alias("term"),
    )
    return terms.groupBy("day").agg(
        F.max("nd").cast("long").alias("n_events"),
        F.max("k").cast("long").alias("n_types"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy"),
        F.round(
            F.sum("term").cast("double") / F.log(F.max("k").cast("double")), 6
        ).alias("norm_entropy"),
    )


@register(
    "q_audience_overlap",
    oracle="""
WITH a AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
sz AS (SELECT t, count(*) AS n FROM a GROUP BY 1),
inter AS (
  SELECT x.t AS t1, y.t AS t2, count(*) AS n_both
  FROM a x JOIN a y ON x.u = y.u AND x.t < y.t
  GROUP BY 1, 2
)
SELECT i.t1, i.t2, i.n_both, s1.n AS n1, s2.n AS n2,
       round(i.n_both / (s1.n + s2.n - i.n_both), 6) AS jaccard,
       round(i.n_both / least(s1.n, s2.n), 6) AS overlap_coef
FROM inter i JOIN sz s1 ON i.t1 = s1.t JOIN sz s2 ON i.t2 = s2.t
""",
    survey_ids=("A4", "dedup-exact"),
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: Jaccard and Szymkiewicz-
    Simpson coefficients over distinct user sets — the audience-analysis
    dual of document Jaccard. Events collapse to distinct (type, user)
    FIRST (one keyed shuffle); the pair join is keyed on user with the
    t1 < t2 triangle filter, so work is sum of per-user type-pair counts
    (bounded by C(5,2) per user), never users x users. Exact integers plus
    two shared IEEE divisions."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    a = ev.select(F.col("event_type").alias("t"), F.col("user_id").alias("u")).distinct()
    sz = a.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    x, y = a.alias("x"), a.alias("y")
    inter = (
        x.join(y, (F.col("x.u") == F.col("y.u")) & (F.col("x.t") < F.col("y.t")))
        .groupBy(F.col("x.t").alias("t1"), F.col("y.t").alias("t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    s1 = sz.select(F.col("t").alias("t1"), F.col("n").alias("n1"))
    s2 = sz.select(F.col("t").alias("t2"), F.col("n").alias("n2"))
    return (
        inter.join(s1, "t1")
        .join(s2, "t2")
        .select(
            "t1",
            "t2",
            "n_both",
            "n1",
            "n2",
            F.round(
                F.col("n_both") / (F.col("n1") + F.col("n2") - F.col("n_both")), 6
            ).alias("jaccard"),
            F.round(F.col("n_both") / F.least("n1", "n2"), 6).alias("overlap_coef"),
        )
    )


@register(
    "q_pareto_concentration",
    oracle="""
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
),
r AS (
  SELECT user_id, n,
         sum(n) OVER (ORDER BY n DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         sum(n) OVER () AS total_n,
         row_number() OVER (ORDER BY n DESC, user_id) AS rnk,
         count(*) OVER () AS n_users
  FROM per_user
)
SELECT CAST((rnk * 10 - 1) // n_users + 1 AS INT) AS decile,
       max(rnk) AS users_through,
       max(cum_n) AS events_through,
       round(max(cum_n) / max(total_n), 6) AS share_through
FROM r GROUP BY 1
""",
    survey_ids=("A2",),
)
def q_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration (Pareto/whale curve): rank users by event
    count descending and report, at each population decile, the
    cumulative share of all events the top users produce. The global
    ordered prefix — normally a one-task sort+scan — reuses BOTH two-phase
    tools: two_phase_rank for the descending rank and two_phase_cumsum
    for the running event total (constant key; the only global windows run
    over the tiny value-bucket count frames). The per-user pre-aggregate
    bounds everything at |users|. Decile = ((rank*10 - 1) div n_users)+1
    in integer arithmetic. Exact integers, one shared division."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # descending order via negated count (two_phase_* order ascending)
    pu = per_user.withColumn("_g", F.lit(1)).withColumn("_neg", -F.col("n"))
    ranked = skew.two_phase_rank(pu, "_g", "_neg", "user_id", bucket_width=64.0, rank_col="rnk")
    cum = skew.two_phase_cumsum(
        ranked, "_g", "_neg", "user_id", "n", bucket_width=64.0,
        cum_col="cum_n", total_col="total_n",
    )
    totals = cum.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    j = cum.join(totals, "_g").withColumn(
        "decile",
        (F.expr("(rnk * 10 - 1) div n_users") + 1).cast("int"),
    )
    return j.groupBy("decile").agg(
        F.max("rnk").cast("long").alias("users_through"),
        F.max("cum_n").cast("long").alias("events_through"),
        F.round(F.max("cum_n") / F.max("total_n"), 6).alias("share_through"),
    )


@register(
    "text_pmi_bigrams",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), s -> s <> '') AS l
  FROM documents WHERE text IS NOT NULL
),
bi AS (
  SELECT l[i] AS x, l[i+1] AS y
  FROM t, unnest(generate_series(1, len(l) - 1)) AS g(i)
),
uni AS (SELECT unnest(l) AS tok FROM t),
c_bi AS (SELECT x, y, count(*) AS c_xy FROM bi GROUP BY 1, 2),
c_uni AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
nb AS (SELECT sum(c_xy) AS nb FROM c_bi),
nu AS (SELECT sum(c) AS nu FROM c_uni)
SELECT b.x, b.y, b.c_xy,
       round(ln((CAST(b.c_xy AS DOUBLE) / nb.nb)
                / ((CAST(ux.c AS DOUBLE) / nu.nu) * (CAST(uy.c AS DOUBLE) / nu.nu))), 6) AS pmi
FROM c_bi b
JOIN c_uni ux ON b.x = ux.tok
JOIN c_uni uy ON b.y = uy.tok, nb, nu
WHERE b.c_xy >= 5
""",
    survey_ids=("text-tfidf", "F13"),
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations by pointwise mutual information over
    consecutive-token bigrams (frequency floor 5, declared) — the phrase-
    detection signal for vocabulary induction. Bigrams zip each token
    array against its own tail in-row (codegen slice + arrays_zip, no
    self-join); only counts shuffle; totals broadcast. See
    operators/text.pmi_bigrams."""
    return text.pmi_bigrams(_t(spark, sf_dir, "documents"))


@register(
    "q_purchase_intervals",
    oracle="""
WITH p AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
),
g AS (
  SELECT CAST((epoch_us(ts) - epoch_us(prev_ts)) // 3600000000 AS BIGINT) AS gap_hours
  FROM p WHERE prev_ts IS NOT NULL
)
SELECT gap_hours, count(*) AS n
FROM g GROUP BY 1
""",
    survey_ids=("W4", "A2"),
)
def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution (whole hours): lag over the
    unique (ts, event_id) order per user via skew.two_phase_shift
    (mode="auto" — day-bucketed above the row bound, so a bot account's
    purchase flood never sorts in one task; VERDICT r7 #1), integer-hour
    bucket, corpus histogram — the W4 returning-gap logic generalized
    from a 7-day flag to the full distribution. Purchases pre-filter
    before the window (pushdown), gaps collapse to a bounded histogram
    frame. Integer-exact."""
    ev = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    p = skew.two_phase_shift(
        ev,
        "user_id",
        ["ts", "event_id"],
        ["ts"],
        skew.hour_bucket("ts", 86400),
        direction="lag",
        mode="auto",
    ).select("user_id", "ts", F.col("ts_lag").alias("prev_ts")).where(
        F.col("prev_ts").isNotNull()
    )
    g = p.select(
        F.floor(
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp"))
            )
            / 3_600_000_000
        )
        .cast("long")
        .alias("gap_hours")
    )
    return g.groupBy("gap_hours").agg(F.count(F.lit(1)).cast("long").alias("n"))


@register(
    "q_dow_seasonality",
    oracle="""
WITH d AS (
  SELECT event_type, dayofweek(ts) AS dow, count(*) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
t AS (SELECT event_type, sum(n) AS tot FROM d GROUP BY 1)
SELECT d.event_type, d.dow, d.n,
       round(d.n / t.tot, 6) AS share
FROM d JOIN t USING (event_type)
""",
    survey_ids=("A1", "F2"),
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type (count + share) —
    the weekly-rhythm summary behind staffing/anomaly baselines. Spark's
    dayofweek and DuckDB's dayofweek differ by convention (Sun=1..Sat=7
    vs Sun=0..Sat=6), so the Spark side subtracts 1 to the DuckDB
    numbering — a declared mapping, locked by the oracle. Two keyed
    aggregates; one shared division."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = d.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return d.join(t, "event_type").select(
        "event_type",
        "dow",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("share"),
    )


@register(
    "q_abandoned_carts",
    oracle="""
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
FROM events c
WHERE c.event_type = 'click' AND c.user_id IS NOT NULL AND c.ts IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase'
      AND p.user_id = c.user_id
      AND p.ts >= c.ts
      AND p.ts <= c.ts + INTERVAL 24 HOUR
  )
""",
    survey_ids=("J3", "J2"),
)
def q_abandoned_carts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval ANTI-join: clicks with NO purchase by the same user within
    the following 24 hours — the abandonment query, and the anti
    complement of the J3 interval join (DwdTradeOrderPaySucDetail.java:123's
    ±window bounds). Spark plans left_anti on the user equi-key with the
    range predicate as the join condition — a hash anti-join probing only
    same-user purchases, never a cartesian (the J3 plan-lock family
    argument applies unchanged). Timestamp/id-exact."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("interval 24 hours"))
    )
    return clicks.join(purchases, cond, "left_anti")


@register(
    "q_session_conversion",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS st
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, ts, event_type,
         sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
),
per AS (
  SELECT user_id, session_id, min(ts::DATE) AS d,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM sid GROUP BY 1, 2
)
SELECT d AS day, count(*) AS n_sessions, sum(conv)::BIGINT AS n_converting,
       round(sum(conv) / count(*), 6) AS conversion_rate
FROM per GROUP BY 1
""",
    survey_ids=("W3", "A1"),
)
def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion: sessionize (30-min gap), roll events up
    to (user, session) with a purchase flag, then daily session counts and
    conversion rate — the composition of the W3 sessionizer with the
    funnel's outcome event, and the number a growth dashboard actually
    shows. Boundary determinism: both engines run the id prefix sum over
    the UNIQUE (ts, event_id) order (sessionize tiebreaks on event_id when
    present) — with ties broken arbitrarily, a row tied with a session
    starter could be attributed to the previous session on one side only.
    Reuses state.sessionize (auto skew mode) — the
    rollup groups by (user, session_id), bounded per session. Exact
    integers, one shared division."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    s = state.sessionize(ev, "user_id", "ts", gap_seconds=1800)
    per = s.groupBy("user_id", "session_id").agg(
        F.min(F.to_date("ts")).alias("day"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        ).alias("conv"),
    )
    return per.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("conv").cast("long").alias("n_converting"),
        F.round(F.sum("conv") / F.count(F.lit(1)), 6).alias("conversion_rate"),
    )


@register(
    "q_rfm_segments",
    oracle="""
WITH per AS (
  SELECT o_custkey,
         (SELECT max(o_orderdate::DATE) FROM orders) - max(o_orderdate::DATE) AS recency_days,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS monetary
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
),
r AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, o_custkey) AS r_rnk,
         row_number() OVER (ORDER BY frequency DESC, o_custkey) AS f_rnk,
         row_number() OVER (ORDER BY monetary DESC, o_custkey) AS m_rnk,
         count(*) OVER () AS n
  FROM per
),
seg AS (
  SELECT CAST(((r_rnk - 1) * 5) // n + 1 AS INT) AS r_q,
         CAST(((f_rnk - 1) * 5) // n + 1 AS INT) AS f_q,
         CAST(((m_rnk - 1) * 5) // n + 1 AS INT) AS m_q,
         recency_days, frequency, monetary
  FROM r
)
SELECT r_q, f_q, m_q, count(*) AS n_customers,
       max(recency_days)::BIGINT AS max_recency_days,
       max(frequency) AS max_frequency,
       round(CAST(max(monetary) AS DOUBLE), 2) AS max_monetary
FROM seg GROUP BY 1, 2, 3
""",
    survey_ids=("A2", "W4"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer recency (days since last order,
    anchored to the corpus max date — deterministic), frequency (order
    count) and monetary (DECIMAL-exact revenue), each quintiled by the
    equi-depth floor formula over a skew-safe two_phase_rank (recency
    ascending = best first; frequency/monetary via negation), then
    customer counts per (R,F,M) cell — the classic lifecycle-marketing
    segment table. All three ranks run on the bounded per-customer frame;
    the oracle uses plain row_number windows, same formula."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("_maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("_last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("_maxd"), F.col("_last")).cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .withColumn("_g", F.lit(1))
    )

    def quintile(df: DataFrame, order_col, out_col: str, width: float) -> DataFrame:
        ranked = skew.two_phase_rank(
            df.withColumn("_o", order_col), "_g", "_o", "o_custkey", width, rank_col="_r"
        )
        n = ranked.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
        return (
            ranked.join(n, "_g")
            .withColumn(out_col, (F.expr("((_r - 1) * 5) div _n") + 1).cast("int"))
            .drop("_o", "_r", "_n")
        )

    seg = quintile(per, F.col("recency_days"), "r_q", 30.0)
    seg = quintile(seg, -F.col("frequency"), "f_q", 4.0)
    # rank on the negated DECIMAL directly (no narrowing cast: sum yields
    # decimal(28,2) and a (19,2) cast would NULL totals >= 10^17 and rank
    # them nulls-first, diverging from the oracle's exact DESC — ADVICE r8;
    # floor(_o/width) bucketing works on the wide decimal as-is)
    seg = quintile(seg, -F.col("monetary"), "m_q", 50000.0)
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max("recency_days").alias("max_recency_days"),
        F.max("frequency").alias("max_frequency"),
        F.round(F.max("monetary").cast("double"), 2).alias("max_monetary"),
    )


@register(
    "q_basket_affinity",
    oracle="""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
item AS (SELECT l_partkey, count(*) AS c FROM baskets GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS c_xy
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.x, p.y, p.c_xy,
       round(CAST(p.c_xy AS DOUBLE) / n.n, 6) AS support,
       round(CAST(p.c_xy AS DOUBLE) / ix.c, 6) AS confidence_x_to_y,
       round((CAST(p.c_xy AS DOUBLE) * n.n) / (CAST(ix.c AS DOUBLE) * iy.c), 6) AS lift
FROM pair p
JOIN item ix ON p.x = ix.l_partkey
JOIN item iy ON p.y = iy.l_partkey, n_orders n
WHERE p.c_xy >= 3
""",
    survey_ids=("J1", "A1"),
)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (the 2-itemset Apriori stage):
    support, confidence and lift for part pairs co-occurring in an order.
    Pair generation is the bounded same-order self-join (<= C(lines,2)
    <= 21 pairs per basket — the same falling-density shape as the
    triangle fixture), item and pair counts are keyed aggregates, and the
    tiny order-count total broadcasts. Declared support floor c_xy >= 3.
    Counts exact; the three ratios are shared IEEE divisions."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a, b = li.alias("ba"), li.alias("bb")
    pair = (
        a.join(
            b,
            (F.col("ba.l_orderkey") == F.col("bb.l_orderkey"))
            & (F.col("ba.l_partkey") < F.col("bb.l_partkey")),
        )
        .groupBy(F.col("ba.l_partkey").alias("x"), F.col("bb.l_partkey").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= 3)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("c").alias("cx"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("c").alias("cy"))
    return (
        pair.join(ix, "x")
        .join(iy, "y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "x",
            "y",
            "c_xy",
            F.round(F.col("c_xy").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("c_xy").cast("double") / F.col("cx"), 6).alias(
                "confidence_x_to_y"
            ),
            F.round(
                (F.col("c_xy").cast("double") * F.col("n"))
                / (F.col("cx").cast("double") * F.col("cy")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "multimodal_ogg_meta",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 5 + 3)::INT AS n_pages,
       (doc_id % 2 + 1)::INT AS channels,
       (doc_id % 1000)::INT AS pre_skip,
       (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 24000 ELSE 48000 END)::INT AS input_rate,
       (doc_id % 2000 + 20)::INT AS duration_ms,
       (doc_id % 5 + 1)::INT AS n_audio_pages
FROM documents
""",
    survey_ids=("mm-decode",),
)
def multimodal_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG/Opus metadata gate: synthesize a structurally valid Opus-in-Ogg
    stream per doc (BOS OpusHead, OpusTags with odd-length vendor decoy,
    multi-segment lacing with 255-boundary segments, continuation flags,
    EOS granule encoding duration per RFC 7845), then walk the pages back:
    page/packet accounting, channels, pre-skip, input rate, duration —
    the streaming-audio curation columns, no packet decode. Oracle = seed
    arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    payloads = multimodal.synth_media(docs, "doc_id", "ogg")
    media = multimodal.to_media_table(payloads, "media_id", F.col("payload"), "audio/ogg")
    return multimodal.ogg_meta(media)


@register(
    "q_cohort_ltv",
    oracle="""
WITH f AS (
  SELECT o_custkey, min(date_trunc('week', o_orderdate))::DATE AS cohort_week
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
),
rev AS (
  SELECT f.cohort_week,
         CAST((date_trunc('week', o.o_orderdate)::DATE - f.cohort_week) // 7 AS INT) AS week_offset,
         sum(CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2))) AS wk_rev,
         count(*) AS n_orders
  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_orders,
       round(CAST(wk_rev AS DOUBLE), 2) AS week_revenue,
       round(CAST(sum(wk_rev) OVER (
         PARTITION BY cohort_week ORDER BY week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS cumulative_revenue
FROM rev
""",
    survey_ids=("W2", "A2"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: revenue per (first-order-week cohort, week
    offset) with the cumulative LTV curve — q_retention_cohorts' revenue
    sibling. DECIMAL(18,2) weekly masses make both the aggregate and the
    running total order-invariant exact (the prefix window runs over the
    bounded cohorts x weeks frame, never raw orders); the final rounding
    to double is shared. One keyed min-agg for cohorts, one keyed join +
    aggregate, one tiny window."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("week", F.min("o_orderdate")).cast("date").alias("cohort_week")
    )
    rev = (
        o.join(f, "o_custkey")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("o_orderdate")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("_wk"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return rev.select(
        "cohort_week",
        "week_offset",
        "n_orders",
        F.round(F.col("_wk").cast("double"), 2).alias("week_revenue"),
        F.round(F.sum("_wk").over(w).cast("double"), 2).alias("cumulative_revenue"),
    )


@register(
    "q_order_to_ship_lag",
    oracle="""
SELECT CAST(l.l_shipdate::DATE - o.o_orderdate::DATE AS BIGINT) AS lag_days,
       count(*) AS n,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
    survey_ids=("J1", "A1"),
)
def q_order_to_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution: day lag between the order date
    and each line's ship date, as a corpus histogram with per-bin distinct
    order counts — the cross-table SLA profile. One keyed fact-to-fact
    join (orders projected to two columns — AQE broadcasts at fixture
    scale, co-partitioned hash at warehouse scale), then a keyed count +
    two-phase distinct. Integer-exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return (
        j.select(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("lag_days"),
            "o_orderkey",
        )
        .groupBy("lag_days")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
        )
    )


@register(
    "q_mad_robust_dispersion",
    oracle="""
WITH c AS (
  SELECT c_nationkey, round(c_acctbal, 2) AS bal, c_custkey FROM customer
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY bal, c_custkey) AS rnk,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM c
),
med AS (
  SELECT c_nationkey, bal AS median_bal, n FROM r1 WHERE rnk = (n + 1) // 2
),
dev AS (
  SELECT c.c_nationkey, c.c_custkey, m.median_bal, m.n,
         round(abs(c.bal - m.median_bal), 2) AS d
  FROM c JOIN med m ON c.c_nationkey = m.c_nationkey
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY d, c_custkey) AS rnk
  FROM dev
)
SELECT c_nationkey, max(n)::BIGINT AS n,
       max(median_bal) AS median_bal,
       max(CASE WHEN rnk = (n + 1) // 2 THEN d END) AS mad
FROM r2 GROUP BY c_nationkey
""",
    survey_ids=("A2",),
)
def q_mad_robust_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per nation: lower median of account balance and
    the median absolute deviation around it — the outlier-resistant
    (median, MAD) pair that replaces (mean, stddev) on heavy-tailed data.
    TWO order-statistics passes, both through skew.two_phase_rank (no
    per-key single-task sort anywhere); the rank-picked median is exact
    (no interpolation — lower median at rank (n+1) div 2, declared), the
    deviations are rounded subtractions of rounded values, and the oracle
    runs the same two rounds with plain windows."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey", F.round("c_acctbal", 2).alias("bal"), "c_custkey"
    )
    r1 = skew.two_phase_rank(c, "c_nationkey", "bal", "c_custkey", 500.0, rank_col="_r")
    n = r1.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("_n"))
    med = (
        r1.join(n, "c_nationkey")
        .where(F.col("_r") == F.expr("(_n + 1) div 2"))
        .select("c_nationkey", F.col("bal").alias("median_bal"), F.col("_n"))
    )
    dev = c.join(med, "c_nationkey").select(
        "c_nationkey",
        "c_custkey",
        "median_bal",
        "_n",
        F.round(F.abs(F.col("bal") - F.col("median_bal")), 2).alias("d"),
    )
    r2 = skew.two_phase_rank(dev, "c_nationkey", "d", "c_custkey", 200.0, rank_col="_r2")
    return r2.groupBy("c_nationkey").agg(
        F.max("_n").cast("long").alias("n"),
        F.max("median_bal").alias("median_bal"),
        F.max(F.when(F.col("_r2") == F.expr("(_n + 1) div 2"), F.col("d"))).alias("mad"),
    )
