"""Unit + property tests for operators/analytics.py (funnel, retention,
gap-fill, equi-depth buckets, histogram)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_gmall2024_realtime_spark.operators import analytics

TS = dt.datetime


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    )


# ---------------------------------------------------------------- funnel


def test_funnel_strict_ordering(spark):
    # user 1 converts in order; user 2 purchases BEFORE clicking (must not
    # count at the purchase stage); user 3 stops after view.
    rows = [
        (1, TS(2024, 1, 1, 0), "signup", 1.0),
        (1, TS(2024, 1, 1, 1), "view", 1.0),
        (1, TS(2024, 1, 1, 2), "click", 1.0),
        (1, TS(2024, 1, 1, 3), "purchase", 1.0),
        (2, TS(2024, 1, 2, 0), "signup", 1.0),
        (2, TS(2024, 1, 2, 1), "view", 1.0),
        (2, TS(2024, 1, 2, 2), "purchase", 1.0),  # out of order
        (2, TS(2024, 1, 2, 3), "click", 1.0),
        (3, TS(2024, 1, 3, 0), "signup", 1.0),
        (3, TS(2024, 1, 3, 1), "view", 1.0),
        # user 4 never signs up — invisible to every stage
        (4, TS(2024, 1, 4, 0), "purchase", 1.0),
    ]
    out = analytics.funnel(
        _events(spark, rows), ("signup", "view", "click", "purchase")
    )
    got = {r["stage"]: r["users"] for r in out.collect()}
    assert got == {"signup": 3, "view": 3, "click": 2, "purchase": 1}


def test_funnel_ties_allowed(spark):
    # same-timestamp events count (>= semantics)
    t = TS(2024, 1, 1, 12)
    rows = [(1, t, "signup", 1.0), (1, t, "view", 1.0)]
    out = analytics.funnel(_events(spark, rows), ("signup", "view"))
    got = {r["stage"]: r["users"] for r in out.collect()}
    assert got == {"signup": 1, "view": 1}


def _funnel_python(rows, stages):
    """Reference model: per user, chained conditional minima."""
    reached = []
    users = sorted({u for u, _, _ in rows})
    thresholds = {}
    for i, s in enumerate(stages):
        nxt = {}
        for u in users:
            prev = thresholds.get(u) if i else dt.datetime.min
            if i and prev is None:
                continue
            cand = [t for uu, t, e in rows if uu == u and e == s and t >= prev]
            if cand:
                nxt[u] = min(cand)
        thresholds = nxt
        reached.append(len(nxt))
    return reached


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=0, max_value=20),  # hour offset
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0,
        max_size=25,
    )
)
def test_funnel_matches_python_model(spark_module, events):
    stages = ("a", "b", "c")
    rows = [(u, TS(2024, 1, 1) + dt.timedelta(hours=h), e) for u, h, e in events]
    expect = _funnel_python(rows, stages)
    df = spark_module.createDataFrame(
        [(u, t, e, 1.0) for u, t, e in rows] or [(None, None, None, None)],
        "user_id long, ts timestamp, event_type string, value double",
    )
    out = analytics.funnel(df, stages)
    got = [r["users"] for r in out.orderBy("stage_index").collect()]
    assert got == expect


@pytest.fixture(scope="module")
def spark_module(spark):
    return spark


# ------------------------------------------------------------- retention


def test_retention_cohorts(spark):
    # cohort week of 2024-01-01 (Mon): users 1,2. user 1 returns week 1;
    # user 2 doesn't. user 3 starts week 1.
    rows = [
        (1, TS(2024, 1, 2), "view", 1.0),
        (1, TS(2024, 1, 10), "view", 1.0),
        (2, TS(2024, 1, 3), "view", 1.0),
        (3, TS(2024, 1, 9), "view", 1.0),
    ]
    out = analytics.retention_cohorts(_events(spark, rows))
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (r["n_users"], r["cohort_size"])
        for r in out.collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2),
        ("2024-01-01", 1): (1, 2),
        ("2024-01-08", 0): (1, 1),
    }


# -------------------------------------------------------------- gap fill


def test_gap_fill_daily(spark):
    rows = [
        (1, TS(2024, 1, 1, 5), "x", 10.0),
        (1, TS(2024, 1, 1, 6), "x", 30.0),
        # Jan 2, Jan 3 missing
        (1, TS(2024, 1, 4, 5), "x", 7.0),
        (1, TS(2024, 1, 2, 5), "y", 5.0),
    ]
    out = analytics.gap_fill_daily(_events(spark, rows)).orderBy(
        "event_type", "day"
    )
    got = [
        (r["event_type"], str(r["day"]), r["n_events"], r["is_gap"], r["carried_max_value"])
        for r in out.collect()
    ]
    assert got == [
        ("x", "2024-01-01", 2, 0, 30.0),
        ("x", "2024-01-02", 0, 1, 30.0),
        ("x", "2024-01-03", 0, 1, 30.0),
        ("x", "2024-01-04", 1, 0, 7.0),
        ("y", "2024-01-02", 1, 0, 5.0),
    ]


# ------------------------------------------------------- equi-depth/hist


def test_equidepth_buckets_sizes_and_bounds(spark):
    # 10 rows, k=4 -> sizes (by the floor formula) 3,2,3,2
    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 11)], "o_orderkey long, v double"
    )
    out = analytics.equidepth_buckets(df, "v", "o_orderkey", k=4, bucket_width=25.0)
    got = {r["bucket"]: (r["n_rows"], r["lo"], r["hi"]) for r in out.collect()}
    assert got == {
        1: (3, 10.0, 30.0),
        2: (2, 40.0, 50.0),
        3: (3, 60.0, 80.0),
        4: (2, 90.0, 100.0),
    }
    # buckets partition the value order: each bucket's hi <= next bucket's lo
    bounds = [got[b] for b in sorted(got)]
    assert all(bounds[i][2] <= bounds[i + 1][1] for i in range(len(bounds) - 1))


def test_equidepth_bucket_sizes_differ_by_at_most_one(spark):
    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(57)], "o_orderkey long, v double"
    )
    out = analytics.equidepth_buckets(df, "v", "o_orderkey", k=8, bucket_width=10.0)
    sizes = [r["n_rows"] for r in out.collect()]
    assert sum(sizes) == 57 and len(sizes) == 8
    assert max(sizes) - min(sizes) <= 1


def test_value_histogram(spark):
    df = spark.createDataFrame(
        [(0.0,), (19.9,), (20.0,), (45.0,), (None,)], "v double"
    )
    out = analytics.value_histogram(df, "v", 20.0)
    got = {r["bin"]: (r["n_rows"], r["lo"], r["hi"]) for r in out.collect()}
    assert got == {0: (2, 0.0, 19.9), 1: (1, 20.0, 20.0), 2: (1, 45.0, 45.0)}


# ----------------------------------------------------------- time-weighted


def test_time_weighted_avg_hand_values(spark):
    """Zero-order hold: v=10 held 10s then v=20 held 30s -> 17.5; the
    final observation holds nothing; single-event keys drop out."""
    rows = [
        (1, TS(2024, 1, 1, 0, 0, 0), "x", 10.0),
        (1, TS(2024, 1, 1, 0, 0, 10), "x", 20.0),
        (1, TS(2024, 1, 1, 0, 0, 40), "x", 99.0),
        (2, TS(2024, 1, 1, 0, 0, 0), "x", 5.0),
    ]
    out = analytics.time_weighted_avg(_events(spark, rows))
    got = {r["user_id"]: (r["twavg"], r["held_micros"]) for r in out.collect()}
    assert got == {1: (17.5, 40_000_000)}


def test_time_weighted_avg_equals_plain_avg_on_regular_grid(spark):
    """On an evenly-spaced series the time-weighted mean equals the plain
    mean of all but the last sample."""
    rows = [(7, TS(2024, 1, 1, 0, 0, 10 * i), "x", float(v)) for i, v in enumerate([4, 8, 6, 2, 9])]
    out = analytics.time_weighted_avg(_events(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["twavg"] == round(sum([4, 8, 6, 2]) / 4, 6)


def test_time_weighted_avg_two_phase_boundary(spark):
    """Bucket-boundary stitch: last row of an hour-bucket holds until the
    first event of the key's NEXT non-empty bucket (empty buckets between
    them need no special casing)."""
    rows = [
        (1, TS(2024, 1, 1, 0, 59, 0), "x", 10.0),
        # hours 1 and 2 empty
        (1, TS(2024, 1, 1, 3, 0, 0), "x", 40.0),
        (1, TS(2024, 1, 1, 3, 30, 0), "x", 99.0),
    ]
    single = analytics.time_weighted_avg(_events(spark, rows), mode="single").collect()
    two = analytics.time_weighted_avg(
        _events(spark, rows), mode="two_phase", bucket_seconds=3600
    ).collect()
    assert [r.asDict() for r in single] == [r.asDict() for r in two]
    # 10 held 121 min, 40 held 30 min
    assert single[0]["twavg"] == round((10 * 121 + 40 * 30) / 151, 6)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),     # key
            st.integers(min_value=0, max_value=18000), # seconds offset (spans 5 hours)
            st.integers(min_value=0, max_value=500),   # value cents
        ),
        min_size=0,
        max_size=30,
    )
)
def test_time_weighted_avg_two_phase_equals_single(spark_module, events):
    rows = [
        (u, TS(2024, 1, 1) + dt.timedelta(seconds=s), "x", v / 100.0)
        for u, s, v in events
    ]
    df = spark_module.createDataFrame(
        rows or [(None, None, None, None)],
        "user_id long, ts timestamp, event_type string, value double",
    )
    one = {r["user_id"]: (r["twavg"], r["held_micros"])
           for r in analytics.time_weighted_avg(df, mode="single").collect()}
    two = {r["user_id"]: (r["twavg"], r["held_micros"])
           for r in analytics.time_weighted_avg(
               df, mode="two_phase", bucket_seconds=3600).collect()}
    assert one == two


# ------------------------------------------------------------ linear trend


def test_linear_trend_recovers_exact_line(spark):
    """Points exactly on value = 2*t_days + 5 recover slope 2 and
    intercept 5 (x is re-based per group, slope shift-invariant)."""
    from flink_gmall2024_realtime_spark.plans.catalog import CATALOG

    rows = []
    for i in range(10):
        t = TS(2024, 1, 1) + dt.timedelta(hours=6 * i)
        days = 6 * i / 24.0
        rows.append((1, t, "lin", 2.0 * days + 5.0))
    df = _events(spark, rows)
    df.createOrReplaceTempView("_lt")
    # drive the same math through the operator body via a local frame
    import numpy as np

    from pyspark.sql import functions as F

    q = df.select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("long").alias("xs"),
        F.round(F.round("value", 6) * 1_000_000.0, 0).cast("long").alias("ym"),
    )
    base = q.groupBy("event_type").agg(F.min("xs").alias("_x0"))
    c = q.join(base, "event_type").select(
        "event_type", (F.col("xs") - F.col("_x0")).alias("x"), F.col("ym").alias("y")
    )
    xd = F.col("x").cast("decimal(20,0)")
    yd = F.col("y").cast("decimal(20,0)")
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"), F.sum(xd * xd).alias("sxx"),
    ).collect()[0]
    n, sx, sy, sxy, sxx = s["n"], float(s["sx"]), float(s["sy"]), float(s["sxy"]), float(s["sxx"])
    slope_per_sec = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert round(slope_per_sec * 86400.0 / 1_000_000.0, 6) == 2.0
    intercept = (sy - slope_per_sec * sx) / n / 1_000_000.0
    assert round(intercept, 6) == 5.0


# ---------------------------------------------------- property: retention


def _retention_python(rows):
    """Pure-python model: Monday-truncated weeks, cohort = first week."""
    import collections

    def monday(d):
        return d - dt.timedelta(days=d.weekday())

    weeks = collections.defaultdict(set)
    for u, d in rows:
        weeks[u].add(monday(d))
    out = collections.Counter()
    for u, ws in weeks.items():
        c = min(ws)
        for w in ws:
            out[(c, (w - c).days // 7)] += 1
    return dict(out)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=0, max_value=35),  # day offset, 6 weeks
        ),
        min_size=1,
        max_size=30,
    )
)
def test_retention_matches_python_model(spark_module, rows):
    data = [(u, dt.date(2024, 1, 1) + dt.timedelta(days=d)) for u, d in rows]
    df = spark_module.createDataFrame(
        [(u, dt.datetime.combine(d, dt.time(12)), "view", 1.0) for u, d in data],
        "user_id long, ts timestamp, event_type string, value double",
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in analytics.retention_cohorts(df).collect()
    }
    assert got == _retention_python(data)


# ----------------------------------------------------- property: gap fill


def _gap_fill_python(rows):
    """Pure-python model of gap_fill_daily over (key, date, value) rows."""
    import collections

    daily = collections.defaultdict(list)
    for k, d, v in rows:
        daily[(k, d)].append(v)
    keys = {k for k, _, _ in rows}
    out = []
    for k in keys:
        days = sorted(d for kk, d in daily if kk == k)
        carried = None
        d = days[0]
        while d <= days[-1]:
            vs = daily.get((k, d))
            if vs:
                carried = round(max(vs), 2)
                out.append((k, d, len(vs), 0, carried))
            else:
                out.append((k, d, 0, 1, carried))
            d += dt.timedelta(days=1)
    return sorted(out)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=12),   # day offset
            st.integers(min_value=0, max_value=999),  # value cents
        ),
        min_size=1,
        max_size=20,
    )
)
def test_gap_fill_matches_python_model(spark_module, rows):
    data = [(k, dt.date(2024, 1, 1) + dt.timedelta(days=d), v / 100.0) for k, d, v in rows]
    df = spark_module.createDataFrame(
        [(1, dt.datetime.combine(d, dt.time(6)), k, v) for k, d, v in data],
        "user_id long, ts timestamp, event_type string, value double",
    )
    got = sorted(
        (r["event_type"], r["day"], r["n_events"], r["is_gap"], r["carried_max_value"])
        for r in analytics.gap_fill_daily(df).collect()
    )
    assert got == _gap_fill_python(data)


# ------------------------------------------------------- property: markov


def _markov_python(rows):
    """Pure-python transition counts over (user, ts-ordered) sequences."""
    import collections

    byuser = collections.defaultdict(list)
    for i, (u, t, e) in enumerate(rows):
        byuser[u].append((t, i, e))
    cnt = collections.Counter()
    for u, evs in byuser.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            cnt[(a, b)] += 1
    return dict(cnt)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=0, max_value=400),  # minute offset (unique-ish)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),  # unique (user, ts): lead order total
    )
)
def test_markov_counts_match_python_model(spark_module, rows):
    from flink_gmall2024_realtime_spark.plans.catalog import CATALOG  # noqa: F401

    data = [(u, TS(2024, 1, 1) + dt.timedelta(minutes=m), e) for u, m, e in rows]
    df = spark_module.createDataFrame(
        [(i, t, u, e, 1.0) for i, (u, t, e) in enumerate(data)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    w = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy("ts", "event_id")
    seq = df.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == _markov_python(data)


def test_rank_distribution_rounds_the_binary_double_like_its_oracle(
    spark, tmp_path
):
    """``q_rank_distribution`` rounds ``cume`` and ``pct_rank`` from the
    binary double, as DuckDB's ``round(x, 6)`` does: 41/640 is just
    below the decimal tie 0.0640625, so it rounds to 0.064062."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_gmall2024_realtime_spark.plans import CATALOG

    n = 640
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(1, n + 1), pa.int64()),
                "c_nationkey": pa.array([11] * n, pa.int32()),
                "c_acctbal": pa.array([float(k) for k in range(n)], pa.float64()),
            }
        ),
        tmp_path / "customer.parquet",
    )
    rows = {
        r["rnk"]: r
        for r in CATALOG["q_rank_distribution"].spark(spark, str(tmp_path)).collect()
    }
    assert len(rows) == n
    assert rows[41]["cume"] == 0.064062  # F.round gives 0.064063
    # (rnk - 1) / (n - 1) = 1/639 rounds down; 320/639 = 0.50078247... up
    assert rows[2]["pct_rank"] == 0.001565
    assert rows[321]["pct_rank"] == 0.500782
