"""Correctness gates, run outside the timed region.

Catalog entries are compared with their DuckDB oracles by row count, column
names and ``tools/verify_oracle.value_hash``. The stream outputs are compared
with a DuckDB twin computed over the generated ODS JSON.
"""

from __future__ import annotations

import json
import math

import duckdb

from flink_gmall2024_realtime_spark.sources.fixtures import TABLES, table_path
from tools.verify_oracle import value_hash


# A double sum's value depends on the order of its additions, which SQL leaves
# open. When the exact sum is a tie for round(x, 2) (seed 203's fixtures hold
# one: 302496823.585), two correct engines round it one cent apart. After a
# hash mismatch, float cells may differ by this relative amount; counts,
# keys and strings must still be equal.
FLOAT_REL_TOL = 1e-9


def _by_name(rows, columns: list[str]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda t: tuple((v is None, str(type(v)), v if v is not None else 0) for v in t))


def _cells_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=FLOAT_REL_TOL) or (a != a and b != b)
    return a == b


class CatalogOracle:
    """DuckDB views over a fixture directory; caches one expected
    (columns, rows, hash) per catalog entry."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
        self._expected: dict[str, tuple[list[str], list[tuple], str]] = {}
        self.within_tolerance: set[str] = set()  # entries equal only up to FLOAT_REL_TOL

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple], str]:
        if name not in self._expected:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self._expected[name] = (cols, rows, value_hash(rows, cols))
        return self._expected[name]

    def check(self, name: str, sql: str, columns: list[str], rows) -> str | None:
        """None when the Spark result equals the oracle, else the reason."""
        cols, want, h = self.expected(name, sql)
        if sorted(columns) != sorted(cols):
            return f"columns {sorted(columns)} != {sorted(cols)}"
        if len(rows) != len(want):
            return f"rows {len(rows)} != {len(want)}"
        rows = [tuple(r) for r in rows]
        got = value_hash(rows, columns)
        if got == h:
            return None
        pairs = zip(_by_name(rows, columns), _by_name(want, cols))
        if all(_cells_close(a, b) for g, w in pairs for a, b in zip(g, w)):
            self.within_tolerance.add(name)
            return None
        return f"hash {got} != {h}"

    def close(self) -> None:
        self.con.close()


# Shanghai has had no DST since 1991: local wall time is UTC + 8 h.
_LOCAL_US = "make_timestamp(({ms})::BIGINT * 1000 + 28800000000)"
_VALID_LOG = (
    "(json_extract(json, '$.page') IS NOT NULL OR json_extract(json, '$.start') IS NOT NULL)"
    " AND json_extract_string(json, '$.common.mid') IS NOT NULL AND json_extract_string(json, '$.ts') IS NOT NULL"
)


class StreamTwin:
    """DuckDB twin of the warehouse topology over the generated ODS files
    (``<ods>/topic_log/<tick>.json`` and ``<ods>/topic_db/<tick>.json``)."""

    def __init__(self, ods_dir: str) -> None:
        self.con = duckdb.connect()
        for topic in ("topic_log", "topic_db"):
            self.con.execute(
                f"CREATE VIEW {topic} AS SELECT json, "
                r"regexp_extract(filename, '(\d+)\.json$', 1)::INT AS tick "
                f"FROM read_ndjson_objects('{ods_dir}/{topic}/*.json', filename=true)"
            )

    def rows(self, topic: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {topic}").fetchone()[0]

    def dwd_counts(self) -> dict[str, int]:
        """Rows per DwdBaseLog branch (err / start / page / display / action)."""
        r = self.con.execute(f"""
            SELECT
              count(*) FILTER (WHERE json_extract(json, '$.err') IS NOT NULL),
              count(*) FILTER (WHERE json_extract(json, '$.start') IS NOT NULL),
              count(*) FILTER (WHERE json_extract(json, '$.start') IS NULL),
              coalesce(sum(json_array_length(json, '$.displays'))
                FILTER (WHERE json_extract(json, '$.start') IS NULL), 0),
              coalesce(sum(json_array_length(json, '$.actions'))
                FILTER (WHERE json_extract(json, '$.start') IS NULL), 0)
            FROM topic_log WHERE {_VALID_LOG}""").fetchone()
        return dict(zip(("err", "start", "page", "display", "action"), map(int, r)))

    def page_windows(self, watermark_ms: int) -> set[tuple]:
        """Closed 10 s page windows: (stt, edt, cur_date, page_id, pv_ct, dur_sum)."""
        fmt = "'%Y-%m-%d %H:%M:%S'"
        rows = self.con.execute(f"""
            WITH p AS (
              SELECT (json_extract_string(json, '$.ts'))::BIGINT AS ts, json_extract_string(json, '$.page.page_id') AS page_id,
                     (json_extract_string(json, '$.page.during_time'))::BIGINT AS during
              FROM topic_log
              WHERE {_VALID_LOG} AND json_extract(json, '$.start') IS NULL),
            w AS (
              SELECT ts - ts % 10000 AS ws, page_id, count(*) AS pv_ct, sum(during) AS dur_sum
              FROM p GROUP BY ALL)
            SELECT strftime({_LOCAL_US.format(ms='ws')}, {fmt}),
                   strftime({_LOCAL_US.format(ms='ws + 10000')}, {fmt}),
                   strftime({_LOCAL_US.format(ms='ws')}, '%Y-%m-%d'),
                   page_id, pv_ct, dur_sum
            FROM w WHERE ws + 10000 <= {int(watermark_ms)}""").fetchall()
        return {tuple(r) for r in rows}

    def first_seen(self) -> set[tuple]:
        """(tick, key, cur_date, is_new) as ``first_seen_repair_func`` emits
        them when tick ``t`` is micro-batch ``t``."""
        rows = self.con.execute(f"""
            WITH r AS (
              SELECT DISTINCT tick, json_extract_string(json, '$.common.mid') AS key,
                strftime({_LOCAL_US.format(ms="(json_extract_string(json, '$.ts'))")}, '%Y-%m-%d') AS d
              FROM topic_log WHERE {_VALID_LOG}),
            f AS (
              SELECT *, min(d) OVER (PARTITION BY key ORDER BY tick
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_d FROM r)
            SELECT tick, key, d, (d = first_d)::INT FROM f""").fetchall()
        return {tuple(r) for r in rows}

    def dim_tables(self, sink_columns: dict[str, str]) -> dict[str, set[tuple]]:
        """Last-write-wins dim state per source table, deletes applied, data
        pruned to the config's sink columns: {table: {(row_key, type, data, ts)}}."""
        rows = self.con.execute("""
            WITH d AS (
              SELECT json_extract_string(json, '$.table') AS tbl, json_extract_string(json, '$.data.id') AS id,
                     json_extract_string(json, '$.type') AS type, (json_extract_string(json, '$.ts'))::BIGINT AS ts,
                     json_extract(json, '$.data')::VARCHAR AS data
              FROM topic_db WHERE json_extract_string(json, '$.database') = 'gmall')
            SELECT tbl, id, type, ts, data FROM d
            QUALIFY row_number() OVER (PARTITION BY tbl, id ORDER BY ts DESC) = 1
            """).fetchall()
        out: dict[str, set[tuple]] = {t: set() for t in sink_columns}
        for tbl, key, kind, ts, data in rows:
            if kind == "delete":
                continue
            keep = sink_columns[tbl].split(",")
            d = json.loads(data)
            out[tbl].add((key, kind, tuple(sorted((k, d[k]) for k in keep if k in d)), ts))
        return out

    def close(self) -> None:
        self.con.close()
