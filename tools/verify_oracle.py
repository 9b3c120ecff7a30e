"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark and its DuckDB oracle on the same parquet,
compares row count, column names, and an order-insensitive value hash.

Usage: python tools/verify_oracle.py [sf_dir[,sf_dir...]] [entry ...]

A comma-separated list of SF dirs runs every named entry on each of them
(e.g. the entries a change touches at sf0.001, sf0.01 and sf0.1). An entry
argument may be a shell-style pattern, so the lake set is one command:
``'delta_*' 'iceberg_*' dim_version_store_asof k3_upsert_final_state``.
Exits non-zero on any failure, including an entry name or pattern that
matches nothing in the catalog.
"""

from __future__ import annotations

import fnmatch
import hashlib
import sys

import duckdb

from flink_gmall2024_realtime_spark.plans import CATALOG
from flink_gmall2024_realtime_spark.session import get_spark
from flink_gmall2024_realtime_spark.sources.fixtures import TABLES, table_path


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def check(spark, sf_dir: str, only: set) -> list[str]:
    """Run the selected entries on one SF dir; return the failed names."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    failures = []
    for name, spec in sorted(CATALOG.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.spark(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name} @ {sf_dir}: spark error: {e}")
            continue
        if spec.oracle is None:
            print(f"ok?  {name} @ {sf_dir}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name} @ {sf_dir}: oracle error: {e}")
            continue
        problems = []
        sh = None
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash {sh} vs {oh}")
        if problems:
            failures.append(name)
            print(f"FAIL {name} @ {sf_dir}: {'; '.join(problems)}")
            # show a tiny diff sample
            sset = {tuple(norm_cell(v) for v in r) for r in srows}
            oset = {tuple(norm_cell(v) for v in r) for r in orows}
            for label, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                for row in list(diff)[:3]:
                    print(f"    {label}: {row}")
        else:
            print(f"PASS {name} @ {sf_dir} ({len(srows)} rows, hash {sh})")
    con.close()
    return failures


def select_entries(args: list[str], names) -> tuple[set, list[str]]:
    """Expand entry names and shell-style patterns against the catalog's
    ``names``: (selected entries, arguments that matched nothing)."""
    names = sorted(names)
    selected: set = set()
    unmatched = []
    for arg in args:
        hits = fnmatch.filter(names, arg)
        selected.update(hits)
        if not hits:
            unmatched.append(arg)
    return selected, unmatched


def main() -> int:
    sf_dirs = (sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001").split(",")
    only, unknown = select_entries(sys.argv[2:], CATALOG)
    if unknown:
        print(f"FAIL unknown catalog entries: {unknown}")
        return 1
    spark = get_spark("verify-oracle")
    failures = []
    for sf_dir in sf_dirs:
        failures += [f"{name} @ {sf_dir}" for name in check(spark, sf_dir, only)]
    spark.stop()
    if failures:
        print(f"\n{len(failures)} failures:")
        for f in failures:
            print(f"  {f}")
        return 1
    print("\nALL PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
