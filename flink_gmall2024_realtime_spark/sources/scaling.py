"""Deterministic fixture scaling — the scale-proofing substrate.

The engine's 100 TB claims are plan-shape arguments (bucketed keys, bounded
driver traffic, no per-row Python); this module turns them into MEASURED
scaling ratios by synthesizing an M-times corpus from the driver fixtures
and re-running the flagship queries (``tools/scale_bench.py``; a 4x spot
check rides along in ``bench.py`` extras).

Construction: M replicas of each base table, unioned, with

- **key offsets** (+r * 10M per replica) on every join/identity key, kept
  CONSISTENT across tables (lineitem.l_partkey and part.p_partkey shift
  together) so per-replica joins still match — growth looks like M shards
  of the same workload, the shape a real corpus grows in;
- **content perturbation** where identical payloads would change the
  workload's asymptotics instead of its size: every document token gets a
  replica suffix (within-replica Jaccard/shingle structure is preserved
  EXACTLY, cross-replica shingles become disjoint — so near-dup pairs
  scale by M, not M^2); embeddings shift by r/1000 per coordinate (local
  neighborhoods keep their geometry, replicas don't collapse onto one
  point set).

Everything is a pure function of (fixture, M): no RNG, no timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import read_parquet, table_path

# 10^7 = 2^7 * 5^7: divisible by every key-mod the catalog's predicates use
# (10, 20, 50), so offset keys keep their mod-class and per-replica results
# replicate exactly.  NOT divisible by 3 or 7 — a scaled query must not add
# key % 3 / key % 7 predicates.  ``scaled_table`` asserts base keys stay
# below this and widens any dtype the offset key would overflow.
REPLICA_OFFSET = 10_000_000

_DTYPE_MAX = {
    "tinyint": 2**7 - 1,
    "smallint": 2**15 - 1,
    "int": 2**31 - 1,
    "bigint": 2**63 - 1,
}

ALL_TABLES = (
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

KEY_OFFSETS: dict[str, tuple[str, ...]] = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
}


def scaled_table(spark: SparkSession, sf_dir: str, name: str, m: int) -> DataFrame:
    """The M-times replica union of one fixture table (see module doc for
    the offset/perturbation rules). m=1 returns the base table unchanged.

    Tables with no ``KEY_OFFSETS`` entry (region, nation) are FIXED
    dimensions: real corpora grow facts, not the 25-nation table.  They
    return the base unchanged at any M — replicating them verbatim would
    turn every dim equi-join into an M-way many-to-many (M^2 output rows),
    a fixture artifact, not workload growth.  (Found the hard way: the
    first 100x sweep replicated nation 100x un-offset and q8's
    customer x nation join emitted 3.0e9 rows.)"""
    base = read_parquet(spark, table_path(sf_dir, name))
    if name not in KEY_OFFSETS:
        return base
    key_cols = KEY_OFFSETS[name]
    if m > 1:
        # Guard the "joins scale by M" property: a base key >= the offset
        # would collide replica key ranges, and an offset key that overflows
        # the column's dtype would wrap — both silently corrupt the very
        # ratios this harness exists to measure.  One bounded agg per table.
        maxes = base.select(*[F.max(c).alias(c) for c in key_cols]).first()
        for c in key_cols:
            mv = maxes[c] or 0
            if mv >= REPLICA_OFFSET:
                raise ValueError(
                    f"{name}.{c} max {mv} >= REPLICA_OFFSET {REPLICA_OFFSET}: "
                    "replica key ranges would overlap — raise REPLICA_OFFSET "
                    "for this fixture scale"
                )
            dtype = base.schema[c].dataType.simpleString()
            if mv + (m - 1) * REPLICA_OFFSET > _DTYPE_MAX.get(dtype, 2**63 - 1):
                base = base.withColumn(c, F.col(c).cast("bigint"))
    reps = []
    for r in range(m):
        df = base
        if r:
            for col in key_cols:
                dtype = base.schema[col].dataType.simpleString()
                df = df.withColumn(
                    col, (F.col(col) + F.lit(r * REPLICA_OFFSET)).cast(dtype)
                )
            if name == "documents":
                df = df.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", "$1x" + str(r))
                )
            if name == "embeddings":
                # deterministic per-(replica, dim) SIGN pattern: cosine is
                # invariant under a sign pattern shared by both vectors, so
                # within-replica geometry (top-k, thresholded pairs) is
                # EXACT; across replicas the patterns are uncorrelated, so
                # cross-replica cosine collapses to ~N(0, 1/sqrt(dim)) and
                # thresholded pair outputs scale by M.  (The earlier
                # +r/1000 shift kept cross-replica copies at cosine ~1.0 —
                # fine for top-k, but every threshold-pair query emitted
                # all M^2 replica pairs: dedup_semantic at 100x produced
                # ~25M pairs from 59.)
                rr = F.lit(int(r))
                df = df.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, i: F.when(
                            F.pmod(
                                F.xxhash64(rr * F.lit(1_000_003) + i.cast("long")),
                                F.lit(2),
                            )
                            == 0,
                            x,
                        ).otherwise(-x),
                    ),
                )
        reps.append(df)
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# Adversarial skew fixtures (VERDICT r4 #5)
# ---------------------------------------------------------------------------
#
# The structure-preserving replicas above deliberately never grow a bucket,
# a key's fan-in, or an ANN cell beyond the base corpus — by design they
# CANNOT expose the degenerate inputs a dedup/skew operator exists for.
# These opt-in modes flood ONE entity instead: the capped/salted paths must
# stay bounded against them (the clean-M replicas measure throughput, these
# measure survival).

ADVERSARIAL_MODES = {
    # (m-1) x |documents| byte-identical copies of the base corpus's first
    # document: one boilerplate page floods one MinHash bucket per band and
    # one SimHash fingerprint group — the single-row-quadratic hazard the
    # per-bucket caps (operators/dedup.py::_pairs_from_ids) exist for.
    "dup_corpus": "documents",
    # replicas keep their event ids but all land on the base corpus's first
    # user: one user holds ~(m-1)/m of all events — the hot grouping/join
    # key the salted paths (operators/skew.py) exist for.
    "hot_key": "events",
    # (m-1) x |embeddings| copies of the first base vector: one LSH bucket /
    # IVF cell holds most of the corpus — the fat-cell hazard bounded
    # cogroup scoring must survive.
    "fat_cell": "embeddings",
}


def adversarial_table(
    spark: SparkSession, sf_dir: str, name: str, mode: str, m: int
) -> DataFrame:
    """The adversarial M-times union of one fixture table: identity keys are
    offset per replica exactly like ``scaled_table`` (so row identity stays
    unique and joins don't multiply), but the flooded attribute is REPLACED
    by the base corpus's first value instead of perturbed. Non-target
    tables pass through unchanged."""
    target = ADVERSARIAL_MODES[mode]
    if name != target:
        return read_parquet(spark, table_path(sf_dir, name))
    base = read_parquet(spark, table_path(sf_dir, name))
    key_cols = KEY_OFFSETS[name]
    order_key = key_cols[0]
    hub = base.orderBy(order_key).first()
    reps = [base]
    for r in range(1, m):
        df = base
        for col in key_cols:
            dtype = base.schema[col].dataType.simpleString()
            df = df.withColumn(col, (F.col(col) + F.lit(r * REPLICA_OFFSET)).cast(dtype))
        if mode == "dup_corpus":
            df = df.withColumn("text", F.lit(hub["text"]))
        elif mode == "hot_key":
            df = df.withColumn("user_id", F.lit(hub["user_id"]))
        elif mode == "fat_cell":
            df = df.withColumn(
                "embedding",
                F.array(*[F.lit(float(v)) for v in hub["embedding"]]).cast(
                    base.schema["embedding"].dataType.simpleString()
                ),
            )
        reps.append(df)
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    return out


def build_adversarial_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    mode: str,
    m: int,
    tables: tuple = ALL_TABLES,
) -> str:
    """Materialize an adversarial fixture directory for ``mode`` (same
    filenames as the driver fixtures). Only the mode's target table is
    flooded; the rest copy through so any catalog query runs."""
    if mode not in ADVERSARIAL_MODES:
        raise ValueError(f"unknown adversarial mode {mode!r}; pick from {sorted(ADVERSARIAL_MODES)}")
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        df = adversarial_table(spark, sf_dir, t, mode, m)
        files = max(1, min(32, m)) if t == ADVERSARIAL_MODES[mode] else 1
        df.repartition(files).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    return out_dir


def build_scaled_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    m: int,
    tables: tuple = ALL_TABLES,
) -> str:
    """Materialize an M-times fixture directory (same filenames as the
    driver fixtures, so catalog queries run on it by passing ``out_dir`` as
    their ``sf_dir``). Writes with enough partitions that the scaled scan
    parallelizes like a real table, not one giant row group."""
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        df = scaled_table(spark, sf_dir, t, m)
        files = max(1, min(32, m))
        df.repartition(files).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    return out_dir
