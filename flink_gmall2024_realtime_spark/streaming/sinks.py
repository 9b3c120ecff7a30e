"""Streaming sinks (SURVEY §2.2 K1-K5, §2.7 R3/R4) — foreachBatch writers.

The reference's sink zoo (transactional Kafka, upsert-kafka with PK
compaction, per-record HBase puts/deletes, Doris stream-load) collapses into
four Spark-first writers plus the dim catalog:

- ``append_serving_sink``   — Doris-equivalent: append parquet partitioned by
                              ``cur_date`` (FlinkSinkUtil.java:63-86 / K4)
- ``keyed_upsert_sink``     — upsert-kafka/HBase-equivalent (K3/K5):
                              last-write-wins MERGE into a hash-bucketed
                              keyed table, delete-type rows removed; the
                              one-table call of ``upsert_tables``
- ``dynamic_routing_sink``  — K2/R3: each record lands in the table named by
                              its ``sink_table`` column
- ``jdbc_merge_sink``       — K3/K5 against a serving DATABASE: per-batch
                              staging load + one transactional SQL MERGE
                              (tested e2e against embedded Derby)
- ``DimCatalog``            — R4 (DimApp.java:112-178): config-op-driven
                              create/drop of dim tables as metadata ops

``upsert_tables`` is the one keyed-upsert implementation: rows carry the
index of their table, and a micro-batch does one touched-set collect, one
merge keyed on ``(table, key)`` and ONE write partitioned by
``(table, bucket)`` into a dot-prefixed staging dir, then swaps each touched
``bucket=NN`` into its table. Only touched buckets rewrite, however many
tables the batch routes to (the DIM pipeline's case).

Every directory replacement in this module goes through one pair:
``swap_in(staged, live, backup)`` (live aside, staged in, backup dropped)
and ``heal(live, backup)`` (restore a backup whose live copy vanished
mid-swap, drop a stale one). The bucket swaps (``.old_NN``), the index
compactions (``<root>.old``, plus the ``_swap_intent`` roll-forward of the
two-store LSH index) and the sketch tables (``.old_registers``,
``.old_table``) all use it; orphaned ``.tmp_*`` staging dirs are dropped
before the next write.

The rest of the module holds the curation-side sinks (streaming LSH /
semantic dedup indexes, PQ codes, HLL / count-min / HDR sketches, aggregate
views), which reuse the same swap-and-heal and commit-marker patterns.

All are per-micro-batch idempotent, which is what turns Spark's
at-least-once replay into effectively-once end-to-end — the role the
reference's 15-minute Kafka transactions play (FlinkSinkUtil.java:38-40):
append-mode sinks skip a batch whose commit marker already exists (written
only after the data lands), and the keyed upsert is naturally idempotent
(last-write-wins by order column is replay-stable).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _committed(path: str, batch_id: int) -> bool:
    return os.path.exists(os.path.join(path, "_commits", str(batch_id)))


def _mark_committed(path: str, batch_id: int) -> None:
    commits = os.path.join(path, "_commits")
    os.makedirs(commits, exist_ok=True)
    with open(os.path.join(commits, str(batch_id)), "w"):
        pass


def append_serving_sink(base_dir: str, table: str, partition_col: str = "cur_date"):
    """K4 — append-mode serving table partitioned by date: the Doris
    aggregate-table analogue. Partitioning by ``cur_date`` gives downstream
    partition pruning for free.

    Effectively-once under replay: a commit marker (in the Spark-ignored
    ``_commits/`` dir) is written only after the batch's data lands; a
    replayed batch whose marker exists is skipped, so at-least-once delivery
    never duplicates rows. (A crash between data and marker re-appends that
    one batch — ``_batch_id`` is recorded per row, so readers needing exact
    semantics can dedupe on it; this is the same window a Kafka transaction
    closes in the reference, FlinkSinkUtil.java:38-40.)"""

    path = os.path.join(base_dir, table)

    def write(batch: DataFrame, batch_id: int) -> None:
        if _committed(path, batch_id):
            return
        (
            batch.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy(partition_col)
            .parquet(path)
        )
        _mark_committed(path, batch_id)

    return write


def upsert_batch(current: DataFrame | None, batch: DataFrame, key: str | list[str],
                 order_col: str, type_col: str | None = None) -> DataFrame:
    """K3/K5 core — last-write-wins merge of ``batch`` into ``current``:

    1. dedupe the batch by key keeping the latest (PK compaction,
       SQLUtil.java:54-62 upsert-kafka semantics) via the partial-agg
       ``max_by`` argmax — map-side combine, no per-key lifetime sort;
    2. rows with type 'delete' remove the key (HBase deleteCells,
       DimHBaseSinkFunction.java:34-47); others upsert.

    ``key`` may name several columns (the multi-table upsert keys on
    ``(table, key)``).
    """
    from ..operators.skew import latest_by_key

    latest = latest_by_key(batch, key, order_col)
    if current is not None:
        survivors = current.join(latest.select(key), on=key, how="left_anti")
        merged = survivors.unionByName(latest, allowMissingColumns=True)
    else:
        merged = latest
    if type_col is not None:
        merged = merged.filter(F.col(type_col) != F.lit("delete"))
    return merged


TABLE_COL = "_table"


def swap_in(staged: str, live: str, backup: str) -> None:
    """Replace the directory ``live`` with ``staged`` by two renames: the
    live copy moves aside to ``backup``, the staged copy moves in, the
    backup is dropped. No interleaving of a crash leaves ``live`` without a
    complete copy somewhere: a crash between the renames leaves only
    ``backup``, which ``heal`` restores."""
    if os.path.exists(live):
        shutil.rmtree(backup, ignore_errors=True)  # stale: live is whole
        os.rename(live, backup)
    os.rename(staged, live)
    shutil.rmtree(backup, ignore_errors=True)


def heal(live: str, backup: str) -> None:
    """Finish or undo an interrupted ``swap_in``: a ``backup`` without
    ``live`` is the only complete copy and is restored; a ``backup`` beside
    ``live`` is stale and is dropped."""
    if os.path.exists(backup):
        if os.path.exists(live):
            shutil.rmtree(backup, ignore_errors=True)
        else:
            os.rename(backup, live)


def _drop_tmp(path: str) -> None:
    """Remove orphaned ``.tmp_*`` staging dirs under ``path``: their batch
    never committed and replays."""
    for d in os.listdir(path) if os.path.isdir(path) else []:
        if d.startswith(".tmp_"):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def _heal_buckets(path: str) -> None:
    """Heal every interrupted bucket swap under ``path`` (``.old_NN``
    beside ``bucket=NN``) and drop orphaned ``.tmp_*`` staging dirs —
    last-write-wins makes re-merging the replayed batch into buckets that
    already swapped a no-op."""
    _drop_tmp(path)
    for d in os.listdir(path):
        if d.startswith(".old_"):
            heal(os.path.join(path, f"bucket={d.split('_', 1)[1]}"), os.path.join(path, d))


def _data_file(bucket_dir: str) -> str:
    return os.path.join(bucket_dir, next(
        f for f in sorted(os.listdir(bucket_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ))


def upsert_tables(spark: SparkSession, root: str, paths: list[str], rows: DataFrame,
                  batch_id: int, key: str, order_col: str, type_col: str | None = None,
                  n_buckets: int = 16) -> None:
    """Last-write-wins MERGE of ``rows`` into the hash-bucketed keyed tables
    ``paths``: each row names its table by index in the ``_table`` column.
    One micro-batch costs one touched-set collect, one merge and one
    partitioned write, however many tables or buckets it touches.

    1. Rows are bucketed by ``pmod(xxhash64(key), n_buckets)`` and persisted.
    2. The distinct ``(table, bucket)`` pairs are collected once.
    3. Every touched live bucket is read with the batch's schema (no footer
       inference); the stored column names, read from one footer per table
       on the driver, must be the batch's or ``ValueError`` is raised.
    4. ``upsert_batch`` keyed on ``(table, key)`` merges everything at once,
       and one write partitioned by ``(table, bucket)`` lands in the staging
       dir ``root/.tmp_<batch_id>`` (dot-prefixed, so neither Spark's file
       listing nor ``DimCatalog.tables`` sees it).
    5. Each touched ``bucket=NN`` swaps in with ``swap_in`` (live aside to
       ``.old_NN``, staged in, backup dropped); ``_heal_buckets`` repairs an
       interrupted swap before the next write. A bucket every row of which
       was deleted gets an empty file carrying the schema, so the table
       stays readable."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    for p in dict.fromkeys([root, *paths]):
        os.makedirs(p, exist_ok=True)
        _heal_buckets(p)
    data_cols = [c for c in rows.columns if c != TABLE_COL]
    data_schema = StructType([rows.schema[c] for c in data_cols])
    read_schema = StructType([*data_schema.fields, StructField("bucket", IntegerType())])
    bucketed = rows.withColumn(
        "bucket",
        F.coalesce(F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)), F.lit(0)).cast("int"),
    ).persist()
    try:
        touched = sorted(
            (r[TABLE_COL], r["bucket"])
            for r in bucketed.select(TABLE_COL, "bucket").distinct().collect()
        )
        if not touched:
            return
        stored = []
        for t, path in enumerate(paths):
            live = [os.path.join(path, f"bucket={b}") for tt, b in touched if tt == t]
            live = [d for d in live if os.path.isdir(d)]
            if not live:
                continue
            names = pq.read_schema(_data_file(live[0])).names
            if sorted(names) != sorted(data_cols):
                raise ValueError(
                    f"{path} stores columns {names}, the batch carries {data_cols}"
                )
            stored.append(
                spark.read.schema(read_schema)
                .option("basePath", path)
                .parquet(*live)
                .withColumn(TABLE_COL, F.lit(t))
            )
        current = None
        for df in stored:
            current = df if current is None else current.unionByName(df)
        merged = upsert_batch(current, bucketed, [TABLE_COL, key], order_col, type_col)
        stage = os.path.join(root, f".tmp_{batch_id}")
        (
            merged.select(*data_cols, TABLE_COL, "bucket")
            .write.mode("overwrite")
            .partitionBy(TABLE_COL, "bucket")
            .parquet(stage)
        )
        empty = to_arrow_schema(data_schema).empty_table()
        for t, b in touched:
            staged = os.path.join(stage, f"{TABLE_COL}={t}", f"bucket={b}")
            if not os.path.isdir(staged):
                os.makedirs(staged)
                pq.write_table(empty, os.path.join(staged, "part-00000-empty.parquet"))
            swap_in(staged, os.path.join(paths[t], f"bucket={b}"),
                    os.path.join(paths[t], f".old_{b}"))
        shutil.rmtree(stage, ignore_errors=True)
    finally:
        bucketed.unpersist()


def keyed_upsert_sink(spark: SparkSession, path: str, key: str, order_col: str,
                      type_col: str | None = None, n_buckets: int = 16):
    """foreachBatch writer maintaining a keyed parquet table with MERGE
    semantics (the engine's HBase-dim / upsert-kafka stand-in): the
    one-table call of ``upsert_tables``.

    The table is hash-bucketed by key into ``bucket=NN/`` directories
    (``pmod(xxhash64(key), n_buckets)``), and a micro-batch rewrites ONLY the
    buckets containing its keys — per-batch write cost is O(touched buckets),
    proportional to the batch, not the table — in one staged write. Readers
    use plain ``spark.read.parquet(path)`` (the bucket dirs are ordinary
    partition dirs, so key lookups also prune to one bucket).

    Each bucket swap is crash-safe: the live dir is renamed aside (to a
    dot-prefixed dir Spark's file listing ignores) before the new one moves
    in, so no rename interleaving ever leaves the bucket without a complete
    copy; an interrupted swap is healed on the next write. At warehouse scale
    this writer is the seam where Delta/Iceberg MERGE INTO plugs in unchanged
    (buckets play the role of its file groups)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        upsert_tables(spark, path, [path], batch.withColumn(TABLE_COL, F.lit(0)), batch_id,
                      key, order_col, type_col, n_buckets)

    return write


INDEX_SCHEMA = (
    "doc_id long, sig array<bigint>, shs array<bigint>, bkt array<bigint>, "
    "ids array<bigint>"
)
BANDS_SCHEMA = "bkt long, idx_id long"
SETS_SCHEMA = "doc_id long, shs array<bigint>, ids array<bigint>"


def _heal_store(root: str) -> None:
    """Finish an interrupted ``compact_lsh_index`` swap: restore the backup
    if the live root vanished mid-swap; drop a stale backup/stage
    otherwise."""
    heal(root, root + ".old")
    if os.path.isdir(root):
        shutil.rmtree(root + ".stage", ignore_errors=True)


def _heal_index_swap(index_path: str) -> None:
    """Finish an interrupted ``compact_lsh_index`` TWO-STORE swap: the
    ``_swap_intent`` marker means both stage dirs were fully written and
    the renames may have stopped anywhere — roll FORWARD so bands and docs
    land on the same (merged) generation. Without the marker, a stray
    stage dir is a pre-intent crash and is simply dropped (by
    ``_heal_store``). Half-swapped stores are the reason the intent
    protocol exists: a rep-remapping merge applied to only ONE store
    would silently lose pairs (candidates under new reps probing a docs
    store keyed by old reps, or vice versa)."""
    intent = os.path.join(index_path, "_swap_intent")
    if not os.path.isfile(intent):
        return
    for root in (os.path.join(index_path, "bands"), os.path.join(index_path, "docs")):
        if os.path.isdir(root + ".stage"):
            swap_in(root + ".stage", root, root + ".old")
        else:
            heal(root, root + ".old")
    os.remove(intent)


def _committed_ids(index_path: str) -> set:
    commits = os.path.join(index_path, "_commits")
    return set(os.listdir(commits)) if os.path.isdir(commits) else set()


def _fold_plan(root: str, committed: set) -> tuple[list[str], list[str]]:
    """(``batch=base`` plus the committed ``batch=<id>`` dirs under ``root``
    to fold into it, the uncommitted ones to carry over verbatim)."""
    batch_dirs = [d for d in sorted(os.listdir(root)) if d.startswith("batch=")]
    done = [d for d in batch_dirs if d.split("=", 1)[1] in committed | {"base"}]
    return done, [d for d in batch_dirs if d not in done]


def compact_lsh_index(
    spark: SparkSession,
    index_path: str,
    band_partitions: int = 64,
    doc_partitions: int = 64,
) -> None:
    """Maintenance pass for the streaming dedup index: merge the per-batch
    ``batch=<id>`` directories into one ``batch=base`` layout per store,
    RE-COLLAPSING identical shingle sets across batches (r7): groups are
    re-grouped by set, member lists union, the representative becomes the
    global min id, and BOTH stores are rebuilt from the merged frame — so
    a flood that arrived over B batches costs one band row per band after
    compaction, completing the per-batch store-side collapse.

    Why it exists: each micro-batch adds a directory with up to P (bands)
    and Q (docs) partition subdirs, so after B batches a pruned scan reads
    O(B) files per colliding partition and the driver-side listing walks
    O(B x |vals|) paths. Compaction folds all COMMITTED batch dirs into
    one, restoring O(1) files per partition; partition values are
    recomputed from row content (pmod of bkt / xxhash64(rep)), so pruning
    semantics are unchanged. An uncommitted batch directory (crash window
    between data and marker) is carried over verbatim — folding it into
    base would duplicate its rows when the replay overwrites its batch
    dir.

    Crash safety: the rep remap makes bands and docs INTERDEPENDENT (a
    candidate's idx_id must exist as a docs row), so the two stores swap
    under a ``_swap_intent`` marker written only after BOTH stage dirs are
    complete; ``_heal_index_swap`` (run here and by every sink write
    before anything reads the store) rolls an interrupted swap forward.
    Single-writer contract (same as the sink): run between micro-batches,
    never concurrently with a write."""
    bands_root = os.path.join(index_path, "bands")
    docs_root = os.path.join(index_path, "docs")
    _heal_index_swap(index_path)
    _heal_store(bands_root)
    _heal_store(docs_root)
    if not os.path.isdir(docs_root):
        return
    done, carry = _fold_plan(docs_root, _committed_ids(index_path))
    if len(done) <= 1:
        return
    docs = spark.read.schema(INDEX_SCHEMA).parquet(
        *[os.path.join(docs_root, d, "q=*") for d in done]
    )
    merged = (
        docs.groupBy("shs")
        .agg(
            F.array_distinct(F.sort_array(F.flatten(F.collect_list("ids")))).alias("ids"),
            F.first("sig").alias("sig"),
            F.first("bkt").alias("bkt"),
        )
        .select(F.element_at("ids", 1).alias("doc_id"), "sig", "shs", "bkt", "ids")
        .localCheckpoint(eager=True)
    )
    docs_stage, bands_stage = docs_root + ".stage", bands_root + ".stage"
    shutil.rmtree(docs_stage, ignore_errors=True)
    shutil.rmtree(bands_stage, ignore_errors=True)
    (
        merged.withColumn("q", F.pmod(F.xxhash64("doc_id"), F.lit(doc_partitions)))
        .write.mode("overwrite")
        .partitionBy("q")
        .parquet(os.path.join(docs_stage, "batch=base"))
    )
    (
        merged.select(F.explode("bkt").alias("bkt"), F.col("doc_id").alias("idx_id"))
        .withColumn("p", F.pmod("bkt", F.lit(band_partitions)))
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(os.path.join(bands_stage, "batch=base"))
    )
    for root, stage in ((docs_root, docs_stage), (bands_root, bands_stage)):
        for d in carry:
            src = os.path.join(root, d)
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(stage, d))
    intent = os.path.join(index_path, "_swap_intent")
    with open(intent, "w") as f:
        f.write("bands docs")
    for root, stage in ((bands_root, bands_stage), (docs_root, docs_stage)):
        swap_in(stage, root, root + ".old")
    os.remove(intent)


def _compact_store(spark, root: str, schema: str, pcol: str, pexpr, committed: set) -> None:
    """Fold all COMMITTED ``batch=<id>`` dirs of one partitioned store into
    ``batch=base`` via stage + two-rename swap (see ``compact_lsh_index``
    for the contract; uncommitted dirs carry over verbatim)."""
    _heal_store(root)
    if not os.path.isdir(root):
        return
    done, carry = _fold_plan(root, committed)
    if len(done) <= 1:
        return
    src = [os.path.join(root, d, f"{pcol}=*") for d in done]
    df = spark.read.schema(schema).parquet(*src)
    stage = root + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    (
        df.withColumn(pcol, pexpr)
        .write.mode("overwrite")
        .partitionBy(pcol)
        .parquet(os.path.join(stage, "batch=base"))
    )
    for d in carry:  # preserve uncommitted batch dirs verbatim
        shutil.copytree(os.path.join(root, d), os.path.join(stage, d))
    swap_in(stage, root, root + ".old")


def compact_cells_index(spark: SparkSession, index_path: str, cell_partitions: int = 64) -> None:
    """Maintenance pass for the streaming semantic-dedup index
    (``semantic_dedup_sink``): fold committed per-batch ``cells/batch=<id>``
    dirs into one ``batch=base`` — same single-writer, crash-safe
    stage-and-swap contract as ``compact_lsh_index``, same partition
    semantics (``c`` recomputed from row content, so pruned candidate
    scans are unchanged)."""
    _compact_store(
        spark,
        os.path.join(index_path, "cells"),
        CELLS_SCHEMA,
        "c",
        F.pmod(F.col("cell"), F.lit(cell_partitions)),
        _committed_ids(index_path),
    )


def colliding_partition_paths(root: str, key: str, vals) -> list[str]:
    """Leaf partition directories ``<root>/batch=*/<key>=<v>`` for the given
    partition values — the pruned read set for the per-batch index scan.
    Listing is driver-side metadata work: O(batches x |vals|) stat calls,
    never data I/O (a real deployment swaps this for catalog partition
    listing / Iceberg manifest pruning at the same seam)."""
    if not os.path.isdir(root):
        return []
    out = []
    for bdir in sorted(os.listdir(root)):
        if not bdir.startswith("batch="):
            continue
        for v in sorted(vals):
            p = os.path.join(root, bdir, f"{key}={v}")
            if os.path.isdir(p):
                out.append(p)
    return out


def lsh_dedup_sink(
    spark: SparkSession,
    index_path: str,
    pairs_path: str,
    threshold: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_partitions: int = 64,
    doc_partitions: int = 64,
):
    """Streaming near-dup detection as a micro-batch service: each arriving
    document batch is deduped against every previously indexed document,
    then its own index rows land in the store.

    Store layout (the piece that makes per-batch cost O(batch + collisions)
    instead of O(corpus)):

    - ``index_path/bands/batch=<id>/p=<pmod(bkt, P)>/`` — the banded frame
      (bkt, idx_id), hash-partitioned by band key. A batch's candidate scan
      reads ONLY the partitions whose ``p`` collides with one of the
      batch's own band keys (``colliding_partition_paths``) — a band-key
      collision implies equal ``pmod``, so pruning is lossless.
    - ``index_path/docs/batch=<id>/q=<pmod(xxhash64(doc_id), Q)>/`` — the
      per-doc verification frame (doc_id, sig, shs, bkt), hash-partitioned
      by doc id. Only partitions holding CANDIDATE ids are read for the
      exact-Jaccard attach.
    - ``pairs_path/data/batch=<id>/`` — that batch's emitted pairs.

    Every per-batch write is a ``mode("overwrite")`` of the batch's OWN
    deterministic subdirectory, so a replay after a crash between data and
    commit marker rewrites the same directory instead of appending
    duplicates — the marker only short-circuits redundant work; idempotence
    no longer depends on it. Pairs are still committed BEFORE the index
    grows, so a batch's docs are never in the index while its pairs are
    unemitted (the disjointness the banded core relies on). The union of
    all emitted batches equals the full-corpus ``minhash_lsh_pairs`` output
    regardless of arrival order.

    Duplicate floods (r5 batch side + r7 store side, VERDICT r5 #5): the
    batch COLLAPSES identical shingle sets before banding
    (``minhash_lsh_pairs_banded``), so a boilerplate-heavy batch joins the
    index once per distinct set, not once per copy — and the STORE now
    keeps one representative row per distinct set per ingestion batch
    (member doc_ids in the ``ids`` column of the docs store), so a flood
    already resident costs ONE band row per band per batch it arrived in,
    never one per copy: the candidate join volume for a colliding set is
    O(batches x bands), member expansion happens only after exact
    verification and emits true pairs. Cross-batch copies of the same set
    cost one store row per batch they arrived in until the next
    ``compact_lsh_index`` pass re-collapses them into one globally-merged
    group (rep remap under the atomic two-store ``_swap_intent`` swap) —
    the bound is the batch count since the last compaction, never the
    duplication factor. Monitor with ``dedup.capped_bucket_stats`` over
    the index bands."""
    from ..operators import dedup

    bands_root = os.path.join(index_path, "bands")
    docs_root = os.path.join(index_path, "docs")
    pairs_data = os.path.join(pairs_path, "data")
    P, Q = band_partitions, doc_partitions

    def read_or_empty(paths: list[str], schema: str, cols: list[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], schema).select(*cols)
        return spark.read.schema(schema).parquet(*paths).select(*cols)

    def write(batch: DataFrame, batch_id: int) -> None:
        if _committed(pairs_path, batch_id) and _committed(index_path, batch_id):
            return
        _heal_index_swap(index_path)  # forward-complete an interrupted merge
        _heal_store(bands_root)
        _heal_store(docs_root)
        sig = dedup.minhash_index(batch, text_col=text_col, id_col=id_col)
        # r7 store-side collapse: one row per distinct shingle set, members
        # in ids (sorted; rep = min id). sig/bkt are pure functions of the
        # set, so first() is deterministic within a group.
        groups = (
            sig.groupBy("shs")
            .agg(
                F.sort_array(F.collect_list("doc_id")).alias("ids"),
                F.first("sig").alias("sig"),
                F.first("bkt").alias("bkt"),
            )
            .select(F.element_at("ids", 1).alias("doc_id"), "sig", "shs", "bkt", "ids")
            .localCheckpoint(eager=True)
        )
        if not _committed(pairs_path, batch_id):
            pvals = [
                r["p"]
                for r in groups.select(F.explode("bkt").alias("bkt"))
                .select(F.pmod("bkt", F.lit(P)).alias("p"))
                .distinct()
                .collect()
            ]
            idx_bands = read_or_empty(
                colliding_partition_paths(bands_root, "p", pvals),
                BANDS_SCHEMA, ["bkt", "idx_id"],
            )
            # two-phase: candidates first (cheap), then prune the docs read
            # to the partitions holding candidate ids before verification.
            pairs = _banded_pairs_with_pruned_sets(
                spark, dedup, groups, idx_bands, docs_root, Q, threshold
            )
            pairs.write.mode("overwrite").parquet(
                os.path.join(pairs_data, f"batch={batch_id}")
            )
            _mark_committed(pairs_path, batch_id)
        if not _committed(index_path, batch_id):
            (
                groups.select(F.explode("bkt").alias("bkt"), F.col("doc_id").alias("idx_id"))
                .withColumn("p", F.pmod("bkt", F.lit(P)))
                .write.mode("overwrite")
                .partitionBy("p")
                .parquet(os.path.join(bands_root, f"batch={batch_id}"))
            )
            (
                groups.withColumn("q", F.pmod(F.xxhash64("doc_id"), F.lit(Q)))
                .write.mode("overwrite")
                .partitionBy("q")
                .parquet(os.path.join(docs_root, f"batch={batch_id}"))
            )
            _mark_committed(index_path, batch_id)

    return write


def _banded_pairs_with_pruned_sets(
    spark: SparkSession, dedup, sig: DataFrame, idx_bands: DataFrame,
    docs_root: str, Q: int, threshold: float,
) -> DataFrame:
    """Candidate pairs from the pruned banded scan, verified against a docs
    read pruned to the partitions that hold candidate index ids.

    The stored copy of any doc_id in the batch itself is anti-joined away
    (latest text wins) — normally the pairs-before-index commit order keeps
    the store disjoint from the batch, but a replay that lost its markers
    after the index write would otherwise see the batch twice and emit
    every in-batch pair twice. ``sig`` may arrive pre-grouped (r7: an
    ``ids`` member column); the anti-join then covers every member id —
    a stored rep is always a member of the batch that stored it. After a
    cross-batch compaction merge (``compact_lsh_index``) a stored group
    can hold members from SEVERAL batches under a rep from another one, so
    the rep-level anti-join alone cannot see a replayed batch inside it;
    the member lists of candidate groups are additionally pruned of batch
    ids below (a no-op in normal operation, where store and batch are
    disjoint by commit order)."""
    batch_ids = (
        sig.select(F.explode("ids").alias("idx_id"))
        if "ids" in sig.columns
        else sig.select(F.col("doc_id").alias("idx_id"))
    )
    idx_bands = idx_bands.join(batch_ids, "idx_id", "left_anti")
    new_bands = sig.select("doc_id", F.explode("bkt").alias("bkt"))
    cand_idx_ids = (
        new_bands.join(idx_bands, "bkt")
        .filter(F.col("doc_id") != F.col("idx_id"))
        .select("idx_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    qvals = [
        r["q"]
        for r in cand_idx_ids.select(
            F.pmod(F.xxhash64("idx_id"), F.lit(Q)).alias("q")
        ).distinct().collect()
    ]
    doc_paths = colliding_partition_paths(docs_root, "q", qvals)
    if doc_paths:
        idx_sets = (
            spark.read.schema(SETS_SCHEMA).parquet(*doc_paths)
            .join(cand_idx_ids.withColumnRenamed("idx_id", "doc_id"), "doc_id", "left_semi")
        )
        # member-level latest-text-wins (see docstring): prune batch ids out
        # of the candidate groups' member lists; groups left empty drop out
        # via the inner join. Bounded: O(candidate groups' members).
        kept = (
            idx_sets.select("doc_id", F.explode("ids").alias("m"))
            .join(batch_ids.withColumnRenamed("idx_id", "m"), "m", "left_anti")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("m")).alias("ids"))
        )
        idx_sets = idx_sets.drop("ids").join(kept, "doc_id")
    else:
        idx_sets = spark.createDataFrame([], SETS_SCHEMA)
    return dedup.minhash_lsh_pairs_banded(sig, idx_bands, idx_sets, threshold=threshold)


CELLS_SCHEMA = "cell long, vid long, vec array<float>"


def semantic_dedup_sink(
    spark: SparkSession,
    centroids: tuple,
    index_path: str,
    pairs_path: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_partitions: int = 64,
    cell_cap: int | None = None,
):
    """Streaming twin of ``dedup.semantic_dedup_pairs`` (VERDICT r4 #8):
    each arriving embedding batch is assigned against the FROZEN trained
    centroids (``kmeans_centroids_micro`` output — the model trains once,
    offline; per-batch assignment is the map-side Arrow pass), scored for
    near-dup pairs against every previously indexed vector in its cells
    plus its own batch, then its cell rows land in the store.

    Store layout mirrors ``lsh_dedup_sink``: ``index_path/cells/
    batch=<id>/c=<pmod(cell, C)>/`` rows (cell, vid, vec), so a batch's
    candidate scan reads ONLY the partitions whose ``c`` collides with one
    of its own cells (lossless pruning — equal cell implies equal pmod);
    per-batch cost is O(batch + colliding cells), never O(corpus).  Pairs
    commit BEFORE the index grows, every write overwrites its own
    deterministic ``batch=<id>`` directory, and the commit marker only
    short-circuits redundant replays — idempotence does not depend on it.

    A pair is emitted exactly once: from the batch in which its LATER
    member arrives (both-new pairs emit once in that batch; old-old pairs
    are filtered).  Under the ``cell_cap`` (see ``semantic_dedup_pairs``)
    the union of all emitted batches equals the batch operator's output
    regardless of arrival order; a flood past the cap stays bounded per
    batch via the same head-pairs + hub-star degradation."""
    import numpy as np

    from ..operators.dedup import SIMHASH_BUCKET_CAP, _semantic_cell_pairs
    from ..operators.similarity import assign_nearest_cells

    if cell_cap is None:
        cell_cap = SIMHASH_BUCKET_CAP
    cells_root = os.path.join(index_path, "cells")
    pairs_data = os.path.join(pairs_path, "data")
    C = cell_partitions
    cen_ids = np.asarray(centroids[0], dtype=np.int64)
    cen_mat = np.asarray(centroids[1], dtype=np.float64)

    def write(batch: DataFrame, batch_id: int) -> None:
        if _committed(pairs_path, batch_id) and _committed(index_path, batch_id):
            return
        _heal_store(cells_root)
        new_cells = assign_nearest_cells(
            batch.select(id_col, vec_col), cen_ids, cen_mat, 1, "vid", "vec", id_col, vec_col
        ).localCheckpoint(eager=True)
        if not _committed(pairs_path, batch_id):
            cvals = [
                r["c"]
                for r in new_cells.select(F.pmod("cell", F.lit(C)).alias("c")).distinct().collect()
            ]
            paths = colliding_partition_paths(cells_root, "c", cvals)
            if paths:
                idx = spark.read.schema(CELLS_SCHEMA).parquet(*paths).select("cell", "vid", "vec")
            else:
                idx = spark.createDataFrame([], CELLS_SCHEMA)
            # the batch operator's cell scorer, restricted to pairs that
            # touch a NEW vector: per-batch emissions union to its pair set
            both = idx.withColumn("is_new", F.lit(False)).unionByName(
                new_cells.select("cell", "vid", "vec").withColumn("is_new", F.lit(True))
            )
            pairs = _semantic_cell_pairs(both, threshold, cell_cap)
            pairs.write.mode("overwrite").parquet(os.path.join(pairs_data, f"batch={batch_id}"))
            _mark_committed(pairs_path, batch_id)
        if not _committed(index_path, batch_id):
            (
                new_cells.select("cell", "vid", "vec")
                .withColumn("c", F.pmod("cell", F.lit(C)))
                .write.mode("overwrite")
                .partitionBy("c")
                .parquet(os.path.join(cells_root, f"batch={batch_id}"))
            )
            _mark_committed(index_path, batch_id)

    return write


def pq_index_sink(
    spark: SparkSession,
    index_path: str,
    codebook,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming PQ index maintenance: each arriving vector batch is
    encoded against a FROZEN codebook (training and serving must share it
    — re-deriving per batch would silently re-index the corpus
    inconsistently) and its codes land in ``index_path/codes/batch=<id>``.
    Idempotent per-batch overwrite dirs + commit markers, same contract as
    ``lsh_dedup_sink``. The stored index is m ints per vector; readers run
    ``similarity.pq_topk``-style scoring straight off
    ``spark.read.parquet(index_path + "/codes")``."""
    from ..operators import similarity

    codes_root = os.path.join(index_path, "codes")

    def write(batch: DataFrame, batch_id: int) -> None:
        if _committed(index_path, batch_id):
            return
        codes = similarity.pq_encode(batch, codebook, m=m, dim=dim,
                                     id_col=id_col, vec_col=vec_col)
        codes.write.mode("overwrite").parquet(
            os.path.join(codes_root, f"batch={batch_id}")
        )
        _mark_committed(index_path, batch_id)

    return write


def hll_register_sink(
    spark: SparkSession,
    path: str,
    group_col: str = "event_type",
    id_col: str = "user_id",
):
    """Streaming HLL maintenance: fold each micro-batch's register table
    into the stored per-group registers (``operators/sketch.py``) — the
    streaming twin of ``q_hll_sketch``, and the DWS daily-UV relaxation a
    100 TB deployment reaches for when exact per-mid state no longer fits.

    The replay story needs NO commit markers: register merge is max — an
    associative, commutative, IDEMPOTENT algebra — so re-folding a replayed
    batch provably cannot change the table. The only machinery required is
    an atomic swap of the (tiny: groups x 256 rows) table, done with the
    same ``swap_in``/``heal`` pair as ``keyed_upsert_sink``. At a
    scale where the group count itself is huge, bucket the store by
    ``pmod(xxhash64(group), B)`` exactly as ``keyed_upsert_sink`` does;
    registers for one group always co-locate. Readers estimate with
    ``sketch.hll_estimate(spark.read.parquet(path + "/registers"), ...)``."""
    from ..operators import sketch

    reg_path = os.path.join(path, "registers")
    old_path = os.path.join(path, ".old_registers")

    def write(batch: DataFrame, batch_id: int) -> None:
        os.makedirs(path, exist_ok=True)
        _drop_tmp(path)
        heal(reg_path, old_path)
        fresh = sketch.hll_registers(batch, group_col, id_col)
        if os.path.exists(reg_path):
            # the stored registers have the schema this sink writes:
            # declaring it skips an inference job per batch
            merged = sketch.merge_registers(
                spark.read.schema(fresh.schema).parquet(reg_path),
                fresh,
                group_col,
            )
        else:
            merged = fresh
        tmp = os.path.join(path, f".tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        swap_in(tmp, reg_path, old_path)

    return write


def _sum_merge_sink(spark: SparkSession, path: str, build_fn, keys: list[str], merge_fn=None):
    """Shared core for SUM-merge sketch sinks (count-min, HDR histogram):
    fold each micro-batch's sketch table into the stored table by
    unioning and re-summing per key.

    Sum is associative/commutative but — unlike ``hll_register_sink``'s
    max — NOT idempotent, so replay protection is load-bearing, and an
    external commit marker would leave a crash window (crash between the
    table swap and the marker write -> replay double-counts the batch).
    The marker therefore lives INSIDE the swapped directory: a
    ``_last_batch`` file (Spark ignores underscore-prefixed files) written
    into the tmp dir BEFORE the rename, so the folded data and the
    applied-batch watermark commit in the same atomic rename.  Contract:
    Structured Streaming batch ids are monotonically increasing and only
    the latest batch replays after a crash — a batch with
    ``batch_id == last applied`` is skipped; ``batch_id < last applied``
    RAISES — under the monotonic-id contract the only way to see an older
    id is a reset checkpoint location (ids restart at 0) pointed at a
    surviving store, and silently skipping would then drop every
    subsequent batch.  Crash healing is the same ``swap_in``/``heal`` pair
    as ``keyed_upsert_sink``."""
    data_path = os.path.join(path, "table")
    old_path = os.path.join(path, ".old_table")

    def last_applied() -> int | None:
        marker = os.path.join(data_path, "_last_batch")
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            return int(f.read().strip())

    def write(batch: DataFrame, batch_id: int) -> None:
        os.makedirs(path, exist_ok=True)
        _drop_tmp(path)
        heal(data_path, old_path)
        la = last_applied()
        if la is not None and batch_id == la:
            return  # the one legitimate replay: the last batch, after a crash
        if la is not None and batch_id < la:
            raise RuntimeError(
                f"batch_id {batch_id} < last applied {la}: the stream's "
                "checkpoint location was reset against a surviving store at "
                f"{path}; skipping would silently drop data — clear the store "
                "or restore the checkpoint"
            )
        fresh = build_fn(batch)
        # the stored table has the schema of what this sink writes: a
        # merge keeps ``fresh``'s columns and types (a count summed stays
        # long), so declaring it skips an inference job per batch
        stored = (
            spark.read.schema(fresh.schema).parquet(data_path)
            if os.path.exists(data_path)
            else None
        )
        if merge_fn is not None:
            merged = merge_fn(stored, fresh)
        elif stored is not None:
            merged = (
                stored.unionByName(fresh).groupBy(*keys).agg(F.sum("c").alias("c"))
            )
        else:
            merged = fresh
        tmp = os.path.join(path, f".tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch"), "w") as f:
            f.write(str(batch_id))
        swap_in(tmp, data_path, old_path)

    return write


def cm_sketch_sink(spark: SparkSession, path: str, key_col: str = "user_id"):
    """Streaming count-min maintenance: each micro-batch's (i, col, c)
    table sum-merges into the stored sketch — the streaming twin of
    ``q_countmin_sketch``, giving heavy-hitter estimates over the full
    history in O(d x w) state however much data has streamed through.
    Readers probe with ``sketch.cm_estimate(spark.read.parquet(path +
    "/table"), keys, ...)``.  Replay-exact via the in-swap applied-batch
    watermark (see ``_sum_merge_sink`` — sum is not idempotent, so the
    marker is load-bearing)."""
    from ..operators import sketch

    return _sum_merge_sink(
        spark, path, lambda b: sketch.cm_table(b, key_col), ["i", "col"]
    )


def hdr_hist_sink(
    spark: SparkSession,
    path: str,
    group_col: str = "event_type",
    value_col: str = "value",
):
    """Streaming HDR-histogram maintenance: per-batch (group, bid, rep, c)
    buckets sum-merge into the store — the streaming twin of
    ``q_hdr_quantiles``; latency-style quantiles over the whole stream in
    <= ~8*64 buckets per group.  Readers run ``sketch.hdr_quantiles`` off
    ``spark.read.parquet(path + "/table")``.  Same load-bearing in-swap
    watermark as ``cm_sketch_sink``."""
    from ..operators import sketch

    return _sum_merge_sink(
        spark,
        path,
        lambda b: sketch.hdr_hist(b, group_col, value_col),
        [group_col, "bid", "rep"],
    )


def agg_view_sink(
    spark: SparkSession,
    path: str,
    keys: list[str],
    sum_cols: dict[str, str],
    weight_col: str = "_w",
    count_col: str = "cnt",
):
    """Streaming grouped sum/count view maintained from a SIGNED CHANGELOG
    stream — the streaming twin of
    ``operators.merge.incremental_agg_delta_retract`` and the upsert-view
    half of Flink's retract-stream story (the reference's left-join
    retract stream re-emits corrected rows the same way,
    ``DwdTradeOrderDetail.java:52-55``): each micro-batch carries
    ``weight_col`` = +1 insert / -1 retract; its partial agg (sums
    weighted by w, count as SUM(w)) folds into the stored view and groups
    whose net count reaches zero are DELETED from the store, exactly as a
    recompute would drop them.

    Shares ``_sum_merge_sink``'s replay core: signed sums are not
    idempotent, so the applied-batch watermark rides inside the
    atomically-swapped table directory (no marker/data crash window), and
    ``batch_id <= last applied`` replays are skipped.  Readers see the
    current view at ``path + "/table"``.

    100 TB shape: the per-batch partial map-side combines before one
    keyed shuffle; the store merge shuffles view + partial on ``keys`` —
    O(groups), never O(stream).  The store rewrite is full-table per
    batch (same contract as the sketch sinks); bucket the store via
    ``keyed_upsert_sink``'s pattern when groups are many."""

    def build(batch: DataFrame) -> DataFrame:
        aggs = [
            F.sum(F.col(weight_col) * F.col(src)).alias(out)
            for out, src in sum_cols.items()
        ] + [F.sum(weight_col).alias(count_col)]
        return batch.groupBy(*keys).agg(*aggs)

    def merge_fn(stored: DataFrame | None, fresh: DataFrame) -> DataFrame:
        if stored is None:
            return fresh.filter(F.col(count_col) != 0)
        fresh = fresh.select(
            *keys,
            *[F.col(c).cast(stored.schema[c].dataType).alias(c) for c in sum_cols],
            F.col(count_col).cast(stored.schema[count_col].dataType).alias(count_col),
        )
        return (
            stored.unionByName(fresh)
            .groupBy(*keys)
            .agg(
                *[F.sum(c).cast(stored.schema[c].dataType).alias(c) for c in sum_cols],
                F.sum(count_col).cast(stored.schema[count_col].dataType).alias(count_col),
            )
            .filter(F.col(count_col) != 0)
        )

    return _sum_merge_sink(spark, path, build, keys, merge_fn=merge_fn)


def dynamic_routing_sink(base_dir: str, sink_table_col: str = "sink_table"):
    """K2/R3 — dynamic destination routing: one partitioned write per batch;
    each record lands under its ``sink_table`` value (the file analogue of the
    Kafka sink's per-record ``topic`` column, FlinkSinkUtil.java:44-60)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        if _committed(base_dir, batch_id):
            return
        batch.write.mode("append").partitionBy(sink_table_col).parquet(base_dir)
        _mark_committed(base_dir, batch_id)

    return write


class DimCatalog:
    """R4 — dim-table DDL driven by config-stream ops (DimApp.java:112-178):
    op 'd' drops the dim table, 'c'/'r' create it, 'u' drops and recreates.
    Tables are directories under the catalog root (the HBase namespace
    analogue); a real deployment maps these to catalog metastore calls."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, sink_table: str) -> str:
        return os.path.join(self.root, sink_table)

    def exists(self, sink_table: str) -> bool:
        return os.path.exists(self.path(sink_table))

    def apply_ops(self, config_rows) -> None:
        for row in config_rows:
            op, sink_table = row["op"], row["sink_table"]
            if op == "d":
                shutil.rmtree(self.path(sink_table), ignore_errors=True)
            elif op in ("c", "r"):
                os.makedirs(self.path(sink_table), exist_ok=True)
            elif op == "u":
                shutil.rmtree(self.path(sink_table), ignore_errors=True)
                os.makedirs(self.path(sink_table), exist_ok=True)

    def tables(self) -> list[str]:
        """Dim tables, without the dot-prefixed staging dirs the upsert
        writes beside them."""
        return sorted(
            d for d in os.listdir(self.root)
            if not d.startswith(".") and os.path.isdir(os.path.join(self.root, d))
        )


def jdbc_merge_sink(
    url: str,
    table: str,
    key: str,
    order_col: str,
    type_col: str | None = None,
    driver: str | None = None,
    column_types: str | None = None,
):
    """Transactional MERGE sink over JDBC — the serving-database form of
    K3/K5 (put/delete by key, ``DimHBaseSinkFunction.java:33-59``) with real ACID
    semantics: each micro-batch is PK-compacted (``upsert-kafka`` K3
    fold), bulk-loaded into a staging table, and applied to the target in
    ONE SQL ``MERGE`` statement — matched deletes delete, matched upserts
    update, unmatched upserts insert, all in a single database transaction
    (the "transactional MERGE seam" a Delta/Iceberg deployment fills with
    ``MERGE INTO``).  Replay-idempotent by construction: re-merging the
    same compacted batch is a no-op.  The heavy lifting (compaction, bulk
    staging write) is distributed; only the constant-size MERGE statement
    runs on the driver connection."""
    from .kafka import compact_by_key

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        folded = compact_by_key(batch, key, order_col)
        staging = f"{table}_staging"
        writer = folded.write.mode("overwrite")
        if column_types:
            writer = writer.option("createTableColumnTypes", column_types)
        props = {"driver": driver} if driver else {}
        writer.jdbc(url, staging, properties=props)

        # Spark's JDBC writer passes table names through unquoted (the DB
        # normalizes case) but creates QUOTED, case-sensitive column names;
        # the driver-side DDL/MERGE must quote identically to resolve them.
        q = lambda ident: '"' + ident + '"'
        cols = [c for c in folded.columns if c != type_col]
        sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in cols if c != key)
        ins_cols = ", ".join(q(c) for c in cols)
        ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
        is_del = f"s.{q(type_col)} = 'delete'" if type_col else "1=0"
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            meta = conn.getMetaData()
            rs = meta.getTables(None, None, table.upper(), None)
            if not rs.next():
                st = conn.createStatement()
                st.execute(
                    f"CREATE TABLE {table} AS SELECT {ins_cols} "
                    f"FROM {staging} WITH NO DATA"
                )
                st.close()
            st = conn.createStatement()
            st.executeUpdate(
                f"MERGE INTO {table} t USING {staging} s ON t.{q(key)} = s.{q(key)} "
                + (f"WHEN MATCHED AND {is_del} THEN DELETE " if type_col else "")
                + f"WHEN MATCHED THEN UPDATE SET {sets} "
                + f"WHEN NOT MATCHED"
                + (f" AND NOT ({is_del})" if type_col else "")
                + f" THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
            )
            st.close()
        finally:
            conn.close()

    return write
