"""The commit core under the Delta and Iceberg writers.

Both table formats commit the same way: data files land under the table
root, then ONE small metadata file (a Delta ``_delta_log`` JSON commit, an
Iceberg ``v<N>.metadata.json``) is published with putIfAbsent semantics.
The steps they share live here, once:

- ``publish_if_absent`` — the atomic, durable, fail-if-exists publish,
  and ``replace_atomically`` for the pointer files beside it;
- ``footer_stats`` — per-column min/max/null count from a parquet footer;
- ``place_staged`` — Spark writes a batch into a staging dir, and each
  non-empty task file moves to a deterministic name under the table root;
- ``check_drift`` — the optimistic-concurrency check a mutating commit
  runs against the head it is about to publish onto;
- ``commit_with_retry`` — the optimistic-concurrency loop around every
  metadata commit: build on a fresh head, publish, retry a lost race;
- ``sweep_orphans`` — the retention-horizon delete of unreferenced files;
- ``drain`` — the loop behind every incremental source's ``stream_to``.

What stays in the format modules is what differs: the log JSON vs the
manifests and Avro, deletion vectors vs position deletes, how a batch id
is recorded, and how stats are encoded.
"""

from __future__ import annotations

import os
import shutil
import threading
import time


# Publish races one commit may lose in a row before it gives up: far above
# what a handful of concurrent writers cause, low enough that a livelock
# surfaces as an error instead of a hang.
MAX_COMMIT_ATTEMPTS = 20


class ConcurrentWriteError(RuntimeError):
    """Another live writer moved the table under this commit. The loser
    must not silently retry on top of state it did not observe."""


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def publish_if_absent(target: str, body: bytes) -> bool:
    """Atomically publish one complete file at ``target``; False when
    another writer claimed ``target`` first.

    The body goes to a hidden temp file in the same directory and is
    fsynced, then linked into place with ``os.link`` — fail-if-exists like
    ``O_EXCL``, but the file is complete the instant it becomes visible, so
    a reader never sees a partial commit and a crash mid-write leaves only
    an invisible temp file. The directory is fsynced after the link, so a
    commit reported durable has a durable directory entry too.

    Deployment note: ``link(2)`` is the putIfAbsent primitive on local
    disks and NFS. On object stores the atomic create differs — S3
    conditional PUT (``If-None-Match: *``), GCS ``ifGenerationMatch=0``,
    Azure ``If-None-Match`` — or a catalog-backed pointer swap (Iceberg's
    REST/Hive catalogs). Replace THIS function for such a backend; the
    retry loops, batch-id dedupe and exactly-once argument above it carry
    over unchanged, as in delta-rs's and delta-spark's per-backend
    LogStores."""
    d = os.path.dirname(target)
    tmp = os.path.join(
        d,
        f".{os.path.basename(target)}.{os.getpid()}."
        f"{threading.get_ident()}.tmp",
    )
    fd = os.open(tmp, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        _fsync_dir(d)
        return True
    finally:
        os.unlink(tmp)


def replace_atomically(path: str, body: bytes) -> None:
    """Overwrite a pointer file (Delta's ``_last_checkpoint``, Iceberg's
    ``version-hint.text``) through an fsynced temp file and ``os.replace``:
    readers see the old or the new body, never a partial one."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    with open(tmp, "wb") as f:
        f.write(body)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def footer_stats(full: str) -> tuple[dict, dict, dict]:
    """(mins, maxs, null_counts) per column name, folded over every row
    group of the parquet footer (the writer already paid for them).

    A column whose min/max is missing from any row group, whose binary
    bounds are not UTF-8, or whose bounds pyarrow cannot convert has no
    min/max at all: keeping an earlier row group's narrower bounds would
    let data skipping prune matching rows.
    A null count is the sum over row groups and is dropped when any row
    group lacks one. Values stay native (int, str, date, datetime); each
    format encodes them its own way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    no_bounds: set = set()
    no_nulls: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(md.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_null_count:
                no_nulls.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if name in no_bounds:
                continue
            if st is None or not st.has_min_max:
                no_bounds.add(name)
                continue
            try:
                mn, mx = st.min, st.max
            except pa.ArrowException:
                # pyarrow cannot convert some bounds, such as a decimal
                # stored as INT32/INT64
                no_bounds.add(name)
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    no_bounds.add(name)
                    continue
            if name in mins:
                mn, mx = min(mins[name], mn), max(maxs[name], mx)
            mins[name], maxs[name] = mn, mx
    for name in no_bounds:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name in no_nulls:
        nulls.pop(name, None)
    return mins, maxs, nulls


def place_staged(
    df,
    root: str,
    stage: str,
    name,
    partition_by: list[str] | tuple = (),
) -> list[tuple[str, str, int]]:
    """Write ``df`` with Spark's distributed parquet writer into
    ``root/_staging/<stage>`` (overwrite, so a replay after a crash
    starts clean), then move every non-empty task file to the table-
    relative path ``name(i, partition_relpath)`` with ``os.replace``.

    The walk is sorted, so ``i`` (the index among non-empty files) and
    hence every target name is deterministic: a replay re-renames onto the
    same targets instead of accumulating files. Two files mapping to one
    target raise before the second overwrites the first. Returns
    ``(rel, partition_relpath, n_rows)`` per placed file (``"."`` for an
    unpartitioned write) and removes the stage."""
    import pyarrow.parquet as pq

    staged = os.path.join(root, "_staging", stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    placed: list[tuple[str, str, int]] = []
    taken: set = set()
    for dirpath, _dirs, fns in sorted(os.walk(staged)):
        relpath = os.path.relpath(dirpath, staged)
        for fn in sorted(fns):
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            src = os.path.join(dirpath, fn)
            n_rows = pq.ParquetFile(src).metadata.num_rows
            if n_rows == 0:
                continue  # empty task partitions add no files
            rel = name(len(placed), relpath)
            if rel in taken:
                raise RuntimeError(
                    f"two staged files map to {rel!r} — the writer's "
                    "one-file-per-target contract broke"
                )
            full = os.path.join(root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            os.replace(src, full)
            taken.add(rel)
            placed.append((rel, relpath, n_rows))
    shutil.rmtree(staged, ignore_errors=True)
    return placed


def check_drift(
    expected: dict, current: dict, what: str, exact: bool = False
) -> None:
    """Raise ``ConcurrentWriteError`` when the files a mutating commit was
    computed against changed under it: ``expected`` and ``current`` map
    each live file to what identifies its content (Delta's add action,
    Iceberg's sequence number). Subset mode tolerates concurrent commits
    that leave the expected files alone; ``exact`` mode (a commit that
    replaces the whole live set, or one computed against an empty table)
    tolerates nothing."""
    gone = sorted(rel for rel, seen in expected.items() if current.get(rel) != seen)
    extra = sorted(set(current) - set(expected))
    if gone or (exact and extra):
        raise ConcurrentWriteError(
            f"concurrent update: live files changed under {what} "
            f"(computed-against files gone/changed: {gone[:3]}, "
            f"new files: {extra[:3]}) — recompute against the new head"
        )


def commit_with_retry(what: str, build, publish, landed=None):
    """The optimistic-concurrency loop of every table commit.

    Each attempt calls ``build()``, which reads a fresh head and returns
    ``(target, body, result)``: the version to claim, the metadata file to
    publish there, and what the commit returns once published. ``body``
    None means there is nothing to publish and ``result`` is final. A
    conflict the build detects (``check_drift``) raises out of the loop.
    ``publish(target, body)`` is the format's putIfAbsent step. After a
    lost race, ``landed()`` says whether this very batch is already
    committed (an earlier attempt of it, or a replay elsewhere): the
    commit then returns None; otherwise it rebuilds on the new head.
    ``MAX_COMMIT_ATTEMPTS`` lost races in a row raise
    ``ConcurrentWriteError`` naming ``what``."""
    for _ in range(MAX_COMMIT_ATTEMPTS):
        target, body, result = build()
        if body is None or publish(target, body):
            return result
        if landed is not None and landed():
            return None
    raise ConcurrentWriteError(
        f"{what} lost the publish race {MAX_COMMIT_ATTEMPTS} times in a "
        "row — too many concurrent writers on this table"
    )


def sweep_orphans(
    root: str, referenced: set, retention_seconds: float, candidate
) -> list[str]:
    """Delete every file under ``root`` that ``candidate(rel)`` admits and
    ``referenced`` lacks, when it is older than the retention horizon.
    Hidden and underscore files and directories (logs, staging) are never
    visited. Returns the deleted table-relative paths, sorted.

    The horizon (by mtime) protects the multi-writer window: a concurrent
    writer that has written its data file but not yet published its
    commit would otherwise lose the file and then commit a dangling
    reference. Pass 0 only when no other writer can be in flight."""
    horizon = time.time() - retention_seconds
    dropped = []
    for dirpath, dirs, fns in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for fn in fns:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            if (
                fn.startswith((".", "_"))
                or rel in referenced
                or not candidate(rel)
                or os.path.getmtime(full) > horizon
            ):
                continue
            os.unlink(full)
            dropped.append(rel)
    return sorted(dropped)


def drain(next_batch, write, max_batches: int) -> int:
    """Feed ``next_batch()`` results into a ``foreachBatch``-style
    ``write(df, through)`` until the source is caught up (``None``) or
    ``max_batches`` were delivered. The through-position doubles as the
    batch id, so sink idempotence lines up with source progress. Returns
    the number of batches delivered."""
    n = 0
    while n < max_batches:
        got = next_batch()
        if got is None:
            break
        write(*got)
        n += 1
    return n
