"""Apache Iceberg snapshot reader — the SECOND open table format, read
by composition.

Written from the public Iceberg table spec (iceberg.apache.org/spec):
a table is a directory of parquet data files plus a ``metadata/`` tree —
versioned ``*.metadata.json`` documents (schemas, partition specs, the
snapshot log), one Avro MANIFEST LIST per snapshot (which manifests make
up that snapshot), and Avro MANIFEST files (per-data-file entries with
status existing/added/deleted and file-level stats). The state of the
table at a snapshot is exactly what its manifest list reaches — unlike
Delta there is no log replay; every snapshot is self-contained, which is
why time travel here is "read a different manifest list".

``read_iceberg_snapshot`` composes four in-repo readers end-to-end with
zero external libraries on the decode path: the ZIP member walk
(``archive.zip_extract``), stdlib JSON for the metadata documents, the
in-repo Avro OCF decoder (``avro.parse_avro`` — generic record decode,
so ANY writer's manifest schema works as long as the spec field names
are present) for manifest lists and manifests, and the in-repo parquet
DATA-page decode (``parquetmeta.parse_parquet_data``) over every live
data file, with the manifest's ``record_count`` cross-checked against
the decoded rows. Loud seams: format versions beyond 2, DELETE manifests
(content=1) and non-data data_file content (v2 row-level deletes demand
merge-on-read semantics this reader must refuse, not misread), and
non-parquet file_format.

Reference scope note: the reference app (hellohappyworld/
flink-gmall2024-realtime) has no lake-format path; this is part of the
beyond-reference LLM-data-pipeline surface the build brief asks for
(the Delta twin lives in ``deltalog.py``).
"""

from __future__ import annotations

import json
import struct
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..streaming.tablecommit import (
    check_drift,
    commit_with_retry,
    drain,
    footer_stats,
    place_staged,
    publish_if_absent,
    replace_atomically,
    sweep_orphans,
)
from .codecguard import malformed_guard


def _strip_location(path: str, location: str) -> str:
    """Iceberg metadata stores full table-relative URIs; resolve them
    against the table location."""
    if location and path.startswith(location.rstrip("/") + "/"):
        return path[len(location.rstrip("/")) + 1 :]
    return path


def _murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant, seed 0) — the hash Iceberg's
    ``bucket[N]`` transform is specified over (spec Appendix B publishes
    the vectors tests/test_iceberg.py pins). Returns unsigned."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n4 = len(data) // 4 * 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n4:]
    if tail:
        k = 0
        for i, b in enumerate(tail):
            k |= b << (8 * i)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


_MICROS_PER_DAY = 86_400_000_000
_MICROS_PER_HOUR = 3_600_000_000


def iceberg_bucket(value, n: int, ice_type: str) -> int:
    """``bucket[N]`` per the Iceberg spec: murmur3 of the value's
    single-value serialization (ints/longs/dates/timestamps as 8-byte
    little-endian — ints hash as longs so bucketing survives type
    promotion; strings as UTF-8), then ``(hash & Int.MaxValue) % N``."""
    if ice_type in ("int", "long", "date", "timestamp", "timestamptz"):
        import struct

        data = struct.pack("<q", int(value))
    elif ice_type == "string":
        data = str(value).encode()
    else:
        raise NotImplementedError(
            f"bucket transform over iceberg type {ice_type!r} unsupported"
        )
    return (_murmur3_x86_32(data) & 0x7FFFFFFF) % n


def _apply_transform(transform: str, value, ice_type: str):
    """Apply a partition transform to a SOURCE value — what a reader
    needs to prune by transformed partition values when the caller
    filters on source-column equality."""
    if transform == "identity":
        return value
    if transform.startswith("bucket[") and transform.endswith("]"):
        return iceberg_bucket(value, int(transform[7:-1]), ice_type)
    if transform.startswith("truncate[") and transform.endswith("]"):
        w = int(transform[9:-1])
        if w <= 0:
            raise ValueError(f"truncate width {w} must be positive")
        if ice_type in ("int", "long"):
            return int(value) - (int(value) % w)  # floored mod, per spec
        if ice_type == "string":
            return str(value)[:w]
        raise NotImplementedError(
            f"truncate transform over iceberg type {ice_type!r} unsupported"
        )
    if transform == "day":
        if ice_type == "date":
            return int(value)  # already days since epoch
        if ice_type in ("timestamp", "timestamptz"):
            return int(value) // _MICROS_PER_DAY  # micros -> days, floored
        raise NotImplementedError(
            f"day transform over iceberg type {ice_type!r} unsupported"
        )
    if transform == "hour":
        # hours since epoch, floored — timestamps only (the spec forbids
        # hour over date)
        if ice_type in ("timestamp", "timestamptz"):
            return int(value) // _MICROS_PER_HOUR
        raise NotImplementedError(
            f"hour transform over iceberg type {ice_type!r} unsupported"
        )
    if transform in ("month", "year"):
        # months/years since epoch, via proleptic calendar math (r14)
        import datetime

        if ice_type == "date":
            days = int(value)
        elif ice_type in ("timestamp", "timestamptz"):
            days = int(value) // _MICROS_PER_DAY
        else:
            raise NotImplementedError(
                f"{transform} transform over iceberg type {ice_type!r} "
                "unsupported"
            )
        d = datetime.date(1970, 1, 1) + datetime.timedelta(days=days)
        if transform == "year":
            return d.year - 1970
        return (d.year - 1970) * 12 + (d.month - 1)
    if transform == "void":
        return None
    raise NotImplementedError(
        f"iceberg partition transform {transform!r} unsupported"
    )


def _schema_types(md: dict) -> dict[int, str]:
    """field-id -> primitive type name from the CURRENT table schema."""
    sid = md.get("current-schema-id", 0)
    for sch in md.get("schemas", []):
        if sch.get("schema-id", 0) == sid:
            return {
                f["id"]: f["type"]
                for f in sch.get("fields", [])
                if isinstance(f.get("type"), str)
            }
    return {}


def _schema_names(md: dict) -> dict[int, str]:
    sid = md.get("current-schema-id", 0)
    for sch in md.get("schemas", []):
        if sch.get("schema-id", 0) == sid:
            return {f["id"]: f["name"] for f in sch.get("fields", [])}
    return {}


def _partition_checker(md: dict, spec_id: int, partition_filter: dict):
    """Build the per-file partition predicate for one manifest's spec:
    filter keys name PARTITION FIELDS, filter values are SOURCE column
    values — the reader applies the field's transform and compares
    against the stored partition struct (identity degenerates to the
    plain equality this reader always did)."""
    specs = {s.get("spec-id", 0): s for s in md.get("partition-specs", [])}
    spec = specs.get(spec_id)
    if spec is None:
        raise ValueError(f"manifest names unknown partition spec {spec_id}")
    by_name = {f["name"]: f for f in spec.get("fields", [])}
    types = _schema_types(md)
    checks = []
    for k, v in partition_filter.items():
        f = by_name.get(k)
        if f is None:
            raise ValueError(
                f"partition filter on unknown partition field {k!r} "
                f"(spec {spec_id} has {sorted(by_name)})"
            )
        src_type = types.get(f["source-id"])
        if src_type is None:
            raise NotImplementedError(
                f"partition source field {f['source-id']} has a "
                "non-primitive type"
            )
        checks.append((k, _apply_transform(f["transform"], v, src_type)))
    return lambda partition: all(
        partition.get(k) == expect for k, expect in checks
    )


def _decode_bound(raw, ice_type: str):
    """Iceberg single-value binary serialization -> python value, for
    the bound types the stats filter understands; None = undecodable
    (the caller must then keep the file — skipping is an optimization
    and can never change results)."""
    if raw is None:
        return None
    if isinstance(raw, str):
        raw = raw.encode()
    try:
        if ice_type in ("long", "date", "timestamp", "timestamptz") and len(raw) == 8:
            return int.from_bytes(raw, "little", signed=True)
        if ice_type == "int" and len(raw) == 4:
            return int.from_bytes(raw, "little", signed=True)
        if ice_type == "string":
            return raw.decode()
    except (ValueError, UnicodeDecodeError):
        return None
    return None


def _stats_keep(df: dict, stats_filter: dict, md: dict) -> bool:
    """File-skip predicate from the manifest entry's lower_bounds /
    upper_bounds (map<field-id, single-value bytes>): keep the file
    unless a requested ``{column: (lo, hi)}`` interval provably cannot
    intersect the file's bounds. Files lacking bounds for a column are
    always kept."""
    names = _schema_names(md)
    types = _schema_types(md)
    ids_by_name = {v: k for k, v in names.items()}

    def bound_map(field):
        out = {}
        for kv in df.get(field) or []:
            out[kv.get("key")] = kv.get("value")
        return out

    lowers = bound_map("lower_bounds")
    uppers = bound_map("upper_bounds")
    for col, (lo, hi) in stats_filter.items():
        fid = ids_by_name.get(col)
        if fid is None:
            raise ValueError(f"stats filter on unknown column {col!r}")
        fmin = _decode_bound(lowers.get(fid), types.get(fid, ""))
        fmax = _decode_bound(uppers.get(fid), types.get(fid, ""))
        if fmin is None or fmax is None:
            continue
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def _dir_get(path: str):
    """``get(name, optional=False)`` -> bytes of a table-relative file."""
    import os

    def get(name, optional=False):
        full = os.path.join(path, name)
        if not os.path.isfile(full):
            if optional:
                return None
            raise ValueError(f"{name!r} missing from table directory")
        with open(full, "rb") as f:
            return f.read()

    return get


def _dir_reader(path: str):
    """(``get``, ``metadata/`` file names) over a table DIRECTORY — the
    first two arguments of ``_iceberg_live``."""
    import os

    mdir = os.path.join(path, "metadata")
    names = (
        ["metadata/" + fn for fn in os.listdir(mdir)]
        if os.path.isdir(mdir)
        else []
    )
    return _dir_get(path), names


def _added_manifests(get, snap: dict, location: str) -> list:
    """(content, manifest records) of every manifest ``snap`` ADDED."""
    from .avro import parse_avro

    _, entries = parse_avro(get(_strip_location(snap["manifest-list"], location)))
    return [
        (e.get("content", 0), parse_avro(
            get(_strip_location(e["manifest_path"], location))
        )[1])
        for e in entries
        if e.get("added_snapshot_id") == snap["snapshot-id"]
    ]


def _metadata_version(name: str) -> int:
    """``[metadata/]v<N>[-<uuid>].metadata.json`` -> N."""
    stem = name.rsplit("/", 1)[-1][: -len(".metadata.json")]
    return int(stem.lstrip("v").split("-")[0])


def _metadata_versions(path: str) -> dict[int, str]:
    """{version: file name} of a table directory's ``*.metadata.json``."""
    import os

    return {
        _metadata_version(fn): fn
        for fn in os.listdir(os.path.join(path, "metadata"))
        if fn.endswith(".metadata.json")
    }


def _head_metadata(path: str) -> tuple[int, dict | None]:
    """(version, metadata document) of the newest ``*.metadata.json`` —
    (0, None) before the first commit."""
    import os

    versions = _metadata_versions(path)
    if not versions:
        return 0, None
    v = max(versions)
    with open(os.path.join(path, "metadata", versions[v])) as f:
        return v, json.load(f)


def _batch_ids(md: dict | None) -> tuple[set[int], int]:
    """Batch-id dedupe from ONE metadata document: (the batch ids in the
    live snapshot summaries, the ``max-expired-batch-id`` watermark that
    expired snapshots folded into, -1 without one). Batch ids are
    monotone micro-batch ids, so an id at or below the watermark was
    committed by an expired snapshot — the Iceberg analog of Delta
    checkpoints carrying txn rows (r14)."""
    if md is None:
        return set(), -1
    ids = set()
    for s in md.get("snapshots", []):
        bid = (s.get("summary") or {}).get("batch-id")
        if bid is not None:
            ids.add(int(bid))
    wm = (md.get("properties") or {}).get("max-expired-batch-id")
    return ids, -1 if wm is None else int(wm)


def _batch_landed(md: dict | None, batch_id: int) -> bool:
    """Whether the metadata document ``md`` records ``batch_id`` as
    committed, live or expired."""
    ids, watermark = _batch_ids(md)
    return batch_id in ids or batch_id <= watermark


def _iceberg_live(
    members_get,
    names,
    snapshot_id: int | None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
) -> tuple[int, int, list, list]:
    """Resolve the live data-file set of a snapshot from metadata +
    manifests only (no data decode): returns (snapshot_id, n_manifests,
    [(rel_path, record_count, partition_dict, data_seq)],
    [(delete_rel_path, delete_seq)],
    [(eq_delete_rel_path, delete_seq, equality_ids)], metadata_json,
    location). ``partition_filter`` prunes files from the manifests'
    partition structs (transform-aware, r13) and ``stats_filter`` from
    their column bounds, both BEFORE any data access — Iceberg's
    manifest-level pruning. DELETE manifests (content=1) yield
    POSITION-delete (content=1) and EQUALITY-delete (content=2) parquet
    files for the caller to apply (merge-on-read, r13)."""
    from .avro import parse_avro

    metas = {
        _metadata_version(name): name
        for name in names
        if name.startswith("metadata/") and name.endswith(".metadata.json")
    }
    if not metas:
        raise ValueError("no metadata/*.metadata.json in payload")
    hint = members_get("metadata/version-hint.text", optional=True)
    # the hint is a STARTING POINT, not the truth: a crash between the
    # metadata publish and the hint write (or a racing committer's
    # os.replace) can leave it lagging — probe forward to the newest
    # metadata file, like HadoopTableOperations (ADVICE r12)
    ver = max(metas)
    if hint:
        hinted = int(hint.decode().strip())
        if hinted > ver:
            raise ValueError(
                f"version-hint names v{hinted} but no such metadata file"
            )
    if ver not in metas:
        raise ValueError(f"metadata v{ver} missing from payload")
    md = json.loads(members_get(metas[ver]))
    fv = md.get("format-version", 1)
    if fv not in (1, 2):
        raise NotImplementedError(f"iceberg format-version {fv} unsupported")
    location = md.get("location", "")
    snapshots = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = md.get("current-snapshot-id")
    if snapshot_id not in snapshots:
        raise ValueError(
            f"snapshot {snapshot_id} not in table metadata "
            f"(has {sorted(snapshots)})"
        )
    snap = snapshots[snapshot_id]
    ml_rel = _strip_location(snap["manifest-list"], location)
    _, ml_records = parse_avro(members_get(ml_rel))
    live = []
    deletes = []
    eq_deletes = []
    checker_cache: dict[int, object] = {}
    for entry in ml_records:
        content = entry.get("content", 0)
        if content not in (0, 1):
            raise NotImplementedError(
                f"iceberg manifest content {content} unsupported"
            )
        manifest_seq = entry.get("sequence_number")
        m_rel = _strip_location(entry["manifest_path"], location)
        blob = members_get(m_rel)
        declared = entry.get("manifest_length")
        if declared is not None and declared != len(blob):
            raise ValueError(
                f"{m_rel!r}: manifest_length {declared} != actual {len(blob)}"
            )
        spec_id = entry.get("partition_spec_id", 0)
        check = None
        if partition_filter:
            if spec_id not in checker_cache:
                checker_cache[spec_id] = _partition_checker(
                    md, spec_id, partition_filter
                )
            check = checker_cache[spec_id]
        _, m_records = parse_avro(blob)
        for rec in m_records:
            if rec.get("status", 1) == 2:  # DELETED: not part of this snapshot
                continue
            df = rec["data_file"]
            seq = rec.get("sequence_number")
            if seq is None:
                seq = manifest_seq
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt not in ("PARQUET", "AVRO", "ORC"):
                raise NotImplementedError(
                    f"iceberg data file format {fmt!r} unsupported"
                )
            f_content = df.get("content", 0)
            if content == 1:
                # DELETE manifest: position deletes (content=1) and
                # equality deletes (content=2) both compose (r13)
                if f_content == 2:
                    eq_ids = df.get("equality_ids")
                    if not eq_ids:
                        raise ValueError(
                            "equality delete file lists no equality_ids"
                        )
                    eq_deletes.append(
                        (
                            _strip_location(df["file_path"], location),
                            seq,
                            list(eq_ids),
                        )
                    )
                    continue
                if f_content != 1:
                    raise ValueError(
                        "DELETE manifest carries a non-delete data_file"
                    )
                deletes.append(
                    (_strip_location(df["file_path"], location), seq)
                )
                continue
            if f_content != 0:
                raise ValueError(
                    "data manifest carries delete-content data_file"
                )
            partition = df.get("partition") or {}
            if check is not None and not check(partition):
                continue
            if stats_filter and not _stats_keep(df, stats_filter, md):
                continue
            live.append(
                (
                    _strip_location(df["file_path"], location),
                    df.get("record_count"),
                    partition,
                    seq,
                    fmt,
                )
            )
    return snapshot_id, len(ml_records), live, deletes, eq_deletes, md, location


def _resolve_position_deletes(
    members_get, deletes: list, location: str = ""
) -> list:
    """Decode positional delete parquet files ((file_path, pos) rows,
    through the in-repo nested record decoder) into
    [(delete_seq, {data_rel: set(positions)})]."""
    from .parquetmeta import parse_parquet_records

    out = []
    for rel, seq in deletes:
        cols = parse_parquet_records(
            members_get(rel), columns=["file_path", "pos"]
        )
        by_file: dict[str, set] = {}
        for fp, pos in zip(cols["file_path"], cols["pos"]):
            if fp is None or pos is None:
                raise ValueError(f"{rel!r}: null file_path/pos in delete file")
            if isinstance(fp, bytes):
                fp = fp.decode()
            by_file.setdefault(_strip_location(fp, location), set()).add(pos)
        out.append((seq, by_file))
    return out


def _deleted_positions(
    resolved: list, data_rel: str, data_seq
) -> set:
    """Union of delete positions applying to one data file: a position
    delete applies when its sequence number is >= the data file's (the
    spec's merge-on-read rule); files/deletes without sequence numbers
    conservatively apply."""
    out: set = set()
    for del_seq, by_file in resolved:
        if data_seq is not None and del_seq is not None and del_seq < data_seq:
            continue
        out |= by_file.get(data_rel, set())
    return out


def _bval(v):
    return v.decode() if isinstance(v, bytes) else v


def _resolve_equality_deletes(
    members_get, eq_deletes: list, md: dict
) -> list:
    """Decode equality-delete parquet files (rows of the columns named
    by ``equality_ids``) into [(delete_seq, col_names, value-tuple
    set)] — the spec's merge-on-read DELETE-by-value form (r13)."""
    from .parquetmeta import parse_parquet_records

    names = _schema_names(md)
    out = []
    for rel, seq, eq_ids in eq_deletes:
        cols = [names.get(fid) for fid in eq_ids]
        if any(c is None for c in cols):
            raise ValueError(
                f"equality_ids {eq_ids} name fields outside the table schema"
            )
        recs = parse_parquet_records(members_get(rel), columns=cols)
        tuples = set(
            zip(*(tuple(_bval(v) for v in recs[c]) for c in cols))
        )
        out.append((seq, tuple(cols), tuples))
    return out


def _equality_deleted_rows(
    eq_resolved: list, recs: dict, file_rows: int, data_seq
) -> set:
    """Row indexes of one data file matched by applicable equality
    deletes. The spec's rule is STRICT here: an equality delete applies
    only to data files with data sequence number STRICTLY LESS than the
    delete's (a delete cannot see rows committed with it or after it);
    absent sequence numbers conservatively apply."""
    out: set = set()
    for del_seq, cols, tuples in eq_resolved:
        if data_seq is not None and del_seq is not None and data_seq >= del_seq:
            continue
        vals = [recs[c] for c in cols]
        for i in range(file_rows):
            if tuple(_bval(v[i]) for v in vals) in tuples:
                out.add(i)
    return out


@malformed_guard
def read_iceberg_snapshot(
    payload: bytes,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
) -> dict:
    """Read an Iceberg table (shipped as one ZIP payload) at
    ``snapshot_id`` (default: the current snapshot) and decode every
    live parquet data file. Returns {snapshot_id, n_manifests, n_files,
    n_rows, int_sum, n_partitions}. ``partition_filter`` (transform-
    aware: filter values are SOURCE values) and ``stats_filter``
    ({column: (lo, hi)} against manifest lower/upper bounds) both prune
    files before any data decode; v2 POSITION deletes mask rows
    (merge-on-read, sequence-number rule) — r13."""
    from .archive import zip_extract
    from .parquetmeta import parse_parquet_data, parse_parquet_records

    members = dict(zip_extract(payload))

    def get(name, optional=False):
        if name not in members:
            if optional:
                return None
            raise ValueError(f"{name!r} missing from payload")
        return members[name]

    sid, n_manifests, live, deletes, eq_dels, md, location = _iceberg_live(
        get, list(members), snapshot_id, partition_filter, stats_filter
    )
    resolved = _resolve_position_deletes(get, deletes, location)
    eq_resolved = _resolve_equality_deletes(get, eq_dels, md)
    n_files = 0
    n_rows = 0
    int_sum = 0
    partitions = set()
    for f_rel, record_count, partition, seq, fmt in live:
        if partition:
            partitions.add(tuple(sorted(partition.items())))
        if f_rel not in members:
            raise ValueError(f"data file {f_rel!r} missing from payload")
        blob = members[f_rel]
        if fmt in ("AVRO", "ORC"):
            # r14: Avro data files decode through the same in-repo OCF
            # reader the manifests already use; ORC data files through
            # the in-repo ORC record assembler — both columnar
            # (col -> list) so the delete-mask logic below is
            # format-agnostic
            if fmt == "AVRO":
                from .avro import parse_avro as _pa

                _, fmt_recs = _pa(blob)
                names = list(fmt_recs[0].keys()) if fmt_recs else []
                for r in fmt_recs:
                    names.extend(k for k in r if k not in names)
                recs_all = {
                    c: [r.get(c) for r in fmt_recs] for c in names
                }
            else:
                from .orcmeta import parse_orc_records as _por

                recs_all = _por(blob)
                names = list(recs_all)
            file_rows = len(next(iter(recs_all.values()))) if recs_all else 0
            cols = []
            for c in names:
                vals = recs_all[c]
                ints = [
                    v
                    for v in vals
                    if isinstance(v, int) and not isinstance(v, bool)
                ]
                isum = (
                    sum(ints)
                    if ints and len(ints) + vals.count(None) == len(vals)
                    else None
                )
                cols.append((c, len(vals), 0, isum, None, None))

            def _records(_blob=blob, _r=recs_all):
                return _r

        else:
            cols = parse_parquet_data(blob)
            file_rows = cols[0][1] + cols[0][2]

            def _records(_blob=blob, _r=None):
                return parse_parquet_records(_blob)

        if record_count is not None and record_count != file_rows:
            raise ValueError(
                f"{f_rel!r}: record_count {record_count} != "
                f"decoded {file_rows}"
            )
        n_files += 1
        deleted = _deleted_positions(resolved, f_rel, seq)
        recs = None
        if eq_resolved:
            recs = _records()
            deleted |= _equality_deleted_rows(
                eq_resolved, recs, file_rows, seq
            )
        if not deleted:
            n_rows += file_rows
            for _col, _nv, _nn, isum, _fsum, _blen in cols:
                if isum is not None:
                    int_sum += isum
                    break
            continue
        if max(deleted) >= file_rows:
            raise ValueError(
                f"{f_rel!r}: position delete {max(deleted)} beyond file "
                f"rows {file_rows}"
            )
        n_rows += file_rows - len(deleted)
        if recs is None:
            recs = _records()
        for _col, _nv, _nn, isum, _fsum, _blen in cols:
            if isum is not None:
                int_sum += sum(
                    v
                    for i, v in enumerate(recs[_col])
                    if v is not None and i not in deleted
                )
                break
    return {
        "snapshot_id": sid,
        "n_manifests": n_manifests,
        "n_files": n_files,
        "n_rows": n_rows,
        "int_sum": int_sum,
        "n_partitions": len(partitions),
    }


def _anti_join_eq(spark, df, eq) -> DataFrame:
    """DELETE-by-value: broadcast anti-join on the equality columns
    (the MERGE-on-read form streaming upserts write). NULL-SAFE
    equality — the spec (and the audit reader) treat null==null as a
    match, so a plain-equality join would never delete rows with NULL
    in an equality column (ADVICE r13)."""
    from pyspark.sql import functions as F

    _del_seq, cols, tuples = eq
    vals_df = spark.createDataFrame(
        [
            tuple(t)
            for t in sorted(
                tuples, key=lambda t: tuple((v is None, v) for v in t)
            )
        ],
        list(cols),
    )
    sel = [F.col(c).alias(f"__eq_{c}") for c in cols]
    cond = None
    for c in cols:
        clause = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        cond = clause if cond is None else cond & clause
    return df.join(F.broadcast(vals_df.select(*sel)), cond, "left_anti")


# broadcast the distributed position-delete frame only while the
# delete files' total on-disk bytes stay comfortably under Spark's
# broadcast ceiling; bigger sweeps take the shuffle anti-join
# (tests pin both paths by monkeypatching this to -1)
_POS_DELETE_BROADCAST_MAX_BYTES = 8 * 1024 * 1024

_ICE_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    # date/timestamp surface as their physical encodings (days / micros
    # since epoch), matching what the OCF decoder yields
    "date": "int",
    "timestamp": "bigint",
    "timestamptz": "bigint",
}

# r15: declared types whose PARQUET read schema is unambiguous.
# r16 (VERDICT r15 #3): the sink now declares spec-correct temporal types
# ("timestamptz" = adjusted-to-UTC = Spark TimestampType; bare "timestamp"
# = without zone = TimestampNTZType), so both map unambiguously and the
# temporal guard is gone — any spec-compliant writer's declaration reads
# the same way.
_ICE_PARQUET_READ = {
    "long": "bigint", "int": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
}


def _parquet_read_schema(md: dict):
    """Explicit Spark read schema from the CURRENT table schema, or None
    when any field's declared type is not in ``_ICE_PARQUET_READ`` (caller
    falls back to mergeSchema inference)."""
    sid = md.get("current-schema-id", 0)
    sch = next(
        (s for s in md.get("schemas", []) if s.get("schema-id", 0) == sid),
        None,
    )
    if not (
        sch
        and sch.get("fields")
        and all(
            isinstance(f.get("type"), str) and f["type"] in _ICE_PARQUET_READ
            for f in sch["fields"]
        )
    ):
        return None
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import _parse_datatype_string as _pds

    return StructType(
        [
            StructField(f["name"], _pds(_ICE_PARQUET_READ[f["type"]]), True)
            for f in sch["fields"]
        ]
    )


def _range_read_schema(md: dict, snaps: list):
    """Union explicit read schema over a snapshot RANGE (r16 — VERDICT
    r15 #1): each data file is written under its snapshot's schema and
    this sink's evolution only APPENDS fields, so the union of the
    range's declared schemas (by field id, first-seen order) IS the
    union a mergeSchema footer sweep would infer over the range's
    files. Returns None (callers keep inference) when any snapshot
    predates schema-id stamping (foreign/legacy metadata), any type
    maps ambiguously, or a field id changes name/type mid-range
    (rename/retype — not expressible as one read schema)."""
    by_id = {s.get("schema-id", 0): s for s in md.get("schemas", [])}
    seen: dict = {}
    fields: list = []
    for snap in snaps:
        sid = snap.get("schema-id")
        if sid is None or sid not in by_id:
            return None
        for f in by_id[sid].get("fields", []):
            t = f.get("type")
            if not isinstance(t, str) or t not in _ICE_PARQUET_READ:
                return None
            prev = seen.get(f["id"])
            if prev is None:
                seen[f["id"]] = (f["name"], t)
                fields.append((f["name"], t))
            elif prev != (f["name"], t):
                return None
    if not fields:
        return None
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import _parse_datatype_string as _pds

    return StructType(
        [
            StructField(n, _pds(_ICE_PARQUET_READ[t]), True)
            for n, t in fields
        ]
    )


def _decoded_files_df(
    spark, path: str, rels: list, md: dict, fmt: str = "AVRO"
) -> DataFrame:
    """Distributed read of Avro or ORC DATA files through the in-repo
    decoders (r14 — pyspark ships no spark-avro connector, and ORC rows
    need the in-repo assembler): the file list parallelizes one task
    per file via ``mapInPandas``; each task decodes its file and yields
    the table-schema columns plus ``(__file, __pos)`` for
    position-delete masking. Rows never pass through the driver; work
    scales with live data bytes."""
    import os as _os

    import pandas as _pd

    sid = md.get("current-schema-id", 0)
    schema = next(
        s for s in md.get("schemas", []) if s.get("schema-id", 0) == sid
    )
    fields = []
    for f in schema.get("fields", []):
        t = f.get("type")
        if not isinstance(t, str) or t not in _ICE_TO_SPARK:
            raise NotImplementedError(
                f"avro data files with iceberg type {t!r} unsupported"
            )
        fields.append((f["name"], _ICE_TO_SPARK[t]))
    out_schema = ", ".join(
        [f"{n} {t}" for n, t in fields] + ["__file string", "__pos long"]
    )
    files_df = spark.createDataFrame(
        [(rel,) for rel in sorted(rels)], "rel string"
    ).repartition(max(len(rels), 1))
    table_path = path
    names = [n for n, _t in fields]

    def decode(it):
        for pdf in it:
            for rel in pdf["rel"]:
                with open(_os.path.join(table_path, rel), "rb") as f:
                    blob = f.read()
                if fmt == "AVRO":
                    from flink_gmall2024_realtime_spark.operators.avro import (
                        parse_avro,
                    )

                    _, recs = parse_avro(blob)
                    out = {c: [r.get(c) for r in recs] for c in names}
                    n = len(recs)
                else:
                    from flink_gmall2024_realtime_spark.operators.orcmeta import (
                        parse_orc_records,
                    )

                    cols = parse_orc_records(blob, columns=names)
                    out = {c: cols[c] for c in names}
                    n = len(next(iter(cols.values()))) if cols else 0
                out["__file"] = [_os.path.basename(rel)] * n
                out["__pos"] = list(range(n))
                yield _pd.DataFrame(out)

    return files_df.mapInPandas(decode, out_schema)


def iceberg_scan(
    spark,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
) -> DataFrame:
    """Distributed DataFrame scan of an Iceberg table DIRECTORY at a
    snapshot: metadata + Avro manifests resolve the live file set
    driver-side (log-proportional work), ``partition_filter``
    (transform-aware) and ``stats_filter`` (manifest column bounds)
    skip files before the scan is built, and the data files are read by
    Spark's native parquet reader. Identity-partitioned Iceberg data
    files CARRY their partition columns (unlike Hive/Delta layouts), so
    nothing needs attaching — the scan is a plain multi-file read with
    manifest-level file skipping; at 100 TB that is the entire point of
    Iceberg's metadata tree. v2 POSITION deletes (r13) filter their
    file's rows via a broadcast ``_metadata.row_index`` anti-join —
    delete-carrying files scan individually, the plain majority stays
    one grouped scan."""
    import os

    from pyspark.sql import functions as F

    get, names = _dir_reader(path)

    sid, _, live, deletes, eq_dels, md, location = _iceberg_live(
        get, names, snapshot_id, partition_filter, stats_filter
    )
    if not live:
        raise ValueError("no live data files in the selected snapshot")
    eq_resolved = _resolve_equality_deletes(get, eq_dels, md)
    # r15 (VERDICT r14 #1): position-delete files are spec-sorted
    # PARQUET — read them DISTRIBUTED with spark.read.parquet and apply
    # as one (file basename, pos, seq-rule) anti-join; the driver never
    # decodes a deleted position. Broadcast the delete frame only under
    # _POS_DELETE_BROADCAST_MAX_BYTES (a 10^9-row GDPR sweep takes the
    # shuffle anti-join instead of the ~8 GB broadcast ceiling). The
    # pre-r15 driver-side decode survives ONLY as the basename-collision
    # fallback, per-file exact on both parquet and AVRO/ORC groups
    # (ADVICE r14: the old grouped fallback could cross-mask two
    # same-named files).
    data_names = [os.path.basename(rel) for rel, _rc, _pv, _s, _f in live]
    del_names = [os.path.basename(rel) for rel, _s in deletes]
    distributed_deletes = bool(deletes) and (
        len(set(data_names)) == len(data_names)
        and len(set(del_names)) == len(del_names)
    )
    resolved = (
        _resolve_position_deletes(get, deletes, location)
        if deletes and not distributed_deletes
        else []
    )
    del_seqs = [s for _r, s in deletes]
    max_del_seq = (
        None
        if (not del_seqs or any(s is None for s in del_seqs))
        else max(del_seqs)
    )

    def needs_mask(seq) -> bool:
        # metadata-only: does ANY delete file's sequence reach this data
        # file (del_seq >= data_seq; absent seqs conservatively apply)?
        if not deletes:
            return False
        return seq is None or max_del_seq is None or seq <= max_del_seq

    _dd: dict = {}

    def delete_frames():
        """Lazily build (delete frame, data-file seq frame) once."""
        if "ddf" not in _dd:
            # the spec fixes a position-delete file's schema
            d_raw = spark.read.schema("file_path string, pos long").parquet(
                *sorted(os.path.join(path, rel) for rel, _s in deletes)
            ).select(
                F.element_at(
                    F.split(F.col("file_path"), "/"), -1
                ).alias("__dfile"),
                F.col("pos").alias("__dpos"),
                F.col("_metadata.file_name").alias("__dn"),
            )
            seq_map = spark.createDataFrame(
                [
                    (os.path.basename(rel), -1 if s is None else int(s))
                    for rel, s in deletes
                ],
                "__dn string, __del_seq long",
            )
            ddf = d_raw.join(F.broadcast(seq_map), "__dn").drop("__dn")
            total_bytes = sum(
                os.path.getsize(os.path.join(path, rel))
                for rel, _s in deletes
            )
            if total_bytes <= _POS_DELETE_BROADCAST_MAX_BYTES:
                ddf = F.broadcast(ddf)
            dseq = spark.createDataFrame(
                [
                    (os.path.basename(rel), -1 if s is None else int(s))
                    for rel, _rc, _pv, s, _f in live
                ],
                "__file string, __dseq long",
            )
            _dd["ddf"], _dd["dseq"] = ddf, dseq
        return _dd["ddf"], _dd["dseq"]

    def apply_pos_deletes(df):
        """``df`` carries (__file, __pos): drop rows matched by an
        applicable position delete — the spec's merge-on-read rule
        del_seq >= data_seq, absent sequence numbers (-1 sentinel)
        conservatively applying."""
        ddf, dseq = delete_frames()
        df = df.join(F.broadcast(dseq), "__file")
        cond = (
            (F.col("__file") == F.col("__dfile"))
            & (F.col("__pos") == F.col("__dpos"))
            & (
                (F.col("__dseq") < F.lit(0))
                | (F.col("__del_seq") < F.lit(0))
                | (F.col("__del_seq") >= F.col("__dseq"))
            )
        )
        return df.join(ddf, cond, "left_anti").drop("__dseq")

    plain = []
    parts = []
    # O(1) in PLAN SIZE (r14): delete-carrying files group by their
    # equality-delete APPLICABILITY signature (which eq-delete files
    # apply, per the strict data_seq < del_seq rule) — files sharing a
    # signature scan TOGETHER, position deletes applied as ONE anti-join
    # over the whole group. A table with 10k position-deleted files and
    # one sequence generation is one scan node, not 10k union branches.
    sig_groups: dict[tuple, dict] = {}
    fmt_rels: dict[tuple, list] = {}  # (sig, fmt) -> [(rel, seq)]
    for rel, _rc, _pv, seq, fmt in live:
        masked = (
            needs_mask(seq)
            if distributed_deletes
            else bool(_deleted_positions(resolved, rel, seq))
        )
        sig = tuple(
            i
            for i, (del_seq, _c, _t) in enumerate(eq_resolved)
            if seq is None or del_seq is None or seq < del_seq
        )
        if fmt in ("AVRO", "ORC"):
            # r14: pyspark ships no spark-avro connector (and ORC rows
            # need the in-repo assembler) — these files decode
            # DISTRIBUTED through the in-repo readers (one task per
            # file via mapInPandas), carrying (__file, __pos) so the
            # same delete masking applies
            fmt_rels.setdefault((sig, fmt), []).append((rel, seq))
            continue
        if not masked and not sig:
            plain.append(os.path.join(path, rel))
            continue
        g = sig_groups.setdefault(sig, {"pos": [], "flat": []})
        if masked:
            g["pos"].append((os.path.join(path, rel), rel, seq))
        else:
            g["flat"].append(os.path.join(path, rel))
    for (sig, fmt), rels_seqs in sorted(fmt_rels.items()):
        if distributed_deletes or not resolved:
            df = _decoded_files_df(
                spark, path, [rel for rel, _s in rels_seqs], md, fmt
            )
            if distributed_deletes and any(
                needs_mask(s) for _r, s in rels_seqs
            ):
                df = apply_pos_deletes(df)
            df = df.drop("__file", "__pos")
            for idx in sig:
                df = _anti_join_eq(spark, df, eq_resolved[idx])
            parts.append(df)
            continue
        # collision fallback: per-file masking — a grouped basename
        # anti-join would cross-mask same-named files (ADVICE r14)
        for rel, seq in rels_seqs:
            df = _decoded_files_df(spark, path, [rel], md, fmt)
            dels = sorted(_deleted_positions(resolved, rel, seq))
            if dels:
                pos_df = spark.createDataFrame(
                    [(int(p),) for p in dels], "__pos long"
                )
                df = df.join(F.broadcast(pos_df), "__pos", "left_anti")
            df = df.drop("__file", "__pos")
            for idx in sig:
                df = _anti_join_eq(spark, df, eq_resolved[idx])
            parts.append(df)
    def _read_data_parquet(*files):
        # r15 (guide §6): explicit read schema from the table metadata
        # when the CURRENT schema maps unambiguously — skips the
        # mergeSchema footer-inference pass (0.133 -> 0.026 s per read at
        # fixture scale; a footer sweep over every file at warehouse
        # scale). r16: temporal schemas now take this path too — the sink
        # declares spec-correct "timestamptz"/"timestamp", so adjustedness
        # IS reconstructible from the declared type. Files predating an
        # added column return typed nulls natively — identical to the
        # mergeSchema + projection result.
        rs = _parquet_read_schema(md)
        if rs is not None:
            return spark.read.schema(rs).parquet(*files)
        return spark.read.option("mergeSchema", "true").parquet(*files)

    for sig in sorted(sig_groups):
        g = sig_groups[sig]
        dfs = []
        if g["pos"] and distributed_deletes:
            df = _read_data_parquet(
                *sorted(full for full, _rel, _s in g["pos"])
            ).select(
                "*",
                F.col("_metadata.file_name").alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            dfs.append(apply_pos_deletes(df).drop("__file", "__pos"))
        elif g["pos"]:
            # basename collision: exact per-file masking from the
            # driver-resolved positions
            for full, rel, seq in g["pos"]:
                positions = sorted(_deleted_positions(resolved, rel, seq))
                df = _read_data_parquet(full).select(
                    "*", F.col("_metadata.row_index").alias("__pos")
                )
                pos_df = spark.createDataFrame(
                    [(int(p),) for p in positions], "__pos long"
                )
                dfs.append(
                    df.join(
                        F.broadcast(pos_df), "__pos", "left_anti"
                    ).drop("__pos")
                )
        if g["flat"]:
            dfs.append(_read_data_parquet(*sorted(g["flat"])))
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d, allowMissingColumns=True)
        for idx in sig:
            df = _anti_join_eq(spark, df, eq_resolved[idx])
        parts.append(df)
    if plain:
        parts.append(_read_data_parquet(*plain))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # project to the CURRENT schema (r14 — schema evolution): files
    # written before an added column read as typed nulls, column order
    # follows the table schema. Tables with non-primitive types keep
    # the raw shape (projection is a convenience, never a gate).
    sid_ = md.get("current-schema-id", 0)
    schema = next(
        (sch for sch in md.get("schemas", [])
         if sch.get("schema-id", 0) == sid_),
        None,
    )
    if schema and all(
        isinstance(f.get("type"), str) and f["type"] in _ICE_TO_SPARK
        for f in schema.get("fields", [])
    ):
        sel = []
        for f in schema["fields"]:
            if f["name"] in out.columns:
                sel.append(F.col(f["name"]))
            else:
                sel.append(
                    F.lit(None)
                    .cast(_ICE_TO_SPARK[f["type"]])
                    .alias(f["name"])
                )
        out = out.select(*sel)
    return out



# ------------------------------------------------------------- fixture

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _avro_ocf(schema: dict, encoded: list[bytes], sync_seed: int) -> bytes:
    """Minimal spec-true Avro OCF wrapper around pre-encoded records
    (codec null, one block) — the manifest writer side of the fixture,
    mirroring ``avro.synth_avro``'s hand encoding."""
    from .avro import _MAGIC, _zz

    sync = bytes((sync_seed * 11 + i) % 256 for i in range(16))
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": b"null",
    }
    out = bytearray(_MAGIC)
    out += _zz(len(meta))
    for k, v in meta.items():
        out += _zz(len(k)) + k.encode() + _zz(len(v)) + v
    out += _zz(0)
    out += sync
    body = b"".join(encoded)
    out += _zz(len(encoded)) + _zz(len(body)) + body + sync
    return bytes(out)


def _enc_str(s: str) -> bytes:
    from .avro import _zz

    b = s.encode()
    return _zz(len(b)) + b


def synth_iceberg_table(seed: int) -> bytes:
    """Deterministic Iceberg v2 table fixture shipped as one ZIP:
    pyarrow parquet data files (file j: n = (seed+j)%20+5 rows of
    k = seed + 100j + i — the same arithmetic as the Delta fixture so
    the two formats' oracles stay comparable), hand-encoded Avro
    manifests/manifest lists, and TWO snapshots in v2.metadata.json:

    - snapshot seed*10+1: one manifest adding files 0 and 1;
    - snapshot seed*10+2 (current): manifest A carries file 0 EXISTING
      and file 1 DELETED, manifest B adds file 2 (and file 3 for even
      seeds) — exercising status filtering and multi-manifest lists.

    A superseded v1.metadata.json (only snapshot 1) is included so the
    reader proves it picks the LATEST metadata version."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(4):
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {"k": pa.array([seed + 100 * j + i for i in range(n_of(j))],
                               pa.int64())}
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.parquet"

    def m_entry(status: int, snap_id: int, j: int) -> bytes:
        return (
            _zz(status)
            + _zz(snap_id)
            + _zz(0)  # data_file.content
            + _enc_str(f"{loc}/{data_path(j)}")
            + _enc_str("PARQUET")
            + _zz(n_of(j))
            + _zz(len(files[j]))
        )

    s1, s2 = seed * 10 + 1, seed * 10 + 2
    man1 = _avro_ocf(
        _MANIFEST_SCHEMA, [m_entry(1, s1, 0), m_entry(1, s1, 1)], seed
    )
    man2a = _avro_ocf(
        _MANIFEST_SCHEMA, [m_entry(0, s1, 0), m_entry(2, s2, 1)], seed + 1
    )
    added = [m_entry(1, s2, 2)]
    if seed % 2 == 0:
        added.append(m_entry(1, s2, 3))
    man2b = _avro_ocf(_MANIFEST_SCHEMA, added, seed + 2)

    def ml_entry(path: str, blob: bytes, snap_id: int) -> bytes:
        return (
            _enc_str(f"{loc}/{path}")
            + _zz(len(blob))
            + _zz(0)  # partition_spec_id
            + _zz(0)  # content: data
            + _zz(snap_id)
        )

    ml1_rel = f"metadata/snap-{s1}.avro"
    ml2_rel = f"metadata/snap-{s2}.avro"
    m1_rel = "metadata/m-001.avro"
    m2a_rel = "metadata/m-002.avro"
    m2b_rel = "metadata/m-003.avro"
    ml1 = _avro_ocf(
        _MANIFEST_LIST_SCHEMA, [ml_entry(m1_rel, man1, s1)], seed + 3
    )
    ml2 = _avro_ocf(
        _MANIFEST_LIST_SCHEMA,
        [ml_entry(m2a_rel, man2a, s2), ml_entry(m2b_rel, man2b, s2)],
        seed + 4,
    )
    schema_doc = {
        "type": "struct",
        "schema-id": 0,
        "fields": [{"id": 1, "name": "k", "required": False, "type": "long"}],
    }
    snap1 = {
        "snapshot-id": s1,
        "sequence-number": 1,
        "timestamp-ms": 0,
        "manifest-list": f"{loc}/{ml1_rel}",
        "summary": {"operation": "append"},
    }
    snap2 = {
        "snapshot-id": s2,
        "sequence-number": 2,
        "timestamp-ms": 1,
        "manifest-list": f"{loc}/{ml2_rel}",
        "summary": {"operation": "overwrite"},
    }
    meta_v2 = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0000-{seed:012d}",
        "location": loc,
        "last-sequence-number": 2,
        "schemas": [schema_doc],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": s2,
        "snapshots": [snap1, snap2],
    }
    meta_v1 = {**meta_v2, "last-sequence-number": 1,
               "current-snapshot-id": s1, "snapshots": [snap1]}
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta_v1))
        z.writestr("metadata/v2.metadata.json", json.dumps(meta_v2))
        z.writestr("metadata/version-hint.text", "2")
        z.writestr(ml1_rel, ml1)
        z.writestr(ml2_rel, ml2)
        z.writestr(m1_rel, man1)
        z.writestr(m2a_rel, man2a)
        z.writestr(m2b_rel, man2b)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
    return buf.getvalue()


ICEBERG_AUDIT_SCHEMA = (
    "media_id long, snapshot_ord int, n_manifests int, n_files int, "
    "n_rows long, int_sum long"
)


def iceberg_snapshot_stats(media: DataFrame) -> DataFrame:
    """Two audit rows per table payload: the FIRST snapshot (time
    travel via its own manifest list) and the CURRENT one (multi-
    manifest list with existing/deleted status filtering). Per-row
    Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                seed = int(mid)
                first = read_iceberg_snapshot(bytes(p), seed * 10 + 1)
                cur = read_iceberg_snapshot(bytes(p))
                for ordinal, snap in ((1, first), (2, cur)):
                    rows.append(
                        (mid, ordinal, snap["n_manifests"], snap["n_files"],
                         snap["n_rows"], snap["int_sum"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "snapshot_ord", "n_manifests",
                         "n_files", "n_rows", "int_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_AUDIT_SCHEMA
    )


def _partitioned_manifest_schema() -> dict:
    """Manifest schema whose data_file carries an identity partition
    record {p: string} — the spec's r102 partition struct."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [{"name": "p", "type": "string"}],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }


def synth_iceberg_partitioned(seed: int) -> bytes:
    """Partitioned Iceberg v2 table fixture shipped as one ZIP: six
    pyarrow data files across identity partitions p=p0/p1/p2 (file j in
    partition p{j%3}; the partition column is STORED in the data files,
    as identity partitioning requires), manifests carrying the
    partition struct per entry, one snapshot. Same row arithmetic as
    the Delta partitioned fixture."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(6):
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(
                        [seed + 100 * j + i for i in range(n_of(j))], pa.int64()
                    ),
                    "p": pa.array([f"p{j % 3}"] * n_of(j)),
                }
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/p={j % 3}/part-{j:05d}.parquet"

    sid = seed * 10 + 1

    def m_entry(j: int) -> bytes:
        return (
            _zz(1)  # status: added
            + _zz(sid)
            + _zz(0)  # data_file.content
            + _enc_str(f"{loc}/{data_path(j)}")
            + _enc_str("PARQUET")
            + _enc_str(f"p{j % 3}")  # partition record: one string field
            + _zz(n_of(j))
            + _zz(len(files[j]))
        )

    man = _avro_ocf(
        _partitioned_manifest_schema(), [m_entry(j) for j in range(6)], seed
    )
    m_rel = "metadata/m-001.avro"
    ml_rel = f"metadata/snap-{sid}.avro"

    def ml_entry() -> bytes:
        return (
            _enc_str(f"{loc}/{m_rel}") + _zz(len(man)) + _zz(0) + _zz(0) + _zz(sid)
        )

    ml = _avro_ocf(_MANIFEST_LIST_SCHEMA, [ml_entry()], seed + 3)
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0001-{seed:012d}",
        "location": loc,
        "last-sequence-number": 1,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "p", "required": False, "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "p", "transform": "identity",
                     "source-id": 2, "field-id": 1000}
                ],
            }
        ],
        "default-spec-id": 0,
        "current-snapshot-id": sid,
        "snapshots": [
            {
                "snapshot-id": sid,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "manifest-list": f"{loc}/{ml_rel}",
                "summary": {"operation": "append"},
            }
        ],
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        z.writestr(ml_rel, ml)
        z.writestr(m_rel, man)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
    return buf.getvalue()


ICEBERG_PART_SCHEMA = (
    "media_id long, scope string, n_files int, n_rows long, "
    "int_sum long, n_partitions int"
)


def iceberg_partition_stats(media: DataFrame) -> DataFrame:
    """Two audit rows per partitioned table payload: the full snapshot
    and a manifest-level PARTITION-PRUNED read ({"p": "p0"}) — pruning
    happens from the manifests' partition structs alone, before any
    data decode. Per-row Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                full = read_iceberg_snapshot(bytes(p))
                p0 = read_iceberg_snapshot(
                    bytes(p), partition_filter={"p": "p0"}
                )
                for scope, snap in (("all", full), ("p0", p0)):
                    rows.append(
                        (mid, scope, snap["n_files"], snap["n_rows"],
                         snap["int_sum"], snap["n_partitions"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "scope", "n_files", "n_rows",
                         "int_sum", "n_partitions"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_PART_SCHEMA
    )


_MANIFEST_LIST_SEQ_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def synth_iceberg_deletes(seed: int) -> bytes:
    """Iceberg v2 MERGE-ON-READ fixture shipped as one ZIP (r13 —
    VERDICT r12 #2): three snapshots with real sequence numbers in the
    manifest list —

    - snap 1 (seq 1): data manifest adds files 0 and 1;
    - snap 2 (seq 2): + a DELETE manifest (content=1) whose POSITION-
      delete parquet file (pyarrow-written ``(file_path, pos)`` rows)
      deletes every i%3==0 row of file 0, every i%4==1 row of file 1,
      AND rows of file 2's path — which does not exist yet;
    - snap 3 (seq 3): + data manifest adding file 2. Its data sequence
      number (3) EXCEEDS the delete's (2), so per the spec's
      merge-on-read rule the delete must NOT apply to it — the fixture
      that catches a reader which unions deletes by path alone."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(3):
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {"k": pa.array([seed + 100 * j + i for i in range(n_of(j))],
                               pa.int64())}
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.parquet"

    # the position-delete parquet: full-URI file paths, sorted
    del_rows = []
    for i in range(n_of(0)):
        if i % 3 == 0:
            del_rows.append((f"{loc}/{data_path(0)}", i))
    for i in range(n_of(1)):
        if i % 4 == 1:
            del_rows.append((f"{loc}/{data_path(1)}", i))
    for i in range(min(3, n_of(2))):
        del_rows.append((f"{loc}/{data_path(2)}", i))  # must NOT apply
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in del_rows]),
                "pos": pa.array([r[1] for r in del_rows], pa.int64()),
            }
        ),
        buf,
        compression="snappy",
    )
    del_file = buf.getvalue()
    del_path = "data/delete-00000.parquet"

    def m_entry(status: int, snap_id: int, j: int, content: int = 0,
                path: str | None = None, blob: bytes | None = None,
                rc: int | None = None) -> bytes:
        blob = files[j] if blob is None else blob
        return (
            _zz(status)
            + _zz(snap_id)
            + _zz(content)
            + _enc_str(f"{loc}/{path or data_path(j)}")
            + _enc_str("PARQUET")
            + _zz(n_of(j) if rc is None else rc)
            + _zz(len(blob))
        )

    s1, s2, s3 = seed * 10 + 1, seed * 10 + 2, seed * 10 + 3
    man1 = _avro_ocf(
        _MANIFEST_SCHEMA, [m_entry(1, s1, 0), m_entry(1, s1, 1)], seed
    )
    man_del = _avro_ocf(
        _MANIFEST_SCHEMA,
        [m_entry(1, s2, 0, content=1, path=del_path, blob=del_file,
                 rc=len(del_rows))],
        seed + 1,
    )
    man2 = _avro_ocf(_MANIFEST_SCHEMA, [m_entry(1, s3, 2)], seed + 2)
    m1_rel, md_rel, m2_rel = (
        "metadata/m-001.avro", "metadata/m-del.avro", "metadata/m-002.avro"
    )

    def ml_entry(path, blob, content, seq, snap_id):
        return (
            _enc_str(f"{loc}/{path}")
            + _zz(len(blob))
            + _zz(0)
            + _zz(content)
            + _zz(seq)
            + _zz(snap_id)
        )

    e1 = ml_entry(m1_rel, man1, 0, 1, s1)
    ed = ml_entry(md_rel, man_del, 1, 2, s2)
    e2 = ml_entry(m2_rel, man2, 0, 3, s3)
    ml1_rel, ml2_rel, ml3_rel = (
        f"metadata/snap-{s1}.avro",
        f"metadata/snap-{s2}.avro",
        f"metadata/snap-{s3}.avro",
    )
    ml1 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1], seed + 3)
    ml2 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1, ed], seed + 4)
    ml3 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1, ed, e2], seed + 5)
    snaps = [
        {"snapshot-id": s, "sequence-number": q, "timestamp-ms": q,
         "manifest-list": f"{loc}/{ml}", "summary": {"operation": op}}
        for s, q, ml, op in (
            (s1, 1, ml1_rel, "append"),
            (s2, 2, ml2_rel, "delete"),
            (s3, 3, ml3_rel, "append"),
        )
    ]
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0003-{seed:012d}",
        "location": loc,
        "last-sequence-number": 3,
        "schemas": [
            {"type": "struct", "schema-id": 0,
             "fields": [{"id": 1, "name": "k", "required": False,
                         "type": "long"}]}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": s3,
        "snapshots": snaps,
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        for rel, blob in (
            (ml1_rel, ml1), (ml2_rel, ml2), (ml3_rel, ml3),
            (m1_rel, man1), (md_rel, man_del), (m2_rel, man2),
        ):
            z.writestr(rel, blob)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
        z.writestr(del_path, del_file)
    return buf.getvalue()


_EQ_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": {"type": "array", "items": "int"},
                    },
                ],
            },
        },
    ],
}


def synth_iceberg_eqdeletes(seed: int, with_nulls: bool = False) -> bytes:
    """Iceberg v2 EQUALITY-delete fixture shipped as one ZIP (r13): the
    upsert shape streaming writers produce — snap 2's commit carries an
    EQUALITY delete (content=2 data_file, ``equality_ids`` naming
    column c, the delete parquet holding values {1, 3}) AND a new data
    file at the SAME sequence number. Per the spec's STRICT rule an
    equality delete applies only to data files with data_seq < its own,
    so files 0/1 (seq 1) lose their c-in-{1,3} rows while file 2
    (seq 2, the replacement rows) survives untouched — the fixture that
    catches a reader applying equality deletes to their own commit."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(3):
        n = n_of(j)
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(
                        [seed + 100 * j + i for i in range(n)], pa.int64()
                    ),
                    # with_nulls: every i%5==4 row carries NULL in the
                    # equality column, and the delete file lists NULL —
                    # per the spec null==null MATCHES for equality
                    # deletes, the case a plain-equality join misses
                    "c": pa.array(
                        [
                            None if with_nulls and i % 5 == 4 else i % 5
                            for i in range(n)
                        ],
                        pa.int64(),
                    ),
                }
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.parquet"

    buf = io.BytesIO()
    del_vals = [1, 3, None] if with_nulls else [1, 3]
    pq.write_table(
        pa.table({"c": pa.array(del_vals, pa.int64())}), buf,
        compression="snappy",
    )
    del_file = buf.getvalue()
    del_path = "data/eq-delete-00000.parquet"

    def m_entry(snap_id: int, j: int) -> bytes:
        return (
            _zz(1)
            + _zz(snap_id)
            + _zz(0)
            + _enc_str(f"{loc}/{data_path(j)}")
            + _enc_str("PARQUET")
            + _zz(n_of(j))
            + _zz(len(files[j]))
        )

    s1, s2 = seed * 10 + 1, seed * 10 + 2
    man1 = _avro_ocf(_MANIFEST_SCHEMA, [m_entry(s1, 0), m_entry(s1, 1)], seed)
    eq_entry = (
        _zz(1)
        + _zz(s2)
        + _zz(2)  # content: EQUALITY_DELETES
        + _enc_str(f"{loc}/{del_path}")
        + _enc_str("PARQUET")
        + _zz(len(del_vals))
        + _zz(len(del_file))
        + _zz(1) + _zz(2) + _zz(0)  # equality_ids: [2] (column c)
    )
    man_del = _avro_ocf(_EQ_MANIFEST_SCHEMA, [eq_entry], seed + 1)
    man2 = _avro_ocf(_MANIFEST_SCHEMA, [m_entry(s2, 2)], seed + 2)
    m1_rel, md_rel, m2_rel = (
        "metadata/m-001.avro", "metadata/m-eqdel.avro", "metadata/m-002.avro"
    )

    def ml_entry(path, blob, content, seq, snap_id):
        return (
            _enc_str(f"{loc}/{path}")
            + _zz(len(blob))
            + _zz(0)
            + _zz(content)
            + _zz(seq)
            + _zz(snap_id)
        )

    e1 = ml_entry(m1_rel, man1, 0, 1, s1)
    ed = ml_entry(md_rel, man_del, 1, 2, s2)
    e2 = ml_entry(m2_rel, man2, 0, 2, s2)
    ml1_rel = f"metadata/snap-{s1}.avro"
    ml2_rel = f"metadata/snap-{s2}.avro"
    ml1 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1], seed + 3)
    ml2 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1, ed, e2], seed + 4)
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0006-{seed:012d}",
        "location": loc,
        "last-sequence-number": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "c", "required": False, "type": "long"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": s2,
        "snapshots": [
            {"snapshot-id": s1, "sequence-number": 1, "timestamp-ms": 0,
             "manifest-list": f"{loc}/{ml1_rel}",
             "summary": {"operation": "append"}},
            {"snapshot-id": s2, "sequence-number": 2, "timestamp-ms": 1,
             "manifest-list": f"{loc}/{ml2_rel}",
             "summary": {"operation": "overwrite"}},
        ],
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        for rel, blob in (
            (ml1_rel, ml1), (ml2_rel, ml2),
            (m1_rel, man1), (md_rel, man_del), (m2_rel, man2),
        ):
            z.writestr(rel, blob)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
        z.writestr(del_path, del_file)
    return buf.getvalue()


_BOUNDS_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "lower_bounds",
                        "type": {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "k126",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "bytes"},
                                ],
                            },
                        },
                    },
                    {
                        "name": "upper_bounds",
                        "type": {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "k128",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "bytes"},
                                ],
                            },
                        },
                    },
                ],
            },
        },
    ],
}


def synth_iceberg_stats(seed: int) -> bytes:
    """Iceberg v2 fixture with per-file COLUMN BOUNDS in the manifest
    (r13 — VERDICT r12 #4): four data files whose ``lower_bounds`` /
    ``upper_bounds`` maps (field-id -> 8-byte little-endian single-value
    serialization, the spec's key-value array layout) carry each file's
    true k range — what ``stats_filter`` prunes with, parity with the
    Delta side's AddFile min/max skipping."""
    import io
    import struct
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(4):
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {"k": pa.array([seed + 100 * j + i for i in range(n_of(j))],
                               pa.int64())}
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.parquet"

    sid = seed * 10 + 1

    def bounds(v: int) -> bytes:
        # one-entry key-value array: field id 1 -> 8-byte LE long
        return _zz(1) + _zz(1) + _zz(8) + struct.pack("<q", v) + _zz(0)

    def m_entry(j: int) -> bytes:
        lo = seed + 100 * j
        hi = seed + 100 * j + n_of(j) - 1
        return (
            _zz(1)
            + _zz(sid)
            + _zz(0)
            + _enc_str(f"{loc}/{data_path(j)}")
            + _enc_str("PARQUET")
            + _zz(n_of(j))
            + _zz(len(files[j]))
            + bounds(lo)
            + bounds(hi)
        )

    man = _avro_ocf(
        _BOUNDS_MANIFEST_SCHEMA, [m_entry(j) for j in range(4)], seed
    )
    m_rel = "metadata/m-001.avro"
    ml_rel = f"metadata/snap-{sid}.avro"
    ml = _avro_ocf(
        _MANIFEST_LIST_SCHEMA,
        [_enc_str(f"{loc}/{m_rel}") + _zz(len(man)) + _zz(0) + _zz(0) + _zz(sid)],
        seed + 3,
    )
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0004-{seed:012d}",
        "location": loc,
        "last-sequence-number": 1,
        "schemas": [
            {"type": "struct", "schema-id": 0,
             "fields": [{"id": 1, "name": "k", "required": False,
                         "type": "long"}]}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": sid,
        "snapshots": [
            {"snapshot-id": sid, "sequence-number": 1, "timestamp-ms": 0,
             "manifest-list": f"{loc}/{ml_rel}",
             "summary": {"operation": "append"}}
        ],
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        z.writestr(ml_rel, ml)
        z.writestr(m_rel, man)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
    return buf.getvalue()


# transforms fixture constants: the bucket/truncate/day survivor sets
# are FIXED (independent of seed) so the DuckDB oracle can reproduce
# pruning with closed-form arithmetic — murmur3 does not exist in SQL
_TR_B = (0, 3, 4, 6, 10, 5)  # bucket[4] -> (0, 3, 2, 1, 0, 3)
_TR_T = ("aax", "aby", "abz", "baq", "bar", "aas")  # truncate[2]
_TR_DAY0 = 17486  # 2017-11-16; files 0-2 on day0, 3-5 on day0+1


def _tr_partition(j: int) -> tuple[int, str, int]:
    return (
        iceberg_bucket(_TR_B[j], 4, "long"),
        _TR_T[j][:2],
        _TR_DAY0 + j // 3,
    )


def _tr_ts(j: int, with_hour: bool) -> int:
    """File j's constant ts value (micros). With hour partitions, files
    within one day land in DIFFERENT hours (j%3), so hour pruning
    discriminates beyond day pruning."""
    base = (_TR_DAY0 + j // 3) * _MICROS_PER_DAY + 123
    return base + (j % 3) * _MICROS_PER_HOUR if with_hour else base


def synth_iceberg_transforms(seed: int, with_hour: bool = False) -> bytes:
    """Iceberg v2 fixture with NON-IDENTITY partition transforms (r13 —
    VERDICT r12 #5): six data files partitioned by
    ``bucket[4](b)`` (the spec's 32-bit murmur3), ``truncate[2](t)``
    and ``day(ts)``; the manifest partition structs carry the
    TRANSFORMED values, the data files carry the source columns. The
    b/t/ts values per file are fixed constants (row counts/sums still
    seed-driven) so pruning outcomes are closed-form for the oracle."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    files = {}
    for j in range(6):
        n = n_of(j)
        ts = _tr_ts(j, with_hour)
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(
                        [seed + 100 * j + i for i in range(n)], pa.int64()
                    ),
                    "b": pa.array([_TR_B[j]] * n, pa.int64()),
                    "t": pa.array([_TR_T[j]] * n),
                    "ts": pa.array([ts] * n, pa.int64()),
                }
            ),
            buf,
            compression="snappy",
        )
        files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.parquet"

    part_schema = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": "b_bucket", "type": "int"},
            {"name": "t_trunc", "type": "string"},
            {"name": "d_day", "type": "int"},
        ],
    }
    if with_hour:
        part_schema["fields"].append({"name": "h_hour", "type": "int"})
    manifest_schema = json.loads(json.dumps(_MANIFEST_SCHEMA))
    df_fields = manifest_schema["fields"][2]["type"]["fields"]
    df_fields.insert(3, {"name": "partition", "type": part_schema})

    sid = seed * 10 + 1

    def m_entry(j: int) -> bytes:
        bb, tt, dd = _tr_partition(j)
        hh = b""
        if with_hour:
            hh = _zz(_tr_ts(j, True) // _MICROS_PER_HOUR)
        return (
            _zz(1)
            + _zz(sid)
            + _zz(0)
            + _enc_str(f"{loc}/{data_path(j)}")
            + _enc_str("PARQUET")
            + _zz(bb)
            + _enc_str(tt)
            + _zz(dd)
            + hh
            + _zz(n_of(j))
            + _zz(len(files[j]))
        )

    man = _avro_ocf(manifest_schema, [m_entry(j) for j in range(6)], seed)
    m_rel = "metadata/m-001.avro"
    ml_rel = f"metadata/snap-{sid}.avro"
    ml = _avro_ocf(
        _MANIFEST_LIST_SCHEMA,
        [_enc_str(f"{loc}/{m_rel}") + _zz(len(man)) + _zz(0) + _zz(0) + _zz(sid)],
        seed + 3,
    )
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-0005-{seed:012d}",
        "location": loc,
        "last-sequence-number": 1,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "b", "required": False, "type": "long"},
                    {"id": 3, "name": "t", "required": False, "type": "string"},
                    {"id": 4, "name": "ts", "required": False,
                     "type": "timestamp"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "b_bucket", "transform": "bucket[4]",
                     "source-id": 2, "field-id": 1000},
                    {"name": "t_trunc", "transform": "truncate[2]",
                     "source-id": 3, "field-id": 1001},
                    {"name": "d_day", "transform": "day",
                     "source-id": 4, "field-id": 1002},
                ]
                + (
                    [
                        {"name": "h_hour", "transform": "hour",
                         "source-id": 4, "field-id": 1003}
                    ]
                    if with_hour
                    else []
                ),
            }
        ],
        "default-spec-id": 0,
        "current-snapshot-id": sid,
        "snapshots": [
            {"snapshot-id": sid, "sequence-number": 1, "timestamp-ms": 0,
             "manifest-list": f"{loc}/{ml_rel}",
             "summary": {"operation": "append"}}
        ],
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        z.writestr(ml_rel, ml)
        z.writestr(m_rel, man)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
    return buf.getvalue()


def synth_iceberg_avrodata(seed: int, fmt: str = "AVRO") -> bytes:
    """Iceberg v2 fixture whose DATA FILES are Avro OCF — or ORC with
    ``fmt="ORC"`` (r14 — the formats the spec allows beside parquet and
    real tables mix in): snap 1 adds files 0/1 (k = seed+100j+i;
    hand-encoded long records for Avro, pyarrow-written for ORC — the
    reference C++ writer anchoring the in-repo record assembler),
    snap 2 adds file 2 AND a position-delete PARQUET masking every
    i%3==0 row of file 0 — proving non-parquet data composes with the
    merge-on-read machinery. Row counts/sums are the same seed
    arithmetic as the parquet fixtures."""
    import io
    import zipfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import _zz

    seed = int(seed)
    if fmt not in ("AVRO", "ORC"):
        raise ValueError(f"fmt {fmt!r}")
    loc = "warehouse/t"

    def n_of(j):
        return (seed + j) % 20 + 5

    if fmt == "AVRO":
        row_schema = {
            "type": "record",
            "name": "row",
            "fields": [{"name": "k", "type": "long"}],
        }
        files = {
            j: _avro_ocf(
                row_schema,
                [_zz(seed + 100 * j + i) for i in range(n_of(j))],
                seed + 20 + j,
            )
            for j in range(3)
        }
    else:
        import pyarrow.orc as _orc

        files = {}
        for j in range(3):
            buf = io.BytesIO()
            _orc.write_table(
                pa.table(
                    {
                        "k": pa.array(
                            [seed + 100 * j + i for i in range(n_of(j))],
                            pa.int64(),
                        )
                    }
                ),
                buf,
            )
            files[j] = buf.getvalue()

    def data_path(j):
        return f"data/part-{j:05d}.{fmt.lower()}"

    del_rows = [
        (f"{loc}/{data_path(0)}", i) for i in range(n_of(0)) if i % 3 == 0
    ]
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in del_rows]),
                "pos": pa.array([r[1] for r in del_rows], pa.int64()),
            }
        ),
        buf,
        compression="snappy",
    )
    del_file = buf.getvalue()
    del_path = "data/delete-00000.parquet"

    def m_entry(snap_id, j=None, content=0, path=None, blob=None, rc=None,
                file_fmt=None):
        blob = files[j] if blob is None else blob
        return (
            _zz(1)
            + _zz(snap_id)
            + _zz(content)
            + _enc_str(f"{loc}/{path or data_path(j)}")
            + _enc_str(file_fmt or fmt)
            + _zz(n_of(j) if rc is None else rc)
            + _zz(len(blob))
        )

    s1, s2 = seed * 10 + 1, seed * 10 + 2
    man1 = _avro_ocf(
        _MANIFEST_SCHEMA, [m_entry(s1, 0), m_entry(s1, 1)], seed
    )
    man2 = _avro_ocf(_MANIFEST_SCHEMA, [m_entry(s2, 2)], seed + 2)
    man_del = _avro_ocf(
        _MANIFEST_SCHEMA,
        [m_entry(s2, 0, content=1, path=del_path, blob=del_file,
                 rc=len(del_rows), file_fmt="PARQUET")],
        seed + 1,
    )
    m1_rel, m2_rel, md_rel = (
        "metadata/m-001.avro", "metadata/m-002.avro", "metadata/m-del.avro"
    )

    def ml_entry(path, blob, content, seq, snap_id):
        return (
            _enc_str(f"{loc}/{path}")
            + _zz(len(blob))
            + _zz(0)
            + _zz(content)
            + _zz(seq)
            + _zz(snap_id)
        )

    e1 = ml_entry(m1_rel, man1, 0, 1, s1)
    e2 = ml_entry(m2_rel, man2, 0, 2, s2)
    ed = ml_entry(md_rel, man_del, 1, 2, s2)
    ml1_rel = f"metadata/snap-{s1}.avro"
    ml2_rel = f"metadata/snap-{s2}.avro"
    ml1 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1], seed + 3)
    ml2 = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, [e1, ed, e2], seed + 4)
    meta = {
        "format-version": 2,
        "table-uuid": f"00000000-0000-0000-000{7 if fmt == 'AVRO' else 8}-{seed:012d}",
        "location": loc,
        "last-sequence-number": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"}
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": s2,
        "snapshots": [
            {"snapshot-id": s1, "sequence-number": 1, "timestamp-ms": 0,
             "manifest-list": f"{loc}/{ml1_rel}",
             "summary": {"operation": "append"}},
            {"snapshot-id": s2, "sequence-number": 2, "timestamp-ms": 1,
             "manifest-list": f"{loc}/{ml2_rel}",
             "summary": {"operation": "overwrite"}},
        ],
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("metadata/v1.metadata.json", json.dumps(meta))
        for rel, blob in (
            (ml1_rel, ml1), (ml2_rel, ml2),
            (m1_rel, man1), (m2_rel, man2), (md_rel, man_del),
        ):
            z.writestr(rel, blob)
        for j, blob in files.items():
            z.writestr(data_path(j), blob)
        z.writestr(del_path, del_file)
    return buf.getvalue()


def iceberg_delete_stats(media: DataFrame) -> DataFrame:
    """Three audit rows per merge-on-read table payload — snapshots 1
    (pre-delete), 2 (position deletes mask files 0/1) and 3 (file 2
    added AFTER the delete's sequence number: its rows must survive
    untouched). Per-row Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                seed = int(mid)
                for ordinal in (1, 2, 3):
                    snap = read_iceberg_snapshot(bytes(p), seed * 10 + ordinal)
                    rows.append(
                        (mid, ordinal, snap["n_manifests"], snap["n_files"],
                         snap["n_rows"], snap["int_sum"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "snapshot_ord", "n_manifests",
                         "n_files", "n_rows", "int_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_AUDIT_SCHEMA
    )


def iceberg_avrodata_stats(media: DataFrame) -> DataFrame:
    """Two audit rows per Avro-data-file table payload — snapshot 1
    (two Avro files, no deletes) and snapshot 2 (+Avro file 2, a
    position-delete PARQUET masking file 0's i%3==0 rows): mixed
    formats composing through the merge-on-read machinery (r14).
    Per-row Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                seed = int(mid)
                for ordinal in (1, 2):
                    snap = read_iceberg_snapshot(bytes(p), seed * 10 + ordinal)
                    rows.append(
                        (mid, ordinal, snap["n_manifests"], snap["n_files"],
                         snap["n_rows"], snap["int_sum"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "snapshot_ord", "n_manifests",
                         "n_files", "n_rows", "int_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_AUDIT_SCHEMA
    )


def iceberg_eqdelete_stats(media: DataFrame) -> DataFrame:
    """Two audit rows per equality-delete table payload — snapshot 1
    (pre-delete) and snapshot 2, where files 0/1 lose their matching
    rows while the SAME-sequence replacement file survives (the strict
    rule). Per-row Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                seed = int(mid)
                for ordinal in (1, 2):
                    snap = read_iceberg_snapshot(bytes(p), seed * 10 + ordinal)
                    rows.append(
                        (mid, ordinal, snap["n_manifests"], snap["n_files"],
                         snap["n_rows"], snap["int_sum"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "snapshot_ord", "n_manifests",
                         "n_files", "n_rows", "int_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_AUDIT_SCHEMA
    )


def iceberg_stats_prune_stats(media: DataFrame) -> DataFrame:
    """Two audit rows per bounds-carrying table payload: the full
    snapshot and a ``stats_filter`` read whose bound only file 3 can
    intersect — manifest-level data skipping from column bounds, before
    any data decode. Per-row Arrow work, linear by construction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                seed = int(mid)
                full = read_iceberg_snapshot(bytes(p))
                hi = read_iceberg_snapshot(
                    bytes(p), stats_filter={"k": (seed + 300, None)}
                )
                for scope, snap in (("all", full), ("hi", hi)):
                    rows.append(
                        (mid, scope, snap["n_files"], snap["n_rows"],
                         snap["int_sum"], snap["n_partitions"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "scope", "n_files", "n_rows",
                         "int_sum", "n_partitions"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_PART_SCHEMA
    )


def iceberg_transform_stats(media: DataFrame) -> DataFrame:
    """Five audit rows per transform-partitioned table payload: full
    snapshot, ``bucket[4]`` pruning by source value b=0 (files 0/4),
    ``truncate[2]`` pruning by t='abQ' (files 1/2), a combined
    bucket+truncate filter (file 0 only) and ``day`` pruning by a
    timestamp inside day0 (files 0-2) — every filter speaks SOURCE
    values, the reader applies the spec's transforms before comparing
    partition structs. Per-row Arrow work, linear by construction."""

    day0_ts = _TR_DAY0 * _MICROS_PER_DAY + 999

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                scopes = (
                    ("all", None),
                    ("b0", {"b_bucket": 0}),
                    ("t_ab", {"t_trunc": "abQ"}),
                    ("b0_aa", {"b_bucket": 0, "t_trunc": "aaZ"}),
                    ("day0", {"d_day": day0_ts}),
                )
                for scope, pf in scopes:
                    snap = read_iceberg_snapshot(
                        bytes(p), partition_filter=pf
                    )
                    rows.append(
                        (mid, scope, snap["n_files"], snap["n_rows"],
                         snap["int_sum"], snap["n_partitions"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "scope", "n_files", "n_rows",
                         "int_sum", "n_partitions"],
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=ICEBERG_PART_SCHEMA
    )


def _ml_entry(e: dict) -> bytes:
    """One manifest-list record (the sequence-number schema) from a parsed
    or new entry; absent spec ids and sequence numbers encode as 0."""
    from .avro import _zz

    return (
        _enc_str(e["manifest_path"])
        + _zz(e["manifest_length"])
        + _zz(e.get("partition_spec_id", 0))
        + _zz(e["content"])
        + _zz(e.get("sequence_number", 0))
        + _zz(e["added_snapshot_id"])
    )


def _enc_bounds(pairs: list) -> bytes:
    """A manifest's lower/upper bounds map: [(field id, bytes)] as an Avro
    array of key/value records."""
    from .avro import _zz

    if not pairs:
        return _zz(0)
    out = _zz(len(pairs))
    for k, v in pairs:
        out += _zz(k) + _zz(len(v)) + v
    return out + _zz(0)


def _bound_pairs(kvs) -> list:
    """Parsed bounds records -> [(field id, bytes)]."""
    return [
        (kv["key"], kv["value"].encode() if isinstance(kv["value"], str)
         else kv["value"])
        for kv in kvs or []
    ]


class IcebergAppendSink:
    """Append-only Iceberg v2 table writer for ``foreachBatch`` — the
    WRITE side of ``read_iceberg_snapshot``/``iceberg_scan`` and the
    open-format sibling of ``streaming/delta.DeltaAppendSink``.

    Iceberg's commit primitive is the atomic swap of the CURRENT
    metadata pointer: each micro-batch writes its parquet data file, a
    manifest, a manifest list, and a new ``v{N+1}.metadata.json`` whose
    snapshot log appends one snapshot — then claims the version by
    linking the fully-written metadata file into place (putIfAbsent; a
    lost race re-reads the head and retries). ``version-hint.text``
    advances monotonically after every published metadata version (it
    is only a pointer — readers fall back to latest-metadata-wins when
    it lags).

    Exactly-once under at-least-once replay: every snapshot's summary
    carries the producing ``batch-id``; a replayed batch whose id
    already appears in the snapshot log is skipped before any write
    (Iceberg's real streaming sinks dedupe the same way, via snapshot
    summary properties). ``commit_batch`` writes one driver-side Arrow
    file per commit (the dim/serving shape); fact streams go through
    ``commit_batch_distributed`` (one manifest entry per task file).

    The format-neutral commit steps come from the table-format core
    (``streaming/tablecommit.py``, shared with ``DeltaAppendSink``): the
    putIfAbsent publish of each metadata version, the retry loop around
    it, footer stats, staged file placement, the drift check of mutating
    commits and the orphan sweep. This class keeps what is Iceberg's
    own: manifests, manifest lists, snapshot summaries and
    position/equality deletes."""

    def __init__(
        self,
        spark,
        path: str,
        partition_columns: list[str] | None = None,
        schema_evolution: bool = False,
    ) -> None:
        import os

        self.spark = spark
        self.path = path
        # r14: batches appending NEW columns evolve the table schema
        # (a new schemas[] entry + current-schema-id bump) when on;
        # loud otherwise. Existing columns must keep name/type/order.
        self.schema_evolution = schema_evolution
        # r13: IDENTITY-partitioned writes — the partition struct rides
        # every manifest entry (typed, spec field-ids 1000+i), data
        # files KEEP the source columns (identity partitioning stores
        # them, unlike Hive/Delta layouts), and transform-aware pruning
        # works against our own manifests
        self.partition_columns = list(partition_columns or [])
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # ------------------------------------------------------------ state

    def _meta_versions(self) -> dict[int, str]:
        return _metadata_versions(self.path)

    def _head(self) -> tuple[int, dict | None]:
        return _head_metadata(self.path)

    def committed_batch_ids(self) -> set[int]:
        """Batch ids of the head's live snapshots."""
        return _batch_ids(self._head()[1])[0]

    def _is_committed(self, batch_id: int) -> bool:
        """Replay dedupe that SURVIVES snapshot expiration
        (``_batch_landed`` over the head metadata)."""
        return _batch_landed(self._head()[1], batch_id)

    def _commit_batch_op(self, what: str, batch_id: int, build):
        """``commit_with_retry`` around ``build(head_v, md)`` for an op
        that commits batch ``batch_id``: after a lost race the head is
        read ONCE, and that read serves both ``landed()`` and the
        rebuild."""
        fresh: list = []

        def landed() -> bool:
            fresh.append(self._head())
            return _batch_landed(fresh[-1][1], batch_id)

        return commit_with_retry(
            f"iceberg {what} of batch {batch_id}",
            lambda: build(*(fresh.pop() if fresh else self._head())),
            self._publish_metadata,
            landed,
        )

    # ----------------------------------------------------------- write

    def _publish_metadata(self, version: int, body: bytes) -> bool:
        """Claim metadata version ``version`` (putIfAbsent through the
        commit core); False when a concurrent writer claimed it first.

        A claimed version then advances ``version-hint.text``, never
        backwards: a racing committer's blind replace could otherwise roll
        the pointer back and serve readers a stale snapshot until the next
        commit (ADVICE r12). Readers also probe forward past the hint, so
        a crash between the two is only a lost hint update, never a lost
        commit."""
        import os

        meta = os.path.join(self.path, "metadata")
        if not publish_if_absent(
            os.path.join(meta, f"v{version}.metadata.json"), body
        ):
            return False
        hint = os.path.join(meta, "version-hint.text")
        current = -1
        try:
            with open(hint) as f:
                current = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        if version > current:
            replace_atomically(hint, str(version).encode())
        return True

    _SPARK_TO_ICE = {
        "bigint": "long", "int": "int", "smallint": "int", "tinyint": "int",
        "string": "string", "double": "double", "float": "float",
        "boolean": "boolean", "date": "date",
        # r16 (VERDICT r15 #3): Spark TimestampType is adjusted-to-UTC, so
        # the spec-correct declaration is "timestamptz"; bare "timestamp"
        # (without zone) is reserved for TimestampNTZType. The old sink
        # declared "timestamp" for both, which is why the explicit-read
        # fast path used to refuse temporal schemas.
        "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
        "binary": "binary",
    }

    def _schema_fields(self, batch) -> list[dict]:
        """Iceberg schema fields (stable ids 1..n in column order) from
        the batch's Spark schema — written into the table metadata on
        the CREATE commit so bounds keys resolve to names/types."""
        fields = []
        for i, (name, dtype) in enumerate(batch.dtypes):
            t = self._SPARK_TO_ICE.get(dtype)
            if t is None:
                raise NotImplementedError(
                    f"iceberg sink: spark type {dtype!r} unsupported"
                )
            fields.append(
                {"id": i + 1, "name": name, "required": False, "type": t}
            )
        return fields

    @staticmethod
    def _footer_bounds(
        full: str, fields: list[dict]
    ) -> tuple[dict[int, bytes], dict[int, bytes]]:
        """Per-column lower/upper bounds for the manifest entry, taken
        from the parquet footer's row-group statistics and serialized
        per the spec's single-value layout (r13 — the write side of
        ``stats_filter``). Only long/int/string columns carry bounds;
        anything undecodable drops the column (conservative — stats
        skipping must never change results)."""
        import struct as _struct

        def ser(t: str, v) -> bytes | None:
            if t == "long" and isinstance(v, int):
                return _struct.pack("<q", v)
            if t == "int" and isinstance(v, int):
                return _struct.pack("<i", v)
            if t == "string" and isinstance(v, str):
                return v.encode()
            return None

        mins, maxs, _nulls = footer_stats(full)
        lowers: dict[int, bytes] = {}
        uppers: dict[int, bytes] = {}
        for f in fields:
            if f["name"] in mins:
                lo = ser(f["type"], mins[f["name"]])
                hi = ser(f["type"], maxs[f["name"]])
                if lo is not None and hi is not None:
                    lowers[f["id"]], uppers[f["id"]] = lo, hi
        return lowers, uppers

    def _data_entry(
        self, rel: str, n_rows: int, fields: list[dict], pv: dict | None = None
    ) -> tuple:
        """Manifest entry for a written data file: (rel, rows, bytes,
        lower bounds, upper bounds, partition values)."""
        import os

        full = os.path.join(self.path, rel)
        lo, hi = self._footer_bounds(full, fields)
        return (rel, n_rows, os.path.getsize(full), lo, hi, pv or {})

    def commit_batch(self, batch, batch_id: int) -> int | None:
        """One micro-batch -> one snapshot via ONE driver-side Arrow
        file (the dim/serving shape); returns the new snapshot id or
        None on replay. Fact streams belong on
        ``commit_batch_distributed``."""
        import os

        import pyarrow.parquet as pq

        if self.partition_columns:
            raise NotImplementedError(
                "partitioned tables write through commit_batch_distributed"
            )
        if self._is_committed(batch_id):
            return None
        rel = f"data/part-b{batch_id:010d}.parquet"
        full = os.path.join(self.path, rel)
        table = batch.toArrow()
        pq.write_table(table, full, compression="snappy")
        fields = self._schema_fields(batch)
        return self._commit_snapshot(
            batch_id, fields, [self._data_entry(rel, table.num_rows, fields)]
        )

    def commit_batch_distributed(self, batch, batch_id: int) -> int | None:
        """FACT-sized path (r13): Spark's distributed parquet writer into
        a per-batch staging dir, each task file renamed to a
        deterministic name, ONE manifest carrying one entry per file
        with footer-derived row counts and column bounds — rows never
        pass through the driver, and the resulting manifests feed
        ``stats_filter`` file skipping directly."""
        if self._is_committed(batch_id):
            return None
        missing = [c for c in self.partition_columns if c not in batch.columns]
        if missing:
            raise ValueError(f"batch lacks partition column(s) {missing}")
        # split by DUPLICATE columns so the source columns stay IN the
        # data files (identity partitioning stores them)
        aux = [f"__ip_{c}" for c in self.partition_columns]
        df = batch.select(
            "*", *[batch[c].alias(a) for c, a in zip(self.partition_columns, aux)]
        )
        fields = self._schema_fields(batch)
        types = {f["name"]: f["type"] for f in fields}
        placed = place_staged(
            df,
            self.path,
            f"b{batch_id:010d}",
            lambda i, _p: f"data/part-b{batch_id:010d}-{i:05d}.parquet",
            aux,
        )
        return self._commit_snapshot(
            batch_id,
            fields,
            [
                self._data_entry(
                    rel, n_rows, fields, self._dir_partition(relpath, types)
                )
                for rel, relpath, n_rows in placed
            ],
        )

    def _dir_partition(self, relpath: str, types: dict) -> dict:
        """Staging dir path (``__ip_<col>=<value>`` segments) -> typed
        partition struct values for the manifest entry."""
        import os as _os
        from urllib.parse import unquote

        if relpath == ".":
            if self.partition_columns:
                raise ValueError(
                    "partitioned write produced files outside partition dirs"
                )
            return {}
        out: dict = {}
        for part in relpath.split(_os.sep):
            if "=" not in part or not part.startswith("__ip_"):
                raise ValueError(f"unexpected staging dir {relpath!r}")
            k, v = part[len("__ip_"):].split("=", 1)
            if v == "__HIVE_DEFAULT_PARTITION__":
                raise NotImplementedError(
                    f"null partition value for column {k!r} unsupported"
                )
            v = unquote(v)
            out[k] = int(v) if types.get(k) in ("long", "int") else v
        return out

    def _live_signature(self, snapshot_id: int | None = None) -> dict[str, int]:
        """{rel: sequence-number} over every live DATA, position-delete
        and equality-delete file of ``snapshot_id`` (default: the current
        head; metadata-only; absent seqs encode as -1, a snapshot that is
        gone has {}). The OCC validation unit: a mutating commit computed
        against one signature must not publish onto a head whose
        signature drifted (real Iceberg's ``validateDataFilesExist``)."""
        try:
            _sid, _n, live, dels, eqs, _md, _loc = _iceberg_live(
                *_dir_reader(self.path), snapshot_id
            )
        except ValueError:
            return {}
        sig = {
            rel: -1 if s is None else int(s)
            for rel, _rc, _pv, s, _f in live
        }
        sig.update(
            (rel, -1 if s is None else int(s)) for rel, s in dels
        )
        sig.update(
            (rel, -1 if s is None else int(s)) for rel, s, _ids in eqs
        )
        return sig

    def _commit_snapshot(
        self,
        batch_id: int,
        fields: list[dict],
        files: list,
        delete_files: list | None = None,
        eq_delete_files: list | None = None,
        replace: bool = False,
        operation: str | None = None,
        expected_state: tuple[int, Callable[[], dict]] | None = None,
        exact_state: bool = False,
        what: str = "commit",
    ) -> int | None:
        """Shared commit core: manifest (with bounds) + manifest list +
        pointer-swap metadata publish, retried on a fresh head after a
        lost race (``commit_with_retry``).

        r14: the manifest list carries SEQUENCE NUMBERS (the seq list
        schema) so position deletes scope correctly — a delete at seq N
        masks data files with seq <= N and spares later appends.
        ``delete_files`` [(rel, n_rows, size)] commits a DELETE manifest
        (content=1) of positional-delete parquet files alongside (or
        instead of) the data manifest; ``eq_delete_files``
        [(rel, n_rows, size, equality_ids)] the same for EQUALITY
        deletes (content=2 entries — the streaming-MERGE form: a
        same-snapshot data file survives its own delete under the
        strict rule). ``replace=True`` drops every prior manifest from
        the new snapshot's list (the compaction rewrite shape). Prior
        manifest-list entries written before this change carry no
        sequence number and re-encode as seq 0 — conservatively
        maskable by any delete, which is exactly what a delete issued
        NOW intends.

        ``expected_state`` is (the head version a mutating op read, a
        thunk for the live signature it was computed against). While the
        head is still that version nothing can have drifted; once it has
        moved, the thunk and the new head's signature go through
        ``check_drift`` (``exact_state``: any difference conflicts), so
        an uncontended commit walks no manifests here."""
        import os

        from .avro import _zz

        loc = "."  # paths stored table-relative; _strip_location is a no-op
        pcols = self.partition_columns
        ptypes = {f["name"]: f["type"] for f in fields}
        ice_to_avro = {"long": "long", "int": "int", "string": "string"}
        for c in pcols:
            if ptypes.get(c) not in ice_to_avro:
                raise NotImplementedError(
                    f"identity partition over iceberg type "
                    f"{ptypes.get(c)!r} unsupported in the sink"
                )

        def enc_partition(pv: dict) -> bytes:
            out = b""
            for c in pcols:
                if ptypes[c] == "string":
                    out += _enc_str(pv[c])
                else:
                    out += _zz(pv[c])
            return out

        manifest_schema = json.loads(json.dumps(_BOUNDS_MANIFEST_SCHEMA))
        if pcols:
            manifest_schema["fields"][2]["type"]["fields"].insert(
                3,
                {
                    "name": "partition",
                    "type": {
                        "type": "record",
                        "name": "r102",
                        "fields": [
                            {"name": c, "type": ice_to_avro[ptypes[c]]}
                            for c in pcols
                        ],
                    },
                },
            )

        def build(head_v, md):
            # OCC: validate on EVERY attempt whose head moved since the
            # caller's read (it may move before the first publish) — a
            # lost pointer race must not re-publish stale delete
            # manifests that resurrect rows a concurrent compact rewrote
            if expected_state is not None and head_v != expected_state[0]:
                check_drift(
                    expected_state[1](),
                    self._live_signature(),
                    what,
                    exact=exact_state,
                )
            schema_update = None
            if md is not None and fields:
                cur_schema = next(
                    sch
                    for sch in md["schemas"]
                    if sch.get("schema-id", 0)
                    == md.get("current-schema-id", 0)
                )
                cur = cur_schema["fields"]
                if [
                    (f["name"], f["type"]) for f in fields[: len(cur)]
                ] != [(f["name"], f["type"]) for f in cur]:
                    raise ValueError(
                        "batch schema must carry the table's columns as "
                        "a prefix in the same order "
                        f"(table {[(f['name'], f['type']) for f in cur]}, "
                        f"batch {[(f['name'], f['type']) for f in fields]})"
                    )
                extras = fields[len(cur):]
                if extras and not self.schema_evolution:
                    raise ValueError(
                        f"batch appends new column(s) "
                        f"{[f['name'] for f in extras]} and "
                        "schema_evolution is off"
                    )
                if extras:
                    schema_update = {
                        "type": "struct",
                        "schema-id": cur_schema.get("schema-id", 0) + 1,
                        "fields": cur + extras,
                    }
            snap_id = batch_id + 1  # deterministic, unique per batch
            seq = head_v + 1
            ml_rel = f"metadata/snap-{snap_id}-b{batch_id:010d}.avro"
            new_lists = []  # (m_rel, manifest bytes, content)
            if files:
                m_rel = f"metadata/m-b{batch_id:010d}.avro"
                entries = [
                    _zz(1)
                    + _zz(snap_id)
                    + _zz(0)
                    + _enc_str(rel)
                    + _enc_str("PARQUET")
                    + (enc_partition(pv) if pcols else b"")
                    + _zz(n_rows)
                    + _zz(size)
                    + _enc_bounds(sorted(lo.items()))
                    + _enc_bounds(sorted(hi.items()))
                    for rel, n_rows, size, lo, hi, pv in files
                ]
                man = _avro_ocf(manifest_schema, entries, batch_id)
                with open(os.path.join(self.path, m_rel), "wb") as f:
                    f.write(man)
                new_lists.append((m_rel, man, 0))
            if delete_files:
                d_rel = f"metadata/m-del-b{batch_id:010d}.avro"
                d_entries = [
                    _zz(1)
                    + _zz(snap_id)
                    + _zz(1)  # data_file.content: POSITION_DELETES
                    + _enc_str(rel)
                    + _enc_str("PARQUET")
                    + _zz(n_rows)
                    + _zz(size)
                    for rel, n_rows, size in delete_files
                ]
                d_man = _avro_ocf(_MANIFEST_SCHEMA, d_entries, batch_id + 3)
                with open(os.path.join(self.path, d_rel), "wb") as f:
                    f.write(d_man)
                new_lists.append((d_rel, d_man, 1))
            if eq_delete_files:
                e_rel = f"metadata/m-eqdel-b{batch_id:010d}.avro"
                e_entries = [
                    _zz(1)
                    + _zz(snap_id)
                    + _zz(2)  # data_file.content: EQUALITY_DELETES
                    + _enc_str(rel)
                    + _enc_str("PARQUET")
                    + _zz(n_rows)
                    + _zz(size)
                    + (_zz(len(ids)) + b"".join(_zz(i) for i in ids) + _zz(0))
                    for rel, n_rows, size, ids in eq_delete_files
                ]
                e_man = _avro_ocf(
                    _EQ_MANIFEST_SCHEMA, e_entries, batch_id + 9
                )
                with open(os.path.join(self.path, e_rel), "wb") as f:
                    f.write(e_man)
                new_lists.append((e_rel, e_man, 1))
            # every snapshot's manifest list carries ALL prior live
            # manifests plus this one (append-only: nothing is deleted)
            # — unless replace=True, the compaction rewrite
            prior = []
            if md is not None and not replace:
                cur = {s["snapshot-id"]: s for s in md["snapshots"]}[
                    md["current-snapshot-id"]
                ]
                from .avro import parse_avro

                with open(os.path.join(self.path, cur["manifest-list"]), "rb") as f:
                    _, prior_entries = parse_avro(f.read())
                prior = [_ml_entry(e) for e in prior_entries]
            for m_rel, man, content in new_lists:
                prior.append(
                    _ml_entry({
                        "manifest_path": m_rel, "manifest_length": len(man),
                        "content": content, "sequence_number": seq,
                        "added_snapshot_id": snap_id,
                    })
                )
            ml = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, prior, batch_id + 7)
            with open(os.path.join(self.path, ml_rel), "wb") as f:
                f.write(ml)
            snapshot = {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": 0,
                "manifest-list": ml_rel,
                # r16: the spec's optional snapshot schema-id — records
                # which schema this snapshot's files were written under,
                # so range reads (changelog/stream source) can resolve
                # their union schema from metadata instead of footers
                "schema-id": (
                    schema_update["schema-id"]
                    if schema_update is not None
                    else (md or {}).get("current-schema-id", 0)
                ),
                "summary": {
                    "operation": operation
                    or (
                        "delete"
                        if (delete_files or eq_delete_files) and not files
                        else "overwrite"
                        if eq_delete_files or replace
                        else "append"
                    ),
                    "batch-id": str(batch_id),
                },
            }
            if md is None:
                new_md = {
                    "format-version": 2,
                    "table-uuid": "00000000-0000-0000-0002-000000000000",
                    "location": loc,
                    "last-sequence-number": 1,
                    "schemas": [
                        {"type": "struct", "schema-id": 0, "fields": fields}
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    "name": c,
                                    "transform": "identity",
                                    "source-id": next(
                                        f["id"] for f in fields
                                        if f["name"] == c
                                    ),
                                    "field-id": 1000 + i,
                                }
                                for i, c in enumerate(pcols)
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                    "current-snapshot-id": snap_id,
                    "snapshots": [snapshot],
                }
            else:
                new_md = dict(md)
                new_md["last-sequence-number"] = head_v + 1
                new_md["current-snapshot-id"] = snap_id
                new_md["snapshots"] = md["snapshots"] + [snapshot]
                if schema_update is not None:
                    new_md["schemas"] = md["schemas"] + [schema_update]
                    new_md["current-schema-id"] = schema_update["schema-id"]
            return head_v + 1, json.dumps(new_md).encode(), snap_id

        return self._commit_batch_op(what, batch_id, build)

    def delete_where(
        self,
        condition,
        batch_id: int,
        delete_file_partitions: int | None = None,
    ) -> int | None:
        """``DELETE FROM <table> WHERE <condition>`` via an Iceberg v2
        POSITION-delete file (r14 — the write side of the r13
        position-delete reader, closing the read/write asymmetry the
        Delta ``delete_where`` left): matched physical row positions
        are found by a DISTRIBUTED scan over the live data files
        (``_metadata.file_name``/``row_index``), written DISTRIBUTEDLY
        as ONE sorted ``(file_path, pos)`` parquet with the spec's
        reserved field ids (2147483546/2147483545) — rows never pass
        through the driver — and committed as a DELETE manifest
        (content=1) whose manifest-list sequence number makes the
        delete apply to every CURRENT data file and spare all future
        appends (``del_seq >= data_seq``). No data file is rewritten;
        time travel below the delete still reads every row.
        Replay-idempotent via the snapshot-summary batch id; returns
        the committed snapshot id or None on replay."""
        import os

        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        head_v, md = self._head()
        if _batch_landed(md, batch_id):
            return None
        _sid, _n, live, _dels, _eqs, _md, _loc = _iceberg_live(
            *_dir_reader(self.path), (md or {}).get("current-snapshot-id")
        )
        if not live:
            raise ValueError("delete_where on a table with no data files")
        by_name = {os.path.basename(rel): rel for rel, _rc, _pv, _s, _f in live}
        if len(by_name) != len(live):
            raise NotImplementedError(
                "duplicate data-file basenames in the live set"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if any(f != "PARQUET" for _rel, _rc, _pv, _s, f in live):
            raise NotImplementedError(
                "delete_where over non-parquet data files unsupported"
            )
        full_paths = sorted(
            os.path.join(self.path, rel) for rel, _rc, _pv, _s, _f in live
        )
        map_df = self.spark.createDataFrame(
            sorted(by_name.items()), "__name string, __rel string"
        )
        # the spec wants EACH delete file sorted by (file_path, pos) and
        # the columns stamped with the reserved field ids; it allows
        # many delete files — range-partition by file_path so a wide
        # sweep writes one sorted file per range instead of funnelling
        # every matched position through a single task (VERDICT r14 #6)
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        n_out = delete_file_partitions or max(1, min(16, len(live) // 64 + 1))
        # the table schema declared from the metadata, as iceberg_scan
        # reads it: no footer-inference job
        rs = _parquet_read_schema(md)
        reader = self.spark.read.schema(rs) if rs is not None else self.spark.read
        matched = (
            reader.parquet(*full_paths)
            .select(
                F.col("_metadata.file_name").alias("__name"),
                F.col("_metadata.row_index").alias("__pos"),
                "*",
            )
            .filter(cond)
            .join(F.broadcast(map_df), "__name")
            .select(
                F.col("__rel").alias(
                    "file_path", metadata={"parquet.field.id": 2147483546}
                ),
                F.col("__pos").alias(
                    "pos", metadata={"parquet.field.id": 2147483545}
                ),
            )
        )
        if n_out > 1:
            matched = matched.repartitionByRange(n_out, "file_path", "pos")
        else:
            matched = matched.repartition(1)
        placed = place_staged(
            matched.sortWithinPartitions("file_path", "pos"),
            self.path,
            f"del-b{batch_id:010d}",
            lambda i, _p: f"data/delete-b{batch_id:010d}-{i:05d}.parquet",
        )
        delete_files = []
        referenced: set[str] = set()
        for rel, _p, n_rows in placed:
            full = os.path.join(self.path, rel)
            referenced.update(
                pq.ParquetFile(full).read(columns=["file_path"])["file_path"]
                .to_pylist()
            )
            delete_files.append((rel, n_rows, os.path.getsize(full)))
        fields = next(
            s
            for s in md["schemas"]
            if s.get("schema-id") == md.get("current-schema-id", 0)
        )["fields"]
        # OCC: the delete's (file_path, pos) entries are only valid while
        # every referenced data file stays live unchanged — a concurrent
        # compact/rewrite must conflict, not silently resurrect rows
        live_sig = {
            rel: -1 if s is None else int(s)
            for rel, _rc, _pv, s, _f in live
        }
        expected = {rel: live_sig[rel] for rel in referenced}
        return self._commit_snapshot(
            batch_id,
            fields,
            [],
            delete_files=delete_files,
            expected_state=(head_v, lambda: expected),
            what="delete_where",
        )

    # ------------------------------------------------------ maintenance

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg's ``expireSnapshots`` maintenance op (r14 — the twin
        of Delta's ``clean_log``): publish a new metadata version whose
        snapshot list keeps only the newest ``keep_last`` snapshots
        (the current one always survives). Time travel to an expired
        snapshot id then refuses loudly; readers at or above the
        horizon are unchanged (each snapshot's manifest list is
        self-contained). Expired snapshots' batch ids fold into the
        ``max-expired-batch-id`` watermark so exactly-once replay
        dedupe survives expiration. Files are NOT deleted here —
        ``vacuum_orphans`` reclaims them under its retention horizon,
        the same maintenance split real Iceberg/Delta make. Returns the
        expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def build():
            head_v, md = self._head()
            if md is None or len(md["snapshots"]) <= keep_last:
                return None, None, []
            snaps = md["snapshots"]
            keep = snaps[-keep_last:]
            if not any(
                s["snapshot-id"] == md["current-snapshot-id"] for s in keep
            ):
                raise ValueError(
                    "expire_snapshots would drop the current snapshot"
                )
            expired = snaps[: len(snaps) - keep_last]
            bids = [
                int((s.get("summary") or {}).get("batch-id", -1))
                for s in expired
            ]
            new_wm = max(bids + [_batch_ids(md)[1]])
            new_md = dict(md)
            new_md["snapshots"] = keep
            props = dict(md.get("properties") or {})
            props["max-expired-batch-id"] = str(new_wm)
            new_md["properties"] = props
            return (
                head_v + 1,
                json.dumps(new_md).encode(),
                [s["snapshot-id"] for s in expired],
            )

        return commit_with_retry(
            "iceberg expire_snapshots", build, self._publish_metadata
        )

    def vacuum_orphans(
        self, retention_seconds: float = 7 * 24 * 3600.0
    ) -> list[str]:
        """Delete data/ and metadata/ files no RETAINED snapshot
        references — crash/lost-race leftovers and files stranded by
        ``expire_snapshots`` (Iceberg's ``removeOrphanFiles`` +
        ``expireSnapshots`` file-reclaim). Never touches
        ``*.metadata.json``, ``version-hint.text`` or ``_staging``;
        files younger than ``retention_seconds`` (default 7 days, the
        same horizon as the Delta twin) are kept — a concurrent writer
        may have written them but not yet committed."""
        import os

        from .avro import parse_avro

        _, md = self._head()
        if md is None:
            return []
        referenced: set[str] = set()
        for s in md.get("snapshots", []):
            ml_rel = _strip_location(
                s["manifest-list"], md.get("location", "")
            )
            referenced.add(ml_rel)
            with open(os.path.join(self.path, ml_rel), "rb") as f:
                _, entries = parse_avro(f.read())
            for e in entries:
                m_rel = _strip_location(
                    e["manifest_path"], md.get("location", "")
                )
                referenced.add(m_rel)
                with open(os.path.join(self.path, m_rel), "rb") as f:
                    _, recs = parse_avro(f.read())
                for rec in recs:
                    referenced.add(
                        _strip_location(
                            rec["data_file"]["file_path"],
                            md.get("location", ""),
                        )
                    )

        def candidate(rel: str) -> bool:
            sub, fn = os.path.split(rel)
            return (
                sub in ("data", "metadata")
                and not fn.endswith(".metadata.json")
                and not fn.startswith("version-hint")
            )

        return sweep_orphans(
            self.path, referenced, retention_seconds, candidate
        )

    def rollback_to(self, snapshot_id: int) -> int:
        """Iceberg's ``rollback_to_snapshot`` (r14): publish a new
        metadata version whose current-snapshot-id points BACK at a
        retained snapshot — no files move, history is preserved (the
        rolled-past snapshots stay in the list until expired), readers
        at explicit snapshot ids are unaffected. Returns the new
        metadata version."""

        def build():
            head_v, md = self._head()
            if md is None:
                raise ValueError("rollback on a table with no commits")
            if snapshot_id not in {
                s["snapshot-id"] for s in md["snapshots"]
            }:
                raise ValueError(
                    f"snapshot {snapshot_id} not in table metadata"
                )
            new_md = dict(md)
            new_md["current-snapshot-id"] = snapshot_id
            return head_v + 1, json.dumps(new_md).encode(), head_v + 1

        return commit_with_retry(
            f"iceberg rollback to snapshot {snapshot_id}",
            build,
            self._publish_metadata,
        )

    def rewrite_manifests(self, batch_id: int) -> int | None:
        """Iceberg's ``rewriteManifests`` maintenance op (r14): merge
        every DATA manifest of the current snapshot into ONE compacted
        manifest — entries re-encoded with status EXISTING, their
        original snapshot ids AND per-entry sequence numbers preserved
        (so position-delete scoping is unchanged), bounds and partition
        structs carried through — committed as a new snapshot whose
        list holds the compacted manifest plus the untouched DELETE
        manifests. A long-lived table's manifest count stops growing
        with its commit count; the superseded manifests become
        vacuum_orphans fodder past the horizon. Identity partition
        specs only (the sink's shape); replay-idempotent via the
        snapshot-summary batch id."""
        import os

        from .avro import _zz, parse_avro

        if self._is_committed(batch_id):
            return None

        def build(head_v, md):
            if md is None:
                raise ValueError("rewrite_manifests on a table with no commits")
            spec = {
                s.get("spec-id", 0): s
                for s in md.get("partition-specs", [])
            }.get(0, {"fields": []})
            if any(
                f.get("transform") != "identity" for f in spec["fields"]
            ):
                raise NotImplementedError(
                    "rewrite_manifests over non-identity partition "
                    "transforms unsupported"
                )
            names = _schema_names(md)
            types = _schema_types(md)
            pfields = []  # (name, avro type)
            for f in spec["fields"]:
                t = types.get(f["source-id"])
                avro_t = {"long": "long", "int": "int", "string": "string"}.get(t)
                if avro_t is None:
                    raise NotImplementedError(
                        f"identity partition over iceberg type {t!r} "
                        "unsupported in rewrite_manifests"
                    )
                pfields.append((names.get(f["source-id"], f["name"]), avro_t))
            cur = {s["snapshot-id"]: s for s in md["snapshots"]}[
                md["current-snapshot-id"]
            ]
            with open(os.path.join(self.path, cur["manifest-list"]), "rb") as f:
                _, ml_entries = parse_avro(f.read())
            keep_lists = []  # delete manifests, carried verbatim
            entries = []  # (snapshot_id, seq, data_file dict)
            for e in ml_entries:
                if e.get("content", 0) == 1:
                    keep_lists.append(e)
                    continue
                with open(
                    os.path.join(self.path, e["manifest_path"]), "rb"
                ) as f:
                    _, recs = parse_avro(f.read())
                for rec in recs:
                    if rec.get("status", 1) == 2:
                        continue
                    seq = rec.get("sequence_number")
                    if seq is None:
                        seq = e.get("sequence_number", 0)
                    entries.append((rec["snapshot_id"], seq, rec["data_file"]))
            if len([e for e in ml_entries if e.get("content", 0) == 0]) <= 1:
                return None, None, None  # already compacted: nothing to do
            schema = json.loads(json.dumps(_BOUNDS_MANIFEST_SCHEMA))
            schema["fields"].insert(
                2, {"name": "sequence_number", "type": "long"}
            )
            if pfields:
                schema["fields"][3]["type"]["fields"].insert(
                    3,
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [
                                {"name": n, "type": t} for n, t in pfields
                            ],
                        },
                    },
                )

            blobs = []
            for snap_id, seq, df in sorted(
                entries, key=lambda t: t[2]["file_path"]
            ):
                part = b""
                if pfields:
                    pv = df.get("partition") or {}
                    for n, t in pfields:
                        if n not in pv:
                            raise ValueError(
                                f"manifest entry lacks partition value {n!r}"
                            )
                        part += (
                            _enc_str(pv[n]) if t == "string" else _zz(pv[n])
                        )
                blobs.append(
                    _zz(0)  # status: EXISTING
                    + _zz(snap_id)
                    + _zz(seq)
                    + _zz(0)
                    + _enc_str(df["file_path"])
                    + _enc_str(str(df.get("file_format", "PARQUET")))
                    + part
                    + _zz(df.get("record_count", 0))
                    + _zz(df.get("file_size_in_bytes", 0))
                    + _enc_bounds(_bound_pairs(df.get("lower_bounds")))
                    + _enc_bounds(_bound_pairs(df.get("upper_bounds")))
                )
            snap_id = batch_id + 1
            seq = head_v + 1
            m_rel = f"metadata/m-compact-b{batch_id:010d}.avro"
            man = _avro_ocf(schema, blobs, batch_id + 5)
            with open(os.path.join(self.path, m_rel), "wb") as f:
                f.write(man)
            ml_rel = f"metadata/snap-{snap_id}-b{batch_id:010d}.avro"
            out_entries = [
                _ml_entry({
                    "manifest_path": m_rel, "manifest_length": len(man),
                    "content": 0, "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                })
            ] + [_ml_entry({**e, "content": 1}) for e in keep_lists]
            ml = _avro_ocf(_MANIFEST_LIST_SEQ_SCHEMA, out_entries, batch_id + 7)
            with open(os.path.join(self.path, ml_rel), "wb") as f:
                f.write(ml)
            snapshot = {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": 0,
                "manifest-list": ml_rel,
                "schema-id": md.get("current-schema-id", 0),
                "summary": {"operation": "replace", "batch-id": str(batch_id)},
            }
            new_md = dict(md)
            new_md["last-sequence-number"] = seq
            new_md["current-snapshot-id"] = snap_id
            new_md["snapshots"] = md["snapshots"] + [snapshot]
            return head_v + 1, json.dumps(new_md).encode(), snap_id

        return self._commit_batch_op("rewrite_manifests", batch_id, build)

    def sink(self):
        def write(batch, batch_id: int) -> None:
            self.commit_batch(batch, batch_id)

        return write

    # ------------------------------------------------------------- read

    def scan(self, snapshot_id: int | None = None):
        return iceberg_scan(self.spark, self.path, snapshot_id)


class IcebergKeyedStore(IcebergAppendSink):
    """Keyed UPSERT (MERGE) store over Iceberg v2 EQUALITY DELETES
    (r14 — the Iceberg twin of ``streaming/delta.DeltaKeyedStore``,
    completing streaming-MERGE symmetry across both open formats, and
    the WRITE side of the r13 equality-delete reader): every
    micro-batch commits ONE snapshot holding (a) an equality-delete
    parquet listing the batch's keys and (b) a data parquet with the
    batch's surviving rows — the spec's STRICT ``data_seq < del_seq``
    rule means the delete masks every EARLIER version of those keys
    while the same-commit replacement rows survive, which is exactly
    the merge-on-read upsert real streaming writers produce.

    State reads are plain ``iceberg_scan`` (merge-on-read yields the
    latest row per key); time travel is free — one snapshot per batch.
    Rows whose ``type_col`` is ``'delete'`` contribute their key to the
    delete file and no replacement row. Within a batch the newest row
    per key wins by ``order_col``. Exactly-once under replay via the
    snapshot-summary batch id, like the parent sink. Read cost grows
    with the delete history — ``compact()`` is the exit: it
    MATERIALIZES the merge into one data file and a manifest list that
    drops every prior manifest (``replace`` snapshot), after which
    reads are a single plain scan again. Dim/serving-sized (driver
    Arrow writes); fact-sized keyed state belongs on the Delta
    bucketed store."""

    def __init__(
        self,
        spark,
        path: str,
        key: str,
        order_col: str,
        type_col: str | None = None,
    ) -> None:
        super().__init__(spark, path)
        self.key = key
        self.order_col = order_col
        self.type_col = type_col

    def commit_batch(self, batch, batch_id: int) -> int | None:
        import os

        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        from .skew import latest_by_key

        if self._is_committed(batch_id):
            return None
        latest = latest_by_key(batch, self.key, self.order_col)
        if self.type_col and self.type_col in latest.columns:
            rows = latest.filter(
                F.col(self.type_col) != F.lit("delete")
            ).drop(self.type_col)
        else:
            rows = latest
        keys_tbl = (
            latest.select(self.key).distinct().orderBy(self.key).toArrow()
        )
        data_tbl = rows.toArrow()
        fields = self._schema_fields(rows)
        key_ids = [
            f["id"] for f in fields if f["name"] == self.key
        ]
        if not key_ids:
            raise ValueError(f"batch lacks key column {self.key!r}")
        files = []
        eq_files = []
        if data_tbl.num_rows:
            rel = f"data/part-b{batch_id:010d}.parquet"
            full = os.path.join(self.path, rel)
            pq.write_table(data_tbl, full, compression="snappy")
            files.append(self._data_entry(rel, data_tbl.num_rows, fields))
        if keys_tbl.num_rows:
            del_rel = f"data/eqdel-b{batch_id:010d}.parquet"
            del_full = os.path.join(self.path, del_rel)
            pq.write_table(keys_tbl, del_full, compression="snappy")
            eq_files.append(
                (
                    del_rel,
                    keys_tbl.num_rows,
                    os.path.getsize(del_full),
                    key_ids,
                )
            )
        return self._commit_snapshot(
            batch_id, fields, files, eq_delete_files=eq_files
        )

    def commit_batch_distributed(self, batch, batch_id):
        raise NotImplementedError(
            "keyed MERGE snapshots are dim-shaped single-file commits; "
            "fact-sized keyed upsert belongs on the Delta bucketed store"
        )

    def compact(self, batch_id: int) -> int | None:
        """Materialize the merge (r14): the current state reads through
        ``iceberg_scan`` (all equality deletes applied) and rewrites as
        ONE data file in a ``replace`` snapshot whose manifest list
        DROPS every prior manifest — the read path is a single plain
        scan again, and the superseded data/delete files become
        ``vacuum_orphans`` fodder. Time travel below the compaction
        still resolves (old manifest lists are self-contained).
        Replay-idempotent via the batch id."""
        import os

        import pyarrow.parquet as pq

        head_v, md = self._head()
        if _batch_landed(md, batch_id):
            return None
        # OCC: a replace snapshot DROPS every prior manifest — any
        # commit landing between this read and the publish would be
        # silently erased, so the head's full live signature must be
        # exactly that of the snapshot the compaction read (VERDICT r14
        # #2); the scan is pinned to that snapshot
        sid = (md or {}).get("current-snapshot-id")
        df = iceberg_scan(self.spark, self.path, sid)
        tbl = df.toArrow()
        fields = self._schema_fields(df)
        rel = f"data/compact-b{batch_id:010d}.parquet"
        full = os.path.join(self.path, rel)
        pq.write_table(tbl, full, compression="snappy")
        return self._commit_snapshot(
            batch_id,
            fields,
            [self._data_entry(rel, tbl.num_rows, fields)],
            replace=True,
            operation="replace",
            expected_state=(head_v, lambda: self._live_signature(sid)),
            exact_state=True,
            what="compact",
        )

    def read_as_of(self, snapshot_id: int | None = None):
        return iceberg_scan(self.spark, self.path, snapshot_id)

def iceberg_table_changes(
    spark,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """CHANGELOG SCAN over an Iceberg table directory (r14 — the
    Iceberg twin of ``deltalog.delta_table_changes``, Spark's
    ``create_changelog_view`` semantics re-expressed): every row
    inserted or deleted by the snapshots AFTER ``from_snapshot_id`` up
    to ``to_snapshot_id`` (defaults: the full history / the current
    snapshot), as the table columns plus ``_change_type``
    ('insert' | 'delete') and ``_commit_snapshot_id``.

    Derived entirely from the metadata tree + delete files:
    - an append/overwrite snapshot's ADDED data files -> 'insert' rows;
    - its POSITION-delete files name (file_path, pos) directly — those
      rows read back from the data files via one semi-join scan;
    - its EQUALITY-delete files carry the deleted VALUES — the deleted
      rows are the PREVIOUS snapshot's state semi-joined (null-safe) on
      those values, the merge-on-read upsert's change record;
    - 'replace' snapshots (compaction) produce no changes.

    Inserts ride ONE grouped scan (snapshot ids re-attached by a
    broadcast file-name join); position deletes one semi-join scan;
    each equality-delete snapshot costs one previous-state scan (plan
    grows with OVERWRITE snapshots, not files — the keyed store's
    ``compact()`` bounds that history)."""
    import os

    from pyspark.sql import functions as F

    get, names = _dir_reader(path)
    _sid, _n, _live, _d, _e, md, location = _iceberg_live(get, names, None)
    snaps = sorted(
        md.get("snapshots", []), key=lambda s: s.get("sequence-number", 0)
    )
    by_id = {s["snapshot-id"]: s for s in snaps}
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
    if to_snapshot_id not in by_id:
        raise ValueError(f"snapshot {to_snapshot_id} not in table metadata")
    lo_seq = -1
    if from_snapshot_id is not None:
        if from_snapshot_id not in by_id:
            raise ValueError(
                f"snapshot {from_snapshot_id} not in table metadata"
            )
        lo_seq = by_id[from_snapshot_id].get("sequence-number", 0)
    hi_seq = by_id[to_snapshot_id].get("sequence-number", 0)
    pending = [
        s for s in snaps if lo_seq < s.get("sequence-number", 0) <= hi_seq
    ]

    prev_of = {}
    prev = None
    for s_ in snaps:
        prev_of[s_["snapshot-id"]] = prev
        prev = s_["snapshot-id"]

    inserts = []  # (rel, snapshot_id)
    pos_rows = []  # (file basename, pos, snapshot_id)
    eq_parts = []  # DataFrames of equality-deleted rows
    for snap in pending:
        op = (snap.get("summary") or {}).get("operation", "append")
        if op == "replace":
            continue
        sid = snap["snapshot-id"]
        for content, recs in _added_manifests(get, snap, location):
            for rec in recs:
                if rec.get("status", 1) != 1:
                    continue
                df_ = rec["data_file"]
                f_content = df_.get("content", 0)
                rel = _strip_location(df_["file_path"], location)
                if content == 0 and f_content == 0:
                    fmt = str(df_.get("file_format", "PARQUET")).upper()
                    if fmt != "PARQUET":
                        raise NotImplementedError(
                            f"changelog over {fmt} data files unsupported"
                        )
                    inserts.append((rel, sid))
                elif f_content == 1:  # position deletes
                    from .parquetmeta import parse_parquet_records

                    cols = parse_parquet_records(
                        get(rel), columns=["file_path", "pos"]
                    )
                    for fp, pos in zip(cols["file_path"], cols["pos"]):
                        fp = fp.decode() if isinstance(fp, bytes) else fp
                        pos_rows.append(
                            (
                                os.path.basename(
                                    _strip_location(fp, location)
                                ),
                                int(pos),
                                sid,
                            )
                        )
                elif f_content == 2:  # equality deletes
                    eq_ids = df_.get("equality_ids")
                    if not eq_ids:
                        raise ValueError(
                            "equality delete file lists no equality_ids"
                        )
                    names_by_id = _schema_names(md)
                    cols = [names_by_id[i] for i in eq_ids]
                    from .parquetmeta import parse_parquet_records

                    recs2 = parse_parquet_records(get(rel), columns=cols)
                    tuples = set(
                        zip(*(tuple(_bval(v) for v in recs2[c]) for c in cols))
                    )
                    prev_sid = prev_of[sid]
                    if prev_sid is None:
                        continue  # nothing existed before: no deletes
                    prev_state = iceberg_scan(
                        spark, path, snapshot_id=prev_sid
                    )
                    vals_df = spark.createDataFrame(
                        sorted(
                            tuples,
                            key=lambda t: tuple(
                                (v is None, v) for v in t
                            ),
                        ),
                        list(cols),
                    )
                    sel = [F.col(c).alias(f"__eq_{c}") for c in cols]
                    cond = None
                    for c in cols:
                        clause = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                        cond = clause if cond is None else cond & clause
                    eq_parts.append(
                        prev_state.join(
                            F.broadcast(vals_df.select(*sel)),
                            cond,
                            "left_semi",
                        )
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_snapshot_id", F.lit(sid))
                    )

    parts = []
    if inserts:
        names_ = [os.path.basename(rel) for rel, _s in inserts]
        if len(set(names_)) != len(names_):
            raise NotImplementedError(
                "duplicate added-file basenames in the snapshot range"
            )
        # r16 (guide §6, VERDICT r15 #1): explicit union schema resolved
        # from the contributing snapshots' schema-ids — no mergeSchema
        # footer sweep; foreign/legacy metadata without snapshot
        # schema-ids keeps inference
        ins_sids = {s_ for _r, s_ in inserts}
        rs = _range_read_schema(
            md, [s for s in pending if s["snapshot-id"] in ins_sids]
        )
        reader = (
            spark.read.schema(rs)
            if rs is not None
            else spark.read.option("mergeSchema", "true")
        )
        df = reader.parquet(
            *sorted(os.path.join(path, rel) for rel, _s in inserts)
        ).select("*", F.col("_metadata.file_name").alias("__file"))
        v_df = spark.createDataFrame(
            [(os.path.basename(rel), sid) for rel, sid in inserts],
            "__file string, __sid long",
        )
        parts.append(
            df.join(F.broadcast(v_df), "__file")
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_snapshot_id", F.col("__sid"))
            .drop("__file", "__sid")
        )
    if pos_rows:
        rels = sorted(
            {
                rel
                for rel, _rc, _pv, _seq, _fmt in _live
            }
            | {rel for rel, _s in inserts}
        )
        by_name = {os.path.basename(rel): rel for rel in rels}
        missing = {n for n, _p, _s in pos_rows} - set(by_name)
        if missing:
            raise ValueError(
                f"position deletes name unknown files {sorted(missing)[:3]}"
            )
        wanted = sorted({by_name[n] for n, _p, _s in pos_rows})
        # r16: the deleted rows' files may predate the range, so the
        # explicit path engages only when every snapshot up to the range
        # head shares ONE schema-id (then that schema IS the union any
        # of those files could carry); mixed-schema histories keep
        # mergeSchema inference
        upto = [s for s in snaps if s.get("sequence-number", 0) <= hi_seq]
        rs2 = (
            _range_read_schema(md, upto)
            if len({s.get("schema-id") for s in upto}) == 1
            else None
        )
        reader2 = (
            spark.read.schema(rs2)
            if rs2 is not None
            else spark.read.option("mergeSchema", "true")
        )
        df = reader2.parquet(
            *(os.path.join(path, rel) for rel in wanted)
        ).select(
            "*",
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        pos_df = spark.createDataFrame(
            pos_rows, "__file string, __pos long, __sid long"
        )
        parts.append(
            df.join(F.broadcast(pos_df), ["__file", "__pos"])
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_commit_snapshot_id", F.col("__sid"))
            .drop("__file", "__pos", "__sid")
        )
    parts.extend(eq_parts)
    if not parts:
        # a range of pure 'replace' snapshots: no logical changes
        sid_ = md.get("current-schema-id", 0)
        schema = next(
            sch
            for sch in md.get("schemas", [])
            if sch.get("schema-id", 0) == sid_
        )
        fields = []
        for f in schema.get("fields", []):
            t = f.get("type")
            if not isinstance(t, str) or t not in _ICE_TO_SPARK:
                raise NotImplementedError(
                    f"changelog over iceberg type {t!r} unsupported"
                )
            fields.append(f"{f['name']} {_ICE_TO_SPARK[t]}")
        return spark.createDataFrame(
            [],
            ", ".join(
                fields
                + ["_change_type string", "_commit_snapshot_id bigint"]
            ),
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_, allowMissingColumns=True)
    return out


class IcebergStreamSource:
    """Incremental micro-batch SOURCE over an Iceberg table directory
    (r14 — the Iceberg twin of ``streaming/delta.DeltaStreamSource``,
    Spark's iceberg incremental append scan re-expressed): the first
    batch is the full snapshot at the current head; each later batch is
    the data files ADDED by the snapshots since the last position
    (resolved from the manifests whose ``added_snapshot_id`` falls in
    the range — metadata-only driver work). 'replace' snapshots
    (compaction/rewrite_manifests) re-add existing rows and are SKIPPED
    like Delta's dataChange=false commits; 'delete' and 'overwrite'
    snapshots change or remove rows, which an append-only incremental
    reader cannot represent — they refuse unless ``ignore_changes``
    accepts re-emitted/still-deleted semantics (the delete's masked
    rows are ALREADY absent from files added later, so with
    ignore_changes the feed stays append-only over the new files).
    The through-snapshot's ordinal doubles as the batch id so sink
    idempotence lines up with source progress."""

    def __init__(
        self,
        spark,
        path: str,
        ignore_changes: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.ignore_changes = ignore_changes
        self._pos: int | None = None  # last consumed snapshot id

    def _md(self) -> dict:
        _v, md = _head_metadata(self.path)
        if md is None:
            raise ValueError("no iceberg metadata files")
        return md

    def _added_files(self, snap: dict, location: str) -> list[str]:
        """Data files first added BY this snapshot (ADDED entries of the
        data manifests it added)."""
        out = []
        for content, recs in _added_manifests(
            _dir_get(self.path), snap, location
        ):
            for rec in recs if content == 0 else []:
                df = rec["data_file"]
                if (
                    rec.get("status", 1) != 1
                    or rec.get("snapshot_id") != snap["snapshot-id"]
                    or df.get("content", 0) != 0
                ):
                    continue
                fmt = str(df.get("file_format", "PARQUET")).upper()
                if fmt != "PARQUET":
                    raise NotImplementedError(
                        f"incremental read over {fmt} data files "
                        "unsupported"
                    )
                out.append(_strip_location(df["file_path"], location))
        return sorted(out)

    def next_batch(self):
        """(DataFrame, through_snapshot_id) of rows not yet consumed, or
        None when caught up. The first call returns the full snapshot."""
        import os

        md = self._md()
        location = md.get("location", "")
        snaps = md.get("snapshots", [])
        head = md.get("current-snapshot-id")
        if head is None or not snaps:
            return None
        if self._pos is None:
            self._pos = head
            return iceberg_scan(self.spark, self.path), head
        by_id = {s["snapshot-id"]: s for s in snaps}
        if head == self._pos:
            return None
        if self._pos not in by_id:
            raise ValueError(
                f"snapshot {self._pos} expired from the table metadata; "
                "an incremental read across it is impossible — restart "
                "the source snapshot-first"
            )
        # snapshots strictly after the position AND at/below the head's
        # sequence, in sequence order — a rollback_to keeps rolled-past
        # snapshots in the list, and their files must NOT re-emit
        pos_seq = by_id[self._pos].get("sequence-number", 0)
        head_seq = by_id[head].get("sequence-number", 0)
        pending = sorted(
            (
                s
                for s in snaps
                if pos_seq < s.get("sequence-number", 0) <= head_seq
            ),
            key=lambda s: s.get("sequence-number", 0),
        )
        rels: list[str] = []
        contributing: list = []
        for s in pending:
            op = (s.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction re-adds existing rows: skip
            if op in ("delete", "overwrite") and not self.ignore_changes:
                raise ValueError(
                    f"snapshot {s['snapshot-id']} {op}s rows; an "
                    "append-only incremental read would miss the "
                    "change — pass ignore_changes=True to accept "
                    "append-side-only semantics"
                )
            added = self._added_files(s, location)
            if added:
                contributing.append(s)
            rels.extend(added)
        self._pos = head
        if not rels:
            return (
                self.spark.createDataFrame([], schema="_empty string").limit(
                    0
                ),
                head,
            )
        # r16 (guide §6): explicit union schema from the contributing
        # snapshots' schema-ids. The bare read this replaces inferred
        # from ONE sampled footer — under mid-range evolution its column
        # set depended on file listing order; the declared union is both
        # cheaper (no footer job) and deterministic. Legacy metadata
        # without snapshot schema-ids keeps the inferring read.
        rs = _range_read_schema(md, contributing)
        reader = (
            self.spark.read.schema(rs) if rs is not None else self.spark.read
        )
        df = reader.parquet(
            *(os.path.join(self.path, rel) for rel in rels)
        )
        return df, head

    def stream_to(self, write, max_batches: int = 1_000_000) -> int:
        return drain(self.next_batch, write, max_batches)
