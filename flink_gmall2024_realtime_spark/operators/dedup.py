"""Deduplication operators for large-scale training-data pipelines.

Exact and near-duplicate detection over a ``documents(doc_id, text, ...)``
table, designed for the 100 TB case:

- **exact**: md5 grouping — one shuffle on a 128-bit hash, no text shuffle.
- **n-gram Jaccard (brute candidates)**: exact, O(pairs sharing a shingle);
  the *verification* oracle, viable at test scale only.
- **MinHash + LSH**: the scale path. Shingle -> 60-bit minhash signature ->
  band buckets -> candidate pairs ONLY within buckets -> exact Jaccard
  verify. Data volume after banding is |docs| x bands tiny rows; candidates
  come from one hash-partitioned groupBy on the band hash (pairs expanded
  within each near-singleton bucket), so no O(n^2) comparison ever happens.
- **SimHash**: 48-bit per-doc fingerprint; near-dups = small Hamming
  distance. Computed fully declaratively (explode token-bit matrix ->
  majority per bit -> reassemble).
- **Containment**: asymmetric |A∩B|/min(|A|,|B|) over the brute candidate
  join — doc-inside-doc detection that symmetric Jaccard misses.
- **Span removal**: corpus-wide duplicated word-gram deletion (exact
  substring dedup), first occurrence kept; map-side gram build, keyed
  election.
- **Incremental**: a persistable per-doc index (``minhash_index``) plus
  batch-vs-index pair detection in O(batch + collisions) — how dedup
  actually runs when the corpus grows by ingestion batches.

All hashes are md5-derived (``functions.md5_long``) so the DuckDB oracle can
reproduce every value bit-for-bit — at production scale you would swap in
xxhash64 via one line without changing any plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import call_function
from pyspark.sql.types import StructField, StructType

from ..functions import md5_long, normalize_text, tokenize

# MinHash parameterization: 2-row-per-band at 64 perms gives ~100% recall at
# Jaccard >= 0.35 (P[miss] = (1 - j^2)^32; j=0.35 -> 1.6%, j=0.5 -> 0.02%).
# Mersenne prime 2^31-1: shingle hashes are 28-bit, so (a*h + b) stays well
# under 2^63 (no overflow in either Spark or DuckDB 64-bit arithmetic) while
# the mod genuinely wraps (a*h can exceed p many times over).
MINHASH_PERMS = 64
LSH_BAND_ROWS = 2
MERSENNE_P = (1 << 31) - 1

# Per-bucket candidate-expansion cap (see ``_bucket_pairs``): buckets are
# near-singleton on well-behaved corpora, but the degenerate input is exactly
# what a dedup operator exists for — a crawl with 100k identical boilerplate
# pages puts 100k ids in ONE bucket, and an uncapped all-pairs expansion
# materializes 10^10 structs inside a single row, which no partition-level
# skew handling (AQE splits partitions, never rows) can save.  Beyond the cap
# the expansion degrades to all-pairs-among-the-first-cap + star-around-min.
LSH_BUCKET_CAP = 256
SIMHASH_BUCKET_CAP = 2048


def _spread_for_arrow(df: DataFrame, par: int) -> DataFrame:
    """Round-robin repartition ONLY when the source arrives with fewer
    partitions than the target parallelism (r16, guide §2.3/§2.4): a small
    fixture file is one scan split, which would serialize the Arrow
    signing pass — but a warehouse-scale scan already has thousands of
    splits, and the old unconditional ``repartition(par)`` would SHUFFLE
    the heaviest bytes in the pipeline (the raw document text) only to
    reduce its parallelism. Partition-count check is driver-side plan
    inspection — no job."""
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _pairs_from_ids(with_ids: DataFrame, cap: int) -> DataFrame:
    """Capped (id_a < id_b) pair expansion over a frame carrying a sorted
    ``ids`` array column: all pairs among the first ``cap`` ids plus a star
    (min, x) edge for every id beyond — O(cap^2 + |ids|) structs per row
    instead of O(|ids|^2). Shared by bucket-collision expansion
    (``_bucket_pairs``) and identical-fingerprint group expansion
    (``simhash_pairs``)."""
    head = F.slice(F.col("ids"), 1, cap)
    all_pairs = F.filter(
        F.flatten(
            F.transform(
                head,
                lambda a: F.transform(head, lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    # empty when size <= cap, so no branch is needed: concat degenerates to
    # the plain all-pairs expansion on every non-hot bucket
    tail = F.slice(F.col("ids"), cap + 1, F.greatest(F.size("ids") - cap, F.lit(0)))
    star = F.transform(
        tail,
        lambda b: F.struct(F.element_at("ids", 1).alias("id_a"), b.alias("id_b")),
    )
    return (
        with_ids.select(F.explode(F.concat(all_pairs, star)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )


def _bucket_pairs(
    bands: DataFrame, bucket_col: str = "bkt", id_col: str = "doc_id", cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from bucket collisions, with the
    per-bucket expansion CAPPED: all pairs among the first ``cap`` ids
    (sorted, so deterministic) plus a star (bucket-min, x) edge for every id
    beyond — O(cap^2 + bucket) structs per bucket instead of O(bucket^2).

    Under the cap (every well-behaved corpus; the driver fixtures peak at 19
    ids/bucket for MinHash bands) the output is EXACTLY the all-pairs set.
    Over the cap, pair-level recall drops for ids past position ``cap`` —
    they connect only through the bucket-min hub. Component preservation is
    GUARANTEED only for identical-content floods (there the hub is
    byte-equal to every member, so the downstream exact verify always keeps
    the star edges — and the r5 collapse pre-pass removes such floods before
    banding anyway). In a HETEROGENEOUS over-cap bucket the hub may fail the
    exact verify against a tail member, which then loses all connectivity
    through this bucket — recall degrades and components can split. That
    regime is the signal to raise the cap or run ``exact_dedup`` first; the
    cap exists to bound the blow-up (100k copies of one page SHOULD be one
    cluster, not 5e9 pairs), not to promise lossless clustering there.
    No silent caps: measure with ``capped_bucket_stats`` (the adversarial
    scale harness logs it)."""
    bucket_ids = (
        bands.groupBy(bucket_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return _pairs_from_ids(bucket_ids, cap)


RESCUE_BUCKET_CAP = 4096


def _rescue_capped_candidates(
    bands: DataFrame,
    cap: int,
    rescue_cap: int = RESCUE_BUCKET_CAP,
    id_col: str = "doc_id",
    bucket_col: str = "bkt",
) -> DataFrame:
    """Component-preservation escape hatch for HETEROGENEOUS over-cap
    buckets (VERDICT r6 #8): re-expand JUST the buckets past ``cap`` with
    a larger deterministic budget — full pairs among the first
    ``rescue_cap`` member ids, star beyond.

    Why deterministic re-expansion and not another hash roll: in an
    over-cap bucket the tail ids connect only through the bucket-min hub,
    so a tail-tail near-dup pair whose ONLY collision was this bucket is
    lost when the hub fails exact verification against them. Re-banding
    the members under a permuted band layout looks attractive but is
    unsound in exactly the degenerate case that builds fat buckets: the
    low MinHash permutations (a_i*h+b_i with a_i*2^28 < p, i <= 3) are
    MONOTONE in the shingle hash, so every document sharing its
    minimum-hash shingle collides in those bands under ANY band
    regrouping — the re-banded bucket is the same fat bucket. A larger
    flat budget is luck-free: every pair among the first ``rescue_cap``
    distinct sets is probed and exact-verified, components up to
    ``rescue_cap`` are restored unconditionally, and past it the star cap
    degrades gracefully (documented residual — raise ``rescue_cap`` or
    run ``exact_dedup`` upstream).

    Bounded: touches only capped buckets (``capped_bucket_stats``'s
    count), O(rescue_cap^2 + |bucket|) structs per such bucket — opt-in
    precisely because a corpus with zero capped buckets pays one extra
    (empty) aggregation for nothing. Candidates feed the SAME exact
    verification as first-pass candidates, so false collisions cost only
    the probe."""
    fat = (
        bands.groupBy(bucket_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > cap)
    )
    return _pairs_from_ids(fat, rescue_cap)


def capped_bucket_stats(
    bands: DataFrame, bucket_col: str = "bkt", cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """One-row diagnostic for the no-silent-caps rule: (n_buckets,
    max_bucket, capped_buckets, capped_ids) over a banded frame.  Run it
    next to any LSH pair job whose input may be duplicate-heavy; a non-zero
    ``capped_buckets`` means ``_bucket_pairs`` star-capped those buckets
    (pair-level recall reduced, components preserved) and an ``exact_dedup``
    pre-pass is probably owed."""
    sizes = bands.groupBy(bucket_col).count()
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("count").alias("max_bucket"),
        F.sum(F.when(F.col("count") > cap, 1).otherwise(0)).alias("capped_buckets"),
        F.sum(F.when(F.col("count") > cap, F.col("count")).otherwise(0)).alias("capped_ids"),
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-gram (word-level) shingle array of a document."""
    toks = tokenize(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.

    Output: (content_hash, keep_id, dup_ct). Only the 32-char hash shuffles,
    not the documents."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_ct"))
    )


def _doc_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc by default.

    Deliberately NOT the array-transform formulation (``shingles()``): Spark's
    higher-order functions run interpreted per element, which measured ~4x
    slower than this posexplode + window-lead plan, whose expressions all stay
    in whole-stage codegen. Same output set.

    ``distinct=False`` skips the dedup exchange — correct for consumers that
    are duplicate-insensitive (min-aggregates, Python-set verification); only
    shingle-COUNTING consumers (``jaccard_pairs_brute``) need the set form."""
    from pyspark.sql import Window

    from ..functions import TOKEN_SPLIT_RE

    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT_RE)).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        "doc_id",
        "tok",
        *[F.lead("tok", j).over(w).alias(f"_t{j}") for j in range(1, n)],
    )
    shingle = F.concat_ws(" ", F.col("tok"), *[F.col(f"_t{j}") for j in range(1, n)])
    out = leads.filter(F.col(f"_t{n-1}").isNotNull()).select("doc_id", shingle.alias("shingle"))
    return out.distinct() if distinct else out


def jaccard_pairs_brute(
    docs: DataFrame,
    threshold: float = 0.35,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shared-shingle candidates.

    Candidate pairs = pairs sharing >= 1 shingle (a self equi-join on the
    shingle); Jaccard = |inter| / (|A| + |B| - |inter|). Exact but candidate
    volume scales with shingle popularity — use the MinHash path at scale.
    Output: (id_a, id_b, jaccard) with id_a < id_b, rounded to 6 dp."""
    sh = _doc_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on=(F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs_brute(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup detection: shingle **containment**
    ``|A ∩ B| / min(|A|, |B|)`` — catches a document embedded inside a
    larger one (quotes, wrapped boilerplate, page-of-pages), which symmetric
    Jaccard misses because the union is dominated by the big side.

    Candidates are pairs sharing >= 1 shingle (the brute equi-join), because
    MinHash banding has NO recall guarantee for containment: a small doc
    inside a big one has low Jaccard, so its signature rarely collides. A
    containment-safe sketch at corpus scale needs a different candidate
    generator (e.g. per-shingle inverted index with frequency cut, or
    one-sided minhash over the smaller set) — candidates here are exact,
    making this the verification oracle for such a sketch. Output:
    (id_a, id_b, containment) with id_a < id_b, 6 dp."""
    sh = _doc_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on=(F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn("containment", F.round(F.col("inter") / F.least("sz_a", "sz_b"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def containment_pairs_rare_shingle(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Containment pairs via a **rare-shingle inverted index** — the scale
    path ``containment_pairs_brute`` can't be.

    Candidate rule: each document indexes its ``k`` corpus-RAREST shingles
    (rank by (document frequency, hash) — total order, so deterministic);
    a pair is a candidate iff one side's rare shingle appears anywhere in
    the other. If containment(A in B) = c, each of A's shingles is in B
    with chance ~c, so recall over A's k rare shingles is ~1-(1-c)^k
    (c=0.5, k=8 -> 99.6%) — and rare shingles have LOW df by construction,
    so the inverted-index join fans out O(df) per probe instead of
    exploding on hot shingles. Exact containment verification runs on
    candidates only (codegen array_intersect over per-doc hash sets).

    r5, the fingerprint-collapse idiom: documents with IDENTICAL shingle
    sets group before the index is built — a boilerplate flood would
    otherwise (a) make every "rare" shingle's posting list O(flood) so
    candidates go quadratic (measured: a 4.5k-copy flood emitted 10.1M
    pairs in 58 s; 45k copies would hang), and (b) distort the rarity
    ranking itself (a shingle in 100k copies of one page is still
    structurally rare). Document frequency is therefore counted over
    DISTINCT sets; within-group pairs ARE the containment-1.0 pairs,
    emitted directly with a capped expansion; verified representative
    pairs expand through member lists (identical sets have identical
    containment to everything).

    All shuffles are equi-keyed: df count + rarity rank on the shingle
    hash, probe join on the hash, verification attach on rep id. The
    companion oracle replicates the same rep-level candidate rule, so the
    entry is hash-exact while honestly representing the (near-1, not
    exactly-1) recall of the index. Output: (id_a, id_b, containment),
    id_a < id_b."""
    from pyspark.sql import Window

    sh = _doc_shingles(docs, text_col, id_col, n).select(
        "doc_id", md5_long(F.col("shingle")).alias("hs")
    )
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("hs")).alias("shs"), F.count(F.lit(1)).alias("sz")
    )
    groups = (
        sets.groupBy("shs")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.first("sz").alias("sz"))
        .localCheckpoint(eager=True)
    )
    intra = _pairs_from_ids(groups.filter(F.size("ids") > 1), bucket_cap).select(
        "id_a", "id_b", F.lit(1.0).alias("containment")
    )
    reps = groups.select(F.element_at("ids", 1).alias("doc_id"), "shs", "sz")
    rh = reps.select("doc_id", F.explode("shs").alias("hs"))
    dfq = rh.groupBy("hs").agg(F.count(F.lit(1)).alias("df"))
    ranked = rh.join(dfq, "hs").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "hs")),
    )
    rare = ranked.filter(F.col("rn") <= k).select(F.col("doc_id").alias("rid"), "hs")
    cand = (
        rare.join(rh, "hs")
        .filter(F.col("rid") != F.col("doc_id"))
        .select(
            F.least("rid", "doc_id").alias("id_a"),
            F.greatest("rid", "doc_id").alias("id_b"),
        )
        .distinct()
    )
    pairs = (
        cand.join(
            reps.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            reps.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    rep_pairs = (
        pairs.withColumn("containment", F.round(inter / F.least("sz_a", "sz_b"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    cross = (
        rep_pairs.join(
            groups.select(F.element_at("ids", 1).alias("id_a"), F.col("ids").alias("ids_a")), "id_a"
        )
        .join(
            groups.select(F.element_at("ids", 1).alias("id_b"), F.col("ids").alias("ids_b")), "id_b"
        )
        .select(F.explode("ids_a").alias("ia"), "ids_b", "containment")
        .select("ia", F.explode("ids_b").alias("ib"), "containment")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "containment",
        )
    )
    return intra.unionByName(cross)


def minhash_signatures(
    docs: DataFrame,
    perms: int = MINHASH_PERMS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature: for each permutation i,
    ``min((a_i * h + b_i) mod p)`` over 31-bit shingle hashes ``h``.

    Coefficients are fixed odd/even functions of i so the signature is fully
    deterministic and oracle-reproducible. Output: (doc_id, sig array<long>).
    Computed doc-locally in one Arrow pass (``_doc_sig_sets``) — no shuffle."""
    return _doc_sig_sets(docs, perms, n, text_col, id_col).select("doc_id", "sig")


def _doc_sig_sets(
    docs: DataFrame,
    perms: int,
    n: int,
    text_col: str,
    id_col: str,
    parallelism: int | None = None,
    band_rows: int = LSH_BAND_ROWS,
) -> DataFrame:
    """One Arrow pass per document computing (doc_id, sig, shs, bkt): the
    distinct shingle set, the MinHash signature, and the per-band LSH bucket
    keys — entirely doc-locally.

    This is the shape that wins at 100 TB: shingling and signing are
    per-document computations, so doing them inside ``mapInPandas`` means the
    exploded token/shingle frame NEVER exists as a distributed dataset and
    never shuffles (the declarative twin needs a window over an exploded
    ~50x-larger frame partitioned by doc_id). Values are bit-identical to the
    Column forms: hashlib md5 == Spark ``md5`` == DuckDB ``md5`` on utf-8
    bytes; the permutation arithmetic stays in int64 with no overflow
    (h < 2^28, a_i < 2^7). Docs with fewer than ``n`` tokens produce no row,
    matching the groupBy-over-no-shingles behavior.

    ``_spread_for_arrow`` before the pass: a small fixture file arrives as
    one scan split, which would serialize the pass, so it round-robins up to
    the session parallelism — but ONLY then; a warehouse-scale scan already
    has thousands of splits and keeps them (r16: the old unconditional
    repartition shuffled the raw text at any scale).

    ``shs`` carries 60-bit shingle hashes, not the shingle strings: set
    intersection sees equal strings as equal hashes always, and an unequal
    pair colliding at 60 bits within one document pair's ~10^2-10^3 shingles
    is ~1e-12 — while the hash arrays are ~6x narrower than the strings
    through the checkpoint and both verification attach joins.

    ``bkt`` is one 64-bit FNV-1a key per LSH band (band index folded into
    the seed so identical row values in different bands never share a key).
    Computing it here — a vectorized reshape+mix over the signature — costs
    ~nothing and lets the LSH candidate step be a single ``explode`` +
    long-key groupBy, instead of re-deriving 32 buckets per row from array
    subscripts and string concat JVM-side and shuffling ~25-char strings."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    from ..functions import TOKEN_SPLIT_RE

    par = parallelism or docs.sparkSession.sparkContext.defaultParallelism
    a_co = np.array([2 * i + 1 for i in range(perms)], dtype=np.int64)
    b_co = np.array([i * i + 1 for i in range(perms)], dtype=np.int64)
    split_re = re.compile(TOKEN_SPLIT_RE)
    n_bands = perms // band_rows
    fnv_offset, fnv_prime = np.uint64(14695981039346656037), np.uint64(1099511628211)
    band_seed = (fnv_offset ^ np.arange(n_bands, dtype=np.uint64)) * fnv_prime

    def fn(batches):
        # r7: shingle hashes memoized ACROSS documents within the task (the
        # simhash pass's idiom) — boilerplate-heavy corpora re-hash the same
        # shingles in every doc; on the self-similar driver fixture this
        # removes most md5 calls. Bounded: cleared past 4M distinct entries
        # (a long-running 100 TB task must not grow the dict unboundedly).
        # Values are (h28, h60) int pairs, so the per-doc set dedups on
        # unsalted int hashing — iteration order is content-deterministic,
        # independent of PYTHONHASHSEED, strictly stronger than the prior
        # hexdigest-set ordering the groupBy("shs") equality relied on.
        hcache: dict[str, tuple[int, int]] = {}

        def h_of(sgl: str) -> tuple[int, int]:
            v = hcache.get(sgl)
            if v is None:
                if len(hcache) > 4_000_000:
                    hcache.clear()
                d = hashlib.md5(sgl.encode()).hexdigest()
                v = (int(d[:7], 16), int(d[:15], 16))
                hcache[sgl] = v
            return v

        for pdf in batches:
            ids, sigs, sets, bkts = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in split_re.split(text.strip()) if t]
                if len(toks) < n:
                    continue
                digests = {
                    h_of(" ".join(toks[i : i + n]))
                    for i in range(len(toks) - n + 1)
                }
                # one md5 per distinct shingle feeds BOTH hashes: the 28-bit
                # permutation input (first 7 hex chars, matching the SQL
                # oracle's md5-derived minhash) and the 60-bit verify hash
                h = np.array([p[0] for p in digests], dtype=np.int64)
                sig = ((a_co[:, None] * h[None, :] + b_co[:, None]) % MERSENNE_P).min(axis=1)
                bk = band_seed.copy()
                for r in range(band_rows):
                    bk = (bk ^ sig.reshape(n_bands, band_rows)[:, r].astype(np.uint64)) * fnv_prime
                ids.append(did)
                sigs.append(sig)
                sets.append(np.array([p[1] for p in digests], dtype=np.int64))
                bkts.append(bk.view(np.int64))
            yield pd.DataFrame({"doc_id": ids, "sig": sigs, "shs": sets, "bkt": bkts})

    return _spread_for_arrow(docs.select(id_col, text_col), par).mapInPandas(
        fn, "doc_id long, sig array<bigint>, shs array<bigint>, bkt array<bigint>"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.35,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
    rescue_capped: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified — the scale path.

    ``rescue_capped=True`` (VERDICT r6 #8) adds the bounded second pass of
    ``_rescue_capped_candidates`` over over-cap buckets — deterministic
    re-expansion with a larger budget (full pairs to ``RESCUE_BUCKET_CAP``,
    star beyond), so a tail-tail near-dup pair the star cap would have
    dropped reconnects unconditionally for buckets up to that budget.
    Off by default: a corpus whose ``capped_bucket_stats`` shows zero
    capped buckets (every driver fixture; any corpus behind ``exact_dedup``)
    gets nothing from it, and leaving it off keeps the operator's plan
    byte-stable for the oracle. Flip it on when the stats witness
    (``dedup_minhash_bucket_stats``) reports heterogeneous cap hits.

    One doc-local Arrow pass computes each doc's shingle set and MinHash
    signature (``_doc_sig_sets`` — the exploded shingle frame never exists
    distributed, so nothing shuffles until the per-doc set frame) ->
    **identical shingle sets collapse into groups** (r5, the
    fingerprint-collapse idiom: a boilerplate flood becomes ONE
    representative, so it can neither crowd real near-dups out of capped
    buckets nor multiply banding work; within-group pairs ARE the Jaccard
    1.0 pairs, emitted directly with a capped expansion) -> band each
    representative signature into ``perms/band_rows`` buckets -> candidate
    pairs expanded within each (band, bucket) group, star-capped at
    ``bucket_cap`` (``_bucket_pairs``) -> exact n-gram Jaccard verify on
    candidates only -> verified representative pairs expand through both
    groups' member lists (identical sets have identical Jaccard to
    everything, so the rep-level value is exact for every member pair).
    Nothing is O(n^2); capped recall loss is measured by
    ``capped_bucket_stats`` and components always survive (the
    StarCapComponentPreservation tests).

    The grouped frame feeds three branches (intra expansion, banding, and
    the fused verify-attach + member-expansion joins — r16 collapsed the
    former four: shs and ids attach together, the expansion explodes after
    the verify filter); it is materialized once with an eager
    ``localCheckpoint`` — the checkpointed RDD is reclaimed by the
    ContextCleaner when the returned DataFrame is garbage-collected,
    whereas a SQL-cache entry would pin executor memory until someone
    remembers to unpersist."""
    base = _doc_sig_sets(docs, perms, n, text_col, id_col, band_rows=band_rows)
    # group key = the exact shingle SET: collision-proof (unlike a 60-bit
    # content hash at web scale), and equality of sets is precisely the
    # "Jaccard exactly 1.0" predicate the intra pairs claim. ``bkt`` is a
    # pure function of the set (sig = min-hash over it), so first() is
    # deterministic within a group.
    groups = (
        base.groupBy("shs")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.first("bkt").alias("bkt"))
        .localCheckpoint(eager=True)
    )
    # (a) within-group: byte-equal shingle sets, Jaccard exactly 1.0 (the
    # oracle's round(|A∩B|/|A∪B|, 6) == 1.0), capped expansion. Empty-set
    # docs are excluded: 0/0 is NULL in both engines, never a pair.
    intra = _pairs_from_ids(
        groups.filter((F.size("ids") > 1) & (F.size("shs") > 0)), bucket_cap
    ).select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    # (b) cross-group: the pre-r5 pipeline, now over one rep per distinct
    # set. Banding is an explode of 32 longs per rep (bucket keys were
    # already computed in the Arrow pass — vectorized FNV over the
    # signature, band index in the seed); candidates come from ONE shuffle
    # of the banded frame with the ``_bucket_pairs`` star cap; exact
    # verification attaches each side's 60-bit shingle-hash set for a
    # codegen'd ``array_intersect`` fused into the join stage (equi-joins
    # on rep id; AQE broadcasts the small side). F.round is half-away like
    # DuckDB's ROUND.
    bands = groups.select(
        F.element_at("ids", 1).alias("doc_id"), F.explode("bkt").alias("bkt")
    )
    cand = _bucket_pairs(bands, "bkt", "doc_id", bucket_cap)
    if rescue_capped:
        cand = cand.unionByName(_rescue_capped_candidates(bands, bucket_cap))
    cand = cand.distinct()
    # distinct: a true near-dup pair collides in many bands.
    # r16 (guide §2.4, VERDICT r15 #4): each side's verify payload (shs)
    # and member list (ids) attach in ONE join per side — the old form ran
    # two more joins after verification to re-fetch the member lists; the
    # ids arrays are near-singleton, so carrying them through the verify
    # filter costs bytes only for candidates that fail it.
    side = groups.select(F.element_at("ids", 1).alias("rep"), "shs", "ids")
    pairs = (
        cand.join(
            side.select(
                F.col("rep").alias("id_a"),
                F.col("shs").alias("shs_a"),
                F.col("ids").alias("ids_a"),
            ),
            "id_a",
        )
        .join(
            side.select(
                F.col("rep").alias("id_b"),
                F.col("shs").alias("shs_b"),
                F.col("ids").alias("ids_b"),
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    # (c) expand verified rep pairs through both member lists — exactly the
    # member pairs, each carrying the (exact) rep-level Jaccard (identical
    # sets have identical Jaccard to everything, so the rep-level value is
    # exact for every member pair)
    cross = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.explode("ids_a").alias("ia"), "ids_b", "jaccard")
        .select("ia", F.explode("ids_b").alias("ib"), "jaccard")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def minhash_lsh_pairs_cross(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.35,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-dup pairs: every (query-doc, corpus-doc)
    pair with exact n-gram Jaccard >= threshold — NO within-side pairs.

    This is document-level train/test contamination detection (the
    winnowed-fingerprint ``text_decontamination`` entry catches verbatim
    span overlap; this catches whole-document near-duplication): the query
    side is an eval/benchmark set, the corpus side is the training corpus,
    and the corpus must never self-join.  Both sides run the same doc-local
    Arrow signature pass (``_doc_sig_sets``), candidates come from one
    equi-join on the precomputed band-bucket keys (identical band seeds on
    both sides, so cross-side collisions work), and exact verification
    attaches each side's 60-bit shingle-hash set for a codegen
    ``array_intersect``.  At scale the query side is small relative to the
    corpus — AQE broadcasts its banded frame, so the corpus side never
    shuffles more than its banded keys.  Output: (query_id, corpus_id,
    jaccard)."""
    qbase = _doc_sig_sets(
        queries, perms, n, text_col, id_col, band_rows=band_rows
    ).localCheckpoint(eager=True)
    # r5: the TRAINING side collapses identical shingle sets before banding
    # (the fingerprint-collapse idiom) — web training corpora are
    # boilerplate-heavy BY NATURE, and without the collapse a 100k-copy
    # boilerplate page multiplies the band join by 100k. One rep per
    # distinct set joins the eval side; hits expand through the group's
    # member ids with the (exact — identical sets) rep-level Jaccard.
    cgroups = (
        _doc_sig_sets(corpus, perms, n, text_col, id_col, band_rows=band_rows)
        .groupBy("shs")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.first("bkt").alias("bkt"))
        .localCheckpoint(eager=True)
    )
    creps = cgroups.select(F.element_at("ids", 1).alias("corpus_id"), "shs", "bkt")
    qb = qbase.select(F.col("doc_id").alias("query_id"), F.explode("bkt").alias("bkt"))
    cb = creps.select("corpus_id", F.explode("bkt").alias("bkt"))
    cand = qb.join(cb, "bkt").select("query_id", "corpus_id").distinct()
    pairs = (
        cand.join(
            qbase.select(F.col("doc_id").alias("query_id"), F.col("shs").alias("shs_q")),
            "query_id",
        )
        .join(
            creps.select("corpus_id", F.col("shs").alias("shs_c")),
            "corpus_id",
        )
    )
    inter = F.size(F.array_intersect("shs_q", "shs_c"))
    union = F.size("shs_q") + F.size("shs_c") - inter
    rep_hits = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("query_id", "corpus_id", "jaccard")
    )
    return (
        rep_hits.join(
            cgroups.select(F.element_at("ids", 1).alias("corpus_id"), "ids"), "corpus_id"
        )
        .select("query_id", F.explode("ids").alias("corpus_id"), "jaccard")
    )


def minhash_index(
    docs: DataFrame,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable per-doc LSH index frame: (doc_id, sig, shs, bkt).

    This is what an incremental pipeline stores between ingestion batches
    (parquet, bucketed by doc_id): the signature, the 60-bit shingle-hash
    set, and the per-band bucket keys — everything needed to dedup future
    batches against the corpus WITHOUT re-reading or re-shingling old text."""
    return _doc_sig_sets(docs, perms, n, text_col, id_col, band_rows=band_rows)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.35,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs touching an ingestion batch: new-vs-indexed plus
    new-vs-new, WITHOUT re-scoring the indexed corpus against itself.

    This is how dedup actually runs at 100 TB: the corpus grows by batches,
    and re-running the full O(corpus) pairs job per batch is infeasible —
    per-batch work must be O(batch + collisions). The batch's signatures are
    one doc-local Arrow pass; new-vs-index candidates come from an equi-join
    of the batch's ~|batch|x``bands`` bucket keys against the index's banded
    frame (hash join on a long key — the index side ships only (bkt,
    doc_id, shs-attach later)); new-vs-new candidates reuse the in-bucket
    expansion. Verification is the same codegen ``array_intersect`` on the
    stored shingle sets, so indexed documents' TEXT is never touched.

    Emits (id_a, id_b, jaccard) with id_a < id_b, exactly the rows of the
    full-corpus ``minhash_lsh_pairs`` that involve >= 1 batch document.
    ``new_index`` lets a caller that already computed the batch's index
    frame (e.g. the streaming sink, which also appends it to the store)
    pass it in instead of re-running the Arrow pass; it should arrive
    materialized (checkpointed/read-back) since it feeds three branches.

    Doc-id overlap (a re-crawl, or a replay that bypassed the sink's
    commit markers) is handled by ignoring the INDEXED copy of any doc_id
    present in the batch — latest text wins. Without this guard the
    ``doc_id != idx_id`` filter would skip comparing the two versions
    while the sets union double-attached the doc's shingles, fanning out
    every verification join on it. The guard is one broadcast anti-join
    against the (small) batch id set."""
    new_base = (
        new_index
        if new_index is not None
        else _doc_sig_sets(
            new_docs, perms, n, text_col, id_col, band_rows=band_rows
        ).localCheckpoint(eager=True)
    )
    index = index.join(new_base.select("doc_id"), "doc_id", "left_anti")
    idx_bands = index.select(F.col("doc_id").alias("idx_id"), F.explode("bkt").alias("bkt"))
    return minhash_lsh_pairs_banded(
        new_base, idx_bands, index.select("doc_id", "shs"), threshold=threshold
    )


def minhash_lsh_pairs_banded(
    new_base: DataFrame,
    idx_bands: DataFrame,
    idx_sets: DataFrame,
    threshold: float = 0.35,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Core of the incremental LSH dedup, with the index side supplied in
    its STORED shape: ``idx_bands`` (bkt, idx_id) pre-exploded and
    ``idx_sets`` (doc_id, shs) for verification — exactly what a
    band-partitioned index store hands over after pruning to the
    partitions colliding with the batch (``streaming/sinks.py``). Callers
    must ensure idx rows exclude the batch's doc_ids (latest-text-wins;
    ``minhash_lsh_pairs_incremental`` anti-joins, the partitioned sink's
    commit ordering guarantees it structurally).

    r5: the BATCH side collapses identical shingle sets before banding
    (the same idiom as the full-corpus operator), which closes the
    duplicate-flood hazard on the service path: a boilerplate-heavy batch
    against an index holding many copies of the same page used to stream
    |batch dups| x |index dups| x bands join rows; now one representative
    per distinct batch set joins the index, and verified hits expand
    through the batch group's members — join volume is bounded by (index
    collisions x bands) and output, never by the batch's duplication
    factor. Within-batch identical docs emit directly (Jaccard exactly
    1.0, capped expansion); cross-BATCH same-set pairs verify at 1.0
    through the band join and are exact. Under the cap the union of
    per-batch emissions equals the full-corpus operator; an over-cap
    flood emits the per-batch capped set (slightly more than the
    batch operator's globally-capped set — components identical).

    r7 (VERDICT r5 #5, store-side collapse): BOTH sides may arrive
    pre-grouped. A ``new_base`` carrying an ``ids`` column is taken as the
    already-collapsed group frame (one row per distinct set, members in
    ``ids`` — the streaming sink computes it once and also stores it);
    an ``idx_sets`` carrying ``ids`` means the INDEX stores one rep per
    distinct set per ingestion batch, and verified rep-level pairs expand
    through the index group's member list too (``id_a != id_b`` guards
    the self pair in the degenerate replay-plus-lost-marker case). Without
    ``ids`` each index row is its own singleton group — the pre-r7 flat
    layout, still used by ``minhash_lsh_pairs_incremental``."""
    if "ids" in new_base.columns:
        ngroups = new_base.select("shs", "ids", "bkt")
    else:
        ngroups = (
            new_base.groupBy("shs")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.first("bkt").alias("bkt"))
            .localCheckpoint(eager=True)
        )
    # (a) within-batch identical sets: Jaccard exactly 1.0, capped
    intra_eq = _pairs_from_ids(
        ngroups.filter((F.size("ids") > 1) & (F.size("shs") > 0)), bucket_cap
    ).select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    nreps = ngroups.select(F.element_at("ids", 1).alias("doc_id"), "shs", "bkt")
    new_bands = nreps.select("doc_id", F.explode("bkt").alias("bkt"))
    # (b) new-rep vs index: candidates collide on a band bucket key
    cand_x = (
        new_bands.join(idx_bands, "bkt")
        .filter(F.col("doc_id") != F.col("idx_id"))
        .select(F.col("doc_id").alias("rep"), "idx_id")
        .distinct()
    )
    vx = (
        cand_x.join(nreps.select(F.col("doc_id").alias("rep"), F.col("shs").alias("shs_a")), "rep")
        .join(idx_sets.select(F.col("doc_id").alias("idx_id"), F.col("shs").alias("shs_b")), "idx_id")
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    rep_x = (
        vx.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("rep", "idx_id", "jaccard")
    )
    if "ids" in idx_sets.columns:
        # store-side groups: expand through BOTH member lists
        out_x = (
            rep_x.join(
                ngroups.select(F.element_at("ids", 1).alias("rep"), "ids"), "rep"
            )
            .join(
                idx_sets.select(
                    F.col("doc_id").alias("idx_id"), F.col("ids").alias("idx_ids")
                ),
                "idx_id",
            )
            .select(F.explode("ids").alias("m"), "idx_ids", "jaccard")
            .select("m", F.explode("idx_ids").alias("im"), "jaccard")
            .filter(F.col("m") != F.col("im"))
            .select(
                F.least("m", "im").alias("id_a"),
                F.greatest("m", "im").alias("id_b"),
                "jaccard",
            )
        )
    else:
        out_x = (
            rep_x.join(
                ngroups.select(F.element_at("ids", 1).alias("rep"), "ids"), "rep"
            )
            .select(F.explode("ids").alias("m"), "idx_id", "jaccard")
            .select(
                F.least("m", "idx_id").alias("id_a"),
                F.greatest("m", "idx_id").alias("id_b"),
                "jaccard",
            )
        )
    # (c) new-rep vs new-rep: capped in-bucket expansion over batch reps
    cand_n = _bucket_pairs(new_bands, "bkt", "doc_id", bucket_cap).distinct()
    vn = (
        cand_n.join(nreps.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a")), "id_a")
        .join(nreps.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b")), "id_b")
    )
    rep_n = (
        vn.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out_n = (
        rep_n.join(
            ngroups.select(F.element_at("ids", 1).alias("id_a"), F.col("ids").alias("ids_a")), "id_a"
        )
        .join(
            ngroups.select(F.element_at("ids", 1).alias("id_b"), F.col("ids").alias("ids_b")), "id_b"
        )
        .select(F.explode("ids_a").alias("ia"), "ids_b", "jaccard")
        .select("ia", F.explode("ids_b").alias("ib"), "jaccard")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    return intra_eq.unionByName(out_x).unionByName(out_n)


def simhash(docs: DataFrame, bits: int = 48, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint: bit b set iff the sum over distinct tokens of
    (+1 if token-hash bit b else -1) is positive.

    Computed in ONE doc-local Arrow pass (the ``_doc_sig_sets`` idiom): per
    document, hash its distinct tokens once into an int64 vector, unpack to
    a (tokens x bits) sign matrix in numpy, column-sum, take signs, repack.
    The declarative twin (explode tokens -> distinct -> a 48-conditional-sum
    groupBy) is linear and JVM-side but measured ~2.3 ms/doc — the exploded
    token frame shuffles for the distinct AND the aggregate carries 48
    accumulator columns; here the token frame never exists distributed and
    the 48 partial sums are one vectorized matrix reduction.  Values are
    bit-identical: hashlib md5 hexdigest[:12] == ``md5_long(col, 12)`` ==
    DuckDB md5 on utf-8 bytes, distinct-token semantics via a Python set,
    and all-whitespace docs produce no row (matching the groupBy-over-
    nothing behavior).  A per-partition token->hash cache exploits natural
    vocabulary reuse (Zipf: most md5 calls hit the cache).  Output:
    (doc_id, simhash bigint)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    from ..functions import TOKEN_SPLIT_RE

    par = docs.sparkSession.sparkContext.defaultParallelism
    split_re = re.compile(TOKEN_SPLIT_RE)
    shifts = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << shifts).astype(np.int64)

    def fn(batches):
        hcache: dict[str, int] = {}

        def h_of(tok: str) -> int:
            v = hcache.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)
                hcache[tok] = v
            return v

        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not text:  # NULL/empty text: no row, matching the
                    continue  # declarative trim/split/explode-on-NULL path
                toks = {t for t in split_re.split(text.strip()) if t}
                if not toks:
                    continue
                h = np.fromiter((h_of(t) for t in toks), dtype=np.int64, count=len(toks))
                sums = (((h[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                ids.append(did)
                fps.append(int(weights[sums > 0].sum()))
            yield pd.DataFrame(
                {"doc_id": pd.array(ids, dtype="int64"), "simhash": pd.array(fps, dtype="int64")}
            )

    return _spread_for_arrow(docs.select(id_col, text_col), par).mapInPandas(
        fn, "doc_id long, simhash long"
    )


def _simhash_combo_layout(bits: int, chunks: int, max_hamming: int):
    """(chunk width, chunk mask, size-(chunks - max_hamming) chunk
    combinations, per-combo key space) — the pigeonhole banding layout
    shared by ``simhash_pairs`` and ``simhash_band_stats``."""
    from itertools import combinations

    assert max_hamming < chunks, "pigeonhole guarantee needs max_hamming < chunks"
    assert bits % chunks == 0, "chunks must divide bits"
    width = bits // chunks
    mask = (1 << width) - 1
    combo_size = chunks - max_hamming
    combos = list(combinations(range(chunks), combo_size))
    return width, mask, combos, (mask + 1) ** combo_size


def minhash_band_stats(
    docs: DataFrame,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """The no-silent-caps measurement for the MinHash banding (VERDICT r5
    #8), as a first-class oracle-checkable query: band-bucket population
    stats over the rep-level banded frame — exactly the frame
    ``minhash_lsh_pairs`` buckets on (identical shingle sets already
    collapsed to one representative) — (n_buckets, max_bucket,
    capped_buckets, capped_ids). A non-zero ``capped_buckets`` means
    ``_bucket_pairs`` star-capped those buckets (pair-level recall reduced,
    components preserved for identical-content floods); on the driver
    fixtures it must be 0, which the catalog entry proves every round."""
    base = _doc_sig_sets(docs, perms, n, text_col, id_col, band_rows=band_rows)
    # one rep per distinct shingle set — bkt is a pure function of the set
    groups = base.groupBy("shs").agg(F.first("bkt").alias("bkt"))
    bands = groups.select(F.explode("bkt").alias("bkt"))
    return capped_bucket_stats(bands, "bkt", cap)


def simhash_band_stats(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 48,
    chunks: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """The no-silent-caps measurement for the SimHash banding, as a
    first-class (oracle-checkable) query: combo-bucket population stats
    over the DISTINCT-fingerprint frame — (n_buckets, max_bucket,
    capped_buckets, capped_ids). A non-zero ``capped_buckets`` means
    ``simhash_pairs`` star-capped those buckets (pair-level recall
    reduced, components preserved); run it next to any pair job whose
    input may be duplicate-heavy."""
    width, mask, combos, _ = _simhash_combo_layout(bits, chunks, max_hamming)
    fp = simhash(docs, bits=bits, text_col=text_col, id_col=id_col)
    reps = fp.groupBy("simhash").agg(F.min("doc_id").alias("rep"))

    def combo_key(ci: int, combo: tuple[int, ...]):
        acc = F.lit(ci).cast("long")
        for c in combo:
            acc = acc * F.lit(mask + 1) + F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask))
        return acc

    pieces = reps.select(
        F.explode(F.array(*[combo_key(ci, cb) for ci, cb in enumerate(combos)])).alias("ck")
    )
    return capped_bucket_stats(pieces, "ck", cap)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 48,
    chunks: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup PAIRS with **guaranteed-recall** combo banding
    (Manku-style web dedup, generalized): split each ``bits``-bit
    fingerprint into ``chunks`` pieces and key every size-``(chunks -
    max_hamming)`` combination of chunks.  By pigeonhole, ``max_hamming``
    bit errors damage at most ``max_hamming`` chunks, so two fingerprints
    within the distance agree on some full combo — candidates collide on
    (combo index, concatenated chunk values), an equi-key groupBy with
    capped in-bucket expansion, never O(n^2) — and the exact
    ``bit_count(xor) <= max_hamming`` filter loses nothing.  Recall is
    exactly 1, which is why the oracle can be the plain quadratic Hamming
    join.

    Why combos and not single chunks (the chunks=4 special case, whose sole
    combo size is 1): bucket population scales ~n/2^key_bits, and 48/4 =
    12-bit keys collapse at corpus scale — the sf0.1 fixture (5k docs of
    shared vocabulary) already piles 1656 docs into one chunk bucket, where
    the default 6-choose-3 combos (24-bit keys, 20/doc) peak at 903 and a
    real web corpus's buckets shrink ~4000x.

    Plan shape (what makes this the 100 TB path):

    1. **Identical fingerprints collapse BEFORE banding.** Documents group
       by their fingerprint value; only one representative per distinct
       fingerprint enters the banding. This is the decisive reduction on
       duplicate-heavy corpora: a group of g identical fingerprints lands
       g rows in EVERY one of its C(chunks, combo_size) combo buckets, so
       uncollapsed it costs combos * g^2 join work (the sf0.1 fixture's
       253-doc group alone: 20 * 253^2 ~ 1.3M streamed pairs, measured
       23.8 s at x1 / 133 s at x10 without the collapse); collapsed it
       costs combos * 1. Within-group pairs (Hamming 0) are emitted
       directly from the group's id array — output-proportional, the
       pairs exist in the answer anyway — and cross-group pairs expand
       through the two groups' id arrays after the fingerprint-level
       verify, again output-proportional.
    2. The representative fingerprint rides WITH the banded row, so
       in-bucket candidates stream out of one equi-join on the bucket key
       and are verified inline — no per-bucket array materializes, no
       attach joins. Cross-bucket dedup costs nothing: a fingerprint pair
       is emitted only from its MINIMUM colliding combo, a pure function
       of ``xor(fp_a, fp_b)`` evaluated in codegen (the former global
       ``distinct`` shuffled up-to-20x-multiplied candidates).
    3. Hot buckets and giant identical-fp groups are rank-capped: all
       pairs among the first ``bucket_cap`` entries plus star (min, x)
       edges beyond — a duplicate-heavy flood degrades to one linear star
       component instead of 10^10 pairs. Uncapped inputs (every driver
       fixture: max group 253, max rep-bucket well under 2048) are EXACT,
       so the quadratic Hamming join stays a sound oracle. Capped runs
       guarantee components only for identical-fingerprint floods (the
       within-group star is Hamming 0 by construction); in a heterogeneous
       over-cap bucket the hub may exceed ``max_hamming`` against a tail
       rep — and the min-combo bitmap filter can additionally drop a pair
       whose earlier colliding combo capped it out — so recall degrades
       and components may split. ``simhash_band_stats`` is the signal to
       raise the cap or pre-pass ``exact_dedup`` (see ``_bucket_pairs``).

    Output: (id_a, id_b, hamming), id_a < id_b."""
    from pyspark.sql import Window

    width, mask, combos, key_space = _simhash_combo_layout(bits, chunks, max_hamming)
    fp = simhash(docs, bits=bits, text_col=text_col, id_col=id_col)
    # one row per DISTINCT fingerprint, carrying the sorted member ids;
    # materialized once (eager localCheckpoint) — feeds the intra-group
    # expansion, the banding, and both sides of the cross-group expansion
    groups = (
        fp.groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .localCheckpoint(eager=True)
    )

    # (a) within-group: identical fingerprints, Hamming 0, capped expansion
    intra = _pairs_from_ids(groups.filter(F.size("ids") > 1), bucket_cap).select(
        "id_a", "id_b", F.lit(0).alias("hamming")
    )

    # (b) cross-group: band one representative per distinct fingerprint
    reps = groups.select("simhash", F.element_at("ids", 1).alias("rep"))

    def combo_key(ci: int, combo: tuple[int, ...]):
        acc = F.lit(ci).cast("long")
        for c in combo:
            acc = acc * F.lit(mask + 1) + F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask))
        return acc

    pieces = reps.select(
        "rep",
        "simhash",
        F.explode(F.array(*[combo_key(ci, cb) for ci, cb in enumerate(combos)])).alias("ck"),
    )
    # rank within bucket: the cap boundary (reps are unique per bucket, so
    # the rank is deterministic)
    ranked = pieces.withColumn(
        "r", F.row_number().over(Window.partitionBy("ck").orderBy("rep"))
    )
    a = ranked.filter(F.col("r") <= bucket_cap).select(
        "ck", F.col("rep").alias("rep_a"), F.col("simhash").alias("fp_a")
    )
    b = ranked.filter(F.col("r") <= bucket_cap).select(
        "ck", F.col("rep").alias("rep_b"), F.col("simhash").alias("fp_b")
    )
    core = a.join(b, "ck").filter(F.col("rep_a") < F.col("rep_b"))
    hub = ranked.filter(F.col("r") == 1).select(
        "ck", F.col("rep").alias("rep_a"), F.col("simhash").alias("fp_a")
    )
    overflow = ranked.filter(F.col("r") > bucket_cap).select(
        "ck", F.col("rep").alias("rep_b"), F.col("simhash").alias("fp_b")
    )
    star = hub.join(overflow, "ck")  # rep_a == bucket min < rep_b by rank order
    cand = core.unionByName(star)

    # emit each fingerprint pair exactly once: only from its minimum
    # colliding combo, a pure function of the fingerprints already on the
    # row.  Encoded FLAT — a chunk-is-clean bit vector, then combo
    # collision = AND of its chunk bits, then "no earlier combo collides"
    # = bitmap & (2^this - 1) == 0 — because a 20-level nested CASE WHEN
    # blows the codegen method budget and drops the whole join stage to
    # interpreted evaluation (measured ~1.5x slower end-to-end at the
    # 100x fixture).
    xor = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    clean = [
        (F.shiftright(xor, c * width).bitwiseAND(F.lit(mask)) == 0).cast("long")
        for c in range(chunks)
    ]
    bitmap = F.lit(0).cast("long")
    for ci, combo in enumerate(combos):
        coll = clean[combo[0]]
        for c in combo[1:]:
            coll = coll * clean[c]
        bitmap = bitmap + call_function("shiftleft", coll, F.lit(ci))
    this_combo = (F.col("ck") / F.lit(key_space)).cast("long")
    earlier_mask = call_function(
        "shiftleft", F.lit(1).cast("long"), this_combo.cast("int")
    ) - F.lit(1)

    fp_pairs = (
        cand.withColumn("hamming", F.bit_count(xor))
        .filter(
            (F.col("hamming") <= max_hamming)
            & (F.col("hamming") > 0)  # intra covers identical fps exactly
            & (bitmap.bitwiseAND(earlier_mask) == 0)
        )
        .select("fp_a", "fp_b", "hamming")
    )

    # expand verified fingerprint pairs through their member-id arrays —
    # |ids_a| x |ids_b| rows, i.e. exactly the output — and order each pair
    cross = (
        fp_pairs.join(groups.select(F.col("simhash").alias("fp_a"), F.col("ids").alias("ids_a")), "fp_a")
        .join(groups.select(F.col("simhash").alias("fp_b"), F.col("ids").alias("ids_b")), "fp_b")
        .select(F.explode("ids_a").alias("ia"), "ids_b", "hamming")
        .select("ia", F.explode("ids_b").alias("ib"), "hamming")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(cross).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, sim >= threshold).

    Exact thresholded similarity self-join as a **symmetric block grid**:
    every vector hashes to one of ``n_blocks`` blocks; the unordered
    block-pair cells (i, j), i <= j, partition the full pair space exactly
    once. Each side replicates to its cells with ``sequence`` + ``explode``
    (left covers j >= own block, right covers i <= own block — pure codegen,
    no join to build the grid), then one cogrouped Arrow pass scores each
    cell in numpy. Nothing is collected to the driver, no corpus broadcast,
    no cross join: task memory is two blocks (~2|corpus|/B vectors), tunable
    via ``n_blocks``, and the O(n^2) dot products spread evenly over
    B(B+1)/2 cells across the cluster.

    An exact join at a low threshold must examine every pair (the fixture's
    sims are an isotropic N(0, 1/sqrt(dim)) — no bucketing can separate the
    0.4 tail with guaranteed recall); when near-dup thresholds >= ~0.9 make
    candidate pruning sound, generate candidates with
    ``similarity.signbit_bucket``/IVF cells first and feed only those blocks
    here. Dot/norm accumulation is dimension-sequential for oracle
    bit-parity (see similarity.brute_force_topk)."""
    import numpy as np
    import pandas as pd

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    left = base.select(
        F.col("blk").alias("gi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("gj"),
        "vid",
        "vec",
    )
    # Right side re-aliases every column: both sides derive from the same
    # plan, and shared expression IDs in a self-cogroup make Catalyst's
    # column pruning drop the right side's payload columns (it sees them as
    # already provided by the left), handing the UDF a key-only frame.
    right = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("gi"),
        F.col("blk").alias("gj"),
        F.col("vid").alias("r_vid"),
        F.col("vec").alias("r_vec"),
    )

    def score_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "sim": pd.Series(dtype="float64")})
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        lids = lpdf["vid"].to_numpy(dtype=np.int64)
        rids = rpdf["r_vid"].to_numpy(dtype=np.int64)
        from ..operators.similarity import _mat  # noqa: PLC0415

        lmat = _mat(lpdf["vec"])
        rmat = _mat(rpdf["r_vec"])
        d = lmat.shape[1]
        # dim-sequential accumulation: bit-equal to a scalar loop / the oracle
        acc = lmat[:, 0:1] * rmat[None, :, 0]
        ln = lmat[:, 0] * lmat[:, 0]
        rn = rmat[:, 0] * rmat[:, 0]
        for j in range(1, d):
            acc = acc + lmat[:, j : j + 1] * rmat[None, :, j]
            ln = ln + lmat[:, j] * lmat[:, j]
            rn = rn + rmat[:, j] * rmat[:, j]
        sim = np.round(acc / (np.sqrt(ln)[:, None] * np.sqrt(rn)[None, :]), 6)
        # diagonal cell holds the same block on both sides: id_a < id_b emits
        # each unordered pair exactly once; off-diagonal blocks are disjoint,
        # so orient by min/max id
        li, ri = np.nonzero((sim >= threshold) & (lids[:, None] < rids[None, :]))
        if int(key[0]) != int(key[1]):
            li2, ri2 = np.nonzero((sim >= threshold) & (lids[:, None] > rids[None, :]))
            ida = np.concatenate([lids[li], rids[ri2]])
            idb = np.concatenate([rids[ri], lids[li2]])
            s = np.concatenate([sim[li, ri], sim[li2, ri2]])
        else:
            ida, idb, s = lids[li], rids[ri], sim[li, ri]
        return pd.DataFrame({"id_a": ida, "id_b": idb, "sim": s})

    return (
        left.groupby("gi", "gj")
        .cogroup(right.groupby("gi", "gj"))
        .applyInPandas(score_cell, "id_a long, id_b long, sim double")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    centroids: tuple,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: route every vector to
    its nearest trained centroid (``similarity.assign_nearest_cells`` —
    cosine rounded to 6, ties to the smaller centroid id), then score pairs
    ONLY within each cell, emitting ``(id_a < id_b, sim)`` where
    ``sim >= threshold``.  The clustering bounds the quadratic term — the
    pair space shrinks from O(n^2) to O(sum cell^2), i.e. n^2/k for
    balanced cells — which is the published SemDeDup recipe (cluster with
    k-means, dedup inside clusters) and the scale path
    ``embedding_cosine_pairs``'s exact block grid deliberately is not.
    Recall is approximate by construction: a cross-cell near-dup pair is
    unseen (the trade the k-means geometry makes small, since near-dups
    co-locate).  With ``kmeans_centroids_micro`` centroids the whole
    pipeline is deterministic and exactly SQL-oracle-checkable.

    100 TB shape: assignment is one map-side Arrow pass against a
    broadcast k x dim matrix; pairing is one groupBy(cell) shuffle with
    cell-local numpy scoring in row blocks (working set ~32 MB per task
    at ANY cell size — never an n_cell^2 matrix).  SIZE K WITH THE
    CORPUS: per-cell work is O((n/k)^2), so k ~ n/256 keeps cells
    constant-sized the way ``auto_planes`` does for LSH buckets (k=8 fits
    the sf0.01 oracle fixtures; 1e9 vectors want k ~ 4M, trained on a
    sample).  No cross join, nothing driver-side.  Feed the pairs to
    ``dedup_clusters`` / keep-policy exactly like the MinHash family.

    Fat-cell guard (r5, the fingerprint-collapse idiom — see
    ``_cell_pairs_arrays``): byte-identical vectors collapse into groups
    before any scoring, so a flood of identical vectors — which lands in
    ONE cell no matter how k scales, so the k-must-scale contract cannot
    save it — becomes a single representative; its capped group expansion
    (head pairs + hub star, hub identical to every member) preserves the
    flood's component by construction and bounds work at O(cap^2 + cell)
    instead of a quadratic hang (measured: the fat_cell adversarial
    fixture at 45k copies ran past 400 s uncapped).  Distinct
    representatives keep exact all-pairs scoring up to ``cell_cap`` reps
    with a star backstop beyond — that regime means k is undersized, and
    unlike the flood case the backstop hub may miss the threshold, so
    scale k rather than lean on it.  Under the caps (every driver
    fixture) output is EXACT, so the quadratic SQL oracle stays sound."""
    from .similarity import assign_nearest_cells

    cen_ids, cen_mat = centroids
    cells = assign_nearest_cells(emb, cen_ids, cen_mat, 1, "vid", "vec", id_col, vec_col)
    return _semantic_cell_pairs(cells, threshold, cell_cap)


def _semantic_cell_pairs(cells: DataFrame, threshold: float, cell_cap: int) -> DataFrame:
    """Within-cell pairs over ``(cell, vid, vec[, is_new])`` rows through
    the keyed-block scaffold (``similarity._key_blocks``): one hash
    exchange on ``cell``, a partition-local sort, and ``_cell_pairs_arrays``
    per complete cell. k cells scale with the corpus (k ~ n/256), so a
    per-GROUP ``applyInPandas`` would pay Python dispatch on millions of
    constant-sized groups; here the vector matrix is built once per block.
    With an ``is_new`` column only pairs touching a new row are scored —
    the streaming new-vs-all rule of ``sinks.semantic_dedup_sink``."""
    import numpy as np
    import pandas as pd

    from .similarity import _key_blocks, _mat

    def block(pdf, starts, ends):
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        vm = _mat(pdf["vec"])
        newf = pdf["is_new"].to_numpy(dtype=bool) if "is_new" in pdf else None
        out = []
        for s0, e0 in zip(starts, ends):
            nf = None if newf is None else newf[s0:e0]
            if e0 - s0 < 2 or (nf is not None and not nf.any()):
                continue
            ia, ib, s = _cell_pairs_arrays(ids[s0:e0], vm[s0:e0], nf, threshold, cell_cap)
            if len(ia):
                out.append((ia, ib, s))
        if not out:
            return None
        ia, ib, s = (np.concatenate(c) for c in zip(*out))
        return pd.DataFrame({"id_a": ia, "id_b": ib, "sim": s})

    return _key_blocks(cells, "cell", block, "id_a long, id_b long, sim double")


def semantic_cell_stats(
    emb: DataFrame,
    centroids: tuple,
    cell_cap: int = SIMHASH_BUCKET_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The no-silent-caps measurement for semantic dedup: per-cell
    population stats — (n_cells, max_cell, max_reps, capped_cells) where
    ``max_reps`` counts DISTINCT vectors per cell (what the rep-level
    scoring actually sees after identical-vector collapse) and
    ``capped_cells`` counts cells whose rep count exceeds ``cell_cap``
    (the star-backstop regime — non-zero means k is undersized for the
    corpus and recall beyond the hub is degraded there)."""
    from .similarity import assign_nearest_cells

    import numpy as np

    cen_ids = np.asarray(centroids[0], dtype=np.int64)
    cen_mat = np.asarray(centroids[1], dtype=np.float64)
    cells = assign_nearest_cells(emb, cen_ids, cen_mat, 1, "vid", "vec", id_col, vec_col)
    sizes = cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("c"), F.countDistinct("vec").alias("r")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("c").alias("max_cell"),
        F.max("r").alias("max_reps"),
        F.sum(F.when(F.col("r") > cell_cap, 1).otherwise(0)).alias("capped_cells"),
    )


def _cell_pairs_arrays(vids, vmat, newf, threshold: float, cell_cap: int):
    """Shared numpy core of semantic within-cell pair generation (batch
    ``semantic_dedup_pairs`` and the streaming sink twin):

    1. **Byte-identical vectors collapse into groups first** (the
       fingerprint-collapse idiom): a duplicate flood — which lands in ONE
       cell no matter how k scales — becomes a single representative.
       Intra-group pairs are emitted with the group's exact self-sim (the
       same dim-sequential arithmetic, so bit-equal to the oracle), capped
       as head all-pairs + (group-min, x) star edges; the hub is IDENTICAL
       to every member, so star edges always clear any threshold <= 1 and
       flood components are preserved by construction.
    2. Distinct representatives score all-pairs in row blocks (~32 MB
       working set at any rep count). A rep-level star cap is the
       last-resort backstop for heterogeneous over-cap cells: there the
       hub may NOT clear the threshold, so tail-tail rep pairs can be
       lost — that regime means k is undersized for the corpus (the
       documented k-must-scale contract), the cap just keeps it bounded.
    3. Rep pairs >= threshold expand through both member lists — identical
       vectors have identical sims to everything, so the expansion carries
       the rep-level sim exactly.

    ``newf``: optional bool array — emit only pairs with >= 1 True member
    (the streaming new-vs-all rule). Returns (id_a, id_b, sim) arrays;
    under the cap the output is EXACTLY the all-pairs-over-threshold set."""
    import numpy as np

    order = np.argsort(vids)
    vids, vmat = vids[order], vmat[order]
    newf = newf[order] if newf is not None else None
    n, d = vmat.shape
    uniq, inv = np.unique(vmat, axis=0, return_inverse=True)
    R = len(uniq)
    gidx = np.argsort(inv, kind="stable")  # members contiguous, vid-ascending
    counts = np.bincount(inv, minlength=R)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # dim-sequential norms over the representative matrix (oracle parity)
    nrmU = uniq[:, 0] * uniq[:, 0]
    for j in range(1, d):
        nrmU = nrmU + uniq[:, j] * uniq[:, j]
    nrmU = np.sqrt(nrmU)
    out_a, out_b, out_s = [], [], []

    def emit(a, b, s):
        if newf is not None:
            keep = newf_by_vid(a) | newf_by_vid(b)
            a, b, s = a[keep], b[keep], (s[keep] if np.ndim(s) else s)
        if np.ndim(s) == 0:
            s = np.full(len(a), float(s))
        if len(a):
            out_a.append(a)
            out_b.append(b)
            out_s.append(s)

    if newf is not None:
        vid_order = vids  # sorted
        flags = newf

        def newf_by_vid(v):
            return flags[np.searchsorted(vid_order, v)]

    # (1) intra-group: identical vectors, self-sim, capped expansion
    for r in np.flatnonzero(counts > 1):
        m = vids[gidx[starts[r] : starts[r] + counts[r]]]
        v = uniq[r]
        acc = v[0] * v[0]
        for j in range(1, d):
            acc = acc + v[j] * v[j]
        with np.errstate(invalid="ignore", divide="ignore"):
            s = np.round(acc / (nrmU[r] * nrmU[r]), 6)
        # NaN-safe: an all-zero group yields 0/0 = NaN self-sim; `NaN <
        # threshold` is False so a plain `< threshold: continue` would EMIT
        # NaN pairs — the oracle's `sim >= threshold` emits nothing there.
        if not (s >= threshold):
            continue
        h = m[: min(len(m), cell_cap)]
        ii, jj = np.triu_indices(len(h), k=1)
        emit(h[ii], h[jj], s)
        if len(m) > len(h):
            tail = m[len(h) :]
            emit(np.full(len(tail), m[0]), tail, s)
    # (2) distinct-rep scoring: blocked all-pairs over the head reps
    if R > 1:
        rep_min = vids[gidx[starts]]  # min member vid per group
        ro = np.argsort(rep_min)
        U, rmin = uniq[ro], rep_min[ro]
        nrmO = nrmU[ro]
        headR = min(R, cell_cap)
        blk = max(16, (1 << 22) // headR)
        rep_pairs = []  # (rep index a, rep index b, sim) with rmin[a] < rmin[b]
        for s0 in range(0, headR, blk):
            s1 = min(s0 + blk, headR)
            sub = U[s0:s1]
            acc = sub[:, 0:1] * U[None, :headR, 0]
            for j in range(1, d):
                acc = acc + sub[:, j : j + 1] * U[None, :headR, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                sim = np.round(acc / (nrmO[s0:s1, None] * nrmO[None, :headR]), 6)
            li, ri = np.nonzero((sim >= threshold) & (rmin[s0:s1, None] < rmin[None, :headR]))
            if len(li):
                rep_pairs.append((li + s0, ri, sim[li, ri]))
        if R > headR:  # rep-level star backstop (heterogeneous over-cap cell)
            tail = U[headR:]
            acc = tail[:, 0] * U[0, 0]
            for j in range(1, d):
                acc = acc + tail[:, j] * U[0, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                sim = np.round(acc / (nrmO[headR:] * nrmO[0]), 6)
            keep = np.flatnonzero(sim >= threshold)
            if len(keep):
                rep_pairs.append((np.zeros(len(keep), dtype=np.int64), keep + headR, sim[keep]))
        # (3) expand rep pairs through member lists (sims identical across
        # a group's members, so the rep sim is exact for every combo)
        for la, ra, ss in rep_pairs:
            for a_i, b_i, s in zip(la, ra, ss):
                ma = vids[gidx[starts[ro[a_i]] : starts[ro[a_i]] + counts[ro[a_i]]]]
                mb = vids[gidx[starts[ro[b_i]] : starts[ro[b_i]] + counts[ro[b_i]]]]
                aa = np.repeat(ma, len(mb))
                bb = np.tile(mb, len(ma))
                emit(np.minimum(aa, bb), np.maximum(aa, bb), s)
    if not out_a:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)


def duplicate_span_removal(
    docs: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-span removal: delete every token covered by a
    word-``width``-gram whose first corpus-wide occurrence is elsewhere.

    The substring-level companion to document-level dedup (the
    "deduplicating training data" operation): boilerplate or quoted passages
    repeated across documents are removed from every copy EXCEPT the first,
    where "first" is the lexicographically smallest (doc_id, position). The
    result keeps one row per input document: the cleaned text (surviving
    tokens in original order) and how many tokens were removed.

    Plan shape for 100 TB: gram construction is doc-local, so it is
    entirely map-side — posexplode the token array and build each gram with
    a codegen ``slice``/``concat_ws`` from the carried array, hashed to a
    60-bit long before anything leaves the task (a window-lead formulation
    would shuffle and sort the whole exploded token corpus by doc_id first).
    The only corpus-wide shuffles are (a) the groupBy on the gram hash that
    elects each gram's first occurrence (map-side partial min) and (b) the
    join of gram occurrences back to those winners — same key, so the
    exchange is reused. Everything else (coverage explode, anti-join,
    per-doc reassembly) is keyed by doc_id. Nothing is ever O(n^2) and no
    text shuffles except each doc's own surviving tokens."""
    from ..functions import tokenize

    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("t"))
        .withColumn("n", F.size("t"))
    )
    tok_pos = base.select("doc_id", "n", "t", F.posexplode("t").alias("p0", "tok"))
    toks = tok_pos.select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    # the exploded row carries the doc's token array, but it is consumed by
    # the gram projection inside the same codegen stage — only
    # (doc_id, pos, g) ever reaches an exchange
    grams = tok_pos.filter(F.col("p0") + width <= F.col("n")).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        md5_long(F.concat_ws(" ", F.slice("t", F.col("p0") + 1, width))).alias("g"),
    )
    firsts = grams.groupBy("g").agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    dups = grams.join(firsts, "g").filter(
        (F.col("doc_id") != F.col("first.doc_id")) | (F.col("pos") != F.col("first.pos"))
    )
    cov = dups.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(width - 1))).alias("pos"),
    ).distinct()
    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_ct"),
    )
    return base.select("doc_id", "n").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("n") - F.coalesce("kept_ct", F.lit(0))).cast("long").alias("removed_tokens"),
    )


def _partition_min_roots(edges: DataFrame) -> DataFrame:
    """Partition-local union-find over an ``(a, b)`` edge frame: one Arrow
    pass per partition builds a union-find forest (representative = the
    SMALLEST id of the merged set, via union-by-min + path halving) and
    emits ``(node, root)`` for every node seen in that partition. A node
    that appears in several partitions emits one row per partition — the
    caller resolves those to a single label with ``min`` — so the stars
    jointly preserve the input graph's connectivity. Pure per-partition
    work: no shuffle, no driver collect, memory bounded by the partition's
    vertex count (upstream repartitioning is the size lever)."""
    id_type = edges.schema["a"].dataType
    out_schema = StructType(
        [StructField("node", id_type, True), StructField("root", id_type, True)]
    )

    def fn(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            # path halving: grandparent shortcut keeps trees flat without
            # a second pass, and reps stay the set-min because unions
            # always point the larger root at the smaller one
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for x, y in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx == ry:
                    continue
                if ry < rx:
                    rx, ry = ry, rx
                parent[ry] = rx
        nodes = list(parent)
        yield pd.DataFrame({"node": nodes, "root": [find(n) for n in nodes]})

    return edges.mapInPandas(fn, schema=out_schema)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected-components cluster assignment over near-dup pairs: every doc
    gets ``cluster_id`` = the smallest doc id reachable through the pair
    graph (singletons map to themselves). The keep-one-per-cluster dedup
    policy is then ``doc_id == cluster_id``.

    STAR CONTRACTION with partition-local union-find (the MapReduce-CC
    contraction family — Kiveris et al.'s local-contraction variant —
    rather than per-edge label propagation): each round

    1. hash-repartitions the live edge set by one endpoint (alternating
       endpoints across rounds so no adversarial keying starves merges),
    2. collapses every partition's subgraph to min-id stars in ONE Arrow
       union-find pass (``_partition_min_roots``) — C-shuffle-free, the
       whole partition merges at Python-dict speed instead of one keyed
       join per hop,
    3. resolves border nodes with a ``groupBy(node).min(root)`` so the
       round's relabeling R is a function with R(n) <= n and R(n) inside
       n's component,
    4. contracts: every edge (x, y) becomes (R(x), R(y)); intra-partition
       edges become self-loops and VANISH, so the live edge set shrinks
       geometrically (one partition-contained component disappears
       entirely in one round),
    5. composes R into the accumulated node->label mapping.

    Convergence = the contracted edge set is empty, checked with a
    limit(1).count() on an already-checkpointed frame (the old
    pointer-doubling formulation paid a full V-sized join + count per
    round just to detect convergence). Quotienting by R preserves
    components exactly — R maps within components, and every original
    edge survives as an edge between images — so the fixpoint is the same
    min-reachable-id labeling, typically in 2-4 rounds vs ~7 doubling
    rounds, each round ~3 shuffles over a geometrically shrinking frame
    vs 5 over the full edge set. Eager localCheckpoint per round keeps
    lineage flat; blocks are reclaimed by the ContextCleaner (unlike a
    persist() someone must remember to unpersist)."""
    cur = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .localCheckpoint(eager=True)
    )
    rounds: list[DataFrame] = []
    for it in range(max_iter):
        if cur.limit(1).count() == 0:
            break
        key = "a" if it % 2 == 0 else "b"
        roots = (
            _partition_min_roots(cur.repartition(F.col(key)))
            .groupBy("node")
            .agg(F.min("root").alias("root"))
            .localCheckpoint(eager=True)
        )
        rounds.append(roots)
        ra = roots.select(F.col("node").alias("a"), F.col("root").alias("_ca"))
        rb = roots.select(F.col("node").alias("b"), F.col("root").alias("_cb"))
        cur = (
            cur.join(ra, "a")
            .join(rb, "b")
            .select(F.col("_ca").alias("a"), F.col("_cb").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        if cur.limit(1).count() != 0:
            raise RuntimeError(
                f"dedup_clusters: star contraction did not converge in "
                f"{max_iter} rounds — pathological component structure; "
                f"raise max_iter"
            )
    # Lazy relabel composition (r12, VERDICT r11 #7): instead of joining
    # the ALL-nodes mapping against every round's roots inside the loop
    # (one keyed shuffle + checkpoint per round), fold the checkpointed
    # per-round root frames ONCE after convergence, smallest-first:
    # M_r(n) = M_{r+1}(roots_r(n)) with roots_r(n) as the fallback.
    # Later rounds' frames shrink geometrically, so each fold's right
    # side is the small one and AQE turns the join into a broadcast —
    # the big side never reshuffles. Identical fixpoint labels: function
    # composition is associative and each R maps within components.
    mapping: DataFrame | None = None
    for roots in reversed(rounds):
        if mapping is None:
            mapping = roots.select("node", F.col("root").alias("label"))
        else:
            m = mapping.select(
                F.col("node").alias("_mn"), F.col("label").alias("_ml")
            )
            mapping = roots.join(
                m, roots["root"] == m["_mn"], "left"
            ).select(
                "node", F.coalesce(F.col("_ml"), F.col("root")).alias("label")
            )
    out = docs.select(F.col(id_col).alias("node"))
    if mapping is None:
        return out.select(
            F.col("node").alias(id_col), F.col("node").alias("cluster_id")
        )
    return out.join(mapping, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
    )
