"""Unit + plan tests for the round-3 curation additions (plans/curation.py):
IVF+PQ composed ANN, cross-corpus dedup, importance-weighted sampling.
Value-level correctness is oracle-checked; these lock the physical shape and
the side-contracts the oracle can't see."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_gmall2024_realtime_spark.operators import dedup, sampling, similarity
from flink_gmall2024_realtime_spark.plans import CATALOG
from flink_gmall2024_realtime_spark.sources.fixtures import load_table

from test_plans import formatted_plan


def test_ivf_pq_scores_from_codes_in_cogrouped_cells(spark, sf_dir):
    """The scoring pass must be per-cell cogrouped Arrow (no join of codes
    back to vectors, no cartesian), and the final window must rank only
    cell-local top-k output."""
    df = CATALOG["ann_ivf_pq"].spark(spark, sf_dir)
    plan = formatted_plan(spark, df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1  # the final rank only


def test_ivf_pq_distances_match_pure_python_model(spark, sf_dir):
    """Every (query, neighbor, dist) row must equal the ADC distance the
    pure-numpy model computes for that pair, and the neighbor must lie in
    one of the query's probed cells under the placeholder-centroid rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    n, dim = mat.shape
    m, ds, cb_k, nprobe = 8, 8, 16, 4

    # model: centroids, cells, probes
    mod_eff = max(50, -(-n // 256))
    cen_mask = ids % mod_eff == 0
    cen_ids, cen = ids[cen_mask], mat[cen_mask]

    def cells_of(v, top):
        sim = np.round(
            (v @ cen.T) / (np.linalg.norm(v) * np.linalg.norm(cen, axis=1)), 6
        )
        return cen_ids[np.lexsort((cen_ids, -sim))[:top]]

    cell = {int(i): int(cells_of(v, 1)[0]) for i, v in zip(ids, mat)}
    cb = mat[:cb_k]  # smallest-id vectors (ids sorted above)

    def code_of(v):
        return [
            int(np.argmin([((v[s * ds : (s + 1) * ds] - c[s * ds : (s + 1) * ds]) ** 2).sum() for c in cb]))
            for s in range(m)
        ]

    codes = {int(i): code_of(v) for i, v in zip(ids, mat)}

    out = similarity.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") % 20 == 0), k=5, centroid_mod=50, nprobe=4
    ).collect()
    assert out, "no results"
    qv = {int(i): v for i, v in zip(ids, mat)}
    for r in out:
        q, nb, dist = r["query_id"], r["neighbor_id"], r["dist"]
        assert cell[nb] in set(cells_of(qv[q], nprobe)), (q, nb)
        micros = 0
        for s in range(m):
            d = ((qv[q][s * ds : (s + 1) * ds] - cb[codes[nb][s]][s * ds : (s + 1) * ds]) ** 2).sum()
            micros += int(np.rint(np.round(d, 6) * 1e6))
        assert dist == pytest.approx(np.round(micros / 1e6, 6), abs=0), (q, nb)


def test_cross_corpus_pairs_never_within_a_side(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = CATALOG["dedup_cross_corpus"].spark(spark, sf_dir).collect()
    src0 = {r["doc_id"] for r in docs.filter(F.col("source") == "src0").select("doc_id").collect()}
    for r in out:
        assert r["query_id"] in src0
        assert r["corpus_id"] not in src0


def test_cross_corpus_agrees_with_self_lsh_restriction(spark, sf_dir):
    """Cross pairs == the full self-LSH pair set restricted to cross-side
    membership (orientation normalized)."""
    docs = load_table(spark, sf_dir, "documents")
    src0 = {r["doc_id"] for r in docs.filter(F.col("source") == "src0").select("doc_id").collect()}
    full = dedup.minhash_lsh_pairs(docs, threshold=0.35).collect()
    expected = {
        (r["id_a"], r["id_b"]) if r["id_a"] in src0 else (r["id_b"], r["id_a"])
        for r in full
        if (r["id_a"] in src0) != (r["id_b"] in src0)
    }
    got = {
        (r["query_id"], r["corpus_id"])
        for r in CATALOG["dedup_cross_corpus"].spark(spark, sf_dir).collect()
    }
    assert got == expected


def test_importance_sample_membership_matches_hash_coin(spark, sf_dir):
    """Each kept row satisfies u < p and each dropped row u >= p, with u/p
    recomputed in pure Python; kept fraction lands near the target."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    frac = 0.3
    rows = docs.collect()
    mean_w = sum(round(float(r["n_chars"]), 6) for r in rows) / len(rows)
    kept = {r["doc_id"] for r in sampling.importance_sample(docs, "doc_id", "n_chars", frac).collect()}
    n_clamped = 0
    for r in rows:
        u = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16) / 2**60
        p = min(1.0, frac * float(r["n_chars"]) / mean_w)
        n_clamped += p == 1.0
        assert (r["doc_id"] in kept) == (u < p), r["doc_id"]
    # expected fraction ~= frac when few probabilities clamp
    assert abs(len(kept) / len(rows) - frac) < 0.1


def test_importance_sample_is_a_broadcast_not_a_window(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    plan = formatted_plan(spark, sampling.importance_sample(docs, "doc_id", "n_chars", 0.3))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_mix_apply_join_is_broadcast_no_sort_merge(spark, sf_dir):
    """The mix pipeline's 100 TB shape: the per-source rate table joins
    the corpus as a broadcast (never a sort-merge shuffle of the docs
    side) and the epoch fan-out is a Generate, not a window."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_tokens")
    )
    weights = docs.select("source").distinct().select(
        "source", F.lit(1).alias("weight")
    )
    plan_df = sampling.mix_plan(docs, weights, 10_000)
    plan = formatted_plan(spark, sampling.mix_apply(docs, plan_df))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hll_estimate_within_5pct_of_exact(spark, sf_dir):
    """The sketch must actually estimate well (the oracle only proves both
    engines compute the same formula, not that the formula is right)."""
    for r in CATALOG["q_hll_sketch"].spark(spark, sf_dir).collect():
        assert abs(r["uv_est"] - r["uv_exact"]) / r["uv_exact"] < 0.05, r


def test_hll_registers_merge_associatively(spark, sf_dir):
    """The 100 TB contract: register tables built from disjoint partitions
    of the data and merged by max must equal the single-pass register
    table."""
    from flink_gmall2024_realtime_spark.functions import md5_long

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    h = md5_long(F.col("user_id").cast("string"))
    w = F.shiftright(h, 8)
    rho = F.when(w > 0, F.lit(53) - F.length(F.bin(w))).otherwise(F.lit(53))
    base = ev.select("event_type", (h % 256).alias("j"), rho.alias("r"))
    whole = base.groupBy("event_type", "j").agg(F.max("r").alias("r"))
    part1 = base.filter(F.col("j") % 2 == 0).groupBy("event_type", "j").agg(F.max("r").alias("r"))
    part2 = base.filter(F.col("j") % 2 == 1).groupBy("event_type", "j").agg(F.max("r").alias("r"))
    merged = part1.union(part2).groupBy("event_type", "j").agg(F.max("r").alias("r"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_fuzzy_join_blocks_never_cross_nouns(spark, sf_dir):
    out = CATALOG["q_fuzzy_join"].spark(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["name_a"].split(" ")[1] == r["name_b"].split(" ")[1]
        assert r["lev"] <= 4 and r["name_a"] < r["name_b"]


def test_hll_register_sink_streaming_equals_batch_and_replay_safe(spark, sf_dir, tmp_path):
    """Streaming register maintenance over a 3-chunk replay must produce
    exactly the single-pass register table, and re-folding an already-seen
    batch must be a no-op (max-merge idempotency — the sink's whole
    exactly-once story)."""
    import os

    from flink_gmall2024_realtime_spark.operators import sketch
    from flink_gmall2024_realtime_spark.streaming import sinks

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    src = os.path.join(str(tmp_path), "incoming")
    for i in range(3):
        ev.filter(F.col("user_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk={i}")
        )
    store = os.path.join(str(tmp_path), "hll")
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sinks.hll_register_sink(spark, store))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(map(tuple, spark.read.parquet(os.path.join(store, "registers")).collect()))
    want = sorted(map(tuple, sketch.hll_registers(ev, "event_type", "user_id").collect()))
    assert got == want and len(want) > 0

    # replay chunk 0 out-of-band: the table must not change
    writer = sinks.hll_register_sink(spark, store)
    writer(ev.filter(F.col("user_id") % 3 == 0), batch_id=999)
    again = sorted(map(tuple, spark.read.parquet(os.path.join(store, "registers")).collect()))
    assert again == want

    # estimates off the maintained store match the batch entry's estimates
    est_stream = sketch.hll_estimate(
        spark.read.parquet(os.path.join(store, "registers")), "event_type"
    ).collect()
    est_batch = sketch.hll_estimate(
        sketch.hll_registers(ev, "event_type", "user_id"), "event_type"
    ).collect()
    assert sorted(map(tuple, est_stream)) == sorted(map(tuple, est_batch))


def test_countmin_never_underestimates_and_merges(spark, sf_dir):
    from flink_gmall2024_realtime_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()).select("user_id")
    out = CATALOG["q_countmin_sketch"].spark(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["cm_est"] >= r["true_ct"], r
    # sum-merge algebra: partition-built tables merged == single-pass table
    whole = sketch.cm_table(ev, "user_id")
    parts = [sketch.cm_table(ev.filter(F.col("user_id") % 2 == i), "user_id") for i in (0, 1)]
    merged = parts[0].unionByName(parts[1]).groupBy("i", "col").agg(F.sum("c").alias("c"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hdr_quantiles_within_bucket_error_bound(spark, sf_dir):
    for r in CATALOG["q_hdr_quantiles"].spark(spark, sf_dir).collect():
        assert abs(r["p50_est"] - r["p50_exact"]) / r["p50_exact"] < 0.07, r
        assert abs(r["p95_est"] - r["p95_exact"]) / r["p95_exact"] < 0.07, r


def test_hdr_hist_merges_associatively(spark, sf_dir):
    from flink_gmall2024_realtime_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    whole = sketch.hdr_hist(ev, "event_type", "value")
    parts = [sketch.hdr_hist(ev.filter(F.col("event_id") % 2 == i), "event_type", "value") for i in (0, 1)]
    merged = (
        parts[0].unionByName(parts[1])
        .groupBy("event_type", "bid", "rep")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_cm_sketch_sink_streaming_equals_batch_and_crash_safe(spark, sf_dir, tmp_path):
    """Streaming count-min maintenance over a 3-chunk replay equals the
    single-pass sketch; a replayed batch id is a no-op (sum is NOT
    idempotent — the in-swap _last_batch watermark is what makes this
    hold); an interrupted swap heals."""
    import os

    from flink_gmall2024_realtime_spark.operators import sketch
    from flink_gmall2024_realtime_spark.streaming import sinks

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()).select("user_id")
    src = os.path.join(str(tmp_path), "incoming")
    for i in range(3):
        ev.filter(F.col("user_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk={i}")
        )
    store = os.path.join(str(tmp_path), "cm")
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sinks.cm_sketch_sink(spark, store, "user_id"))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    table = os.path.join(store, "table")
    got = sorted(map(tuple, spark.read.parquet(table).collect()))
    want = sorted(map(tuple, sketch.cm_table(ev, "user_id").collect()))
    assert got == want and len(want) > 0

    # replay the LAST applied batch id (the only id Structured Streaming can
    # replay after a crash): must be skipped, or every cell double-counts
    writer = sinks.cm_sketch_sink(spark, store, "user_id")
    last = int(open(os.path.join(table, "_last_batch")).read())
    writer(ev.filter(F.col("user_id") % 3 == 2), batch_id=last)
    again = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert again == want

    # crash window: swap interrupted after the live table was renamed aside
    os.rename(table, os.path.join(store, ".old_table"))
    writer(ev.limit(0), batch_id=last)  # heal() restores, watermark skips
    healed = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert healed == want

    # probing the maintained store never underestimates
    keys = ev.distinct().limit(20)
    for r in sketch.cm_estimate(spark.read.parquet(table), keys, "user_id").collect():
        true_ct = ev.filter(F.col("user_id") == r["user_id"]).count()
        assert r["cm_est"] >= true_ct


def test_hdr_hist_sink_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Streaming HDR maintenance over a 3-chunk replay equals the
    single-pass histogram, replays are no-ops, and quantile estimates off
    the maintained store match the batch-built sketch's."""
    import os

    from flink_gmall2024_realtime_spark.operators import sketch
    from flink_gmall2024_realtime_spark.streaming import sinks

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("event_type", "value")
    )
    src = os.path.join(str(tmp_path), "incoming")
    for i in range(3):
        ev.filter(F.pmod(F.xxhash64("value"), F.lit(3)) == i).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk={i}")
        )
    store = os.path.join(str(tmp_path), "hdr")
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.hdr_hist_sink(spark, store, "event_type", "value")
        )
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    table = os.path.join(store, "table")
    got = sorted(map(tuple, spark.read.parquet(table).collect()))
    want = sorted(map(tuple, sketch.hdr_hist(ev, "event_type", "value").collect()))
    assert got == want and len(want) > 0

    writer = sinks.hdr_hist_sink(spark, store, "event_type", "value")
    last = int(open(os.path.join(table, "_last_batch")).read())
    writer(ev, batch_id=last)  # replay: no-op
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == want

    est_stream = sketch.hdr_quantiles(spark.read.parquet(table), "event_type").collect()
    est_batch = sketch.hdr_quantiles(
        sketch.hdr_hist(ev, "event_type", "value"), "event_type"
    ).collect()
    assert sorted(map(tuple, est_stream)) == sorted(map(tuple, est_batch))


def test_sketch_sinks_read_their_store_with_a_declared_schema(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every stored-table read of ``cm_sketch_sink`` and
    ``hll_register_sink`` declares the schema the sink writes, so no
    micro-batch runs a schema-inference job; over 3 batches the stores
    equal the single-pass sketches."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from flink_gmall2024_realtime_spark.operators import sketch
    from flink_gmall2024_realtime_spark.streaming import sinks

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    reads = []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._declared = True
        return real_schema(self, s)

    def parquet(self, *paths, **kw):
        reads.append((paths, getattr(self, "_declared", False)))
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    cm_store = os.path.join(str(tmp_path), "cm")
    hll_store = os.path.join(str(tmp_path), "hll")
    cm = sinks.cm_sketch_sink(spark, cm_store, "user_id")
    hll = sinks.hll_register_sink(spark, hll_store)
    for i in range(3):
        chunk = ev.filter(F.col("user_id") % 3 == i)
        cm(chunk, batch_id=i)
        hll(chunk, batch_id=i)
    monkeypatch.undo()
    assert len(reads) == 4  # batches 1 and 2 of each sink read their store
    assert [p for p, declared in reads if not declared] == []

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    assert rows(os.path.join(cm_store, "table")) == sorted(
        map(tuple, sketch.cm_table(ev, "user_id").collect())
    )
    assert rows(os.path.join(hll_store, "registers")) == sorted(
        map(tuple, sketch.hll_registers(ev, "event_type", "user_id").collect())
    )


def test_agg_view_sink_streaming_equals_recompute_and_deletes_groups(spark, sf_dir, tmp_path):
    """Streaming signed-changelog view maintenance (inserts then
    retractions across 3 chunks) must equal a from-scratch recompute over
    the post-delta rows; replayed batch ids are no-ops (signed sums are
    NOT idempotent — the in-swap watermark is load-bearing); an
    interrupted swap heals; a group whose rows all retract is DELETED
    from the store."""
    import os

    from flink_gmall2024_realtime_spark.streaming import sinks

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 6).cast("decimal(28,6)").alias("price"),
    )
    chunks = [
        o.filter(F.col("o_orderkey") % 10 != 0).withColumn("_w", F.lit(1)),
        o.filter(F.col("o_orderkey") % 10 == 0).withColumn("_w", F.lit(1)),
        o.filter((F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 == 0))
        .withColumn("_w", F.lit(-1)),
    ]
    src = os.path.join(str(tmp_path), "changelog")
    for i, ch in enumerate(chunks):
        ch.drop("o_orderkey").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk={i}")
        )
    store = os.path.join(str(tmp_path), "view")
    stream = (
        spark.readStream.schema("o_custkey long, price decimal(28,6), _w int")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.agg_view_sink(spark, store, ["o_custkey"], {"sum_price": "price"})
        )
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    table = os.path.join(store, "table")
    got = sorted(
        (r["o_custkey"], r["sum_price"], r["cnt"])
        for r in spark.read.parquet(table).collect()
    )
    want = sorted(
        map(
            tuple,
            o.filter((F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 7 != 0))
            .groupBy("o_custkey")
            .agg(F.sum("price").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert len(want) > 0 and [(k, n) for k, _, n in got] == [
        (k, n) for k, _, n in want
    ]
    assert all(float(a[1]) == float(b[1]) for a, b in zip(got, want))

    # replay the last applied batch id: must be skipped
    writer = sinks.agg_view_sink(spark, store, ["o_custkey"], {"sum_price": "price"})
    last = int(open(os.path.join(table, "_last_batch")).read())
    writer(chunks[2].drop("o_orderkey"), batch_id=last)
    assert sorted(
        (r["o_custkey"], r["sum_price"], r["cnt"])
        for r in spark.read.parquet(table).collect()
    ) == got

    # crash window: swap interrupted after the live table was renamed aside
    os.rename(table, os.path.join(store, ".old_table"))
    writer(chunks[2].drop("o_orderkey").limit(0), batch_id=last)
    assert sorted(
        (r["o_custkey"], r["sum_price"], r["cnt"])
        for r in spark.read.parquet(table).collect()
    ) == got

    # full-group retraction deletes the group from the store
    store2 = os.path.join(str(tmp_path), "view2")
    w2 = sinks.agg_view_sink(spark, store2, ["g"], {"s": "v"})
    ins = spark.createDataFrame([("x", 5, 1), ("y", 3, 1)], ["g", "v", "_w"])
    ret = spark.createDataFrame([("x", 5, -1)], ["g", "v", "_w"])
    w2(ins, batch_id=0)
    w2(ret, batch_id=1)
    rows = spark.read.parquet(os.path.join(store2, "table")).collect()
    assert [(r["g"], r["s"], r["cnt"]) for r in rows] == [("y", 3, 1)]
