"""Dispatch-policy tests for the C-speed codec fast path
(``operators/fastpath.py`` — VERDICT r10 "Next round" #1).

The contract under test: fast path and spec path are behavior-identical
on every input (same bytes out, same documented errors, same scope
seams) — only the engine differs. The sampled cross-verification keeps
the in-repo spec decoders live as production oracles.
"""

from __future__ import annotations

import bz2 as _bz2
import lzma as _lzma

import pytest

from flink_gmall2024_realtime_spark.operators import fastpath as fp


def _cases():
    from flink_gmall2024_realtime_spark.operators.lz4snappy import (
        synth_lz4_dump,
        synth_snappy_dump,
    )
    from flink_gmall2024_realtime_spark.operators.lzmadec import synth_xz_dump
    from flink_gmall2024_realtime_spark.operators.zstdcodec import (
        synth_zstd_dump,
    )

    return [
        ("zstd", synth_zstd_dump),
        ("lz4", synth_lz4_dump),
        ("snappy", synth_snappy_dump),
        ("xz", synth_xz_dump),
        ("bz2", lambda s: _bz2.compress(b"dump %d " % s * (50 + s),
                                        compresslevel=1 + s % 3)),
        ("lzma_alone", lambda s: _lzma.compress(
            b"alone %d " % s * (40 + s), format=_lzma.FORMAT_ALONE)),
    ]


def test_fast_path_matches_spec_decoder_bytes():
    """Every family: library decode == spec decode, byte for byte, over
    many fixture seeds (sample_every=1 forces the cross-verification to
    run inline on every record, so a silent divergence cannot pass)."""
    for family, synth in _cases():
        fast = fp.fast_decoder(family, sample_every=1)
        spec = fp.fast_decoder(family, spec_only=True)
        for seed in range(12):
            payload = synth(seed)
            assert fast(payload) == spec(payload), (family, seed)


def test_sampling_is_deterministic_and_content_keyed():
    """The k-th-record choice hashes payload bytes, not position or RNG:
    same payload -> same decision everywhere (partition-order-free)."""
    payload = b"\x28\xb5\x2f\xfd" + b"x" * 100
    k = 16
    first = fp._sampled(payload, k)
    assert all(fp._sampled(payload, k) == first for _ in range(5))
    # with k=1 everything is sampled; with k=0 nothing is
    assert fp._sampled(payload, 1)
    assert not fp._sampled(payload, 0)


def test_sampling_keys_on_the_whole_payload():
    """Records that share a container header (same magic, same frame
    descriptor) still sample about one in k: a prefix-keyed choice gives
    them all one decision, so either none or all of a corpus would be
    cross-verified."""
    header = b"\x28\xb5\x2f\xfd" + bytes(range(76))  # 80 shared bytes
    n, k = 320, 16
    corpus = [header + b"record %d " % i * (1 + i % 5) for i in range(n)]
    sampled = sum(fp._sampled(p, k) for p in corpus)
    assert n / (2 * k) <= sampled <= 2 * n / k, sampled


def test_divergence_raises(monkeypatch):
    """If the library and the spec decoder ever disagree on a sampled
    record, the row fails loudly instead of shipping library output."""
    from flink_gmall2024_realtime_spark.operators import zstdcodec

    monkeypatch.setattr(
        zstdcodec, "zstd_decompress", lambda p: b"WRONG", raising=True
    )
    fast = fp.fast_decoder("zstd", sample_every=1)
    payload = fp._backends("zstd")  # rebuild AFTER patching
    from flink_gmall2024_realtime_spark.operators.zstdcodec import (
        synth_zstd_dump,
    )

    with pytest.raises(ValueError, match="divergence"):
        fast(synth_zstd_dump(3))


def test_corrupt_frames_behave_like_spec_decoder():
    """Corrupt payloads: behavior parity with the spec decoder — either
    BOTH paths raise (and the fast path surfaces only the documented
    ValueError/NotImplementedError, never a raw pyarrow/stdlib error) or
    both return the same bytes (checksum-free formats like raw snappy
    genuinely cannot detect every flip)."""
    for family, synth in _cases():
        fast = fp.fast_decoder(family, sample_every=1)
        spec = fp.fast_decoder(family, spec_only=True)
        bad = bytearray(synth(5))
        bad[len(bad) // 2] ^= 0xFF
        for payload in (bytes(bad), b"\x00\x01\x02not a frame"):
            try:
                want = spec(payload)
            except (ValueError, NotImplementedError):
                want = None
            if want is None:
                with pytest.raises((ValueError, NotImplementedError)):
                    fast(payload)
            else:
                assert fast(payload) == want, family


def test_xz_scope_seam_preserved():
    """stdlib lzma would happily decode a BCJ/delta-filtered .xz; the
    fast path must refuse it exactly like the spec decoder does (the
    spec oracle cannot cross-verify out-of-scope chains), via the
    header-only filter scan — no payload decode."""
    data = b"seam check " * 300
    bcj = _lzma.compress(
        data, format=_lzma.FORMAT_XZ,
        filters=[{"id": _lzma.FILTER_DELTA, "dist": 4},
                 {"id": _lzma.FILTER_LZMA2, "preset": 1}],
    )
    for kwargs in ({}, {"spec_only": True}):
        with pytest.raises(NotImplementedError, match="filter"):
            fp.fast_decoder("xz", **kwargs)(bcj)
    # plain LZMA2 chains pass the scan and decode, incl. multi-stream
    ok = _lzma.compress(data, format=_lzma.FORMAT_XZ)
    two = ok + _lzma.compress(b"tail", format=_lzma.FORMAT_XZ,
                              check=_lzma.CHECK_CRC64)
    assert fp.fast_decoder("xz", sample_every=1)(two) == data + b"tail"


def test_dump_stats_fast_and_spec_rows_identical(spark):
    """The catalog-facing contract: zstd_dump_stats rows are identical
    under fast_path=True and fast_path=False (same oracle hashes)."""
    from pyspark.sql import functions as F

    from flink_gmall2024_realtime_spark.operators import multimodal
    from flink_gmall2024_realtime_spark.operators.zstdcodec import (
        zstd_dump_stats,
    )

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    payloads = multimodal.synth_media(docs, "doc_id", "zstd_dump")
    media = multimodal.to_media_table(
        payloads, "media_id", F.col("payload"), "application/zstd"
    )
    fast = sorted(map(tuple, zstd_dump_stats(media, True).collect()))
    spec = sorted(map(tuple, zstd_dump_stats(media, False).collect()))
    assert fast == spec and len(fast) == 40
