"""C-speed codec dispatch for the ingestion hot path.

At 100 TB the in-repo spec decoders (``zstdcodec``/``lzmadec``/
``bzip2``/``lz4snappy``) are the wrong engine to decode EVERY byte:
interpreted Python runs 1.4–9.4 MB/s per core (BASELINE.md codec
throughput table) while this very container ships the C codecs the
property suite already trusts as conformance anchors — stdlib
``bz2``/``lzma``/``zlib`` and pyarrow's bundled C++ zstd/lz4/snappy.
``fast_decoder(family)`` returns a ``bytes -> bytes`` callable with the
dispatch policy (VERDICT r10 "Next round" #1):

1. decode via the C library (pyarrow ``CompressedInputStream`` for the
   frame formats with no declared size, sized one-shot for raw snappy);
2. every k-th record — deterministic on the payload bytes
   (``crc32(payload) % k`` over the WHOLE payload: records that share a
   container header still sample independently), so partition-order-free
   and resumable — ALSO runs the in-repo spec decoder and raises
   ``ValueError`` on any byte divergence: the spec oracle stays live in
   production, not just in pytest;
3. any library failure falls back to the spec decoder, which either
   decodes (library false-negative) or raises the documented
   ``ValueError``/``NotImplementedError``;
4. scope parity: container features the spec decoder deliberately
   refuses are refused identically by a cheap header scan BEFORE the
   library runs (non-LZMA2 .xz filter chains — stdlib lzma would decode
   a BCJ stream the spec oracle cannot cross-verify), so fast path and
   spec path are behavior-identical on every input, only faster.

The catalog dump-ingest entries keep byte-identical outputs (same
DuckDB oracle hashes) — only the decode engine changes. ``spec_only``
mode exists so ``bench.py`` extras and tests can A/B the two engines.
"""

from __future__ import annotations

import struct
import zlib

# every k-th record is cross-verified against the in-repo spec decoder
SAMPLE_EVERY = 16

_FAMILIES = (
    "zstd", "xz", "lzma_alone", "bz2", "lz4", "snappy", "gzip", "zlib",
    "deflate_raw",
)


def _sampled(payload: bytes, k: int) -> bool:
    return k > 0 and zlib.crc32(payload) % k == 0


# --------------------------------------------------------- scope parity


def _xz_varint(d: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        b = d[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos
        if shift > 63:
            raise ValueError("xz varint too long")


def _xz_require_lzma2_only(payload: bytes) -> None:
    """Walk streams backward (footer -> index -> block offsets, the
    xz-tools concatenation algorithm, cf. ``multimodal.parse_xz_meta``)
    and read each block header's filter ids WITHOUT decoding payloads.
    Raises NotImplementedError on any non-LZMA2 filter so the fast path
    keeps the spec decoder's documented scope seam. Structural damage
    raises ValueError here only when it prevents the scan itself; full
    validation belongs to the decoders."""
    end = len(payload)
    while end > 0:
        # skip stream padding (4-byte-aligned zeros between streams)
        while end >= 4 and payload[end - 4 : end] == b"\x00\x00\x00\x00":
            end -= 4
        if end == 0:
            return
        if end < 32 or payload[end - 2 : end] != b"YZ":
            raise ValueError("bad xz stream footer magic")
        (bw,) = struct.unpack_from("<I", payload, end - 8)
        index_size = (bw + 1) * 4
        idx_start = end - 12 - index_size
        if idx_start < 12 or payload[idx_start] != 0x00:
            raise ValueError("xz index indicator missing")
        nrec, pos = _xz_varint(payload, idx_start + 1)
        unpaddeds = []
        for _ in range(nrec):
            unpadded, pos = _xz_varint(payload, pos)
            _, pos = _xz_varint(payload, pos)
            unpaddeds.append(unpadded)
        blocks_total = sum(((u + 3) // 4) * 4 for u in unpaddeds)
        stream_start = idx_start - blocks_total - 12
        if stream_start < 0 or payload[stream_start : stream_start + 6] != b"\xfd7zXZ\x00":
            raise ValueError("bad xz stream header magic")
        off = stream_start + 12
        for unpadded in unpaddeds:
            hdr_size = (payload[off] + 1) * 4
            hdr = payload[off : off + hdr_size]
            if len(hdr) < hdr_size:
                raise ValueError("truncated xz block header")
            flags = hdr[1]
            p = 2
            if flags & 0x40:
                _, p = _xz_varint(hdr, p)
            if flags & 0x80:
                _, p = _xz_varint(hdr, p)
            for _ in range((flags & 3) + 1):
                fid, p = _xz_varint(hdr, p)
                psize, p = _xz_varint(hdr, p)
                p += psize
                if fid != 0x21:
                    raise NotImplementedError(
                        f"xz filter {fid:#x} (only LZMA2 chains supported)"
                    )
            off += ((unpadded + 3) // 4) * 4
        end = stream_start


# ------------------------------------------------------- fast backends


def _pa_stream_decode(codec: str):
    import pyarrow as pa

    def decode(payload: bytes) -> bytes:
        return bytes(
            pa.CompressedInputStream(pa.BufferReader(payload), codec).read()
        )

    return decode


def _snappy_fast(payload: bytes) -> bytes:
    import pyarrow as pa

    # leading varint = declared uncompressed length (raw snappy format)
    length = 0
    shift = 0
    i = 0
    while True:
        if i >= len(payload):
            raise ValueError("truncated snappy length varint")
        b = payload[i]
        i += 1
        length |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
        if shift > 35:
            raise ValueError("snappy length varint too long")
    if length > (1 << 31):
        raise ValueError("snappy declared length implausible")
    return bytes(pa.Codec("snappy").decompress(payload, length))


def _xz_fast(payload: bytes) -> bytes:
    import lzma

    _xz_require_lzma2_only(payload)
    return lzma.decompress(payload, format=lzma.FORMAT_XZ)


def _lzma_alone_fast(payload: bytes) -> bytes:
    import lzma

    return lzma.decompress(payload, format=lzma.FORMAT_ALONE)


def _bz2_fast(payload: bytes) -> bytes:
    import bz2

    return bz2.decompress(payload)


def _gzip_fast(payload: bytes) -> bytes:
    import gzip

    # multi-member concatenation and trailing zero padding behave the
    # same in stdlib and the spec decoder (verified by the equivalence
    # property test); non-zero trailing garbage raises in both
    return gzip.decompress(payload)


def _zlib_fast(payload: bytes) -> bytes:
    # scope parity: the dispatch path decodes without a dictionary, so an
    # FDICT stream is refused with the spec decoder's ValueError wording
    # (r12: dict-supplied decode exists on deflate.zlib_decompress);
    # stdlib raises zlib.error here, which would be misread as a corrupt
    # frame and re-routed to the spec fallback — check the header first
    if len(payload) >= 2 and payload[1] & 0x20:
        raise ValueError(
            "zlib: FDICT stream needs its preset dictionary (pass zdict=)"
        )
    return zlib.decompress(payload)


def _backends(family: str):
    """Returns (fast, spec) callables for a codec family. Imported
    lazily so executors only pay for what a plan touches."""
    if family == "zstd":
        from .zstdcodec import zstd_decompress

        return _pa_stream_decode("zstd"), zstd_decompress
    if family == "lz4":
        from .lz4snappy import lz4_frame_decompress

        return _pa_stream_decode("lz4"), lz4_frame_decompress
    if family == "snappy":
        from .lz4snappy import snappy_decompress

        return _snappy_fast, snappy_decompress
    if family == "xz":
        from .lzmadec import xz_decompress

        return _xz_fast, xz_decompress
    if family == "lzma_alone":
        from .lzmadec import lzma_alone_decompress

        return _lzma_alone_fast, lzma_alone_decompress
    if family == "bz2":
        from .bzip2 import bz2_decompress

        return _bz2_fast, bz2_decompress
    if family == "gzip":
        from .deflate import gzip_decompress

        return _gzip_fast, gzip_decompress
    if family == "zlib":
        from .deflate import zlib_decompress

        return _zlib_fast, zlib_decompress
    if family == "deflate_raw":
        from .deflate import inflate

        return (lambda payload: zlib.decompress(payload, -15)), inflate
    raise ValueError(f"unknown codec family {family!r} (have {_FAMILIES})")


def fast_decoder(family: str, *, sample_every: int = SAMPLE_EVERY,
                 spec_only: bool = False):
    """The dispatch policy as a ``bytes -> bytes`` callable (see module
    docstring). ``spec_only=True`` returns the in-repo spec decoder
    unchanged — the A/B lever for bench.py and the equivalence tests."""
    fast, spec = _backends(family)
    if spec_only:
        return spec

    def decode(payload: bytes) -> bytes:
        payload = bytes(payload)
        try:
            out = fast(payload)
        except NotImplementedError:
            raise  # scope seam (e.g. non-LZMA2 xz chain): parity with spec
        except Exception:
            # library rejected the frame: the spec decoder either decodes
            # it (library false-negative) or raises the documented error
            return spec(payload)
        if _sampled(payload, sample_every):
            want = spec(payload)
            if want != out:
                raise ValueError(
                    f"{family} fast-path/spec-decoder divergence: "
                    f"library produced {len(out)} bytes, spec decoder "
                    f"{len(want)} — corrupt frame or decoder defect"
                )
        return out

    decode.__name__ = f"fast_{family}_decode"
    return decode
