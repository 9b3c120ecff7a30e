"""RoaringBitmapArray codec — the bitmap format Delta Lake deletion
vectors ship (r13, VERDICT r12 #1).

Written from two public specs:

- the Delta Transaction Log Protocol's "Deletion Vector Format" section
  (delta-io/delta ``PROTOCOL.md``): a deletion vector is a set of
  64-bit row indexes stored as a "RoaringBitmapArray" — one standard
  32-bit Roaring bitmap per 2^32 block of the index space — serialized
  in the **portable** format::

      magic number   : 4 bytes little-endian = 1681511377
      numberOfBitmaps: 8 bytes little-endian
      per bitmap     : key (4 bytes LE, the high 32 bits of the values
                       it holds; strictly increasing) followed by the
                       bitmap in the standard Roaring interchange format

  On disk a DV **file** starts with a single format-version byte (1);
  each DV within it sits at its ``offset`` as ``[dataSize: 4 bytes
  BIG-endian][data][CRC-32 of data: 4 bytes BIG-endian]`` (the
  big-endian framing is the spec's documented Java ``DataOutputStream``
  layout, deliberately unlike the little-endian bitmap inside). Inline
  DVs ship the raw ``data`` Z85-encoded in the log itself.

- the Roaring interchange spec (RoaringBitmap/RoaringFormatSpec): a
  32-bit bitmap is a little-endian stream of [cookie][descriptive
  header][optional offset header][containers], where each container
  covers one high-16-bit key and is an **array** (sorted uint16s,
  cardinality <= 4096), a **bitset** (1024 x 8-byte words) or a **run**
  list (n_runs x [start, length-1]); cookie 12346 means no run
  containers (container count in the next 4 bytes), cookie 12347 packs
  ``count - 1`` in its high 16 bits and is followed by a run-container
  flag bitset.

The decoder accepts all three container kinds and both cookies; the
encoder emits the no-run layout (array/bitset chosen by cardinality,
exactly what RoaringBitmap produces before ``runOptimize``), so every
encoded blob is also decodable by the reference Java/Rust readers.
There is no Roaring library in this container to anchor against, so the
anchor is structural: hand-built spec vectors (tests/test_roaring.py)
plus encode/decode roundtrips under hypothesis across the container-
type boundaries (4096/4097 cardinality, multi-key, 2^32 block splits).

Z85 (ZeroMQ RFC 32) rides along because Delta encodes both inline DVs
and the 16-byte UUIDs of on-disk DV file names with it.
"""

from __future__ import annotations

import struct
import zlib

from .codecguard import malformed_guard

_MAGIC = 1681511377  # portable RoaringBitmapArray
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4  # containers; >= this, offsets follow even w/ runs

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85: every 4 bytes (big-endian) become 5 alphabet chars,
    most significant first. Input length must be a multiple of 4."""
    if len(data) % 4:
        raise ValueError("z85 input length must be a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack_from(">I", data, i)
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("z85 input length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i : i + 5]:
            if c not in _Z85_INV:
                raise ValueError(f"invalid z85 character {c!r}")
            v = v * 85 + _Z85_INV[c]
        if v > 0xFFFFFFFF:
            raise ValueError("z85 group overflows 32 bits")
        out += struct.pack(">I", v)
    return bytes(out)


# --------------------------------------------------------- 32-bit bitmap


def _parse_bitmap32(blob: bytes, pos: int) -> tuple[list[int], int]:
    """One standard-format 32-bit Roaring bitmap starting at ``pos``;
    returns (sorted values, next position)."""
    (cookie,) = struct.unpack_from("<I", blob, pos)
    start = pos
    pos += 4
    run_flags = b""
    if cookie & 0xFFFF == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        n_flag_bytes = (n + 7) // 8
        run_flags = blob[pos : pos + n_flag_bytes]
        if len(run_flags) < n_flag_bytes:
            raise ValueError("roaring: truncated run-container bitset")
        pos += n_flag_bytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", blob, pos)
        pos += 4
        has_offsets = True
    else:
        raise ValueError(f"roaring: unknown cookie {cookie & 0xFFFF}")
    keys_cards = []
    for _ in range(n):
        key, card_m1 = struct.unpack_from("<HH", blob, pos)
        keys_cards.append((key, card_m1 + 1))
        pos += 4
    if has_offsets:
        offsets = list(struct.unpack_from(f"<{n}I", blob, pos))
        pos += 4 * n
    else:
        offsets = None
    values: list[int] = []
    last_key = -1
    for idx, (key, card) in enumerate(keys_cards):
        if key <= last_key:
            raise ValueError("roaring: container keys not increasing")
        last_key = key
        if offsets is not None:
            if start + offsets[idx] != pos:
                raise ValueError("roaring: offset header disagrees with stream")
        base = key << 16
        is_run = bool(run_flags) and bool(run_flags[idx // 8] & (1 << (idx % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", blob, pos)
            pos += 2
            got = 0
            for _ in range(n_runs):
                lo, length_m1 = struct.unpack_from("<HH", blob, pos)
                pos += 4
                values.extend(range(base + lo, base + lo + length_m1 + 1))
                got += length_m1 + 1
            if got != card:
                raise ValueError("roaring: run container cardinality mismatch")
        elif card <= 4096:
            vals = struct.unpack_from(f"<{card}H", blob, pos)
            pos += 2 * card
            prev = -1
            for v in vals:
                if v <= prev:
                    raise ValueError("roaring: array container not sorted")
                prev = v
                values.append(base + v)
        else:
            words = struct.unpack_from("<1024Q", blob, pos)
            pos += 8192
            got = 0
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    values.append(base + (wi << 6) + b.bit_length() - 1)
                    w ^= b
                    got += 1
            if got != card:
                raise ValueError("roaring: bitset container cardinality mismatch")
    return values, pos


def _serialize_bitmap32(values: list[int]) -> bytes:
    """Standard no-run-container serialization of sorted 32-bit values
    grouped into array (card <= 4096) / bitset containers."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    header = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    bodies = []
    for k in keys:
        vals = containers[k]
        if len(vals) <= 4096:
            bodies.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            bodies.append(struct.pack("<1024Q", *words))
    offsets = []
    at = len(header) + len(desc) + 4 * n
    for b in bodies:
        offsets.append(at)
        at += len(b)
    return (
        header
        + desc
        + struct.pack(f"<{n}I", *offsets)
        + b"".join(bodies)
    )


# ------------------------------------------------------------ the array


@malformed_guard
def parse_roaring_bitmap_array(blob: bytes) -> list[int]:
    """Portable RoaringBitmapArray -> sorted 64-bit values."""
    if len(blob) < 12:
        raise ValueError("roaring array: truncated header")
    (magic,) = struct.unpack_from("<i", blob, 0)
    if magic != _MAGIC:
        raise ValueError(f"roaring array: bad magic {magic}")
    (n_bitmaps,) = struct.unpack_from("<q", blob, 4)
    if n_bitmaps < 0:
        raise ValueError("roaring array: negative bitmap count")
    pos = 12
    out: list[int] = []
    last_key = -1
    for _ in range(n_bitmaps):
        if pos + 4 > len(blob):
            raise ValueError("roaring array: truncated at bitmap key")
        (key,) = struct.unpack_from("<i", blob, pos)
        pos += 4
        if key < 0 or key <= last_key:
            raise ValueError("roaring array: keys must be increasing")
        last_key = key
        values, pos = _parse_bitmap32(blob, pos)
        base = key << 32
        out.extend(base + v for v in values)
    if pos != len(blob):
        raise ValueError("roaring array: trailing bytes after last bitmap")
    return out


def serialize_roaring_bitmap_array(values) -> bytes:
    """Sorted (or sortable) 64-bit values -> portable
    RoaringBitmapArray bytes."""
    vals = sorted(int(v) for v in values)
    if vals and (vals[0] < 0 or vals[-1] > (1 << 63) - 1):
        raise ValueError("roaring array: values must be non-negative int64")
    groups: dict[int, list[int]] = {}
    for v in vals:
        groups.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    body = b"".join(
        struct.pack("<i", k) + _serialize_bitmap32(groups[k])
        for k in sorted(groups)
    )
    return struct.pack("<iq", _MAGIC, len(groups)) + body


# ---------------------------------------------------------- DV framing


def build_dv_file(datas: list[bytes]) -> tuple[bytes, list[int]]:
    """Frame serialized RoaringBitmapArray blobs into one on-disk DV
    file (format-version byte + per-DV big-endian size/CRC framing);
    returns (file bytes, per-DV offsets for the ``deletionVector``
    metadata)."""
    out = bytearray(b"\x01")
    offsets = []
    for data in datas:
        offsets.append(len(out))
        out += struct.pack(">I", len(data))
        out += data
        out += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    return bytes(out), offsets


def synth_roaring_dump(seed: int) -> bytes:
    """Deterministic fixture blob for the codec fuzz table: a portable
    RoaringBitmapArray mixing sparse values, a dense >4096 block (bitset
    container) and a second 2^32 key block."""
    seed = int(seed)
    vals = [seed + 7 * i for i in range(seed % 40 + 3)]
    if seed % 3 == 0:
        vals += list(range(1 << 16, (1 << 16) + 5000))  # bitset container
    if seed % 2 == 0:
        vals += [(1 << 32) + seed + i for i in range(4)]  # second key block
    return serialize_roaring_bitmap_array(set(vals))


@malformed_guard
def dv_in_file(blob: bytes, offset: int, size_in_bytes: int) -> bytes:
    """The serialized bitmap of one DV inside an on-disk DV file, its
    format version and size/CRC framing verified."""
    if not blob or blob[0] != 1:
        raise ValueError(f"DV file format version {blob[:1]!r} != 1")
    if offset < 1 or offset + 4 > len(blob):
        raise ValueError("DV offset outside file")
    (size,) = struct.unpack_from(">I", blob, offset)
    if size != size_in_bytes:
        raise ValueError(
            f"DV sizeInBytes {size_in_bytes} != framed size {size}"
        )
    data = blob[offset + 4 : offset + 4 + size]
    if len(data) < size:
        raise ValueError("DV data truncated")
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    if crc != zlib.crc32(data) & 0xFFFFFFFF:
        raise ValueError("DV checksum mismatch")
    return data


def parse_dv_in_file(blob: bytes, offset: int, size_in_bytes: int) -> list[int]:
    """One DV out of an on-disk DV file: size/CRC framing verified,
    bitmap decoded to sorted row indexes."""
    return parse_roaring_bitmap_array(dv_in_file(blob, offset, size_in_bytes))
