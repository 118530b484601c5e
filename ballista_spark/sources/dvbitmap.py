"""Delta deletion-vector bitmap codec — pure Python, public formats.

Implements the two public specs a Delta DV reader needs (delta.io
PROTOCOL.md "Deletion Vectors" + the RoaringFormatSpec at
github.com/RoaringBitmap/RoaringFormatSpec), with no native library:

- **Z85** (the ZeroMQ base-85 alphabet): Delta encodes the DV file's
  random UUID (16 bytes -> 20 chars) and inline bitmaps with it.
- **RoaringBitmapArray** ("portable" 64-bit format, the delta-kernel /
  delta-rs on-disk layout): ``magic 1681511377 (u32 LE) | number of
  32-bit bitmaps (u64 LE) | bitmap_0 | bitmap_1 | ...`` where bitmap_i
  holds the low 32 bits of every member whose high 32 bits equal i,
  serialized in the standard 32-bit roaring portable format (cookie
  12346/12347, array / bitmap / run containers).
- The **DV file layout**: version byte ``1`` at offset 0; each vector
  at its descriptor ``offset`` as ``[dataSize u32 BE][bitmap bytes]
  [CRC-32 of the bitmap bytes, u32 BE]``.

The encoder serves fixtures AND the production DV-write DELETE
(``delete_from_delta_table(use_deletion_vectors=True)`` packs one
roaring bitmap per touched file, executor-side, into one shared DV
file); mutations on DV tables otherwise apply-then-purge (a touched
file rewrites without its descriptor).  The reader decodes descriptors
executor-side for large vectors (:func:`tombstones`) and
applies them as a (file, position) anti-join at the scan stage — never
a per-row Python filter, never all positions materialized on the
driver.
"""

from __future__ import annotations

import json
import struct
import zlib

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

MAGIC = 1681511377  # RoaringBitmapArray portable-format magic

#: positions per yielded Arrow batch when a table reader decodes vectors
#: executor-side (bounds a batch to ~30 MB even for pathological path
#: lengths)
DECODE_CHUNK = 1 << 18
#: LOCAL tables whose descriptors declare at most this many total
#: deleted positions decode tombstones on the driver (one Arrow batch,
#: no job).  Measured warm on a 4-vCPU host (read+count of a 1-DV
#: table): 2k positions 0.46 s driver vs 0.67 s executor; 20k ~equal
#: (0.78 vs 0.83); 100k the executor pass WINS (1.28 vs 1.02 — the
#: pure-Python bitmap decode dominates and parallelizes).  Above the
#: threshold, with an unknown cardinality, or on any non-local table,
#: decode runs EXECUTOR-SIDE: the driver ships only the (file,
#: descriptor) list and one mapInPandas pass decodes each file's bitmap
#: where the anti-join consumes it, so driver memory never holds
#: decoded positions (measured: a 2.5M-position lifecycle adds 27 MB to
#: driver maxrss on DELETE — the compressed per-file segments — and
#: 0 MB on read).
DRIVER_DECODE_MAX = 20_000

_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUNCONTAINER = 12346
_NO_OFFSET_THRESHOLD = 4


class DeletionVectorError(ValueError):
    """Malformed or unsupported deletion-vector bytes."""


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise DeletionVectorError(
            f"z85 length {len(text)} is not a multiple of 5"
        )
    out = bytearray()
    for i in range(0, len(text), 5):
        acc = 0
        for ch in text[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_INDEX[ch]
            except KeyError:
                raise DeletionVectorError(
                    f"invalid z85 character {ch!r}"
                ) from None
        if acc > 0xFFFFFFFF:
            raise DeletionVectorError("z85 group overflows 32 bits")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise DeletionVectorError(
            f"z85 input length {len(data)} is not a multiple of 4"
        )
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i : i + 4], "big")
        group = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            group.append(_Z85_CHARS[rem])
        out.extend(reversed(group))
    return "".join(out)


# ---------------------------------------------------------------------------
# 32-bit roaring (RoaringFormatSpec portable serialization)


def _decode_rbm32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Decode one 32-bit roaring bitmap starting at ``pos``; returns
    (sorted values, next position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        run_bits = buf[pos : pos + (n + 7) // 8]
        pos += (n + 7) // 8
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUNCONTAINER:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        run_bits = b""
        has_offsets = True
    else:
        raise DeletionVectorError(f"bad roaring cookie {cookie}")

    keys_cards = []
    for _ in range(n):
        key, card_minus_1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys_cards.append((key, card_minus_1 + 1))
    if has_offsets:
        pos += 4 * n  # container offsets — sequential decode ignores them

    values: list[int] = []
    for i, (key, card) in enumerate(keys_cards):
        base = key << 16
        is_run = bool(run_bits and (run_bits[i // 8] >> (i % 8)) & 1)
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(base + v for v in range(start, start + length + 1))
        elif card <= 4096:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base + v for v in vals)
        else:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    low = w & -w
                    values.append(base + (wi << 6) + low.bit_length() - 1)
                    w ^= low
    return values, pos


def _encode_rbm32(values: list[int]) -> bytes:
    """Serialize sorted 32-bit values (SERIAL_COOKIE_NO_RUNCONTAINER,
    array/bitmap containers — the encoder delta-kernel itself emits for
    freshly-built DVs)."""
    by_key: dict[int, list[int]] = {}
    for v in values:
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    out = bytearray()
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUNCONTAINER, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(by_key[k]) - 1)
    # container offsets
    off = len(out) + 4 * len(keys)
    bodies = []
    for k in keys:
        vals = sorted(by_key[k])
        if len(vals) <= 4096:
            body = struct.pack(f"<{len(vals)}H", *vals)
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            body = struct.pack("<1024Q", *words)
        bodies.append(body)
    for body in bodies:
        out += struct.pack("<I", off)
        off += len(body)
    for body in bodies:
        out += body
    return bytes(out)


# ---------------------------------------------------------------------------
# 64-bit RoaringBitmapArray (the Delta DV payload)


def decode_rbm_array(buf: bytes) -> list[int]:
    """Portable RoaringBitmapArray bytes -> sorted member list."""
    if len(buf) < 12:
        raise DeletionVectorError("bitmap too short for magic + count")
    magic, n_bitmaps = struct.unpack_from("<Iq", buf, 0)
    if magic != MAGIC:
        raise DeletionVectorError(
            f"bad RoaringBitmapArray magic {magic} (want {MAGIC})"
        )
    pos = 12
    out: list[int] = []
    for hi in range(n_bitmaps):
        vals, pos = _decode_rbm32(buf, pos)
        base = hi << 32
        out.extend(base + v for v in vals)
    return out


def encode_rbm_array(values: list[int]) -> bytes:
    vals = sorted(set(values))
    n_bitmaps = (vals[-1] >> 32) + 1 if vals else 0
    out = bytearray(struct.pack("<Iq", MAGIC, n_bitmaps))
    for hi in range(n_bitmaps):
        out += _encode_rbm32(
            [v & 0xFFFFFFFF for v in vals if (v >> 32) == hi]
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# DV file framing


def unpack_dv_blob(blob: bytes, offset: int, size_in_bytes: int) -> list[int]:
    """Extract one deletion vector from DV-file bytes: ``[dataSize u32
    BE][bitmap][crc32 u32 BE]`` at ``offset``; verifies both the
    descriptor's sizeInBytes and the stored checksum."""
    (data_size,) = struct.unpack_from(">I", blob, offset)
    if data_size != size_in_bytes:
        raise DeletionVectorError(
            f"DV sizeInBytes mismatch: descriptor {size_in_bytes}, "
            f"file {data_size}"
        )
    data = blob[offset + 4 : offset + 4 + data_size]
    if len(data) != data_size:
        raise DeletionVectorError("DV file truncated")
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + data_size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise DeletionVectorError("DV checksum mismatch")
    return decode_rbm_array(data)


def pack_dv_blob(values: list[int]) -> tuple[bytes, int, int, int]:
    """Fixture helper: one-vector DV file bytes -> (blob, offset,
    sizeInBytes, cardinality)."""
    blob, descs = pack_dv_file([values])
    off, size, card = descs[0]
    return blob, off, size, card


# ---------------------------------------------------------------------------
# Iceberg v3: Puffin files + deletion-vector-v1 blobs
#
# Iceberg format-version 3 stores deletion vectors as blobs inside
# Puffin files (apache/iceberg "Puffin file format" + table-spec
# "Deletion vectors").  The blob payload deliberately shares Delta's
# layout: 4-byte magic D1 D3 39 64 (== MAGIC little-endian) followed by
# the portable 64-bit RoaringBitmapArray — so decode_rbm_array above
# reads both formats unchanged.

PUFFIN_MAGIC = b"PFA1"
DV_V1_MAGIC = struct.pack("<I", MAGIC)  # D1 D3 39 64


def read_puffin_footer(blob: bytes) -> dict:
    """Parse a Puffin file's footer into its JSON payload (``blobs`` +
    ``properties``).  Layout (spec): Magic · per-blob payloads · Magic ·
    FooterPayload (JSON) · FooterPayloadSize (i32 LE) · Flags (4 bytes)
    · Magic.  Flag bit 0 of byte 0 = lz4-compressed footer — refused
    (no lz4 in this environment; loud, not silent)."""
    if len(blob) < 20 or blob[:4] != PUFFIN_MAGIC or blob[-4:] != PUFFIN_MAGIC:
        raise DeletionVectorError("not a Puffin file (magic)")
    flags = blob[-8:-4]
    if flags[0] & 0x01:
        raise DeletionVectorError(
            "lz4-compressed Puffin footer unsupported by this reader"
        )
    (size,) = struct.unpack("<i", blob[-12:-8])
    # header magic (4) + footer magic·payload·size·flags·magic (16+size)
    if size < 0 or size + 20 > len(blob):
        raise DeletionVectorError("Puffin footer size out of range")
    if blob[-16 - size : -12 - size] != PUFFIN_MAGIC:
        raise DeletionVectorError("Puffin footer opening magic missing")
    payload = blob[-12 - size : -12]
    try:
        return json.loads(payload.decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise DeletionVectorError(f"bad Puffin footer payload: {e}") from None


def unpack_iceberg_dv(blob: bytes, offset: int, length: int) -> list[int]:
    """Decode one ``deletion-vector-v1`` blob at ``offset``/``length``
    (the manifest's content_offset / content_size_in_bytes): ``[len of
    magic+vector, u32 BE][magic D1D33964][portable64 bitmap][crc32 of
    magic+vector, u32 BE]`` -> sorted deleted positions."""
    seg = blob[offset : offset + length]
    if len(seg) != length:
        raise DeletionVectorError("deletion-vector blob truncated")
    (comb,) = struct.unpack(">I", seg[:4])
    if comb + 8 != length:
        raise DeletionVectorError(
            f"deletion-vector length mismatch: prefix says {comb + 8}, "
            f"descriptor says {length}"
        )
    if seg[4:8] != DV_V1_MAGIC:
        raise DeletionVectorError(
            f"bad deletion-vector magic {seg[4:8]!r}"
        )
    data = seg[4 : 4 + comb]  # magic + serialized vector
    (crc,) = struct.unpack(">I", seg[4 + comb : 8 + comb])
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise DeletionVectorError("deletion-vector checksum mismatch")
    return decode_rbm_array(data)


def pack_iceberg_dv_blob(values: list[int]) -> bytes:
    """One ``deletion-vector-v1`` blob's bytes (fixtures + tests)."""
    data = encode_rbm_array(values)  # == magic + portable64
    return (
        struct.pack(">I", len(data))
        + data
        + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    )


def pack_puffin_file(
    blobs: list[tuple[bytes, dict]],
) -> tuple[bytes, list[dict]]:
    """Assemble a Puffin file from ``(blob bytes, blob properties)``
    pairs; returns (file bytes, footer blob descriptors with offsets) —
    the descriptors mirror what a v3 delete manifest needs
    (content_offset / content_size_in_bytes per referenced file)."""
    out = bytearray(PUFFIN_MAGIC)
    descs = []
    for data, props in blobs:
        off = len(out)
        out += data
        descs.append(
            {
                "type": "deletion-vector-v1",
                "fields": [],
                "offset": off,
                "length": len(data),
                "properties": dict(props),
            }
        )
    payload = json.dumps({"blobs": descs, "properties": {}}).encode()
    out += (
        PUFFIN_MAGIC
        + payload
        + struct.pack("<i", len(payload))
        + b"\x00\x00\x00\x00"
        + PUFFIN_MAGIC
    )
    return bytes(out), descs


def pack_dv_file(
    vectors: list[list[int]],
) -> tuple[bytes, list[tuple[int, int, int]]]:
    """Many deletion vectors in ONE DV file (the spec's layout — a
    DELETE commit shares one file across its touched data files):
    version byte, then per vector ``[size u32 BE][bitmap][crc32 BE]``.
    Returns (file bytes, [(offset, sizeInBytes, cardinality), ...])."""
    blob = bytearray(b"\x01")
    descs = []
    for vals in vectors:
        data = encode_rbm_array(vals)
        off = len(blob)
        blob += (
            struct.pack(">I", len(data))
            + data
            + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        )
        descs.append((off, len(data), len(set(vals))))
    return bytes(blob), descs


def tombstones(spark, vectors: list[tuple], decode, local: bool):
    """The (``__dfp``, ``__pos``) tombstone DataFrame of deletion
    ``vectors`` — (data file path, cardinality or 0 when unknown,
    *args), ``decode(*args)`` returning the file's deleted positions —
    which a scan applies as one anti-join, never a per-row Python
    filter.  ``local`` vectors decode on the driver under
    :data:`DRIVER_DECODE_MAX`; the rest decode executor-side in
    :data:`DECODE_CHUNK` batches (``args`` must be JSON)."""
    cards = [v[1] for v in vectors]
    if local and all(c > 0 for c in cards) and sum(cards) <= DRIVER_DECODE_MAX:
        import pandas as pd

        frames = [
            pd.DataFrame(
                {"__dfp": v[0], "__pos": pd.Series(decode(*v[2:]), dtype="int64")}
            )
            for v in vectors
        ]
        return spark.createDataFrame(
            pd.concat(frames, ignore_index=True), schema="__dfp string, __pos long"
        )

    def _decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for dfp, args in zip(pdf["__dfp"], pdf["__args"]):
                pos = np.asarray(decode(*json.loads(args)), dtype="int64")
                for i in range(0, max(len(pos), 1), DECODE_CHUNK):
                    chunk = pos[i : i + DECODE_CHUNK]
                    yield pd.DataFrame(
                        {"__dfp": np.repeat(dfp, len(chunk)), "__pos": chunk}
                    )

    desc = spark.createDataFrame(
        [(v[0], json.dumps(v[2:])) for v in vectors], "__dfp string, __args string"
    )
    n_part = max(1, min(len(vectors), spark.sparkContext.defaultParallelism))
    return desc.repartition(n_part).mapInPandas(_decode, "__dfp string, __pos long")
