"""Deletion-vector codec + resolution (public Delta PROTOCOL.md,
"Deletion Vectors" + "Deletion Vector Descriptor Schema" sections, and
the public RoaringFormatSpec for the bitmap payload).

A deletion vector marks PHYSICAL ROW INDICES of a parquet data file as
deleted without rewriting the file (merge-on-read).  The descriptor
rides the add action:

    {"storageType": "i"|"u"|"p", "pathOrInlineDv": ...,
     "offset": int?, "sizeInBytes": int, "cardinality": int}

- ``i``: payload inline — pathOrInlineDv is the Z85-encoded serialized
  bitmap.
- ``u``: payload in a file under the table root named
  ``<prefix>/deletion_vector_<uuid>.bin`` where pathOrInlineDv is
  ``<prefix><z85(uuid bytes)>`` (prefix possibly empty, uuid = last 20
  z85 chars); ``offset`` points at the 4-byte big-endian length that
  precedes the payload (followed by a CRC-32 of the payload).
- ``p``: pathOrInlineDv is an absolute path to such a file.

Payload = RoaringBitmapArray "portable" serialization: int32-LE magic
1681511377, int64-LE count of 32-bit bitmaps, then each bitmap in the
standard RoaringFormatSpec layout (array / bitset / run containers);
bitmap ``i`` holds the low 32 bits of indices with high 32 bits = i.

The reference predates deletion vectors entirely
(TransactionLogEntry.cs parses only classic actions and the engine
refused such tables); this module upgrades the READ side so current
Delta writers' tables (DV-enabled by default) can be queried; the
mirror pipeline ingests DV'd files only under ``on_dv="materialize"``.

Scale posture: descriptors and compressed bitmaps are KB-scale driver
metadata (same class as the log itself).  EXPANSION to (file,
row_index) pairs has one home, :func:`deleted_rows`.  Within the
broadcast bound (:data:`DRIVER_DECODE_ROWS` rows,
:data:`DRIVER_DECODE_FILES` files) the driver decodes, with numpy, and
hands Spark one Arrow table: the broadcast relation built from that
pair list lives in the driver JVM anyway, so decoding there only
removes a Python-worker round trip.  Beyond either bound executors
fetch and decode, and the driver never holds a deleted-row list.
"""

from __future__ import annotations

import json
import struct
import zlib

import numpy as np

from . import fs as _fs

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

MAGIC = 1681511377


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 encodes 4-byte blocks")
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        block = []
        for _ in range(5):
            block.append(_Z85_CHARS[n % 85])
            n //= 85
        out.extend(reversed(block))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 decodes 5-char blocks")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i : i + 5]:
            n = n * 85 + _Z85_INDEX[c]
        out += n.to_bytes(4, "big")
    return bytes(out)


# -- RoaringBitmapArray (portable) ---------------------------------------

_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUNS = 12346
_NO_OFFSET_THRESHOLD = 4


def _layout32(buf, pos: int) -> tuple[list[tuple[int, int, str, int]], int]:
    """Container directory of one standard 32-bit roaring bitmap
    starting at ``pos``: ([(base, cardinality, kind, offset)], next_pos)
    with kind ``run`` / ``array`` / ``bitset``.  Reads headers only, so
    the cardinality of a payload costs no decode."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    start = pos
    pos += 4
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nb = (n + 7) // 8
        is_run = np.unpackbits(
            np.frombuffer(buf, np.uint8, nb, pos), bitorder="little"
        )[:n]
        pos += nb
    elif cookie == _SERIAL_COOKIE_NO_RUNS:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        is_run = np.zeros(n, np.uint8)
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    head = np.frombuffer(buf, "<u2", 2 * n, pos).reshape(n, 2)
    pos += 4 * n
    offsets = None
    if cookie == _SERIAL_COOKIE_NO_RUNS or n >= _NO_OFFSET_THRESHOLD:
        offsets = np.frombuffer(buf, "<u4", n, pos)
        pos += 4 * n
    out = []
    for i in range(n):
        if offsets is not None:
            pos = start + int(offsets[i])
        card = int(head[i, 1]) + 1
        if is_run[i]:
            kind, size = "run", 2 + 4 * struct.unpack_from("<H", buf, pos)[0]
        elif card <= 4096:
            kind, size = "array", 2 * card
        else:
            kind, size = "bitset", 8192
        out.append((int(head[i, 0]) << 16, card, kind, pos))
        pos += size
    return out, pos


def _layout(data) -> list[tuple[int, int, str, int]]:
    """Container directory of a serialized RoaringBitmapArray, bases
    widened to 64 bits (bitmap ``i`` holds indices with high word i)."""
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    (count,) = struct.unpack_from("<q", data, 4)
    pos = 12
    out = []
    for hi in range(count):
        conts, pos = _layout32(data, pos)
        out.extend((hi << 32 | b, c, k, o) for b, c, k, o in conts)
    return out


def cardinality(data) -> int:
    """Number of row indices in a serialized RoaringBitmapArray, from
    its container headers alone."""
    return sum(c for _b, c, _k, _o in _layout(data))


def decode(data) -> np.ndarray:
    """Serialized RoaringBitmapArray -> sorted int64 row indices, one
    numpy operation per container: ``frombuffer`` for arrays,
    ``unpackbits`` for bitsets, a shifted ``arange`` for runs."""
    parts = [np.empty(0, np.int64)]
    for base, card, kind, pos in _layout(data):
        if kind == "array":
            vals = np.frombuffer(data, "<u2", card, pos).astype(np.int64)
        elif kind == "bitset":
            vals = np.flatnonzero(
                np.unpackbits(
                    np.frombuffer(data, np.uint8, 8192, pos),
                    bitorder="little",
                )
            )
        else:
            (n_runs,) = struct.unpack_from("<H", data, pos)
            runs = np.frombuffer(data, "<u2", 2 * n_runs, pos + 2)
            starts = runs[0::2].astype(np.int64)
            lens = runs[1::2].astype(np.int64) + 1
            # run r covers starts[r] .. starts[r] + lens[r] - 1: one
            # arange over all runs, shifted back to each run's start
            vals = np.arange(lens.sum()) + np.repeat(
                starts - (np.cumsum(lens) - lens), lens
            )
        parts.append(vals + base)
    return np.concatenate(parts)


def deserialize(data: bytes) -> list[int]:
    """Serialized RoaringBitmapArray -> sorted 64-bit row indices."""
    return decode(data).tolist()


def _serialize_bitmap32(values: list[int]) -> bytes:
    """Standard portable serialization (array/bitset containers only —
    the simplest legal writer; every reader must accept it)."""
    by_key: dict[int, list[int]] = {}
    for v in sorted(values):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    n = len(by_key)
    head = struct.pack("<II", _SERIAL_COOKIE_NO_RUNS, n)
    desc = b"".join(
        struct.pack("<HH", k, len(vs) - 1) for k, vs in sorted(by_key.items())
    )
    # offsets are mandatory with the no-run cookie
    conts = []
    for _k, vs in sorted(by_key.items()):
        if len(vs) <= 4096:
            conts.append(struct.pack(f"<{len(vs)}H", *vs))
        else:
            words = [0] * 1024
            for v in vs:
                words[v >> 6] |= 1 << (v & 63)
            conts.append(struct.pack("<1024Q", *words))
    base = len(head) + len(desc) + 4 * n
    offsets, cur = [], base
    for c in conts:
        offsets.append(cur)
        cur += len(c)
    return (
        head
        + desc
        + struct.pack(f"<{n}I", *offsets)
        + b"".join(conts)
    )


def serialize(indices: list[int]) -> bytes:
    """Sorted-or-not 64-bit row indices -> RoaringBitmapArray bytes."""
    by_hi: dict[int, list[int]] = {}
    for v in indices:
        by_hi.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    if not by_hi:
        return struct.pack("<iq", MAGIC, 0)
    n_bitmaps = max(by_hi) + 1
    out = [struct.pack("<iq", MAGIC, n_bitmaps)]
    for hi in range(n_bitmaps):
        out.append(_serialize_bitmap32(by_hi.get(hi, [])))
    return b"".join(out)


# -- descriptor resolution ------------------------------------------------


def inline_descriptor(indices: list[int]) -> dict:
    """An ``i`` (inline) descriptor for a row-index set — fixture and
    writer helper."""
    payload = serialize(indices)
    pad = (-len(payload)) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(payload + b"\x00" * pad),
        "sizeInBytes": len(payload),
        "cardinality": len(set(indices)),
    }


def write_dv_file(
    table_path: str, indices: list[int], prefix: str = ""
) -> dict:
    """Author a ``u`` (UUID-file) deletion vector under the table root
    and return its descriptor — the on-disk shape current Delta
    writers produce (1-byte format version, then per-DV: 4-byte BE
    length + payload + 4-byte BE CRC-32)."""
    import uuid as _uuid

    u = _uuid.uuid4()
    payload = serialize(indices)
    blob = (
        b"\x01"
        + struct.pack(">i", len(payload))
        + payload
        + struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)
    )
    name = f"deletion_vector_{u}.bin"
    rel = f"{prefix}/{name}" if prefix else name
    fs = _fs.get_fs(table_path)
    full = _fs.join(table_path, rel)
    if "/" in rel:
        fs.makedirs(full.rsplit("/", 1)[0])
    fs.write_bytes(full, blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(payload),
        "cardinality": len(set(indices)),
    }


def pack_dv_file(
    table_path: str, payloads: list[tuple[bytes, int]], prefix: str = ""
) -> list[dict]:
    """Write ONE ``u``-storage deletion-vector file holding every
    payload of a commit (the layout current Delta writers produce: a
    shared .bin with per-DV offsets) and return one descriptor per
    payload, in order.  ``payloads`` = (serialized bitmap, cardinality)
    pairs."""
    import uuid as _uuid

    u = _uuid.uuid4()
    blob = bytearray(b"\x01")
    descs: list[dict] = []
    enc = prefix + z85_encode(u.bytes)
    for payload, card in payloads:
        off = len(blob)
        blob += struct.pack(">i", len(payload))
        blob += payload
        blob += struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)
        descs.append(
            {
                "storageType": "u",
                "pathOrInlineDv": enc,
                "offset": off,
                "sizeInBytes": len(payload),
                "cardinality": int(card),
            }
        )
    name = f"deletion_vector_{u}.bin"
    rel = f"{prefix}/{name}" if prefix else name
    fs = _fs.get_fs(table_path)
    full = _fs.join(table_path, rel)
    if "/" in rel:
        fs.makedirs(full.rsplit("/", 1)[0])
    fs.write_bytes(full, bytes(blob))
    return descs


def dv_file_rel_path(desc: dict) -> str | None:
    """Table-relative path of a ``u``-storage descriptor's .bin file
    (None for inline/absolute) — vacuum uses this to keep live DV
    files."""
    if desc.get("storageType") != "u":
        return None
    import uuid as _uuid

    enc = desc["pathOrInlineDv"]
    prefix, uid = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=z85_decode(uid))
    rel = f"deletion_vector_{u}.bin"
    return f"{prefix}/{rel}" if prefix else rel


def dv_payload(
    table_path: str, desc: dict, blob_cache: dict | None = None
) -> bytes:
    """Resolve a descriptor to its serialized bitmap bytes (KB-scale
    metadata; :func:`deleted_rows` decides where they are expanded).
    ``blob_cache`` (path -> bytes) memoizes the .bin reads across a
    batch of descriptors — delete_dv packs a whole commit's vectors
    into ONE shared file, so N descriptors otherwise re-read and
    re-CRC the same blob N times."""
    st = desc["storageType"]
    size = int(desc["sizeInBytes"])
    if st == "i":
        return z85_decode(desc["pathOrInlineDv"])[:size]
    if st == "u":
        full = _fs.join(table_path, dv_file_rel_path(desc))
    elif st == "p":
        full = desc["pathOrInlineDv"]
    else:
        raise ValueError(f"unknown deletion-vector storageType {st!r}")
    if blob_cache is not None and full in blob_cache:
        blob = blob_cache[full]
    else:
        blob = _fs.get_fs(full if st == "p" else table_path).read_bytes(
            full
        )
        if blob_cache is not None:
            blob_cache[full] = blob
    off = desc.get("offset") or 0
    (ln,) = struct.unpack_from(">i", blob, off)
    if ln != size:
        raise ValueError(
            f"deletion vector length {ln} != descriptor sizeInBytes {size}"
        )
    payload = blob[off + 4 : off + 4 + ln]
    (crc,) = struct.unpack_from(">I", blob, off + 4 + ln)
    if crc != (zlib.crc32(payload) & 0xFFFFFFFF):
        raise ValueError("deletion vector payload failed CRC-32 check")
    return payload


# -- expansion to (file, row_index) pairs --------------------------------

#: Bounds of the driver-side decode in :func:`deleted_rows`: total
#: deleted rows (the bound under which the pair list is broadcast, so
#: the driver JVM already holds all of it) and DV'd files (above which
#: payloads are not fetched one by one on the driver).
DRIVER_DECODE_ROWS = 10_000_000
DRIVER_DECODE_FILES = 1024


def _card(dv) -> int:
    """Cardinality of a descriptor, a payload, or None (no vector)."""
    if dv is None:
        return 0
    if isinstance(dv, dict):
        return int(dv["cardinality"])
    return cardinality(dv)


def _pairs_table(chunks, file_col, ridx_col, change_col):
    """Arrow (file, row_index[, change]) table from (file, sorted
    int64 indices, change) chunks; file and change are
    dictionary-encoded, so a file's path is stored once, not per row."""
    import pyarrow as pa

    lens = [len(a) for _f, a, _c in chunks]
    cols = {
        file_col: pa.DictionaryArray.from_arrays(
            np.repeat(np.arange(len(chunks), dtype=np.int32), lens),
            pa.array([f for f, _a, _c in chunks], pa.string()),
        ),
        ridx_col: np.concatenate(
            [np.empty(0, np.int64)] + [a for _f, a, _c in chunks]
        ),
    }
    if change_col is not None:
        kinds = ["delete", "insert"]
        cols[change_col] = pa.DictionaryArray.from_arrays(
            np.repeat(
                np.array([kinds.index(c) for _f, _a, c in chunks], np.int32),
                lens,
            ),
            pa.array(kinds),
        )
    return pa.table(cols)


def _chunks(table_path, entries, delta: bool):
    """Fetch and decode each (file, new, old) entry: its rows, or with
    ``delta`` the bitmap delta — new∖old as deletes, old∖new as
    inserts."""
    blob_cache: dict = {}

    def rows_of(dv):
        if isinstance(dv, dict):
            dv = dv_payload(table_path, dv, blob_cache)
        return decode(dv)

    out = []
    for f, new, old in entries:
        rows = rows_of(new)
        if not delta:
            out.append((f, rows, None))
            continue
        prior = rows_of(old) if old is not None else rows[:0]
        for a, b, change in ((rows, prior, "delete"), (prior, rows, "insert")):
            out.append((f, np.setdiff1d(a, b, assume_unique=True), change))
    return out


def deleted_rows(
    spark,
    table_path: str,
    dvs: list[tuple],
    file_col: str = "_f",
    ridx_col: str = "_ridx",
    change_col: str | None = None,
):
    """The (file, row_index) DataFrame of the rows deleted by ``dvs`` —
    the single home of deletion-vector expansion.

    ``dvs`` holds ``(file, dv)`` pairs, or with ``change_col``
    ``(file, new_dv, old_dv)`` triples whose rows are the bitmap delta
    tagged ``delete`` (new∖old) / ``insert`` (old∖new).  A ``dv`` is a
    descriptor dict or an already-fetched payload; ``old_dv`` may be
    None.  ``file`` is used verbatim as the join key.

    Within :data:`DRIVER_DECODE_ROWS` total rows and
    :data:`DRIVER_DECODE_FILES` files the driver fetches and decodes
    the payloads and hands Spark one Arrow table — the broadcast the
    pair list feeds is built in the driver anyway, so this only drops
    the Python-worker round trip.  Beyond either bound executors fetch
    and decode in one ``mapInArrow`` pass.  The frame is broadcast
    whenever its rows are within the row bound."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    def pairs_table(entries):
        chunks = _chunks(table_path, entries, change_col is not None)
        return _pairs_table(chunks, file_col, ridx_col, change_col)

    entries = [(e[0], e[1], e[2] if len(e) > 2 else None) for e in dvs]
    total = sum(_card(new) + _card(old) for _f, new, old in entries)
    if total <= DRIVER_DECODE_ROWS and len(entries) <= DRIVER_DECODE_FILES:
        return F.broadcast(spark.createDataFrame(pairs_table(entries)))

    def ship(dv):
        # descriptors travel as JSON, fetched payloads as bytes
        if isinstance(dv, dict):
            return json.dumps(dv), None
        return None, (None if dv is None else bytes(dv))

    def land(desc, payload):
        return json.loads(desc) if desc is not None else payload

    src = spark.createDataFrame(
        [(f, *ship(new), *ship(old)) for f, new, old in entries],
        "f string, new_desc string, new binary, old_desc string, old binary",
    )
    names = [file_col, ridx_col] + ([change_col] if change_col else [])
    # mapInArrow takes no dictionary columns: decode them to strings
    plain = pa.schema(
        [(n, pa.int64() if n == ridx_col else pa.string()) for n in names]
    )

    def expand(batches):
        for batch in batches:
            b = batch.to_pydict()
            cols = ("f", "new_desc", "new", "old_desc", "old")
            entries = [
                (f, land(nd, nb), land(od, ob))
                for f, nd, nb, od, ob in zip(*(b[c] for c in cols))
            ]
            yield from pairs_table(entries).cast(plain).to_batches()

    ddl = ", ".join(
        f"{n} {'long' if n == ridx_col else 'string'}" for n in names
    )
    pairs = src.mapInArrow(expand, ddl)
    return F.broadcast(pairs) if total <= DRIVER_DECODE_ROWS else pairs
