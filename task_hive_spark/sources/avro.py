"""Avro Object Container File source/sink, pure stdlib.

The container holds Spark's avro core jars but not the external
``spark-avro`` datasource module, so ``spark.read.format("avro")`` is
unavailable (and nothing can be downloaded). The Avro container format
itself is a public specification (Apache Avro 1.x, "Object Container
Files"): magic ``Obj\\x01``, a file-metadata map carrying the writer
schema JSON and the codec, a 16-byte sync marker, then blocks of
``(record count varint, byte size varint, payload, sync)`` with
zigzag-varint binary record encoding. For the flat record shape the
ingest tier uses (long + strings) that is fully implementable with the
stdlib — the sources/excel.py recipe (a real OOXML reader without
openpyxl) applied to Avro.

Distributed shape (``partfiles``): one container file per partition,
published by rename, read back whole through ``binaryFile``; at
cluster scale the split reader seeks the 16-byte sync markers this
writer emits per block, so one large container fans out across tasks.

Codec support: ``null`` and ``deflate`` (raw DEFLATE, the spec's
required pair). Corrupt sync markers, bad magic, unknown codecs and
truncated blocks reject loudly.
"""

from __future__ import annotations

import io
import json
import os
import zlib

from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.sources.partfiles import (
    byte_ranges,
    part_name,
    read_parts,
    read_splits,
    write_parts,
)
from task_hive_spark.sources.textfiles import _PROFILE_SQL, codec_roundtrip

_MAGIC = b"Obj\x01"

# the one record shape the ingest tier round-trips (partfiles.DOC_SCHEMA)
AVRO_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "lang", "type": "string"},
        {"name": "text", "type": "string"},
    ],
}


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (acc >> 1) ^ -(acc & 1), pos


def _enc_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _zigzag_encode(len(raw)) + raw


def _dec_str(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _zigzag_decode(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError(f"bad string length {n}")
    return buf[pos : pos + n].decode("utf-8"), pos + n


def _sync_for(seed: bytes) -> bytes:
    """Deterministic 16-byte sync marker (the spec only requires the
    marker be file-unique; hashing the seed keeps runs reproducible)."""
    import hashlib

    return hashlib.md5(b"avro-sync-" + seed).digest()


def write_avro(
    path: str,
    records: list[tuple[int, str, str]],
    codec: str = "deflate",
    block_records: int = 256,
    sync_name: str | None = None,
) -> int:
    """Write one Avro Object Container File of (doc_id, lang, text)
    records. Returns the record count. ``sync_name`` lets a temp-file
    writer seed the sync marker from the FINAL name so the rename-based
    sink stays byte-reproducible across attempts."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = _sync_for(os.path.basename(sync_name or path).encode())
    meta = {
        "avro.schema": json.dumps(AVRO_SCHEMA, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = io.BytesIO()
    out.write(_MAGIC)
    out.write(_zigzag_encode(len(meta)))
    for k, v in sorted(meta.items()):
        out.write(_enc_str(k))
        out.write(_zigzag_encode(len(v)) + v)
    out.write(_zigzag_encode(0))  # end of metadata map
    out.write(sync)
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        body = bytearray()
        for doc_id, lang, text in chunk:
            body += _zigzag_encode(int(doc_id))
            body += _enc_str(lang)
            body += _enc_str(text)
        payload = bytes(body)
        if codec == "deflate":
            payload = zlib.compress(payload, 6)[2:-4]  # raw DEFLATE per spec
        out.write(_zigzag_encode(len(chunk)))
        out.write(_zigzag_encode(len(payload)))
        out.write(payload)
        out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return len(records)


def read_avro(content: bytes) -> list[tuple[int, str, str]]:
    """Decode one container's records (the split decoder over the whole
    range); rejects bad magic, unknown codecs, corrupt sync markers and
    truncated blocks loudly."""
    return _decode_range(io.BytesIO(content), 0, len(content))


def write_avro_dir(df: DataFrame, out_dir: str) -> int:
    """One deflate container per partition, ``part-NNNNN.avro`` (the
    partfiles sink; the sync marker is seeded from the final name, so
    a retried task rewrites identical bytes). Returns records written."""
    return write_parts(
        df,
        out_dir,
        ".avro",
        lambda tmp, rows, pid: write_avro(tmp, rows, sync_name=part_name(pid, ".avro")),
    )


def read_avro_dir(spark: SparkSession, in_dir: str) -> DataFrame:
    """Every container of ``in_dir``, decoded whole (partfiles)."""
    return read_parts(spark, in_dir, ".avro", read_avro)


# --- splittable range reader ------------------------------------------------
# One decoder serves both readers: read_avro runs it over a whole
# in-memory container, the split reader over a byte range of a file on
# disk — the actual Hadoop/Avro split algorithm over the sync markers
# the writer already emits, so one multi-GB container fans out across
# tasks instead of pinning one. Contract (the DataFileReader.sync/
# pastSync rule): a split [start, end) first scans FORWARD from `start`
# for the 16-byte sync marker (a marker straddling `start` is invisible
# — it belongs to the previous split's scan), then decodes every block
# whose start offset is < end + 16; the +16 slack is what makes a block
# whose sync straddles `end` belong to exactly one split (no gaps, no
# double-reads — fuzzed over split sizes in tests/test_avro_source.py).

_SYNC_LEN = 16


def _file_varint(f) -> int:
    """Zigzag varint read directly off a file handle."""
    shift = 0
    acc = 0
    while True:
        b = f.read(1)
        if not b:
            raise ValueError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (acc >> 1) ^ -(acc & 1)


def _take(f, n: int, size: int) -> bytes:
    """Exactly ``n`` bytes off ``f`` (of ``size`` bytes); a length
    running past the end is checked before any read is sized by it."""
    if n < 0 or f.tell() + n > size:
        raise ValueError("truncated container")
    return f.read(n)


def _read_header(f, size: int) -> tuple[str, bytes]:
    """Parse the container header off ``f``: returns (codec, sync
    marker), leaving ``f`` at the first block."""
    if f.read(4) != _MAGIC:
        raise ValueError("not an Avro container")
    meta: dict[str, bytes] = {}
    while True:
        n = _file_varint(f)
        if n == 0:
            break
        if n < 0:
            # negative map-block counts (with a byte-size long) are
            # legal Avro but never written here — reject rather than
            # silently half-parse a foreign file
            raise ValueError("negative metadata map block count unsupported")
        for _ in range(n):
            k = _take(f, _file_varint(f), size).decode("utf-8")
            meta[k] = _take(f, _file_varint(f), size)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    schema = json.loads(meta["avro.schema"])
    want = [fld["name"] for fld in AVRO_SCHEMA["fields"]]
    got = [fld["name"] for fld in schema.get("fields", [])]
    if got != want:
        raise ValueError(f"unexpected schema fields {got} (want {want})")
    return codec, _take(f, _SYNC_LEN, size)


def _scan_sync(f, sync: bytes, from_pos: int) -> int | None:
    """First block-start offset at or after ``from_pos``: scan forward
    for the sync marker (chunked, straddle-safe) and return the
    position just past it; None if no marker remains."""
    chunk_size = 1 << 16
    f.seek(from_pos)
    buf = b""
    base = from_pos
    while True:
        chunk = f.read(chunk_size)
        if not chunk:
            return None
        buf += chunk
        i = buf.find(sync)
        if i != -1:
            return base + i + _SYNC_LEN
        if len(buf) > _SYNC_LEN - 1:
            base += len(buf) - (_SYNC_LEN - 1)
            buf = buf[-(_SYNC_LEN - 1):]


def _decode_range(f, start: int, end: int) -> list[tuple[int, str, str]]:
    """Decode the blocks the split [start, end) of the container open
    as ``f`` owns."""
    size = f.seek(0, os.SEEK_END)
    f.seek(0)
    codec, sync = _read_header(f, size)
    out: list[tuple[int, str, str]] = []
    block_start = f.tell() if start == 0 else _scan_sync(f, sync, start)
    while block_start is not None and block_start < min(end + _SYNC_LEN, size):
        f.seek(block_start)
        count = _file_varint(f)
        payload = _take(f, _file_varint(f), size)
        if count < 0:
            raise ValueError("corrupt block count")
        if _take(f, _SYNC_LEN, size) != sync:
            raise ValueError("sync marker mismatch (corrupt or split block)")
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        bp = 0
        for _ in range(count):
            doc_id, bp = _zigzag_decode(payload, bp)
            lang, bp = _dec_str(payload, bp)
            text, bp = _dec_str(payload, bp)
            out.append((doc_id, lang, text))
        if bp != len(payload):
            raise ValueError(f"{len(payload) - bp} undecoded bytes in block")
        block_start = f.tell()
    return out


def _decode_split(path: str, start: int, end: int) -> list[tuple[int, str, str]]:
    """Decode the blocks a split [start, end) of the file at ``path``
    owns (module-level so the fuzz test can drive it directly)."""
    with open(path, "rb") as f:
        return _decode_range(f, start, end)


def read_avro_dir_split(
    spark: SparkSession, in_dir: str, split_bytes: int = 128 << 20
) -> DataFrame:
    """SPLITTABLE Avro source: the driver cuts byte-range splits (a
    listing, no data reads); each task syncs forward into its range and
    decodes only the blocks it owns. Rows are identical to
    read_avro_dir's at any split size; with split_bytes below the file
    size a single large container fans out across tasks."""
    return read_splits(spark, byte_ranges(in_dir, ".avro", split_bytes), _decode_split)


# --- registered round-trip query -------------------------------------------


def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF ingest: the shared escaping-probe corpus
    (textfiles._derived — ONE derivation for every src_ round-trip)
    through the deflate container sink and back through the binaryFile
    whole-container decoder, profiled per language against the shared
    profile SQL. A green hash proves the zigzag-varint / UTF-8 /
    raw-DEFLATE encode → decode path is byte-lossless — like ORC, there
    is no text escaping layer to hide behind.

    Reference tie: the ingestion family around tasks/spider.go:21-74 —
    Avro is the columnar-world analogue of its xlsx container."""
    return codec_roundtrip(spark, sf_dir, "avro_ingest", write_avro_dir, read_avro_dir)


QUERIES = {"src_avro_roundtrip": src_avro_roundtrip}

ORACLES = {"src_avro_roundtrip": _PROFILE_SQL}
