"""Protobuf wire-format record stream source/sink, pure stdlib.

The protobuf WIRE format (varint field keys ``field_number << 3 |
wire_type``, LEB128 varints, length-delimited submessages) is a public
specification (protobuf.dev "Encoding"); the container cannot install
the ``protobuf`` package (no index reachable — COVERAGE.md env-gate
log), so this implements the wire grammar directly for the flat ingest
record the other sources round-trip — the sources/avro.py recipe
applied to the other dominant interchange format. The stream layout is
the standard length-delimited framing (varint byte-length prefix per
message, the ``writeDelimitedTo`` convention).

Message shape (proto3 semantics):

    message Doc { int64 doc_id = 1; string lang = 2; string text = 3; }

Real wire semantics, not a happy-path parser: int64 negatives encode
as 10-byte varints, UNKNOWN fields are skipped by wire type exactly as
a generated parser would (varint / fixed64 / length-delimited /
fixed32; the deprecated group types reject), wrong wire types for
known fields reject, and proto3 default-value omission round-trips
(doc_id 0 / empty strings are legal absent fields).

Distributed shape (``partfiles``): one part file per partition,
published by rename, read back whole through ``binaryFile``. Unlike
Avro there are NO sync markers in this format, so a single
stream is NOT byte-range splittable — parallelism comes from many part
files, which is exactly how protobuf stream dumps ship in practice
(and why the Avro container exists; documented trade, not a gap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.sources.partfiles import read_parts, write_parts
from task_hive_spark.sources.textfiles import _PROFILE_SQL, codec_roundtrip

_WT_VARINT, _WT_FIXED64, _WT_LEN, _WT_SGROUP, _WT_EGROUP, _WT_FIXED32 = range(6)


def _uvarint_encode(n: int) -> bytes:
    if n < 0:
        # int64 two's complement per the spec: 10-byte varint
        n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _uvarint_decode(buf: bytes, pos: int) -> tuple[int, int]:
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
    return acc, pos


def _int64_of(u: int) -> int:
    """Reinterpret an unsigned varint as int64 (two's complement)."""
    if u >= 1 << 64:
        raise ValueError("varint exceeds 64 bits")
    return u - (1 << 64) if u >= 1 << 63 else u


def encode_doc(doc_id: int, lang: str, text: str) -> bytes:
    """One Doc message. proto3 default omission: zero/empty fields are
    not written (the decoder supplies defaults)."""
    out = bytearray()
    if doc_id != 0:
        out += _uvarint_encode((1 << 3) | _WT_VARINT)
        out += _uvarint_encode(doc_id)
    for fno, s in ((2, lang), (3, text)):
        if s:
            raw = s.encode("utf-8")
            out += _uvarint_encode((fno << 3) | _WT_LEN)
            out += _uvarint_encode(len(raw))
            out += raw
    return bytes(out)


def decode_doc(buf: bytes) -> tuple[int, str, str]:
    """Parse one Doc message with real wire semantics: later fields
    overwrite earlier (proto3 last-wins), unknown fields skip by wire
    type, wrong wire types for known fields reject."""
    doc_id, lang, text = 0, "", ""
    pos = 0
    while pos < len(buf):
        key, pos = _uvarint_decode(buf, pos)
        fno, wt = key >> 3, key & 7
        if fno == 0:
            raise ValueError("field number 0 is reserved")
        if fno == 1:
            if wt != _WT_VARINT:
                raise ValueError(f"doc_id: wire type {wt}, want varint")
            u, pos = _uvarint_decode(buf, pos)
            doc_id = _int64_of(u)
        elif fno in (2, 3):
            if wt != _WT_LEN:
                raise ValueError(f"field {fno}: wire type {wt}, want len")
            ln, pos = _uvarint_decode(buf, pos)
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("truncated string field")
            s = buf[pos : pos + ln].decode("utf-8")
            pos += ln
            if fno == 2:
                lang = s
            else:
                text = s
        elif wt == _WT_VARINT:
            _, pos = _uvarint_decode(buf, pos)
        elif wt == _WT_FIXED64:
            pos += 8
        elif wt == _WT_LEN:
            ln, pos = _uvarint_decode(buf, pos)
            pos += ln
        elif wt == _WT_FIXED32:
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt} (groups are deprecated)")
        if pos > len(buf):
            raise ValueError("field overruns the message")
    return doc_id, lang, text


def write_stream(path: str, records: list[tuple[int, str, str]]) -> int:
    """One length-delimited Doc stream (varint length prefix per
    message — the writeDelimitedTo convention)."""
    out = bytearray()
    for doc_id, lang, text in records:
        msg = encode_doc(int(doc_id), lang, text)
        out += _uvarint_encode(len(msg))
        out += msg
    with open(path, "wb") as f:
        f.write(bytes(out))
    return len(records)


def read_stream(content: bytes) -> list[tuple[int, str, str]]:
    out: list[tuple[int, str, str]] = []
    pos = 0
    while pos < len(content):
        ln, pos = _uvarint_decode(content, pos)
        if ln < 0 or pos + ln > len(content):
            raise ValueError("truncated delimited message")
        out.append(decode_doc(content[pos : pos + ln]))
        pos += ln
    return out


def write_protowire_dir(df: DataFrame, out_dir: str) -> int:
    """One length-delimited stream per partition, ``part-NNNNN.pbs``
    (the partfiles sink). Returns records written."""
    return write_parts(df, out_dir, ".pbs", lambda tmp, rows, _pid: write_stream(tmp, rows))


def read_protowire_dir(spark: SparkSession, in_dir: str) -> DataFrame:
    """Every stream of ``in_dir``, decoded whole (no sync markers in
    this format — see the module docstring for the splittability
    trade)."""
    return read_parts(spark, in_dir, ".pbs", read_stream)


# --- round-trip query ------------------------------------------------------


def src_protowire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format ingest: the shared escaping-probe corpus
    (textfiles._derived) through the distributed length-delimited sink
    and back, profiled per language against the shared profile SQL — a
    green hash proves the varint/UTF-8 wire encode → decode is
    byte-lossless, including proto3 default omission for the corpus's
    doc_id 0 row."""
    return codec_roundtrip(
        spark, sf_dir, "protowire_ingest", write_protowire_dir, read_protowire_dir
    )


QUERIES = {"src_protowire_roundtrip": src_protowire_roundtrip}

ORACLES = {"src_protowire_roundtrip": _PROFILE_SQL}
