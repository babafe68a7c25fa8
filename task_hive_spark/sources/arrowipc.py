"""Arrow IPC stream source/sink, pure stdlib — cross-validated
against pyarrow.

Arrow IPC is the interchange format of the modern data stack (Flight,
DuckDB, Polars, pandas, Spark's own Arrow shuttle), and its metadata
layer is FLATBUFFERS — vtable-indirected tables, union fields,
relative offsets — a genuinely different wire grammar from the
varint/tag formats the other sources implement. This module implements
both directions from the public specs (the Arrow columnar format's
``Message.fbs``/``Schema.fbs`` and the flatbuffers internals document):

- a minimal FLATBUFFERS READER (vtable walk honoring absent-field
  defaults, union type+value slot pairs, forward uoffsets, struct
  vectors) driving a strict Arrow STREAM decoder: encapsulated-message
  framing (continuation marker, padded metadata length, 8-aligned
  body), schema verification, per-batch FieldNode/Buffer bookkeeping,
  validity bitmaps, int64 and utf8 array layouts;
- a minimal FLATBUFFERS BUILDER (back-to-front with pos-from-end
  bookkeeping, patched vtable soffsets — the reference builder's
  algorithm) driving the matching encoder.

Unlike the synth-twin codecs, the oracle here is a THIRD-PARTY
IMPLEMENTATION: the tests require pyarrow (bundled with Spark) to read
this writer's bytes and this reader to read pyarrow's — interop proven
against the reference implementation, not against a mirror of our own
assumptions. The gated round-trip query then rides the stdlib path
end to end under the shared profile oracle.

Scale shape (``partfiles``): one ``.arrows`` part file per partition,
published by rename, read back whole through ``binaryFile``. Record
batches are written at a bounded row count so a reader never
materializes more than one batch's body per step; the stream format
is not byte-range splittable (no sync markers — the FILE format's
footer solves seekability instead), so parallelism comes from many
part files, the same documented trade as the protobuf stream.

Reference tie: the ingestion family around tasks/spider.go:21-74.
"""

from __future__ import annotations

import glob
import os
import struct
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.sources.partfiles import read_parts, read_splits, write_parts
from task_hive_spark.sources.textfiles import _PROFILE_SQL, codec_roundtrip

_CONT = 0xFFFFFFFF
# MessageHeader union tags (Message.fbs)
_H_SCHEMA, _H_DICT, _H_BATCH = 1, 2, 3
# Type union tags (Schema.fbs): NONE, Null, Int, FloatingPoint, Binary, Utf8
_T_INT, _T_UTF8 = 2, 5
_V5 = 4  # MetadataVersion.V5
_BATCH_ROWS = 4096


def _pad8(n: int) -> int:
    return (n + 7) // 8 * 8


# --- flatbuffers reader ----------------------------------------------------


def _u16(b: bytes, o: int) -> int:
    return struct.unpack_from("<H", b, o)[0]


def _u32(b: bytes, o: int) -> int:
    return struct.unpack_from("<I", b, o)[0]


def _i32(b: bytes, o: int) -> int:
    return struct.unpack_from("<i", b, o)[0]


def _i64(b: bytes, o: int) -> int:
    return struct.unpack_from("<q", b, o)[0]


def _fb_root(b: bytes) -> int:
    return _u32(b, 0)


def _fb_field(b: bytes, table: int, slot: int) -> int | None:
    """Absolute position of a table field, or None when the field is
    absent (vtable slot missing or zero → flatbuffers default)."""
    vt = table - _i32(b, table)
    vsize = _u16(b, vt)
    at = 4 + 2 * slot
    if at + 2 > vsize:
        return None
    off = _u16(b, vt + at)
    return table + off if off else None


def _fb_scalar(b, table, slot, fmt, default):
    p = _fb_field(b, table, slot)
    return default if p is None else struct.unpack_from(fmt, b, p)[0]


def _fb_indirect(b: bytes, p: int) -> int:
    return p + _u32(b, p)


def _fb_table_field(b, table, slot) -> int | None:
    p = _fb_field(b, table, slot)
    return None if p is None else _fb_indirect(b, p)


def _fb_string(b, table, slot) -> str | None:
    p = _fb_table_field(b, table, slot)
    if p is None:
        return None
    n = _u32(b, p)
    return b[p + 4 : p + 4 + n].decode("utf-8")


def _fb_vector(b, table, slot) -> tuple[int, int] | None:
    """(element_base, length) of a vector field."""
    p = _fb_table_field(b, table, slot)
    if p is None:
        return None
    return p + 4, _u32(b, p)


# --- flatbuffers builder ---------------------------------------------------


class _FBBuilder:
    """Back-to-front builder with pos-from-end bookkeeping (the
    reference algorithm): prepending never moves existing objects'
    distance from the buffer end, so recorded positions stay valid and
    every relative offset is a subtraction of two of them."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.max_align = 1

    def _prepend(self, raw: bytes) -> None:
        self.buf[:0] = raw

    def pad(self, align: int, upcoming: int) -> None:
        self.max_align = max(self.max_align, align)
        while (len(self.buf) + upcoming) % align:
            self._prepend(b"\x00")

    def scalar(self, fmt: str, v) -> None:
        raw = struct.pack(fmt, v)
        self.pad(len(raw), len(raw))
        self._prepend(raw)

    def string(self, s: str) -> int:
        raw = s.encode("utf-8") + b"\x00"
        # pad FIRST so the length prefix lands 4-aligned with the data
        # immediately after it (padding between them would shift the
        # string body)
        self.pad(4, len(raw) + 4)
        self._prepend(raw)
        self._prepend(struct.pack("<I", len(raw) - 1))
        return len(self.buf)

    def struct_vector(self, fmt: str, rows: list[tuple]) -> int:
        self.pad(8, 0)  # struct alignment (our structs lead with int64)
        for row in reversed(rows):
            self._prepend(struct.pack(fmt, *row))
        self.pad(4, 4)
        self.scalar("<I", len(rows))
        return len(self.buf)

    def offset_vector(self, offsets: list[int]) -> int:
        for t in reversed(offsets):
            self.pad(4, 4)
            self._prepend(struct.pack("<I", len(self.buf) + 4 - t))
        self.pad(4, 4)
        self.scalar("<I", len(offsets))
        return len(self.buf)

    def table(self, fields: list[tuple[int, str, object, object]]) -> int:
        """fields: (slot, kind, value, default); kind ∈ scalar struct
        fmts | 'offset'. Emits inline data then the vtable, patching
        the table's soffset — vtable voffsets are table-relative."""
        present = [
            (slot, kind, v)
            for slot, kind, v, default in fields
            if v is not None and v != default
        ]
        inline_start = len(self.buf)  # pos-from-end of the inline region's end
        slots: dict[int, int] = {}
        # inline portion, last field first so earlier slots sit nearer
        # the table head (cosmetic; any order is valid flatbuffers)
        for slot, kind, v in reversed(present):
            if kind == "offset":
                self.pad(4, 4)
                self._prepend(struct.pack("<I", len(self.buf) + 4 - v))
            else:
                self.scalar(kind, v)
            slots[slot] = len(self.buf)
        self.pad(4, 4)
        self._prepend(b"\x00\x00\x00\x00")  # soffset placeholder
        table_pos = len(self.buf)
        n_slots = max(slots) + 1 if slots else 0
        vsize = 4 + 2 * n_slots
        vt = bytearray(struct.pack("<HH", vsize, table_pos - inline_start))
        for slot in range(n_slots):
            vt += struct.pack("<H", table_pos - slots[slot] if slot in slots else 0)
        self.pad(2, len(vt))
        self._prepend(bytes(vt))
        vt_pos = len(self.buf)
        at = len(self.buf) - table_pos
        self.buf[at : at + 4] = struct.pack("<i", vt_pos - table_pos)
        return table_pos

    def finish(self, root: int) -> bytes:
        # total size must be a multiple of the largest alignment used,
        # or absolute addresses of aligned objects drift off-grid
        self.pad(self.max_align, 4)
        self._prepend(struct.pack("<I", len(self.buf) + 4 - root))
        return bytes(self.buf)


# --- Arrow metadata messages ----------------------------------------------

_FIELDS = (("doc_id", _T_INT), ("lang", _T_UTF8), ("text", _T_UTF8))


def _build_message(header_type: int, header_pos: int, fb: _FBBuilder, body_len: int) -> bytes:
    root = fb.table(
        [
            (0, "<h", _V5, 0),  # version
            (1, "<B", header_type, 0),  # header union tag
            (2, "offset", header_pos, None),  # header union value
            (3, "<q", body_len, 0),  # bodyLength
        ]
    )
    return fb.finish(root)


def _schema_table(fb: _FBBuilder) -> int:
    field_pos = []
    for name, tag in _FIELDS:
        if tag == _T_INT:
            tpos = fb.table([(0, "<i", 64, 0), (1, "<B", 1, 0)])  # Int{64, signed}
        else:
            tpos = fb.table([])  # Utf8 {}
        npos = fb.string(name)
        field_pos.append(
            fb.table(
                [
                    (0, "offset", npos, None),  # name
                    (1, "<B", 1, 0),  # nullable
                    (2, "<B", tag, 0),  # type union tag
                    (3, "offset", tpos, None),  # type union value
                ]
            )
        )
    fvec = fb.offset_vector(field_pos)
    return fb.table([(1, "offset", fvec, None)])  # endianness 0 = little


def _schema_message() -> bytes:
    fb = _FBBuilder()
    return _build_message(_H_SCHEMA, _schema_table(fb), fb, 0)


def _batch_message(n_rows: int, nodes: list[tuple], buffers: list[tuple], body_len: int) -> bytes:
    fb = _FBBuilder()
    bvec = fb.struct_vector("<qq", buffers)
    nvec = fb.struct_vector("<qq", nodes)
    batch = fb.table(
        [
            (0, "<q", n_rows, 0),  # length
            (1, "offset", nvec, None),  # nodes
            (2, "offset", bvec, None),  # buffers
        ]
    )
    return _build_message(_H_BATCH, batch, fb, body_len)


def _frame(meta: bytes, body: bytes = b"") -> bytes:
    mlen = _pad8(len(meta))
    return (
        struct.pack("<Ii", _CONT, mlen)
        + meta
        + b"\x00" * (mlen - len(meta))
        + body
    )


# --- stream writer ---------------------------------------------------------


def write_arrow_stream(records: list[tuple[int, str, str]]) -> bytes:
    """Encode (doc_id, lang, text) rows as an Arrow IPC STREAM:
    schema message, 4096-row record batches (validity buffers empty —
    no nulls — int64 data, int32 utf8 offsets + data, every buffer
    8-aligned in the body), EOS marker."""
    out = bytearray(_frame(_schema_message()))
    for at in range(0, len(records), _BATCH_ROWS):
        meta, body = _encode_batch(records[at : at + _BATCH_ROWS])
        out += _frame(meta, body)
    out += struct.pack("<Ii", _CONT, 0)  # EOS
    return bytes(out)


def _encode_batch(chunk: list[tuple[int, str, str]]) -> tuple[bytes, bytes]:
    """(metadata flatbuffer, 8-aligned body) for one record batch —
    shared by the stream and file writers."""
    n = len(chunk)
    body = bytearray()
    buffers: list[tuple[int, int]] = []
    nodes: list[tuple[int, int]] = [(n, 0)] * len(_FIELDS)

    def add(raw: bytes) -> None:
        buffers.append((len(body), len(raw)))
        body.extend(raw)
        body.extend(b"\x00" * (_pad8(len(body)) - len(body)))

    add(b"")  # doc_id validity (no nulls)
    add(b"".join(struct.pack("<q", int(r[0])) for r in chunk))
    for col in (1, 2):
        raws = [r[col].encode("utf-8") for r in chunk]
        offs, acc = [0], 0
        for raw in raws:
            acc += len(raw)
            offs.append(acc)
        add(b"")  # validity
        add(b"".join(struct.pack("<i", o) for o in offs))
        add(b"".join(raws))
    return _batch_message(n, nodes, buffers, len(body)), bytes(body)


# --- stream reader ---------------------------------------------------------


def _check_schema(meta: bytes, table: int) -> None:
    if _fb_scalar(meta, table, 0, "<h", 0) != 0:
        raise ValueError("big-endian Arrow streams are not supported")
    vec = _fb_vector(meta, table, 1)
    if vec is None or vec[1] != len(_FIELDS):
        raise ValueError("schema does not carry the expected 3 fields")
    base, n = vec
    for i, (want_name, want_tag) in enumerate(_FIELDS):
        fpos = _fb_indirect(meta, base + 4 * i)
        name = _fb_string(meta, fpos, 0)
        tag = _fb_scalar(meta, fpos, 2, "<B", 0)
        if name != want_name or tag != want_tag:
            raise ValueError(f"field {i}: got ({name}, type {tag}), want "
                             f"({want_name}, type {want_tag})")
        if tag == _T_INT:
            tpos = _fb_table_field(meta, fpos, 3)
            if tpos is None or _fb_scalar(meta, tpos, 0, "<i", 0) != 64 or not _fb_scalar(
                meta, tpos, 1, "<B", 0
            ):
                raise ValueError(f"field {want_name} is not a signed 64-bit int")
        if _fb_table_field(meta, fpos, 4) is not None:
            raise ValueError("dictionary-encoded fields are not supported")


def _null_at(validity: bytes, i: int) -> bool:
    return not (validity[i >> 3] >> (i & 7)) & 1


def read_arrow_stream(content: bytes):
    """Strict decode of an Arrow IPC stream of (doc_id, lang, text)
    batches; returns the row list. Framing, schema, union tags, node
    and buffer counts, bitmap-declared nulls and offset monotonicity
    are all enforced — and the grammar walked here is whatever CPython
    pyarrow (or any other conformant writer) emitted, not merely this
    module's own writer."""
    out: list[tuple[int | None, str | None, str | None]] = []
    pos = 0
    saw_schema = False
    while True:
        if pos + 8 > len(content):
            raise ValueError("stream ends without an EOS marker")
        cont = _u32(content, pos)
        if cont != _CONT:
            raise ValueError(f"missing continuation marker at {pos}")
        mlen = _i32(content, pos + 4)
        if mlen == 0:
            if pos + 8 != len(content):
                raise ValueError("bytes after the EOS marker")
            return out
        if mlen < 0 or pos + 8 + mlen > len(content):
            raise ValueError("truncated message metadata")
        meta = bytes(content[pos + 8 : pos + 8 + mlen])
        msg = _fb_root(meta)
        htype = _fb_scalar(meta, msg, 1, "<B", 0)
        header = _fb_table_field(meta, msg, 2)
        body_len = _fb_scalar(meta, msg, 3, "<q", 0)
        body_at = pos + 8 + mlen
        if body_at + body_len > len(content):
            raise ValueError("truncated message body")
        body = bytes(content[body_at : body_at + body_len])
        pos = body_at + _pad8(body_len)
        if header is None:
            raise ValueError("message carries no header")
        if htype == _H_SCHEMA:
            if saw_schema:
                raise ValueError("second schema message mid-stream")
            _check_schema(meta, header)
            saw_schema = True
            continue
        if htype == _H_DICT:
            raise ValueError("dictionary batches are not supported")
        if htype != _H_BATCH:
            raise ValueError(f"unsupported message header type {htype}")
        if not saw_schema:
            raise ValueError("record batch before the schema message")
        out.extend(_decode_batch(meta, header, body))


def _decode_batch(meta: bytes, header: int, body: bytes):
    """Decode one RecordBatch message (metadata flatbuffer + body)
    into rows — shared by the stream walker and the file-format
    block reader."""
    if _fb_field(meta, header, 3) is not None:
        raise ValueError("compressed record batches are not supported")
    n_rows = _fb_scalar(meta, header, 0, "<q", 0)
    nodes = _fb_vector(meta, header, 1)
    bufs = _fb_vector(meta, header, 2)
    if nodes is None or nodes[1] != len(_FIELDS):
        raise ValueError("record batch node count != field count")
    if bufs is None or bufs[1] != 8:
        raise ValueError("record batch buffer count != 8 (2 + 3 + 3)")

    def node(i):
        base, _ = nodes
        return _i64(meta, base + 16 * i), _i64(meta, base + 16 * i + 8)

    def buf(i):
        base, _ = bufs
        off, ln = _i64(meta, base + 16 * i), _i64(meta, base + 16 * i + 8)
        if off < 0 or ln < 0 or off + ln > len(body):
            raise ValueError(f"buffer {i} overruns the message body")
        return body[off : off + ln]

    cols: list[list] = []
    bi = 0
    for fi, (name, tag) in enumerate(_FIELDS):
        length, null_count = node(fi)
        if length != n_rows:
            raise ValueError(f"node {name} length {length} != batch {n_rows}")
        validity = buf(bi)
        bi += 1
        if null_count and len(validity) * 8 < length:
            raise ValueError(f"{name}: nulls declared but bitmap too short")
        if tag == _T_INT:
            data = buf(bi)
            bi += 1
            if len(data) < 8 * length:
                raise ValueError(f"{name}: data buffer too short")
            vals = list(struct.unpack_from(f"<{length}q", data, 0))
        else:
            offs_raw = buf(bi)
            bi += 1
            data = buf(bi)
            bi += 1
            if length == 0:
                cols.append([])
                continue
            if len(offs_raw) < 4 * (length + 1):
                raise ValueError(f"{name}: offsets buffer too short")
            offs = struct.unpack_from(f"<{length + 1}i", offs_raw, 0)
            vals = []
            for r in range(length):
                a, b2 = offs[r], offs[r + 1]
                if a > b2 or b2 > len(data):
                    raise ValueError(f"{name}: non-monotonic utf8 offsets")
                vals.append(data[a:b2].decode("utf-8"))
        if null_count:
            vals = [
                None if _null_at(validity, r) else vals[r] for r in range(length)
            ]
        cols.append(vals)
    return list(zip(*cols))


# --- file format (seekable: footer with exact block offsets) ---------------

_FILE_MAGIC = b"ARROW1"


def write_arrow_file(records: list[tuple[int, str, str]], batch_rows: int = _BATCH_ROWS) -> bytes:
    """The Arrow FILE format: magic, the stream's messages, an EOS
    marker, then a FOOTER flatbuffer carrying the schema and one Block
    struct (offset, metaDataLength, bodyLength) per record batch, the
    footer length and the trailing magic. The footer is what makes the
    format SEEKABLE — a reader fetches the last few hundred bytes and
    can then read any batch directly, which is the property the
    splittable distributed reader builds on (parquet's row-group
    recipe, no resync scanning needed)."""
    out = bytearray(_FILE_MAGIC + b"\x00\x00")  # pad to 8
    out += _frame(_schema_message())
    blocks: list[tuple[int, int, int]] = []
    for at in range(0, len(records), batch_rows):
        chunk = records[at : at + batch_rows]
        meta, body = _encode_batch(chunk)
        blocks.append((len(out), 8 + _pad8(len(meta)), len(body)))
        out += _frame(meta, body)
    out += struct.pack("<Ii", _CONT, 0)  # EOS
    fb = _FBBuilder()
    bvec = fb.struct_vector("<qi4xq", blocks)
    schema = _schema_table(fb)
    footer = fb.table(
        [
            (0, "<h", _V5, 0),  # version
            (1, "offset", schema, None),  # schema
            (3, "offset", bvec, None),  # recordBatches (slot 2: dictionaries)
        ]
    )
    foot = fb.finish(footer)
    out += foot
    out += struct.pack("<i", len(foot))
    out += _FILE_MAGIC
    return bytes(out)


def read_arrow_footer(tail: bytes) -> list[tuple[int, int, int]]:
    """Parse the footer from the file's TAIL bytes (any suffix that
    contains the whole footer): verifies the magic and the embedded
    schema, rejects dictionary batches, returns the Block list."""
    if tail[-6:] != _FILE_MAGIC:
        raise ValueError("missing trailing ARROW1 magic")
    flen = _i32(tail, len(tail) - 10)
    if flen <= 0 or flen + 10 > len(tail):
        raise ValueError("footer length overruns the provided tail")
    foot = bytes(tail[len(tail) - 10 - flen : len(tail) - 10])
    root = _fb_root(foot)
    schema = _fb_table_field(foot, root, 1)
    if schema is None:
        raise ValueError("footer carries no schema")
    _check_schema(foot, schema)
    dicts = _fb_vector(foot, root, 2)
    if dicts is not None and dicts[1]:
        raise ValueError("dictionary batches are not supported")
    blocks = _fb_vector(foot, root, 3)
    if blocks is None:
        return []
    base, n = blocks
    out = []
    for i in range(n):
        off, mlen, blen = struct.unpack_from("<qi4xq", foot, base + 24 * i)
        if off < 0 or mlen < 8 or blen < 0:
            raise ValueError(f"block {i}: invalid geometry")
        out.append((off, mlen, blen))
    return out


def decode_arrow_block(raw: bytes, off: int, mlen: int, blen: int):
    """Rows of ONE record batch given its footer Block geometry; raw
    must cover [off, off + mlen + blen)."""
    if raw[off : off + 4] != struct.pack("<I", _CONT):
        raise ValueError("block offset does not start a message")
    inner = _i32(raw, off + 4)
    if inner <= 0 or 8 + inner > mlen:
        raise ValueError("block metadata length disagrees with the message")
    meta = bytes(raw[off + 8 : off + 8 + inner])
    body = bytes(raw[off + mlen : off + mlen + blen])
    msg = _fb_root(meta)
    if _fb_scalar(meta, msg, 1, "<B", 0) != _H_BATCH:
        raise ValueError("footer block does not point at a record batch")
    header = _fb_table_field(meta, msg, 2)
    if header is None:
        raise ValueError("message carries no header")
    return _decode_batch(meta, header, body)


def read_arrow_file(content: bytes):
    """Whole-file decode via the footer (the seek path, not the stream
    walk): header magic, footer blocks, each batch decoded by offset."""
    if content[:6] != _FILE_MAGIC:
        raise ValueError("missing leading ARROW1 magic")
    out = []
    for off, mlen, blen in read_arrow_footer(content):
        if off + mlen + blen > len(content):
            raise ValueError("block overruns the file")
        out.extend(decode_arrow_block(content, off, mlen, blen))
    return out


def write_arrowfile_dir(df: DataFrame, out_dir: str, batch_rows: int = _BATCH_ROWS) -> int:
    """One seekable ``.arrow`` FILE per partition (the partfiles sink).
    Returns rows written."""
    return write_parts(
        df,
        out_dir,
        ".arrow",
        lambda tmp, rows, _pid: Path(tmp).write_bytes(write_arrow_file(rows, batch_rows)),
    )


def _footer_blocks(path: str) -> list[tuple[int, int, int]]:
    """The footer Block list of one file, from two exact tail fetches:
    10 bytes for the footer length, then footer + trailer — correct at
    ANY block count (a fixed 64 KB guess breaks past ~2700 batches per
    file)."""
    size = os.path.getsize(path)
    if size < 10:
        raise ValueError(f"{path}: too short to be an Arrow file")
    with open(path, "rb") as f:
        f.seek(size - 10)
        flen = struct.unpack("<i", f.read(4))[0]
        need = min(size, flen + 10)
        f.seek(size - need)
        return read_arrow_footer(f.read())


def _decode_block_split(path: str, off: int, mlen: int, blen: int):
    """Rows of the one record batch at footer Block ``(off, mlen, blen)``."""
    with open(path, "rb") as f:
        f.seek(off)
        raw = f.read(mlen + blen)
    return decode_arrow_block(raw, 0, mlen, blen)


def read_arrowfile_dir_split(spark: SparkSession, in_dir: str) -> DataFrame:
    """SPLITTABLE file-format source: the driver reads only each file's
    FOOTER (a tail fetch — metadata work, no data reads) and cuts one
    split per record batch; each task seeks straight to its blocks. No
    resync scanning, no overlap, no stragglers from unsplittable big
    files — the columnar seek path the stream format cannot offer."""
    splits = [
        (path, *block)
        for path in sorted(glob.glob(os.path.join(in_dir, "*.arrow")))
        for block in _footer_blocks(path)
    ]
    return read_splits(spark, splits, _decode_block_split)


# --- distributed source/sink ----------------------------------------------


def write_arrowipc_dir(df: DataFrame, out_dir: str) -> int:
    """One ``.arrows`` stream per partition (the partfiles sink).
    Returns rows written."""
    return write_parts(
        df,
        out_dir,
        ".arrows",
        lambda tmp, rows, _pid: Path(tmp).write_bytes(write_arrow_stream(rows)),
    )


def read_arrowipc_dir(spark: SparkSession, in_dir: str) -> DataFrame:
    """Every stream of ``in_dir``, decoded whole (partfiles)."""
    return read_parts(spark, in_dir, ".arrows", read_arrow_stream)


# --- round-trip query ------------------------------------------------------


def src_arrowipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC ingest: the shared escaping-probe corpus through the
    stdlib flatbuffers writer and back through the stdlib reader,
    profiled per language against the shared profile SQL; pytest
    additionally pins BOTH interop directions against pyarrow."""
    return codec_roundtrip(
        spark, sf_dir, "arrowipc_ingest", write_arrowipc_dir, read_arrowipc_dir
    )


QUERIES = {"src_arrowipc_roundtrip": src_arrowipc_roundtrip}

ORACLES = {"src_arrowipc_roundtrip": _PROFILE_SQL}
