"""The stdlib Arrow IPC stream source/sink (sources/arrowipc.py):
flatbuffers grammar round-trips, BOTH interop directions against
pyarrow (the reference implementation as a third-party oracle), loud
rejection of hostile streams and footers. The distributed sink and
readers are tested in test_partfiles.py."""

from __future__ import annotations

import io
import struct

import pytest

from task_hive_spark.plans.oracle import run_all


RECS = [
    (i, "en" if i % 2 else "fr", f'doc {i} üñïçødé "quoted" back\\slash')
    for i in range(5000)
] + [(0, "", ""), (-5, "zz", "y" * 3000), (2**62, "xx", "")]


def test_arrowipc_self_roundtrip_multi_batch():
    from task_hive_spark.sources.arrowipc import (
        _BATCH_ROWS,
        read_arrow_stream,
        write_arrow_stream,
    )

    assert len(RECS) > _BATCH_ROWS  # the framing loop is real
    raw = write_arrow_stream(RECS)
    assert read_arrow_stream(raw) == RECS
    assert read_arrow_stream(write_arrow_stream([])) == []


def test_pyarrow_reads_the_stdlib_writer():
    """Interop direction 1: the REFERENCE implementation accepts and
    exactly reproduces this module's bytes — schema, batch framing,
    buffer layout and alignment all judged by pyarrow, not by us."""
    pa = pytest.importorskip("pyarrow")
    from task_hive_spark.sources.arrowipc import write_arrow_stream

    tbl = pa.ipc.open_stream(io.BytesIO(write_arrow_stream(RECS))).read_all()
    assert tbl.column_names == ["doc_id", "lang", "text"]
    assert tbl.schema.field("doc_id").type == pa.int64()
    got = list(
        zip(
            tbl["doc_id"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["text"].to_pylist(),
        )
    )
    assert got == RECS


def test_stdlib_reader_reads_pyarrow_writer():
    """Interop direction 2: whatever flatbuffers layout pyarrow emits
    (its own vtable packing, alignment and batch chunking), the stdlib
    reader must decode exactly — including validity-bitmap nulls and
    zero-row batches."""
    pa = pytest.importorskip("pyarrow")
    from task_hive_spark.sources.arrowipc import read_arrow_stream

    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in RECS], pa.int64()),
            "lang": pa.array([r[1] for r in RECS]),
            "text": pa.array([r[2] for r in RECS]),
        }
    )
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        for b in t.to_batches(max_chunksize=700):
            w.write_batch(b)
    assert read_arrow_stream(sink.getvalue()) == RECS

    t2 = pa.table(
        {
            "doc_id": pa.array([1, None, 3], pa.int64()),
            "lang": pa.array(["en", None, "de"]),
            "text": pa.array([None, "b", "c"]),
        }
    )
    s2 = io.BytesIO()
    with pa.ipc.new_stream(s2, t2.schema) as w:
        w.write_table(t2)
    assert read_arrow_stream(s2.getvalue()) == [
        (1, "en", None),
        (None, None, "b"),
        (3, "de", "c"),
    ]

    s3 = io.BytesIO()
    with pa.ipc.new_stream(s3, t2.schema) as w:
        w.write_table(t2.slice(0, 0))
    assert read_arrow_stream(s3.getvalue()) == []


def test_arrowipc_rejects_hostile_streams():
    pa = pytest.importorskip("pyarrow")
    from task_hive_spark.sources.arrowipc import read_arrow_stream, write_arrow_stream

    raw = write_arrow_stream(RECS[:10])

    with pytest.raises(ValueError, match="continuation"):
        read_arrow_stream(b"\x00\x00\x00\x00rest")
    with pytest.raises(ValueError, match="EOS"):
        read_arrow_stream(raw[:-8])  # EOS marker cut off
    with pytest.raises(ValueError, match="after the EOS"):
        read_arrow_stream(raw + b"junkjunk")
    with pytest.raises(ValueError, match="truncated message"):
        read_arrow_stream(raw[:20])
    # batch before schema: start the stream at the second message
    first_len = 8 + struct.unpack_from("<i", raw, 4)[0]
    with pytest.raises(ValueError, match="before the schema"):
        read_arrow_stream(raw[first_len:])
    # wrong schema: a float column where int64 is required
    t = pa.table({"doc_id": pa.array([1.0]), "lang": pa.array(["a"]),
                  "text": pa.array(["b"])})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    with pytest.raises(ValueError, match="field 0"):
        read_arrow_stream(sink.getvalue())
    # dictionary-encoded column
    t2 = pa.table({"doc_id": pa.array([1], pa.int64()),
                   "lang": pa.array(["a"]).dictionary_encode(),
                   "text": pa.array(["b"])})
    s2 = io.BytesIO()
    with pa.ipc.new_stream(s2, t2.schema) as w:
        w.write_table(t2)
    with pytest.raises(ValueError, match="dictionary"):
        read_arrow_stream(s2.getvalue())


def test_arrowipc_roundtrip_matches_profile_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["src_arrowipc_roundtrip"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_arrow_file_format_interop_both_directions():
    """The seekable FILE format: footer Block geometry, magic framing,
    EOS — pinned against pyarrow in both directions plus a tail-only
    footer read (the catalog-style fetch the split reader uses)."""
    pa = pytest.importorskip("pyarrow")
    from task_hive_spark.sources.arrowipc import (
        read_arrow_file,
        read_arrow_footer,
        write_arrow_file,
    )

    raw = write_arrow_file(RECS, batch_rows=512)
    assert read_arrow_file(raw) == RECS
    blocks = read_arrow_footer(raw)
    assert len(blocks) == (len(RECS) + 511) // 512
    assert read_arrow_footer(raw[-4096:]) == blocks  # tail fetch suffices

    tbl = pa.ipc.open_file(io.BytesIO(raw)).read_all()
    got = list(zip(*[tbl[c].to_pylist() for c in ("doc_id", "lang", "text")]))
    assert got == RECS

    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in RECS], pa.int64()),
            "lang": pa.array([r[1] for r in RECS]),
            "text": pa.array([r[2] for r in RECS]),
        }
    )
    sink = io.BytesIO()
    with pa.ipc.new_file(sink, t.schema) as w:
        for b in t.to_batches(max_chunksize=300):
            w.write_batch(b)
    assert read_arrow_file(sink.getvalue()) == RECS


def test_arrow_file_rejects_hostile_footers():
    from task_hive_spark.sources.arrowipc import (
        decode_arrow_block,
        read_arrow_file,
        read_arrow_footer,
        write_arrow_file,
    )

    raw = write_arrow_file(RECS[:100], batch_rows=32)
    with pytest.raises(ValueError, match="magic"):
        read_arrow_footer(raw[:-6] + b"NOTARW")
    with pytest.raises(ValueError, match="overruns"):
        read_arrow_footer(raw[-12:])  # tail too short for the footer
    with pytest.raises(ValueError, match="magic"):
        read_arrow_file(b"XXXXXX\x00\x00" + raw[8:])
    off, mlen, blen = read_arrow_footer(raw)[0]
    with pytest.raises(ValueError, match="does not start a message"):
        decode_arrow_block(raw, off + 4, mlen, blen)


