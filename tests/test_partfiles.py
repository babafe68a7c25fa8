"""The part-file sink and readers behind the stdlib codecs
(sources/partfiles.py), once per sink: a retried write overwrites its
own parts, a stranded temp file is invisible, the read-back profile
equals the source frame's; and no codec module writes that plumbing
itself."""

from __future__ import annotations

import os

import pytest

from task_hive_spark.sources import arrowipc, avro, protowire, warc
from task_hive_spark.sources.partfiles import read_parts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sink name -> (write, whole-file read, split read or None, part suffix)
SINKS = {
    "avro": (
        avro.write_avro_dir,
        avro.read_avro_dir,
        lambda s, d: avro.read_avro_dir_split(s, d, split_bytes=1024),
        ".avro",
    ),
    "protowire": (protowire.write_protowire_dir, protowire.read_protowire_dir, None, ".pbs"),
    "warc": (
        warc.write_warc_dir,
        warc.read_warc_dir,
        lambda s, d: warc.read_warc_dir_split(s, d, split_bytes=1024),
        ".warc.gz",
    ),
    "arrowipc": (arrowipc.write_arrowipc_dir, arrowipc.read_arrowipc_dir, None, ".arrows"),
    "arrowfile": (
        lambda df, d: arrowipc.write_arrowfile_dir(df, d, batch_rows=16),
        lambda s, d: read_parts(s, d, ".arrow", arrowipc.read_arrow_file),
        arrowipc.read_arrowfile_dir_split,
        ".arrow",
    ),
}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_retry_overwrites_not_duplicates(spark, tmp_path, sink):
    """A re-run of the same partitioned write (the retry/speculation
    stand-in) overwrites each partition's file instead of adding a
    second decodable one, and a hidden .tmp stranded by a crashed
    attempt is invisible to every reader."""
    write, read, read_split, suffix = SINKS[sink]
    df = (
        spark.range(0, 100)
        .selectExpr("id AS doc_id", "'en' AS lang", "concat('t-', id) AS text")
        .repartition(4)
    )
    out = str(tmp_path / "sink")
    n1 = write(df, out)
    files1 = sorted(f for f in os.listdir(out) if f.endswith(suffix))
    stranded = ".part-00001-deadbeef.tmp"
    open(os.path.join(out, stranded), "wb").write(b"junk")
    n2 = write(df, out)
    files2 = sorted(f for f in os.listdir(out) if f.endswith(suffix))
    assert n1 == n2 == 100
    assert files1 == files2  # deterministic names: the retry overwrote
    assert [f for f in os.listdir(out) if f.endswith(".tmp")] == [stranded]
    assert read(spark, out).count() == 100
    if read_split is not None:
        assert read_split(spark, out).count() == 100


# sink name -> (write, read): the codec's distributed round trip
ROUND_TRIPS = {
    "avro": (avro.write_avro_dir, avro.read_avro_dir),
    "protowire": (protowire.write_protowire_dir, protowire.read_protowire_dir),
    "warc": (warc.write_warc_dir, warc.read_warc_dir),
    "arrowipc": (arrowipc.write_arrowipc_dir, arrowipc.read_arrowipc_dir),
    # many blocks per file, so the footer splits fan out
    "arrowfile": (
        lambda df, d: arrowipc.write_arrowfile_dir(df, d, batch_rows=64),
        arrowipc.read_arrowfile_dir_split,
    ),
}


@pytest.mark.parametrize("sink", sorted(ROUND_TRIPS))
def test_distributed_round_trip_is_lossless(spark, sf_dir, tmp_path, sink):
    """The escaping-probe corpus written one part per partition and
    read back: the read-back profile equals the source frame's
    exactly."""
    from task_hive_spark.sources.textfiles import _derived, _profile

    write, read = ROUND_TRIPS[sink]
    src = _derived(spark, sf_dir).repartition(4)
    out = str(tmp_path / "parts")
    assert write(src, out) == src.count() > 0
    assert [f for f in os.listdir(out) if f.startswith("part-")]
    assert _profile(read(spark, out)).collect() == _profile(src).collect()


def test_part_file_plumbing_only_in_partfiles():
    """Task ids, the publishing rename, the binaryFile listing and the
    split-list frame are written once, in partfiles.py: no other module
    under sources/ names them."""
    sources = os.path.join(REPO, "task_hive_spark", "sources")
    banned = ("TaskContext", "os.replace(", 'format("binaryFile")', "createDataFrame(")
    stray = []
    for f in sorted(os.listdir(sources)):
        if not f.endswith(".py") or f == "partfiles.py":
            continue
        with open(os.path.join(sources, f), encoding="utf-8") as fh:
            text = fh.read()
        stray += [(f, b) for b in banned if b in text]
    assert not stray, stray
