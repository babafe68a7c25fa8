"""The stdlib Avro container source/sink (sources/avro.py): encoding
round-trips, loud rejection of corrupt containers, and the sync-marker
split rule. The distributed sink and whole-file reader are tested in
test_partfiles.py."""

from __future__ import annotations

import os

import pytest


def test_avro_container_round_trips_hostile_values(tmp_path):
    from task_hive_spark.sources.avro import read_avro, write_avro

    recs = [
        (i, "en" if i % 2 else "fr", f'doc {i} üñïçødé\n"quoted" back\\slash')
        for i in range(500)
    ] + [(-7, "", ""), (2**62, "zz", "y" * 5000)]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        assert write_avro(p, recs, codec=codec, block_records=64) == len(recs)
        assert read_avro(open(p, "rb").read()) == recs

    # multi-block framing is real: a 64-record block size forces 8+
    # blocks; decoding must consume every byte of every block
    p = str(tmp_path / "t_deflate.avro")
    raw = open(p, "rb").read()
    with pytest.raises(ValueError):
        read_avro(raw[:4])  # header only
    with pytest.raises(ValueError):
        read_avro(b"NOPE" + raw[4:])  # bad magic
    with pytest.raises(ValueError):
        read_avro(raw[: len(raw) // 2])  # truncated mid-block
    with pytest.raises(ValueError):
        read_avro(raw[:-16] + b"X" * 16)  # corrupt final sync


def test_avro_split_reader_owns_every_block_exactly_once(tmp_path):
    """The sync/pastSync split rule fuzzed over split sizes: for any
    split grid, the union of per-split decodes must equal the
    whole-file decode exactly (no gaps, no double-reads), including
    grids whose boundaries land inside blocks, inside sync markers,
    and exactly on block starts."""
    from task_hive_spark.sources.avro import (
        _decode_split,
        read_avro,
        write_avro,
    )

    rows = [(i, f"l{i % 3}", f"text-{i} " + "x" * (i % 37)) for i in range(400)]
    path = str(tmp_path / "big.avro")
    write_avro(path, rows, codec="deflate", block_records=8)  # ~50 blocks
    whole = read_avro(open(path, "rb").read())
    size = os.path.getsize(path)
    for split_bytes in (1, 7, 16, 17, 100, 257, 1024, size // 3, size, size + 5):
        got: list = []
        for off in range(0, size, split_bytes):
            got += _decode_split(path, off, min(off + split_bytes, size))
        assert got == whole, f"split_bytes={split_bytes}"


def test_avro_split_reader_distributed_matches_whole_file(spark, tmp_path):
    from task_hive_spark.sources.avro import (
        read_avro_dir,
        read_avro_dir_split,
        write_avro_dir,
    )

    df = spark.range(0, 500).selectExpr(
        "id AS doc_id",
        "concat('l', id % 4) AS lang",
        "concat('body-', id, repeat('y', CAST(id % 23 AS INT))) AS text",
    ).repartition(3)
    out = str(tmp_path / "split_src")
    write_avro_dir(df, out)
    whole = sorted(tuple(r) for r in read_avro_dir(spark, out).collect())
    split = read_avro_dir_split(spark, out, split_bytes=512)
    assert split.rdd.getNumPartitions() > 1
    assert sorted(tuple(r) for r in split.collect()) == whole
