"""The stdlib WARC web-archive source/sink (sources/warc.py): record
grammar round-trips, digest verification catching structurally-valid
corruption, loud rejection of hostile framing, the split rule and the
landing-zone stream. The distributed sink and whole-file reader are
tested in test_partfiles.py."""

from __future__ import annotations

import gzip
import os

import pytest

from task_hive_spark.plans.oracle import run_all


def _roundtrip(recs):
    from task_hive_spark.sources.warc import iter_warc_gz, extract_doc, write_warc_gz

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.warc.gz")
        write_warc_gz(p, recs)
        content = open(p, "rb").read()
        out = []
        kinds = []
        for rec in iter_warc_gz(content):
            kinds.append(rec["type"])
            doc = extract_doc(rec)
            if doc is not None:
                out.append(doc)
        return out, kinds, content


def test_warc_round_trips_hostile_values():
    recs = [
        (i, "en" if i % 2 else "fr", f'doc {i} üñïçødé\r\n\r\n"quoted" back\\slash')
        for i in range(50)
    ] + [(0, "zz", ""), (7, "de", "WARC/1.0\r\nContent-Length: 4\r\n\r\nfake\r\n\r\n")]
    out, kinds, _ = _roundtrip(recs)
    assert kinds[0] == "warcinfo" and kinds.count("response") == len(recs)
    assert out == [(int(i), l, t) for i, l, t in recs]


def test_warc_payload_digest_catches_valid_framing_corruption(tmp_path):
    """Rebuild a record with CONSISTENT framing (Content-Length right,
    terminator right, gzip CRC right) but a flipped body byte and the
    ORIGINAL payload digest: only the sha1 re-check can catch it."""
    from task_hive_spark.sources.warc import (
        _encode_record,
        _sha1_b32,
        extract_doc,
        iter_warc_gz,
        parse_record,
    )

    body = b"the quick brown fox"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
        + body
    )
    tampered = http.replace(b"quick", b"quack")
    rec_bytes = _encode_record(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", "<urn:uuid:0>"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Target-URI", "https://corpus.example/en/doc/1"),
            ("Content-Type", "application/http; msgtype=response"),
            ("WARC-Payload-Digest", _sha1_b32(body)),  # digest of the CLEAN body
        ],
        tampered,
    )
    rec, _ = parse_record(rec_bytes)  # framing + block digest are consistent
    with pytest.raises(ValueError, match="WARC-Payload-Digest"):
        extract_doc(rec)

    # and the block digest catches payload tampering when the length
    # is preserved but the digest header is stale
    clean = _encode_record([("WARC-Type", "metadata")], b"abcdef")
    swapped = clean.replace(b"abcdef", b"abcdXf")
    with pytest.raises(ValueError, match="WARC-Block-Digest"):
        parse_record(swapped)

    # end to end through the gzip walk
    blob = gzip.compress(rec_bytes, mtime=0)
    with pytest.raises(ValueError, match="WARC-Payload-Digest"):
        for r in iter_warc_gz(blob):
            extract_doc(r)


def test_warc_rejects_hostile_framing():
    from task_hive_spark.sources.warc import iter_warc_gz, parse_record

    _, _, content = _roundtrip([(1, "en", "hello")])

    with pytest.raises(ValueError):
        list(iter_warc_gz(b"not gzip at all"))
    with pytest.raises(ValueError):
        list(iter_warc_gz(content[:-7]))  # truncated final member
    with pytest.raises(ValueError):
        list(iter_warc_gz(content + b"garbage"))  # non-member tail

    def reject(block, match):
        with pytest.raises(ValueError, match=match):
            parse_record(block)

    good = b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    parse_record(good)  # sanity
    reject(good.replace(b"WARC/1.0", b"WARC/9.9"), "version")
    reject(good.replace(b"Content-Length: 2", b"Content-Length: 99"), "overruns")
    reject(good.replace(b"Content-Length: 2", b"Content-Length: two"), "integer")
    reject(good.replace(b"Content-Length: 2\r\n", b""), "missing Content-Length")
    reject(good.replace(b"WARC-Type: metadata\r\n", b""), "missing WARC-Type")
    reject(good[:-2], "overruns|terminator")
    reject(
        good.replace(b"ok\r\n\r\n", b"ok\n\n\r\n"), "terminator"
    )  # LF is not CRLF
    # second record of a concatenation loses its blank line: the walk
    # must fail loudly at that record, not silently absorb it
    cat = good + good.replace(b"\r\n\r\nok", b"\r\nok")
    _, p = parse_record(cat)
    with pytest.raises(ValueError, match="header"):
        parse_record(cat, p)
    reject(
        b"WARC/1.0\r\nWARC-Type: x\r\nWARC-Type: y\r\nContent-Length: 0\r\n\r\n\r\n\r\n",
        "duplicate",
    )
    reject(b"WARC/1.0\r\n\tfolded\r\nContent-Length: 0\r\n\r\n\r\n\r\n", "continuation")


def test_warc_header_continuation_folds():
    from task_hive_spark.sources.warc import parse_record

    block = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"X-Long: first part\r\n    second part\r\n"
        b"Content-Length: 0\r\n\r\n\r\n\r\n"
    )
    rec, _ = parse_record(block)
    assert rec["headers"]["x-long"] == "first part second part"


def test_warc_http_layer_is_checked():
    from task_hive_spark.sources.warc import _parse_http_response

    status, headers, body = _parse_http_response(
        b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\nmissing"
    )
    assert (status, body) == (404, b"missing")
    with pytest.raises(ValueError, match="Content-Length"):
        _parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 3\r\n\r\nlonger")
    with pytest.raises(ValueError, match="status line"):
        _parse_http_response(b"ICY 200 OK\r\n\r\nx")
    with pytest.raises(ValueError, match="split"):
        _parse_http_response(b"HTTP/1.1 200 OK\r\nno-blank-line")


def test_warc_ingest_matches_profile_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["src_warc_ingest"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_warc_split_reader_owns_every_member_exactly_once(tmp_path):
    """The resync-by-validation split rule fuzzed over split grids:
    for ANY split size, the union of all splits' rows equals the
    whole-file decode, each record exactly once."""
    from task_hive_spark.sources.warc import (
        _decode_warc_split,
        extract_doc,
        iter_warc_gz,
        write_warc_gz,
    )

    import hashlib

    # varied sizes + pseudorandom printable tails so the DEFLATE
    # streams carry realistic entropy (magic-byte lookalikes included)
    recs = []
    for i in range(120):
        h = hashlib.sha256(f"warc-split-{i}".encode()).digest() * (1 + i % 7)
        tail = "".join(chr(0x20 + b % 95) for b in h)
        recs.append((i, "en" if i % 3 else "fr", f"doc {i} \x1f\x8b\x08 {tail}"))
    p = str(tmp_path / "big.warc.gz")
    write_warc_gz(p, recs)
    size = os.path.getsize(p)

    whole = [
        d for r in iter_warc_gz(open(p, "rb").read()) if (d := extract_doc(r))
    ]
    assert len(whole) == len(recs)

    for split_bytes in (64, 137, 1024, 4097, size // 3, size, size * 2):
        got = []
        for start in range(0, size, split_bytes):
            got += _decode_warc_split(p, start, min(start + split_bytes, size))
        assert sorted(got) == sorted(whole), f"split_bytes={split_bytes}"


def test_warc_resync_never_false_accepts(tmp_path):
    """Every-offset property: scanning from ANY byte offset lands on
    the next TRUE member boundary — no position inside any member's
    compressed stream validates as a member."""
    from task_hive_spark.sources.warc import _scan_member, _try_member, write_warc_gz

    import hashlib

    recs = []
    for i in range(40):
        h = hashlib.sha256(f"resync-{i}".encode()).digest() * 3
        tail = "".join(chr(0x20 + b % 95) for b in h)
        recs.append((i, "en", f"\x1f\x8b\x08{tail}"))
    p = str(tmp_path / "scan.warc.gz")
    write_warc_gz(p, recs)
    size = os.path.getsize(p)

    with open(p, "rb") as f:
        true_offsets = []
        off = 0
        while off < size:
            block, nxt = _try_member(f, off)
            true_offsets.append(off)
            off = nxt
        assert len(true_offsets) == len(recs) + 1  # + warcinfo

        import bisect

        for start in range(1, size):
            want_ix = bisect.bisect_left(true_offsets, start)
            want = true_offsets[want_ix] if want_ix < len(true_offsets) else None
            assert _scan_member(f, start, size, size) == want, start


def test_warc_split_distributed_matches_whole_file(spark, sf_dir, tmp_path):
    from task_hive_spark.sources.textfiles import _derived, _profile
    from task_hive_spark.sources.warc import read_warc_dir_split, write_warc_dir

    src = _derived(spark, sf_dir).repartition(2)
    out = str(tmp_path / "warc_split")
    write_warc_dir(src, out)
    # tiny split size so single files genuinely fan out across tasks
    got = _profile(read_warc_dir_split(spark, out, split_bytes=4096)).collect()
    want = _profile(src).collect()
    assert got == want


def test_warc_landing_stream_ingests_each_file_exactly_once(spark, sf_dir, tmp_path):
    """The incremental crawl path: drop archives into a landing dir,
    drain with AvailableNow, drop MORE, drain again with the SAME
    checkpoint — the second run ingests only the new files (the
    file-source log is the exactly-once ledger), and the final corpus
    profile equals the batch read of everything landed."""
    from task_hive_spark.sources.textfiles import _profile
    from task_hive_spark.sources.warc import (
        ingest_warc_landing,
        read_warc_dir,
        write_warc_gz,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "corpus")
    cp = str(tmp_path / "ckpt")

    batch1 = [(i, "en" if i % 2 else "fr", f"crawl doc {i}") for i in range(40)]
    write_warc_gz(str(landing / "seg-000.warc.gz"), batch1[:20], 0)
    write_warc_gz(str(landing / "seg-001.warc.gz"), batch1[20:], 1)
    ingest_warc_landing(spark, str(landing), out, cp)
    got1 = spark.read.parquet(out)
    assert got1.count() == 40

    batch2 = [(i, "de", f"late doc {i}") for i in range(100, 125)]
    write_warc_gz(str(landing / "seg-002.warc.gz"), batch2, 2)
    ingest_warc_landing(spark, str(landing), out, cp)
    got2 = spark.read.parquet(out)
    assert got2.count() == 65  # 40 old NOT re-ingested + 25 new

    want = _profile(read_warc_dir(spark, str(landing))).collect()
    assert _profile(got2).collect() == want
