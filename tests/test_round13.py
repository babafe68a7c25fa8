"""Round-13 additions: batched serves, swap-crash recovery, tz-aware
debt metric, MP3 side-info decode — plus FLAC PCM decode, SQ8
scalar-quantized ANN and content-defined chunking."""

from __future__ import annotations

import os

import pytest

from task_hive_spark.plans.oracle import run_all


# --- batched dedup serve ---------------------------------------------------


def test_dd_served_batch_prunes_to_batch_bound(spark, sf_dir):
    """kept files ≤ |batch| · LSH_BANDS — the serve reads O(batch) for a
    re-crawl batch of every 104th new doc — and the pruned answer is
    the answer of the serve that reads every bucket file."""
    from pyspark.sql import functions as F

    from task_hive_spark.operators.dedup import (
        LSH_BANDS,
        NEW_OFFSET,
        _dedup_index_clustered,
        dedup_served_pruned_of,
        new_batch_df,
    )

    idx, stats = _dedup_index_clustered(spark, sf_dir)
    probe = new_batch_df(spark, sf_dir).where(
        (F.col("doc_id") - NEW_OFFSET) % 104 == 0
    )
    n_probe = probe.count()
    out, kept, total = dedup_served_pruned_of(spark, idx, stats, probe)
    assert 0 < len(kept) <= min(n_probe * LSH_BANDS, total)
    everything = [dict(s, min=None, max=None) for s in stats]
    unpruned = dedup_served_pruned_of(spark, idx, everything, probe)[0]
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, unpruned.collect()))


# --- staged-swap crash recovery --------------------------------------------


def _mk_level(path: str, success: bool = True) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()


def test_recover_promotes_completed_staged_level(tmp_path):
    from task_hive_spark.plans.catalog import recover_staged_swap

    live = str(tmp_path / "buckets")
    _mk_level(live + "_reclustering")
    _mk_level(live + "_retired")
    recover_staged_swap(live)
    assert os.path.isdir(live)
    assert not os.path.isdir(live + "_reclustering")
    assert not os.path.isdir(live + "_retired")  # staged won; retired dropped


def test_recover_restores_retired_when_staged_incomplete(tmp_path):
    from task_hive_spark.plans.catalog import recover_staged_swap

    live = str(tmp_path / "buckets")
    _mk_level(live + "_reclustering", success=False)  # crashed mid-write
    _mk_level(live + "_retired")
    recover_staged_swap(live)
    assert os.path.isdir(live)
    assert os.path.isdir(live + "_reclustering")  # left for the next rewrite


def test_recover_is_noop_when_live_level_present(tmp_path):
    from task_hive_spark.plans.catalog import recover_staged_swap

    live = str(tmp_path / "buckets")
    _mk_level(live)
    _mk_level(live + "_reclustering")
    recover_staged_swap(live)
    assert os.path.isdir(live) and os.path.isdir(live + "_reclustering")


# --- serve_window_with_policy hardening -------------------------------------


def test_serve_window_empty_kept_returns_empty_scan(spark, sf_dir):
    from task_hive_spark.plans.catalog import (
        delta_table_dirs,
        serve_window_with_policy,
    )

    from datetime import datetime

    base, delta, stats = delta_table_dirs(spark, sf_dir)
    # a window beyond every file's range: no kept files, no fold
    df, info = serve_window_with_policy(
        spark, [base, delta], stats, datetime(2999, 1, 1), datetime(2999, 12, 31)
    )
    assert info["kept"] == []
    assert df.count() == 0
    assert df.columns  # schema preserved from the levels


def test_recluster_debt_handles_tz_aware_stats():
    from datetime import datetime, timezone

    from task_hive_spark.plans.catalog import recluster_debt

    def ts(h, tz=None):
        return datetime(2026, 8, 16, h, tzinfo=tz)

    utc = timezone.utc
    stats = [
        {"path": "a", "min": ts(0, utc), "max": ts(23, utc)},  # loose span
        {"path": "b", "min": ts(1, utc), "max": ts(2, utc)},
        {"path": "c", "min": ts(3, utc), "max": ts(4, utc)},
    ]
    # naive bounds against tz-aware stats: must measure, not raise
    debt = recluster_debt(stats, ts(1), ts(4))
    assert debt == pytest.approx(1 / 3)


# --- MP3 side-info decode ----------------------------------------------------


def test_mp3_sideinfo_roundtrip_exact():
    from task_hive_spark.operators.multimodal import (
        _mp3_geom,
        _mp3_si_fields,
        decode_mp3_sideinfo,
        synth_mp3_sideinfo_bytes,
    )

    for a in (1, 3, 5, 97, 777, 12345):
        _, _, nf = _mp3_geom(a)
        got = decode_mp3_sideinfo(synth_mp3_sideinfo_bytes(a))
        assert got[0] == nf
        # spot-check one field sum against the formula source
        exp_p23 = sum(
            _mp3_si_fields(a, f, g, c)["p23"]
            for f in range(nf)
            for g in range(2)
            for c in range(2)
        )
        assert got[3] == exp_p23


def test_mp3_sideinfo_rejects_hostile_streams():
    from task_hive_spark.operators.multimodal import (
        decode_mp3_sideinfo,
        synth_mp3_sideinfo_bytes,
    )

    clean = bytearray(synth_mp3_sideinfo_bytes(7))
    with pytest.raises(ValueError):
        decode_mp3_sideinfo(bytes(clean[: 4 + 16]))  # truncated side info
    crc = bytearray(clean)
    crc[1] &= 0xFE  # protection bit 0 = CRC present
    with pytest.raises(ValueError):
        decode_mp3_sideinfo(bytes(crc))
    mono = bytearray(clean)
    mono[3] |= 0xC0  # channel mode 11 = mono (17-byte side info)
    with pytest.raises(ValueError):
        decode_mp3_sideinfo(bytes(mono))
    with pytest.raises(ValueError):
        decode_mp3_sideinfo(b"")


def test_mp3_scalefactors_spark_vs_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["mm_decode_mp3_scalefactors"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_mp3_scalefactors_rejects_hostile_streams():
    from task_hive_spark.operators.multimodal import (
        decode_mp3_scalefactors,
        synth_mp3_scalefactor_bytes,
        synth_mp3_sideinfo_bytes,
    )

    clean = synth_mp3_scalefactor_bytes(7)
    with pytest.raises(ValueError):
        decode_mp3_scalefactors(clean[: 4 + 20])  # truncated side info
    # the sideinfo synth writes nonzero main_data_begin + window
    # switching: the scale-factor decoder must refuse, not misread
    with pytest.raises(ValueError):
        decode_mp3_scalefactors(synth_mp3_sideinfo_bytes(7))
    # part2_3_length smaller than the transmitted scalefactor bits:
    # zero out a granule's 12-bit length field (side-info bits 20..31
    # = bytes 6..7 of the frame) and expect the accounting to trip
    mut = bytearray(clean)
    mut[6] = 0
    mut[7] &= 0x0F
    with pytest.raises(ValueError):
        decode_mp3_scalefactors(bytes(mut))


def test_mp3_sideinfo_bit_positions_are_load_bearing():
    """Flipping one bit inside a part2_3_length field must move exactly
    that field's sum — the decode reads real bit positions, not a
    lookup of the synth formulas."""
    from task_hive_spark.operators.multimodal import (
        decode_mp3_sideinfo,
        synth_mp3_sideinfo_bytes,
    )

    clean = synth_mp3_sideinfo_bytes(7)
    base = decode_mp3_sideinfo(clean)
    # side info starts at byte 4; granule records start after
    # 9 + 3 + 8 = 20 bits; part2_3_length is the first 12 bits of the
    # first record — flip its MSB (bit 20 of side info = byte 6, bit 4)
    mut = bytearray(clean)
    mut[6] ^= 1 << 3
    got = decode_mp3_sideinfo(bytes(mut))
    assert got[3] == base[3] + 2048 or got[3] == base[3] - 2048
    assert got[4:] == base[4:]  # every later field still decodes intact


# --- triangle census -------------------------------------------------------


def test_triangle_stats_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["gr_triangle_stats"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_triangle_stats_matches_bruteforce_model(spark, sf_dir):
    """Clean-room O(Σ deg²) model over the same derived graph: build
    adjacency sets in Python and count each triangle at its smallest
    vertex — no degree ordering, no SQL — then compare every census
    column."""
    import duckdb

    from task_hive_spark.operators.graph import PR_LINKS, gr_triangle_stats

    docs = duckdb.sql(
        f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    ids = [r[0] for r in docs]
    n = len(ids)
    adj: dict[int, set[int]] = {}
    for i in ids:
        for a, b in PR_LINKS:
            d = (i * a + b) % n
            if d == i:
                d = (d + 1) % n
            if d != i:
                adj.setdefault(min(i, d), set()).add(max(i, d))
                adj.setdefault(max(i, d), set()).add(min(i, d))
    n_edges = sum(len(s) for s in adj.values()) // 2
    n_wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    tri = 0
    for u in adj:
        bigger = {w for w in adj[u] if w > u}
        for v in bigger:
            tri += len(bigger & {w for w in adj[v] if w > v})
    row = gr_triangle_stats(spark, sf_dir).collect()[0]
    assert row["n_nodes"] == n
    assert row["n_edges"] == n_edges
    assert row["n_wedges"] == n_wedges
    assert row["n_triangles"] == tri
    assert row["clustering"] == pytest.approx(round(3 * tri / n_wedges, 6))


# --- ANN append crash-order guarantee ---------------------------------------


def test_ann_partial_append_is_invisible_not_wrong(spark, sf_dir, tmp_path):
    """The advice-fix guarantee, end-to-end: a crash BETWEEN the two
    appends (vectors landed, cellcodes didn't) leaves the new vectors
    unroutable — served answers are IDENTICAL to pre-append, never
    silently missing candidates — and the next update's M-codes-per-
    vector skew check refuses to extend the damaged index."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.similarity import (
        ann_served_pruned_of,
        materialize_ann_index_clustered,
        update_ann_index_clustered,
    )
    from task_hive_spark.plans.catalog import file_column_stats
    from task_hive_spark.sources.fixtures import load_table

    out = str(tmp_path / "anncidx_crash")
    materialize_ann_index_clustered(spark, sf_dir, out)
    stats = file_column_stats(os.path.join(out, "cellcodes"), "cell")
    before = sorted(
        map(tuple, ann_served_pruned_of(spark, out, stats, n_probes=2)[0].collect())
    )
    # simulate the crash: ONLY the vectors append lands (first write in
    # update_ann_index_clustered's order), cellcodes never follows
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    orphan = emb.limit(3).select(
        (F.col("vec_id") + 7_000_000_000).alias("vec_id"), "embedding"
    )
    orphan.write.mode("append").parquet(os.path.join(out, "vectors"))
    after = sorted(
        map(tuple, ann_served_pruned_of(spark, out, stats, n_probes=2)[0].collect())
    )
    assert after == before  # unroutable, not wrong
    # and the next update refuses to build on the skewed index
    nxt = emb.limit(1).select(
        (F.col("vec_id") + 8_000_000_000).alias("vec_id"), "embedding"
    )
    with pytest.raises(RuntimeError, match="skewed"):
        update_ann_index_clustered(spark, out, nxt)


# --- protobuf wire-format source -------------------------------------------


def test_protowire_message_grammar_is_real():
    """Wire semantics, not a happy-path parser: proto3 default
    omission, int64 negatives as 10-byte varints, last-wins repeats,
    unknown-field skipping by wire type, and loud rejects."""
    from task_hive_spark.sources.protowire import (
        _uvarint_encode,
        decode_doc,
        encode_doc,
    )

    # default omission: zero/empty encode to nothing and decode back
    assert encode_doc(0, "", "") == b""
    assert decode_doc(b"") == (0, "", "")
    # negative int64: 10-byte varint
    enc = encode_doc(-5, "xx", "y")
    assert decode_doc(enc) == (-5, "xx", "y")
    assert len(encode_doc(-1, "", "")) == 11  # key + 10-byte varint
    # unknown fields skip by wire type: varint(4), fixed64(5),
    # len(6), fixed32(7) interleaved with known fields
    extra = (
        _uvarint_encode((4 << 3) | 0) + _uvarint_encode(300)
        + _uvarint_encode((5 << 3) | 1) + b"\x01" * 8
        + _uvarint_encode((6 << 3) | 2) + _uvarint_encode(3) + b"abc"
        + _uvarint_encode((7 << 3) | 5) + b"\x02" * 4
    )
    assert decode_doc(extra + encode_doc(9, "de", "t")) == (9, "de", "t")
    # last-wins for repeated scalar fields
    assert decode_doc(encode_doc(1, "aa", "x") + encode_doc(2, "bb", ""))[:2] == (2, "bb")
    # rejects: group wire type, wrong wire type, truncation, field 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_doc(_uvarint_encode((4 << 3) | 3))
    with _pytest.raises(ValueError):
        decode_doc(_uvarint_encode((1 << 3) | 2) + _uvarint_encode(1) + b"z")
    with _pytest.raises(ValueError):
        decode_doc(encode_doc(7, "en", "body")[:-2])
    with _pytest.raises(ValueError):
        decode_doc(_uvarint_encode(0 << 3 | 0) + b"\x00")


def test_protowire_roundtrip_matches_profile_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["src_protowire_roundtrip"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


# --- Ogg page probe --------------------------------------------------------


def test_ogg_probe_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["mm_probe_ogg"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_ogg_crc_catches_any_single_bit_flip():
    """The CRC property the other container probes don't have: ANY
    corrupted bit — header or payload — fails the walk."""
    from task_hive_spark.operators.multimodal import probe_ogg, synth_ogg_bytes

    clean = synth_ogg_bytes(4)
    probe_ogg(clean)  # sanity
    for i in range(0, len(clean), 97):  # stride over the whole stream
        mut = bytearray(clean)
        mut[i] ^= 0x10
        with pytest.raises(ValueError):
            probe_ogg(bytes(mut))


def test_ogg_probe_rejects_hostile_framing():
    import struct

    from task_hive_spark.operators.multimodal import (
        _ogg_crc,
        probe_ogg,
        synth_ogg_bytes,
    )

    clean = bytearray(synth_ogg_bytes(4))
    with pytest.raises(ValueError):
        probe_ogg(bytes(clean[:20]))  # truncated header
    with pytest.raises(ValueError):
        probe_ogg(b"")
    # sequence gap with a VALID CRC: bump seq on page 0 and re-CRC —
    # the walk must still reject on continuity, not checksum
    n_segs = clean[26]
    body = sum(clean[27 : 27 + n_segs])
    page = bytearray(clean[: 27 + n_segs + body])
    page[18:22] = struct.pack("<I", 5)
    page[22:26] = b"\x00\x00\x00\x00"
    page[22:26] = struct.pack("<I", _ogg_crc(bytes(page)))
    with pytest.raises(ValueError, match="sequence"):
        probe_ogg(bytes(page) + bytes(clean[27 + n_segs + body :]))


# --- theta A-not-B ---------------------------------------------------------


def test_theta_anotb_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["sk_theta_anotb"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_theta_set_algebra_is_consistent(spark, sf_dir):
    """|A\\B| + |A∩B| retained hashes = A's retained hashes under the
    common theta — the identity the two operators must share."""
    from task_hive_spark.operators.sketches import sk_theta_anotb, sk_theta_intersect

    inter = sk_theta_intersect(spark, sf_dir).collect()[0]
    diff = sk_theta_anotb(spark, sf_dir).collect()[0]
    assert inter["theta"] == diff["theta"]
    assert diff["n_anotb"] + diff["n_bnota"] + 2 * inter["n_common"] == (
        inter["n_union"] + inter["n_common"]
    )


# --- FLAC STREAMINFO probe -------------------------------------------------


def test_flac_probe_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["mm_probe_flac"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_flac_probe_rejects_hostile_streams():
    from task_hive_spark.operators.multimodal import probe_flac, synth_flac_bytes

    clean = bytearray(synth_flac_bytes(4))
    with pytest.raises(ValueError):
        probe_flac(b"OggSnope")
    with pytest.raises(ValueError):
        probe_flac(bytes(clean[:10]))  # truncated STREAMINFO
    pad_hdr = 4 + 4 + 34  # magic + streaminfo header + body
    dirty = bytearray(clean)
    dirty[pad_hdr + 4] = 1  # nonzero byte inside PADDING
    with pytest.raises(ValueError, match="PADDING"):
        probe_flac(bytes(dirty))
    swapped = bytearray(clean)
    swapped[4] = 0x01  # first block claims PADDING, not STREAMINFO
    with pytest.raises(ValueError, match="STREAMINFO"):
        probe_flac(bytes(swapped))
    # the 20-bit sample-rate field straddles bytes 10..12 of the body
    # (bits 80..99): flipping its LAST bit — body byte 12 bit 3, i.e.
    # mask 0x10 — must move ONLY sample_rate, by exactly 1
    base = probe_flac(bytes(clean))
    mut = bytearray(clean)
    mut[8 + 12] ^= 0x10
    got = probe_flac(bytes(mut))
    assert got[4] == base[4] ^ 1
    assert got[:4] == base[:4] and got[5:] == base[5:]


# --- FLAC frame decode to exact PCM ----------------------------------------


def test_flac_pcm_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["mm_decode_flac_pcm"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_flac_pcm_roundtrip_covers_every_stereo_mode():
    """Asset ids 0..7 cycle mono/stereo × 8/16-bit × all four channel
    assignments; every decoded sample must equal the closed-form
    signal (the MD5 inside the stream already pins this, but assert
    the aggregates independently here)."""
    from task_hive_spark.operators.multimodal import (
        _flac_pcm_geom,
        _flac_signal,
        decode_flac_pcm,
        synth_flac_pcm_bytes,
    )

    seen_modes = set()
    for aid in range(16):
        g = _flac_pcm_geom(aid)
        if g["channels"] == 2:
            seen_modes.add((aid // 2) % 4)
        n = (g["n_frames"] - 1) * g["block"] + g["last_block"]
        flat = [
            _flac_signal(aid, ch, i, g["bps"])
            for ch in range(g["channels"])
            for i in range(n)
        ]
        got = decode_flac_pcm(synth_flac_pcm_bytes(aid))
        assert got == (
            g["channels"], g["bps"], g["n_frames"], n,
            sum(flat), min(flat), max(flat), 1,
        ), aid
    assert seen_modes == {0, 1, 2, 3}  # indep, left/side, right/side, mid/side


def test_flac_pcm_any_frame_corruption_is_caught():
    """Flip a bit at EVERY byte of the frame region: header CRC-8,
    frame CRC-16, the subframe grammar, the STREAMINFO frame-size
    bounds and the PCM MD5 must leave no silent position."""
    from task_hive_spark.operators.multimodal import (
        decode_flac_pcm,
        synth_flac_pcm_bytes,
    )

    clean = synth_flac_pcm_bytes(5)
    frame_start = 4 + 4 + 34  # magic + block header + STREAMINFO
    for i in range(frame_start, len(clean)):
        mut = bytearray(clean)
        mut[i] ^= 0x04
        with pytest.raises(ValueError):
            decode_flac_pcm(bytes(mut))


def test_flac_pcm_streaminfo_tampering_is_caught():
    from task_hive_spark.operators.multimodal import (
        decode_flac_pcm,
        synth_flac_pcm_bytes,
    )

    clean = synth_flac_pcm_bytes(9)
    body = 8  # STREAMINFO body offset: magic + 4-byte block header

    def flip(off, mask, match):
        mut = bytearray(clean)
        mut[body + off] ^= mask
        with pytest.raises(ValueError, match=match):
            decode_flac_pcm(bytes(mut))

    # channels field: STREAMINFO bit 101 = body byte 12, mask 0x04
    flip(12, 0x04, "contradicts|non-stereo|decorrelated")
    flip(17, 0x01, "claims")                        # total-samples low bit
    flip(20, 0xFF, "MD5")                           # md5 byte
    # min_block high byte: the non-last frame no longer matches
    flip(0, 0x01, "non-last block|bounds|sync|CRC|claims")


def test_flac_rice_escape_and_utf8_number_edges():
    from task_hive_spark.operators.multimodal import (
        _FlacBitReader,
        _SiBitWriter,
        _flac_utf8_code,
        _flac_utf8_decode,
        _rice_read,
        _rice_write,
    )

    # pathological residuals: one huge outlier among zeros forces the
    # escape branch (raw 5-bit-width partition); read must invert
    res = [0] * 31 + [1 << 20]
    bw = _SiBitWriter()
    _rice_write(bw, res, 0, 32)
    while bw.nbits % 8:
        bw.put(0, 1)
    br = _FlacBitReader(bw.done())
    assert _rice_read(br, 0, 32) == res

    # negative residual round trip through plain rice
    res2 = [-3, 5, 0, -1] * 8
    bw2 = _SiBitWriter()
    _rice_write(bw2, res2, 0, 32)
    while bw2.nbits % 8:
        bw2.put(0, 1)
    assert _rice_read(_FlacBitReader(bw2.done()), 0, 32) == res2

    # coded-number boundaries: 1..7 byte forms, reject past 36 bits
    for n in (0, 0x7F, 0x80, (1 << 11) - 1, 1 << 11, (1 << 16) - 1,
              (1 << 21) - 1, (1 << 26) - 1, (1 << 31) - 1, (1 << 36) - 1):
        enc = _flac_utf8_code(n)
        got, pos = _flac_utf8_decode(enc, 0)
        assert (got, pos) == (n, len(enc)), n
    with pytest.raises(ValueError):
        _flac_utf8_code(1 << 36)
    with pytest.raises(ValueError):
        _flac_utf8_decode(b"\x80", 0)  # bare continuation byte


def test_flac_constant_and_wasted_bits_subframes():
    """Grammar paths the synth family doesn't emit: a CONSTANT
    subframe and a wasted-bits subframe, handwritten bitstreams."""
    from task_hive_spark.operators.multimodal import (
        _FlacBitReader,
        _SiBitWriter,
        _decode_flac_subframe,
    )

    bw = _SiBitWriter()
    bw.put(0, 1); bw.put(0b000000, 6); bw.put(0, 1)  # CONSTANT, no waste
    bw.put(-7 & 0xFF, 8)
    while bw.nbits % 8:
        bw.put(0, 1)
    assert _decode_flac_subframe(_FlacBitReader(bw.done()), 5, 8) == [-7] * 5

    # verbatim with 2 wasted bits: flag 1, unary 1 zero then 1 -> w=2;
    # samples stored at 8-2=6 bits, decoder shifts left by 2
    bw2 = _SiBitWriter()
    bw2.put(0, 1); bw2.put(0b000001, 6); bw2.put(1, 1)
    bw2.put(0b01, 2)  # unary: one 0 then the terminating 1
    for v in (3, -4, 0):
        bw2.put(v, 6)
    while bw2.nbits % 8:
        bw2.put(0, 1)
    assert _decode_flac_subframe(_FlacBitReader(bw2.done()), 3, 8) == [12, -16, 0]

    # LPC and reserved types reject
    for typ in (0b100000, 0b000010):
        bw3 = _SiBitWriter()
        bw3.put(0, 1); bw3.put(typ, 6); bw3.put(0, 1)
        while bw3.nbits % 8:
            bw3.put(0, 1)
        with pytest.raises(ValueError):
            _decode_flac_subframe(_FlacBitReader(bw3.done()), 1, 8)


# --- SQ8 scalar-quantized ANN ----------------------------------------------


def test_sim_topk_sq8_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["sim_topk_sq8"])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_sim_topk_sq8_quantization_is_real_but_faithful(spark, sf_dir):
    """The quantized scores must genuinely differ from exact cosine
    (else the 'quantizer' is the identity) while ranking nearly the
    same neighbors (SQ8's whole point: 4x compression, small recall
    loss)."""
    from task_hive_spark.operators.similarity import sim_topk_brute, sim_topk_sq8

    brute = {
        (r["probe_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim_topk_brute(spark, sf_dir).collect()
    }
    sq8 = {
        (r["probe_id"], r["neighbor_id"]): r["sq8_sim"]
        for r in sim_topk_sq8(spark, sf_dir).collect()
    }
    assert any(
        abs(sq8[k] - brute[k]) > 1e-6 for k in sq8.keys() & brute.keys()
    ), "quantized scores identical to exact cosine — quantization is a no-op"
    overlap = len(sq8.keys() & brute.keys()) / len(brute)
    assert overlap >= 0.8, f"SQ8 recall vs brute collapsed: {overlap:.2f}"


# --- content-defined chunking ----------------------------------------------


def test_dd_cdc_chunks_matches_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["dd_cdc_chunks"])
    assert res.ok, res.detail
    assert res.spark_rows > 0  # the augmented corpus guarantees dup chunks


def test_cdc_model_statistics_and_insertion_robustness():
    """The property CDC exists for: an insertion re-synchronizes within
    one window, so almost every chunk fingerprint survives — where
    fixed-stride chunking loses everything after the edit point."""
    import random

    from task_hive_spark.operators.dedup import CDC_MOD, cdc_chunks_model

    random.seed(7)
    words = ["key", "agg", "row", "scan", "slow", "fast", "table", "value"]
    text = " ".join(random.choice(words) for _ in range(400))
    chunks = cdc_chunks_model(text)
    lens = [len(c) for _, c in chunks]
    # average chunk length tracks the modulus
    assert CDC_MOD / 2 < sum(lens) / len(lens) < CDC_MOD * 2
    # reassembly is exact
    assert "".join(c for _, c in chunks) == text

    pos = len(text) // 4
    mutated = cdc_chunks_model(text[:pos] + "XYZQW " + text[pos:])
    orig_set = {c for _, c in chunks}
    mut_set = {c for _, c in mutated}
    assert len(orig_set & mut_set) / len(orig_set) > 0.8

    def fixed(t, w=CDC_MOD):
        return {t[i : i + w] for i in range(0, len(t), w)}

    fixed_shared = len(fixed(text) & fixed(text[:pos] + "XYZQW " + text[pos:]))
    assert fixed_shared / len(fixed(text)) < 0.5  # the contrast that matters


def test_cdc_spark_expression_matches_python_model(spark):
    """The closed-form Spark expression against the pure-Python
    reference on handpicked edges: short docs (< window), exact-window
    docs, a cut landing at the final position, unicode codepoints."""
    from pyspark.sql import functions as F

    from task_hive_spark.operators.dedup import (
        CDC_GEAR,
        CDC_MOD,
        CDC_W,
        cdc_chunks_model,
    )

    texts = [
        "tiny",
        "x" * CDC_W,
        " ".join(f"w{i}" for i in range(120)),
        "über café naïve σπάρκ " * 12,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    g_lit = F.array(*[F.lit(v) for v in CDC_GEAR])
    pw_lit = F.array(*[F.lit(1 << k) for k in range(CDC_W)])
    cps = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c))
    n = F.length("text")

    def h(i):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(CDC_W - 1)),
            F.lit(0).cast("long"),
            lambda acc, k: acc
            + F.element_at(
                g_lit,
                (F.pmod(F.element_at(F.col("cps"), (i - k).cast("int")), F.lit(256)) + 1).cast("int"),
            ).cast("long")
            * F.element_at(pw_lit, (k + 1).cast("int")).cast("long"),
        )

    cuts = F.when(
        n >= CDC_W,
        F.filter(F.sequence(F.lit(CDC_W), n), lambda i: h(i) % CDC_MOD == 0),
    ).otherwise(F.array().cast("array<int>"))
    got = {
        r["doc_id"]: list(r["cuts"])
        for r in df.select("doc_id", "text", cps.alias("cps"))
        .select("doc_id", cuts.alias("cuts"))
        .collect()
    }
    for i, t in enumerate(texts):
        bounds = [0] + got[i] + [len(t)]
        want = cdc_chunks_model(t)
        have = [
            (a, t[a:b]) for a, b in zip(bounds, bounds[1:]) if b > a
        ]
        assert have == want, (i, got[i])
