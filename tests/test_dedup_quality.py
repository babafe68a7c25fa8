"""MinHash/LSH quality properties of the universal hash family.

The oracle gate proves Spark and DuckDB compute the same numbers; these
tests prove the numbers are *good*: band selectivity (candidate sets
near the true near-dup set, not quadratic blowup) and estimator accuracy
(est_jaccard tracks true Jaccard on known duplicate pairs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from task_hive_spark.operators import dedup


def test_lsh_candidates_are_selective(spark, sf_dir):
    """Candidate pairs must be a small multiple of the true near-dup
    pair count — the property the banding scheme exists to provide. A
    correlated hash family (round 2's first attempt) produced ~50x."""
    n_docs = dedup.corpus_df(spark, sf_dir).count()
    n_cands = dedup.dd_minhash_lsh_pairs(spark, sf_dir).count()
    n_true = dedup.dd_ngram_jaccard_pairs(spark, sf_dir).count()
    assert n_cands < 5 * max(n_true, 1)
    assert n_cands < n_docs * (n_docs - 1) / 20  # nowhere near all-pairs


def test_exact_dup_pairs_have_full_signature_match(spark, sf_dir):
    """Injected exact duplicates (doc_id + DUP_OFFSET) share every
    shingle, so all K min-hashes match: est_jaccard = 1.0 and LSH must
    surface the pair (every band collides)."""
    pairs = dedup.dd_minhash_lsh_pairs(spark, sf_dir)
    # doc_a < DUP_OFFSET excludes the (DUP+x, NEAR+x) near-dup pairs
    # that also differ by exactly DUP_OFFSET (x divisible by 7 and 11)
    exact = pairs.where(
        (F.col("doc_b") - F.col("doc_a") == dedup.DUP_OFFSET)
        & (F.col("doc_a") < dedup.DUP_OFFSET)
    )
    n_exact_dups = dedup.corpus_df(spark, sf_dir).where(
        F.col("doc_id") >= dedup.DUP_OFFSET
    ).where(F.col("doc_id") < dedup.NEAR_OFFSET).count()
    rows = exact.collect()
    assert len(rows) == n_exact_dups
    assert all(r["est_jaccard"] == 1.0 for r in rows)


def test_estimator_tracks_true_jaccard_on_near_dups(spark, sf_dir):
    """Near-dup pairs (trailing-token mutation, doc_id + NEAR_OFFSET) have
    high but sub-1.0 true Jaccard; the K=32 estimate on surfaced pairs
    must land within a loose binomial bound (±4/sqrt(K) ≈ ±0.71 would be
    vacuous; we assert ±0.35 which K=32 comfortably meets in aggregate)."""
    true_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dd_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    est_pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.dd_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    both = set(true_pairs) & set(est_pairs)
    assert both, "LSH surfaced none of the true near-dup pairs"
    errs = [abs(true_pairs[p] - est_pairs[p]) for p in both]
    assert max(errs) < 0.35
    assert sum(errs) / len(errs) < 0.15


def test_sim_lsh_and_ivf_recall(spark, sf_dir):
    """Recall guard for the approximate similarity-search variants:
    overlap of (probe, neighbor) pairs with the exact brute-force top-k.
    Bounds are regression floors for the pinned plane/centroid params,
    not quality targets — a banding/quantizer change that craters
    recall must fail here, not in a later round's judge measurement."""
    from task_hive_spark.operators.similarity import (
        sim_topk_brute,
        sim_topk_ivf,
        sim_topk_lsh,
    )

    exact = {
        (r.probe_id, r.neighbor_id) for r in sim_topk_brute(spark, sf_dir).collect()
    }
    assert exact  # probes exist at every fixture scale
    lsh = {(r.probe_id, r.neighbor_id) for r in sim_topk_lsh(spark, sf_dir).collect()}
    ivf = {(r.probe_id, r.neighbor_id) for r in sim_topk_ivf(spark, sf_dir).collect()}
    lsh_recall = len(exact & lsh) / len(exact)
    ivf_recall = len(exact & ivf) / len(exact)
    assert lsh_recall >= 0.5, f"LSH recall regressed: {lsh_recall:.2f}"
    # trained quantizer (IVF_TRAIN_ITERS Lloyd rounds) measures 0.56 at
    # sf0.001 / 0.80 at sf0.01 / 0.63 at sf0.1 — floor sits below the
    # weakest pinned point with a small safety margin
    assert ivf_recall >= 0.5, f"IVF (nprobe=3) recall regressed: {ivf_recall:.2f}"


def test_pq_refine_improves_on_adc(spark, sf_dir):
    """The refine contract: (a) refined top-k ⊆ the ADC shortlist —
    refine re-ranks, never re-opens the candidate set; (b) against the
    exact squared-L2 top-k over the SAME candidate pool, exact
    re-ranking agrees at least as often as ADC ordering does
    (aggregate — quantization error can no longer flip final ranks)."""
    from pyspark.sql import functions as F
    from task_hive_spark.functions.vectors import dot
    from task_hive_spark.operators.similarity import (
        NPROBE,
        REFINE_R,
        TOP_K,
        W,
        _adc_scored,
        _emb,
        _probe_emb,
        sim_topk_ivf_pq,
        sim_topk_pq_refined,
    )

    scored = _adc_scored(spark, sf_dir, NPROBE)
    w = W.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    shortlist = {
        (r.probe_id, r.neighbor_id)
        for r in scored.withColumn("rr", F.row_number().over(w))
        .where(F.col("rr") <= REFINE_R)
        .collect()
    }
    refined = sim_topk_pq_refined(spark, sf_dir).collect()
    assert all((r.probe_id, r.neighbor_id) in shortlist for r in refined)
    # exact L2 top-k over the full corpus (the refine target metric)
    probes = _probe_emb(spark, sf_dir).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    neigh = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    d2 = dot(F.col("pe"), F.col("pe")) - 2 * dot(F.col("pe"), F.col("ne")) + dot(
        F.col("ne"), F.col("ne")
    )
    exact_w = W.partitionBy("probe_id").orderBy(F.round(d2, 6), "neighbor_id")
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in neigh.join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(exact_w))
        .where(F.col("rank") <= TOP_K)
        .collect()
    }
    ref_pairs = {(r.probe_id, r.neighbor_id) for r in refined}
    adc_pairs = {
        (r.probe_id, r.neighbor_id)
        for r in sim_topk_ivf_pq(spark, sf_dir).collect()
    }
    assert len(exact & ref_pairs) >= len(exact & adc_pairs), (
        "exact re-rank agreed with the exact top-k LESS than raw ADC did"
    )


def test_duplicate_spans_cover_exact_copies(spark, sf_dir):
    """Substring-level dedup semantics: a doc with an injected EXACT
    copy (doc_id % 7 == 0, +DUP_OFFSET) must carry one maximal span
    covering its entire token range, and the copy must carry the
    identical span; spans never overlap within a doc and are all
    >= SPAN_L long."""
    from task_hive_spark.operators.dedup import SPAN_L, dd_duplicate_spans

    spans: dict[int, list] = {}
    for r in dd_duplicate_spans(spark, sf_dir).collect():
        spans.setdefault(r.doc_id, []).append(r)
    ntok = {
        r.doc_id: r.n
        for r in dedup.corpus_df(spark, sf_dir)
        .select("doc_id", F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"))
        .collect()
    }
    for doc_id, n in ntok.items():
        if doc_id < dedup.DUP_OFFSET and doc_id % 7 == 0 and n >= SPAN_L:
            full = [
                (s.span_start, s.span_end)
                for s in spans.get(doc_id, [])
                if s.span_start == 0 and s.span_end == n - 1
            ]
            assert full, f"doc {doc_id} (exact-dup base) lacks a full-doc span"
            copy = spans.get(doc_id + dedup.DUP_OFFSET, [])
            assert [(s.span_start, s.span_end) for s in spans[doc_id]] == [
                (s.span_start, s.span_end) for s in copy
            ], doc_id
    for doc_spans in spans.values():
        doc_spans.sort(key=lambda s: s.span_start)
        for a, b in zip(doc_spans, doc_spans[1:]):
            # islands are maximal runs of consecutive duplicated WINDOW
            # POSITIONS, so successive islands are separated by ≥1
            # non-duplicated position: the next span's first window
            # starts at least 2 past the previous span's last window.
            # (Token RANGES may still overlap when the gap is < SPAN_L
            # — documented operator semantics, not a defect.)
            assert b.span_start >= (a.span_end - (SPAN_L - 1)) + 2
        assert all(s.span_len >= SPAN_L for s in doc_spans)


def test_semdedup_groups_are_cell_scoped_with_one_representative(spark, sf_dir):
    """SemDeDup structural invariants: every dup group keeps EXACTLY one
    representative (the min vec_id — keep=True iff vec_id==rep_id), all
    of a group's members share one quantizer cell (edges are in-cell by
    construction, so components cannot straddle cells), every group has
    >=2 members, and every kept/dropped pair is genuinely similar —
    each dropped member has cosine >= SEMDEDUP_COS to at least one
    other member of its group (it entered via an edge)."""
    from task_hive_spark.operators import similarity as sim

    rows = sim.dd_semdedup(spark, sf_dir).collect()
    assert rows, "fixture corpus should contain semantic dup groups"
    by_group = {}
    for r in rows:
        by_group.setdefault(r.rep_id, []).append(r)
    for rep, members in by_group.items():
        assert len(members) >= 2
        assert min(m.vec_id for m in members) == rep
        assert sum(1 for m in members if m.keep) == 1
        assert next(m for m in members if m.keep).vec_id == rep
        assert len({m.cell for m in members}) == 1
        assert all(m.cluster_size == len(members) for m in members)


def test_prototype_pruning_budget_per_cell(spark, sf_dir):
    """Sorscher-style pruning must remove EXACTLY the ceil(n/4) most
    prototypical examples of every cell: ranks are a 1..n permutation
    per cell, prune set = the rank head, keep set = the tail."""
    import math

    from pyspark.sql import functions as F

    from task_hive_spark.operators.similarity import (
        PROTO_PRUNE_FRAC,
        sim_prototypes_prune,
    )

    rows = sim_prototypes_prune(spark, sf_dir).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    assert len(by_cell) > 1
    for cell, rs in by_cell.items():
        n = len(rs)
        ranks = sorted(r["proto_rank"] for r in rs)
        assert ranks == list(range(1, n + 1)), f"cell {cell} ranks not 1..n"
        cut = math.ceil(n * PROTO_PRUNE_FRAC)
        pruned = {r["proto_rank"] for r in rs if not r["keep"]}
        assert pruned == set(range(1, cut + 1)), f"cell {cell} prune head wrong"
        # the pruned head is at least as prototypical as every kept row
        min_pruned = min(r["cos_proto"] for r in rs if not r["keep"])
        max_kept = max(r["cos_proto"] for r in rs if r["keep"])
        assert min_pruned >= max_kept


def test_served_index_answers_equal_refined_and_never_touch_embeddings(
    spark, sf_dir, tmp_path
):
    """The persisted-index serving path must (a) write every artifact,
    (b) return exactly the session-index refine answer for the K_PROBES
    probes, and (c) plan only over index-dir files — the source
    embeddings parquet must not appear in the served query's scan set."""
    import os

    from task_hive_spark.operators.similarity import (
        K_PROBES,
        PQ_M,
        ann_served_pruned_of,
        materialize_ann_index_clustered,
        sim_topk_pq_refined,
    )
    from task_hive_spark.plans.catalog import file_column_stats

    out = str(tmp_path / "annidx")
    summary = materialize_ann_index_clustered(spark, sf_dir, out)
    for name in ("centroids", "cellcodes", "codebook", "vectors"):
        assert summary[name] > 0
        assert os.path.isdir(os.path.join(out, name))
    assert summary["cellcodes"] == PQ_M * summary["vectors"]  # M codes per vector
    assert os.path.isfile(os.path.join(out, "summary.json"))

    stats = file_column_stats(os.path.join(out, "cellcodes"), "cell")
    served, _kept, _total = ann_served_pruned_of(spark, out, stats, n_probes=K_PROBES)
    refined = sim_topk_pq_refined(spark, sf_dir)
    assert served.collect() == refined.collect()
    scans = served.inputFiles()
    assert scans, "served plan must read the index artifacts"
    assert all("embeddings.parquet" not in f for f in scans), scans


def test_clustered_ann_index_serves_from_pruned_cell_files(spark, sf_dir, tmp_path):
    """The FAISS-shaped inverted file: cellcodes/ holds each cell's PQ
    codes contiguously, so a single-probe serve must (a) match the
    session refine path for that probe, (b) keep at most NPROBE of the
    cellcodes files, and (c) scan no non-kept cellcodes file."""
    import os
    from urllib.parse import urlparse

    from task_hive_spark.operators.similarity import (
        NPROBE,
        ann_served_pruned_of,
        materialize_ann_index_clustered,
        sim_topk_pq_refined,
    )
    from task_hive_spark.plans.catalog import file_column_stats

    out = str(tmp_path / "anncidx")
    summary = materialize_ann_index_clustered(spark, sf_dir, out)
    assert summary["cellcodes"] > summary["vectors"]  # M code rows per vector
    stats = file_column_stats(os.path.join(out, "cellcodes"), "cell")
    assert len(stats) > NPROBE
    assert all(s["min"] is not None for s in stats)

    served, kept, total = ann_served_pruned_of(spark, out, stats, n_probes=1)
    rows = served.collect()
    assert rows, "single-probe serve must return a top-k"
    probe_id = rows[0]["probe_id"]
    want = [
        r for r in sim_topk_pq_refined(spark, sf_dir).collect()
        if r["probe_id"] == probe_id
    ]
    assert rows == want
    assert 0 < len(kept) <= NPROBE < total == len(stats)
    allowed = {os.path.realpath(p) for p in kept}
    cc_scans = [
        os.path.realpath(urlparse(f).path)
        for f in served.inputFiles()
        if os.path.join(out, "cellcodes") in f
    ]
    assert cc_scans and set(cc_scans) <= allowed, sorted(set(cc_scans) - allowed)


def test_clustered_dedup_index_append_debt_and_recluster(spark, sf_dir, tmp_path):
    """The LSM loop on the SERVING index: (a) appends land as loose
    delta files, no clustered file rewritten, skew invariant enforced;
    (b) the pruned serve stays answer-identical to the read-everything
    serve over the two-level index (conservative keeps — no false
    negative);
    (c) the probe's kept set now includes every delta file, the read
    tax the debt metric measures; (d) once debt crosses the threshold
    the policy serve reclusters first — answers invariant, kept back
    to <= LSH_BANDS, debt paid down."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.dedup import (
        DEDUP_INDEX_DEBT_THRESHOLD,
        LSH_BANDS,
        NEW_OFFSET,
        PROBE_DOC_BASE,
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
        serve_dedup_with_policy,
        update_dedup_index_clustered,
    )
    from task_hive_spark.plans.catalog import file_column_stats, level_debt
    from task_hive_spark.sources.fixtures import load_table

    out = str(tmp_path / "ddcidx_lsm")
    # 40 base files (not the default 64) so the append stream's debt
    # crosses the threshold within a handful of 2-file waves, while
    # still > LSH_BANDS so the post-fold pruning bound stays strict
    base_summary = materialize_dedup_index_clustered(spark, sf_dir, out, n_files=40)
    bdir = os.path.join(out, "buckets")
    base_files = {f for f in os.listdir(bdir) if f.endswith(".parquet")}
    probe = new_batch_df(spark, sf_dir).where(
        f"doc_id = {NEW_OFFSET + PROBE_DOC_BASE}"
    )

    # append waves: fresh doc ids past every synthetic offset
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    debt = 0.0
    fired = False
    for wave in range(1, 10):
        batch = docs.where(F.col("doc_id") % 17 == wave).select(
            (F.col("doc_id") + 4_000_000_000 + wave).alias("doc_id"), "text"
        )
        summary = update_dedup_index_clustered(spark, out, batch)
        assert summary["buckets"] == summary["signatures"] * LSH_BANDS
        # no clustered file rewritten
        assert base_files <= {
            f for f in os.listdir(bdir) if f.endswith(".parquet")
        }
        stats = file_column_stats(bdir, "bucket")
        n_delta = len(stats) - len(base_files)
        assert n_delta >= wave  # appends accumulate
        served, kept, total = dedup_served_pruned_of(spark, out, stats, probe)
        rows = served.collect()
        # conservative two-level serve == reading every bucket file
        # through the same serve, nothing dropped
        all_stats = [dict(s, min=None, max=None) for s in stats]
        served_all, _, _ = dedup_served_pruned_of(spark, out, all_stats, probe)
        assert rows == served_all.collect()
        assert any(
            r["hist_doc_id"] == PROBE_DOC_BASE and r["est_jaccard"] == 1.0
            for r in rows
        )
        # the read tax: every loose delta file is in the kept set
        assert len(kept) <= LSH_BANDS + n_delta
        debt = level_debt(stats)
        if debt > DEDUP_INDEX_DEBT_THRESHOLD:
            want = rows
            served2, info = serve_dedup_with_policy(spark, out, probe)
            assert info["folded"] and info["debt"] == debt
            assert served2.collect() == want  # fold is answer-invariant
            assert 0 < len(info["kept"]) <= LSH_BANDS < info["total"]
            assert level_debt(info["stats"]) <= DEDUP_INDEX_DEBT_THRESHOLD
            fired = True
            break
    assert fired, f"append stream never crossed the debt threshold (debt={debt})"


def test_stream_built_index_promotes_to_pruned_serving(spark, sf_dir, tmp_path):
    """The ingestion→serving handoff: the ONLINE-built MinHash index
    (streaming/minhashstream.py's batch-scoped parquet state) promotes
    into the clustered layout and serves the file-pruned probe with the
    EXACT answer the batch-built clustered index gives — one arithmetic,
    one serve path, two build provenances."""
    import os

    from task_hive_spark.operators.dedup import (
        LSH_BANDS,
        NEW_OFFSET,
        PROBE_DOC_BASE,
        dd_dedup_served_pruned,
        dedup_served_pruned_of,
        new_batch_df,
    )
    from task_hive_spark.streaming.minhashstream import (
        _ensure_run,
        clustered_index_from_stream,
    )

    out_pairs = _ensure_run(spark, sf_dir)
    work = os.path.dirname(out_pairs)
    idx = str(tmp_path / "mh_promoted")
    stats = clustered_index_from_stream(spark, work, idx)
    assert len(stats) > LSH_BANDS and all(s["min"] is not None for s in stats)

    probe = new_batch_df(spark, sf_dir).where(
        f"doc_id = {NEW_OFFSET + PROBE_DOC_BASE}"
    )
    served, kept, total = dedup_served_pruned_of(spark, idx, stats, probe)
    assert served.collect() == dd_dedup_served_pruned(spark, sf_dir).collect()
    assert 0 < len(kept) <= LSH_BANDS < total


def test_clustered_ann_index_append_debt_and_recluster(spark, sf_dir, tmp_path):
    """The LSM loop on the vector index: (a) appends route through the
    frozen quantizer/codebook and land as loose cellcodes delta files,
    no clustered file rewritten, M-codes-per-vector invariant enforced;
    (b) an appended COPY of the probe vector is findable immediately —
    it must surface as the top neighbor at d2 = 0; (c) the pruned serve
    equals the read-everything serve at every wave (conservative keeps,
    no false negative); (d) once debt crosses the threshold the
    recluster restores tight pruning, answer-invariant."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.similarity import (
        ANN_INDEX_DEBT_THRESHOLD,
        NPROBE,
        ANN_CELL_FILES,
        PQ_M,
        ann_served_pruned_of,
        materialize_ann_index_clustered,
        update_ann_index_clustered,
    )
    from task_hive_spark.plans.catalog import (
        file_column_stats,
        level_debt,
        recluster_level,
    )
    from task_hive_spark.sources.fixtures import load_table

    out = str(tmp_path / "anncidx_lsm")
    materialize_ann_index_clustered(spark, sf_dir, out)
    cdir = os.path.join(out, "cellcodes")
    base_files = {f for f in os.listdir(cdir) if f.endswith(".parquet")}
    base_stats = file_column_stats(cdir, "cell")
    served0, _k0, _t0 = ann_served_pruned_of(spark, out, base_stats, n_probes=1)
    rows0 = served0.collect()
    probe_id = rows0[0]["probe_id"]

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # wave 1: a verbatim copy of the probe vector under a fresh id —
    # the appended vector must be findable IMMEDIATELY
    copy_id = 5_000_000_000
    fired = False
    for wave in range(1, 8):
        if wave == 1:
            batch = emb.where(F.col("vec_id") == probe_id).select(
                F.lit(copy_id).cast("long").alias("vec_id"), "embedding"
            )
        else:
            batch = emb.where(F.col("vec_id") % 13 == wave).select(
                (F.col("vec_id") + 5_000_000_000 + wave).alias("vec_id"),
                "embedding",
            )
        summary = update_ann_index_clustered(spark, out, batch)
        assert summary["cellcodes"] == PQ_M * summary["vectors"]
        assert base_files <= {
            f for f in os.listdir(cdir) if f.endswith(".parquet")
        }
        stats = file_column_stats(cdir, "cell")
        n_delta = len(stats) - len(base_files)
        served, kept, total = ann_served_pruned_of(spark, out, stats, n_probes=1)
        rows = served.collect()
        # the probe's appended twin is rank 1 at exact distance 0
        assert rows[0]["neighbor_id"] == copy_id and rows[0]["d2"] == 0.0
        # conservative pruning drops nothing: same answer as reading
        # every cellcodes file through the same serve
        all_stats = [dict(s, min=None, max=None) for s in stats]
        served_all, _, _ = ann_served_pruned_of(spark, out, all_stats, n_probes=1)
        assert rows == served_all.collect()
        assert len(kept) <= NPROBE + n_delta
        if level_debt(stats) > ANN_INDEX_DEBT_THRESHOLD:
            mstats = recluster_level(spark, cdir, ANN_CELL_FILES, "cell", "vec_id", "sub")
            mserved, mkept, mtotal = ann_served_pruned_of(spark, out, mstats, n_probes=1)
            assert mserved.collect() == rows  # fold is answer-invariant
            assert 0 < len(mkept) <= NPROBE < mtotal
            assert level_debt(mstats) <= ANN_INDEX_DEBT_THRESHOLD
            fired = True
            break
    assert fired, "append stream never crossed the ANN index debt threshold"


def test_dedup_served_probes_index_without_rescanning_history(spark, sf_dir, tmp_path):
    """The cross-snapshot served dedup must (a) write both artifacts,
    (b) find every exact re-crawl at est_jaccard = 1.0 and every mutated
    re-crawl as a near candidate, and (c) read no documents parquet —
    the whole new batch enters as a signature literal, history only
    through the index artifacts (the production pattern: today's crawl
    vs all prior dumps without re-reading historical text)."""
    import os

    from task_hive_spark.operators.dedup import (
        LSH_BANDS,
        NEW_OFFSET,
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
    )
    from task_hive_spark.plans.catalog import file_column_stats

    out = str(tmp_path / "ddidx")
    summary = materialize_dedup_index_clustered(spark, sf_dir, out)
    assert summary["signatures"] > 0
    assert summary["buckets"] == summary["signatures"] * LSH_BANDS  # rows/doc
    assert os.path.isfile(os.path.join(out, "summary.json"))

    stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
    batch = new_batch_df(spark, sf_dir)
    served, _kept, _total = dedup_served_pruned_of(spark, out, stats, batch)
    rows = served.collect()
    assert rows, "re-crawled batch must collide with history"
    # candidates grow with the batch (each re-crawl meets its base, the
    # base's copies and some banding noise), never with batch x history
    assert len(rows) <= 8 * batch.count()
    by_new: dict[int, list] = {}
    for r in rows:
        assert r["new_doc_id"] >= NEW_OFFSET
        assert r["hist_doc_id"] < NEW_OFFSET
        by_new.setdefault(r["new_doc_id"], []).append(r)
    # verbatim re-crawls (odd base ids: doc_id % 2 != 0) carry identical
    # text, hence identical signatures — their base doc must surface at
    # est_jaccard exactly 1.0
    exact_new = [nid for nid in by_new if (nid - NEW_OFFSET) % 2 != 0]
    assert exact_new
    for nid in exact_new:
        partners = {r["hist_doc_id"]: r["est_jaccard"] for r in by_new[nid]}
        assert partners[nid - NEW_OFFSET] == 1.0
    # mutated re-crawls still land near their base (banding recall)
    mutated_hits = [
        nid for nid in by_new
        if (nid - NEW_OFFSET) % 2 == 0
        and any(r["hist_doc_id"] == nid - NEW_OFFSET for r in by_new[nid])
    ]
    assert mutated_hits, "mutated re-crawls must still collide in some band"

    # plan shape: history text is never re-scanned — the new batch's
    # signatures are computed in one collect and enter the plan as a
    # VALUES literal, so the final plan holds ZERO documents scans and
    # both index artifacts
    scans = served.inputFiles()
    assert scans, "served plan must read the index artifacts"
    assert all(out in f for f in scans), scans  # index files ONLY — no text
    for artifact in ("buckets", "signatures"):
        assert any(os.path.join(out, artifact) in f for f in scans), artifact


def test_clustered_dedup_index_serves_from_pruned_files(spark, sf_dir, tmp_path):
    """The layout tier applied to the serve path: the bucket artifact is
    range-clustered on the 64-bit band bucket, so a single-document
    probe (32 band buckets) must (a) answer IDENTICALLY to the serve
    that reads every bucket file, (b) keep at most LSH_BANDS of the
    bucket files — O(probe),
    not O(index) — and (c) read ONLY the kept files plus signatures."""
    import os

    from task_hive_spark.operators.dedup import (
        LSH_BANDS,
        NEW_OFFSET,
        PROBE_DOC_BASE,
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
    )
    from task_hive_spark.plans.catalog import file_column_stats

    out = str(tmp_path / "ddcidx")
    summary = materialize_dedup_index_clustered(spark, sf_dir, out)
    assert summary["buckets"] == summary["signatures"] * LSH_BANDS
    stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
    # the clustered rewrite must actually fan out into many tight files
    assert len(stats) > LSH_BANDS, "index must hold more files than a probe touches"
    assert all(s["min"] is not None for s in stats)

    probe = new_batch_df(spark, sf_dir).where(
        f"doc_id = {NEW_OFFSET + PROBE_DOC_BASE}"
    )
    served, kept, total = dedup_served_pruned_of(spark, out, stats, probe)
    rows = served.collect()
    # single verbatim re-crawl: its history partner must surface at 1.0
    assert any(
        r["hist_doc_id"] == PROBE_DOC_BASE and r["est_jaccard"] == 1.0 for r in rows
    )
    # answer-invariance vs the unpruned serve of the SAME probe: the
    # same manifest without footer ranges keeps every file
    all_stats = [dict(s, min=None, max=None) for s in stats]
    served_all, _, _ = dedup_served_pruned_of(spark, out, all_stats, probe)
    assert rows == served_all.collect()
    # pruning is structural: ≤ one file per probe bucket, strictly
    # fewer than the index holds
    assert 0 < len(kept) <= LSH_BANDS < total == len(stats)
    # the served plan reads only kept bucket files (+ signatures)
    scans = served.inputFiles()
    assert scans
    from urllib.parse import urlparse

    allowed = {os.path.realpath(p) for p in kept}
    bucket_scans = [
        os.path.realpath(urlparse(f).path)
        for f in scans
        if os.path.join(out, "signatures") not in f
    ]
    assert bucket_scans and set(bucket_scans) <= allowed, (
        sorted(set(bucket_scans) - allowed)
    )


def test_dedup_index_update_completes_the_cross_snapshot_loop(spark, sf_dir, tmp_path):
    """The full production loop: probe batch 1 against the historical
    index, keep only the NOVEL docs, fold exactly those back in
    (update_dedup_index_clustered), then probe batch 2 — re-crawls of
    batch-1 docs must now hit their batch-1 ids at est_jaccard 1.0 (the
    index grew), while the historical artifacts were appended, never
    rewritten."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        LSH_BANDS,
        NEW_OFFSET,
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
        update_dedup_index_clustered,
    )
    from task_hive_spark.plans.catalog import file_column_stats

    def served(batch):
        stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
        return dedup_served_pruned_of(spark, out, stats, batch)[0]

    out = str(tmp_path / "ddidx")
    base = materialize_dedup_index_clustered(spark, sf_dir, out)
    hist_files = set(os.listdir(os.path.join(out, "signatures")))

    # batch 1 = the derived re-crawls (all near/exact dups of history)
    # plus genuinely novel docs (unique token streams — no shared
    # shingles with anything)
    fresh = spark.createDataFrame(
        [
            (NEW_OFFSET + 10_000_000 + d, " ".join(f"novtok{d}x{i}" for i in range(24)))
            for d in range(5)
        ],
        "doc_id long, text string",
    )
    batch1 = new_batch_df(spark, sf_dir).unionByName(fresh)
    hits = (
        served(batch1)
        .where(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("new_doc_id").alias("doc_id"))
        .distinct()
    )
    novel = batch1.join(hits, "doc_id", "left_anti")
    n_novel = novel.count()
    assert 0 < n_novel < batch1.count()  # some dups found, some novel
    assert n_novel >= 5  # at least the synthetic fresh docs survive

    updated = update_dedup_index_clustered(spark, out, novel)
    assert updated["signatures"] == base["signatures"] + n_novel
    assert updated["buckets"] == base["buckets"] + n_novel * LSH_BANDS
    # append-only: every original signature file still present untouched
    assert hist_files <= set(os.listdir(os.path.join(out, "signatures")))

    # batch 2: exact re-crawls of the NOVEL batch-1 docs under fresh ids
    batch2 = novel.select(
        (F.col("doc_id") + NEW_OFFSET).alias("doc_id"), "text"
    )
    rows = served(batch2).collect()
    partners = {(r["new_doc_id"], r["hist_doc_id"]): r["est_jaccard"] for r in rows}
    for nid in [r["doc_id"] for r in novel.select("doc_id").collect()]:
        assert partners.get((nid + NEW_OFFSET, nid)) == 1.0, nid


def test_ann_index_update_routes_and_encodes_against_frozen_artifacts(
    spark, sf_dir, tmp_path
):
    """update_ann_index_clustered must append WITHOUT retraining: exact
    copies of existing vectors under fresh ids route to the SAME cell
    and encode to the SAME PQ codes as their originals (frozen
    centroids/codebook arithmetic), counts grow by exactly the batch,
    and the historical artifact files are untouched."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.similarity import (
        PQ_M,
        materialize_ann_index_clustered,
        update_ann_index_clustered,
    )
    from task_hive_spark.sources.fixtures import load_table

    out = str(tmp_path / "annidx")
    base = materialize_ann_index_clustered(spark, sf_dir, out)
    pre_files = {a: set(os.listdir(os.path.join(out, a))) for a in ("cellcodes", "vectors")}

    def cells_and_codes(where):
        rows = spark.read.parquet(os.path.join(out, "cellcodes")).where(where).collect()
        return (
            {r["vec_id"]: r["cell"] for r in rows},
            {(r["vec_id"], r["sub"]): r["code"] for r in rows},
        )

    OFF = 10_000_000
    orig_cells, orig_codes = cells_and_codes(F.col("vec_id") < OFF)
    sample = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 17 == 0
    )
    n_new = sample.count()
    assert n_new > 0
    new_vecs = sample.select((F.col("vec_id") + OFF).alias("vec_id"), "embedding")

    summary = update_ann_index_clustered(spark, out, new_vecs)
    assert summary["cellcodes"] == base["cellcodes"] + n_new * PQ_M
    assert summary["vectors"] == base["vectors"] + n_new
    assert summary["centroids"] == base["centroids"]  # frozen
    assert summary["codebook"] == base["codebook"]  # frozen
    for a, files in pre_files.items():
        assert files <= set(os.listdir(os.path.join(out, a))), a  # append-only

    new_cells, new_codes = cells_and_codes(F.col("vec_id") >= OFF)
    assert len(new_cells) == n_new
    for nid, cell in new_cells.items():
        assert cell == orig_cells[nid - OFF], nid
    for (nid, sub), code in new_codes.items():
        assert code == orig_codes[(nid - OFF, sub)], (nid, sub)


def test_stream_built_index_is_servable(spark, sf_dir, tmp_path):
    """The online indexer's on-disk artifacts ARE a servable dedup
    index as written: probing a new batch against the stream-accumulated
    signatures/buckets (every streamed bucket file kept — its footer
    ranges are not clustered) returns exactly the answer the batch-built
    index gives — continuous ingestion and cross-snapshot serving are
    one storage format, not two."""
    import os

    from task_hive_spark.operators.dedup import (
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
    )
    from task_hive_spark.plans.catalog import file_column_stats
    from task_hive_spark.streaming.minhashstream import run_once

    work = str(tmp_path / "mh")
    run_once(spark, sf_dir, work)  # stream the corpus through the indexer

    # map the streamed artifact layout onto the serve layout (the
    # batch= partition column is dropped by the serve's column
    # selection, so the partitioned dirs read directly)
    idx = tmp_path / "served_view"
    idx.mkdir()
    os.symlink(os.path.join(work, "index_buckets"), str(idx / "buckets"))
    os.symlink(os.path.join(work, "index_sigs"), str(idx / "signatures"))
    streamed = [
        dict(s, min=None, max=None)
        for s in file_column_stats(os.path.join(work, "index_buckets"), "bucket")
    ]

    batch = new_batch_df(spark, sf_dir)
    from_stream = dedup_served_pruned_of(spark, str(idx), streamed, batch)[0].collect()

    out = str(tmp_path / "batchidx")
    materialize_dedup_index_clustered(spark, sf_dir, out)
    stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
    from_batch = dedup_served_pruned_of(spark, out, stats, batch)[0].collect()
    assert from_stream == from_batch and from_stream


def test_dedup_index_update_raises_on_append_skew(spark, sf_dir, tmp_path):
    """The r11 invariant: the two appends (signatures, band buckets) are
    not transactional, so update_dedup_index_clustered re-counts from
    disk and
    must REFUSE to publish a summary when buckets != signatures x
    LSH_BANDS — a half-applied append would otherwise make those docs
    silently unfindable by every future probe. Simulate the failure by
    pre-seeding extra signature rows with no band rows."""
    import os

    import pytest

    from task_hive_spark.operators.dedup import (
        materialize_dedup_index_clustered,
        update_dedup_index_clustered,
    )

    out = str(tmp_path / "skewidx")
    materialize_dedup_index_clustered(spark, sf_dir, out)
    # orphan signatures: rows in signatures/ with no buckets/ partner —
    # exactly what a crash between the two appends leaves behind
    spark.read.parquet(os.path.join(out, "signatures")).limit(3).write.mode(
        "append"
    ).parquet(os.path.join(out, "signatures"))

    from task_hive_spark.operators.dedup import corpus_df

    batch = corpus_df(spark, sf_dir).limit(4)
    with pytest.raises(RuntimeError, match="skewed"):
        update_dedup_index_clustered(spark, out, batch)
