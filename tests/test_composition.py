"""Cross-operator integration: the pipeline stages must agree with each
other, not just each with its own oracle — keep decisions, drop
reasons, token budgets, and mix accounting are different views of ONE
corpus and must reconcile row-for-row."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pipeline_agrees_with_exact_dedup(spark):
    """filter_pipeline's 'duplicate' verdicts must be exactly the
    exact-dedup keep-list's drops (restricted to the original corpus —
    the dedup module's augmented copies use ids >= DUP_OFFSET and can
    never steal canonical status from an original), modulo gate ordering:
    a dropped duplicate that is also too short reports 'too_short'."""
    from task_hive_spark.operators.dedup import DUP_OFFSET, dd_exact_keep_list
    from task_hive_spark.operators.textops import FILTER_MIN_TOKENS, txt_filter_pipeline

    fp = {r["doc_id"]: r for r in txt_filter_pipeline(spark, SF_DIR).collect()}
    keep = {
        r["doc_id"]: r["keep"]
        for r in dd_exact_keep_list(spark, SF_DIR).collect()
        if r["doc_id"] < DUP_OFFSET
    }
    assert set(fp) == set(keep)
    for doc_id, row in fp.items():
        if row["reason"] == "duplicate":
            assert not keep[doc_id], doc_id
        if not keep[doc_id] and row["n_tokens"] >= FILTER_MIN_TOKENS:
            assert row["reason"] == "duplicate", (doc_id, row["reason"])


def test_mix_accounting_conserves_corpus(spark):
    """training-mix rows must partition the corpus: per-language doc
    counts equal the raw table's, and kept + dropped reconcile."""
    from task_hive_spark.operators.textops import txt_training_mix
    from task_hive_spark.sources.fixtures import load_table

    mix = txt_training_mix(spark, SF_DIR).collect()
    raw = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["lang"]: r["n_docs"] for r in mix} == raw
    for r in mix:
        assert r["n_kept"] + r["n_dup_dropped"] + r["n_quality_dropped"] == r["n_docs"]


def test_sequence_pack_conserves_tokens(spark):
    """Every non-empty document's tokens land in exactly one bin: the
    bin totals must sum to the corpus token count, and doc counts to
    the non-empty corpus size."""
    from task_hive_spark.functions.text import ws_token_count
    from task_hive_spark.operators.textops import txt_sequence_pack
    from task_hive_spark.sources.fixtures import load_table

    bins = txt_sequence_pack(spark, SF_DIR).collect()
    d = load_table(spark, SF_DIR, "documents").where(F.length(F.trim("text")) > 0)
    exp = d.agg(
        F.sum(ws_token_count(F.col("text")).cast("long")).alias("toks"),
        F.count("*").alias("docs"),
    ).collect()[0]
    assert sum(r["total_tokens"] for r in bins) == exp["toks"]
    assert sum(r["n_docs"] for r in bins) == exp["docs"]


def test_aux_cache_lifecycle(spark):
    """Every session memo shares one lifecycle: dead-session keys are
    evicted (and released), live ones survive the sweep, and
    clear_indexes drops and unpersists a session's entries — so e.g.
    the BPE trainer's checkpointed vocab can't outlive its session."""
    from task_hive_spark import materialize as m

    live_app = spark.sparkContext.applicationId
    released = []
    dead = spark.range(2).persist()
    m._MEMO[("app-dead-123", "test_memo", "sfX")] = (([1, 2], dead), m._unpersist_value)
    live = m.session_memo(
        spark, ("test_memo", "sfX"), lambda: ([3], spark.range(3).persist())
    )
    path = m.session_memo(
        spark, ("test_memo_path", "sfX"), lambda: "/scratch/x", release=released.append
    )
    assert ("app-dead-123", "test_memo", "sfX") not in m._MEMO, "dead session not evicted"
    assert not dead.is_cached, "evicted DataFrame left persisted"
    assert m.session_memo(spark, ("test_memo", "sfX"), lambda: None) is live
    assert live[1].is_cached

    m.drop_memo(spark, ("test_memo_path", "sfX"))
    assert released == [path]
    m.clear_indexes(spark)
    assert not any(k[0] == live_app for k in m._MEMO), "clear_indexes left live entries"
    assert not live[1].is_cached


def test_session_memo_keeps_one_value_per_key_under_threads(spark):
    """Threads building and dropping memos at once (the benchmark builds
    a stream feed on a second thread) must leave one value per key and
    never lose an entry: more threads than cores, a tiny switch
    interval, every thread's view of a key checked for identity."""
    import sys
    import threading
    import types

    from task_hive_spark import materialize as m

    app = spark.sparkContext.applicationId
    stub = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app),
        conf=types.SimpleNamespace(get=lambda _k, default=None: default),
    )
    seen: dict = {}
    errors: list = []

    def worker(t: int) -> None:
        try:
            for i in range(300):
                key = ("stress", i % 8)
                val = m.session_memo(stub, key, object)
                seen.setdefault((t, key), set()).add(id(val))
                if t == 0 and i % 50 == 49:
                    m.drop_memo(stub, ("stress_dropped", i))
                m.session_memo(stub, ("stress_dropped", i), object)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    try:
        assert not errors, errors
        held = {k[1:]: v[0] for k, v in m._MEMO.items() if k[0] == app and k[1] == "stress"}
        assert len(held) == 8
        for (_t, key), ids in seen.items():
            assert ids == {id(held[key])}, key  # one copy per key, never replaced
    finally:
        for k in [k for k in m._MEMO if k[0] == app and k[1].startswith("stress")]:
            m.drop_memo(stub, k[1:])


def test_session_memo_entries_die_with_their_session(tmp_path):
    """Stop a session that holds every memo kind — a persisted index, a
    localCheckpoint frame and a scratch path — and the next registry
    sweep must evict every entry, unpersist every DataFrame, free the
    checkpoint blocks and run the path's release. Runs in its own
    driver process: stopping the suite's shared session would end every
    later test."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    body = f"""
import json
from task_hive_spark import materialize as m
from task_hive_spark.session import get_spark

spark = get_spark("memo_stop")
idx = m.session_index(spark, "sfX", "persisted", lambda: spark.range(10))
ckpt = m.session_memo(spark, ("ckpt", "sfX"), lambda: spark.range(5).localCheckpoint())
released = []
path = m.session_memo(
    spark, ("scratch", "sfX"), lambda: {str(tmp_path)!r}, release=released.append
)
freed = []
real = m._release_checkpoint
m._release_checkpoint = lambda df: (freed.append(df), real(df))
before = len(m._MEMO)
cached = idx.is_cached
spark.stop()
m._evict_dead_sessions()
print("RESULT " + json.dumps({{
    "before": before, "after": len(m._MEMO), "was_cached": cached,
    "idx_cached": idx.is_cached,
    "ckpt_freed": any(f is ckpt for f in freed),
    "released": released == [path],
}}))
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {repo!r})\n" + body],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert line, proc.stdout[-2000:] + proc.stderr[-2000:]
    got = json.loads(line[0][len("RESULT "):])
    assert got == {
        "before": 3, "after": 0, "was_cached": True, "idx_cached": False,
        "ckpt_freed": True, "released": True,
    }, got


def test_driver_memory_defaults_to_a_capped_quarter_of_the_machine(spark):
    """Without SPARK_GRAFT_DRIVER_MEM a driver takes at most a quarter
    of the machine's memory and at most 8g, so two drivers fit side by
    side; the variable still overrides the default."""
    from task_hive_spark.session import default_driver_memory

    with open("/proc/meminfo") as f:
        total_mb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:")) // 1024
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb <= 8 * 1024 and 4 * mb <= total_mb
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_crawl_to_corpus_pipeline(spark, tmp_path):
    """The full crawl ingestion path composed end to end: corpus →
    boilerplate-laden HTML pages → WARC archive (distributed sink,
    per-record gzip members) → SPLIT-read with resync (4 KB ranges) →
    HTML main-content extraction → profile hash-identical to the
    source corpus. Every stage is the real operator; a leaked nav
    item, swallowed entity, digest slip or split-ownership error
    anywhere breaks the final equality."""
    import pandas as pd

    from task_hive_spark.operators.htmlextract import (
        extract_main_text,
        synth_html_page,
    )
    from task_hive_spark.sources.textfiles import _XML_TAIL, _derived, _profile
    from task_hive_spark.sources.warc import read_warc_dir_split, write_warc_dir

    d = _derived(spark, SF_DIR, _XML_TAIL)

    def render(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "text": [
                        synth_html_page(int(i), la, t)
                        for i, la, t in zip(pdf["doc_id"], pdf["lang"], pdf["text"])
                    ],
                }
            )

    pages = d.repartition(2).mapInPandas(
        render, schema="doc_id long, lang string, text string"
    )
    out = str(tmp_path / "crawl")
    n = write_warc_dir(pages, out)
    assert n == d.count() > 0

    crawled = read_warc_dir_split(spark, out, split_bytes=4096)

    def extract(batches):
        for pdf in batches:
            langs, texts = [], []
            for warc_lang, page in zip(pdf["lang"], pdf["text"]):
                html_lang, text = extract_main_text(page)
                assert html_lang == warc_lang  # URI and <html lang> agree
                langs.append(html_lang)
                texts.append(text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": langs, "text": texts}
            )

    corpus = crawled.mapInPandas(
        extract, schema="doc_id long, lang string, text string"
    )
    assert _profile(corpus).collect() == _profile(d).collect()
