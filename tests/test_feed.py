"""The file feed (streaming/feed.py) is the one owner of chunk writing,
the ordered parquet file source and the scratch root; these tests pin
what it writes and keep the decision from being copied out again."""

from __future__ import annotations

import os
import re

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_write_chunks_orders_files_by_chunk(spark, tmp_path):
    """One flat parquet file per chunk, mtimes strictly increasing in
    chunk order (the file source's delivery order), and every row lands
    in exactly one chunk."""
    from task_hive_spark.streaming.feed import with_hash_chunk, write_chunks

    ids = [f"id-{i}" for i in range(40)]
    df = spark.createDataFrame([(i,) for i in ids], "id STRING")
    feed = write_chunks(with_hash_chunk(df, "id", 3), str(tmp_path / "feed"), 3)
    files = sorted(os.listdir(feed))
    assert files == ["chunk_001.parquet", "chunk_002.parquet", "chunk_003.parquet"]
    mtimes = [os.path.getmtime(os.path.join(feed, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    got = [r["id"] for r in spark.read.parquet(feed).collect()]
    assert sorted(got) == sorted(ids)


def _source_files() -> list[str]:
    out = [os.path.join(REPO_ROOT, "bench.py")]
    for top in ("task_hive_spark", "scripts", "tests"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO_ROOT, top)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def test_chunk_writes_and_feed_sources_only_in_feed_module():
    """Stamping chunk mtimes and opening a parquet file stream with a
    fixed schema are the feed's decision: a copy elsewhere would drift
    from it (the chunk writer once existed five times)."""
    patterns = {
        "chunk mtime stamp": re.compile(r"\bos\.utime\("),
        "parquet feed source": re.compile(r"readStream\s*\.\s*schema\("),
    }
    owner = os.path.join("task_hive_spark", "streaming", "feed.py")
    found = set()
    for path in _source_files():
        rel = os.path.relpath(path, REPO_ROOT)
        with open(path) as f:
            text = f.read()
        found |= {(rel, what) for what, p in patterns.items() if p.search(text)}
    assert {rel for rel, _ in found} == {owner}, sorted(found)


def test_versioned_paths_only_in_materialize():
    """Naming a state version and picking one by listing its root are
    the commit protocol's decision (materialize.commit_version and its
    readers): a copy elsewhere would bring back its own idea of
    "committed" (six such copies once held three)."""
    patterns = {
        "formats a versioned path": re.compile(r"_v\{|batch=\{"),
        "lists a root to pick a version": re.compile(
            r"startswith\(\s*f?[\"'][^\"']*(_v|batch=)[\"']|(_v|batch=)\(\\d"
        ),
    }
    owner = os.path.join("task_hive_spark", "materialize.py")
    found = []
    for path in _source_files():
        rel = os.path.relpath(path, REPO_ROOT)
        if rel == owner or rel.startswith("tests" + os.sep):
            continue  # tests name the versions they fabricate
        with open(path) as f:
            text = f.read()
        found += [(rel, what) for what, p in patterns.items() if p.search(text)]
    assert not found, sorted(found)


def test_scratch_root_has_one_binding():
    """A scratch-root redirect (perfbench/env.redirect_scratch_root)
    replaces every module binding that IS lifecycle._scratch_root; a
    module holding any other function under that name would keep
    writing to the default root."""
    import importlib
    import pkgutil
    import sys

    import task_hive_spark
    from task_hive_spark import materialize
    from task_hive_spark.streaming import lifecycle

    for m in pkgutil.walk_packages(task_hive_spark.__path__, "task_hive_spark."):
        importlib.import_module(m.name)
    bound = {
        name: mod._scratch_root
        for name, mod in list(sys.modules.items())
        if name.startswith("task_hive_spark") and hasattr(mod, "_scratch_root")
    }
    assert lifecycle._scratch_root is materialize._scratch_root
    stray = sorted(n for n, f in bound.items() if f is not lifecycle._scratch_root)
    assert not stray, f"modules binding another _scratch_root: {stray}"


def test_clear_indexes_deletes_memo_work_dirs(spark, sf_dir):
    """A session memo that writes under the scratch root (an ingest, a
    converged stream run) owns its directory: dropping the memo deletes
    it, so a long-lived driver's scratch holds only live sessions'
    work."""
    from task_hive_spark.materialize import _scratch_root, clear_indexes
    from task_hive_spark.sources import textfiles
    from task_hive_spark.streaming import minhashstream

    ingest = textfiles._ingest_dir(spark, sf_dir, "json")
    stream = os.path.dirname(minhashstream._ensure_run(spark, sf_dir))
    for d in (ingest, stream):
        assert os.path.dirname(d) == _scratch_root() and os.path.isdir(d), d
    clear_indexes(spark)
    assert not os.path.exists(ingest) and not os.path.exists(stream)


def test_memo_dirs_are_deleted_at_interpreter_exit(tmp_path):
    """A process that makes a memoized_run directory and exits without
    any teardown (a script, a bench run) leaves no memo directory
    behind: memoized_run registers clear_indexes to run at exit."""
    import subprocess
    import sys

    out = tmp_path / "made.txt"
    body = (
        f"import sys; sys.path.insert(0, {REPO_ROOT!r})\n"
        "from task_hive_spark.session import get_spark\n"
        "from task_hive_spark.materialize import memoized_run\n"
        "spark = get_spark('memo_atexit')\n"
        "work = memoized_run(spark, ('atexit_probe', 'none'), lambda w: w)\n"
        f"open({str(out)!r}, 'w').write(work)\n"
    )
    subprocess.run([sys.executable, "-c", body], cwd=REPO_ROOT, check=True, timeout=300)
    made = out.read_text()
    assert os.path.basename(made).startswith("atexit_probe_")
    assert not os.path.exists(made), made
