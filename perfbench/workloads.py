"""The benchmark's workloads. Each is one client thread in a closed
loop: a request is sent only after the previous one returned.

Both workloads report the same end-to-end metrics (``E2E``), each read
the way that workload's user sees it:

==================  ================================  ===============================
metric              taskhive_service                  curation_serve
==================  ================================  ===============================
``setup_s``         process start until the first timed call: session, inputs, warm-up,
                    index builds and feeds included
``bulk_s``          ``start()`` draining the backlog  one curation pass, each result
                                                      collected (each query's first run)
``write_s``         ``submit_task`` until the batch   the clustered dedup + ANN index
                    is terminal (median)              build
``request_p50_ms``  HTTP GET                          serve request, collected
``drain_s``         lifecycle + stateful stream       MinHash indexer stream drain
                    drains                            (its corpus feed included)
``retained_mb``     memory held at the end of the run: JVM heap after a full GC, JVM
                    non-heap, Python resident set
==================  ================================  ===============================
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import gen

# unit of every end-to-end metric, in report order
E2E = {
    "setup_s": "s",
    "bulk_s": "s",
    "write_s": "s",
    "request_p50_ms": "ms",
    "drain_s": "s",
    "retained_mb": "MB",
}

# converged stream outputs checked against the registered oracles:
# query name → (stream, output key); each is a plain projection of
# that output, so the check reads the drained files directly
STREAM_CHECKS = {
    "st_final_tasks": ("lifecycle", "tasks"),
    "st_dispatch_latency": ("stateful", "latency"),
    "st_unmatched_submits": ("stateful", "sla"),
    "st_minhash_incremental": ("minhashstream", None),
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """The q-quantile of ``xs``, or 0 unless at least 10 samples lie
    beyond it."""
    if not xs or round(len(xs) * (1 - q), 9) < 10:
        return 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1])


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        import __spark_entry__ as entry
        from task_hive_spark.plans import oracle

        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.sf = ctx.sf_dir
        self.seed = ctx.seed
        self.qs = entry.queries()
        self.oracles = entry.oracle_sql()
        self.con = oracle.duckdb_conn(self.sf)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.window_s = 0.0
        self.window_t0 = 0.0
        self.notes: dict[str, list[str]] = {}

    # --- bookkeeping ------------------------------------------------------

    def sample(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)

    def call(self, span: str, fn, *, request_id=None, group=None):
        """One timed operation, counted as attempted, and as failed when
        it raises. Returns (result or None, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, request_id=request_id, group=group):
                out = fn()
        except Exception as e:  # a failed operation is data, not a crash
            self.failed += 1
            self.notes.setdefault("errors", []).append(f"{span}: {type(e).__name__}: {e}"[:300])
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def verify(self, label: str, ok: bool, detail: str = "", *, standalone: bool = False) -> None:
        """Count a wrong answer as a failure. A ``standalone`` check (an
        oracle comparison of its own, not of a timed call's result) is
        also counted as attempted."""
        self.attempted += standalone
        if not ok:
            self.failed += 1
            self.notes.setdefault("wrong", []).append(f"{label} {detail}"[:300])

    def check(self, label: str):
        """An untimed span; the timed window excludes it."""
        return self.tracer.span("check", request_id=label)

    def compare(self, q: str, df) -> None:
        from task_hive_spark.plans import oracle

        r = oracle.compare(q, df, self.con, self.oracles[q])
        self.verify(q, r.ok, r.detail, standalone=True)

    def elapsed_timed(self, t0: float) -> float:
        """Seconds since ``t0`` (a ``time.time()``) less untimed checks."""
        checks = sum(s.wall_s for s in self.tracer.spans if s.name == "check" and s.start >= t0)
        return time.time() - t0 - checks

    def run_window(self, seconds: float) -> None:
        self.window_t0 = t0 = time.time()
        self.measure(seconds)
        self.window_s = self.elapsed_timed(t0)

    # --- streams ------------------------------------------------------------

    def drain(self, drains: dict) -> None:
        """Drain each stream from a fresh checkpoint, then check its
        converged output against the registered oracle (untimed)."""
        outs = {}
        total = 0.0
        for stream, fn in drains.items():
            outs[stream], s = self.call(f"streaming.{stream}", fn, request_id=stream)
            total += s
        self.sample("drain_s", total)
        self.tracer.drain_listeners()
        with self.check("stream outputs"):
            for q, (stream, key) in STREAM_CHECKS.items():
                out = outs.get(stream)
                if stream not in drains or out is None:
                    continue
                cols = [
                    d[0]
                    for d in self.con.execute(f"SELECT * FROM ({self.oracles[q]}) o LIMIT 0").description
                ]
                path = out if key is None else out[key]
                self.compare(q, self.spark.read.parquet(path).select(*cols))

    def batch_ms(self) -> list[float]:
        spans = [s for s in self.tracer.spans if s.name.startswith("streaming.")]
        return [
            b["duration_ms"].get("triggerExecution", 0)
            for b in self.tracer.batches
            if any(s.start <= b["at"] <= s.end for s in spans)
        ]

    # --- to override --------------------------------------------------------

    @staticmethod
    def answers(sf_dir: str) -> dict:
        """Oracle answers that need only the inputs; a run computes them
        in a thread while the JVM starts, and ``setup`` takes them from
        ``ctx.answers``."""
        return {}

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def final_check(self) -> None:
        pass

    def e2e(self) -> dict[str, float]:
        """Every end-to-end metric but setup_s and retained_mb."""
        raise NotImplementedError

    def sample_counts(self) -> dict[str, int]:
        raise NotImplementedError

    def aliases(self) -> dict[str, float]:
        """The workload's own names for its figures (report only)."""
        return {}

    def extra_layers(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        self.con.close()


# --- taskhive_service ---------------------------------------------------------


class TaskHiveService(Workload):
    """The reference's own surface and its streaming form: a seeded
    backlog drained by ``start()``; rounds of one ``submit_task`` batch
    followed by HTTP GETs over the five ``TaskHiveServer`` routes; then
    the lifecycle fold and the stateful operators drained over the
    task-event feed built in setup."""

    name = "taskhive_service"
    N_BACKLOG = 300
    MAX_RETRIES = 1
    SUBMIT_BATCH = 10
    ROUNDS = 2
    ROUTE_MIXES = 2  # GETs per round: the nine-route mix, twice
    WORKERS = 4
    CHUNKS = 1
    # the stateful drain's stream-stream interval joins: the operators
    # that carry join state across micro-batches
    STATEFUL_SINKS = ("latency", "sla")
    API_OF_ROUTE = {
        "task": "get_task_by_id",
        "tasks": "list_tasks",
        "stats": "get_task_stats",
        "workers": "list_workers",
        "worker_tasks": "get_worker_tasks",
    }

    def setup(self) -> None:
        from task_hive_spark.api import TaskHive, TaskHiveConfig
        from task_hive_spark.streaming import lifecycle

        self.backlog = gen.task_batch(gen.rng_for(self.seed, "backlog"), self.N_BACKLOG, "bk")
        self.rng = gen.rng_for(self.seed, "rounds")
        rows = [(t["id"], t["payload"], t["priority"], t["type"]) for t in self.backlog]
        config = TaskHiveConfig(
            worker_count=self.WORKERS,
            worker_capacity=0,  # unlimited: a round dispatches every pending task
            max_retries=self.MAX_RETRIES,
            work_dir=os.path.join(self.ctx.work, "hive"),
        )
        # the facade's empty snapshot and the stream feed are independent
        # writes; overlapping them shortens set-up
        with ThreadPoolExecutor(2) as pool:
            feed = pool.submit(lifecycle.shared_feed, self.spark, self.sf, self.CHUNKS)
            self.hive = TaskHive(self.spark, config)
            self.feed = feed.result()
        self.hive.register_task_generator(
            lambda s: s.createDataFrame(rows, "id string, payload string, priority int, type string")
        )
        self.base = self.hive.serve(0)
        self.worker_ids = [f"worker-{i}" for i in range(self.WORKERS)]
        self.submitted: list[dict] = []
        # (route, arg) → (direct body, its seconds), valid until the next
        # write: a repeated GET is checked against one direct call
        self.direct: dict = {}

    def _expected_stats(self) -> dict[str, int]:
        stats = dict.fromkeys(("pending", "processing", "completed", "failed", "delayed"), 0)
        for t in self.backlog + self.submitted:
            stats[gen.expected_status(t)] += 1
        stats["total"] = sum(stats.values())
        return stats

    def _version(self) -> int:
        return max(
            int(d.rsplit("_v", 1)[1])
            for d in os.listdir(self.hive.work_dir)
            if d.startswith("tasks_v") and d.rsplit("_v", 1)[1].isdigit()
        )

    def measure(self, seconds: float) -> None:
        from task_hive_spark.streaming import lifecycle, stateful

        _, s = self.call("api.start", self.hive.start, request_id="start")
        self.direct.clear()
        self.sample("start_s", s)
        with self.check("stats after start"):
            got = self.hive.get_task_stats()
        self.verify("stats after start", got == self._expected_stats(), str(got), standalone=True)
        with self.check("read warm-up"):
            # the reads' first executions compile their plans; without this
            # untimed mix of direct calls (the code each route serves) the
            # timed GETs would time compilation
            ids = [t["id"] for t in self.backlog]
            for route, arg in gen.route_mix(self.rng, ids, self.worker_ids):
                self._direct(route, arg, timed=False)
        t0 = time.time()
        rnd = 0
        while rnd < self.ROUNDS or self.elapsed_timed(t0) < seconds:
            self._round(rnd)
            rnd += 1
        work = os.path.join(self.ctx.work, "streams")
        self.drain(
            {
                "lifecycle": lambda: lifecycle.run_lifecycle(
                    self.spark, self.sf, f"{work}/lifecycle", self.CHUNKS, feed_dir=self.feed
                ),
                "stateful": lambda: stateful.run_once(
                    self.spark,
                    self.sf,
                    f"{work}/stateful",
                    self.CHUNKS,
                    feed=self.feed,
                    only=self.STATEFUL_SINKS,
                ),
            }
        )

    def _round(self, rnd: int) -> None:
        batch = gen.healthy_batch(self.rng, self.SUBMIT_BATCH, f"r{rnd}-")
        v0 = self._version()
        _, s = self.call(
            "api.submit_task", lambda: self.hive.submit_task(*batch), request_id=f"submit{rnd}"
        )
        self.direct.clear()
        self.submitted += batch
        self.sample("submit_s", s)
        self.sample("snapshot_writes", self._version() - v0)
        ids = [t["id"] for t in self.backlog + self.submitted]
        gets = [g for _ in range(self.ROUTE_MIXES) for g in gen.route_mix(self.rng, ids, self.worker_ids)]
        with self.check("workers"):
            self._direct("workers", None, timed=True)
        for i, (route, arg) in enumerate(gets):
            res, s = self.call(
                f"server.{route}",
                lambda p=_route_path(route, arg): _http_get(self.base + p),
                request_id=f"r{rnd}-{i}",
            )
            if res is None:
                continue
            self.sample("read_ms", s * 1000.0)
            with self.check(route):
                self._check_body(route, arg, *res, s)

    def _check_body(self, route: str, arg, code: int, body: str, http_s: float) -> None:
        """The HTTP body must equal the matching ``server.*_body`` call
        (one call per distinct request between two writes), timed
        against the request's ``http_s``. Worker liveness
        follows the clock (a heartbeat older than 30 s reads inactive)
        and flips once between writes, so the workers body is primed
        before the GETs, and a body that differs from it must equal a
        second direct call made after the GET."""
        want, d = self._direct(route, arg, timed=True)
        self.sample("server.overhead_ms", (http_s - d) * 1000.0)
        if want is None:
            self.verify(f"GET {route} {arg}", code == 404, f"code {code}")
            return
        ok = code == 200 and body == want
        if not ok and route == "workers":
            ok = code == 200 and body == self._direct_body(route, arg)
        self.verify(f"GET {route} {arg}", ok, f"code {code}")

    def _direct(self, route: str, arg, timed: bool) -> tuple[str | None, float]:
        """(body, seconds) of the direct ``server.*_body`` call for the
        request, made once between two writes; a ``timed`` call's
        seconds are sampled as the facade read's latency."""
        key = (route, str(arg))
        if key not in self.direct:
            api = self.API_OF_ROUTE[route]
            t0 = time.perf_counter()
            with self.tracer.span(f"api.{api}"):
                body = self._direct_body(route, arg)
            self.direct[key] = (body, time.perf_counter() - t0)
            if timed:
                self.sample(f"api.{api}_ms", self.direct[key][1] * 1000.0)
        return self.direct[key]

    def _direct_body(self, route: str, arg) -> str | None:
        """The body the route serves, from the ``server.*_body`` call."""
        from task_hive_spark import server

        if route == "task":
            return server.task_body(self.hive, arg)
        if route == "tasks":
            return server.tasks_body(self.hive, *arg)
        if route == "stats":
            return server.stats_body(self.hive)
        if route == "workers":
            return server.workers_body(self.hive)
        return server.worker_tasks_body(self.hive, arg)

    def final_check(self) -> None:
        with self.check("final stats"):
            got = self.hive.get_task_stats()
        self.verify("final stats", got == self._expected_stats(), str(got), standalone=True)

    def e2e(self) -> dict[str, float]:
        s = self.samples
        return {
            "bulk_s": s["start_s"][0],
            "write_s": median(s["submit_s"]),
            "request_p50_ms": median(s["read_ms"]),
            "drain_s": median(s["drain_s"]),
        }

    def sample_counts(self) -> dict[str, int]:
        s = self.samples
        return {
            "bulk_s": len(s["start_s"]),
            "write_s": len(s["submit_s"]),
            "request_p50_ms": len(s["read_ms"]),
            "drain_s": len(s["drain_s"]),
        }

    def aliases(self) -> dict[str, float]:
        s = self.samples
        return {
            "drain_tasks_per_s": self.N_BACKLOG / s["start_s"][0],
            "submit_done_p50_s": median(s["submit_s"]),
            "api_read_p50_ms": median(s["read_ms"]),
            "api_read_p90_ms": quantile(s["read_ms"], 0.9),
            "stream_drain_s": median(s["drain_s"]),
            "stream_batch_p50_s": median(self.batch_ms()) / 1000.0,
        }

    def extra_layers(self) -> dict[str, float]:
        s = self.samples
        out = {f"api.{a}_ms": median(s.get(f"api.{a}_ms")) for a in self.API_OF_ROUTE.values()}
        out["server.overhead_ms"] = median(s.get("server.overhead_ms"))
        out["api.snapshot_writes"] = median(s.get("snapshot_writes"))
        reads = {f"api.{a}" for a in self.API_OF_ROUTE.values()}
        out["api.read_input_bytes"] = median(
            [x.attrs.get("input_bytes", 0) for x in self.tracer.spans if x.name in reads]
        )
        drains = [x for x in self.tracer.spans if x.name in ("api.start", "api.submit_task")]
        out["operators.processors.python_rows"] = median(
            [x.attrs.get("python_rows", 0) for x in drains]
        )
        return out

    def close(self) -> None:
        self.hive.stop()
        shutil.rmtree(os.path.dirname(self.feed), ignore_errors=True)
        super().close()


def _route_path(route: str, arg) -> str:
    if route == "task":
        return f"/api/tasks/{arg}"
    if route == "tasks":
        status, limit = arg
        return f"/api/tasks?status={status}&limit={limit}" if status else f"/api/tasks?limit={limit}"
    if route == "stats":
        return "/api/stats"
    if route == "workers":
        return "/api/workers"
    return f"/api/workers/{arg}"


def _http_get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8")


# --- curation_serve -----------------------------------------------------------

# one query per operator module, bench.py's headline ones but for the
# relational module; dd_semdedup is similarity's. Relational is TPC-H Q12
# (lineitem ⋈ orders, one shuffle join, integer counts): the headline Q1,
# Q3 and Q5 round exact money sums with Spark's round(double, 2), which
# rounds a half-cent tie up where their DuckDB oracles may round it down,
# so on about 1 seed in 200 a run would report a wrong answer.
CURATION = (
    "rel_q12_late_lines",
    "dd_chunk_dedup",
    "txt_training_mix",
    "sk_hll_distinct",
    "dd_semdedup",
    "mm_decode_mp3_sideinfo",
    "th_assign_strategies",
)
MODULES = ("relational", "dedup", "textops", "sketches", "similarity", "multimodal", "assign")


def query_modules() -> dict[str, str]:
    """Query name → the operator module that registers it."""
    import importlib

    out = {}
    for m in MODULES:
        out.update(dict.fromkeys(importlib.import_module(f"task_hive_spark.operators.{m}").QUERIES, m))
    return out


def pass_answers(shard: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each CURATION query's oracle answer (columns, rows) on the pass
    inputs in ``shard`` (``gen.pass_shard``)."""
    import __spark_entry__ as entry
    from task_hive_spark.plans import oracle

    sql = entry.oracle_sql()
    con = oracle.duckdb_conn(shard)
    try:
        return {q: _answer(con, sql[q]) for q in CURATION}
    finally:
        con.close()


def curation_pass(w: Workload, modules: dict[str, str], sf: str, answers: dict, group: str) -> None:
    """One pass of CURATION over the inputs in ``sf``. The engine
    memoizes per (session, fixture dir), so a pass over a directory of
    its own is never answered from earlier work. Each query's result is
    collected to the client (timed), then compared with its oracle
    answer (untimed)."""
    for q in CURATION:

        def run(q=q):
            df = w.qs[q](w.spark, sf)
            return df.columns, [tuple(r) for r in df.collect()]

        res, _ = w.call(f"operators.{modules[q]}", run, request_id=q, group=group)
        if res is not None:
            with w.check(q):
                ok = _same(*res, *answers[q])
            w.verify(q, ok)


class CurationServe(Workload):
    """The data-pipeline user's job: a pass over headline curation
    queries (each query's first run in the session, so it pays plan
    compilation the way a batch job does), seeded serve requests against the clustered
    dedup and ANN indexes built in setup, and the MinHash streaming
    indexer over the document corpus."""

    name = "curation_serve"
    MIN_SERVES = 6
    CHUNKS = 1
    DD_PROBES = 3  # seeded re-crawl docs the timed dedup serves cycle through

    @staticmethod
    def answers(sf_dir: str) -> dict:
        """The pass inputs with their oracle answers, and the serve
        oracles: the whole-batch served-dedup oracle answers every
        re-crawl doc, the refine oracle every ANN probe."""
        import __spark_entry__ as entry
        from task_hive_spark.plans import oracle

        shard = gen.pass_shard(sf_dir, f"{sf_dir}_pass")
        sql = entry.oracle_sql()
        con = oracle.duckdb_conn(sf_dir)
        try:
            return {
                "pass_sf": shard,
                "pass": pass_answers(shard),
                "dd": _rows_by(con, sql["dd_dedup_served"], "new_doc_id"),
                "ann": _rows_by(con, sql["sim_topk_pq_refined"], None),
            }
        finally:
            con.close()

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from task_hive_spark.operators import dedup, similarity
        from task_hive_spark.plans.catalog import file_column_stats

        self.modules = query_modules()
        with self.check("oracles"):
            a = self.ctx.answers.result()
        self.pass_sf, self.pass_answers = a["pass_sf"], a["pass"]
        self.dd_expect, self.ann_expect = a["dd"], a["ann"]
        idx = os.path.join(self.ctx.work, "index")
        t0 = time.perf_counter()
        with self.tracer.span("materialize.build", request_id="build"):
            with self.tracer.span("materialize.build.dedup"):
                dedup.materialize_dedup_index_clustered(self.spark, self.sf, f"{idx}/dedup")
                self.dd_index = (f"{idx}/dedup", file_column_stats(f"{idx}/dedup/buckets", "bucket"))
            with self.tracer.span("materialize.build.ann"):
                similarity.materialize_ann_index_clustered(self.spark, self.sf, f"{idx}/ann")
                self.ann_index = (f"{idx}/ann", file_column_stats(f"{idx}/ann/cellcodes", "cell"))
        self.sample("index_build_s", time.perf_counter() - t0)

        self.batch = dedup.new_batch_df(self.spark, self.sf)
        self.col = F.col
        ids = sorted(r.doc_id for r in self.batch.select("doc_id").collect())
        self.rng = gen.rng_for(self.seed, "serve")
        # one more doc for the untimed warm-up serve
        self.dd_probes = [int(x) for x in self.rng.choice(ids, self.DD_PROBES + 1, replace=False)]
        with self.check("serve warm-up"):
            self._serve(0, timed=False)
            self._serve(1, timed=False)

    def _serve(self, i: int, timed: bool = True) -> None:
        """Request ``i``: even ones serve a seeded re-crawl doc from the
        dedup index, each of DD_PROBES in turn, odd ones alternate a
        single ANN probe and a batch."""
        from task_hive_spark.operators import dedup, similarity

        if i % 2 == 0:
            doc = self.dd_probes[(i // 2) % self.DD_PROBES if timed else -1]
            span, rid = "operators.dedup.serve", f"dd-{doc}"
            want_cols = self.dd_expect["cols"]
            want = self.dd_expect["rows"].get(doc, [])

            def run():
                probe = self.batch.where(self.col("doc_id") == doc)
                return dedup.dedup_served_pruned_of(self.spark, *self.dd_index, probe)
        else:
            # the two serve shapes the engine registers: one probe, a batch
            n = 1 if i % 4 == 1 else similarity.BATCH_PROBES
            span, rid = "operators.similarity.serve", f"ann-{n}"
            exp = self.ann_expect
            want_cols = exp["cols"]
            first = sorted({r[0] for r in exp["all"]})[:n]  # probes go in vec_id order
            want = [r for r in exp["all"] if r[0] in first]

            def run():
                return similarity.ann_served_pruned_of(self.spark, *self.ann_index, n_probes=n)

        def collected():
            out, kept, total = run()
            return out.columns, [tuple(r) for r in out.collect()], len(kept), total

        if timed:
            res, s = self.call(span, collected, request_id=rid)
        else:
            res, s = self.call("check", collected, request_id=rid)
        if res is None:
            return
        cols, rows, kept, total = res
        if timed:
            self.sample("serve_ms", s * 1000.0)
            self.sample("files_kept_ratio", kept / total if total else 0.0)
        self.verify(f"{span} {rid}", _same(cols, rows, want_cols, want) and kept <= total,
                    f"kept {kept}/{total}")

    def measure(self, seconds: float) -> None:
        from task_hive_spark.streaming import minhashstream

        t0 = time.time()
        curation_pass(self, self.modules, self.pass_sf, self.pass_answers, "pass")
        self.sample("pass_s", self.elapsed_timed(t0))
        t0 = time.time()
        i = 0
        while i < self.MIN_SERVES or self.elapsed_timed(t0) < seconds:
            self._serve(i)
            i += 1
        work = os.path.join(self.ctx.work, "streams")
        self.drain(
            {
                "minhashstream": lambda: minhashstream.run_once(
                    self.spark, self.sf, f"{work}/minhash", self.CHUNKS
                )
            }
        )

    def e2e(self) -> dict[str, float]:
        s = self.samples
        return {
            "bulk_s": s["pass_s"][0],
            "write_s": s["index_build_s"][0],
            "request_p50_ms": median(s["serve_ms"]),
            "drain_s": median(s["drain_s"]),
        }

    def sample_counts(self) -> dict[str, int]:
        s = self.samples
        return {
            "bulk_s": len(s["pass_s"]),
            "write_s": len(s["index_build_s"]),
            "request_p50_ms": len(s["serve_ms"]),
            "drain_s": len(s["drain_s"]),
        }

    def aliases(self) -> dict[str, float]:
        s = self.samples
        return {
            "curation_pass_s": s["pass_s"][0],
            "index_build_s": s["index_build_s"][0],
            "serve_p50_ms": median(s["serve_ms"]),
            "serve_p75_ms": quantile(s["serve_ms"], 0.75),
            "stream_drain_s": median(s["drain_s"]),
            "stream_batch_p50_s": median(self.batch_ms()) / 1000.0,
        }

    def extra_layers(self) -> dict[str, float]:
        return {"plans.catalog.files_kept_ratio": median(self.samples.get("files_kept_ratio"))}


def _answer(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _rows_by(con, sql: str, key: str | None) -> dict:
    cols, rows = _answer(con, sql)
    if key is None:
        return {"cols": cols, "all": rows}
    k = cols.index(key)
    by: dict = {}
    for r in rows:
        by.setdefault(r[k], []).append(r)
    return {"cols": cols, "rows": by}


def _same(s_cols, s_rows, o_cols, o_rows) -> bool:
    """The engine's oracle gate (same columns by name, same row count,
    order-insensitive value hash) applied to one request."""
    from task_hive_spark.plans.oracle import value_hash

    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        return False
    if len(s_rows) != len(o_rows):
        return False
    s_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(s_cols))]
    o_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(o_cols))]
    return value_hash(s_rows, s_order) == value_hash(o_rows, o_order)


WORKLOADS = {w.name: w for w in (TaskHiveService, CurationServe)}
