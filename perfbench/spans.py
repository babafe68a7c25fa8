"""Spans around calls into the engine's layers, and Spark's own record
of what each span ran.

A span keeps its name, start, end, parent and request id. Spans stay in
memory and are written as JSON lines when the run ends. With tracing
off the benchmark still records its spans (two clock reads each; the
timed window is measured from them) but never queries Spark. With
tracing on, each span also
remembers the range of Spark job ids it ran, read from
``dagScheduler().nextJobId()`` at its edges; once the timed window has
closed, :meth:`Tracer.resolve` reads those jobs' stages from Spark's
status store, the Catalyst phase times of every query execution, and
the Python-UDF row counts from the SQL status store.

Streaming progress comes from a ``StreamingQueryListener`` that is always
installed; the report's micro-batch latency is read from its
``triggerExecution`` durations.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

FIELDS = (
    "wall_s",
    "plan_ms",
    "jobs",
    "exec_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "skew",
    "driver_s",
)
SPAN_LAYERS = (
    "api.start",
    "api.submit_task",
    "operators.relational",
    "operators.dedup",
    "operators.textops",
    "operators.sketches",
    "operators.similarity",
    "operators.multimodal",
    "operators.assign",
    "materialize.build",
    "operators.dedup.serve",
    "operators.similarity.serve",
)
API_READS = ("get_task_by_id", "list_tasks", "get_task_stats", "list_workers", "get_worker_tasks")
STREAMS = ("lifecycle", "stateful", "minhashstream")
STREAM_FIELDS = ("batches", "jobs_per_batch", "add_batch_ms", "query_planning_ms", "wal_commit_ms")
# only the stateful drain runs state-store operators; the other two fold
# each micro-batch in foreachBatch and keep their state in parquet
STATE_FIELDS = ("state_commit_ms", "state_rows", "state_bytes")
PYTHON_NODES = ("InPandas", "ArrowEvalPython", "BatchEvalPython", "InArrow")
# the spans whose Python-UDF rows are reported (the facade's dispatch)
PYTHON_SPANS = ("api.start", "api.submit_task")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    unit = {
        "wall_s": "s",
        "plan_ms": "ms",
        "jobs": "count",
        "exec_cpu_s": "s",
        "shuffle_bytes": "bytes",
        "spill_bytes": "bytes",
        "skew": "ratio",
        "driver_s": "s",
    }
    out = {f"{layer}.{f}": unit[f] for layer in SPAN_LAYERS for f in FIELDS}
    out.update({f"api.{r}_ms": "ms" for r in API_READS})
    out["api.read_input_bytes"] = "bytes"
    out["api.snapshot_writes"] = "count"
    out["server.overhead_ms"] = "ms"
    out["operators.processors.python_rows"] = "count"
    out["plans.catalog.files_kept_ratio"] = "ratio"
    stream_unit = {
        "batches": "count",
        "jobs_per_batch": "count",
        "add_batch_ms": "ms",
        "query_planning_ms": "ms",
        "wal_commit_ms": "ms",
        "state_commit_ms": "ms",
        "state_rows": "count",
        "state_bytes": "bytes",
    }
    for s in STREAMS:
        for f in STREAM_FIELDS + (STATE_FIELDS if s == "stateful" else ()):
            out[f"streaming.{s}.{f}"] = stream_unit[f]
    out["trace.coverage"] = "ratio"
    out["trace.uncovered_s"] = "s"
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request_id: str | None = None
    group: str | None = None  # the unit a layer figure is summed over
    top: bool = False
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class _BatchListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0 and not p.stateOperators:
            return  # AvailableNow's trailing no-data batch carries no work
        ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        self.sink.append(
            {
                "at": ts.replace(tzinfo=dt.timezone.utc).timestamp(),
                "query": p.name or str(p.id),
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {
                        "commit_ms": s.commitTimeMs,
                        "rows": s.numRowsTotal,
                        "bytes": s.memoryUsedBytes,
                    }
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class _PhaseListener:
    """A JVM ``QueryExecutionListener`` implemented over py4j: records
    each finished query execution's Catalyst phase times."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            ph = kv._2()
            self.sink.append((ph.startTimeMs() / 1000.0, ph.durationMs()))

    def onFailure(self, func_name, qe, exc) -> None:
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.batches: list[dict] = []
        self._phases: list[tuple[float, int]] = []
        spark.streams.addListener(_BatchListener(self.batches))
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            gw = spark.sparkContext._gateway
            ensure_callback_server_started(gw)
            self._phase_listener = _PhaseListener(self._phases)
            spark._jsparkSession.listenerManager().register(self._phase_listener)

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId()) if self.enabled else 0

    @contextmanager
    def span(self, name: str, request_id: str | None = None, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            time.time(),
            parent=parent,
            request_id=request_id,
            group=group if group is not None else request_id,
            top=parent is None,
            job_lo=self._next_job(),
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self._next_job()
            s.end = time.time()

    def drain_listeners(self) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    # --- reading Spark's record ---------------------------------------------

    def resolve(self) -> None:
        """Fill each span's Spark figures; call after the timed window."""
        if not self.enabled:
            return
        self.drain_listeners()
        jvm = self.spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self._sc.statusStore()
        gw = self.spark.sparkContext._gateway
        quant = gw.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        # two bulk reads, serialized JVM-side: one py4j call per figure
        # would cost seconds over a run's few hundred jobs
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
        )
        stage_list = store.stageList(
            None,
            False,
            False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        last: dict[int, dict] = {}
        for sd in json.loads(mapper.writeValueAsString(stage_list)):
            if sd["stageId"] not in last or sd["attemptId"] > last[sd["stageId"]]["attemptId"]:
                last[sd["stageId"]] = sd
        jobs: dict[int, dict] = {}
        for jd in json.loads(mapper.writeValueAsString(store.jobsList(None))):
            stages = [
                {
                    "id": (sid, sd["attemptId"]),
                    "run_ms": sd["executorRunTime"],
                    "cpu_ns": sd["executorCpuTime"],
                    "shuffle": sd["shuffleReadBytes"] + sd["shuffleWriteBytes"],
                    "spill": sd["memoryBytesSpilled"] + sd["diskBytesSpilled"],
                    "input": sd["inputBytes"],
                }
                for sid in jd["stageIds"]
                if (sd := last.get(sid)) is not None and sd["status"] != "SKIPPED"
            ]
            t0, t1 = jd.get("submissionTime"), jd.get("completionTime")
            jobs[jd["jobId"]] = {
                "t0": t0 / 1000.0 if t0 else None,
                "t1": t1 / 1000.0 if t1 else None,
                "stages": stages,
            }
        py_rows = self._python_rows(conv, {
            j for s in self.spans if s.name in PYTHON_SPANS for j in range(s.job_lo, s.job_hi)
        })
        for s in self.spans:
            if s.name == "check":
                continue
            mine = [jobs[j] for j in range(s.job_lo, s.job_hi) if j in jobs]
            stages = [st for j in mine for st in j["stages"]]
            slowest = max(stages, key=lambda st: st["run_ms"], default=None)
            skew = 1.0
            if slowest is not None:
                summ = store.taskSummary(*slowest["id"], quant)
                if summ.isDefined():
                    med, mx = list(conv.asJava(summ.get().executorRunTime()))
                    skew = mx / med if med > 0 else 1.0
            s.attrs.update(
                jobs=s.job_hi - s.job_lo,
                plan_ms=sum(d for t, d in self._phases if s.start <= t <= s.end),
                exec_cpu_s=sum(st["cpu_ns"] for st in stages) / 1e9,
                shuffle_bytes=sum(st["shuffle"] for st in stages),
                spill_bytes=sum(st["spill"] for st in stages),
                input_bytes=sum(st["input"] for st in stages),
                skew=skew,
                driver_s=s.wall_s - _covered(s, mine),
                python_rows=sum(n for j, n in py_rows.items() if s.job_lo <= j < s.job_hi),
            )

    def _python_rows(self, conv, job_ids_wanted: set[int]) -> dict[int, int]:
        """Rows leaving each Python-UDF plan node, keyed by the first job
        of the SQL execution that ran it; only executions that ran one of
        ``job_ids_wanted`` are read."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, int] = {}
        if not job_ids_wanted:
            return out
        for ex in conv.asJava(sql.executionsList()):
            job_ids = [int(j) for j in conv.asJava(ex.jobs()).keySet()]
            if not job_ids_wanted.intersection(job_ids):
                continue
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            rows = 0
            for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
                if not any(k in node.name() for k in PYTHON_NODES):
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        rows += int(str(v).replace(",", "")) if v else 0
            if rows:
                out[min(job_ids)] = out.get(min(job_ids), 0) + rows
        return out

    # --- reporting ------------------------------------------------------------

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        return s.wall_s - sum(c.wall_s for c in self.spans if c.parent == i)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec.update(rec.pop("attrs"))
                rec["id"] = i
                rec["wall_s"] = s.wall_s
                rec["self_s"] = self.self_time(i)
                f.write(json.dumps(rec) + "\n")
            for b in self.batches:
                f.write(json.dumps({"stream_batch": b}) + "\n")

    def layer_figures(self, name: str) -> dict[str, float]:
        """Per-span figures of layer ``name``: summed within each group
        (a curation pass, a service round, one serve request), median
        over the groups; 0 for a layer this workload never enters."""
        spans = [s for s in self.spans if s.name == name]
        if not spans:
            return {f: 0.0 for f in FIELDS}
        groups: dict[str | None, list[Span]] = {}
        for s in spans:
            groups.setdefault(s.group, []).append(s)
        out = {}
        for f in FIELDS:
            per = []
            for members in groups.values():
                if f == "wall_s":
                    per.append(sum(s.wall_s for s in members))
                elif f == "skew":
                    per.append(max(s.attrs.get("skew", 1.0) for s in members))
                else:
                    per.append(sum(s.attrs.get(f, 0.0) for s in members))
            out[f] = float(statistics.median(per))
        return out

    def stream_figures(self, stream: str) -> dict[str, float]:
        spans = [s for s in self.spans if s.name == f"streaming.{stream}"]
        batches = [b for b in self.batches if any(s.start <= b["at"] <= s.end for s in spans)]
        out = {f: 0.0 for f in STREAM_FIELDS + STATE_FIELDS}
        if not spans or not batches:
            return out
        n_runs = len(spans)

        def med(key: str) -> float:
            return float(statistics.median(b["duration_ms"].get(key, 0) for b in batches))

        out["batches"] = len(batches) / n_runs
        out["jobs_per_batch"] = sum(s.attrs.get("jobs", 0) for s in spans) / len(batches)
        out["add_batch_ms"] = med("addBatch")
        out["query_planning_ms"] = med("queryPlanning")
        out["wal_commit_ms"] = med("walCommit")
        stateful = [b for b in batches if b["state"]]
        if stateful:
            out["state_commit_ms"] = float(
                statistics.median(sum(o["commit_ms"] for o in b["state"]) for b in stateful)
            )
            last: dict[str, dict] = {}
            for b in stateful:
                last[b["query"]] = b
            out["state_rows"] = float(sum(o["rows"] for b in last.values() for o in b["state"]))
            out["state_bytes"] = float(sum(o["bytes"] for b in last.values() for o in b["state"]))
        return out

    def coverage(self, window_t0: float, window_s: float) -> tuple[float, float]:
        """(share of the timed window covered by top-level spans, the
        uncovered seconds). Untimed checks are top-level spans named
        ``check`` and are excluded from both sides."""
        timed = sum(
            s.wall_s for s in self.spans if s.top and s.name != "check" and s.start >= window_t0
        )
        return (timed / window_s if window_s > 0 else 0.0), max(window_s - timed, 0.0)


def _covered(span: Span, jobs: list[dict]) -> float:
    """Seconds of ``span`` during which at least one of its jobs ran."""
    iv = sorted(
        (max(j["t0"], span.start), min(j["t1"], span.end))
        for j in jobs
        if j["t0"] is not None and j["t1"] is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
