"""Benchmark entry point.

One run::

    python3 perfbench/run.py --workload taskhive_service --seed 1 --seconds 1 --trace 0

builds its inputs from ``--seed``, starts the engine's Spark session at
local[<cpus>], sets the workload up, measures it, checks every answer,
and prints one JSON line last on stdout::

    {"correct": true, "attempted": 21, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``perfbench/.work/traces/<workload>-seed<n>.jsonl``. ``--seconds`` is
the least time a workload spends on its repeated requests (service
rounds, serve requests); every run also makes each workload's fixed set
of operations once.

The report runs every workload untraced and traced, then prints each
end-to-end metric with its unit and sample count, the workload's own
names for the figures, the tracing overhead (traced minus untraced),
the traced span coverage and ``bench.py``'s ``calibration_s`` box-speed
probe, by which figures from different machines can be normalized::

    python3 perfbench/run.py --report [--seed 1] [--seconds 1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_ENTRY = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def _process_age_s() -> float:
    """Seconds since this process was started (before Python ran)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


AGE_AT_ENTRY = _process_age_s()


class Context:
    def __init__(self, spark, tracer, sf_dir, seed, work, answers=None):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.seed = seed
        self.work = work
        self.answers = answers  # a Future of the workload's answers(sf_dir)


def run(workload: str, seed: int, seconds: float, traced: bool, details: str | None) -> int:
    try:
        import task_hive_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    import env
    import gen
    import spans
    import workloads

    if workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {workload!r}", file=sys.stderr)
        return 2
    work = env.prepare_work_dir()
    sf_dir = gen.write_fixtures(seed, os.path.join(work, "data"))
    # the oracle answers need only the inputs: computed while the JVM starts
    pool = ThreadPoolExecutor(1)
    answers = pool.submit(workloads.WORKLOADS[workload].answers, sf_dir)
    pool.shutdown(wait=False)
    spark = env.start_spark(work)
    wl = None
    try:
        tracer = spans.Tracer(spark, traced)
        ctx = Context(spark, tracer, sf_dir, seed, work, answers)
        wl = workloads.WORKLOADS[workload](ctx)
        wl.setup()
        setup_s = AGE_AT_ENTRY + time.perf_counter() - T_ENTRY
        wl.run_window(seconds)
        wl.final_check()
        e2e = {"setup_s": setup_s, **wl.e2e(), "retained_mb": env.retained_mb(spark)}
        if traced:
            tracer.resolve()
            values = layer_values(wl, tracer)
            units = spans.per_layer_units()
            os.makedirs(os.path.join(env.WORK, "traces"), exist_ok=True)
            tracer.write_jsonl(os.path.join(env.WORK, "traces", f"{workload}-seed{seed}.jsonl"))
        else:
            values, units = e2e, workloads.E2E
        if details:
            cov, uncovered = tracer.coverage(wl.window_t0, wl.window_s)
            info = {
                "e2e": e2e,
                "samples": {"setup_s": 1, "retained_mb": 1, **wl.sample_counts()},
                "aliases": wl.aliases(),
                "coverage": cov,
                "uncovered_s": uncovered,
            }
            if not traced:
                info["calibration_s"] = env.calibration_s(spark)
            with open(details, "w") as f:
                json.dump(info, f)
        for kind, items in wl.notes.items():
            for item in items:
                print(f"perfbench: {kind}: {item}", file=sys.stderr)
        result = {
            "correct": wl.failed == 0 and wl.attempted > 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        env.stop_spark(spark)
        env.remove_work_dir(work)
    print(json.dumps(result))
    return 0


def layer_values(wl, tracer) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer the workload never enters."""
    import spans

    values = dict.fromkeys(spans.per_layer_units(), 0.0)
    for layer in spans.SPAN_LAYERS:
        for f, v in tracer.layer_figures(layer).items():
            values[f"{layer}.{f}"] = v
    for s in spans.STREAMS:
        for f, v in tracer.stream_figures(s).items():
            if f"streaming.{s}.{f}" in values:
                values[f"streaming.{s}.{f}"] = v
    values.update(wl.extra_layers())
    values["trace.coverage"], values["trace.uncovered_s"] = tracer.coverage(
        wl.window_t0, wl.window_s
    )
    return values


def report_lines(name: str, untraced: tuple[dict, dict], traced: tuple[dict, dict]) -> list[str]:
    """The report for one workload from its untraced and traced
    (result, details) pairs."""
    (res, info), (tres, tinfo) = untraced, traced
    cov = tinfo["coverage"]
    lines = [
        f"== {name}  correct={res['correct'] and tres['correct']} "
        f"attempted={res['attempted']} failed={res['failed']} "
        f"calibration_s={info['calibration_s']:.4f}",
        f"   {'metric':<16}{'value':>12}  {'unit':<5}{'samples':>8}{'traced-untraced':>17}",
    ]
    for k, m in res["metrics"].items():
        over = tinfo["e2e"][k] - m["value"]
        lines.append(
            f"   {k:<16}{m['value']:>12.4f}  {m['unit']:<5}{info['samples'][k]:>8}{over:>+17.4f}"
        )
    lines.append(
        "   workload names: " + ", ".join(f"{k}={v:.4f}" for k, v in info["aliases"].items())
    )
    lines.append(
        f"   traced top-level spans cover {cov:.3f} of the timed window "
        f"({tinfo['uncovered_s']:.3f} s outside them)" + ("" if cov >= 0.9 else "  BELOW 0.9")
    )
    return lines


def report(seed: int, seconds: float) -> int:
    import env
    import workloads

    rc = 0
    os.makedirs(env.WORK, exist_ok=True)
    for name in workloads.WORKLOADS:
        got = []
        for traced in (0, 1):
            det = os.path.join(env.WORK, f"report-{name}-{traced}.json")
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced),
                "--details", det,
            ]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                print(f"== {name}: run failed (exit {p.returncode})")
                break
            with open(det) as f:
                got.append((json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)))
            os.remove(det)
        if len(got) < 2:
            rc = 1
            continue
        print("\n".join(report_lines(name, *got)), flush=True)
        if not (got[0][0]["correct"] and got[1][0]["correct"]) or got[1][1]["coverage"] < 0.9:
            rc = 1
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--details", help="also write sample counts and the workload's names (JSON)")
    p.add_argument("--report", action="store_true")
    a = p.parse_args(argv)
    if a.report:
        return report(a.seed, a.seconds)
    if not a.workload:
        p.error("--workload is required")
    return run(a.workload, a.seed, a.seconds, bool(a.trace), a.details)


if __name__ == "__main__":
    raise SystemExit(main())
