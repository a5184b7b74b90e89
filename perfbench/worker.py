"""One benchmark process: set up the engine, run one workload, check it.

Started by ``run.py`` in a fresh interpreter so that set-up and the cold
pass are what a one-shot user pays. Writes its figures as JSON to
``--out``. Modes:

- ``main``: set-up, a cold pass, warm passes for ``--seconds`` (at least
  ``MIN_WARM``), then the output check. With ``--trace 1`` there are
  ``TRACED_PAIRS`` warm passes, each followed by a traced one, so both
  see the same warm-up and their difference is the tracing overhead;
  ``pdf_convert`` then adds a pass that times each stage on its own.
- ``speedup``: set-up, a cold pass and one warm pass (run at one core).

Usage: python3 perfbench/worker.py --mode main --workload stream_state \\
    --inputs DIR --scratch DIR --seconds 15 --trace 0 --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
sys.path.insert(1, os.path.join(_ROOT, "tools"))
sys.path.insert(1, _ROOT)

import probes  # noqa: E402
from workloads import JOBS, STREAM_WORKLOADS, JobsWorkload, PdfWorkload  # noqa: E402

MIN_WARM = 4
MAX_WARM = 40
# Traced runs pair each of this many warm passes with a traced one.
TRACED_PAIRS = 2


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, in clock
    ticks since boot)."""
    st = probes.read_stat(str(os.getpid()))
    started = int(st[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def setup(scratch: str, tracer):
    """The user's set-up: engine session and job registry."""
    with tracer.span("session.get_spark"):
        from project_map_reduce_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(scratch, "warehouse")},
        )
    with tracer.span("registry.entries"):
        from project_map_reduce_spark.registry import entries

        reg = entries()
    return spark, reg


def timed_pass(workload, tree: probes.ProcTree) -> tuple[dict, dict]:
    """One pass, with wall time, process-tree CPU and host steal beside
    it. The diagnostics never drop or repeat a pass."""
    cpu0, steal0, t0 = tree.cpu_s(), probes.host_steal_s(), time.perf_counter()
    stats = workload.run_pass()
    wall = time.perf_counter() - t0
    sample = {
        "wall_s": wall,
        "cpu_s": tree.cpu_s() - cpu0,
        "steal_s": probes.host_steal_s() - steal0,
    }
    return sample, stats


def _enough(n: int, t0: float, seconds: float) -> bool:
    return n >= MAX_WARM or (n >= MIN_WARM and time.perf_counter() - t0 >= seconds)


def warm_passes(workload, tree, seconds: float) -> list[dict]:
    samples: list[dict] = []
    t0 = time.perf_counter()
    while not _enough(len(samples), t0, seconds):
        samples.append(timed_pass(workload, tree)[0])
    return samples


def paired_passes(workload, spark, tracer, tree, stream: bool):
    """Warm passes alternating untraced and traced. Traced passes carry
    spans, status-store deltas and, for streams, the query listener."""
    untraced = workload.tracer
    counters = probes.StageCounters(spark)
    listener = probes.stream_listener() if stream else None
    warm, traced, per_pass = [], [], []
    for _ in range(TRACED_PAIRS):
        warm.append(timed_pass(workload, tree)[0])
        workload.tracer, workload.counters, workload.listener = tracer, counters, listener
        if listener is not None:
            spark.streams.addListener(listener)
        counters.read()  # start the deltas at this pass
        sample, stats = timed_pass(workload, tree)
        if listener is not None:
            spark.streams.removeListener(listener)
        workload.tracer, workload.counters, workload.listener = untraced, None, None
        traced.append(sample)
        per_pass.append(stats)
    return warm, traced, per_pass


def median_stats(per_pass: list[dict]) -> dict[str, float]:
    keys = set().union(*per_pass)
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in sorted(keys)}


def make_workload(name, spark, reg, args):
    if name == "pdf_convert":
        out = os.path.join(args.scratch, "out")
        return PdfWorkload(spark, args.inputs, out, probes.NullTracer())
    tables = os.path.join(args.inputs, "tables")
    return JobsWorkload(spark, reg, JOBS[name], tables, probes.NullTracer())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("main", "speedup"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    traced = bool(args.trace) and args.mode == "main"
    tracer = probes.Tracer() if traced else probes.NullTracer()
    spark, reg = setup(args.scratch, tracer)
    result: dict = {"setup_s": process_age_s()}

    tree = probes.ProcTree(os.getpid())
    workload = make_workload(args.workload, spark, reg, args)
    with probes.RssSampler(tree) as rss:
        cold, _ = timed_pass(workload, tree)
        if args.mode == "speedup":
            warm = [timed_pass(workload, tree)[0]]
        elif traced:
            warm, traced_samples, per_pass = paired_passes(
                workload, spark, tracer, tree, stream=args.workload in STREAM_WORKLOADS
            )
        else:
            warm = warm_passes(workload, tree, args.seconds)
    result.update(cold_pass_s=cold["wall_s"], cold=cold, warm=warm, peak_rss_mb=rss.peak_mb)
    result["phases_s"] = {"setup": result["setup_s"], "passes": process_age_s()}
    if args.mode == "speedup":
        return _write(args.out, result)

    if traced:
        layers = median_stats(per_pass)
        layers["trace.pass_s"] = statistics.median(s["wall_s"] for s in traced_samples)
        for name in ("session.get_spark", "registry.entries"):
            layers[f"{name}_s"] = tracer.total(name)
        if args.workload == "pdf_convert":
            workload.tracer = tracer
            layers.update(workload.stage_pass(os.path.join(args.scratch, "stages")))
        result.update(
            layers=layers,
            traced=traced_samples,
            spans=tracer.spans,
            self_s=probes.self_times(tracer.spans),
        )

    if args.workload == "pdf_convert":
        with open(os.path.join(args.inputs, "expected.json"), encoding="utf-8") as f:
            attempted, failed, problems = workload.check(json.load(f))
    else:
        attempted, failed, problems = workload.check()
    result.update(attempted=attempted, failed=failed, problems=problems)
    result["phases_s"]["check"] = process_age_s()
    return _write(args.out, result)


def _write(path: str, result: dict) -> int:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
