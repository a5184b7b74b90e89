"""Benchmark entry point: one workload, one seed, one line of results.

    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, runs the workload in a
fresh worker process (one closed-loop client: one job at a time, the next
only when the previous has finished, at ``local[nproc]``), checks every
output, and prints a table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (from a separate, traced run; see worker.py). The traced run also
writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import probes  # noqa: E402
from workloads import JOBS, WORKLOADS  # noqa: E402

# Scale factor of each workload's input (TESTDATA.md): stream_state reads
# the events table, pdf_convert takes its page texts from documents.text.
INPUT_SF = {"pdf_convert": 0.1, "stream_state": 0.01}
PDF_TASKS = 5000
PDF_FILES = 1200
# Every worker of one run must end within this many seconds of its start.
RUN_BUDGET_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
_STAGE_LAYERS = {
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.exec_s": "s",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_read_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.output_mb": "MB",
    "tables.input_mb": "MB",
    "tables.input_rows": "count",
    "plans.task_run_s": "s",
    "plans.task_cpu_s": "s",
    "plans.task_offcpu_s": "s",
    "plans.gc_s": "s",
}
_PDF_LAYERS = {
    "sources.fetch_url_bytes_s": "s",
    "sources.fetch_mb": "MB",
    "operators.pdf_to_text_s": "s",
    "operators.pdf_to_html_s": "s",
    "operators.pdf_to_image_s": "s",
    "operators.job_summary_s": "s",
    "sources.write_report_s": "s",
    "sources.output_mb": "MB",
    "operators.error_row_share": "ratio",
    "operators.records": "count",
}
_STREAM_LAYERS = {
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s",
    "streaming.outside_trigger_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.entries_s": "s",
    **_STAGE_LAYERS,
    **_PDF_LAYERS,
    **_STREAM_LAYERS,
    **{f"plans.{job}_s": "s" for jobs in JOBS.values() for job in jobs},
    "plans.parallel_speedup": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def program_present(root: str) -> bool:
    return os.path.isfile(
        os.path.join(root, "project_map_reduce_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(root, "tools", "parity.py"))


def make_inputs(workload: str, seed: int, inputs: str) -> None:
    import gen

    sf = INPUT_SF[workload]
    if workload == "pdf_convert":
        gen.make_pdf_corpus(inputs, seed, gen.document_texts(seed, sf), PDF_TASKS, PDF_FILES)
    else:
        gen.make_events(os.path.join(inputs, "tables"), seed, sf)


def worker_env(root: str, scratch: str, cores: int) -> dict[str, str]:
    """Environment of a worker: the program importable by Spark's Python
    workers from any directory, every scratch file under ``scratch``."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        ),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=scratch,
        # Every JVM, the launcher's too: no /tmp/hsperfdata, temp files here.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}",
        PYTHONUNBUFFERED="1",
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def run_worker(mode: str, args, root: str, tmp: str, cores: int, tag: str,
               deadline: float) -> dict:
    """Run worker.py to completion (killed at ``deadline``, a monotonic
    time); stop everything it started."""
    scratch = os.path.join(tmp, f"scratch-{tag}")
    os.makedirs(os.path.join(scratch, "spark-local"), exist_ok=True)
    out = os.path.join(tmp, f"{tag}.json")
    log = os.path.join(tmp, f"{tag}.log")
    cmd = [
        sys.executable,
        os.path.join(_HERE, "worker.py"),
        "--mode", mode,
        "--workload", args.workload,
        "--inputs", os.path.join(tmp, "inputs"),
        "--scratch", scratch,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
    ]  # fmt: skip
    seen: dict[int, str] = {}
    with open(log, "wb") as logf:
        proc = subprocess.Popen(
            cmd,
            cwd=root,
            env=worker_env(root, scratch, cores),
            stdout=logf,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            _wait_collecting(proc, deadline, seen)
        finally:
            _stop_all(proc, seen)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        raise RuntimeError(f"worker {tag} failed (exit {proc.returncode}):\n{tail}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


def _wait_collecting(proc: subprocess.Popen, deadline: float, seen: dict[int, str]) -> None:
    """Wait for ``proc`` until ``deadline``; meanwhile note its descendants
    (the JVM and Python workers) in ``seen``, as pid -> start time, so
    none outlives the run."""
    tree = probes.ProcTree(proc.pid)
    while time.monotonic() < deadline:
        seen.update(tree.start_times())
        try:
            proc.wait(timeout=0.5)
            return
        except subprocess.TimeoutExpired:
            pass


def _stop_all(proc: subprocess.Popen, seen: dict[int, str]) -> None:
    """Kill the worker if it overran, then every process it started that
    is still alive, and wait until all have ended."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _alive(seen):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while _alive(seen) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not _alive(seen):
            return


def _alive(seen: dict[int, str]) -> list[int]:
    """The noted processes still running: same start time (so not a
    reused pid) and not a zombie."""
    out = []
    for pid, started in seen.items():
        st = probes.read_stat(str(pid))
        if st is not None and st[19] == started and st[0] != "Z":
            out.append(pid)
    return out


def end_to_end(main: dict) -> dict[str, float]:
    warm = main["warm"]
    return {
        "setup_s": main["setup_s"],
        "cold_pass_s": main["cold_pass_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "peak_rss_mb": main["peak_rss_mb"],
    }


def per_layer(main: dict, speedup: dict) -> dict[str, float]:
    """Per-layer medians over the traced passes, with the tracing
    overhead (traced minus untraced pass, same process) and the
    one-core over nproc-core pass ratio."""
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, v in main["layers"].items() if k in PER_LAYER})
    untraced = statistics.median(p["wall_s"] for p in main["warm"])
    layers["trace.overhead_s"] = layers["trace.pass_s"] - untraced
    layers["plans.parallel_speedup"] = speedup["warm"][0]["wall_s"] / untraced
    return layers


def print_table(args, main: dict, metrics: dict, units: dict) -> None:
    print(f"# perfbench workload={args.workload} seed={args.seed} cores={nproc()} "
          f"trace={args.trace}")
    for name, value in metrics.items():
        print(f"{name:34s} {value:14.4f} {units[name]}")
    print(f"{'ops_total':34s} {main['attempted']:14d} count")
    print(f"{'ops_failed':34s} {main['failed']:14d} count")
    for label, passes in (("warm", main["warm"]), ("traced", main.get("traced", []))):
        if passes:
            print(f"# {label} passes: {len(passes)}")
            for key in ("wall_s", "cpu_s", "steal_s"):
                print(f"#   {key:8s} " + " ".join(f"{p[key]:.3f}" for p in passes))
    print("# worker phases, s since start: "
          + ", ".join(f"{k} {v:.1f}" for k, v in main["phases_s"].items()))
    if args.trace and args.workload in JOBS:
        jobs = sum(metrics[f"plans.{job}_s"] for job in JOBS[args.workload])
        print(f"# plan call + action, summed over jobs: {jobs:.3f} s "
              f"(traced pass {metrics['trace.pass_s']:.3f} s, "
              f"overhead {metrics['trace.overhead_s']:.3f} s)")
    if args.trace:
        print("# self time per span name, whole traced run:")
        for name, sec in sorted(main["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"#   {name:38s} {sec:9.3f} s")
    for p in main["problems"][:20]:
        print(f"# CHECK FAILED: {p}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Terminated from outside: unwind, so the workers are stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.getcwd()
    if not program_present(root):
        print(
            "perfbench: run from the root of a checkout of the program "
            "(project_map_reduce_spark/ and tools/parity.py not found)",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    deadline = time.monotonic() + RUN_BUDGET_S
    try:
        make_inputs(args.workload, args.seed, os.path.join(tmp, "inputs"))
        main_res = run_worker("main", args, root, tmp, nproc(), "main", deadline)
        if args.trace:
            speedup = run_worker("speedup", args, root, tmp, 1, "speedup", deadline)
            metrics, units = per_layer(main_res, speedup), PER_LAYER
            trace_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_path, "w", encoding="utf-8") as f:
                json.dump(
                    {k: main_res[k] for k in ("spans", "self_s", "warm", "traced")}
                    | {"metrics": metrics},
                    f,
                    indent=1,
                )
        else:
            metrics, units = end_to_end(main_res), END_TO_END
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print_table(args, main_res, metrics, units)
    print(json.dumps({
        "correct": main_res["failed"] == 0,
        "attempted": main_res["attempted"],
        "failed": main_res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))  # fmt: skip
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
