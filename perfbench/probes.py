"""Measurement from outside the program: spans, Spark counters, /proc.

- ``Tracer`` keeps spans (name, start, end, parent) in memory; the
  untraced run uses ``NullTracer`` so its passes carry no tracing code.
- ``StageCounters`` reads per-stage task metrics from Spark's status
  store (``AppStatusStore.stageList``) as deltas since the last read.
- ``StreamCounters`` is a ``StreamingQueryListener`` summing micro-batch
  durations and state-store metrics.
- ``ProcTree`` reads CPU time and resident memory of a process and all
  its descendants from /proc; ``host_steal_s`` reads host steal time.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# spans


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """In-memory span recorder. Spans nest by call structure: the span
    open when another starts is its parent."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the time its
    direct children cover (children never overlap: one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, c in zip(spans, child):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
    return out


# --------------------------------------------------------------------------
# Spark status store

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


_DONE = ("COMPLETE", "FAILED", "SKIPPED")


class StageCounters:
    """Deltas of task metrics over the stages and jobs that finished since
    the previous ``read``. The status store is filled asynchronously by
    the listener bus, so a read first waits until the bus is empty; a
    stage still running then is left for a later read. ``stageList``
    lists the newest stage first, so a read touches only recent stages."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)
        self._bus.waitUntilEmpty()
        stages = self._stages()
        # Every stage at or below the floor has been counted (or predates
        # this object); ``_counted`` holds the finished ones above it.
        self._floor = stages.apply(0).stageId() if stages.size() else -1
        self._counted: set[tuple[int, int]] = set()
        self._last_job = self._newest_job()

    def _stages(self):
        # Spark 4.1 py4j needs the full signature; the 1-arg form raises.
        return self._store.stageList(None, False, False, self._empty, None)

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        seq = self._stages()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["stages"] = 0
        still_open = False
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = st.stageId()
            if sid <= self._floor:
                break
            status, key = str(st.status()), (sid, st.attemptId())
            if status not in _DONE:
                still_open = True
                continue
            if key in self._counted:
                continue
            self._counted.add(key)
            if status == "COMPLETE":
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(st, f)()
        if not still_open and seq.size():
            self._floor, self._counted = max(self._floor, seq.apply(0).stageId()), set()
        job = self._newest_job()
        out["jobs"] = job - self._last_job
        self._last_job = job
        return out


def stage_metrics(d: dict[str, float]) -> dict[str, float]:
    """Status-store deltas in the benchmark's units."""
    run_s = d["executorRunTime"] / 1e3
    cpu_s = d["executorCpuTime"] / 1e9
    return {
        "plans.stages": d["stages"],
        "plans.tasks": d["numTasks"],
        "plans.task_run_s": run_s,
        "plans.task_cpu_s": cpu_s,
        "plans.task_offcpu_s": run_s - cpu_s,
        "plans.gc_s": d["jvmGcTime"] / 1e3,
        "plans.shuffle_read_mb": d["shuffleReadBytes"] / 1e6,
        "plans.shuffle_write_mb": d["shuffleWriteBytes"] / 1e6,
        "plans.spill_mb": (d["memoryBytesSpilled"] + d["diskBytesSpilled"]) / 1e6,
        "plans.output_mb": d["outputBytes"] / 1e6,
        "tables.input_mb": d["inputBytes"] / 1e6,
        "tables.input_rows": d["inputRecords"],
    }


def add_into(acc: dict, d: dict) -> dict:
    for k, v in d.items():
        acc[k] = acc.get(k, 0) + v
    return acc


# --------------------------------------------------------------------------
# streaming


def stream_listener():
    """A listener summing micro-batch progress; register it with
    ``spark.streams.addListener``. Built lazily: the class needs
    pyspark's streaming module."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounters(StreamingQueryListener):
        def __init__(self) -> None:
            self._lock = threading.Lock()
            self.terminated = 0
            self.totals: dict[str, float] = {}
            self._last_state: dict[str, tuple[float, float]] = {}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            with self._lock:
                add_into(
                    self.totals,
                    {
                        "streaming.batches": 1,
                        "streaming.trigger_s": d.get("triggerExecution", 0) / 1e3,
                        "streaming.add_batch_s": d.get("addBatch", 0) / 1e3,
                        "streaming.commit_s": (
                            d.get("walCommit", 0) + d.get("commitOffsets", 0)
                        )
                        / 1e3,
                        "streaming.query_planning_s": d.get("queryPlanning", 0) / 1e3,
                        "streaming.state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
                    },
                )
                if ops:
                    self._last_state[str(p.id)] = (
                        sum(o.numRowsTotal for o in ops),
                        sum(o.memoryUsedBytes for o in ops) / 1e6,
                    )

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def take(self) -> dict[str, float]:
            """Totals since the previous take; state size is each query's
            last reported size, summed over queries."""
            with self._lock:
                out = self.totals
                out["streaming.state_rows"] = sum(r for r, _ in self._last_state.values())
                out["streaming.state_mb"] = sum(m for _, m in self._last_state.values())
                self.totals, self._last_state, self.terminated = {}, {}, 0
                return out

        def wait_terminated(self, timeout: float = 5.0) -> None:
            """Events arrive on the listener bus after the query returns;
            wait until a termination has been seen since the last take."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self.terminated:
                        return
                time.sleep(0.02)

    return StreamCounters()


# --------------------------------------------------------------------------
# /proc


def read_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces: fields after the last ')' are fixed.
    return raw[raw.rfind(")") + 2 :].split()


class ProcTree:
    """CPU seconds and resident memory of ``root`` plus every descendant."""

    def __init__(self, root: int) -> None:
        self.root = str(root)

    def _members(self) -> dict[str, list[str]]:
        stats: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = read_stat(pid)
                if st is not None:
                    stats[pid] = st
        children: dict[str, list[str]] = {}
        for pid, st in stats.items():
            children.setdefault(st[1], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def start_times(self) -> dict[int, str]:
        """pid -> kernel start time, which tells a pid from its reuse."""
        return {int(p): st[19] for p, st in self._members().items()}

    def cpu_s(self) -> float:
        """utime+stime of live members plus what they reaped (cutime,
        cstime), so workers that exited still count."""
        # fields after comm: state=0, ppid=1, ..., utime=11 .. cstime=14
        members = self._members().values()
        return sum(sum(int(x) for x in st[11:15]) for st in members) / _TICK

    def rss_mb(self) -> float:
        """Resident memory of the tree with shared pages counted once:
        the sum of each member's proportional set size. (Summing RSS
        would count a forked child's pages, e.g. the short-lived helpers
        the JVM spawns, twice.)"""
        kb = 0
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                pass  # exited since the scan
        return kb / 1e3


def host_steal_s() -> float:
    """Host steal time (all CPUs) from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class RssSampler:
    """Background sampler of a ``ProcTree``'s RSS; keeps the peak."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self._tree = tree
        self._interval = interval
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree.rss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
