"""The benchmark's workloads, driven through the program's public API.

A registered-job workload times each job as two calls: the plan call
``entries()[name].fn(spark, sf_dir)`` (which may run eager sub-jobs)
and the action on the returned DataFrame, a ``noop`` sink.

``pdf_convert`` is the reference job: task file -> per-URL fetch ->
per-operation PDF conversion -> per-record results -> job summary ->
report.
"""

from __future__ import annotations

import html
import os
import shutil
import struct
from functools import reduce

from probes import add_into, stage_metrics

JOBS = {
    "stream_state": (
        "q_stream_totals",
        "q_stream_dedup_watermark",
    ),
}
WORKLOADS = ("pdf_convert",) + tuple(JOBS)
STREAM_WORKLOADS = ("stream_state",)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class JobsWorkload:
    """A fixed list of registered jobs, run in order, one at a time."""

    def __init__(self, spark, registry_entries, names, sf_dir, tracer):
        self.spark = spark
        self.entries = registry_entries
        self.names = names
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.counters = None  # probes.StageCounters while traced
        self.listener = None  # stream listener while traced (streams only)
        self.outputs: dict[str, object] = {}
        self.errors: dict[str, str] = {}

    def run_pass(self) -> dict[str, float]:
        """One pass over the jobs. Returns per-layer figures when traced
        (empty otherwise); keeps each job's DataFrame for the check. A job
        that raises is recorded for the check and the pass goes on."""
        stats: dict[str, float] = {}
        for name in self.names:
            try:
                self._run_job(name, stats)
            except Exception as ex:  # noqa: BLE001 — reported by check(), not raised
                self.errors[name] = f"exception: {type(ex).__name__}: {ex}"
        return stats

    def _run_job(self, name: str, stats: dict[str, float]) -> None:
        tr = self.tracer
        with tr.span(f"plans.{name}") as job_span:
            with tr.span("plans.build") as build:
                df = self.entries[name].fn(self.spark, self.sf_dir)
            built = self.counters.read() if tr.enabled else None
            with tr.span("plans.exec"):
                noop(df)
        self.outputs[name] = df
        if not tr.enabled:
            return
        build_s = build["end"] - build["start"]
        add_into(stats, stage_metrics(built))
        add_into(stats, stage_metrics(self.counters.read()))
        add_into(
            stats,
            {
                f"plans.{name}_s": job_span["end"] - job_span["start"],
                "plans.build_s": build_s,
                "plans.exec_s": job_span["end"] - build["end"],
                "plans.jobs": built["jobs"],
            },
        )
        if self.listener is not None:
            self.listener.wait_terminated()
            stream = self.listener.take()
            stream["streaming.outside_trigger_s"] = build_s - stream.get(
                "streaming.trigger_s", 0.0
            )
            add_into(stats, stream)

    def check(self) -> tuple[int, int, list[str]]:
        """Hash-match every job's output against its DuckDB oracle over
        the same parquet files (tools/parity.py). Returns (attempted,
        failed, problems)."""
        import duckdb
        from parity import compare

        con = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t)}')"
                )
        failed, problems = 0, []
        for name in self.names:
            if name in self.errors:
                found = [self.errors[name]]
            else:
                try:
                    found = compare(name, self.outputs[name], con.sql(self.entries[name].oracle))
                except Exception as ex:  # noqa: BLE001 — a failing job is reported, not raised
                    found = [f"exception: {type(ex).__name__}: {ex}"]
            if found:
                failed += 1
                problems.extend(f"{name}: {p}" for p in found)
        con.close()
        return len(self.names), failed, problems


# --------------------------------------------------------------------------
# pdf_convert

SUPPORTED_OPS = ("ToText", "ToHTML", "ToImage")
_HTML_HEAD = '<!DOCTYPE html>\n<html><head><meta charset="utf-8"></head>\n<body>\n'
_HTML_TAIL = "\n</body></html>"


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class PdfWorkload:
    """The reference job over a generated corpus and task file."""

    def __init__(self, spark, inputs: str, out_dir: str, tracer):
        self.spark = spark
        self.task_path = os.path.join(inputs, "tasks.txt")
        self.out_dir = out_dir
        self.tracer = tracer
        self.counters = None  # probes.StageCounters while traced
        self.listener = None

    # -- pipeline stages (all lazy) --------------------------------------

    def fetched(self):
        from project_map_reduce_spark.sources import readers

        tasks = readers.read_task_lines(self.spark, self.task_path)
        return tasks, readers.fetch_url_bytes(tasks.select("url").distinct(), "url")

    @staticmethod
    def routed(tasks, fetched):
        """Tasks joined with their fetched payload, then dispatched on the
        operation: unsupported operations become in-band error rows."""
        from pyspark.sql import functions as F

        from project_map_reduce_spark.operators.dispatch import dispatch

        joined = tasks.join(
            fetched.select(
                "url",
                "content",
                F.col("status").alias("fetch_status"),
                F.col("error").alias("fetch_error"),
            ),
            "url",
            "left",
        )
        return dispatch(
            joined,
            op_col="operation",
            input_url=F.col("url"),
            handlers={op: F.col("url") for op in SUPPORTED_OPS},
        )

    @staticmethod
    def converted(routed, op: str):
        """One operation's conversion over its fetched, supported rows."""
        from pyspark.sql import functions as F

        from project_map_reduce_spark.operators import multimodal

        fn = {
            "ToText": multimodal.pdf_to_text,
            "ToHTML": multimodal.pdf_to_html,
            "ToImage": multimodal.pdf_to_image,
        }[op]
        src = routed.filter(
            (F.col("operation") == op)
            & (F.col("status") == "ok")
            & (F.col("fetch_status") == "ok")
        ).select(F.col("input_url").alias("path"), "content")
        out = fn(src)
        text = {"ToText": F.col("text"), "ToHTML": F.col("html")}.get(
            op, F.lit(None).cast("string")
        )
        png = F.col("png") if op == "ToImage" else F.lit(None).cast("binary")
        dims = (
            (F.col("width"), F.col("height"))
            if op == "ToImage"
            else (F.lit(None).cast("int"), F.lit(None).cast("int"))
        )
        return out.select(
            F.lit(op).alias("operation"),
            F.col("path").alias("input_url"),
            "status",
            "error",
            text.alias("output"),
            png.alias("png"),
            dims[0].alias("width"),
            dims[1].alias("height"),
        )

    @staticmethod
    def failed_rows(routed):
        """Rows that never reach a converter: unsupported operation or a
        failed fetch."""
        from pyspark.sql import functions as F

        fetch_failed = F.col("fetch_status").isNull() | (F.col("fetch_status") != "ok")
        return routed.filter((F.col("status") == "error") | fetch_failed).select(
            "operation",
            "input_url",
            F.lit("error").alias("status"),
            F.coalesce(F.col("error"), F.col("fetch_error"), F.lit("missing fetch"))
            .alias("error"),
            F.lit(None).cast("string").alias("output"),
            F.lit(None).cast("binary").alias("png"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        )

    def results(self, routed):
        parts = [self.converted(routed, op) for op in SUPPORTED_OPS]
        return reduce(lambda a, b: a.unionByName(b), parts + [self.failed_rows(routed)])

    # -- passes ----------------------------------------------------------

    def _paths(self):
        return (
            os.path.join(self.out_dir, "results.parquet"),
            os.path.join(self.out_dir, "report"),
        )

    def run_pass(self) -> dict[str, float]:
        """The job as a user runs it: per-record results written once,
        then the job summary read back from them and reported."""
        from project_map_reduce_spark.operators.dispatch import job_summary
        from project_map_reduce_spark.sources import readers

        tr = self.tracer
        results_path, report_path = self._paths()
        with tr.span("plans.pdf_convert") as job_span:
            with tr.span("plans.build") as build:
                tasks, fetched = self.fetched()
                results = self.results(self.routed(tasks, fetched))
            with tr.span("plans.exec"):
                results.write.mode("overwrite").parquet(results_path)
                summary = job_summary(self.spark.read.parquet(results_path))
                readers.write_report(summary, report_path, title="pdf_convert")
        if not tr.enabled:
            return {}
        stats = {
            "plans.build_s": build["end"] - build["start"],
            "plans.exec_s": job_span["end"] - build["end"],
            "sources.output_mb": _du_mb(results_path)
            + _du_mb(report_path + ".parquet")
            + os.path.getsize(report_path + ".html") / 1e6,
        }
        add_into(stats, stage_metrics(self.counters.read()))
        return stats

    def stage_pass(self, scratch: str) -> dict[str, float]:
        """Each stage timed on its own: its input materialized first
        (untimed), its output sunk to ``noop``. Traced run only."""
        from pyspark.sql import functions as F

        from project_map_reduce_spark.operators.dispatch import job_summary
        from project_map_reduce_spark.sources import readers

        tr, spark = self.tracer, self.spark
        stats: dict[str, float] = {}
        fetched_path = os.path.join(scratch, "fetched.parquet")
        routed_path = os.path.join(scratch, "routed.parquet")
        tasks, fetched = self.fetched()
        with tr.span("sources.fetch_url_bytes") as s:
            noop(fetched)
        stats["sources.fetch_url_bytes_s"] = s["end"] - s["start"]
        fetched.write.mode("overwrite").parquet(fetched_path)
        fetched = spark.read.parquet(fetched_path)
        stats["sources.fetch_mb"] = (
            fetched.agg(F.coalesce(F.sum("byte_len"), F.lit(0))).first()[0] / 1e6
        )
        self.routed(tasks, fetched).write.mode("overwrite").parquet(routed_path)
        routed = spark.read.parquet(routed_path)
        for op in SUPPORTED_OPS:
            key = {"ToText": "text", "ToHTML": "html", "ToImage": "image"}[op]
            with tr.span(f"operators.pdf_to_{key}") as s:
                noop(self.converted(routed, op))
            stats[f"operators.pdf_to_{key}_s"] = s["end"] - s["start"]
        results_path, report_path = self._paths()
        self.results(routed).write.mode("overwrite").parquet(results_path)
        results = spark.read.parquet(results_path)
        with tr.span("operators.job_summary") as s:
            summary = job_summary(results)
            noop(summary)
        stats["operators.job_summary_s"] = s["end"] - s["start"]
        with tr.span("sources.write_report") as s:
            readers.write_report(summary, report_path, title="pdf_convert")
        stats["sources.write_report_s"] = s["end"] - s["start"]
        by_status = dict(results.groupBy("status").count().collect())
        records = sum(by_status.values())
        stats["operators.records"] = records
        stats["operators.error_row_share"] = by_status.get("error", 0) / max(records, 1)
        shutil.rmtree(scratch, ignore_errors=True)
        return stats

    def check(self, expected: dict) -> tuple[int, int, list[str]]:
        """Compare the written per-record results and report with what
        the generator expects. Each record is one op; it fails when its
        status or its output is wrong. Counts per (operation, status) and
        the digest of every ok row's text are checked on top."""
        import pyarrow.parquet as pq

        from gen import ok_row_digest

        results_path, report_path = self._paths()
        rows = pq.read_table(results_path).to_pylist()
        pdf_text = expected["pdf_text"]
        counts: dict[str, int] = {}
        ok_rows = []
        failed = abs(len(rows) - expected["records"])
        for r in rows:
            op, url = r["operation"], r["input_url"]
            key = f"{op}|{r['status']}"
            counts[key] = counts.get(key, 0) + 1
            want_ok = op in SUPPORTED_OPS and url in pdf_text
            if r["status"] != "ok":
                failed += want_ok
                continue
            text = _ok_output(r)
            failed += not want_ok or text != ("png" if op == "ToImage" else pdf_text[url])
            ok_rows.append((op, url, text))
        problems = [f"{failed} records with a wrong status or output"] if failed else []
        want = expected["counts"]
        if counts != want:
            problems.append(f"(operation, status) counts differ: got {counts}, want {want}")
        if ok_row_digest(ok_rows) != expected["ok_digest"]:
            problems.append("digest of ok rows' text differs from the generator's")
        summary = {
            f"{r['operation']}|{r['status']}": r["n_records"]
            for r in pq.read_table(report_path + ".parquet").to_pylist()
        }
        if summary != want:
            problems.append(f"report summary differs: got {summary}, want {want}")
        if not os.path.getsize(report_path + ".html"):
            problems.append("empty HTML report")
        return expected["records"], max(failed, bool(problems)), problems


def _ok_output(r: dict) -> str | None:
    """The text an ok row carries: ToText's text, ToHTML's body unescaped,
    or ``png`` for an image whose PNG header matches its width/height."""
    if r["operation"] == "ToImage":
        return "png" if _png_dims(r["png"]) == (r["width"], r["height"]) else None
    if r["operation"] == "ToHTML":
        out = r["output"] or ""
        if not (out.startswith(_HTML_HEAD) and out.endswith(_HTML_TAIL)):
            return None
        return html.unescape(out[len(_HTML_HEAD) : -len(_HTML_TAIL)])
    return r["output"]


def _png_dims(png: bytes | None) -> tuple[int, int] | None:
    if not png or png[:8] != b"\x89PNG\r\n\x1a\n" or png[12:16] != b"IHDR":
        return None
    return struct.unpack(">II", png[16:24])

