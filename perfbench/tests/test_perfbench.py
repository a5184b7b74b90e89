"""Tests of the benchmark itself: input determinism, metric names, and a
tiny (sf0.001) smoke of every workload through the same classes the
benchmark runs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.join(ROOT, "tools"))
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_events_same_seed_same_bytes(tmp_path):
    n = [gen.make_events(str(tmp_path / d), s, 0.001) for d, s in (("a", 5), ("b", 5), ("c", 6))]
    assert n == [gen.table_rows(0.001)["events"]] * 3
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_document_texts_same_seed_same_texts():
    a, b, c = gen.document_texts(5, 0.001), gen.document_texts(5, 0.001), gen.document_texts(6, 0.001)
    assert a == b != c
    assert len(a) == gen.table_rows(0.001)["documents"]


def test_pdf_corpus_same_seed_same_bytes(tmp_path):
    texts = ["alpha beta", "gamma (delta) epsilon", "zeta"] * 5
    roots = [str(tmp_path / d) for d in ("a", "b", "c")]
    exp = [gen.make_pdf_corpus(r, s, texts, 200, 30) for r, s in zip(roots, (3, 3, 4))]
    # URLs carry the root; everything else is the same for the same seed.
    assert exp[0]["counts"] == exp[1]["counts"] and exp[0]["records"] == exp[1]["records"]
    assert [k.replace(roots[1], roots[0]) for k in exp[1]["pdf_text"]] == list(exp[0]["pdf_text"])
    assert list(exp[1]["pdf_text"].values()) == list(exp[0]["pdf_text"].values())
    a, b = _tree_bytes(roots[0]), _tree_bytes(roots[1])
    tasks_b = b.pop("tasks.txt").replace(roots[1].encode(), roots[0].encode())
    assert tasks_b == a.pop("tasks.txt")
    a.pop("expected.json"), b.pop("expected.json")
    assert a == b
    assert exp[2]["counts"] != exp[0]["counts"]
    assert sum(exp[0]["counts"].values()) == exp[0]["records"] == 200


@pytest.mark.parametrize("compress", [False, True])
def test_pdf_text_round_trips_through_the_extractor(compress):
    from project_map_reduce_spark.operators.pdftext import extract_pdf_text

    pages = ["a b c (d) e\\f " * 7 + "end", "second page"]
    assert extract_pdf_text(gen.pdf_bytes(pages, compress)) == " ".join(pages)


@pytest.mark.xfail(
    strict=True,
    reason="operators/pdftext.py ends a stream at the first [CR]LF + endstream "
    "instead of using /Length, so a Flate stream whose last byte is CR, written "
    "with an LF-only EOL, loses that byte and its text; the corpus writes CRLF",
)
def test_lf_terminated_flate_stream_ending_in_cr_extracts():
    from project_map_reduce_spark.operators.pdftext import extract_pdf_text

    texts = gen.document_texts(0, 0.06)
    text, pdf = next(
        (t, p) for t in texts if b"\r\r\nendstream" in (p := gen.pdf_bytes([t], True))
    )
    lf = pdf.replace(b"\r\nendstream", b"\nendstream")
    assert extract_pdf_text(lf) == text


def test_metric_names_and_units():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["paths"] == ["perfbench"]


def test_fails_fast_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pdf_convert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )  # fmt: skip
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_a_raising_job_is_reported_not_raised(tmp_path):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    entry = collections.namedtuple("Entry", "fn oracle")(boom, "SELECT 1")
    wl = workloads.JobsWorkload(None, {"q_boom": entry}, ("q_boom",), str(tmp_path),
                                probes.NullTracer())
    assert wl.run_pass() == {}
    attempted, failed, problems = wl.check()
    assert (attempted, failed) == (1, 1)
    assert "boom" in problems[0]


def test_proc_tree_sees_this_process():
    tree = probes.ProcTree(os.getpid())
    assert os.getpid() in tree.start_times()
    assert tree.cpu_s() > 0 and tree.rss_mb() > 0
    assert probes.host_steal_s() >= 0


def test_self_times_subtract_children():
    tr = probes.Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    st = probes.self_times(tr.spans)
    inner_s = inner["end"] - inner["start"]
    assert st["outer"] == pytest.approx(outer["end"] - outer["start"] - inner_s)
    assert st["inner"] == pytest.approx(inner_s)


# --------------------------------------------------------------------------
# sf0.001 smoke of each workload, untraced then traced, with output checks


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from project_map_reduce_spark.session import get_spark

    scratch = tmp_path_factory.mktemp("spark")
    s = get_spark(
        "perfbench-test", cores=2,
        extra_conf={"spark.sql.warehouse.dir": str(scratch / "warehouse")},
    )  # fmt: skip
    yield s
    s.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inputs"))
    gen.make_events(os.path.join(root, "tables"), 11, 0.001)
    gen.make_pdf_corpus(root, 11, gen.document_texts(11, 0.001), 120, 20)
    return root


def _smoke(wl, spark, listener=None) -> dict:
    assert wl.run_pass() == {}
    wl.tracer = probes.Tracer()
    wl.counters = probes.StageCounters(spark)
    wl.listener = listener
    if listener is not None:
        spark.streams.addListener(listener)
    try:
        return wl.run_pass()
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)


def test_stage_counters_count_every_task_of_a_fixed_job(spark):
    counters = probes.StageCounters(spark)
    for _ in range(5):
        spark.range(0, 1000, 1, 7).write.format("noop").mode("overwrite").save()
        d = counters.read()
        assert (d["jobs"], d["stages"], d["numTasks"]) == (1, 1, 7)
    assert counters.read()["numTasks"] == 0


def test_stage_counters_count_a_stage_still_running_at_a_read(spark):
    from pyspark.sql import functions as F

    slow = F.udf(lambda x: (time.sleep(1.0), x)[1], "long")
    job = threading.Thread(
        target=lambda: spark.range(0, 4, 1, 4).select(slow("id"))
        .write.format("noop").mode("overwrite").save()
    )  # fmt: skip
    counters = probes.StageCounters(spark)
    job.start()
    tracker = spark.sparkContext.statusTracker()
    while job.is_alive() and not tracker.getActiveStageIds():
        time.sleep(0.01)
    during = counters.read()
    job.join()
    after = counters.read()
    assert during["numTasks"] + after["numTasks"] == 4
    assert during["stages"] + after["stages"] == 1


def test_smoke_pdf_convert(spark, inputs, tmp_path):
    wl = workloads.PdfWorkload(spark, inputs, str(tmp_path / "out"), probes.NullTracer())
    stats = _smoke(wl, spark)
    assert stats["plans.tasks"] > 0 and stats["sources.output_mb"] > 0
    with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    attempted, failed, problems = wl.check(expected)
    assert (attempted, failed, problems) == (120, 0, [])
    wrong = dict(expected, counts=dict(expected["counts"], **{"ToText|ok": 0}))
    assert wl.check(wrong)[1] == 1
    assert wl.check(dict(expected, ok_digest="0"))[1:] == (1, [
        "digest of ok rows' text differs from the generator's"
    ])
    text_rows = expected["counts"]["ToText|ok"] + expected["counts"]["ToHTML|ok"]
    garbled = {url: text + "!" for url, text in expected["pdf_text"].items()}
    assert wl.check(dict(expected, pdf_text=garbled))[1] == text_rows
    stages = wl.stage_pass(str(tmp_path / "stages"))
    assert stages["operators.records"] == 120
    assert 0 < stages["operators.error_row_share"] < 1
    assert stages["sources.fetch_mb"] > 0


@pytest.mark.parametrize("name", sorted(workloads.JOBS))
def test_smoke_registered_jobs(spark, inputs, name):
    from project_map_reduce_spark.registry import entries

    wl = workloads.JobsWorkload(
        spark, entries(), workloads.JOBS[name], os.path.join(inputs, "tables"),
        probes.NullTracer(),
    )  # fmt: skip
    stream = name in workloads.STREAM_WORKLOADS
    stats = _smoke(wl, spark, probes.stream_listener() if stream else None)
    for job in workloads.JOBS[name]:
        assert stats[f"plans.{job}_s"] > 0
    if stream:
        assert stats["streaming.batches"] > 0
        assert stats["streaming.state_rows"] > 0
    attempted, failed, problems = wl.check()
    assert (attempted, failed, problems) == (len(workloads.JOBS[name]), 0, [])
