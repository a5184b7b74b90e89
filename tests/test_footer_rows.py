"""tables.footer_rows: the zero-job row-count ledger must agree with
the data for BOTH table shapes — a single parquet file (the fixture
layout) and a directory of part files (what any real writer produces;
VERDICT r13 item 7: the single-file form broke the moment a table was
a multi-file directory)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from project_map_reduce_spark.tables import footer_rows, table_path


def test_single_file_table(tmp_path):
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(7))}), f)
    assert footer_rows(f) == 7


def test_multi_file_directory_table(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(5))}), str(d / "part-00000.parquet"))
    pq.write_table(pa.table({"x": list(range(9))}), str(d / "part-00001.parquet"))
    # Writer-side noise a directory table carries alongside its parts:
    # a _SUCCESS marker and checksum files must not be read as parquet.
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.parquet.crc").write_text("not parquet")
    assert footer_rows(str(d)) == 14


def test_empty_directory_raises(tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        footer_rows(str(d))


def test_matches_fixture_events_table():
    sf_dir = "/root/testdata/sf0.001"
    path = table_path(sf_dir, "events")
    if not os.path.exists(path):
        pytest.skip("fixture not present")
    assert footer_rows(path) == pq.ParquetFile(path).metadata.num_rows


def test_part_named_subdirectory_is_skipped(tmp_path):
    """A ``part-*`` or ``*.parquet`` entry that is a directory (a nested
    writer output) is not a part file; only the files count."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(4))}), str(d / "part-00000.parquet"))
    (d / "part-00001").mkdir()
    (d / "nested.parquet").mkdir()
    assert footer_rows(str(d)) == 4
