"""Seeded inputs for the benchmark.

Pure functions of ``(seed, size)``, following the schemas, value
distributions and scale-factor row counts of the repository's ``sf*``
fixtures (FIXTURES.md):

- ``make_events`` writes the ``events`` table the streaming jobs read.
- ``document_texts`` gives the ``documents.text`` column.
- ``make_pdf_corpus`` writes a PDF corpus whose page text comes from
  ``document_texts`` and a reference-format task file
  (``<op>\\t<file://url>`` per line), and returns what a correct run of
  the reference job must produce from them.

Everything is written under the directory the caller passes; nothing is
written anywhere else. The same seed gives the same bytes: the only
part of the output that depends on the directory is the ``file://``
prefix of the URLs in the task file.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window plan"
).split()

_EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_EVENTS_SPAN_US = 30 * 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf`` (TESTDATA.md)."""
    return {
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)])


def document_texts(seed: int, sf: float) -> list[str]:
    """The ``documents.text`` column at scale factor ``sf``: space-separated
    token streams over a small vocabulary, with a few exact duplicates."""
    rng = np.random.default_rng([seed, 3])
    n = table_rows(sf)["documents"]
    vocab = np.asarray(_VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    n_dup = max(1, n // 600)
    for dst, src in zip(rng.choice(n, n_dup, replace=False), rng.choice(n, n_dup)):
        texts[dst] = texts[src]
    return texts


def make_events(out_dir: str, seed: int, sf: float) -> int:
    """Write the ``events`` table as ``out_dir/events.parquet``; return its
    row count. Timestamps are distinct and event_id follows their order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    k = table_rows(sf)["events"]
    n_users = max(15, round(15_000 * sf))
    ts = np.sort(rng.choice(_EVENTS_SPAN_US, k, replace=False)) + _EVENTS_START_US
    events = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, k), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    return k


# --------------------------------------------------------------------------
# PDF corpus + reference task file

SUPPORTED_OPS = ("ToText", "ToHTML", "ToImage")
UNSUPPORTED_OPS = ("ToMarkdown", "ToEPUB")
_WORDS_PER_LINE = 12


def _pdf_literal(s: str) -> bytes:
    body = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    return b"(" + body.encode("latin-1") + b")"


def pdf_bytes(pages: list[str], compress: bool) -> bytes:
    """A structurally complete PDF (catalog, page tree, one content
    stream per page, xref table) showing each page's text with one
    ``Tj`` per line. Compressed streams carry ``/Filter /FlateDecode``.
    Streams end with CRLF before ``endstream``, as PDF 7.3.8.1 allows."""
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids ["
        + b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(len(pages)))
        + b"] /Count %d >>" % len(pages),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, text in enumerate(pages):
        words = text.split(" ")
        lines = [
            " ".join(words[j : j + _WORDS_PER_LINE])
            for j in range(0, len(words), _WORDS_PER_LINE)
        ]
        content = b"BT /F1 10 Tf 12 TL 72 760 Td\n" + b"".join(
            _pdf_literal(ln) + b" Tj T*\n" for ln in lines
        ) + b"ET"
        filt = b""
        if compress:
            content = zlib.compress(content, 6)
            filt = b" /Filter /FlateDecode"
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (5 + 2 * i)
        )
        objs.append(
            b"<< /Length %d%s >>\nstream\r\n" % (len(content), filt)
            + content
            + b"\r\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref,
    )
    return bytes(out)


def _non_pdf_bytes(rng: np.random.Generator) -> bytes:
    kind = int(rng.integers(0, 3))
    if kind == 0:  # PNG signature + random body
        return b"\x89PNG\r\n\x1a\n" + rng.bytes(int(rng.integers(64, 512)))
    if kind == 1:  # plain text
        return " ".join(_VOCAB[int(i)] for i in rng.integers(0, len(_VOCAB), 40)).encode()
    return b"PK\x03\x04" + rng.bytes(int(rng.integers(64, 512)))  # zip-like


def ok_row_digest(rows: list[tuple[str, str, str]]) -> str:
    """Order-insensitive digest of ``(operation, url, text)`` triples."""
    h = hashlib.sha256()
    for op, url, text in sorted(rows):
        h.update(f"{op}\t{url}\t{text}\n".encode("utf-8"))
    return h.hexdigest()


def make_pdf_corpus(
    root: str, seed: int, texts: list[str], n_tasks: int, n_pdfs: int
) -> dict:
    """Write ``n_pdfs`` PDFs (half Flate-compressed) plus non-PDF payloads
    under ``root/corpus`` and a task file of ``n_tasks`` lines at
    ``root/tasks.txt``. URLs are drawn with replacement. The seed sets
    the shares of missing files, non-PDF payloads and unsupported
    operations (each between 3% and 4%).

    Returns the expected outcome: task count, counts per
    ``(operation, status)``, the digest of every ``ok`` row's text
    (``ToImage`` rows contribute the marker ``png``) and each PDF URL's
    text."""
    rng = np.random.default_rng([seed, 2])
    corpus = os.path.join(root, "corpus")
    os.makedirs(corpus, exist_ok=True)
    share_missing, share_nonpdf, share_unsupported = rng.uniform(0.03, 0.04, 3)

    pdf_text: dict[str, str] = {}
    for i in range(n_pdfs):
        n_pages = int(rng.integers(1, 4))
        pages = [texts[int(j)] for j in rng.integers(0, len(texts), n_pages)]
        path = os.path.join(corpus, f"doc{i:05d}.pdf")
        with open(path, "wb") as f:
            f.write(pdf_bytes(pages, compress=bool(i % 2)))
        pdf_text["file://" + path] = " ".join(pages)
    n_other = max(1, n_pdfs // 20)
    non_pdf = []
    for i in range(n_other):
        path = os.path.join(corpus, f"blob{i:05d}.pdf")
        with open(path, "wb") as f:
            f.write(_non_pdf_bytes(rng))
        non_pdf.append("file://" + path)
    missing = ["file://" + os.path.join(corpus, f"gone{i:05d}.pdf") for i in range(n_other)]
    pdf_urls = list(pdf_text)

    lines: list[str] = []
    counts: dict[str, int] = {}
    ok_rows: list[tuple[str, str, str]] = []
    kinds = rng.choice(
        3, n_tasks, p=[1 - share_missing - share_nonpdf, share_missing, share_nonpdf]
    )
    unsupported = rng.random(n_tasks) < share_unsupported
    op_idx = rng.integers(0, len(SUPPORTED_OPS), n_tasks)
    pick = rng.integers(0, 1 << 30, n_tasks)
    for kind, unsup, oi, pk in zip(kinds, unsupported, op_idx, pick):
        pool = (pdf_urls, missing, non_pdf)[int(kind)]
        url = pool[int(pk) % len(pool)]
        if unsup:
            op = UNSUPPORTED_OPS[int(pk) % len(UNSUPPORTED_OPS)]
            status = "error"
        else:
            op = SUPPORTED_OPS[int(oi)]
            status = "ok" if kind == 0 else "error"
        lines.append(f"{op}\t{url}")
        key = f"{op}|{status}"
        counts[key] = counts.get(key, 0) + 1
        if status == "ok":
            ok_rows.append((op, url, "png" if op == "ToImage" else pdf_text[url]))
    with open(os.path.join(root, "tasks.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    expected = {
        "records": n_tasks,
        "counts": counts,
        "ok_digest": ok_row_digest(ok_rows),
        "pdf_text": pdf_text,
    }
    with open(os.path.join(root, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
