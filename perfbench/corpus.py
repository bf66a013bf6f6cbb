"""Seeded, self-invalidating corpus cache for the benchmark workloads.

Every corpus is a pure function of (workload, seed, size) and of the
generator source: rows come from ``xtract.gen`` (and ``xtract.pdf`` for
PDF pages) over an ordinal range that the seed selects, so one seed
always yields the same bytes. There are ``SLOTS`` ranges: seeds that
differ by a multiple of ``SLOTS`` share a corpus, and other seeds never
share a conversation or page. Ordinals stay small because the generator
stamps each turn at ``EPOCH + conv_ord`` hours, which must stay inside
the nanosecond timestamps pandas holds (year 2262), and a PDF page's
ordinal is its ``int32`` ``turn_idx``.

A cached corpus lives under
``<cache>/<workload>-s<seed>-n<size>-m<mega_every>-f<files>-<src>`` where ``<src>``
hashes ``xtract/gen.py``, ``xtract/pdf.py`` and this file. Editing any
generator therefore changes the key, and a stale corpus can never be
benchmarked. Generation runs with pyarrow (no Spark), before and outside
every timed region, in a child process of ``run.py``, so the benchmark
process starts Spark without the generator's heap.
"""
from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]

# ordinal ranges the seeds map to; range i starts at ordinal i * stride
SLOTS = 2_000
# conversations per range: gen gives each at least 4 turns, so a range
# holds up to 4 * CONV_STRIDE turns (<= year 2254 at the last range)
CONV_STRIDE = 1_000
KEEP_PER_WORKLOAD = 4

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
PDF_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("payload", pa.binary())]
)
EXPECTED_HTML_SCHEMA = pa.schema([("conv_id", pa.string()), ("main_text", pa.string())])


@dataclass(frozen=True)
class Spec:
    """What to generate: the first ``n`` turns of the seed's
    conversations (transcript workloads), or ``n`` pages of each kind
    (``pages``). Sizing by turns keeps every seed's corpus the same size
    even when a few mega-conversations dominate it."""

    workload: str
    seed: int
    n: int
    mega_every: int = 0


@dataclass(frozen=True)
class Corpus:
    path: Path
    checksum: str
    rows: int  # input turns; for pages, HTML pages + PDF pages

    def part(self, name: str) -> str:
        return str(self.path / name)


def source_hash() -> str:
    h = hashlib.sha256()
    for f in (ROOT / "xtract" / "gen.py", ROOT / "xtract" / "pdf.py", Path(__file__)):
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def _offset(seed: int, stride: int) -> int:
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    return seed % SLOTS * stride


def _write_parts(table: pa.Table, out: Path, n_files: int) -> None:
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, out / f"part-{i:05d}.parquet")


def _digest(h, table: pa.Table) -> None:
    for col in table.columns:
        for v in col.to_pylist():
            h.update(repr(v).encode())
            h.update(b"\x00")


def _transcripts(spec: Spec) -> pa.Table:
    from xtract import gen

    if spec.n > 4 * CONV_STRIDE:
        raise ValueError(f"{spec.n} turns may not fit in {CONV_STRIDE} conversations")
    rows: list[dict] = []
    conv_ord = _offset(spec.seed, CONV_STRIDE)
    while len(rows) < spec.n:
        rows.extend(gen.conv_rows(conv_ord, spec.mega_every))
        conv_ord += 1
    # the last conversation ends early, so every seed has exactly n turns
    return pa.Table.from_pylist(rows[: spec.n], schema=TRANSCRIPT_SCHEMA)


def _pages(spec: Spec) -> tuple[pa.Table, pa.Table, pa.Table]:
    """(html transcripts, expected main text, pdf pages) — the same
    row shapes ``gen.html_transcripts`` and ``pdf.gen_pdf_turns`` emit,
    over the seed's ordinal range."""
    from xtract import gen, pdf

    off = _offset(spec.seed, spec.n)
    html_rows, expected = [], []
    for i in range(off, off + spec.n):
        page, paras = gen.html_page(gen._rng(f"html{i}", 0))
        cid = f"page{i:06d}"
        html_rows.append(
            {
                "conv_id": cid,
                "turn_idx": 0,
                "role": "tool",
                "text": page,
                "tool": "crawler",
                "ts": gen.EPOCH + dt.timedelta(seconds=i),
            }
        )
        expected.append({"conv_id": cid, "main_text": "\n".join(paras)})
    pdf_rows = []
    for i in range(off, off + spec.n):
        conv = f"pdfconv-{i // 4:05d}"
        payload = json.loads(gen._payload_b(gen._rng(conv, i)))
        buf = pdf.make_pdf(
            payload["blocks"],
            payload["page"]["width"],
            payload["page"]["height"],
            compress=(i % 3 == 0),
            bt_per_line=(i % 5 == 0),
        )
        pdf_rows.append({"conv_id": conv, "turn_idx": i, "payload": buf})
    return (
        pa.Table.from_pylist(html_rows, schema=TRANSCRIPT_SCHEMA),
        pa.Table.from_pylist(expected, schema=EXPECTED_HTML_SCHEMA),
        pa.Table.from_pylist(pdf_rows, schema=PDF_SCHEMA),
    )


def build(spec: Spec, out: Path, n_files: int) -> Corpus:
    """Generate ``spec`` into the fresh directory ``out``."""
    h = hashlib.sha256()
    if spec.workload == "pages":
        html_t, expected, pdf_t = _pages(spec)
        parts = {"html": html_t, "expected_html": expected, "pdf": pdf_t}
        rows = html_t.num_rows + pdf_t.num_rows
    else:
        table = _transcripts(spec)
        parts = {"transcripts": table}
        rows = table.num_rows
    for name, table in parts.items():
        h.update(name.encode())
        _digest(h, table)
        _write_parts(table, out / name, n_files if name != "expected_html" else 1)
    corpus = Corpus(out, h.hexdigest(), rows)
    (out / "manifest.json").write_text(
        json.dumps({"spec": spec.__dict__, "checksum": corpus.checksum, "rows": rows})
    )
    return corpus


def cached(spec: Spec, cache_dir: Path, n_files: int) -> Corpus:
    """The corpus for ``spec``, generated on first use. Keeps the
    ``KEEP_PER_WORKLOAD`` most recently used corpora per workload."""
    key = f"{spec.workload}-s{spec.seed}-n{spec.n}-m{spec.mega_every}-f{n_files}-{source_hash()}"
    path = cache_dir / key
    manifest = path / "manifest.json"
    if manifest.exists():
        meta = json.loads(manifest.read_text())
        os.utime(path)
        return Corpus(path, meta["checksum"], meta["rows"])
    tmp = cache_dir / f".tmp-{key}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus = build(spec, tmp, n_files)
    os.rename(tmp, path)
    siblings = sorted(
        (p for p in cache_dir.glob(f"{spec.workload}-s*") if p != path),
        key=lambda p: p.stat().st_mtime,
    )
    for old in siblings[: max(0, len(siblings) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return Corpus(path, corpus.checksum, corpus.rows)


if __name__ == "__main__":
    # python3 perfbench/corpus.py <workload> <seed> <files> <cache dir>:
    # generate a workload's corpus into the cache, in a process of its own
    import sys

    import workloads

    workload, seed, files, cache_dir = sys.argv[1:]
    cached(workloads.spec(workload, int(seed)), Path(cache_dir), int(files))
