"""The three benchmark jobs, their tracing, and their correctness gates.

Each job makes the calls ``job.py`` makes, through the ``xtract`` public
functions, against a cached seeded corpus:

- ``skewed_sinks``: checkpointed fused extraction to parquet, the turn
  and span counts, ``--assembled --assembled-mode sparse``,
  ``--windows``, ``--stats`` and ``--dup-clusters`` over the written
  spans, and the ``--parity-sample 16`` audit of the written spans.
- ``pages``: ``html.extract_main_content`` and ``pdf.extract_pdf_turns``
  to parquet, without a checkpoint.

With a :class:`~tracing.Tracer` on the context every call into a layer is
a span, and each layer's lazy output is materialized (persist + count)
inside its span, so the next span times only its own work. Without one,
the calls are exactly the production ones.
"""
from __future__ import annotations

import os
import random
import shutil
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable
from unittest import mock

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from corpus import Corpus, Spec
from tracing import Tracer

RUN_ID = "bench"
N_BUCKETS = 64  # ckpt.run_with_checkpoint's default
PARITY_MOD = 16

# corpus sizes: turns (skewed_sinks) or pages of each kind (pages).
# Small on purpose: every run pays a JVM start, and comparing two commits
# takes many runs of each workload. At these sizes a job's time is mostly
# per-query and per-file work, which grows with the input's file count
# (one file per core) more than with its rows.
SPECS = {
    "skewed_sinks": dict(n=4_000, mega_every=50),
    "pages": dict(n=8_000),
}
# the workloads whose traced job is followed by a simulated crash and the
# resume (ckpt.resume_s)
RESUMES = {"skewed_sinks"}

SPAN_FIELDS = (
    "question_number", "qtype", "score", "span_text", "bbox", "has_image",
    "image_ids", "image_count", "split_from_merged", "source_block_id",
)


def spec(workload: str, seed: int) -> Spec:
    return Spec(workload, seed, **SPECS[workload])


@dataclass
class Ops:
    """Operations attempted and failed, with a note per failure."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.add(1, 0 if ok else 1, what)

    def add(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{failed} x {what}")


@dataclass
class Ctx:
    spark: Any
    corpus: Corpus
    out: Path
    nproc: int
    ops: Ops
    tracer: Tracer | None = None
    persisted: list = field(default_factory=list)
    sampled_turns: int | None = None

    def path(self, name: str) -> str:
        return str(self.out / name)

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


def layer(ctx: Ctx, name: str, fn: Callable, *args, materialize: bool = False, **kw):
    """Call into a layer; traced, as span ``name`` whose DataFrame result
    is materialized and its row count recorded on the span."""
    tr = ctx.tracer
    if tr is None:
        return fn(*args, **kw)
    with tr.span(name) as rec:
        out = fn(*args, **kw)
        if materialize:
            out = out.persist()
            rec["rows"] = out.count()
            ctx.persisted.append(out)
    return out


@contextmanager
def _ckpt_children(ctx: Ctx, spans_out: str):
    """Inside ``ckpt.run_with_checkpoint``: its ``pipeline.extract`` call
    becomes a materialized ``pipeline.extract`` span and its span-table
    parquet write a ``catalog.write`` span. The lineage sidecar write
    stays ckpt's own work."""
    from pyspark.sql.readwriter import DataFrameWriter

    from xtract import pipeline

    real_extract, real_parquet = pipeline.extract, DataFrameWriter.parquet

    def extract(*a, **kw):
        return layer(ctx, "pipeline.extract", real_extract, *a, materialize=True, **kw)

    def parquet(self, path, *a, **kw):
        if str(path) != spans_out:
            return real_parquet(self, path, *a, **kw)
        return layer(ctx, "catalog.write", real_parquet, self, path, *a, **kw)

    with mock.patch.object(pipeline, "extract", extract), mock.patch.object(
        DataFrameWriter, "parquet", parquet
    ):
        yield


def read(ctx: Ctx, path: str):
    from xtract import catalog

    return layer(ctx, "catalog.read", catalog.read_ref, ctx.spark, path)


def write(ctx: Ctx, df, name: str, **kw) -> None:
    from xtract import catalog

    layer(ctx, "catalog.write", catalog.write_ref, df, ctx.path(name), **kw)


def count(ctx: Ctx, df) -> int:
    return layer(ctx, "catalog.read", df.count)


def checkpointed_extract(ctx: Ctx, turns) -> dict:
    from xtract import ckpt

    def run():
        return ckpt.run_with_checkpoint(
            ctx.spark, turns, ctx.path("spans"), ctx.path("ckpt"), run_id=RUN_ID
        )

    if ctx.tracer is None:
        return run()
    with ctx.tracer.span("ckpt.run"), _ckpt_children(ctx, ctx.path("spans")):
        return run()


def in_parity_sample():
    """``job.py --parity-sample 16``'s filter: whole conversations, by
    conv_id hash."""
    import pyspark.sql.functions as F

    return F.pmod(F.xxhash64("conv_id"), F.lit(PARITY_MOD)) == 0


def parity_audit(ctx: Ctx, turns) -> dict:
    """``job.py --parity-sample 16``: the written spans against the
    executor-side oracle on a conv-hash sample of whole conversations."""
    from xtract import parity

    cond = in_parity_sample()
    spans = read(ctx, ctx.path("spans"))
    row = layer(
        ctx, "parity.report",
        lambda: parity.parity_report(turns.filter(cond), spans.filter(cond)).collect()[0],
    )
    return {"turns_audited": int(row.n_turns), "mismatch": int(row.n_mismatch or 0)}


# ----------------------------------------------------------------- jobs


def transcripts_job(ctx: Ctx) -> dict:
    import pyspark.sql.functions as F

    from xtract import assemble, cc, fingerprint, pipeline, structure

    turns = read(ctx, ctx.corpus.part("transcripts"))
    res = {"ckpt": checkpointed_extract(ctx, turns)}
    res["turns"] = count(ctx, turns)
    res["spans"] = count(ctx, read(ctx, ctx.path("spans")))
    asm = layer(
        ctx, "assemble.sparse", assemble.merge_continuations_sparse,
        read(ctx, ctx.path("spans")), materialize=True,
    )
    write(ctx, asm, "assembled")
    win = layer(ctx, "structure.conv_windows", structure.conv_windows, turns, materialize=True)
    write(ctx, win, "windows")
    stats = layer(
        ctx, "pipeline.conv_stats", pipeline.conversation_stats,
        read(ctx, ctx.path("spans")), materialize=True,
    )
    write(ctx, stats, "stats")
    pairs = layer(
        ctx, "fingerprint.dup_spans", fingerprint.dup_spans,
        read(ctx, ctx.path("spans")), materialize=True,
    )
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    labels, res["cc_rounds"] = layer(ctx, "cc.components", cc.connected_components, edges)
    write(
        ctx,
        labels.withColumnRenamed("node", "span_key").withColumnRenamed("rep", "cluster_rep"),
        "dup_clusters",
        bucket_col=None,
    )
    res["parity"] = parity_audit(ctx, turns)
    return res


def pages_job(ctx: Ctx) -> dict:
    from xtract import html, pdf

    main = layer(
        ctx, "html.main_content", html.extract_main_content,
        read(ctx, ctx.corpus.part("html")), materialize=True,
    )
    write(ctx, main, "html")
    spans = layer(
        ctx, "pdf.extract", pdf.extract_pdf_turns,
        read(ctx, ctx.corpus.part("pdf")), materialize=True,
    )
    write(ctx, spans, "pdf")
    return {
        "html_rows": count(ctx, read(ctx, ctx.path("html"))),
        "spans": count(ctx, read(ctx, ctx.path("pdf"))),
    }


def run_job(workload: str, ctx: Ctx) -> dict:
    if workload == "pages":
        return pages_job(ctx)
    return transcripts_job(ctx)


def crash(ctx: Ctx) -> None:
    """Untimed: simulate a crash half-way through the extraction by
    cutting the lineage sidecar back to its first half of buckets (the
    span files of every bucket stay, as a crash would leave them)."""
    import pyspark.sql.functions as F

    ck = ctx.path("ckpt")
    cut = ck + ".cut"
    kept = ctx.spark.read.parquet(ck).filter(F.col("partition_key").cast("int") < N_BUCKETS // 2)
    kept.write.mode("overwrite").parquet(cut)
    shutil.rmtree(ck)
    os.rename(cut, ck)


def resume(ctx: Ctx) -> dict:
    """Finish the job after :func:`crash`: the checkpointed extraction
    skips the buckets the lineage still holds."""
    return checkpointed_extract(ctx, read(ctx, ctx.corpus.part("transcripts")))


# ---------------------------------------------------------------- gates


def _canon(v: Any) -> Any:
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def canon_span(row: dict) -> tuple:
    return tuple(_canon(row[f]) for f in SPAN_FIELDS)


def check_spans(expected: dict[tuple, list[dict]], written: list[dict]) -> list[str]:
    """Violations between the oracle's span rows per (conv_id, turn_idx)
    and the written span rows for those turns (in seq order)."""
    got: dict[tuple, list[tuple[int, tuple]]] = defaultdict(list)
    for r in written:
        got[(r["conv_id"], int(r["turn_idx"]))].append((int(r["seq"]), canon_span(r)))
    bad = []
    for key, rows in expected.items():
        want = [canon_span(r) for r in rows]
        have = [c for _, c in sorted(got.pop(key, []))]
        if have != want:
            bad.append(f"span mismatch at {key}: {len(have)} written vs {len(want)} expected")
    bad += [f"unexpected spans at {key}" for key in got]
    return bad


def check_html(expected: dict[str, str], written: dict[str, str]) -> list[str]:
    bad = [f"main_text mismatch at {k}" for k, v in expected.items() if written.get(k) != v]
    bad += [f"unexpected page {k}" for k in written.keys() - expected.keys()]
    return bad


def _read_rows(path: str, key: str, values: list) -> list[dict]:
    ds = pads.dataset(path, format="parquet", partitioning="hive")
    return ds.to_table(filter=pads.field(key).isin(values)).to_pylist()


def gate(workload: str, ctx: Ctx, res: dict, resumed: dict, seed: int) -> None:
    """Check the outputs the last measured job wrote; every violation
    counts as a failed operation."""
    from xtract import oracle, pdf

    ops, corpus = ctx.ops, ctx.corpus
    rng = random.Random(seed)
    if workload == "pages":
        exp = {r["conv_id"]: r["main_text"] for r in pq.read_table(corpus.part("expected_html")).to_pylist()}
        got = {
            r["conv_id"]: r["main_text"]
            for r in pq.read_table(ctx.path("html"), columns=["conv_id", "main_text"]).to_pylist()
        }
        for v in check_html(exp, got) or [None]:
            ops.check(v is None, str(v))
        pages = pq.read_table(corpus.part("pdf")).to_pylist()
        sample = rng.sample(pages, min(64, len(pages)))
        expected = {}
        for p in sample:
            payload = pdf.parse_pdf_py(p["payload"])
            rows = [] if payload is None else oracle.extract_payload(payload)
            expected[(p["conv_id"], p["turn_idx"])] = rows
        written = _read_rows(ctx.path("pdf"), "turn_idx", [p["turn_idx"] for p in sample])
        for v in check_spans(expected, written) or [None]:
            ops.check(v is None, str(v))
        ops.check(res["html_rows"] == len(exp), "html row count")
        return

    turns = pq.read_table(corpus.part("transcripts"), columns=["conv_id", "turn_idx", "text"])
    ops.check(res["turns"] == corpus.rows, f"turn count {res['turns']} != corpus {corpus.rows}")
    convs = sorted(set(turns.column("conv_id").to_pylist()))
    sample = rng.sample(convs, min(16, len(convs)))
    expected = {
        (r["conv_id"], r["turn_idx"]): oracle.extract_turn(r["text"])
        for r in turns.filter(pads.field("conv_id").isin(sample)).to_pylist()
    }
    written = _read_rows(ctx.path("spans"), "conv_id", sample)
    for v in check_spans(expected, written) or [None]:
        ops.check(v is None, str(v))
    spans_now = pads.dataset(ctx.path("spans"), format="parquet", partitioning="hive").count_rows()
    ops.check(spans_now == res["spans"], f"span table holds {spans_now} rows, the job counted {res['spans']}")
    lineage = pq.read_table(ctx.path("ckpt"), columns=["partition_key"]).column("partition_key")
    ops.check(len(set(lineage.to_pylist())) == N_BUCKETS, "lineage misses buckets")
    if resumed:  # the resume redid exactly the cut half
        ops.check(
            resumed.get("partitions_done") == N_BUCKETS // 2
            and resumed.get("partitions_skipped") == N_BUCKETS // 2,
            f"resume did {resumed}",
        )
    n_parts = pq.read_table(ctx.path("assembled"), columns=["n_parts"]).column("n_parts")
    ops.check(sum(n_parts.to_pylist()) == res["spans"], "sum(n_parts) != span count")
    n_turns = pq.read_table(ctx.path("windows"), columns=["n_turns"]).column("n_turns")
    ops.check(sum(n_turns.to_pylist()) == res["turns"], "sum(window n_turns) != turn count")
    n_stats = pq.read_table(ctx.path("stats"), columns=["spans"]).column("spans")
    ops.check(sum(n_stats.to_pylist()) == res["spans"], "sum(stats spans) != span count")


def job_checks(workload: str, ctx: Ctx, res: dict) -> None:
    """Per-iteration checks: the parity audit (each audited turn is one
    operation, each mismatch one failure) covered every turn of the
    sample, which may be empty in a small corpus."""
    if workload == "pages":
        return
    if ctx.sampled_turns is None:
        turns = ctx.spark.read.parquet(ctx.corpus.part("transcripts"))
        ctx.sampled_turns = turns.filter(in_parity_sample()).count()
    p = res["parity"]
    ctx.ops.add(p["turns_audited"], p["mismatch"], "parity mismatching turn")
    ctx.ops.check(
        p["turns_audited"] == ctx.sampled_turns,
        f"parity audited {p['turns_audited']} turns, the sample holds {ctx.sampled_turns}",
    )


def output_files(out: Path) -> tuple[int, float]:
    """(parquet files, MB) written under ``out``, lineage excluded."""
    n, size = 0, 0
    for root, _, files in os.walk(out):
        if Path(root).relative_to(out).parts[:1] == ("ckpt",):
            continue
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20


# ------------------------------------------------------ traced-run probes


def oracle_sample(workload: str, corpus: Corpus, seed: int, k: int = 1500) -> dict:
    """In-process ``oracle`` calls on a seeded sample of the workload's
    turns (pages: PDF payloads through ``extract_payload``), timed one
    call at a time after an untimed pass that warms regex caches."""
    import statistics
    import time

    from xtract import oracle, pdf

    rng = random.Random(seed)
    if workload == "pages":
        pages = pq.read_table(corpus.part("pdf"), columns=["payload"]).column("payload").to_pylist()
        items = [p for p in map(pdf.parse_pdf_py, rng.sample(pages, min(k, len(pages)))) if p]
        fn = oracle.extract_payload
    else:
        texts = pq.read_table(corpus.part("transcripts"), columns=["text"]).column("text").to_pylist()
        items = rng.sample(texts, min(k, len(texts)))
        fn = oracle.extract_turn
    for x in items:
        fn(x)
    times, spans = [], 0
    for x in items:
        t0 = time.perf_counter_ns()
        rows = fn(x)
        times.append((time.perf_counter_ns() - t0) / 1e3)
        spans += len(rows)
    q = statistics.quantiles(times, n=100)
    return {
        "oracle.turn_us_p50": statistics.median(times),
        "oracle.turn_us_p99": q[98],
        "oracle.spans_per_turn": spans / len(items),
        "mean_us": statistics.fmean(times),
    }


def extract_rate(ctx: Ctx, partitions: int) -> float:
    """Turns/s of ``pipeline.extract`` over the input held in
    ``partitions`` partitions (coalesced, no shuffle), to a no-op sink."""
    import time

    from xtract import pipeline

    turns = read(ctx, ctx.corpus.part("transcripts")).coalesce(partitions)
    t0 = time.perf_counter()
    pipeline.extract(turns).write.format("noop").mode("overwrite").save()
    return ctx.corpus.rows / (time.perf_counter() - t0)
