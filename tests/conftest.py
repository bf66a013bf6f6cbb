import datetime as dt
import itertools
import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from xtract import gen, pdf, schema, session, sources

_groups = itertools.count()
# the read-only synthetic tables described in TESTDATA.md
TESTDATA = os.path.expanduser("~/testdata")


@pytest.fixture(scope="session")
def spark():
    s = session.build(app="xtract-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def derived_transcripts(spark):
    """Deterministic transcripts derived from the sf0.001 documents
    table: one conversation per source, one turn per doc; even doc_ids
    carry synthetic exam payloads (seeded by doc_id), odd doc_ids carry
    the document's own prose (negative controls)."""
    import pandas as pd

    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet")
    ).select("doc_id", "text", "source")

    def to_turns(batches):
        from xtract import gen

        for pdf in batches:
            rows = []
            for doc_id, text, source in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
                doc_id = int(doc_id)
                if doc_id % 2 == 0:
                    r = gen._rng(source, doc_id)
                    payload = gen._payload_b(r) if doc_id % 4 == 0 else gen._payload_a(r)
                else:
                    payload = text
                base = gen.turn_row(source, doc_id, 0)
                rows.append(
                    {
                        "conv_id": source,
                        "turn_idx": doc_id,
                        "role": base["role"],
                        "text": payload,
                        "tool": base["tool"],
                        "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=7 * doc_id),
                    }
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=[f.name for f in schema.TRANSCRIPTS.fields]
                )

    turns = docs.mapInPandas(to_turns, schema=schema.TRANSCRIPTS).cache()
    yield turns
    turns.unpersist()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{next(_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def html_pages(spark):
    """``html_pages(n, partitions=None)`` → n deterministic
    HTML-payload transcripts, one conversation per ``gen.html_page``."""

    def build(n, partitions=None):
        def emit(i):
            html, _ = gen.html_page(gen._rng(f"html{i}", 0))
            yield {
                "conv_id": f"page{i:06d}",
                "turn_idx": 0,
                "role": "tool",
                "text": html,
                "tool": "crawler",
                "ts": gen.EPOCH + dt.timedelta(seconds=i),
            }

        base = spark.range(n, numPartitions=partitions)
        return sources.map_rows(base, ["id"], emit, schema.TRANSCRIPTS)

    return build


PDF_PAGES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


@pytest.fixture(scope="session")
def pdf_pages(spark):
    """``pdf_pages(n, partitions)`` → n deterministic (conv_id,
    turn_idx, payload) PDF pages, four per conversation: the seeded
    ``gen._payload_b`` layouts rendered by ``pdf.make_pdf``, every 3rd
    compressed and every 5th with per-line BT objects."""

    def build(n, partitions):
        def emit(i):
            conv = f"pdfconv-{i // 4:05d}"
            payload = json.loads(gen._payload_b(gen._rng(conv, i)))
            yield {
                "conv_id": conv,
                "turn_idx": i,
                "payload": pdf.make_pdf(
                    payload["blocks"],
                    payload["page"]["width"],
                    payload["page"]["height"],
                    compress=(i % 3 == 0),
                    bt_per_line=(i % 5 == 0),
                ),
            }

        base = spark.range(n, numPartitions=partitions).select(
            F.col("id").cast("int").alias("id")
        )
        return sources.map_rows(base, ["id"], emit, PDF_PAGES)

    return build
