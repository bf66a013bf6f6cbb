import itertools
import os

import pytest

from xtract import schema, session

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
