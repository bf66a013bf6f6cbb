"""Skew handling: mega-conversations (gen mega_every) flow through
extraction with the same results as the oracle."""
import pyspark.sql.functions as F
import pytest

from xtract import gen, pipeline, schema


@pytest.fixture(scope="module")
def mega(spark):
    # conv 0 and 3 become ~100x mega-conversations
    rows = [r for c in range(6) for r in gen.conv_rows(c, 3)]
    df = spark.createDataFrame(rows, schema.TRANSCRIPTS).cache()
    df.count()
    yield df
    df.unpersist()


def test_mega_conversations_exist(mega):
    counts = {r.conv_id: r.c for r in mega.groupBy("conv_id").agg(F.count("*").alias("c")).collect()}
    big = [c for c in counts.values() if c >= 300]
    small = [c for c in counts.values() if c < 50]
    assert big and small


def test_extraction_unaffected_by_skew(spark, mega):
    """Fused extraction over skewed input matches the oracle (sampled
    turns) — the plan has no conv_id-keyed operation to skew."""
    from xtract import oracle

    spans = pipeline.extract(mega, mode="fused")
    got = {
        (r.conv_id, r.turn_idx, r.seq): r.span_text
        for r in spans.filter(F.col("turn_idx") < 5).collect()
    }
    for conv_ord in range(6):
        conv_id = f"conv{conv_ord:08d}"
        for t in range(min(5, gen.n_turns_for(conv_ord, 3))):
            text = gen.turn_row(conv_id, t, conv_ord)["text"]
            for seq, row in enumerate(oracle.extract_turn(text)):
                assert got[(conv_id, t, seq)] == row["span_text"]
