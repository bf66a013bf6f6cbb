"""Per-turn text equality (the north-rule invariant): the Spark
pipeline's extracted span list equals the single-node oracle's for
every turn, under stable (conv_id, turn_idx, seq) ordering — for BOTH
execution strategies, which are also checked against each other.

The relational-vs-oracle comparison is the load-bearing one: the two
implementations share no execution code (native Spark SQL + detection
UDF vs a pure-Python loop)."""
import pytest

from xtract import gen, oracle, pipeline

N_CONVS = 12


def _local_rows():
    """The generator's rows, built on the driver."""
    return [r for c in range(N_CONVS) for r in gen.conv_rows(c)]


def _norm_spark(rows):
    out = {}
    for r in rows:
        d = r.asDict()
        out.setdefault((d["conv_id"], d["turn_idx"]), []).append(
            (
                d["seq"],
                d["question_number"],
                d["qtype"],
                d["score"],
                d["span_text"],
                tuple(d["bbox"] or []),
                d["has_image"],
                tuple(d["image_ids"] or []),
                d["image_count"],
                d["split_from_merged"],
                d["source_block_id"],
            )
        )
    for v in out.values():
        v.sort()
    return out


@pytest.fixture(scope="module")
def transcripts(spark):
    df = gen.transcripts(spark, N_CONVS).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def expected():
    exp = {}
    for row in _local_rows():
        rows = oracle.extract_turn(row["text"])
        if rows:
            exp[(row["conv_id"], row["turn_idx"])] = sorted(
                (
                    i,
                    r["question_number"],
                    r["qtype"],
                    r["score"],
                    r["span_text"],
                    tuple(r["bbox"]),
                    r["has_image"],
                    tuple(r["image_ids"]),
                    r["image_count"],
                    r["split_from_merged"],
                    r["source_block_id"],
                )
                for i, r in enumerate(rows)
            )
    return exp


def test_generator_distributed_equals_local(spark, transcripts):
    got = sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool) for r in transcripts.collect()
    )
    exp = sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in _local_rows()
    )
    assert got == exp


def test_relational_matches_oracle(spark, transcripts, expected):
    got = _norm_spark(pipeline.extract(transcripts, mode="relational").collect())
    assert got == expected


def test_fused_matches_oracle(spark, transcripts, expected):
    got = _norm_spark(pipeline.extract(transcripts, mode="fused").collect())
    assert got == expected


def test_exam_info_matches_oracle(spark, transcripts):
    got = {
        (r.conv_id, r.turn_idx): (r.title, r.subject, r.grade, r.time_limit, r.total_score)
        for r in pipeline.exam_info(transcripts).collect()
    }
    for row in _local_rows():
        info = oracle.exam_info(oracle.parse_payload(row["text"])["blocks"])
        key = (row["conv_id"], row["turn_idx"])
        assert got[key] == (
            info["title"],
            info["subject"],
            info["grade"],
            info["time_limit"],
            info["total_score"],
        ), key


def test_duplicate_question_numbers_parity(spark):
    """Reference quirk faithfully reproduced: slicing looks up spans by
    NUMBER (first match wins, question_splitter.py:357-376), so a
    repeated '1.' yields two spans with the first occurrence's slice
    and an empty span for the number in between — in all three
    implementations, under ANSI mode (negative-length substring)."""
    import pandas as pd

    from xtract import oracle, schema

    text = "1. 第一题的内容足够长了\n2. 第二题的内容也长\n1. 重复题号的内容够长了"
    exp = [
        (r["question_number"], r["span_text"]) for r in oracle.extract_turn(text)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "conv_id": "c",
                    "turn_idx": 0,
                    "role": "user",
                    "text": text,
                    "tool": None,
                    "ts": pd.Timestamp("2026-01-01"),
                }
            ]
        ),
        schema=schema.TRANSCRIPTS,
    )
    for mode in ("fused", "relational"):
        got = [
            (r.question_number, r.span_text)
            for r in pipeline.extract(df, mode=mode).orderBy("seq").collect()
        ]
        assert got == exp, mode
