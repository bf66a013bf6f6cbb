"""Cross-turn span assembly (xtract/assemble.py): page-break
continuation merge under stable (conv_id, turn_idx, seq) ordering."""
from __future__ import annotations

import pandas as pd
import pytest

from xtract import assemble


def span(turn, seq, num, text):
    return {"turn_idx": turn, "seq": seq, "question_number": num, "span_text": text}


def spans_df(spark, by_conv):
    rows = []
    for conv, spans in by_conv.items():
        for s in spans:
            rows.append({"conv_id": conv, **s})
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "seq", "question_number", "span_text"])
    pdf["question_number"] = pdf["question_number"].astype("Int32")
    return spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, seq int, question_number int, span_text string"
    )


CASES = {
    # page break mid-question: turn 0 ends open, turn 1 starts unnumbered
    "c_split": [
        span(0, 0, 1, "1、计算下列各式。（5分）"),
        span(0, 1, 2, "2、解方程组，其中x与y满足"),  # cut: no terminal
        span(1, 0, None, "的条件，并说明理由。（8分）"),
        span(1, 1, 3, "3、判断：对或错。（2分）"),
    ],
    # three-page chain
    "c_chain": [
        span(0, 0, 7, "7、证明下列命题成立，已知"),
        span(1, 0, None, "三角形各边满足勾股关系且"),
        span(2, 0, None, "内角和为定值。（10分）"),
    ],
    # NOT continuations: closed predecessor / numbered follower / gap turn
    "c_neg": [
        span(0, 0, 1, "1、第一题完整。（3分）"),
        span(1, 0, None, "页眉说明文字"),  # prev closed with 。
        span(1, 1, 2, "2、第二题也未结束"),
        span(3, 0, None, "这不该合并（隔了一页）。"),  # turn gap 1→3
    ],
}


def test_oracle_merge_semantics():
    out = assemble.merge_continuations_py(CASES["c_split"])
    assert [o["n_parts"] for o in out] == [1, 2, 1]
    merged = out[1]
    assert merged["span_text"] == "2、解方程组，其中x与y满足\n的条件，并说明理由。（8分）"
    assert merged["question_number"] == 2 and merged["score"] == 8
    assert (merged["turn_first"], merged["turn_last"]) == (0, 1)

    chain = assemble.merge_continuations_py(CASES["c_chain"])
    assert len(chain) == 1 and chain[0]["n_parts"] == 3
    assert chain[0]["score"] == 10 and chain[0]["turn_last"] == 2

    neg = assemble.merge_continuations_py(CASES["c_neg"])
    assert [o["n_parts"] for o in neg] == [1, 1, 1, 1]


def test_spark_matches_oracle(spark):
    df = assemble.merge_continuations(spans_df(spark, CASES))
    got = {}
    for r in df.collect():
        got.setdefault(r.conv_id, []).append(
            (r.segment, r.turn_first, r.turn_last, r.question_number, r.qtype, r.score,
             r.span_text, r.n_parts)
        )
    for conv, spans in CASES.items():
        want = [
            (o["segment"], o["turn_first"], o["turn_last"], o["question_number"],
             o["qtype"], o["score"], o["span_text"], o["n_parts"])
            for o in assemble.merge_continuations_py(spans)
        ]
        assert sorted(got[conv]) == sorted(want), conv


def test_extraction_pipeline_composition(spark):
    """End-to-end: extract generated transcripts, then assemble — every
    conversation's result equals the per-conversation oracle."""
    from xtract import gen, pipeline

    tr = gen.transcripts(spark, 30, partitions=4)
    spans = pipeline.extract(tr, mode="fused")
    out = assemble.merge_continuations(spans)

    by_conv: dict = {}
    for r in spans.collect():
        by_conv.setdefault(r.conv_id, []).append(
            {"turn_idx": r.turn_idx, "seq": r.seq, "bbox": list(r.bbox or []),
             "question_number": r.question_number, "span_text": r.span_text}
        )
    want_rows = 0
    got = {}
    for r in out.collect():
        got.setdefault(r.conv_id, []).append((r.segment, r.span_text, r.n_parts))
    for conv, rows in by_conv.items():
        want = [(o["segment"], o["span_text"], o["n_parts"])
                for o in assemble.merge_continuations_py(rows)]
        want_rows += len(want)
        assert sorted(got[conv]) == sorted(want), conv
    assert want_rows == sum(len(v) for v in got.values()) > 0


def test_job_run_dense_assembly_matches_oracle(spark, tmp_path):
    """``job.py``'s default ``--assembled`` form end to end: one
    in-process ``job.run`` with ``--assembled-mode dense``; the written
    segments equal the per-conversation oracle over the written spans."""
    import duckdb

    import job

    out = {s: str(tmp_path / s) for s in ("spans", "assembled")}
    line = job.run(spark, job.parse_args([
        "--input", "gen:12", "--output", out["spans"],
        "--assembled", out["assembled"], "--assembled-mode", "dense",
    ]))
    cols = [f.name for f in assemble.ASSEMBLED.fields]
    by_conv: dict = {}
    for conv, turn, seq, bbox, qn, text in duckdb.sql(
        "select conv_id, turn_idx, seq, bbox, question_number, span_text"
        f" from '{out['spans']}/*.parquet'"
    ).fetchall():
        by_conv.setdefault(conv, []).append(
            {"turn_idx": turn, "seq": seq, "bbox": bbox, "question_number": qn, "span_text": text}
        )
    got: dict = {}
    for r in duckdb.sql(f"select {', '.join(cols)} from '{out['assembled']}/*.parquet'").fetchall():
        got.setdefault(r[0], []).append(r[1:])
    assert sum(len(v) for v in by_conv.values()) == line["spans"] > 0
    assert set(got) == set(by_conv)
    assert any(r[-1] > 1 for segs in got.values() for r in segs)  # a continuation
    for conv, rows in by_conv.items():
        want = [tuple(o[c] for c in cols[1:]) for o in assemble.merge_continuations_py(rows)]
        assert sorted(got[conv]) == sorted(want), conv


@pytest.mark.parametrize("n_turns", [1, 2])
def test_single_turn_conversations_pass_through(spark, n_turns):
    spans = {"solo": [span(t, s, s + 1, f"{s+1}、题目完整。（2分）") for t in range(n_turns) for s in range(2)]}
    out = assemble.merge_continuations(spans_df(spark, spans)).collect()
    assert len(out) == 2 * n_turns
    assert all(r.n_parts == 1 for r in out)


def _seg_set(df):
    # None question_numbers sort via repr key
    return sorted(
        ((r.conv_id, r.turn_first, r.turn_last, r.question_number, r.qtype,
          r.score, r.span_text, r.n_parts)
         for r in df.collect()),
        key=repr,
    )


_sparse_set = _dense_set = _seg_set


def test_sparse_equals_dense_on_cases(spark):
    df = spans_df(spark, CASES)
    assert _sparse_set(assemble.merge_continuations_sparse(df)) == _dense_set(
        assemble.merge_continuations(df)
    )


def test_sparse_equals_dense_end_to_end(spark):
    """The boundary-only plan produces the dense plan's segments
    segment-for-segment over the full generated corpus (head-key vs
    dense-ordinal is the only difference, projected out here)."""
    from xtract import gen, pipeline

    spans = pipeline.extract(gen.transcripts(spark, 30, partitions=4), mode="fused")
    sparse = assemble.merge_continuations_sparse(spans)
    dense = assemble.merge_continuations(spans)
    assert _sparse_set(sparse) == _dense_set(dense)
    # head identity is a real span of the segment's first turn
    heads = {(r.conv_id, r.head_turn, r.head_seq) for r in sparse.collect()}
    keys = {(r.conv_id, r.turn_idx, r.seq) for r in spans.collect()}
    assert heads <= keys


def test_sparse_plan_never_shuffles_span_table(spark):
    """The scale claim, asserted on the physical plan: the singleton
    branch reaches the union through a BroadcastHashJoin LeftAnti with
    no Exchange between the span scan and the join."""
    from xtract import gen, pipeline

    import contextlib
    import io

    spans = pipeline.extract(gen.transcripts(spark, 6, partitions=2), mode="fused")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assemble.merge_continuations_sparse(spans).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_sparse_mega_conversation_and_fuzz(spark):
    """Skew + fuzz: one mega-conversation (many spans per turn) plus
    randomized small conversations — sparse must equal dense, and the
    digest bound holds (boundary rows = 2 per multi-span turn)."""
    import random

    r = random.Random(20260817)
    by_conv = {}
    # mega: 40 turns x 25 spans (digest reduces 1000 spans -> 80 rows)
    mega = []
    for t_ in range(40):
        for s_ in range(25):
            qn = None if (s_ == 0 and r.random() < 0.5) else s_ + 1
            text = r.choice(
                ["1、题目完整。", "2、未结束的题干", "continuation body", "说明：见下页"]
            )
            mega.append(span(t_, s_, qn, text))
    by_conv["mega"] = mega
    # fuzz: random small convs with open/closed tails, gaps, nulls
    for c in range(25):
        rows = []
        t_ = 0
        for _ in range(r.randint(1, 6)):
            t_ += r.choice([1, 1, 1, 2])  # occasional turn gaps
            for s_ in range(r.randint(1, 3)):
                qn = None if r.random() < 0.4 else r.randint(1, 9)
                text = r.choice(
                    [None, "", "完整句子。", "被切断的内容", "x（5分）", "继续上一页"]
                )
                rows.append(span(t_, s_, qn, text))
        by_conv[f"fz{c}"] = rows
    df = spans_df(spark, by_conv)
    assert _sparse_set(assemble.merge_continuations_sparse(df)) == _dense_set(
        assemble.merge_continuations(df)
    )
