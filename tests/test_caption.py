"""R10 caption-join override (docs/试卷切题问题分析与优化方案.md:118-133):
an image whose caption names its question (第N题图) binds to question N
even when a different question is spatially closer — in the oracle,
the fused kernel AND the relational plan."""
import json

import pandas as pd

from xtract import oracle, pipeline, schema


def _payload_caption_override() -> str:
    """Question 1 at the top, question 2 at the bottom; the image sits
    30px under question 2 (a slam-dunk spatial match for q2) but its
    caption says 第1题图."""
    blocks = [
        {
            "block_label": "text",
            "block_content": "1、计算下列各式的值并写出过程。（5分）",
            "block_bbox": [120, 100, 1880, 200],
            "block_id": 1,
            "block_order": 1,
            "group_id": 1,
        },
        {
            "block_label": "text",
            "block_content": "2、解答应用题并说明理由。（8分）",
            "block_bbox": [120, 900, 1880, 1000],
            "block_id": 2,
            "block_order": 2,
            "group_id": 2,
        },
        {
            "block_label": "image",
            "block_content": "第1题图",
            "block_bbox": [700, 1030, 1200, 1260],
            "block_id": 9,
            "block_order": 3,
            "group_id": 3,
        },
    ]
    return json.dumps(
        {"page": {"width": 2000, "height": 2800}, "blocks": blocks, "lines": []},
        ensure_ascii=False,
    )


def _one_turn_df(spark, text: str):
    row = {
        "conv_id": "cap",
        "turn_idx": 0,
        "role": "tool",
        "text": text,
        "tool": "layout",
        "ts": None,
    }
    return spark.createDataFrame(
        pd.DataFrame([row], columns=[f.name for f in schema.TRANSCRIPTS.fields]),
        schema=schema.TRANSCRIPTS,
    )


def _assignment(rows):
    return {
        r["question_number"]: tuple(r["image_ids"] or []) for r in rows
    }


def test_oracle_caption_overrides_spatial():
    rows = oracle.extract_turn(_payload_caption_override())
    got = {r["question_number"]: tuple(r["image_ids"]) for r in rows}
    assert got == {1: (9,), 2: ()}
    # the merged bbox of q1 must cover the far-away captioned figure
    q1 = next(r for r in rows if r["question_number"] == 1)
    assert q1["bbox"] == [120, 100, 1880, 1260]


def test_oracle_uncaptioned_still_spatial():
    payload = json.loads(_payload_caption_override())
    payload["blocks"][2]["block_content"] = ""
    rows = oracle.extract_turn(json.dumps(payload, ensure_ascii=False))
    got = {r["question_number"]: tuple(r["image_ids"]) for r in rows}
    assert got == {1: (), 2: (9,)}


def test_oracle_caption_without_target_falls_back():
    payload = json.loads(_payload_caption_override())
    payload["blocks"][2]["block_content"] = "第7题图"  # no question 7
    rows = oracle.extract_turn(json.dumps(payload, ensure_ascii=False))
    got = {r["question_number"]: tuple(r["image_ids"]) for r in rows}
    assert got == {1: (), 2: (9,)}


def test_caption_parity_all_plans(spark):
    tr = _one_turn_df(spark, _payload_caption_override())
    exp = {1: (9,), 2: ()}
    for mode in ("fused", "relational"):
        rows = [r.asDict() for r in pipeline.extract(tr, mode=mode).collect()]
        assert _assignment(rows) == exp, mode


def test_caption_leads_image_id_order(spark):
    """A question with both a caption binding and a spatial claim lists
    the caption image first — in every plan."""
    blocks = [
        {
            "block_label": "text",
            "block_content": "1、计算下列各式的值并写出过程。（5分）",
            "block_bbox": [120, 100, 1880, 200],
            "block_id": 1,
            "block_order": 1,
            "group_id": 1,
        },
        {
            # spatial match for q1 (centered, 30px below)
            "block_label": "image",
            "block_content": "",
            "block_bbox": [700, 230, 1300, 460],
            "block_id": 5,
            "block_order": 2,
            "group_id": 2,
        },
        {
            # far away, caption-bound to q1
            "block_label": "image",
            "block_content": "第1题图",
            "block_bbox": [700, 2000, 1200, 2230],
            "block_id": 9,
            "block_order": 3,
            "group_id": 3,
        },
    ]
    payload = json.dumps(
        {"page": {"width": 2000, "height": 2800}, "blocks": blocks, "lines": []},
        ensure_ascii=False,
    )
    exp = {1: (9, 5)}
    rows = oracle.extract_turn(payload)
    assert {r["question_number"]: tuple(r["image_ids"]) for r in rows} == exp
    tr = _one_turn_df(spark, payload)
    for mode in ("fused", "relational"):
        got = [r.asDict() for r in pipeline.extract(tr, mode=mode).collect()]
        assert _assignment(got) == exp, mode


def test_fullwidth_digit_caption_binds_all_plans(spark):
    """Reference-faithful digit handling: the reference's \\d caption
    matcher accepts full-width 第１题图, so ours must too — via an
    explicit ０-９ → 0-9 translate that is identical in Python, Spark
    and DuckDB (Java's \\d is ASCII, so widening the class instead
    would break cross-engine parity). A full-width caption binds in
    EVERY plan, overriding the spatial owner."""
    payload = json.loads(_payload_caption_override())
    payload["blocks"][2]["block_content"] = "第１题图"  # U+FF11
    text = json.dumps(payload, ensure_ascii=False)
    rows = oracle.extract_turn(text)
    exp = {r["question_number"]: tuple(r["image_ids"]) for r in rows}
    assert exp == {1: (9,), 2: ()}  # caption override wins
    tr = _one_turn_df(spark, text)
    for mode in ("fused", "relational"):
        got = [r.asDict() for r in pipeline.extract(tr, mode=mode).collect()]
        assert _assignment(got) == exp, mode
