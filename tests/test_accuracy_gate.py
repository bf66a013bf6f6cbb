"""Accuracy-target regression gate (BASELINE.md, reference
docs/题目分割优化方案.md:1526-1533): the engine must meet the
reference's published quality bars on a LABELED corpus —

  detection ≥ 95%, mean bbox IoU ≥ 0.85,
  image association ≥ 90%, split accuracy ≥ 92%.

The ground truth is not the engine's own output: pages are SYNTHESIZED
FROM the labels (each question is allocated a line range, images are
placed under their owners, captions name their questions), so the
truth table exists before the engine runs. Noise (prose blocks,
trap lines, in-sentence numbers) is mixed in to keep precision
honest. Evaluated with evaluator.evaluate (reference
evaluator.py:15-161)."""
import json
import random

import pandas as pd
import pytest

from xtract import evaluator, pipeline, schema

N_PAGES = 40
X1, X2 = 120, 1880
LINE_H = 45

BODIES = [
    "计算下列各式的值并写出完整过程",
    "解答下面的应用题并说明理由",
    "判断下列说法的对错并改正",
    "在括号里填上合适的数（　）",
    "根据图中信息求出阴影部分面积",
    "证明下列结论并写出推理依据",
]
TRAPS = [
    "注意：本页共有3道大题，答题时保持卷面整洁。",
    "例如每组有5人，共有2组，答案写在框内。",
]


def _line_w(text: str) -> int:
    return min(len(text) * 34 + 20, X2 - X1 - 260)


def build_page(page_idx: int):
    """Returns (payload_json, truth_rows). Truth rows carry the span
    schema fields the evaluator consumes."""
    r = random.Random(0xACC0 + page_idx)
    conv = f"acc{page_idx:04d}"
    blocks, lines, truth = [], [], []
    bid = 1
    y = 100
    qn = 1

    def add_block(label, content, bbox):
        nonlocal bid
        blocks.append(
            {
                "block_label": label,
                "block_content": content,
                "block_bbox": bbox,
                "block_id": bid,
                "block_order": bid,
                "group_id": bid,
            }
        )
        bid += 1
        return bid - 1

    if r.random() < 0.5:
        add_block("text", TRAPS[r.randrange(len(TRAPS))], [X1, y, X2, y + 60])
        y += 100

    n_units = r.randint(2, 4)
    for u in range(n_units):
        merged = r.random() < 0.5
        count = r.randint(2, 3) if merged else 1
        # bodies/continuations carry NO digits: the reference locates a
        # question's line by substring match on str(number)
        # (question_splitter.py:242-275), so a digit inside another
        # line (e.g. a score mark) would hijack localization — the
        # labeled corpus keeps numbers unique to their own lines
        q_lines = []  # (qn, [line texts])
        for c in range(count):
            n_l = r.randint(1, 2)
            body = BODIES[r.randrange(len(BODIES))]
            txt_lines = [f"{qn}、{body}。"]
            for _ in range(n_l - 1):
                txt_lines.append("其中第二行给出补充条件与说明。")
            q_lines.append((qn, txt_lines))
            qn += 1
        all_lines = [t for _, ls in q_lines for t in ls]
        h = LINE_H * len(all_lines) + 14
        bb = [X1, y, X2, y + h]
        tid = add_block("text", "\n".join(all_lines), bb)
        # reference bbox convention for split spans (G1/G3,
        # question_splitter.py:310-407): full block width; top = the
        # located line's poly top; bottom = next span's top, block
        # bottom for the last span
        tops = []
        li = 0
        for q, ls in q_lines:
            tops.append(int(y + 7 + LINE_H * li))
            for t in ls:
                lt = 7.0 + LINE_H * li
                lw = float(_line_w(t))
                lines.append(
                    {
                        "block_id": tid,
                        "text": t,
                        "score": 0.95,
                        "poly": [[8.0, lt], [lw, lt], [lw, lt + 40.0], [8.0, lt + 40.0]],
                    }
                )
                li += 1
        for c, (q, ls) in enumerate(q_lines):
            bot = tops[c + 1] if c + 1 < len(q_lines) else y + h
            truth.append(
                {
                    "question_number": q,
                    "bbox": [X1, tops[c], X2, int(bot)] if merged else list(bb),
                    "image_ids": [],
                    "split_from_merged": count > 1,
                }
            )
        y += h
        # image under a SINGLE-question unit: the spatial owner is
        # unambiguous under the reference's confidence gate (vd=30 →
        # conf .94; any earlier block sits ≥100px higher → conf <.85)
        if not merged and r.random() < 0.6:
            iw = r.choice([400, 480])
            icx = (X1 + X2) // 2
            ib = [icx - iw // 2, y + 30, icx + iw // 2, y + 30 + 200]
            img_id = add_block("image", "", ib)
            t_owner = truth[-1]
            t_owner["image_ids"] = [img_id]
            t_owner["bbox"] = [
                min(t_owner["bbox"][0], ib[0]),
                min(t_owner["bbox"][1], ib[1]),
                max(t_owner["bbox"][2], ib[2]),
                max(t_owner["bbox"][3], ib[3]),
            ]
            y = ib[3] + 60
        y += 40

    # far captioned appendix figure (R10): owner is the NAMED question
    if truth and r.random() < 0.4:
        target = truth[r.randrange(len(truth))]
        if not target["image_ids"]:
            ib = [700, y + 420, 1200, y + 620]
            img_id = add_block("image", f"第{target['question_number']}题图", ib)
            target["image_ids"] = [img_id]
            target["bbox"] = [
                min(target["bbox"][0], ib[0]),
                min(target["bbox"][1], ib[1]),
                max(target["bbox"][2], ib[2]),
                max(target["bbox"][3], ib[3]),
            ]
            y = ib[3] + 40

    payload = json.dumps(
        {"page": {"width": 2000, "height": max(y + 200, 2800)}, "blocks": blocks, "lines": lines},
        ensure_ascii=False,
    )
    rows = [
        {
            "conv_id": conv,
            "turn_idx": 0,
            "seq": i,
            "question_number": t["question_number"],
            "bbox": t["bbox"],
            "image_ids": t["image_ids"],
            "split_from_merged": t["split_from_merged"],
        }
        for i, t in enumerate(truth)
    ]
    return conv, payload, rows


@pytest.fixture(scope="module")
def corpus(spark):
    turns, truth = [], []
    for i in range(N_PAGES):
        conv, payload, rows = build_page(i)
        turns.append(
            {
                "conv_id": conv,
                "turn_idx": 0,
                "role": "tool",
                "text": payload,
                "tool": "layout",
                "ts": None,
            }
        )
        truth.extend(rows)
    tr = spark.createDataFrame(
        pd.DataFrame(turns, columns=[f.name for f in schema.TRANSCRIPTS.fields]),
        schema=schema.TRANSCRIPTS,
    )
    gt = spark.createDataFrame(
        pd.DataFrame(truth),
        schema="conv_id string, turn_idx int, seq int, question_number int, "
        "bbox array<int>, image_ids array<int>, split_from_merged boolean",
    )
    return tr, gt


def test_meets_reference_accuracy_targets(spark, corpus):
    tr, gt = corpus
    spans = pipeline.extract(tr, mode="fused")
    m = evaluator.evaluate(spans, gt).collect()[0].asDict()
    # reference bars: docs/题目分割优化方案.md:1528-1531
    assert m["detection_precision"] >= 0.95, m
    assert m["detection_recall"] >= 0.95, m
    assert m["detection_f1"] >= 0.95, m
    assert m["bbox_iou_mean"] >= 0.85, m
    assert m["image_association_acc"] >= 0.90, m
    assert m["split_accuracy"] >= 0.92, m


def test_relational_plan_same_metrics(spark, corpus):
    """The relational plan must clear the same bars (plan equivalence
    makes this near-redundant, but the gate is cheap and pins the
    quality floor to BOTH physical strategies)."""
    tr, gt = corpus
    spans = pipeline.extract(tr, mode="relational")
    m = evaluator.evaluate(spans, gt).collect()[0].asDict()
    assert m["detection_f1"] >= 0.95, m
    assert m["bbox_iou_mean"] >= 0.85, m
    assert m["image_association_acc"] >= 0.90, m
    assert m["split_accuracy"] >= 0.92, m
