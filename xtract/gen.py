"""Deterministic synthetic transcripts (FIXTURES.md §1-§2).

Every row is a pure function of ``(seed, conv_id, turn_idx)`` — no
global RNG state, no wall-clock — so generation runs distributed via
``sources.map_rows`` over a conversation range and any partition produces
identical bytes on every run (TESTDATA.md seed=42 convention).

Payload mix per FIXTURES.md §2: ~50% raw merged exam text (kind a),
~35% serialized layout-parse JSON (kind b), ~15% prose / tool output
(kind c). The corpus fragments mirror the reference's edge cases
(tests/test_splitter.py:46, docs/OCR结果二次拆分方案设计.md:406-440).
"""
from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from typing import Any, Iterator

SEED = 42
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# -- corpus ------------------------------------------------------------
NUM_FMT = [
    lambda n: f"{n}.",
    lambda n: f"{n}、",
    lambda n: f"({n})",
    lambda n: f"[{n}]",
    lambda n: f"【{n}】",
    lambda n: f"第{n}题",
]

BODIES = [
    "下图中有（ ）条线段，（ ）个角。",
    "找一个点D，使四边形ABCD是一个等腰梯形，画出这个等腰梯形。",
    "在这个等腰梯形中画一条线段，将其分成一个平行四边形与一个三角形。",
    "计算下列各题，能简算的要简算。",
    "判断：平行四边形的对角线互相平分。（ ）",
    "解答下列问题并证明你的结论，要求写出完整的推理过程，并说明每一步的依据是什么。",
    "选择正确答案填在括号里。A、平行 B、垂直 C、相交 D、重合",
    "求值：3x+5=20，x等于多少？请算出结果。",
    "填空：一个三角形的内角和是____度。",
    "小明从家到学校的速度为 1.5m/s，用时10分钟，求家到学校的距离。",
    "如图是用木棍摆成的图形，数一数共用了多少根木棍。",
    "简述平行四边形与梯形的区别，并分析它们的共同点。",
]

SCORE_MARKS = ["", "（2分）", "(3分)", "（5分）", "每题2分", ""]

SECTION_HEADS = [
    "五、解决问题。(共13分)",
    "三、判断题。(共10分)",
    "一、填空题。（共20分）",
]

TRAPS = [
    "参考资料：1.《物理学》 2.《化学基础》",
    "步骤：1.准备器材 2.连接电路 3.记录数据",
    "A. 选项1 B. 选项2 C. 选项3 D. 选项4",
    "物体运动速度为 1.5m/s，密度为 2.7g/cm3。",
]

META_LINES = ["时间：60分钟 满分：100分", "时间: 90分钟 满分: 120分"]

TITLES = [
    "六年级上册数学拔尖测试卷人教版",
    "三年级语文期末测试卷",
    "八年级英语阶段检测",
    "五年级数学单元练习",
]

PROSE = [
    "今天的会议纪要已经整理完毕，请查收附件并确认下一步安排。",
    "The quarterly report shows steady growth across all regions.",
    "模型训练已完成，验证集损失持续下降，建议继续观察。",
    "请注意，服务器将于本周末进行例行维护，预计停机两小时。",
]

TOOLS = ["ocr", "layout", "search"]
ROLES = ["user", "assistant", "tool"]


def _rng(conv_id: str, turn_idx: int) -> random.Random:
    key = f"{SEED}:{conv_id}:{turn_idx}".encode()
    return random.Random(int.from_bytes(hashlib.md5(key).digest()[:8], "big"))


def _question_text(r: random.Random, start: int, count: int, newline_p: float = 0.85) -> str:
    fmt = r.choice(NUM_FMT)
    parts = []
    for i in range(count):
        body = r.choice(BODIES)
        mark = r.choice(SCORE_MARKS)
        parts.append(f"{fmt(start + i)}{body}{mark}")
    sep = "\n" if r.random() < newline_p else ""
    out = sep.join(parts)
    if r.random() < 0.2:
        out += "\n" + r.choice(SECTION_HEADS)
    if r.random() < 0.25:
        out = r.choice(TRAPS) + "\n" + out
    return out


def _payload_a(r: random.Random) -> str:
    """Raw merged multi-question text."""
    n = r.randint(1, 5)
    txt = _question_text(r, r.randint(1, 15), n)
    if r.random() < 0.15:
        txt = r.choice(META_LINES) + "\n" + txt
    return txt


def _payload_b(r: random.Random) -> str:
    """Serialized layout-parse JSON (FIXTURES.md §2b)."""
    blocks: list[dict[str, Any]] = []
    lines: list[dict[str, Any]] = []
    # ids start at 1: the v2 sub-id scheme parent*100+i (reference
    # v2:151-153) collides with sibling ids when a parent id is 0 —
    # real reference pages never have that, so neither do our fixtures
    bid = 1
    y = 80

    def add(label: str, content: str, bbox: list[int]) -> int:
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

    width = 2000
    if r.random() < 0.5:
        add("doc_title", r.choice(TITLES), [400, y, width - 400, y + 70])
        y += 120
    if r.random() < 0.3:
        add("text", r.choice(META_LINES), [120, y, width - 120, y + 60])
        y += 100

    n_text = r.randint(1, 3)
    q_starts: list[int] = []
    for _ in range(n_text):
        merged = r.random() < 0.6
        qcount = r.randint(2, 4) if merged else 1
        q_start = r.randint(1, 12)
        q_starts.append(q_start)
        content = _question_text(r, q_start, qcount, newline_p=1.0)
        n_lines = content.count("\n") + 1
        h = 45 * n_lines + 14
        tb = [120, y, width - 120, y + h]
        tid = add("text", content, tb)
        if r.random() < 0.6:  # deterministic OCR-line geometry present
            for li, line_text in enumerate(content.split("\n")):
                top = 7.0 + 45.0 * li
                lw = float(min(len(line_text) * 34 + 20, width - 260))
                lines.append(
                    {
                        "block_id": tid,
                        "text": line_text,
                        "score": round(0.90 + r.random() * 0.09, 4),
                        "poly": [[8.0, top], [lw, top], [lw, top + 40.0], [8.0, top + 40.0]],
                    }
                )
        y += h
        # images below: ~half are "figure" placements (small gap,
        # centered under the text → clears the 0.85 confidence gate,
        # config.py:36), the rest scatter with gaps in [0,400] (some
        # past the 300px threshold, config.py:34); option rows share a
        # y within ±<50 (config.py:59)
        if r.random() < 0.55:
            n_img = r.choice([1, 1, 2, 3, 4])
            aligned = r.random() < 0.5
            gap = r.randint(0, 60) if aligned else r.randint(0, 400)
            iy = y + gap
            ih = r.randint(180, 330)
            tcx = (tb[0] + tb[2]) // 2
            if aligned and n_img == 1:
                iw = r.randint(300, 520)
                jx = r.randint(-60, 60)
                add("image", "", [tcx - iw // 2 + jx, iy, tcx - iw // 2 + jx + iw, iy + ih])
            else:
                ix = 160
                for _ in range(n_img):
                    jitter = r.randint(-24, 24)
                    iw = r.randint(260, 420)
                    add("image", "", [ix, iy + jitter, ix + iw, iy + jitter + ih])
                    ix += iw + r.randint(30, 90)
            y = iy + ih + 60
        # right-side image: horizontal gap in [0,250] vs the 200px
        # threshold; ~half vertically centered (high confidence)
        if r.random() < 0.2:
            hgap = r.randint(0, 30) if r.random() < 0.5 else r.randint(0, 250)
            icy = (tb[1] + tb[3]) // 2 + r.randint(-20, 20)
            add(
                "image",
                "",
                [tb[2] + hgap, icy - 100, tb[2] + hgap + 240, icy + 100],
            )
        y += 40
    # R10 fixture: an appendix figure whose caption names the FIRST
    # question (第N题图) but sits at the page bottom — spatially
    # nearest the LAST text block (or out of range entirely), so only
    # the caption join binds it to the right question
    if q_starts and r.random() < 0.35:
        iy = y + r.randint(0, 60)
        add("image", f"图注：第{q_starts[0]}题图", [700, iy, 1200, iy + 220])
        y = iy + 280
    if r.random() < 0.2:
        add("aside_text", "本卷共4页", [120, y, 400, y + 40])
        y += 60
    return json.dumps(
        {"page": {"width": width, "height": max(y + 100, 2800)}, "blocks": blocks, "lines": lines},
        ensure_ascii=False,
    )


def _payload_c(r: random.Random) -> str:
    if r.random() < 0.4:
        return json.dumps(
            {"status": "ok", "items": [r.randint(0, 99) for _ in range(3)], "msg": r.choice(PROSE)},
            ensure_ascii=False,
        )
    return "\n".join(r.choice(PROSE) for _ in range(r.randint(1, 3)))


def turn_row(conv_id: str, turn_idx: int, conv_ord: int) -> dict[str, Any]:
    """One deterministic transcript row."""
    r = _rng(conv_id, turn_idx)
    u = r.random()
    if u < 0.50:
        text = _payload_a(r)
    elif u < 0.85:
        text = _payload_b(r)
    else:
        text = _payload_c(r)
    role = ROLES[(turn_idx + r.randint(0, 1)) % 3]
    tool = r.choice(TOOLS) if role == "tool" else None
    ts = EPOCH + dt.timedelta(seconds=conv_ord * 3600 + 7 * turn_idx)
    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    }


MEGA_FACTOR = 100  # a mega-conversation's turns over its base count


def n_turns_for(conv_ord: int, mega_every: int = 0) -> int:
    """Deterministic turn count; every ``mega_every``-th conversation is
    a ``MEGA_FACTOR``× mega-conversation (skew fixture, FIXTURES.md §1)."""
    r = random.Random(
        int.from_bytes(hashlib.md5(f"{SEED}:n:{conv_ord}".encode()).digest()[:8], "big")
    )
    base = r.randint(4, 16)
    if mega_every and conv_ord % mega_every == 0:
        return base * MEGA_FACTOR
    return base


def conv_rows(conv_ord: int, mega_every: int = 0) -> Iterator[dict[str, Any]]:
    conv_id = f"conv{conv_ord:08d}"
    for t in range(n_turns_for(conv_ord, mega_every)):
        yield turn_row(conv_id, t, conv_ord)


def transcripts(spark, n_convs: int, partitions: int | None = None):
    """Distributed generation: one input row per conversation ordinal,
    fanned out to turns inside one map_rows kernel (no driver
    materialization, no shuffle). ``ts`` stays UTC-aware, which Arrow
    stores as the same instant whatever the session time zone."""
    from . import schema
    from .sources import map_rows

    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_convs, numPartitions=parts)
    return map_rows(base, ["id"], conv_rows, schema.TRANSCRIPTS)


# ------------------------------------------------------------- HTML pages
ARTICLE_SENTENCES = [
    "The committee reviewed the proposal in detail and concluded that the plan was feasible for the coming year.",
    "Researchers found that the new method improved accuracy by a wide margin across all of the benchmark datasets.",
    "In the second quarter the company reported steady growth in revenue and a modest increase in operating costs.",
    "The report describes how the system processes a large volume of records in parallel with minimal coordination.",
    "Observers noted that the policy change was likely to affect a number of industries over the following months.",
    "An analysis of the collected samples revealed a consistent pattern that supported the original hypothesis.",
]

NAV_WORDS = ["Home", "About", "Products", "Blog", "Contact", "Login", "Search"]


def html_page(r: random.Random) -> tuple[str, list[str]]:
    """One deterministic HTML page; returns (html, expected main-content
    paragraphs) — nav/header/footer/sidebar links are boilerplate."""
    paras = [
        " ".join(r.choice(ARTICLE_SENTENCES) for _ in range(r.randint(1, 3)))
        for _ in range(r.randint(2, 5))
    ]
    nav = "".join(
        f'<a href="/{w.lower()}">{w}</a> ' for w in r.sample(NAV_WORDS, 4)
    )
    side = "".join(
        f'<li><a href="#">{r.choice(NAV_WORDS)} {r.randint(1, 99)}</a></li>'
        for _ in range(r.randint(2, 5))
    )
    body = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        "<html><head><title>t</title><script>var x=1;</script></head><body>"
        f"<header><nav>{nav}</nav></header>"
        f"<div><ul>{side}</ul></div>"
        f"<article><h1>{r.choice(NAV_WORDS)}</h1>{body}</article>"
        f'<footer><a href="#">Terms</a> <a href="#">Privacy</a></footer>'
        "</body></html>"
    )
    return html, paras
