"""Single-node oracle: a pure-Python re-statement of the reference
pipeline's *deterministic* semantics, used as the parity target for the
Spark implementation (SURVEY.md §5.1/§5.3).

This is NOT the implementation — it exists so tests can assert
``spark_result == oracle_result`` per turn. Every behavior here cites
the reference file:line it mirrors. External-model stages (OCR, VL)
are replaced by their in-repo deterministic fallbacks per the north
rule: line geometry comes from fixture ``lines`` or the positional
estimate (question_splitter.py:277-308); VL image verification becomes
the spatial-confidence threshold (config.py:36, SURVEY.md §2.9 X2).
"""
from __future__ import annotations

import json
import re
from typing import Any, Optional

from .config import (
    LIMITS,
    PATTERNS_V1,
    PATTERNS_V2,
    QTYPE_ANSWER,
    QTYPE_BLANK,
    QTYPE_CALC,
    QTYPE_CHOICE,
    QTYPE_JUDGE,
    QTYPE_OTHER,
    RAW_LINE_HEIGHT,
    RAW_PAGE_WIDTH,
    SCORE_PATTERNS,
)

_V1 = [re.compile(p, re.MULTILINE) for p in PATTERNS_V1]
_V2 = [re.compile(p) for p in PATTERNS_V2]


# ----------------------------------------------------------------- detect
def _line_startish(pos: int, text: str) -> bool:
    """question_splitter.py:165-180 — at (or near) start of a line."""
    if pos == 0:
        return True
    nl = text.rfind("\n", 0, pos)
    if nl == -1:
        return pos < LIMITS.line_start_tolerance
    return text[nl + 1 : pos].strip() == ""


def _has_following_content(text: str, pos: int, matched_len: int) -> bool:
    """question_splitter.py:155-159 — ≥5 non-space chars in next 100."""
    tail = text[pos + matched_len : pos + LIMITS.following_window]
    return len(tail.strip()) >= LIMITS.min_following_chars


def detect(text: str, mode: str = "v1") -> list[dict[str, Any]]:
    """Find validated question-number matches.

    mode='v1'        → anchored patterns + MULTILINE (question_splitter.py:92-163)
    mode='v2-strict' → unanchored patterns, line-start validated (v2:401-500)
    mode='v2-loose'  → unanchored, content check only (v2:455-479 loose arm)
    """
    regexes = _V1 if mode == "v1" else _V2
    check_line_start = mode != "v2-loose"

    found: list[dict[str, Any]] = []
    for idx, rx in enumerate(regexes):
        for m in rx.finditer(text):
            found.append(
                {
                    "number": int(m.group(1)),
                    "position": m.start(),
                    "matched_str": m.group(0),
                    "pattern_idx": idx,
                }
            )
    # stable position sort, then the >5-char positional dedup
    # (question_splitter.py:119-127)
    found.sort(key=lambda d: d["position"])
    kept: list[dict[str, Any]] = []
    last = -10
    for cand in found:
        if cand["position"] - last > LIMITS.dedup_gap:
            kept.append(cand)
            last = cand["position"]
    # validation (question_splitter.py:134-163 / v2:453-483)
    out = []
    for cand in kept:
        if check_line_start and not _line_startish(cand["position"], text):
            continue
        if not _has_following_content(text, cand["position"], len(cand["matched_str"])):
            continue
        out.append(cand)
    return out


_BOUNDARY_BEFORE = set("。？！；?!;.)）")


def _prefer_loose(strict: list[dict], loose: list[dict], text: str) -> bool:
    """Deterministic replacement for the v2 VL arbitration
    (v2:382-394): side with loose iff BOTH hold —

    1. loose extends strict into one consecutive ascending run
       (strict's numbers as a prefix, extras appended continuing the
       sequence) — the consecutiveness sanity rule the reference
       itself applies to splits (…vl_ocr.py:885-890;
       docs/OCR结果二次拆分方案设计.md:485-497); and
    2. every loose-only match sits right after a question terminator
       — terminal punctuation or a closing paren, i.e. the "…(2分)4.…"
       shape where the previous question visibly ended mid-line.

    This reproduces the corpus's one VL-arbitrated outcome (page 2
    block 5) while rejecting the reference's documented false-positive
    corpus (docs/OCR结果二次拆分方案设计.md:406-440): in-prose numbering
    ("…电压为 5V，2.电流…") and reference lists ("《物理学》 2.…") have
    a comma/quote before the number, not a terminator. Mirrored by
    detect._arbitrate — the two implementations cross-check in
    tests."""
    sn = [m["number"] for m in strict]
    ln = [m["number"] for m in loose]
    if not (
        bool(sn)
        and len(ln) > len(sn)
        and ln[: len(sn)] == sn
        and ln[0] >= 1
        and ln == list(range(ln[0], ln[0] + len(ln)))
    ):
        return False
    strict_pos = {m["position"] for m in strict}
    for m in loose:
        if m["position"] in strict_pos:
            continue
        before = text[: m["position"]].rstrip()
        if not before or before[-1] not in _BOUNDARY_BEFORE:
            return False
    return True


def detect_v2(text: str) -> Optional[list[dict[str, Any]]]:
    """v2 strict/loose arbitration: equal counts → strict
    (v2:377-380); unequal → the deterministic consecutive-extension
    rule above, falling back to strict (the no-VL fallback v2:390-399
    remains the default arm)."""
    strict = detect(text, "v2-strict")
    loose = detect(text, "v2-loose")
    chosen = strict
    if len(strict) != len(loose) and _prefer_loose(strict, loose, text):
        chosen = loose
    if len(chosen) <= 1:
        return None
    return chosen


# --------------------------------------------------------------- geometry
def poly_to_bbox(poly: list[list[float]], origin: list[int]) -> list[int]:
    """4-point poly (crop-relative) → page-absolute rect
    (question_splitter.py:310-336). int() floors, per reference."""
    xs = [p[0] for p in poly]
    ys = [p[1] for p in poly]
    return [
        int(origin[0] + min(xs)),
        int(origin[1] + min(ys)),
        int(origin[0] + max(xs)),
        int(origin[1] + max(ys)),
    ]


def estimate_positions(
    matches: list[dict[str, Any]], bbox: list[int], content: str
) -> list[dict[str, Any]]:
    """Linear char-ratio estimate, the deterministic fallback
    (question_splitter.py:277-308)."""
    x1, y1, x2, y2 = bbox
    height = y2 - y1
    n = len(content)
    out = []
    for m in matches:
        frac = m["position"] / n if n > 0 else 0
        ey = y1 + int(height * frac)
        out.append(
            {
                "number": m["number"],
                "bbox": [x1, ey, x2, ey + LIMITS.estimate_height],
                "confidence": LIMITS.estimate_confidence,
                "estimated": True,
            }
        )
    return out


def locate_v1(
    matches: list[dict[str, Any]],
    bbox: list[int],
    lines: list[dict[str, Any]],
) -> list[dict[str, Any]]:
    """v1 OCR-line lookup: best-scoring line whose text *contains*
    str(number); unmatched numbers are silently dropped
    (question_splitter.py:242-275)."""
    out = []
    for m in matches:
        needle = str(m["number"])
        best = None
        best_score = 0.0
        for ln in lines:
            if needle in (ln.get("text") or ""):
                sc = ln.get("score") or 0.0
                if sc > best_score:
                    best_score = sc
                    best = ln
        if best is not None and best.get("poly"):
            out.append(
                {
                    "number": m["number"],
                    "bbox": poly_to_bbox(best["poly"], bbox),
                    "confidence": best_score,
                    "estimated": False,
                }
            )
    return out


# ------------------------------------------------------------------ split
def split_block_v1(block: dict[str, Any], lines: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The production split path (question_splitter.py:33-90,338-407).

    Returns the block unchanged when no split applies; returns [] when
    located positions are empty (reference quirk: _split_by_positions
    over an empty position list yields nothing, the block vanishes).
    """
    content = block.get("block_content", "")
    bbox = block.get("block_bbox", [])
    # P2 guard, hardened: the reference checks only falsiness
    # (question_splitter.py:51) and would crash unpacking a malformed
    # bbox downstream (:288); we define size≠4 → pass through whole,
    # unnumbered — identical to the Spark plans' `valid` predicate
    if not content or len(bbox) != 4:
        return [dict(block)]

    matches = detect(content, "v1")
    if len(matches) <= 1:
        out = dict(block)
        if matches:
            out["question_number"] = matches[0]["number"]
        return [out]

    if lines:
        positions = locate_v1(matches, bbox, lines)
    else:
        positions = estimate_positions(matches, bbox, content)

    # order by located y (stable ⇒ insertion order breaks ties):
    # question_splitter.py:354
    positions = sorted(positions, key=lambda p: p["bbox"][1])

    def match_for(number: int) -> Optional[dict[str, Any]]:
        return next((m for m in matches if m["number"] == number), None)

    out_blocks = []
    for i, pos in enumerate(positions):
        cur = match_for(pos["number"])
        if cur is None:
            continue
        nxt = match_for(positions[i + 1]["number"]) if i + 1 < len(positions) else None
        if nxt is not None:
            piece = content[cur["position"] : nxt["position"]].strip()
        else:
            piece = content[cur["position"] :].strip()

        top = pos["bbox"][1]
        bottom = positions[i + 1]["bbox"][1] if i + 1 < len(positions) else bbox[3]
        if bottom - top < LIMITS.min_question_height:
            bottom = top + LIMITS.min_question_height

        out_blocks.append(
            {
                "block_label": "text",
                "block_content": piece,
                "block_bbox": [bbox[0], top, bbox[2], bottom],
                "question_number": cur["number"],
                "original_block_id": block.get("block_id"),
                "split_from_merged": True,
                "confidence": pos.get("confidence", 1.0),
            }
        )
    return out_blocks


def _v2_line_has_number(text: str, number: int) -> bool:
    """v2:249-261 — per-number literal matcher on a stripped line."""
    t = text.strip()
    n = number
    return bool(
        re.search(rf"^{n}\.", t)
        or re.search(rf"^{n}、", t)
        or re.search(rf"第{n}题", t)
        or re.search(rf"\({n}\)", t)
    )


def split_block_v2(block: dict[str, Any], lines: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """v2 OCR-based splitter (v2:97-245): first sub-block slices from
    char 0 and uses the parent's top y; any line-lookup miss aborts the
    whole split (v2:134-136). No min-height clamp."""
    content = block.get("block_content", "") or ""
    bbox = block.get("block_bbox", [])
    if not content or len(bbox) != 4:
        return [dict(block)]
    matches = detect_v2(content)
    if not matches or len(matches) < 2:
        return [dict(block)]
    if not lines:
        return [dict(block)]

    x1, y1, x2, y2 = bbox

    def line_top(number: int) -> Optional[int]:
        for ln in lines:
            if _v2_line_has_number(ln.get("text") or "", number):
                return poly_to_bbox(ln["poly"], bbox)[1]
        return None

    tops = []
    for m in matches:
        t = line_top(m["number"])
        if t is None:
            return [dict(block)]  # v2:134-136 abort, keep whole block
        tops.append(t)

    out = []
    for i, m in enumerate(matches):
        start = 0 if i == 0 else m["position"]
        end = matches[i + 1]["position"] if i + 1 < len(matches) else len(content)
        top = y1 if i == 0 else tops[i]
        if i + 1 < len(matches):
            nxt_top = line_top(matches[i + 1]["number"])
            bottom = nxt_top if nxt_top is not None else y2
        else:
            bottom = y2
        out.append(
            {
                "block_label": block.get("block_label", "text"),
                "block_content": content[start:end].strip(),
                "block_bbox": [x1, top, x2, bottom],
                "block_id": (block.get("block_id") or 0) * LIMITS.sub_id_factor + i,
                "question_number": m["number"],
                "original_block_id": block.get("block_id"),
                "split_from_merged": True,
            }
        )
    return out


# ------------------------------------------------------------------ merge
def _horizontally_related(tb: list[int], ib: list[int]) -> bool:
    """question_merger.py:222-249 — 4-way horizontal relation."""
    tl, tr = tb[0], tb[2]
    il, ir = ib[0], ib[2]
    tcx = (tl + tr) / 2
    icx = (il + ir) / 2
    if tl <= icx <= tr:
        return True
    if il <= tcx <= ir:
        return True
    if il <= tr and ir >= tl:
        return True
    if abs(icx - tcx) < LIMITS.max_horizontal_distance:
        return True
    return False


def spatial_confidence(tb: list[int], ib: list[int], direction: str) -> float:
    """question_merger.py:287-327 — 0.6·distance + 0.4·alignment."""
    tl, tt, tr, tbot = tb
    il, it, ir, ibot = ib
    if direction == "below":
        dist_score = max(0.0, 1 - (it - tbot) / LIMITS.max_vertical_distance)
        align = max(0.0, 1 - abs((tl + tr) / 2 - (il + ir) / 2) / (tr - tl))
    else:
        dist_score = max(0.0, 1 - (il - tr) / LIMITS.max_horizontal_distance)
        align = max(0.0, 1 - abs((tt + tbot) / 2 - (it + ibot) / 2) / (tbot - tt))
    return LIMITS.conf_weight_distance * dist_score + LIMITS.conf_weight_alignment * align


def candidates_for(
    text_block: dict[str, Any],
    image_blocks: list[dict[str, Any]],
    used: set,
) -> list[dict[str, Any]]:
    """question_merger.py:135-220 — spatial candidate search, distance
    sort, row grouping (a stable no-op on order), top-8 cap."""
    tb = text_block.get("block_bbox", [])
    if len(tb) != 4:
        return []
    cands = []
    for img in image_blocks:
        if img.get("block_id") in used:
            continue
        ib = img.get("block_bbox", [])
        if len(ib) != 4:
            continue
        if ib[1] < tb[3]:  # image starts above the text bottom
            hd = ib[0] - tb[2]
            if 0 < hd < LIMITS.max_horizontal_distance:
                cands.append(
                    {
                        "block": img,
                        "distance": hd,
                        "direction": "right",
                        "confidence": spatial_confidence(tb, ib, "right"),
                    }
                )
            continue
        vd = ib[1] - tb[3]
        if vd > LIMITS.max_vertical_distance:
            continue
        if _horizontally_related(tb, ib):
            cands.append(
                {
                    "block": img,
                    "distance": vd,
                    "direction": "below",
                    "confidence": spatial_confidence(tb, ib, "below"),
                }
            )
    cands.sort(key=lambda c: c["distance"])  # stable
    # row grouping (question_merger.py:251-285) never reorders — skip
    return cands[: LIMITS.max_images_per_question]


# [0-9] (not \d) + explicit full-width normalization: the reference
# matches captions with Python \d, which is unicode-aware (第１题图's
# full-width digit binds there), while Spark/Java regexp_extract's \d
# is ASCII. Translating ０-９ → 0-9 before an ASCII-class match keeps
# the oracle and the native plans byte-identical AND preserves the
# reference's full-width acceptance (merge._caption_src is the Spark
# twin of _FW_TRANS).
_RX_CAPTION = re.compile(r"第([0-9]+)题图")
_FW_TRANS = str.maketrans("０１２３４５６７８９", "0123456789")


def merge_turn(
    text_blocks: list[dict[str, Any]], image_blocks: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Greedy exclusive text↔image assignment in text-block order
    (question_merger.py:38-133). VL verification replaced by the
    spatial-confidence ≥ 0.85 rule (SURVEY.md §2.9 X2).

    R10 caption pre-pass (docs/试卷切题问题分析与优化方案.md:118-133):
    an image whose caption text names its question (第N题图) is bound
    to the FIRST text block carrying question_number N — before, and
    regardless of, spatial candidacy. Caption-bound images are marked
    used, so they can never be claimed spatially by a closer competitor.
    The bbox-validity gate (P3) applies to caption images too; the
    spatial top-8 cap does not (the binding is explicit)."""
    used: set = set()
    cap_for: dict[int, list[dict[str, Any]]] = {}
    by_qn: dict[int, int] = {}
    for ti, tblk in enumerate(text_blocks):
        qn = tblk.get("question_number")
        if qn is not None and qn not in by_qn:
            by_qn[qn] = ti
    for img in image_blocks:
        m = _RX_CAPTION.search((img.get("block_content") or "").translate(_FW_TRANS))
        if not m or len(img.get("block_bbox") or []) != 4:
            continue
        ti = by_qn.get(int(m.group(1)))
        if ti is None:
            continue
        used.add(img.get("block_id"))
        cap_for.setdefault(ti, []).append(img)

    merged = []
    for ti, tblk in enumerate(text_blocks):
        cands = candidates_for(tblk, image_blocks, used)
        spatial = [c for c in cands if c["confidence"] >= LIMITS.spatial_confidence_threshold]
        verified = [{"block": b} for b in cap_for.get(ti, [])] + spatial
        for c in spatial:
            used.add(c["block"].get("block_id"))
        tb = tblk.get("block_bbox", [])
        if verified:
            # tb can be invalid when the ONLY bindings are caption ones
            # (spatial candidacy requires a valid text bbox, captions
            # don't) — exclude it from the merged-box extrema then
            boxes = ([tb] if len(tb) == 4 else []) + [
                c["block"].get("block_bbox", []) for c in verified
            ]
            bbox = [
                int(min(b[0] for b in boxes)),
                int(min(b[1] for b in boxes)),
                int(max(b[2] for b in boxes)),
                int(max(b[3] for b in boxes)),
            ]
        else:
            bbox = tb
        merged.append(
            {
                "question_id": tblk.get("question_number"),
                "text_content": tblk.get("block_content", ""),
                "has_image": bool(verified),
                "image_ids": [c["block"].get("block_id") for c in verified],
                "bbox": bbox,
                "split_from_merged": tblk.get("split_from_merged", False),
                "source_block_id": tblk.get(
                    "original_block_id", tblk.get("block_id")
                ),
                "spatial_candidates": len(cands),
            }
        )
    return merged


# -------------------------------------------------------------- structure
_RX_CHOICE = re.compile(r"[A-D][\.、]")
_RX_BLANK = re.compile(r"[（(]\s*[）)]|_{2,}")
_RX_JUDGE = re.compile(r"判断|对错|正确|错误|√|×|[（(]\s*[）)]")
_RX_CALC = re.compile(r"计算|求值|求出|算出")
_RX_ANSWER = re.compile(r"解答|证明|说明|分析|简述")
_RX_SCORE = [re.compile(p) for p in SCORE_PATTERNS]


def classify_qtype(content: str) -> str:
    """extractor.py:253-280 — first-match-wins chain."""
    if _RX_CHOICE.search(content):
        return QTYPE_CHOICE
    if _RX_BLANK.search(content):
        return QTYPE_BLANK
    if _RX_JUDGE.search(content) and len(content) < LIMITS.judge_max_len:
        return QTYPE_JUDGE
    if _RX_CALC.search(content):
        return QTYPE_CALC
    if _RX_ANSWER.search(content) or len(content) > LIMITS.answer_min_len:
        return QTYPE_ANSWER
    return QTYPE_OTHER


def extract_score(content: str) -> int:
    """extractor.py:282-303 — first pattern (in priority order) with a
    match anywhere wins; default 0."""
    for pat in _RX_SCORE:
        m = pat.search(content)
        if m:
            try:
                return int(m.group(1))
            except (ValueError, IndexError):
                continue
    return 0


def exam_info(blocks: list[dict[str, Any]]) -> dict[str, str]:
    """extractor.py:138-193 — title/subject/grade from doc_title,
    time/total from text blocks with first-complete early break."""
    info = {"title": "", "subject": "", "grade": "", "time_limit": "", "total_score": ""}
    for b in blocks:
        if b.get("block_label") == "doc_title":
            title = b.get("block_content", "")
            info["title"] = title
            if "数学" in title:
                info["subject"] = "数学"
            elif "语文" in title:
                info["subject"] = "语文"
            elif "英语" in title:
                info["subject"] = "英语"
            g = re.search(r"[一二三四五六七八九]年级", title)
            if g:
                info["grade"] = g.group(0)
    for b in blocks:
        if b.get("block_label") == "text":
            c = b.get("block_content", "")
            t = re.search(r"时间[：:]\s*(\d+)\s*分钟", c)
            if t:
                info["time_limit"] = f"{t.group(1)}分钟"
            s = re.search(r"满分[：:]\s*([\d+]+)\s*分", c)
            if s:
                info["total_score"] = s.group(1)
            if info["time_limit"] and info["total_score"]:
                break
    return info


# --------------------------------------------------------------- per-turn
def parse_payload(text: str) -> dict[str, Any]:
    """Classify a turn payload: layout JSON (FIXTURES.md §2b) vs raw
    text. Raw payloads get the synthetic single-block geometry shared
    with the Spark path (config.RAW_*)."""
    if text and text.lstrip().startswith("{"):
        try:
            doc = json.loads(text)
        except (ValueError, TypeError):
            doc = None
        if isinstance(doc, dict) and isinstance(doc.get("blocks"), list):
            return {"blocks": doc.get("blocks") or [], "lines": doc.get("lines") or []}
    nlines = (text or "").count("\n") + 1
    return {
        "blocks": [
            {
                "block_label": "text",
                "block_content": text or "",
                "block_bbox": [0, 0, RAW_PAGE_WIDTH, RAW_LINE_HEIGHT * nlines],
                "block_id": 0,
                "block_order": 0,
                "group_id": 0,
            }
        ],
        "lines": [],
    }


def extract_turn(text: str) -> list[dict[str, Any]]:
    """Full per-turn pipeline (extractor.py:36-136 production flow),
    returning FIXTURES.md §4 span rows (minus conv/turn keys)."""
    return extract_payload(parse_payload(text))


def extract_payload(payload: dict[str, Any]) -> list[dict[str, Any]]:
    """extract_turn on an already-parsed payload dict — lets sources
    that materialize payloads natively (e.g. the PDF content-stream
    parser) skip the JSON round-trip."""
    blocks = payload["blocks"]
    lines_by_block: dict[int, list] = {}
    for ln in payload["lines"]:
        lines_by_block.setdefault(ln.get("block_id"), []).append(ln)

    text_blocks = [b for b in blocks if b.get("block_label") == "text"]
    image_blocks = [b for b in blocks if b.get("block_label") == "image"]

    split_all: list[dict[str, Any]] = []
    for tb in text_blocks:
        split_all.extend(split_block_v1(tb, lines_by_block.get(tb.get("block_id"), [])))

    merged = merge_turn(split_all, image_blocks)

    # organize: sentinel-999 sort (extractor.py:211-214, `or` semantics)
    merged.sort(key=lambda q: q.get("question_id") or LIMITS.missing_number_sentinel)
    rows = []
    for q in merged:
        content = q.get("text_content", "")
        # classification coalesces null text to "" (the Spark plans'
        # qtype_col/score_col do the same); span_text keeps the null
        safe = content or ""
        rows.append(
            {
                "question_number": q.get("question_id"),
                "qtype": classify_qtype(safe),
                "score": extract_score(safe),
                "span_text": content,
                "bbox": [int(v) for v in (q.get("bbox") or [])],
                "has_image": q["has_image"],
                "image_ids": q["image_ids"],
                "image_count": len(q["image_ids"]),
                "split_from_merged": bool(q.get("split_from_merged")),
                "source_block_id": q.get("source_block_id"),
            }
        )
    return rows


# ----------------------------------------------------- v2 analyzer path
def analyze_turn(text: str) -> list[dict[str, Any]]:
    """The v2 analyzer flow with the deterministic X4 replacement
    (SURVEY.md §2.9): v2 split → greedy image assignment → rule-based
    grouping (doc_title→doc_title, paragraph_title→header,
    aside_text/number→aside, text→question) → J7 unassigned repair →
    A1 merged bbox + ordered text concat (…vl_ocr.py:781-851,
    v2:1131-1186).

    Group order: assembly order (refined-block order), unknown
    singletons appended sorted by id (the reference iterates a Python
    set there — we pin a deterministic order).
    """
    payload = parse_payload(text)
    blocks = payload["blocks"]
    lines_by_block: dict[int, list] = {}
    for ln in payload["lines"]:
        lines_by_block.setdefault(ln.get("block_id"), []).append(ln)

    refined: list[dict[str, Any]] = []
    for b in blocks:
        if b.get("block_label") == "text":
            refined.extend(split_block_v2(b, lines_by_block.get(b.get("block_id"), [])))
        else:
            refined.append(dict(b))

    by_id = {b.get("block_id"): b for b in refined}
    texts = [b for b in refined if b.get("block_label") == "text"]
    images = [b for b in refined if b.get("block_label") == "image"]

    merged = merge_turn(texts, images)

    groups: list[dict[str, Any]] = []
    qi = 0
    for b in refined:
        label = b.get("block_label")
        if label == "doc_title":
            groups.append({"type": "doc_title", "block_ids": [b["block_id"]]})
        elif label == "paragraph_title":
            groups.append({"type": "header", "block_ids": [b["block_id"]]})
        elif label in ("aside_text", "number"):
            groups.append({"type": "aside", "block_ids": [b["block_id"]]})
        elif label == "text":
            m = merged[qi]
            qi += 1
            groups.append(
                {
                    "type": "question",
                    "block_ids": [b["block_id"]] + list(m["image_ids"]),
                }
            )
    # J7: unassigned ids become 'unknown' singletons (…vl_ocr.py:822-851)
    assigned = {i for g in groups for i in g["block_ids"]}
    for uid in sorted(i for i in by_id if i not in assigned):
        groups.append({"type": "unknown", "block_ids": [uid]})

    # A1 merge: min/max bbox + space-joined non-empty texts in
    # block_ids order; all-missing → [0,0,0,0] / "" (v2:1131-1166)
    out = []
    for seq, g in enumerate(groups):
        xs1, ys1, xs2, ys2, txts = [], [], [], [], []
        for bid in g["block_ids"]:
            blk = by_id.get(bid)
            if blk is None:
                continue
            x1, y1, x2, y2 = blk["block_bbox"]
            xs1.append(x1)
            ys1.append(y1)
            xs2.append(x2)
            ys2.append(y2)
            if blk.get("block_content"):
                txts.append(blk["block_content"])
        bbox = (
            [int(min(xs1)), int(min(ys1)), int(max(xs2)), int(max(ys2))]
            if xs1
            else [0, 0, 0, 0]
        )
        out.append(
            {
                "group_seq": seq,
                "gtype": g["type"],
                "block_ids": g["block_ids"],
                "merged_bbox": bbox,
                "merged_text": " ".join(txts),
            }
        )
    return out
