"""Split stage: merged multi-question text blocks → per-question spans.

Spark mapping of SURVEY.md §2.3-§2.4 / §2.7: detection happens in the
Arrow UDF (detect.py); everything else — line lookup, positional
estimate (G2), y-ordering (W2), lead-boundaries (W3/G3), char slicing
(R11), sub-ids (G4) — is intra-row array logic: a block's matches
live in ONE array cell, so "lead" is just the next array element and
the stage is completely narrow (tests/test_plans.py asserts zero Exchange).

Each block yields a spans ARRAY (pass-through block → 1-element
array; split → one element per located match; v1 quirk: zero located
matches → empty array, the block vanishes, question_splitter.py
_split_by_positions over []), then a single explode. One scan, one
detection-UDF eval, no union.

Reference semantics (v1, question_splitter.py:33-90,338-407):
- ≤1 validated match → pass through, tagged if exactly 1 (:58-63)
- lines present → best-scoring line containing str(number); unresolved
  matches silently dropped (:242-275)
- no lines → linear char-ratio estimate for ALL matches (:277-308)
- boundaries: stable y-sort, bottom = next top else block bottom,
  min-height clamp 50px (:354-395)

v2 (test_exam_paper_analysis_vl_ocr_v2.py:97-245):
- strict detection (unanchored + line-start validation); deterministic
  arbitration when strict≠loose: prefer loose iff it consecutively
  extends strict (detect._arbitrate / oracle._prefer_loose — replaces
  the VL call v2:382-394, falls back to strict :390-399)
- line lookup per number via ^n\\.|^n、|第n题|\\(n\\) on the stripped
  line (:249-261); ANY miss aborts the whole split (:134-136)
- sub 0 slices from char 0 and keeps parent top; ids parent*100+i
  (:140-153); no min-height clamp
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .config import LIMITS
from .detect import detect_numbers_v1, detect_numbers_v2_arb, with_matches

SPAN_COLS = [
    "conv_id",
    "turn_idx",
    "block_pos",
    "span_ord",
    "question_number",
    "span_text",
    "bbox",
    "split_from_merged",
    "source_block_id",
    "confidence",
]


def _strip(col):
    """Python str.strip() parity: (?U) makes Java \\s match the same
    unicode whitespace class Python strips."""
    return F.regexp_replace(col, r"(?U)^\s+|\s+$", "")


def _finalize(tb: DataFrame, spans_arr) -> DataFrame:
    rows = tb.select(
        "conv_id",
        "turn_idx",
        "block_pos",
        F.explode(spans_arr).alias("sp"),
    )
    return rows.select(
        "conv_id",
        "turn_idx",
        "block_pos",
        *[F.col(f"sp.{c}").alias(c) for c in SPAN_COLS[3:]],
    )


def _span_struct(span_ord, qnum, text, bb, split, source_id, conf):
    """One element of a block's spans array (SPAN_COLS[3:])."""
    return F.struct(
        span_ord.cast("int").alias("span_ord"),
        qnum.cast("int").alias("question_number"),
        text.alias("span_text"),
        bb.alias("bbox"),
        split.alias("split_from_merged"),
        source_id.cast("int").alias("source_block_id"),
        conf.cast("double").alias("confidence"),
    )


def _text_blocks(blocks: DataFrame, detector):
    """The text blocks with ``detector``'s matches, and the columns
    both splits read: content ("" for NULL), bbox, block id, ``valid``
    (non-empty text and a 4-number bbox), the match count and the bbox
    corners."""
    tb = with_matches(blocks.filter(F.col("block.block_label") == "text"), detector)
    content = F.coalesce(F.col("block.block_content"), F.lit(""))
    bbox = F.col("block.block_bbox")
    valid = (F.length(content) > 0) & (F.size(bbox) == 4)
    corners = tuple(bbox[i] for i in range(4))
    return tb, content, bbox, F.col("block.block_id"), valid, F.size("matches"), corners


def split_spans(blocks: DataFrame) -> DataFrame:
    """exploded text blocks (sources.exploded_blocks) → span rows (v1
    semantics; split_spans_v2 for v2)."""
    tb, content, bbox, block_id, valid, n, (x1, y1, x2, y2) = _text_blocks(
        blocks, detect_numbers_v1
    )
    has_lines = F.size("own_lines") > 0

    whole = F.array(
        _span_struct(
            F.lit(0),
            F.when(valid & (n == 1), F.col("matches")[0]["number"]),
            F.col("block.block_content"),
            bbox,
            F.lit(False),
            block_id,
            F.lit(1.0),
        )
    )

    def locate(m, i):
        # v1 line lookup: best-scoring line CONTAINING str(number);
        # strict ">" keeps the first line on score ties (:253-260)
        num_str = m["number"].cast("string")
        containing = F.filter(
            F.col("own_lines"), lambda l: F.instr(l["text"], num_str) > 0
        )
        best = F.aggregate(
            containing,
            F.struct(
                F.lit(0.0).alias("score"),
                F.lit(None).cast("double").alias("rel_y"),
            ),
            lambda acc, l: F.when(
                F.coalesce(l["score"], F.lit(0.0)) > acc["score"],
                F.struct(
                    F.coalesce(l["score"], F.lit(0.0)).alias("score"),
                    F.array_min(F.transform(l["poly"], lambda p: p[1])).alias(
                        "rel_y"
                    ),
                ),
            ).otherwise(acc),
        )
        # estimate fallback (G2): int() truncation order as reference
        est_y = y1 + (y2.cast("double") - y1.cast("double")) * (
            m["position"].cast("double") / F.length(content)
        )
        top_y = F.when(
            has_lines,
            F.when(best["rel_y"].isNotNull(), (y1 + best["rel_y"]).cast("int")),
        ).otherwise(est_y.cast("int"))
        conf = F.when(has_lines, best["score"]).otherwise(
            F.lit(LIMITS.estimate_confidence)
        )
        # field order (top_y, m_pos, …) = stable y-sort key for
        # array_sort, reproducing sorted(positions, key=y) (:354)
        return F.struct(
            top_y.alias("top_y"),
            i.alias("m_pos"),
            m["number"].alias("number"),
            m["lookup_pos"].alias("lookup_pos"),
            conf.alias("confidence"),
        )

    srt = F.array_sort(
        F.filter(
            F.transform(F.col("matches"), locate),
            lambda s: s["top_y"].isNotNull(),
        )
    )

    def to_span(s, i):
        nxt = F.try_element_at(srt, i + 2)  # 1-based: i+2 is the next
        end = F.coalesce(nxt["lookup_pos"], F.length(content))
        piece = _strip(
            F.substring(content, s["lookup_pos"] + 1, end - s["lookup_pos"])
        )
        bottom0 = F.coalesce(nxt["top_y"], y2)
        bottom = F.when(
            bottom0 - s["top_y"] < LIMITS.min_question_height,
            s["top_y"] + LIMITS.min_question_height,
        ).otherwise(bottom0)
        bb = F.array(
            x1.cast("int"), s["top_y"].cast("int"), x2.cast("int"), bottom.cast("int")
        )
        return _span_struct(
            i, s["number"], piece, bb, F.lit(True), block_id, s["confidence"]
        )

    spans_arr = F.when(~valid | (n <= 1), whole).otherwise(
        F.transform(srt, to_span)
    )
    return _finalize(tb, spans_arr)


def split_spans_v2(blocks: DataFrame) -> DataFrame:
    """v2 split; ``source_block_id`` carries the v2 id (parent*100+i
    for splits) — the group-assembly key of groups.py."""
    tb, content, bbox, block_id, valid, n, (x1, y1, x2, y2) = _text_blocks(
        blocks, detect_numbers_v2_arb
    )

    def line_top(m):
        num = m["number"].cast("string")
        pat = F.concat(
            F.lit("^"), num, F.lit("\\.|^"), num, F.lit("、|第"),
            num, F.lit("题|\\("), num, F.lit("\\)"),
        )
        hits = F.filter(
            F.col("own_lines"),
            lambda l: F.regexp_like(
                F.regexp_replace(l["text"], r"(?U)^\s+|\s+$", ""), pat
            ),
        )
        return F.when(
            F.size(hits) > 0,
            (y1 + F.array_min(F.transform(hits[0]["poly"], lambda p: p[1]))).cast(
                "int"
            ),
        )

    tops = F.transform(F.col("matches"), line_top)
    can_split = (
        valid
        & (n >= 2)
        & (F.size("own_lines") > 0)
        & ~F.exists(tops, lambda t_: t_.isNull())
    )
    tb = tb.withColumn("mt", F.arrays_zip("matches", tops.alias("tops"))).withColumn(
        "can_split", can_split
    )

    whole = F.array(
        _span_struct(
            F.lit(0),
            F.lit(None),
            F.col("block.block_content"),
            bbox,
            F.lit(False),
            block_id,
            F.lit(1.0),
        )
    )

    def to_span(s, i):
        nxt = F.try_element_at(F.col("mt"), i + 2)
        first = i == F.lit(0)
        start = F.when(first, F.lit(0)).otherwise(s["matches"]["position"])
        end = F.coalesce(nxt["matches"]["position"], F.length(content))
        piece = _strip(F.substring(content, start + 1, end - start))
        top = F.when(first, y1).otherwise(s["tops"])
        bottom = F.coalesce(nxt["tops"], y2)
        bb = F.array(
            x1.cast("int"), top.cast("int"), x2.cast("int"), bottom.cast("int")
        )
        return _span_struct(
            i,
            s["matches"]["number"],
            piece,
            bb,
            F.lit(True),
            block_id * LIMITS.sub_id_factor + i,
            F.lit(1.0),
        )

    spans_arr = F.when(~F.col("can_split"), whole).otherwise(
        F.transform(F.col("mt"), to_span)
    )
    return _finalize(tb, spans_arr)
