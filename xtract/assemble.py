"""Cross-turn span assembly: merge question spans that a page break
split across consecutive turns of one conversation.

The reference processes one page at a time and cannot see page-break
continuations (its multi-question detection is warn-only across pages,
…vl_ocr.py:877-899, defect documented in
docs/试卷切题问题分析与优化方案.md:10-19). Over the transcripts table a
conversation IS the multi-page document, so the north rule's
"window-over-(conv_id, turn_idx) ordering … before span merge" gets a
real cross-turn operator:

**Ordering**: spans are taken in PHYSICAL page order within each turn
— (turn_idx, bbox_y1, seq), falling back to seq when no bbox — NOT in
the sentinel-999 output order of the structure stage (which sorts
unnumbered spans last, extractor.py:211-214, hiding a continuation
that physically leads its page).

**Continuation rule** (deterministic, pinned by tests): span S
continues its predecessor P (in physical order within the
conversation) iff
  - P is from exactly the previous turn (turn_idx - 1) — which makes
    S the physically-first span of its own turn, and
  - S carries no question number (an unnumbered leading block), and
  - P's text does not end with terminal punctuation or a closing
    bracket (。？！；?!;.）)】]) — a "（5分）" score marker closes a
    question even without a final period.
Chains merge transitively (a question split over 3+ pages).

Spark shape: one window over partitionBy(conv_id) orderBy(turn_idx,
phys, seq) producing a lag-based continuation flag, a running-sum
segment id (gaps-and-islands, same shape as W6), then a groupBy
ordered concat (same shape as A1). (Whitespace edge: Python ``\\s``
is unicode-aware, Java's is ASCII — irrelevant here because the
extractor strips span text, pinned by the composition test.)

Scale note: the DENSE per-conversation segment ordinal forces every
span through the conv_id shuffle (10^12 turns → the whole span table
moves once). ``merge_continuations_sparse`` is the 100-TB form: it
keys segments by the HEAD span's identity (conv_id, turn_first,
head_seq) instead of a dense ordinal, exploiting that only turn-
BOUNDARY spans (the physically first/last of each turn) can ever
participate in a continuation — a continuation must be its turn's
first span, and its predecessor must be the previous turn's last.
Running the same gaps-and-islands logic on the per-turn boundary
digest (ONE combined row per turn, produced by a map-side-combined
aggregation) yields exactly the dense path's segments; every span not
consumed by a multi-part segment passes through a BROADCAST anti-join
as a singleton — the full span table never transits an Exchange
(asserted in tests/test_assemble.py). The dense form is kept because
the single-node oracle (and the reference's output convention,
extractor.py:226-247 list order) number segments densely; the two are
pinned segment-for-segment equal in tests/test_assemble.py. Third
option: when spans land in a conv_id-BUCKETED table (catalog.py
``btable:`` refs), the dense plan itself goes shuffle-free — the
bucketed scan satisfies the window's distribution requirement
(tests/test_catalog.py asserts zero shuffle exchanges), so dense
semantics cost nothing given the right storage layout. Rows per
conversation ≈ spans, so a mega conversation holds ~3×turns small
rows in one task — bounded and documented (this final assembly is
inherently per-conversation-ordered).

Type/score are re-derived from the merged text (structure.qtype_col /
score_col semantics) — a continuation can complete the "（5分）" marker
that the head page lacked.
"""
from __future__ import annotations

import re
from typing import Any

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from . import structure

TERMINAL = "。？！；?!;.）)】\\]"
_TERMINAL_RE = re.compile(r"[。？！；?!;.）)】\]]\s*$")


def _is_open(text: str | None) -> bool:
    """True if the span text looks cut off (no terminal punctuation).
    Empty/whitespace-only predecessors are not open (nothing to
    continue)."""
    if not text or not text.strip():
        return False
    return not _TERMINAL_RE.search(text)


ASSEMBLED = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("segment", T.IntegerType(), False),
        T.StructField("turn_first", T.IntegerType(), False),
        T.StructField("turn_last", T.IntegerType(), False),
        T.StructField("question_number", T.IntegerType(), True),
        T.StructField("qtype", T.StringType(), False),
        T.StructField("score", T.IntegerType(), False),
        T.StructField("span_text", T.StringType(), True),
        T.StructField("n_parts", T.IntegerType(), False),
    ]
)


def _phys(r: dict[str, Any]) -> int:
    bbox = r.get("bbox")
    if bbox and len(bbox) == 4:
        return int(bbox[1])
    return int(r["seq"])


def merge_continuations_py(rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Single-conversation oracle. ``rows`` are span dicts with
    turn_idx/seq/question_number/span_text (+ optional bbox), any
    order."""
    from . import oracle

    ordered = sorted(rows, key=lambda r: (r["turn_idx"], _phys(r), r["seq"]))
    segments: list[list[dict[str, Any]]] = []
    for r in ordered:
        prev = segments[-1][-1] if segments else None
        cont = (
            prev is not None
            and r["question_number"] is None
            and r["turn_idx"] == prev["turn_idx"] + 1
            and _is_open(prev["span_text"])
        )
        if cont:
            segments[-1].append(r)
        else:
            segments.append([r])
    out = []
    for i, seg in enumerate(segments):
        text = "\n".join(p["span_text"] or "" for p in seg) if len(seg) > 1 else seg[0]["span_text"]
        safe = text or ""
        out.append(
            {
                "segment": i,
                "turn_first": seg[0]["turn_idx"],
                "turn_last": seg[-1]["turn_idx"],
                "question_number": seg[0]["question_number"],
                "qtype": oracle.classify_qtype(safe),
                "score": oracle.extract_score(safe),
                "span_text": text,
                "n_parts": len(seg),
            }
        )
    return out


def _phys_rows(spans: DataFrame) -> DataFrame:
    """The columns assembly reads, plus ``phys``: the span's top y
    (bbox[1]) when it has a 4-element bbox, else its seq."""
    phys = (
        F.when(F.size(F.col("bbox")) == 4, F.col("bbox")[1]).otherwise(F.col("seq"))
        if "bbox" in spans.columns
        else F.col("seq")
    )
    return spans.select(
        "conv_id",
        "turn_idx",
        "seq",
        "question_number",
        "span_text",
        phys.cast("int").alias("phys"),
    )


def _islands(rows: DataFrame) -> DataFrame:
    """The continuation rule (module docstring) as one window over
    ``_phys_rows`` columns: ``seg1`` is the 1-based running segment
    number of each row within its conversation (gaps-and-islands)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "phys", "seq")
    prev_turn = F.lag("turn_idx").over(w)
    prev_text = F.lag("span_text").over(w)
    continuation = (
        prev_turn.isNotNull()
        & F.col("question_number").isNull()
        & (F.col("turn_idx") == prev_turn + 1)
        & prev_text.isNotNull()
        & (F.length(F.trim(prev_text)) > 0)
        & ~prev_text.rlike(f"[{TERMINAL}]\\s*$")
    )
    return rows.select(
        "conv_id",
        "turn_idx",
        "seq",
        "phys",
        "question_number",
        "span_text",
        F.sum(F.when(continuation, 0).otherwise(1)).over(w).alias("seg1"),
    )


def _segments(flagged: DataFrame, key) -> DataFrame:
    """One row per (conv_id, ``key``) island of ``_islands`` rows: its
    first and last turn, its part count and its parts ``ps`` in
    physical order."""
    return flagged.groupBy("conv_id", key).agg(
        F.min("turn_idx").alias("turn_first"),
        F.max("turn_idx").alias("turn_last"),
        F.count("*").cast("int").alias("n_parts"),
        F.array_sort(
            F.collect_list(
                F.struct("turn_idx", "phys", "seq", "span_text", "question_number")
            )
        ).alias("ps"),
    )


def _typed(merged: DataFrame, out: T.StructType) -> DataFrame:
    """``merged`` projected onto ``out``'s fields, qtype and score
    re-derived from the merged text."""
    safe = F.coalesce(F.col("span_text"), F.lit(""))
    derived = {"qtype": structure.qtype_col(safe), "score": structure.score_col(safe)}
    return merged.select(
        [derived[n].alias(n) if n in derived else n for n in out.fieldNames()]
    )


def merge_continuations(spans: DataFrame) -> DataFrame:
    """Distributed cross-turn assembly over schema.SPANS rows (bbox
    optional — physical order falls back to seq without it)."""
    parts = _segments(
        _islands(_phys_rows(spans)), (F.col("seg1") - 1).alias("segment")
    )
    text = F.when(
        F.col("n_parts") > 1,
        F.array_join(
            F.transform(F.col("ps"), lambda s: F.coalesce(s["span_text"], F.lit(""))),
            "\n",
        ),
    ).otherwise(F.element_at(F.col("ps"), 1)["span_text"])
    merged = parts.select(
        "conv_id",
        F.col("segment").cast("int"),
        "turn_first",
        "turn_last",
        F.element_at(F.col("ps"), 1)["question_number"].alias("question_number"),
        text.alias("span_text"),
        "n_parts",
    )
    return _typed(merged, ASSEMBLED)


# segment key = head-span identity instead of the dense ordinal
ASSEMBLED_SPARSE = T.StructType(
    [T.StructField("conv_id", T.StringType(), False)]
    + [
        T.StructField("head_turn", T.IntegerType(), False),
        T.StructField("head_seq", T.IntegerType(), False),
    ]
    + [f for f in ASSEMBLED.fields if f.name not in ("conv_id", "segment")]
)


def merge_continuations_sparse(spans: DataFrame) -> DataFrame:
    """Boundary-only assembly (the module-docstring scale form).

    Plan shape: the big span table is touched exactly twice, both
    times WITHOUT an exchange on its rows —
      1. a map-side-combined groupBy(conv_id, turn_idx) reduces each
         turn to one digest row (first/last span by physical order +
         span count) before anything shuffles; the dense window /
         island / ordered-concat logic then runs over digest-derived
         boundary spans (~2 per turn, any spans-per-turn fan-in), and
      2. a BROADCAST left-anti join removes the few spans consumed by
         multi-part segments; every surviving span becomes a singleton
         segment narrowly (no window, no shuffle).
    Multi-part output is keyed by (head_turn, head_seq) — stable span
    identity — instead of the dense per-conversation ordinal, which is
    the one thing the dense plan cannot compute without moving every
    span through the conv_id exchange."""
    base = _phys_rows(spans)

    span_struct = F.struct("phys", "seq", "question_number", "span_text")
    digest = base.groupBy("conv_id", "turn_idx").agg(
        F.min_by(span_struct, F.struct("phys", "seq")).alias("first"),
        F.max_by(span_struct, F.struct("phys", "seq")).alias("last"),
        F.count("*").alias("n_spans"),
    )
    # boundary spans reconstructed from the digest (single-span turns
    # contribute one row, not two)
    sides = F.when(
        F.col("n_spans") > 1, F.array(F.col("first"), F.col("last"))
    ).otherwise(F.array(F.col("first")))
    boundary = digest.select(
        "conv_id", "turn_idx", F.explode(sides).alias("s")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("s.seq").alias("seq"),
        F.col("s.question_number").alias("question_number"),
        F.col("s.span_text").alias("span_text"),
        F.col("s.phys").alias("phys"),
    )

    # the dense path's _islands, over the boundary subset — middle
    # spans can neither continue (their predecessor is same-turn) nor
    # be continued into (a continuation's predecessor must be a
    # turn-last span), so the segments agree
    multi = _segments(_islands(boundary), "seg1").filter(F.col("n_parts") > 1)

    head = F.element_at(F.col("ps"), 1)
    multi_out = multi.select(
        "conv_id",
        head["turn_idx"].alias("head_turn"),
        head["seq"].alias("head_seq"),
        "turn_first",
        "turn_last",
        head["question_number"].alias("question_number"),
        F.array_join(
            F.transform(F.col("ps"), lambda s: F.coalesce(s["span_text"], F.lit(""))),
            "\n",
        ).alias("span_text"),
        "n_parts",
    )

    # spans consumed by multi-part segments — a tiny set (continuations
    # are rare events), broadcast so the big side never shuffles
    consumed = F.broadcast(
        multi.select(
            F.explode("ps").alias("p"), F.col("conv_id").alias("c_conv")
        ).select(
            "c_conv",
            F.col("p.turn_idx").alias("c_turn"),
            F.col("p.seq").alias("c_seq"),
        )
    )
    singles = base.join(
        consumed,
        (F.col("conv_id") == F.col("c_conv"))
        & (F.col("turn_idx") == F.col("c_turn"))
        & (F.col("seq") == F.col("c_seq")),
        "left_anti",
    ).select(
        "conv_id",
        F.col("turn_idx").alias("head_turn"),
        F.col("seq").alias("head_seq"),
        F.col("turn_idx").alias("turn_first"),
        F.col("turn_idx").alias("turn_last"),
        "question_number",
        "span_text",
        F.lit(1).alias("n_parts"),
    )

    return _typed(multi_out.unionByName(singles), ASSEMBLED_SPARSE)
