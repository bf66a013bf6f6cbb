"""End-to-end extraction pipeline: one production plan and one
independent check of it.

- ``mode='fused'`` (default, the plan ``job.py`` runs): the whole
  per-turn extraction — payload parse, detect, split, merge, structure
  — runs as ONE Arrow-batched kernel (``sources.map_rows`` over
  ``span_rows``, which ``pdf.extract_pdf_turns`` shares). Per-turn
  extraction is embarrassingly parallel, so this plan has ZERO
  shuffles: scan → narrow map → sink. This is exactly the
  architecture the north star prescribes ("each turn's text payload
  is parsed via vectorized pandas/Arrow UDFs ... to emit extracted
  main-content spans per turn"); stable turn ordering is a property of
  the (conv_id, turn_idx) keys carried on every row, not of physical
  row order.

- ``mode='relational'`` (the operator-by-operator restatement): each
  reference operator is expressed as its Spark-native mapping
  (SURVEY.md §2 tables): from_json scan → posexplode → detection UDF →
  window lead-boundaries → cogrouped greedy merge → native
  structuring. Costs shuffles (split window, merge by turn key) but
  shares no per-turn code with the fused kernel, so the tests that
  assert both plans agree row-for-row check the extraction logic.

Skew note: every keyed operation here partitions by (conv_id,
turn_idx) or finer — never by conv_id alone — so mega-conversations
(FIXTURES.md §1) cannot concentrate on one task. Per-conversation
rollups (conversation_stats) do aggregate on conv_id, via partial
aggregation (map-side combine), which is skew-safe for counters.
"""
from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import merge as merge_mod
from . import oracle, schema, sources, split, structure


def extract(transcripts: DataFrame, mode: str = "fused") -> DataFrame:
    """transcripts → one row per extracted question span (schema.SPANS)."""
    if mode == "fused":
        return _extract_fused(transcripts)
    if mode != "relational":
        raise ValueError(f"unknown mode: {mode}")

    parsed = sources.parse_payloads(transcripts)
    blocks = sources.exploded_blocks(parsed)
    spans = split.split_spans(blocks)
    merged = merge_mod.merge_greedy(spans, merge_mod.image_blocks(blocks))
    return structure.structure(merged)


def span_rows(conv_id: str, turn_idx: int, payload: dict) -> Iterator[dict]:
    """One turn's parsed payload → its schema.SPANS rows, ``seq``
    numbering them in extraction order."""
    for seq, row in enumerate(oracle.extract_payload(payload)):
        yield {"conv_id": conv_id, "turn_idx": turn_idx, "seq": seq, **row}


def _extract_fused(transcripts: DataFrame) -> DataFrame:
    """Single-kernel plan. The kernel is the same per-turn logic the
    relational plan spells out operator-by-operator; tests cross-check
    the two plans and the pure-Python oracle against each other."""
    return sources.map_rows(
        transcripts,
        ["conv_id", "turn_idx", "text"],
        lambda c, t, text: span_rows(c, t, oracle.parse_payload(text)),
        schema.SPANS,
    )


def exam_info(transcripts: DataFrame) -> DataFrame:
    """Per-turn exam metadata (structure.exam_info)."""
    parsed = sources.parse_payloads(transcripts)
    return structure.exam_info(sources.exploded_blocks(parsed))


def conversation_stats(final_spans: DataFrame) -> DataFrame:
    """Per-conversation rollup — the one agg keyed by conv_id alone.
    Partial aggregation makes it skew-safe; a mega-conversation
    contributes pre-combined partial rows, not raw spans."""
    return final_spans.groupBy("conv_id").agg(
        F.count("*").alias("spans"),
        F.count_if(F.col("question_number").isNotNull()).alias("numbered"),
        F.count_if("has_image").alias("with_images"),
        F.sum("image_count").alias("images"),
        F.count_if("split_from_merged").alias("from_split"),
        F.countDistinct("turn_idx").alias("turns_with_spans"),
    )


def flatten_groups(groups: DataFrame) -> DataFrame:
    """Analyzer groups with array columns projected to sortable
    scalars (block_ids → csv, merged_bbox → 4 int columns) — the
    job.py --groups sink's row shape."""
    return groups.select(
        "conv_id",
        "turn_idx",
        "group_seq",
        "gtype",
        F.array_join(F.col("block_ids").cast("array<string>"), ",").alias(
            "block_ids_csv"
        ),
        F.try_element_at("merged_bbox", F.lit(1)).alias("bx1"),
        F.try_element_at("merged_bbox", F.lit(2)).alias("by1"),
        F.try_element_at("merged_bbox", F.lit(3)).alias("bx2"),
        F.try_element_at("merged_bbox", F.lit(4)).alias("by2"),
        "merged_text",
    )


def analyze(transcripts: DataFrame, mode: str = "fused") -> DataFrame:
    """v2-analyzer groups output (groups.GROUP_COLS): fused single
    kernel (the plan ``job.py`` runs), or the relational plan in
    groups.py, which the tests compare it with."""
    if mode == "relational":
        from . import groups

        return groups.analyze(transcripts)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("group_seq", T.IntegerType(), False),
            T.StructField("gtype", T.StringType(), False),
            T.StructField("block_ids", T.ArrayType(T.IntegerType()), False),
            T.StructField("merged_bbox", T.ArrayType(T.IntegerType()), False),
            T.StructField("merged_text", T.StringType(), False),
        ]
    )

    return sources.map_rows(
        transcripts,
        ["conv_id", "turn_idx", "text"],
        lambda c, t, text: (
            {"conv_id": c, "turn_idx": t, **g} for g in oracle.analyze_turn(text)
        ),
        out_schema,
    )
