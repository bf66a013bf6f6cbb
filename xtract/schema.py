"""Explicit Spark schemas for every dataset the engine touches.

The reference passes untyped dicts everywhere (``dict.get`` with
defaults, e.g. question_splitter.py:48-49); we pin fixed StructTypes
because per-turn text equality needs byte-stable serialization.
"""
from __future__ import annotations

import pyspark.sql.types as T

# ---------------------------------------------------------------- input
# BASELINE.json input_hint: Iceberg table of multi-turn transcripts.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ------------------------------------------------------ payload (kind b)
# Mirror of the reference layout-parse element shape
# (result_data1.json parsing_res_list, loaded at extractor.py:71-74),
# plus deterministic OCR-line geometry (question_splitter.py:226-232).
BLOCK = T.StructType(
    [
        T.StructField("block_label", T.StringType(), True),
        T.StructField("block_content", T.StringType(), True),
        T.StructField("block_bbox", T.ArrayType(T.IntegerType()), True),
        T.StructField("block_id", T.IntegerType(), True),
        T.StructField("block_order", T.IntegerType(), True),
        T.StructField("group_id", T.IntegerType(), True),
    ]
)

LINE = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        # 4-point polygon, coordinates relative to the owning block's
        # crop origin (the reference OCRs a cropped region:
        # question_splitter.py:200-211).
        T.StructField("poly", T.ArrayType(T.ArrayType(T.DoubleType())), True),
    ]
)

PAYLOAD = T.StructType(
    [
        T.StructField(
            "page",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                ]
            ),
            True,
        ),
        T.StructField("blocks", T.ArrayType(BLOCK), True),
        T.StructField("lines", T.ArrayType(LINE), True),
    ]
)

# ---------------------------------------------------------------- output
# One row per extracted question span per turn (FIXTURES.md §4, plus a
# per-turn ``seq`` capturing the reference's post-sort list order so
# per-turn list equality is directly testable).
SPANS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("question_number", T.IntegerType(), True),
        T.StructField("qtype", T.StringType(), False),
        T.StructField("score", T.IntegerType(), False),
        T.StructField("span_text", T.StringType(), True),
        T.StructField("bbox", T.ArrayType(T.IntegerType()), True),
        T.StructField("has_image", T.BooleanType(), False),
        T.StructField("image_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("image_count", T.IntegerType(), False),
        T.StructField("split_from_merged", T.BooleanType(), False),
        T.StructField("source_block_id", T.IntegerType(), True),
    ]
)

# Sidecar lineage/checkpoint rows (FIXTURES.md §4).
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("splits", T.LongType(), False),
        T.StructField("merges", T.LongType(), False),
        T.StructField("checksum", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
