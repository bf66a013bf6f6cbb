"""Payload ingestion: turn text → typed layout blocks + OCR lines, and
``map_rows``, the one driver for the engine's stateless per-row Python
kernels.

Spark-first restatement of the reference's JSON scan
(extractor.py:62-74 loads ``parsing_res_list``): here the layout parse
is pre-materialized in the transcript ``text`` column (SURVEY.md §2.1
S1/S3) and decoded declaratively with ``from_json`` — no Python in this
stage, so Catalyst keeps column pruning / predicate pushdown across it.

Raw (non-JSON) payloads become a single synthetic ``text`` block with
the deterministic geometry shared with the oracle
(config.RAW_PAGE_WIDTH / RAW_LINE_HEIGHT).

``map_rows`` owns the Arrow batch loop every per-row kernel (the fused
extraction and analyzer kernels, the html, pdf, parity and greedy-merge
kernels, the synthetic generator) would otherwise restate: a row's
output depends on that row alone, so the plan is one narrow
``mapInPandas`` with no exchange. The order-dependent fold structure.conv_windows and
fingerprint.fingerprints' numpy kernel batch their own way.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from . import schema
from .config import RAW_LINE_HEIGHT, RAW_PAGE_WIDTH


def read_files(spark, path: str, glob_filter: str | None = None) -> DataFrame:
    """Files at ``path`` (a file, directory or glob) → (name, content:
    binary), ``name`` being the file's own name. binaryFile's ``path``
    column keeps names as written; ``input_file_name()`` and
    ``_metadata.file_name`` are URI-escaped (``my exam.html`` →
    ``my%20exam.html``), and ``url_decode`` would turn ``+`` into a
    space."""
    reader = spark.read.format("binaryFile")
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.load(path).select(
        F.element_at(F.split("path", "/"), -1).alias("name"), "content"
    )


def map_rows(
    df: DataFrame,
    cols: list[str],
    fn: Callable[..., Iterable[dict]],
    out_schema: T.StructType,
) -> DataFrame:
    """``fn(*values)`` over the ``cols`` values of every row of ``df``;
    each dict it yields, keyed by ``out_schema``'s fields, is one output
    row. Values arrive as plain Python objects (``tolist``): ints as
    ``int``, nulls as ``None``, except that an int column with a null
    in the batch arrives as floats, NaN for the null. A batch that
    yields no rows yields no frame."""
    names = out_schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r for vals in zip(*(pdf[c].tolist() for c in cols)) for r in fn(*vals)
            ]
            if rows:
                yield pd.DataFrame({n: [r[n] for r in rows] for n in names})

    return df.select(*cols).mapInPandas(kernel, schema=out_schema)


def parse_payloads(transcripts: DataFrame) -> DataFrame:
    """transcripts → (conv_id, turn_idx, role, tool, ts, blocks, lines).

    ``blocks``/``lines`` follow schema.PAYLOAD. A payload is treated as
    a layout parse iff it is a JSON object with a ``blocks`` array
    (oracle.parse_payload mirror); anything else — prose, tool JSON,
    malformed JSON — is wrapped as one raw text block.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    parsed = F.when(
        txt.rlike(r"^\s*\{"), F.from_json(txt, schema.PAYLOAD)
    ).otherwise(F.lit(None).cast(schema.PAYLOAD))

    raw_height = F.lit(RAW_LINE_HEIGHT) * F.size(F.split(txt, "\n", -1))
    raw_block = F.array(
        F.struct(
            F.lit("text").alias("block_label"),
            txt.alias("block_content"),
            F.array(
                F.lit(0), F.lit(0), F.lit(RAW_PAGE_WIDTH), raw_height.cast("int")
            ).alias("block_bbox"),
            F.lit(0).alias("block_id"),
            F.lit(0).alias("block_order"),
            F.lit(0).cast("int").alias("group_id"),
        )
    )

    is_layout = parsed.isNotNull() & parsed["blocks"].isNotNull()
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.when(is_layout, parsed["blocks"]).otherwise(raw_block).alias("blocks"),
        F.when(is_layout, F.coalesce(parsed["lines"], F.array().cast(schema.PAYLOAD["lines"].dataType)))
        .otherwise(F.array().cast(schema.PAYLOAD["lines"].dataType))
        .alias("lines"),
    )


def exploded_blocks(parsed: DataFrame) -> DataFrame:
    """One row per layout block, carrying its array ordinal (the
    reference's implicit list order, which drives greedy-merge priority
    — question_merger.py:60) and the block's own OCR lines resolved
    from the page-level ``lines`` array (an intra-row semi-join; no
    shuffle)."""
    out = parsed.select(
        "conv_id",
        "turn_idx",
        F.posexplode("blocks").alias("block_pos", "block"),
        F.col("lines"),
    )
    own_lines = F.filter(
        F.col("lines"), lambda l: l["block_id"] == F.col("block")["block_id"]
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "block_pos",
        "block",
        own_lines.alias("own_lines"),
    )
