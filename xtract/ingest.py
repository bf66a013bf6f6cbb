"""S1 envelope ingestion: PaddleOCR-VL ``layoutParsingResults`` JSON →
the engine's payload form (schema.PAYLOAD), mirroring the reference
scan `result_data['layoutParsingResults'][0]['prunedResult']
['parsing_res_list']` (extractor.py:62-74).

Declarative: ``from_json`` with the envelope schema, then struct
navigation — no Python. The converted payload feeds the same pipeline
as transcript turns, so a directory of raw layout-parse envelopes is a
first-class source.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from . import schema
from .sources import read_files

ENVELOPE = T.StructType(
    [
        T.StructField(
            "layoutParsingResults",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "prunedResult",
                            T.StructType(
                                [
                                    T.StructField("width", T.IntegerType(), True),
                                    T.StructField("height", T.IntegerType(), True),
                                    T.StructField(
                                        "parsing_res_list",
                                        T.ArrayType(schema.BLOCK),
                                        True,
                                    ),
                                ]
                            ),
                            True,
                        )
                    ]
                )
            ),
            True,
        )
    ]
)


def envelope_to_payload(envelope_json: F.Column) -> F.Column:
    """Column transform: raw envelope JSON string → payload struct."""
    env = F.from_json(envelope_json, ENVELOPE)
    pruned = env["layoutParsingResults"][0]["prunedResult"]
    return F.struct(
        F.struct(
            pruned["width"].alias("width"), pruned["height"].alias("height")
        ).alias("page"),
        pruned["parsing_res_list"].alias("blocks"),
        F.array().cast(schema.PAYLOAD["lines"].dataType).alias("lines"),
    )


def read_envelopes(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of envelope JSON files → transcripts-shaped rows
    (conv_id = file name, turn_idx = 0) whose ``text`` is the
    re-serialized payload, ready for pipeline.extract/analyze."""
    payload = envelope_to_payload(F.col("content").cast("string"))
    return read_files(spark, path).select(
        F.col("name").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.to_json(payload).alias("text"),
        F.lit("layout").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


JSONL_TRANSCRIPT_FIELDS = (
    "conv_id string, turn_idx int, role string, text string,"
    " tool string, ts timestamp, _corrupt string"
)


def read_jsonl_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines transcript reader for crawl deliveries: a plain
    line-splittable text scan parsed with ``from_json`` in PERMISSIVE
    mode so torn / malformed lines land in the struct's ``_corrupt``
    field instead of failing the job (the jsonl_ingest robustness
    contract, applied to the production input surface). Built on
    read.text + from_json rather than the schema'd PERMISSIVE json
    reader because Spark disallows plans that reference ONLY the
    corrupt-record column on raw JSON
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    documented remedy is caching the parse, which is exactly wrong at
    corpus scale; this form keeps both the good-row split and the
    quarantine split as independent parallel scans. Note PERMISSIVE
    from_json returns an all-null-fields struct (not a null struct)
    for malformed JSON — but a NULL struct outright for blank /
    whitespace-only lines — so the split keys on BOTH: a row is bad
    when the struct is NULL or the declared _corrupt field is
    populated (``is_bad``). Of the fields, only the key columns
    schema.TRANSCRIPTS declares non-null (conv_id, turn_idx) make a
    row bad when NULL; a NULL text or role stays a good row. Returns
    (raw string, r struct) rows; split with good_rows /
    corrupt_rows."""
    return spark.read.text(path).select(
        F.col("value").alias("raw"),
        F.from_json(
            "value",
            JSONL_TRANSCRIPT_FIELDS,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r"),
    )


def is_bad() -> F.Column:
    """NULL struct (blank/whitespace-only line), populated _corrupt
    (torn/malformed JSON), or a valid JSON line lacking a key column
    (NULL conv_id or turn_idx)."""
    return (
        F.col("r").isNull()
        | F.col("r._corrupt").isNotNull()
        | F.col("r.conv_id").isNull()
        | F.col("r.turn_idx").isNull()
    )


def good_rows(parsed: DataFrame) -> DataFrame:
    return parsed.filter(~is_bad()).select("r.*").drop("_corrupt")


def corrupt_rows(parsed: DataFrame) -> DataFrame:
    return parsed.filter(is_bad()).select("raw")
