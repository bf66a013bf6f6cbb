"""Question-number detection (SURVEY.md §2.3 R1-R5) as one Arrow-batched
scalar pandas UDF.

Python ``re`` is kept deliberately: the reference's five CJK patterns
with MULTILINE anchoring (config.py:40-46) have corner cases Java regex
handles differently, and the stateful >5-char positional dedup
(question_splitter.py:118-127) is a per-string scan that has no
columnar equivalent. Everything downstream of this UDF (geometry,
boundaries, slicing) is native Spark SQL.

A cheap native ``rlike`` pre-filter (SURVEY.md §4 staged-filtering
analogue) lets Catalyst skip the UDF for payloads that cannot contain
a question number.
"""
from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StructField,
    StructType,
)

from .config import LIMITS, PATTERNS_V1, PATTERNS_V2

MATCHES_TYPE = ArrayType(
    StructType(
        [
            StructField("number", IntegerType(), False),
            StructField("position", IntegerType(), False),
            StructField("matched_len", IntegerType(), False),
            # char position of the FIRST validated match with the same
            # number — the reference slices by number lookup, first hit
            # wins (question_splitter.py:357-376 ``next(...)``)
            StructField("lookup_pos", IntegerType(), False),
            StructField("pattern_idx", IntegerType(), False),
        ]
    )
)

# Native pre-filter: any digit, or a CJK numbering marker, must appear
# for any pattern to match. Cheap JVM-side gate before Arrow transfer.
PREFILTER = r"[0-9０-９]"

_COMPILED_V1 = [re.compile(p, re.MULTILINE) for p in PATTERNS_V1]
_COMPILED_V2 = [re.compile(p) for p in PATTERNS_V2]


def _scan(text: str, mode: str) -> list[tuple[int, int, int, int, int]]:
    """Single-string detection: multi-pattern finditer → position sort →
    positional dedup → line-start + following-content validation."""
    if not text:
        return []
    regexes = _COMPILED_V1 if mode == "v1" else _COMPILED_V2
    line_start = mode != "v2-loose"

    raw: list[tuple[int, int, int, int]] = []  # (pos, patt_idx, number, mlen)
    for pi, rx in enumerate(regexes):
        for m in rx.finditer(text):
            raw.append((m.start(), pi, int(m.group(1)), len(m.group(0))))
    raw.sort(key=lambda t: t[0])  # stable → pattern order breaks ties

    kept: list[tuple[int, int, int, int]] = []
    last = -10
    for item in raw:
        if item[0] - last > LIMITS.dedup_gap:
            kept.append(item)
            last = item[0]

    out: list[tuple[int, int, int, int, int]] = []
    first_pos_by_number: dict[int, int] = {}
    for pos, pi, number, mlen in kept:
        if line_start:
            if pos != 0:
                nl = text.rfind("\n", 0, pos)
                if nl == -1:
                    if pos >= LIMITS.line_start_tolerance:
                        continue
                elif text[nl + 1 : pos].strip() != "":
                    continue
        tail = text[pos + mlen : pos + LIMITS.following_window]
        if len(tail.strip()) < LIMITS.min_following_chars:
            continue
        lookup = first_pos_by_number.setdefault(number, pos)
        out.append((number, pos, mlen, lookup, pi))
    return out


@pandas_udf(MATCHES_TYPE)
def detect_numbers_v1(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _scan(t, "v1"))


_BOUNDARY_BEFORE = set("。？！；?!;.)）")


def _arbitrate(text: str) -> list[tuple[int, int, int, int, int]]:
    """v2 strict/loose arbitration (independent restatement of
    oracle._prefer_loose — the two cross-check in tests): prefer loose
    iff strict's numbers are a prefix of loose's, the whole loose
    sequence ascends consecutively from ≥1, AND every loose-only match
    follows a question terminator (terminal punctuation / closing
    paren — the "…(2分)4.…" shape)."""
    strict = _scan(text, "v2-strict")
    loose = _scan(text, "v2-loose")
    if len(strict) == len(loose):
        return strict
    sn = [t[0] for t in strict]
    ln = [t[0] for t in loose]
    if not (
        sn
        and len(ln) > len(sn)
        and ln[: len(sn)] == sn
        and ln[0] >= 1
        and ln == list(range(ln[0], ln[0] + len(ln)))
    ):
        return strict
    strict_pos = {t[1] for t in strict}
    for t in loose:
        if t[1] in strict_pos:
            continue
        before = text[: t[1]].rstrip()
        if not before or before[-1] not in _BOUNDARY_BEFORE:
            return strict
    return loose


@pandas_udf(MATCHES_TYPE)
def detect_numbers_v2_arb(texts: pd.Series) -> pd.Series:
    return texts.map(_arbitrate)


def with_matches(df, udf):
    """Attach a ``matches`` column: ``udf`` (one of the detectors above)
    over each block's content; the rlike pre-filter keeps rows with no
    digits out of the Arrow round-trip entirely."""
    c = F.col("block.block_content")
    return df.withColumn(
        "matches",
        F.when(c.rlike(PREFILTER), udf(c)).otherwise(
            F.array().cast(MATCHES_TYPE)
        ),
    )
