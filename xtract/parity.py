"""Distributed per-turn parity sweep (the north-rule metric itself).

The round's correctness criterion is "per-turn text equality against
the reference extractor's outputs under stable turn ordering"
(BASELINE.json metric; reference behavior pinned by
tests/test_parity.py at fixture scale against the pure-Python oracle,
which is itself a cited rewrite of extractor.py:36-136 /
question_splitter.py / question_merger.py semantics). This module
measures that equality AT CORPUS SCALE, fully distributed — no
`.collect()` of spans anywhere:

- the production kernel's spans are canonicalized per span in a
  map_rows kernel and digested per turn (md5 over the
  seq-ordered span list) behind one (conv_id, turn_idx) shuffle of
  canon strings;
- the pure-Python oracle runs INSIDE a map_rows kernel on the executors,
  emitting the same per-turn digest for every turn (the empty-span
  digest for turns that extract nothing), so the oracle pass scales
  with the cluster exactly like the kernel does;
- the two digest tables join on (conv_id, turn_idx) — 32-byte hex
  rows, never span text — and aggregate to a single pass-rate row.

At 10^12 turns the sweep costs one extra extraction pass plus a
digest-row join; ``sample_mod`` hash-samples conversations
(xxhash64 % mod == 0) for a cheap continuous-audit variant that keeps
whole conversations so turn ordering stays intact.

Both canonicalizations share ``_canon_val`` so None/NaN widening
(Arrow nullable ints arrive as float64) and bool/int formatting can
never diverge between the two sides.
"""
from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from typing import Any

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .sources import map_rows

_FSEP = "\x1f"  # between fields of one span
_SSEP = "\x1e"  # between spans of one turn


def _canon_val(v: Any) -> str:
    """Every span field is a (nullable) int, bool, string, or int
    array; floats only appear when Arrow widens a nullable int column
    to float64, so numeric values always canonicalize via int()."""
    if v is None:
        return ""
    if isinstance(v, str):
        return v
    if hasattr(v, "__len__"):  # list / tuple / numpy array
        return ",".join(_canon_val(x) for x in v)
    f = float(v)  # bool/np.bool_ -> 0.0/1.0; int/np.int -> exact
    if math.isnan(f):
        return ""
    return str(int(f))


_FIELDS = (
    "question_number",
    "qtype",
    "score",
    "span_text",
    "bbox",
    "has_image",
    "image_ids",
    "image_count",
    "split_from_merged",
    "source_block_id",
)


def _canon_span(seq: Any, d: dict[str, Any]) -> str:
    # zero-padded seq prefix makes lexicographic sort == seq order
    return _FSEP.join(
        [f"{int(seq):06d}"] + [_canon_val(d[f]) for f in _FIELDS]
    )


def turn_digest(canon_spans: list[str]) -> str:
    return hashlib.md5(_SSEP.join(sorted(canon_spans)).encode()).hexdigest()


EMPTY_DIGEST = turn_digest([])


DIGEST = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("digest", T.StringType(), False),
    ]
)


def spark_digests(spans: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, digest) from the kernel's span table: canon
    per span in a map_rows kernel, then ONE (conv_id, turn_idx)
    shuffle of canon strings into an md5-of-sorted-list agg. Spark's
    md5(array_join(array_sort(...))) bit-matches the Python
    ``turn_digest`` because the canon strings are built by the same
    helper on both sides."""
    canon_schema = T.StructType(
        DIGEST.fields[:2] + [T.StructField("canon", T.StringType(), False)]
    )

    def emit(conv_id: str, turn_idx: int, seq: int, *vals: Any) -> Iterator[dict]:
        canon = _canon_span(seq, dict(zip(_FIELDS, vals)))
        yield {"conv_id": conv_id, "turn_idx": turn_idx, "canon": canon}

    cols = ["conv_id", "turn_idx", "seq", *_FIELDS]
    return (
        map_rows(spans, cols, emit, canon_schema)
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.md5(
                F.array_join(F.array_sort(F.collect_list("canon")), _SSEP)
            ).alias("digest")
        )
    )


def oracle_digests(turns: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, digest) from the pure-Python oracle,
    executed ON THE EXECUTORS via map_rows — the reference
    semantics sweep the corpus at cluster parallelism, one digest row
    per input turn (empty-list digest when the oracle extracts
    nothing), no shuffle at all."""
    from . import oracle

    def emit(conv_id: str, turn_idx: int, text: str | None) -> Iterator[dict]:
        rows = oracle.extract_turn(text)
        canon = [_canon_span(i, r) for i, r in enumerate(rows)]
        yield {"conv_id": conv_id, "turn_idx": turn_idx, "digest": turn_digest(canon)}

    return map_rows(turns, ["conv_id", "turn_idx", "text"], emit, DIGEST)


def parity_report(
    turns: DataFrame, spans: DataFrame, sample_mod: int = 1
) -> DataFrame:
    """One-row report: full-outer join of the two digest tables on
    (conv_id, turn_idx) — digest rows only, never span text — with
    kernel-silent turns scored against the empty digest, then a
    global count agg. pass_rate_ppm is integer parts-per-million so
    the number is exact; an empty sample audits 0 turns with 0
    mismatches and a NULL pass rate. ``sample_mod`` > 1 audits only the
    conversations with ``xxhash64(conv_id) % sample_mod == 0``, on both
    sides, so whole conversations survive the sample and turn ordering
    within each is never broken."""
    if sample_mod > 1:
        keep = F.pmod(F.xxhash64("conv_id"), F.lit(sample_mod)) == 0
        turns, spans = turns.filter(keep), spans.filter(keep)
    o = oracle_digests(turns).withColumnRenamed("digest", "od")
    s = spark_digests(spans).withColumnRenamed("digest", "sd")
    j = o.join(s, ["conv_id", "turn_idx"], "full_outer")
    match = F.coalesce(F.col("sd"), F.lit(EMPTY_DIGEST)) == F.coalesce(
        F.col("od"), F.lit("<missing-oracle-row>")
    )
    return j.agg(
        F.count("*").cast("long").alias("n_turns"),
        F.count_if(match).alias("n_match"),
        F.count_if(~match).alias("n_mismatch"),
    ).select(
        "n_turns",
        "n_match",
        "n_mismatch",
        F.when(
            F.col("n_turns") > 0, F.expr("n_match * 1000000 div n_turns")
        ).alias("pass_rate_ppm"),
    )

