"""Production-parameterized MinHash + LSH banding (128 permutations,
32 bands × 4 rows — the classic Broder/LSH construction).

All hashing is plain modular arithmetic, so the pure-Python oracle and
the numpy kernel compute the same signatures:
- shingle base hash: base-B polynomial over unicode codepoints mod M
  (the same family fingerprint.py uses, K=5 here)
- permutation i: h -> (a_i*h + b_i) mod M with the affine parameters
  DERIVED from i by a fixed formula (below) — no RNG state to ship,
  any reimplementation regenerates them from ``range(128)``.

Banding threshold: with b=32, r=4 the S-curve midpoint is
(1/b)^(1/r) ~= 0.42 Jaccard — pairs above ~0.5 are near-certain
candidates, pairs below ~0.2 near-certain non-candidates.

Scale shape: signatures are a narrow mapInPandas (one numpy
broadcast-min per batch); banding is explode(32 rows/doc) ->
band-key groupBy/self-join — the bucketed inverted-index form that
shuffles |bands| rows, never |doc|^2.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

K = 5  # shingle length (chars)
NPERM = 128
BANDS = 32
ROWS = 4  # NPERM == BANDS * ROWS
B = 131  # polynomial base (shared with fingerprint.py)
M = 1_000_000_007
# Default chars hashed per doc; every kernel below also takes ``cap``
# explicitly (cap=None = whole document — the 100-TB semantics,
# checked in tests/test_fulltext.py). Reference analogue: whole-text
# md5 keying, question_merger.py:568-609.
CAP = 400
# chars per kernel chunk when uncapped: bounds per-doc numpy memory on
# multi-MB documents; chunks overlap K-1 chars so the shingle stream —
# and therefore the signature — is EXACTLY the single-pass result
CHUNK = 1 << 16

# affine permutation parameters — a_i odd-ish multiplier, b_i offset;
# any fixed 2-universal-style family works for MinHash, this one is
# regenerable from ``i`` alone in SQL
_A_MUL = 2_654_435_761
_B_MUL = 40_503


def _perm_params() -> tuple[np.ndarray, np.ndarray]:
    i = np.arange(NPERM, dtype=np.int64)
    a = ((i + 1) * _A_MUL + 1) % M
    b = ((i + 1) * _B_MUL + 7) % M
    return a, b


# hoisted: constants, not per-document work (POW_MOD pattern)
_PERM_A, _PERM_B = _perm_params()


def _clip(text: str | None, cap: int | None) -> str:
    t = text or ""
    return t if cap is None else t[:cap]


def _hash_chunks(t: str):
    """Yield the K-shingle polynomial hash stream of ``t`` in CHUNK-char
    pieces (overlap K-1 ⇒ contiguous, duplicate-free positions)."""
    n = len(t)
    # a chunk shorter than one shingle cannot advance the loop
    # (step = chunk - (K-1) would be ≤ 0) — clamp defensively
    chunk_len = max(CHUNK, K)
    start = 0
    while start <= n - K:
        chunk = t[start : min(n, start + chunk_len)]
        cp = np.frombuffer(chunk.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        npos = len(chunk) - K + 1
        h = np.zeros(npos, dtype=np.int64)
        for j in range(K):
            h = (h * B + cp[j : j + npos]) % M
        yield h
        if start + chunk_len >= n:
            break
        start += chunk_len - (K - 1)


def shingle_hashes_np(text: str, cap: int | None = CAP) -> np.ndarray:
    """All K-char shingle base hashes (int64); cap=None = full text."""
    parts = list(_hash_chunks(_clip(text, cap)))
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


def signature_np(text: str, cap: int | None = CAP) -> np.ndarray | None:
    """128-long MinHash signature, or None when the doc has no
    shingles. min over shingles of (a_i*h + b_i) mod M — max
    intermediate M*M < 2^63, int64-safe (the same bound the DuckDB
    restatement relies on). Uncapped docs stream through _hash_chunks
    with an elementwise running min — exact and memory-bounded."""
    a, b = _PERM_A, _PERM_B
    out = None
    for h in _hash_chunks(_clip(text, cap)):
        # in-place accumulate: 2× over the naive expression (one
        # temporary instead of three; int64 remainder dominates)
        s = h[:, None] * a[None, :]
        s += b[None, :]
        s %= M
        s = s.min(axis=0)
        out = s if out is None else np.minimum(out, s)
    return out


def signature_naive(text: str, cap: int | None = CAP) -> list[int] | None:
    """Pure-Python oracle for the vectorized kernel."""
    t = _clip(text, cap)
    if len(t) < K:
        return None
    hs = []
    for p in range(len(t) - K + 1):
        h = 0
        for ch in t[p : p + K]:
            h = (h * B + ord(ch)) % M
        hs.append(h)
    out = []
    for i in range(NPERM):
        a = ((i + 1) * _A_MUL + 1) % M
        b = ((i + 1) * _B_MUL + 7) % M
        out.append(min((a * h + b) % M for h in hs))
    return out


SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
    ]
)


def signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int | None = CAP,
) -> DataFrame:
    """(id, text) → (doc_id, sig[128]). Narrow kernel, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = signature_np(text, cap=cap)
                if s is not None:
                    ids.append(int(doc_id))
                    sigs.append(s.tolist())
            if ids:
                yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(kernel, schema=SIG_SCHEMA)


MAX_BUCKET = 50  # default band-bucket skew cap (capped_band_keys and
# candidate_pairs; only tests call this module)


def capped_band_keys(
    docs: DataFrame, max_bucket: int | None = MAX_BUCKET, cap: int | None = CAP
) -> DataFrame:
    """band_keys(signatures(docs)) with the bucket-size skew cap
    applied — the single implementation of the keep rule both the
    pair generator and the incremental gate build on."""
    from pyspark.sql import Window

    bk = band_keys(signatures(docs, cap=cap))
    if max_bucket is not None:
        # bucket cap via a window (rows per (band,bkey) ARE the bucket
        # size) — avoids re-running the signature kernel for a
        # separate keep-side aggregation
        bk = (
            bk.withColumn(
                "_sz", F.count("*").over(Window.partitionBy("band", "bkey"))
            )
            .filter(F.col("_sz") <= max_bucket)
            .drop("_sz")
        )
    return bk


def band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) → one row per band: (doc_id, band, bkey) with
    bkey = md5 of the band's ROWS signature values (comma-joined) —
    the compact bucket key both engines can derive."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(
                            F.col("sig"), (b * ROWS + r + 1).cast("int")
                        ).cast("string")
                        for r in range(ROWS)
                    ],
                )
            ).alias("bkey"),
        ),
    )
    return sigs.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def candidate_pairs(
    docs: DataFrame, max_bucket: int | None = MAX_BUCKET, cap: int | None = CAP
) -> DataFrame:
    """Near-dup candidates: docs sharing ≥1 LSH band bucket.
    (doc_a, doc_b, n_bands). ``max_bucket`` drops degenerate buckets
    (boilerplate-identical bands across > max_bucket docs) before the
    self-join — the skew guard, same role as shared_pairs' max_df.
    ``cap=None`` hashes whole documents (chunked kernel)."""
    bk = capped_band_keys(docs, max_bucket=max_bucket, cap=cap)
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def estimated_jaccard(sigs_a: list[int], sigs_b: list[int]) -> float:
    """Signature-agreement Jaccard estimate (test helper)."""
    return sum(1 for x, y in zip(sigs_a, sigs_b) if x == y) / float(NPERM)
