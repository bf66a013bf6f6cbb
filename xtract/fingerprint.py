"""Document fingerprinting: k-gram rolling hash + winnowing.

The winnowing scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
algorithm): hash every k-gram of the document, slide a window of w
consecutive hashes, keep each window's minimum; the resulting
fingerprint set has the guarantee that any substring match of length
≥ k+w-1 between two documents produces at least one shared
fingerprint. This is the "document fingerprinting (rolling hash)"
step of the training-data dedup toolkit; ``job.py --dup-pairs`` and
``--dup-clusters`` run it over the extracted spans.

Hash is a plain base-B polynomial over unicode codepoints mod M —
deliberately simple so a pure-Python restatement
(``fingerprints_naive``) can cross-check the vectorized kernel.

Scale shape: the kernel is a narrow mapInPandas (numpy Horner over a
codepoint array — k vectorized passes per batch, no per-char Python);
per-doc output is the distinct fingerprint set, ~len/w values.
shared_pairs is then a fingerprint-key equi-join + count — the classic
inverted-index shape that shuffles |fp| rows, not |doc|² pairs.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

K = 8  # k-gram length (chars)
W = 4  # winnowing window (hashes)
B = 131  # polynomial base
M = 1_000_000_007  # modulus (fits intermediate math in int64/BIGINT)
# Chars hashed per doc (the Spark kernel and the naive restatement
# apply the same cap). ``fingerprints_np`` and ``fingerprints_naive``
# take ``cap``; cap=None winnows the WHOLE document via the
# chunked kernel below — the 100-TB semantics (two 100 KB docs that
# differ only after char 2000 must NOT be fingerprint-identical).
CAP = 2000
# chars per kernel chunk when uncapped; chunks overlap K+W-2 chars so
# every length-W hash window is evaluated in exactly one chunk — the
# fingerprint set equals the single-pass result bit-for-bit
CHUNK = 1 << 16


def _clip(text: str | None, cap: int | None) -> str:
    t = text or ""
    return t if cap is None else t[:cap]


POW_MOD = [pow(B, K - 1 - j, M) for j in range(K)]  # B^(k-1-j) % M


def fingerprints_naive(text: str, cap: int | None = CAP) -> list[int]:
    """Reference implementation (pure Python, O(len·k)) — the local
    oracle for the vectorized kernel."""
    t = _clip(text, cap)
    n = len(t)
    if n < K + W - 1:
        return []
    hashes = []
    for p in range(n - K + 1):
        h = 0
        for j in range(K):
            h = (h + ord(t[p + j]) * POW_MOD[j]) % M
        hashes.append(h)
    sel = set()
    for s in range(len(hashes) - W + 1):
        sel.add(min(hashes[s : s + W]))
    return sorted(sel)


def _winnow_chunk(chunk: str) -> np.ndarray:
    """Window-min selection over one chunk's hash stream."""
    cp = np.frombuffer(chunk.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    npos = len(chunk) - K + 1
    h = np.zeros(npos, dtype=np.int64)
    for j in range(K):
        h = (h * B + cp[j : j + npos]) % M
    sel = h[: npos - W + 1].copy()
    for s in range(1, W):
        np.minimum(sel, h[s : s + npos - W + 1], out=sel)
    return sel


def fingerprints_np(text: str, cap: int | None = CAP) -> np.ndarray:
    """Vectorized winnowing: k Horner passes over the codepoint array,
    then a w-way minimum reduce. int64 throughout (max intermediate
    M·B + 0x110000 < 2^63). Texts longer than CHUNK stream through in
    overlapping pieces (overlap K+W-2 ⇒ every hash window lands in
    exactly one chunk), so memory stays O(CHUNK) per doc and the
    result is identical to a single pass."""
    t = _clip(text, cap)
    n = len(t)
    if n < K + W - 1:
        return np.empty(0, dtype=np.int64)
    # a chunk shorter than one full hash window cannot advance the
    # loop (step = chunk - (K+W-2) would be ≤ 0) — clamp defensively
    chunk = max(CHUNK, K + W - 1)
    if n <= chunk:
        return np.unique(_winnow_chunk(t))
    sels = []
    start = 0
    while start <= n - (K + W - 1):
        end = min(n, start + chunk)
        sels.append(_winnow_chunk(t[start:end]))
        if end == n:
            break
        start = end - (K + W - 2)
    return np.unique(np.concatenate(sels))


FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("fp", T.LongType(), False),
    ]
)


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per distinct winnowed fingerprint of
    the first ``CAP`` chars. Narrow kernel, no shuffle; column pruning
    pushes to the scan. The string ``doc_id`` passes through unchanged
    (restatable cross-engine, unlike a hashed key)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[np.ndarray] = []
            fps: list[np.ndarray] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                f = fingerprints_np(text)
                if len(f):
                    ids.append(np.full(len(f), doc_id, dtype=object))
                    fps.append(f)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
                )

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=FP_SCHEMA)


def span_key():
    """The spans' natural key folded to one string column — the same
    expression is restatable in DuckDB (``conv_id || '#' || …``), so
    dup_spans output is directly oracle-comparable."""
    return F.concat_ws("#", "conv_id", "turn_idx", "seq")


def dup_spans(
    spans: DataFrame, min_shared: int = 4, max_df: int = 20
) -> DataFrame:
    """Duplicate-question detection over extracted spans: winnowing
    fingerprints of span_text keyed by the spans' natural key
    (conv_id#turn_idx#seq — one sortable string, identical in SQL),
    then shared-fingerprint pairs. The training-data dedup step
    applied to the engine's own output — repeated exam questions
    across conversations surface as pairs."""
    keyed = spans.select(
        span_key().alias("doc_id"), F.col("span_text").alias("text")
    )
    return shared_pairs(fingerprints(keyed), min_shared=min_shared, max_df=max_df)


def shared_pairs(
    fps: DataFrame, min_shared: int = 2, max_df: int | None = None
) -> DataFrame:
    """Near-dup candidates: pairs of docs sharing ≥ min_shared
    fingerprints. Equi-join on fp (inverted index), so cost scales
    with fingerprint collisions, not doc pairs. ``max_df`` drops
    stop-gram fingerprints (those occurring in more than max_df docs)
    before the self-join — the standard guard that keeps the join
    skew-free on a boilerplate-heavy corpus: a fingerprint in d docs
    otherwise contributes d² pairs."""
    if max_df is not None:
        # df cap via a window, not an agg+semi-join: the (doc_id, fp)
        # rows are distinct, so a per-fp row count IS the doc
        # frequency — one pass over the kernel output instead of
        # re-evaluating the fingerprint lineage for the keep side
        from pyspark.sql import Window

        fps = (
            fps.withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
