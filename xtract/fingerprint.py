"""Document fingerprinting: k-gram rolling hash + winnowing.

The winnowing scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
algorithm): hash every k-gram of the document, slide a window of w
consecutive hashes, keep each window's minimum; the resulting
fingerprint set has the guarantee that any substring match of length
≥ k+w-1 between two documents produces at least one shared
fingerprint. This is the "document fingerprinting (rolling hash)"
step of the training-data dedup toolkit; ``job.py --dup-pairs`` and
``--dup-clusters`` run it over the extracted spans.

Only the first ``CAP`` (2000) characters of a text are winnowed: two
texts that differ only after that point get the same fingerprints,
and a duplicate passage that starts after it is not seen.

Hash is a plain base-B polynomial over unicode codepoints mod M —
deliberately simple so a pure-Python restatement
(``fingerprints_naive``) can cross-check the vectorized kernel.

Scale shape: the kernel is a narrow mapInPandas (numpy Horner over a
codepoint array — k vectorized passes per batch, no per-char Python);
per-doc output is the distinct fingerprint set, ~len/w values.
dup_spans then pairs docs by a fingerprint-key equi-join + count —
the classic inverted-index shape that shuffles |fp| rows, not |doc|²
pairs.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

K = 8  # k-gram length (chars)
W = 4  # winnowing window (hashes)
B = 131  # polynomial base
M = 1_000_000_007  # modulus (fits intermediate math in int64/BIGINT)
CAP = 2000  # chars hashed per doc, by the kernel and the naive restatement
MIN_SHARED = 4  # shared fingerprints that make two spans a dup pair
MAX_DF = 20  # a fingerprint in more spans than this is a stop-gram


POW_MOD = [pow(B, K - 1 - j, M) for j in range(K)]  # B^(k-1-j) % M


def fingerprints_naive(text: str) -> list[int]:
    """Reference implementation (pure Python, O(len·k)) — the local
    oracle for the vectorized kernel."""
    t = (text or "")[:CAP]
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


def fingerprints_np(text: str) -> np.ndarray:
    """Vectorized winnowing: k Horner passes over the codepoint array,
    then a w-way minimum reduce. int64 throughout (max intermediate
    M·B + 0x110000 < 2^63)."""
    t = (text or "")[:CAP]
    n = len(t)
    if n < K + W - 1:
        return np.empty(0, dtype=np.int64)
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    npos = n - K + 1
    h = np.zeros(npos, dtype=np.int64)
    for j in range(K):
        h = (h * B + cp[j : j + npos]) % M
    sel = h[: npos - W + 1].copy()
    for s in range(1, W):
        np.minimum(sel, h[s : s + npos - W + 1], out=sel)
    return np.unique(sel)


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


def dup_spans(spans: DataFrame) -> DataFrame:
    """Duplicate-question detection over extracted spans: winnowing
    fingerprints of span_text keyed by the spans' natural key
    (conv_id#turn_idx#seq — one sortable string, identical in SQL),
    then the pairs of spans sharing ≥ ``MIN_SHARED`` fingerprints. The
    training-data dedup step applied to the engine's own output —
    repeated exam questions across conversations surface as pairs.

    The pairs come from an equi-join on fp (inverted index), so cost
    scales with fingerprint collisions, not span pairs. Stop-gram
    fingerprints (in more than ``MAX_DF`` spans) are dropped before the
    self-join — the standard guard that keeps the join skew-free on a
    boilerplate-heavy corpus: a fingerprint in d spans otherwise
    contributes d² pairs."""
    keyed = spans.select(
        span_key().alias("doc_id"), F.col("span_text").alias("text")
    )
    # df cap via a window, not an agg+semi-join: the (doc_id, fp) rows
    # are distinct, so a per-fp row count IS the doc frequency — one
    # pass over the kernel output instead of re-evaluating the
    # fingerprint lineage for the keep side
    fps = (
        fingerprints(keyed)
        .withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= MAX_DF)
        .drop("_df")
    )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
    )
