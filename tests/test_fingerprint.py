"""Winnowing fingerprints (xtract/fingerprint.py): vectorized kernel
vs pure-Python oracle, the winnowing substring-match guarantee, and
the Spark inverted-index pair query."""
from __future__ import annotations

import random

from xtract import fingerprint as fpm


def test_kernel_matches_naive_oracle():
    rng = random.Random(7)
    alpha = "abc 一二三题。ABC123()【】\n分"
    for _ in range(300):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        assert fpm.fingerprints_naive(s) == fpm.fingerprints_np(s).tolist(), repr(s)


def test_short_and_empty_docs_have_no_fingerprint():
    for s in ("", "short", "x" * (fpm.K + fpm.W - 2), None):
        assert fpm.fingerprints_naive(s or "") == []
        assert len(fpm.fingerprints_np(s or "")) == 0


def test_cap_is_applied():
    long = "abcdefghij" * 1000
    assert fpm.fingerprints_naive(long) == fpm.fingerprints_naive(long[: fpm.CAP])


def test_winnowing_guarantee():
    """Any shared substring of length ≥ k+w-1 yields ≥1 shared
    fingerprint (the winnowing paper's correctness property)."""
    rng = random.Random(11)
    alpha = "abcdefgh 一二三"
    for _ in range(50):
        shared = "".join(rng.choice(alpha) for _ in range(fpm.K + fpm.W - 1 + rng.randint(0, 30)))
        pre1 = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 20)))
        pre2 = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 20)))
        s1 = set(fpm.fingerprints_naive(pre1 + shared))
        s2 = set(fpm.fingerprints_naive(pre2 + shared + "zz"))
        assert s1 & s2, (pre1, pre2, shared)


def test_spark_fingerprints_and_pairs(spark):
    import pandas as pd

    docs_pd = pd.DataFrame(
        {
            "doc_id": ["1", "2", "3", "4"],
            "text": [
                "the quick brown fox jumps over the lazy dog again and again",
                "prefix// the quick brown fox jumps over the lazy dog //suffix",
                "completely different content with no overlap at all here",
                "tiny",
            ],
        }
    )
    docs = spark.createDataFrame(docs_pd)
    fps = fpm.fingerprints(docs)
    rows = fps.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.fp)
    # kernel output matches the naive oracle per doc
    for _, row in docs_pd.iterrows():
        want = fpm.fingerprints_naive(row["text"])
        assert sorted(by_doc.get(row["doc_id"], [])) == want
    # docs 1↔2 share a long substring → a pair; 3 and 4 pair with no one
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in fpm.shared_pairs(fps, min_shared=2).collect()}
    assert ("1", "2") in pairs and pairs[("1", "2")] >= 2
    assert all(a in ("1", "2") and b in ("1", "2") for a, b in pairs)


def test_max_df_drops_stop_grams(spark):
    import pandas as pd

    # one boilerplate sentence in every doc: with max_df=2 the shared
    # fingerprints are stop-grams and no pair survives
    boiler = "standard footer text appended to every document body"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["1", "2", "3", "4"],
                "text": [f"unique{i}{'x' * i} {boiler}" for i in (1, 2, 3, 4)],
            }
        )
    )
    fps = fpm.fingerprints(docs)
    with_cap = fpm.shared_pairs(fps, min_shared=1, max_df=2).collect()
    without_cap = fpm.shared_pairs(fps, min_shared=1).collect()
    assert len(without_cap) > 0
    assert len(with_cap) == 0


def test_dup_spans_finds_repeated_questions(spark):
    """Dedup over the engine's own output: two conversations carrying
    the same long question text pair up; distinct questions don't."""
    import pandas as pd

    q_long = "7、证明三角形内角和为一百八十度并写出完整的推理过程与依据。（10分）"
    rows = []
    for conv, text in [
        ("a", q_long),
        ("b", q_long),  # exact repeat of a's question
        ("c", "1、计算二加二的值并说明运算律的使用理由。（2分）"),
        ("d", "完全不同的一段说明文字，不构成题目内容，仅用于对照。"),
    ]:
        rows.append({"conv_id": conv, "turn_idx": 0, "seq": 0, "span_text": text})
    spans = spark.createDataFrame(
        pd.DataFrame(rows), schema="conv_id string, turn_idx int, seq int, span_text string"
    )
    pairs = fpm.dup_spans(spans, min_shared=2, max_df=10).collect()
    assert len(pairs) == 1
    # keys are the natural span key folded to a string (restatable in
    # the DuckDB oracle, unlike a hashed key)
    assert {pairs[0].doc_a, pairs[0].doc_b} == {"a#0#0", "b#0#0"}
