"""Winnowing fingerprints (xtract/fingerprint.py): vectorized kernel
vs pure-Python oracle, the winnowing substring-match guarantee, and
the Spark inverted-index pair query."""
from __future__ import annotations

import random

import pytest

from xtract import fingerprint as fpm


def _doc(seed: int, n: int) -> str:
    """Deterministic pseudo-text (mixed ASCII/CJK, no RNG state)."""
    out = []
    x = (seed * 2654435761 + 99991) % (1 << 61)
    for _ in range(n):
        # LCG low bits are short-period — draw from the high bits only
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 61)
        r = (x >> 40) % 64
        out.append(chr(0x4E00 + ((x >> 20) % 512)) if r < 20 else chr(32 + r))
    return "".join(out)


def _spans(spark, texts):
    """One span per {conv_id: text} item, at turn 0, seq 0."""
    import pandas as pd

    rows = [
        {"conv_id": str(c), "turn_idx": 0, "seq": 0, "span_text": t}
        for c, t in texts.items()
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows), schema="conv_id string, turn_idx int, seq int, span_text string"
    )


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


@pytest.mark.parametrize("n", [40, 500, 3000])
def test_kernel_matches_naive_on_generated_docs(n):
    """Past ``CAP`` both sides winnow the same prefix."""
    t = _doc(7, n)
    got = fpm.fingerprints_np(t).tolist()
    assert got == fpm.fingerprints_naive(t)
    assert got == fpm.fingerprints_naive(t[: fpm.CAP])


def test_mid_document_dup_past_cap_is_missed():
    """The prefix cap's blind spot, pinned: a 1.5 KB block shared at
    char 3000 of two docs gives no shared fingerprint, while the same
    block inside the cap gives many."""
    shared = _doc(42, 1500)
    late = [set(fpm.fingerprints_np(_doc(s, 3000) + shared)) for s in (1, 3)]
    early = [set(fpm.fingerprints_np(_doc(s, 300) + shared)) for s in (1, 3)]
    assert len(late[0] & late[1]) == 0
    # winnowing guarantee: a >= K+W-1 char match shares a fingerprint;
    # a 1.5 KB planted block shares many
    assert len(early[0] & early[1]) >= 50


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
    spans = _spans(spark, dict(zip(docs_pd["doc_id"], docs_pd["text"])))
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in fpm.dup_spans(spans).collect()}
    assert list(pairs) == [("1#0#0", "2#0#0")]
    assert pairs[("1#0#0", "2#0#0")] >= fpm.MIN_SHARED


def test_max_df_drops_stop_grams(spark):
    """One boilerplate sentence in every span: in ``MAX_DF`` spans its
    fingerprints pair every two of them, in one span more they are
    stop-grams and no pair survives."""
    boiler = "standard footer text appended to every document body"
    texts = [f"unique{i:03d} {boiler}" for i in range(fpm.MAX_DF + 1)]
    a, b = (set(fpm.fingerprints_naive(t)) for t in texts[:2])
    assert len(a & b) >= fpm.MIN_SHARED
    n = fpm.MAX_DF
    assert fpm.dup_spans(_spans(spark, dict(enumerate(texts[:n])))).count() == n * (n - 1) // 2
    assert fpm.dup_spans(_spans(spark, dict(enumerate(texts)))).count() == 0


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
    pairs = fpm.dup_spans(spans).collect()
    assert len(pairs) == 1
    # keys are the natural span key folded to a string (restatable in
    # the DuckDB oracle, unlike a hashed key)
    assert {pairs[0].doc_a, pairs[0].doc_b} == {"a#0#0", "b#0#0"}
