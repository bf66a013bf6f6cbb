"""Property tests (SURVEY.md §5 item 5) over the oracle kernel —
invariants that must hold for ANY payload, not just the corpus."""
import json

from hypothesis import given, settings, strategies as st

from xtract import oracle
from xtract.config import LIMITS

# text fragments that stress the detector: numbers, CJK, markers,
# newlines, decimals, parens
_frag = st.sampled_from(
    [
        "1.",
        "12、",
        "(3)",
        "【45】",
        "第6题",
        "[7]",
        "这是一段内容",
        "速度为 1.5m/s",
        "（2分）",
        "A. 选项",
        "\n",
        " ",
        "x=4, y=2",
        "。",
        "____",
        "（ ）",
    ]
)
texts = st.lists(_frag, min_size=0, max_size=40).map("".join)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_detection_invariants(text):
    for mode in ("v1", "v2-strict", "v2-loose"):
        ms = oracle.detect(text, mode)
        # positions strictly increasing with the >5 dedup gap
        for a, b in zip(ms, ms[1:]):
            assert b["position"] - a["position"] > LIMITS.dedup_gap
        for m in ms:
            # matched_str really is at position
            assert text[m["position"] : m["position"] + len(m["matched_str"])] == m["matched_str"]
            assert str(m["number"]) in m["matched_str"]
    # strict finds a subset of loose positions
    strict = {m["position"] for m in oracle.detect(text, "v2-strict")}
    loose = {m["position"] for m in oracle.detect(text, "v2-loose")}
    assert strict <= loose


@given(texts, st.integers(0, 1))
@settings(max_examples=200, deadline=None)
def test_split_reconstruction(text, with_lines):
    """Concatenating v1 split contents reconstructs the original tail
    (modulo per-piece strip): every piece is a substring, pieces are in
    order, and the last piece ends the block."""
    block = {
        "block_label": "text",
        "block_content": text,
        "block_bbox": [0, 0, 1000, 2000],
        "block_id": 3,
    }
    lines = []
    if with_lines:
        lines = [
            {
                "block_id": 3,
                "text": ln,
                "score": 0.9,
                "poly": [[0.0, 45.0 * i], [100.0, 45.0 * i], [100.0, 45.0 * i + 40], [0.0, 45.0 * i + 40]],
            }
            for i, ln in enumerate(text.split("\n"))
        ]
    out = oracle.split_block_v1(block, lines)
    if len(out) == 1 and not out[0].get("split_from_merged"):
        return
    for piece in out:
        assert piece["block_content"] in text
        x1, y1, x2, y2 = piece["block_bbox"]
        assert x1 == 0 and x2 == 1000
        assert y2 - y1 >= LIMITS.min_question_height
        assert piece["original_block_id"] == 3


@given(texts)
@settings(max_examples=150, deadline=None)
def test_turn_invariants(text):
    rows = oracle.extract_turn(text)
    # sentinel ordering: question numbers non-decreasing under `or 999`
    keys = [r["question_number"] or LIMITS.missing_number_sentinel for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["image_count"] == len(r["image_ids"])
        assert r["has_image"] == bool(r["image_ids"])
        assert r["qtype"] in {"选择题", "填空题", "判断题", "计算题", "解答题", "其他"}
        assert r["score"] >= 0


@given(st.integers(0, 10_000))
@settings(max_examples=30, deadline=None)
def test_payload_b_image_exclusivity(seed):
    """Generated layout payloads: every image assigned to at most one
    question; merged bbox encloses the text bbox."""
    from xtract import gen

    r = gen._rng(f"prop{seed}", 0)
    payload = gen._payload_b(r)
    rows = oracle.extract_turn(payload)
    seen = set()
    for row in rows:
        for img in row["image_ids"]:
            assert img not in seen
            seen.add(img)
    blocks = {b["block_id"]: b for b in json.loads(payload)["blocks"]}
    for row in rows:
        if row["source_block_id"] in blocks and row["bbox"]:
            bb = row["bbox"]
            for img in row["image_ids"]:
                ib = blocks[img]["block_bbox"]
                assert bb[0] <= ib[0] and bb[1] <= ib[1]
                assert bb[2] >= ib[2] and bb[3] >= ib[3]


# ---- round-3 kernels: hypothesis over the hashing/CC primitives ----
_any_text = st.text(
    alphabet=st.characters(
        codec="utf-32-be", categories=("L", "N", "P", "Z", "S")
    ),
    max_size=600,
)


@given(_any_text, st.sampled_from([7, 100, 2000]))
@settings(max_examples=150, deadline=None)
def test_fingerprints_np_matches_naive_any_text(text, cap):
    from xtract import fingerprint as fp

    orig = fp.CAP
    try:
        fp.CAP = cap
        assert fp.fingerprints_np(text).tolist() == fp.fingerprints_naive(text)
    finally:
        fp.CAP = orig


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None)
def test_cc_labels_match_union_find_random_graphs(pairs):
    """Star CC equals union-find for arbitrary small graphs (self-loops
    and duplicates included); the star rounds are forced, since graphs
    this small are otherwise labelled on the driver. Uses a shared
    module session."""
    import pyspark.sql.functions as F

    from xtract import cc, session

    real = [(a, b) for a, b in pairs if a != b]
    if not real:
        return
    spark = session.build(cores=8, shuffle_partitions=8)
    df = spark.createDataFrame(real, "a long, b long")
    orig = cc.SMALL_EDGES
    try:
        cc.SMALL_EDGES = 0
        labels, _ = cc.connected_components(df)
        got = {r["node"]: r["rep"] for r in labels.collect()}
    finally:
        cc.SMALL_EDGES = orig

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
