"""Property tests for the session-5 operators: prefix-filtered exact
Jaccard join (vs an all-pairs brute force in Python — lossless-filter
completeness), the zone-map layout audit (disjointness/overlap
invariants per layout), forward-fill (vs a per-user Python scan),
decile bucketing (equal-frequency partition invariants), and
inverted-index postings (digest recomputation)."""
import hashlib

import pyspark.sql.functions as F

from xtract import queries as q

SF = "/root/testdata/sf0.001"


def _bigram_sets(spark, sf):
    docs = q.t(spark, sf, "documents").select("doc_id", "text").collect()
    out = {}
    for d in docs:
        if d.doc_id % q.PJ_SLICE != 0:
            continue
        ws = (d.text or "").split(" ")
        if len(ws) < 2:
            continue
        out[d.doc_id] = {
            (ws[i] + " " + ws[i + 1]).lower() for i in range(len(ws) - 1)
        }
    return out


def test_prefix_jaccard_lossless_vs_brute_force(spark):
    """The prefix filter must be LOSSLESS: the filtered Spark result
    equals the naive all-pairs >= tau set, pair for pair."""
    got = {
        (r.doc_a, r.doc_b): (r.inter_sz, r.size_a, r.size_b, r.jac_ppm)
        for r in q.QUERIES["prefix_jaccard_pairs"](spark, SF).collect()
    }
    sets = _bigram_sets(spark, SF)
    exp = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if q.PJ_TAU_DEN * inter >= q.PJ_TAU_NUM * union:
                exp[(a, b)] = (
                    inter,
                    len(sets[a]),
                    len(sets[b]),
                    inter * 1000000 // union,
                )
    assert got == exp
    assert exp, "corpus has no >=tau pair; test is vacuous"


def test_zonemap_layout_invariants(spark):
    rows = q.QUERIES["zonemap_audit"](spark, SF).collect()
    n_docs = q.t(spark, SF, "documents").count()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r.layout, []).append(r)
    assert set(by_layout) == {"range", "mod"}
    for layout, rs in by_layout.items():
        assert sum(r.n_rows for r in rs) == n_docs
        assert all(r.min_id <= r.max_id for r in rs)
    # range layout: pairwise-disjoint key ranges => zero overlaps
    assert all(r.n_overlaps == 0 for r in by_layout["range"])
    # mod layout: every file spans the key domain => overlaps everyone
    n_mod = len(by_layout["mod"])
    assert n_mod > 1
    assert all(r.n_overlaps == n_mod - 1 for r in by_layout["mod"])


def test_ffill_matches_python_scan(spark):
    rows = q.QUERIES["ffill_last_price"](spark, SF).collect()
    ev = (
        q.t(spark, SF, "events")
        .filter(F.col("user_id") % 7 == 0)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .collect()
    )
    exp = {}
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    for u, es in by_user.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        last = None
        for e in es:
            if e.event_type == "purchase":
                import math

                last = int(math.floor(e.value * 100))
            exp[e.event_id] = last
    got = {r.event_id: r.last_price_c for r in rows}
    assert got == exp
    assert any(v is None for v in exp.values()) or len(exp) < 50, (
        "no leading-null fill exercised"
    )
    assert any(v is not None for v in exp.values())


def test_decile_partition_invariants(spark):
    rows = sorted(
        q.QUERIES["decile_stats"](spark, SF).collect(), key=lambda r: r.decile
    )
    n_docs = q.t(spark, SF, "documents").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    sizes = [r.n_docs for r in rows]
    assert sum(sizes) == n_docs
    # ntile: earlier buckets take the remainder, sizes differ by <= 1
    assert max(sizes) - min(sizes) <= 1
    assert sorted(sizes, reverse=True) == sizes
    # ordered by n_chars: bucket boundaries are monotone
    for a, b in zip(rows, rows[1:]):
        assert a.max_chars <= b.min_chars


def test_inverted_postings_digests(spark):
    rows = q.QUERIES["inverted_postings"](spark, SF).collect()
    docs = q.t(spark, SF, "documents").select("doc_id", "text").collect()
    exp = {}
    for d in docs:
        for w in set((d.text or "").split(" ")):
            if w:
                exp.setdefault(w.lower(), set()).add(d.doc_id)
    assert {r.term for r in rows} == set(exp)
    for r in rows:
        postings = sorted(exp[r.term])
        assert r.df == len(postings)
        joined = ",".join(str(x) for x in postings)
        assert r.postings_md5 == hashlib.md5(joined.encode()).hexdigest()
