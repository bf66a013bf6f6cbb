"""Property tests for the session-4 operators: edit-distance
verification (vs a pure-Python DP), triangle support (vs brute-force
enumeration), integer OLS trend slopes (vs the float formula), the
drift monitor (recomputed from raw counts), the integer equi-width
histogram (partition-of-the-domain invariants), and the transcript
turn audit (planted violations), each against an independent
recomputation."""
import datetime

import pyspark.sql.functions as F

from xtract import queries as q
from xtract import structure

SF = "/root/testdata/sf0.001"


def _lev(a: str, b: str) -> int:
    """Textbook O(len(a)*len(b)) Levenshtein, the independent
    reference for both engines' builtins."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_dist_verify_matches_python_dp(spark):
    rows = q.QUERIES["edit_dist_verify"](spark, SF).collect()
    assert rows
    texts = {
        r.doc_id: (r.text or "")[: q.ED_CAP]
        for r in q.t(spark, SF, "documents").select("doc_id", "text").collect()
    }
    for r in rows[:40]:
        ta, tb = texts[r.doc_a], texts[r.doc_b]
        d = _lev(ta, tb)
        assert r.dist == d
        m = max(len(ta), len(tb), 1)
        assert r.sim_ppm == ((max(len(ta), len(tb)) - d) * 1_000_000) // m
        assert 0 <= r.sim_ppm <= 1_000_000


def test_triangle_support_matches_bruteforce(spark):
    from xtract import minhash as mh

    d = q.t(spark, SF, "documents").select("doc_id", "text")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in mh.candidate_pairs(d, max_bucket=50).collect()
    }
    exp: dict[int, int] = {}
    ps = sorted(pairs)
    pset = set(ps)
    for i, (a, b) in enumerate(ps):
        for (b2, c) in ps:
            if b2 == b and (a, c) in pset:
                for n in (a, b, c):
                    exp[n] = exp.get(n, 0) + 1
    got = {
        r.doc_id: r.n_tri
        for r in q.QUERIES["triangle_support"](spark, SF).collect()
    }
    assert got == exp
    assert exp, "fixture produced no triangles — strengthen the corpus"


def test_trend_slope_matches_float_ols(spark):
    rows = q.QUERIES["trend_slope"](spark, SF).collect()
    assert rows
    evs = q.t(spark, SF, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("t"),
        F.floor("value").cast("long").alias("y"),
    ).collect()
    mn = min(r.t for r in evs)
    by_user: dict[int, list[tuple[int, int]]] = {}
    for r in evs:
        by_user.setdefault(r.user_id, []).append(((r.t - mn) // 3600, r.y))
    for r in rows:
        pts = by_user[r.user_id]
        n = len(pts)
        assert r.n == n and n >= 2
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        assert r.slope_num == n * sxy - sx * sy
        assert r.slope_den == n * sxx - sx * sx
        if r.slope_den != 0:
            beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            assert abs(r.slope_num / r.slope_den - beta) < 1e-12


def test_drift_l1_recompute(spark):
    rows = q.QUERIES["drift_l1"](spark, SF).collect()
    assert len(rows) == q.DRIFT_TOP
    docs = q.t(spark, SF, "documents").select("doc_id", "text").collect()
    c0: dict[str, int] = {}
    c1: dict[str, int] = {}
    for r in docs:
        tgt = c0 if r.doc_id % 2 == 0 else c1
        for w in (r.text or "").split(" "):
            tgt[w] = tgt.get(w, 0) + 1
    n0, n1 = sum(c0.values()), sum(c1.values())
    exp = sorted(
        (
            (
                -abs(
                    c0.get(w, 0) * 1_000_000 // max(n0, 1)
                    - c1.get(w, 0) * 1_000_000 // max(n1, 1)
                ),
                w,
            )
            for w in set(c0) | set(c1)
        ),
    )[: q.DRIFT_TOP]
    assert [(r.word, r.drift_ppm) for r in rows] == [(w, -d) for d, w in exp]
    for r in rows:
        assert r.c0 == c0.get(r.word, 0) and r.c1 == c1.get(r.word, 0)


def test_hist_totalprice_partitions_domain(spark):
    rows = q.QUERIES["hist_totalprice"](spark, SF).collect()
    cents = [
        r.c
        for r in q.t(spark, SF, "orders")
        .select(F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"))
        .collect()
    ]
    assert sum(r.cnt for r in rows) == len(cents)
    assert all(0 <= r.bucket < q.HIST_BUCKETS for r in rows)
    lo, hi = min(cents), max(cents)
    # bounds tile [lo, hi] without gaps or overlap
    by_b = {r.bucket: r for r in rows}
    assert by_b[0].bucket_lo_c == lo
    assert by_b[max(by_b)].bucket_hi_c >= hi
    bs = sorted(by_b)
    for a, b in zip(bs, bs[1:]):
        if b == a + 1:
            assert by_b[b].bucket_lo_c == by_b[a].bucket_hi_c + 1
    # every value falls inside its bucket's emitted bounds
    for c in cents:
        k = ((c - lo) * q.HIST_BUCKETS) // (hi - lo + 1)
        assert by_b[k].bucket_lo_c <= c <= by_b[k].bucket_hi_c


def test_turn_audit_planted_violations(spark):
    t0 = datetime.datetime(2024, 1, 1)

    def turn(conv, idx, role, text, sec):
        return (conv, idx, role, text, None, t0 + datetime.timedelta(seconds=sec))

    rows = [
        # clean conversation: alternating roles, dense idx, ts forward
        turn("a", 0, "user", "hi", 0),
        turn("a", 1, "assistant", "hello", 10),
        turn("a", 2, "user", "bye", 20),
        # violations: dup idx, gap of 4, role repeat x2, empty text,
        # one ts regression
        turn("b", 0, "user", "q1", 0),
        turn("b", 0, "user", "q1-dup", 5),          # dup idx + role repeat
        turn("b", 5, "assistant", "", 4),           # gap 4, empty, ts back
        turn("b", 6, "assistant", "done", 30),      # role repeat
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r.conv_id: r for r in structure.turn_audit(df).collect()}
    a, b = got["a"], got["b"]
    assert (a.n_turns, a.n_dup_idx, a.max_gap, a.n_role_repeat, a.n_empty,
            a.n_ts_regress) == (3, 0, 0, 0, 0, 0)
    assert b.n_turns == 4
    assert b.n_dup_idx == 1
    assert b.max_gap == 4
    assert b.n_role_repeat == 2
    assert b.n_empty == 1
    assert b.n_ts_regress == 1


def test_ohlc_hourly_matches_python(spark):
    rows = {r.hour: r for r in q.QUERIES["ohlc_hourly"](spark, SF).collect()}
    evs = q.t(spark, SF, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    ).collect()
    by_hour: dict[int, list[tuple[int, int]]] = {}
    for r in evs:
        by_hour.setdefault(r.t // 3600, []).append((r.t * 100000 + r.event_id, r.c))
    assert set(rows) == set(by_hour)
    for h, pts in by_hour.items():
        pts.sort()
        r = rows[h]
        cs = [c for _, c in pts]
        assert (r.open_c, r.high_c, r.low_c, r.close_c, r.n, r.vol_c) == (
            pts[0][1], max(cs), min(cs), pts[-1][1], len(cs), sum(cs)
        )


def test_chunk_overlap_matches_python(spark):
    import hashlib

    rows = q.QUERIES["chunk_overlap"](spark, SF).collect()
    docs = q.t(spark, SF, "documents").select("doc_id", "text").collect()
    got = {(r.doc_id, r.chunk_idx): (r.n_words, r.chunk_md5) for r in rows}
    exp = {}
    for d in docs:
        ws = (d.text if d.text is not None else "").split(" ")
        nw = len(ws)
        n_chunks = 1 if nw <= q.CHUNK_W else 1 + -(-(nw - q.CHUNK_W) // q.CHUNK_S)
        for ci in range(n_chunks):
            chunk = ws[ci * q.CHUNK_S : ci * q.CHUNK_S + q.CHUNK_W]
            exp[(d.doc_id, ci)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == exp
    # overlap property: consecutive chunks share CHUNK_W - CHUNK_S words
    assert any(k[1] > 0 for k in exp), "corpus too short to exercise overlap"
