"""Property tests for the round-4 pipeline operators: bloom-pruned
exact dedup (no false negatives, real pruning), the domain-level
quality gate (bar recomputation), and the cohort retention matrix
(offset-0 identity), among others, each against an independent
recomputation."""
import pyspark.sql.functions as F

from xtract import queries as q

SF = "/root/testdata/sf0.001"


def _fp(d):
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, q.PFX_WORDS), " ")
        ).alias("fp"),
    )


def test_bloom_dedup_matches_direct_semi_join(spark):
    """The bloom path's final answer must equal the straight
    new-semi-join-corpus answer — i.e. the filter admits every true
    member (no false negatives) and the verify join removes every
    false positive."""
    got = {
        (r.source, r.new_docs, r.dup_of_corpus, r.admitted)
        for r in q.QUERIES["bloom_dedup_exact"](spark, SF).collect()
    }
    d = _fp(q.t(spark, SF, "documents")).join(
        q.t(spark, SF, "documents").select("doc_id", "source"), "doc_id"
    )
    corpus = d.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    new = d.filter(F.col("doc_id") % 2 == 1)
    dups = new.join(corpus, "fp", "left_semi").select("doc_id")
    exp = {
        (r.source, r.new_docs, r.dup_of_corpus, r.new_docs - r.dup_of_corpus)
        for r in new.join(
            dups.withColumn("dup", F.lit(1)), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("new_docs"),
            F.count("dup").cast("long").alias("dup_of_corpus"),
        )
        .collect()
    }
    assert got == exp


def test_bloom_prunes_before_verify(spark):
    """The broadcast-bitmap membership test must shrink the
    verify-join input: positives are a (strict, on this corpus)
    superset of true members and far fewer than the whole batch."""
    d = _fp(q.t(spark, SF, "documents"))
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    seeds = F.array(*[F.lit(i) for i in range(q.BLOOM_K)])

    def bits(df):
        return (
            df.select("doc_id", "fp", F.explode(seeds).alias("si"))
            .withColumn("bit", F.pmod(F.xxhash64("fp", "si"), F.lit(q.BLOOM_M)))
            .withColumn("widx", F.expr("int(bit div 64)"))
            .withColumn("mask", F.expr("shiftleft(1L, int(bit % 64))"))
        )

    bitmap = bits(corpus).groupBy("widx").agg(F.bit_or("mask").alias("word"))
    pos = {
        r.doc_id
        for r in bits(new)
        .join(F.broadcast(bitmap), "widx", "left")
        .withColumn(
            "hit",
            F.coalesce(
                F.col("mask").bitwiseAND(F.col("word")) != 0, F.lit(False)
            ),
        )
        .groupBy("doc_id")
        .agg(F.min("hit").alias("a"))
        .filter("a")
        .collect()
    }
    members = {
        r.doc_id
        for r in new.join(
            corpus.select("fp").distinct(), "fp", "left_semi"
        ).collect()
    }
    assert members <= pos  # the bloom guarantee
    assert len(pos) < new.count()  # and it actually prunes


def test_domain_gate_bar_is_corpus_mean(spark):
    rows = q.QUERIES["domain_quality_gate"](spark, SF).collect()
    d = q.t(spark, SF, "documents")
    tot = d.agg(
        F.sum("n_chars").alias("c"),
        F.sum(F.size(F.split("text", " "))).alias("w"),
    ).collect()[0]
    bar = (1000 * tot.c) // tot.w
    for r in rows:
        assert r.kept == (r.cpw_milli >= bar)
    assert any(r.kept for r in rows)
    assert any(not r.kept for r in rows)


def test_cohort_offset0_equals_cohort_size(spark):
    """Every user is active in their own first-purchase week, so the
    offset-0 cell of each cohort row equals that cohort's size."""
    rows = q.QUERIES["cohort_retention"](spark, SF).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    e = q.t(spark, SF, "events")
    sizes = dict(
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.floor(F.min(F.col("ts").cast("timestamp").cast("long")) / 604800)
            .cast("long")
            .alias("cw")
        )
        .groupBy("cw")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )
    zero = {r.cohort_week: r.active_users for r in rows if r.week_offset == 0}
    assert zero == sizes


def test_tfidf_cosine_pair_invariants(spark):
    """Pair orientation, the shared-term floor, and Cauchy-Schwarz
    (cos ≤ 1) must hold for every emitted pair."""
    rows = q.QUERIES["tfidf_cosine_pairs"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.shared_terms >= 3
        assert r.dot * r.dot <= r.norm2_a * r.norm2_b * 1.0000001
        assert 0 <= r.cos_milli <= 1000


def test_jsonl_ingest_accounts_for_every_line(spark):
    """good + corrupt must equal the corpus row count, and the corrupt
    count must equal exactly the planted torn lines."""
    rows = q.QUERIES["jsonl_ingest_stats"](spark, SF).collect()
    d = q.t(spark, SF, "documents")
    total = d.count()
    planted = d.filter(F.col("doc_id") % q.CORRUPT_EVERY == 0).count()
    corrupt = sum(r.n_good for r in rows if r.source == "__corrupt__")
    good = sum(r.n_good for r in rows if r.source != "__corrupt__")
    assert corrupt == planted
    assert good + corrupt == total
    assert all(
        r.chars_good > 0 for r in rows if r.source != "__corrupt__"
    )  # text round-tripped


def test_scd2_ranges_tile_without_overlap(spark):
    """Per user: versions are 1..n, each valid_to equals the next
    valid_from (half-open tiling), exactly one open episode, and no
    two consecutive episodes share a state."""
    rows = q.QUERIES["scd2_user_state"](spark, SF).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for eps in by_user.values():
        eps.sort(key=lambda r: r.version)
        assert [e.version for e in eps] == list(range(1, len(eps) + 1))
        assert sum(1 for e in eps if e.valid_to is None) == 1
        for prev, nxt in zip(eps, eps[1:]):
            assert prev.valid_to == nxt.valid_from
            assert prev.state != nxt.state


def test_winsorized_bounds_clamp_the_mean(spark):
    rows = q.QUERIES["winsorized_stats"](spark, SF).collect()
    assert rows
    raw = {
        r.source: r
        for r in q.t(spark, SF, "documents")
        .groupBy("source")
        .agg(
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .collect()
    }
    for r in rows:
        assert raw[r.source].mn <= r.lo <= r.hi <= raw[r.source].mx
        assert r.lo * 1000 <= r.wins_mean_milli <= r.hi * 1000


def test_peak_concurrency_matches_naive_overlap(spark):
    """The sweep-line peak must equal the naive per-instant maximum
    computed by brute force on the driver (small slice)."""
    rows = {
        r.event_type: (r.peak, r.first_peak_t)
        for r in q.QUERIES["peak_concurrency"](spark, SF).collect()
    }
    evs = (
        q.t(spark, SF, "events")
        .select("event_type", F.col("ts").cast("timestamp").cast("long").alias("t"))
        .collect()
    )
    by_type = {}
    for r in evs:
        by_type.setdefault(r.event_type, []).append(r.t)
    for et, starts in by_type.items():
        deltas = sorted(
            [(t, 1) for t in starts] + [(t + q.SESS_LEN_S, -1) for t in starts],
            key=lambda x: (x[0], x[1]),
        )
        # peers-inclusive: group equal (t, delta) keys together
        live, best, best_t = 0, -1, None
        i = 0
        while i < len(deltas):
            j = i
            while j < len(deltas) and deltas[j][:2] == deltas[i][:2]:
                j += 1
            live += sum(d for _, d in deltas[i:j])
            if live > best:
                best, best_t = live, deltas[i][0]
            i = j
        assert rows[et] == (best, best_t), et


def test_fk_audit_clean_generator_has_no_orphans(spark):
    rows = q.QUERIES["fk_orphan_audit"](spark, SF).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.orphans == 0, r.relation
        assert 0 < r.distinct_keys <= r.total_rows


def test_word_pmi_symmetric_definition(spark):
    """Pair counts must never exceed either unigram count, and the
    ratio must match the integer formula recomputed from the row."""
    rows = q.QUERIES["word_pmi"](spark, SF).collect()
    assert rows
    n_docs = q.t(spark, SF, "documents").count()
    for r in rows:
        assert r.word_a < r.word_b
        assert r.n_ab <= min(r.n_a, r.n_b)
        assert r.pmi_ratio_e6 == (r.n_ab * n_docs * 1000000) // (r.n_a * r.n_b)


def test_outlier_3sigma_matches_float_reference(spark):
    """The integer cross-multiplied test must agree with the plain
    float mean/std definition (strict inequality, population sigma)."""
    import math

    got = {r.event_id for r in q.QUERIES["outlier_3sigma"](spark, SF).collect()}
    evs = (
        q.t(spark, SF, "events")
        .select("event_id", "event_type", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    by_type = {}
    for r in evs:
        by_type.setdefault(r.event_type, []).append((r.event_id, r.v))
    exp = set()
    for vs in by_type.values():
        xs = [v for _, v in vs]
        c = len(xs)
        mu = sum(xs) / c
        var = sum((x - mu) ** 2 for x in xs) / c
        sd = math.sqrt(var)
        for eid, v in vs:
            if abs(v - mu) > 3 * sd + 1e-9:
                exp.add(eid)
    assert got == exp


def test_snapshot_diff_statuses_partition_the_ids(spark):
    """added/removed/changed sets must exactly match the version
    rules the snapshots were derived with."""
    rows = q.QUERIES["snapshot_diff"](spark, SF).collect()
    got = {}
    for r in rows:
        got.setdefault(r.status, set()).add(r.doc_id)
    ids = [r.doc_id for r in q.t(spark, SF, "documents").select("doc_id").collect()]
    v1 = {i for i in ids if i % 7 != 0}
    v2 = {i for i in ids if i % 5 != 0}
    assert got.get("added", set()) == v2 - v1
    assert got.get("removed", set()) == v1 - v2
    assert got.get("changed", set()) == {i for i in v1 & v2 if i % 11 == 0}


def test_k_anonymity_group_sizes_sum_to_corpus(spark):
    rows = q.QUERIES["k_anonymity_audit"](spark, SF).collect()
    total = q.t(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert r.at_risk == (r.n < q.K_ANON)


def test_decayed_engagement_bounds(spark):
    """Decay can only shrink: decayed ≤ raw sum; and a user whose
    events all sit in the newest week scores exactly the raw sum."""
    rows = {r.user_id: r for r in q.QUERIES["decayed_engagement"](spark, SF).collect()}
    evs = (
        q.t(spark, SF, "events")
        .select(
            "user_id",
            F.floor("value").cast("long").alias("v"),
            F.col("ts").cast("timestamp").cast("long").alias("t"),
        )
        .collect()
    )
    mt = max(r.t for r in evs)
    by_user = {}
    for r in evs:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, es in by_user.items():
        got = rows[uid]
        assert got.n_events == len(es)
        exp = sum(
            (e.v >> ((mt - e.t) // q.DECAY_WEEK_S))
            if (mt - e.t) // q.DECAY_WEEK_S < 63
            else 0
            for e in es
        )
        assert got.decayed_units == exp
        assert got.decayed_units <= sum(e.v for e in es)


def test_int8_quantized_ranking_close_to_float(spark):
    """Quantized retrieval must rank sensibly: top-3 per query are
    oriented, ranked by exact integer dot, and the quantized top-1
    appears in the float cosine top-5 for most queries (quantization
    preserves neighborhoods)."""
    rows = q.QUERIES["int8_ann_top3"](spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert by_q and all(len(v) == 3 for v in by_q.values())
    for v in by_q.values():
        v.sort(key=lambda r: r.rk)
        assert v[0].idot >= v[1].idot >= v[2].idot
    cos = {}
    for r in q.QUERIES["emb_cosine_top5"](spark, SF).collect():
        cos.setdefault(r.qid, set()).add(r.nid)
    hits = sum(
        1 for qid, v in by_q.items() if qid in cos and v[0].nid in cos[qid]
    )
    assert hits >= len(by_q) * 0.7


def test_pagerank_matches_integer_reference(spark):
    """Bit-exact against a driver-side Python replay of the same
    integer recurrence over the same candidate edges — the contract
    the DuckDB oracle certifies cross-engine, pinned here in-process
    so a Spark-side plan change can't silently drift the arithmetic."""
    from xtract import minhash as mh

    d = q.t(spark, SF, "documents")
    pairs = [
        (r.doc_a, r.doc_b)
        for r in mh.candidate_pairs(
            d.select("doc_id", "text"), max_bucket=50
        ).collect()
    ]
    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        edges.add((b, a))
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: q.PR_R0 for n in deg}
    for _ in range(q.PR_ITERS):
        nxt = {}
        for s, t_ in edges:
            nxt[t_] = nxt.get(t_, 0) + rank[s] // deg[s]
        rank = {n: 150000 + (85 * v) // 100 for n, v in nxt.items()}
    got = {r.doc_id: r.rank_e6 for r in q.QUERIES["pagerank_dupgraph"](spark, SF).collect()}
    assert got == rank
    assert all(v >= 150000 for v in got.values())
