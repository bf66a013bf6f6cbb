"""Property tests for the session-6 operators: boilerplate-line strip
(vs a pure-Python recomputation of the corpus-frequency rule),
word-rank fluency (vs an exact Python rank model), DSIR importance
(vs Python hashed-ratio scoring + the en-docs-score-higher property),
count-min sketch (one-sided error guarantee + exact-recount parity),
and Z-order layout (Morton-key bit interleave + span-bounding
property vs the linear layout)."""
import hashlib
from collections import Counter, defaultdict

from xtract import queries as q

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return q.t(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    ).collect()


def _lines_of(doc):
    ws = doc.text.split(" ")
    chunks = [
        " ".join(ws[i : i + q.SPAN_WORDS])
        for i in range(0, len(ws), q.SPAN_WORDS)
    ]
    return (
        [f"nav {doc.source} home about contact"]
        + chunks
        + [f"copyright {doc.source} all rights reserved"]
    )


def test_boilerplate_rule_vs_python(spark):
    docs = _docs(spark)
    per_doc = {d.doc_id: _lines_of(d) for d in docs}
    nd = defaultdict(set)
    for did, lines in per_doc.items():
        for ln in lines:
            nd[ln].add(did)
    bp = {ln for ln, s in nd.items() if len(s) >= q.BP_K}
    got = {
        r.doc_id: (r.lines_total, r.lines_kept, r.lines_removed, r.clean_md5)
        for r in q.QUERIES["boilerplate_lines"](spark, SF).collect()
    }
    assert set(got) == set(per_doc)
    removed_any = 0
    for did, lines in per_doc.items():
        kept = [ln for ln in lines if ln not in bp]
        md5 = (
            hashlib.md5("\n".join(kept).encode()).hexdigest() if kept else None
        )
        assert got[did] == (
            len(lines),
            len(kept),
            len(lines) - len(kept),
            md5,
        ), did
        removed_any += len(lines) - len(kept)
    # header+footer are shared by every doc of a source → always removed
    assert removed_any >= 2 * len(per_doc)


def test_word_rank_fluency_vs_python(spark):
    docs = _docs(spark)
    toks = {
        d.doc_id: [w.lower() for w in d.text.split(" ") if w] for d in docs
    }
    cnt = Counter(w for ws in toks.values() for w in ws)
    # the window ORDER BY (cnt desc, word asc) is a total order (word
    # is unique), so SQL rank() degenerates to position — every word
    # gets a distinct deterministic rank
    order = sorted(cnt, key=lambda w: (-cnt[w], w))
    rank = {w: i + 1 for i, w in enumerate(order)}
    got = {
        r.doc_id: (r.n_toks, r.mean_rank_milli)
        for r in q.QUERIES["word_rank_fluency"](spark, SF).collect()
    }
    for did, ws in toks.items():
        if not ws:
            assert did not in got
            continue
        exp = sum(rank[w] for w in ws) * 1000 // len(ws)
        assert got[did] == (len(ws), exp), did


def _md5_bucket(s, mod):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def test_dsir_importance_vs_python(spark):
    docs = _docs(spark)
    bkts = {
        d.doc_id: [
            _md5_bucket(w.lower(), q.DSIR_BUCKETS)
            for w in d.text.split(" ")
            if w
        ]
        for d in docs
    }
    lang = {d.doc_id: d.lang for d in docs}
    raw, tgt = Counter(), Counter()
    for did, bs in bkts.items():
        for b in bs:
            raw[b] += 1
            if lang[did] == q.DSIR_TARGET_LANG:
                tgt[b] += 1
    ratio = {b: (tgt[b] + 1) * 1_000_000 // (raw[b] + 1) for b in raw}
    got = {
        r.doc_id: (r.n_toks, r.imp_ppm)
        for r in q.QUERIES["dsir_importance"](spark, SF).collect()
    }
    en_scores, other_scores = [], []
    for did, bs in bkts.items():
        if not bs:
            continue
        exp = sum(ratio[b] for b in bs) // len(bs)
        assert got[did] == (len(bs), exp), did
        (en_scores if lang[did] == q.DSIR_TARGET_LANG else other_scores).append(
            exp
        )
    # the selection property DSIR exists for: target-language docs
    # must score higher on average than the rest of the corpus
    assert en_scores and other_scores
    assert sum(en_scores) / len(en_scores) > sum(other_scores) / len(
        other_scores
    )


def test_cms_one_sided_error_and_exact_counts(spark):
    docs = _docs(spark)
    cnt = Counter(
        w.lower() for d in docs for w in d.text.split(" ") if w
    )
    rows = q.QUERIES["cms_heavy_hitters"](spark, SF).collect()
    assert len(rows) == min(q.CMS_TOPK, len(cnt))
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: q.CMS_TOPK]
    exp_words = {w for w, _ in top}
    for r in rows:
        assert r.word in exp_words
        assert r.exact_cnt == cnt[r.word]
        # CMS never undercounts
        assert r.cms_est >= r.exact_cnt
        assert r.over_ppm == (r.cms_est - r.exact_cnt) * 1_000_000 // r.exact_cnt


def _morton(rx, ry, bits):
    out = 0
    for i in range(bits):
        out |= ((rx >> i) & 1) << (2 * i)
        out |= ((ry >> i) & 1) << (2 * i + 1)
    return out


def test_zkey_expr_is_morton():
    expr = q._zkey_expr("//")
    for rx in (0, 1, 5, 127, 200, 255):
        for ry in (0, 3, 64, 255):
            assert eval(expr, {}, {"rx": rx, "ry": ry}) == _morton(
                rx, ry, q.ZORD_BITS
            )


def test_zorder_bounds_both_dimensions(spark):
    rows = q.QUERIES["zorder_layout"](spark, SF).collect()
    by_layout = defaultdict(list)
    for r in rows:
        by_layout[r.layout].append(r)
    assert set(by_layout) == {"linear", "zorder"}
    n = sum(r.n_rows for r in by_layout["linear"])
    assert n == sum(r.n_rows for r in by_layout["zorder"])

    def worst_span(files, lo_attr, hi_attr, dom):
        return max(
            (getattr(r, hi_attr) - getattr(r, lo_attr)) / dom for r in files
        )

    lin, zo = by_layout["linear"], by_layout["zorder"]
    y_dom = max(r.y_max for r in lin) - min(r.y_min for r in lin) or 1
    # the linear layout cannot skip on y: its worst file covers
    # (nearly) the whole y domain; z-order bounds y materially better
    lin_y = worst_span(lin, "y_min", "y_max", y_dom)
    zo_y = worst_span(zo, "y_min", "y_max", y_dom)
    assert lin_y > 0.9
    assert zo_y < lin_y


def test_mixture_weights_vs_python(spark):
    import math

    docs = _docs(spark)
    toks = defaultdict(int)
    ndocs = defaultdict(int)
    for d in docs:
        toks[d.lang] += len(d.text.split(" "))
        ndocs[d.lang] += 1
    sw = {l: math.isqrt(n) for l, n in toks.items()}
    ts, tt = sum(sw.values()), sum(toks.values())
    got = {
        r.lang: (r.n_docs, r.n_toks, r.s_w, r.w_ppm, r.upsample_milli)
        for r in q.QUERIES["mixture_weights"](spark, SF).collect()
    }
    assert set(got) == set(toks)
    for l in toks:
        assert got[l] == (
            ndocs[l],
            toks[l],
            sw[l],
            sw[l] * 1_000_000 // ts,
            sw[l] * tt * 1000 // (ts * toks[l]),
        ), l
    # temperature sampling must up-weight low-resource languages:
    # the smallest language's upsample factor exceeds the largest's
    lo = min(toks, key=toks.get)
    hi = max(toks, key=toks.get)
    assert got[lo][4] > got[hi][4]


def test_weighted_sample_vs_python(spark):
    rows = q.QUERIES["weighted_sample"](spark, SF).collect()
    full = {
        r.doc_id: (r.lang, r.n_chars)
        for r in q.t(spark, SF, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    pri = {
        did: (int(hashlib.md5(f"ws#{did}".encode()).hexdigest()[:8], 16)
              * 1048576)
        // max(nc, 1)
        for did, (_, nc) in full.items()
    }
    by_lang = defaultdict(list)
    for did, (lang, _) in full.items():
        by_lang[lang].append(did)
    exp = set()
    for lang, dids in by_lang.items():
        dids.sort(key=lambda d: (pri[d], d))
        exp |= {(lang, d) for d in dids[: q.WS_K]}
    got = {(r.lang, r.doc_id) for r in rows}
    assert got == exp
    for r in rows:
        assert r.pri == pri[r.doc_id]


def test_salted_join_matches_plain_join(spark):
    import pyspark.sql.functions as F

    got = {
        r.k: (r.n_events, r.sum_v_c, r.dim_tot_c)
        for r in q.QUERIES["skew_salted_join"](spark, SF).collect()
    }
    ev = q.t(spark, SF, "events").select(
        F.when(F.col("event_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.floor(F.col("value") * 100).cast("long").alias("v_c"),
    )
    dim = (
        q.t(spark, SF, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("tot_c"))
    )
    exp = {
        r.k: (r.n, r.s, r.t)
        for r in ev.join(dim, "k")
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v_c").alias("s"),
            F.max("tot_c").alias("t"),
        )
        .collect()
    }
    assert got == exp
    # the planted hot key must actually be hot (≈1/3 of all events)
    n_ev = q.t(spark, SF, "events").count()
    assert got[0][0] >= n_ev // 4
