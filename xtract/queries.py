"""Operator queries over the synthetic sf tables (SURVEY.md §2).

No ``job.py`` path calls these. Each registered query is pinned by a
property test in tests/test_session{4,6,7,8}_ops.py or
tests/test_longdoc.py, which recomputes its result independently in
Python.

Determinism rules used throughout (so results compare exactly):
- money/measures → integer cents via floor(x*100) (identical IEEE
  doubles in, identical ints out; no float-sum ordering issues)
- timestamps → epoch seconds via Spark ``cast(ts as long)``; each
  query pins the session timezone to UTC so every reader sees the same
  naive-parquet instant
- floats that must survive (cosine scores) → round(…, 4)
"""
from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

QUERIES: dict[str, Callable] = {}


def q(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.floor(col * 100).cast("long")


def _epoch(col):
    """TIMESTAMP_NTZ → epoch seconds: NTZ casts to LTZ under the
    pinned UTC session TZ, matching DuckDB epoch(naive)."""
    return col.cast("timestamp").cast("long")


# =====================================================================
# Long-document corpus: where capped and full-text dedup PROVABLY
# disagree (the sf tables' docs are shorter than minhash.CAP at small
# scales, so capped and full-text kernels are indistinguishable on
# them — this corpus is multi-KB by construction, with planted
# near-dups whose shared content lies entirely beyond the cap)
# =====================================================================
LONGDOC_GROUP = 10  # documents concatenated per long doc (~5 KB each)
LONGDOC_TWIN_SKIP = 1200  # leading chars the twin does NOT share (> CAP)
LONGDOC_TWIN_OFFSET = 1_000_000


def longdoc_corpus(spark, sf_dir) -> DataFrame:
    """Deterministic multi-KB corpus derived from ``documents``: every
    LONGDOC_GROUP consecutive doc_ids concatenate (doc_id order) into
    one base long doc; every EVEN base additionally gets a twin
    (doc_id + LONGDOC_TWIN_OFFSET) whose first LONGDOC_TWIN_SKIP chars
    are unique md5-repeat filler and whose remainder is shared with
    the base verbatim — a planted near-dup visible ONLY to a kernel
    that hashes past minhash.CAP."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        d.groupBy(F.expr(f"doc_id div {LONGDOC_GROUP}").alias("doc_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    twins = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + LONGDOC_TWIN_OFFSET).alias("doc_id"),
        F.concat(
            F.repeat(
                F.md5(F.concat(F.lit("twin"), F.col("doc_id").cast("string"))),
                40,
            ),
            F.expr(f"substring(text, {LONGDOC_TWIN_SKIP + 1})"),
        ).alias("text"),
    )
    return base.unionByName(twins)


@q("longdoc_dedup")
def longdoc_dedup(spark, sf_dir):
    """Capped vs FULL-text near-dup detection on a corpus where they
    must disagree: each planted twin shares its base's content only
    beyond char LONGDOC_TWIN_SKIP (> minhash.CAP), so the capped
    kernel sees disjoint prefixes (no candidate) while the full
    chunked kernel recovers the pair — rows with n_bands_capped = 0
    and n_bands_full > 0 are the planted dups, and the full kernel is
    the green contract. DuckDB independently rebuilds the corpus from
    ``documents`` AND both signature pipelines (capped + full CTE
    instantiations side by side), so the corpus construction and both
    kernels sit on the driver's hash gate. Reference analogue:
    whole-text md5 keying, question_merger.py:568-609."""
    from . import minhash as mh

    corpus = longdoc_corpus(spark, sf_dir)
    full = mh.candidate_pairs(corpus, cap=None).withColumnRenamed(
        "n_bands", "n_bands_full"
    )
    capped = mh.candidate_pairs(corpus, cap=mh.CAP).withColumnRenamed(
        "n_bands", "n_bands_capped"
    )
    return full.join(capped, ["doc_a", "doc_b"], "full_outer").select(
        "doc_a",
        "doc_b",
        F.coalesce("n_bands_full", F.lit(0)).cast("long").alias("n_bands_full"),
        F.coalesce("n_bands_capped", F.lit(0)).cast("long").alias("n_bands_capped"),
    )


# =====================================================================
# Corpus-level span dedup (C4/CCNet-style): remove text spans that
# appear anywhere else in the corpus, keeping the first occurrence
# =====================================================================
SPAN_WORDS = 10  # words per dedup unit (C4 dedups fixed spans; CCNet
# hashes paragraphs — this corpus has no newlines, so the unit is a
# fixed word window)

# over a pre-split `ws` array column: evaluating split() inside the
# lambda body would re-tokenize the document once per span (no CSE
# inside lambdas)
_SPAN_CHUNKS = (
    "transform(sequence(0, cast(ceil(size(ws) / {w}.0) as int) - 1),"
    " i -> array_join(slice(ws, i * {w} + 1, {w}), ' '))"
).format(w=SPAN_WORDS)


# =====================================================================
# Edit-distance verification of near-dup candidates: the PRECISION
# stage after MinHash recall, exact and integer end-to-end
# =====================================================================
ED_CAP = 1000  # chars compared per pair — bounds the O(a*b) DP cell count


@q("edit_dist_verify")
def edit_dist_verify(spark, sf_dir):
    """Levenshtein VERIFICATION of the MinHash candidate pairs — the
    classic recall→precision dedup ladder's last rung: banding finds
    candidates cheaply, edit distance certifies them exactly. The
    O(a·b) DP never touches the corpus at large — it runs only on the
    banded candidate pairs (skew-capped buckets bound pair count), and
    each string is capped at ED_CAP chars so per-pair cost is a
    constant ≤ ED_CAP² cells regardless of document length. Both
    engines expose the same classic unit-cost Levenshtein builtin
    (Spark ``levenshtein``, DuckDB ``levenshtein``), so ``dist`` is
    bit-identical, and the similarity ratio is kept integer:
    sim_ppm = (maxlen − dist)·1e6 div maxlen — no float division to
    diverge. At 10^12 docs this is a broadcast-free three-way join on
    doc_id: candidates shuffle once, each side's text rides in from
    the doc table co-partitioned on the same key. Reference analogue:
    strict/loose arbitration (R4) also re-scores candidates with an
    exact matcher after a cheap recall pass."""
    from . import minhash as mh

    d = t(spark, sf_dir, "documents")
    pairs = mh.candidate_pairs(d.select("doc_id", "text"), max_bucket=50).select(
        "doc_a", "doc_b"
    )
    txt = d.select(
        "doc_id", F.substring("text", 1, ED_CAP).alias("tx")
    )
    j = (
        pairs.join(txt.select(F.col("doc_id").alias("doc_a"), F.col("tx").alias("ta")), "doc_a")
        .join(txt.select(F.col("doc_id").alias("doc_b"), F.col("tx").alias("tb")), "doc_b")
    )
    mlen = F.greatest(F.length("ta"), F.length("tb"))
    dist = F.levenshtein("ta", "tb").cast("long")
    return j.select(
        "doc_a",
        "doc_b",
        dist.alias("dist"),
        F.expr(
            "cast(((greatest(length(ta), length(tb)) - cast(levenshtein(ta, tb) as bigint))"
            " * 1000000) div greatest(length(ta), length(tb), 1) as long)"
        ).alias("sim_ppm"),
    )


@q("triangle_support")
def triangle_support(spark, sf_dir):
    """Per-node TRIANGLE support over the production near-dup
    candidate graph — the local-density signal that separates a tight
    duplication clique (template spam, mirrored boilerplate) from a
    chain of borderline pairs: cliques are triangle-rich, chains are
    triangle-free. The edges are the 128-perm banded pairs. The
    id-oriented edge list (a<b) counts each triangle
    exactly once as (x<y<z): wedge join on the middle node, then a
    closing join on (x,z) — two shuffles on node id, no node ever
    enumerates its full neighborhood in one task. At 10^12-doc scale
    the standard hardening applies and is documented here as the
    deviation point: orient edges by (degree, id) instead of raw id so
    every wedge pivot has low out-degree (bounds wedge count by
    arboricity), and the banded graph's bucket cap (50) already bounds
    raw degree. Integer counts only — nothing to drift."""
    from . import minhash as mh

    d = t(spark, sf_dir, "documents")
    e = mh.candidate_pairs(d.select("doc_id", "text"), max_bucket=50).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )


# =====================================================================
# Per-user engagement trend: exact integer least-squares slope
# (numerator/denominator pair — no float regression to diverge)
# =====================================================================
@q("trend_slope")
def trend_slope(spark, sf_dir):
    """Per-user engagement TREND via exact integer least squares —
    is each user's event value rising or falling over the corpus
    window? The OLS slope is kept as the rational pair
    (n·Σxy − Σx·Σy) / (n·Σxx − Σx²): both engines emit the two int64
    sums bit-exactly, and the caller divides (or compares num·den'
    cross-products) only at presentation time — a float regression
    could never hash-match across engines. x is HOURS since the
    corpus min timestamp (one broadcast scalar), which both rebases
    the epoch so squares stay far from int64 range (30-day corpus →
    x ≤ 719; even a 10-year window is x ≤ 9e4, Σx² per user ≤ 1e9·n)
    and makes the slope unit interpretable (value units per hour).
    One shuffle: the user_id agg; the min-ts subquery is a 1-row
    broadcast."""
    e = t(spark, sf_dir, "events").select(
        "user_id", _epoch(F.col("ts")).alias("t"), F.floor("value").cast("long").alias("y")
    )
    m = F.broadcast(e.agg(F.min("t").alias("mn")))
    return (
        e.crossJoin(m)
        .withColumn("x", F.expr("(t - mn) div 3600"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.count("*") * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y")).cast("long").alias("slope_num"),
            (F.count("*") * F.sum(F.col("x") * F.col("x"))
             - F.sum("x") * F.sum("x")).cast("long").alias("slope_den"),
        )
        .filter(F.col("n") >= 2)
    )


# =====================================================================
# Corpus drift monitor: word-frequency L1 drift (ppm) between two
# corpus slices — the data-quality alarm for a changing crawl mix
# =====================================================================
DRIFT_TOP = 30


@q("drift_l1")
def drift_l1(spark, sf_dir):
    """Distribution-DRIFT monitor between two corpus slices (here the
    deterministic doc_id-parity split; in production, yesterday's
    snapshot vs today's): per-word relative frequency in each slice,
    integer ppm, ranked by absolute drift. This is the alarm a
    training-data pipeline runs after every crawl refresh — a word
    whose frequency moves by thousands of ppm signals a source-mix
    shift or an injection event long before model metrics move. All
    arithmetic is integer (c·1e6 div N per slice, then |Δ|), so the
    ranking is bit-stable across engines; the sum of drift_ppm over
    the full vocabulary is exactly the scaled L1 (total-variation)
    distance between the two unigram distributions. Shape at 10^12
    docs: one explode → one word-keyed agg (map-side combined) with
    BOTH slice counts as conditional aggs in the same pass (never two
    scans), slice totals as a 1-row broadcast, and the final top-k a
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort. Ties break lexicographically for determinism."""
    d = t(spark, sf_dir, "documents")
    w = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    c = w.groupBy("word").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    n = F.broadcast(
        c.agg(F.sum("c0").cast("long").alias("n0"), F.sum("c1").cast("long").alias("n1"))
    )
    return (
        c.crossJoin(n)
        .select(
            "word",
            "c0",
            "c1",
            F.expr(
                "cast(abs(c0 * 1000000 div greatest(n0, 1L)"
                " - c1 * 1000000 div greatest(n1, 1L)) as long)"
            ).alias("drift_ppm"),
        )
        .orderBy(F.col("drift_ppm").desc(), "word")
        .limit(DRIFT_TOP)
    )


# =====================================================================
# Equi-width histogram in pure integer arithmetic — the zone-map /
# profiling primitive (no engine-specific width_bucket edge semantics)
# =====================================================================
HIST_BUCKETS = 20


@q("hist_totalprice")
def hist_totalprice(spark, sf_dir):
    """Equi-width HISTOGRAM of order totals — the column-profiling /
    zone-map primitive — computed with a hand-rolled integer bucket
    formula instead of the engines' ``width_bucket`` builtins, whose
    boundary semantics (closed/open edges, overflow bucket numbering)
    differ subtly between engines and versions. bucket =
    (cents − lo)·B div (hi − lo + 1) maps the domain onto 0..B−1 with
    every edge case pinned by integer division: cents=hi lands in
    B−1 because (hi−lo)·B < B·(hi−lo+1). The min/max pair is a 1-row
    broadcast (the same two numbers a parquet footer zone map would
    supply free at scale — the scan to compute them disappears on a
    real warehouse); the histogram itself is one map-side-combinable
    agg on a B-value key, so the shuffle moves B rows per partition
    regardless of corpus size. Bucket bounds are emitted so the
    result is self-describing."""
    o = t(spark, sf_dir, "orders").select(_cents(F.col("o_totalprice")).alias("cents"))
    b = F.broadcast(
        o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    )
    n = HIST_BUCKETS
    return (
        o.crossJoin(b)
        .select(
            F.expr(f"((cents - lo) * {n}) div (hi - lo + 1)").alias("bucket"),
            "lo",
            "hi",
        )
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "bucket",
            F.expr(f"cast(lo + (bucket * (hi - lo + 1)) div {n} as long)").alias(
                "bucket_lo_c"
            ),
            F.expr(
                f"cast(lo + ((bucket + 1) * (hi - lo + 1)) div {n} - 1 as long)"
            ).alias("bucket_hi_c"),
            "cnt",
        )
        .orderBy("bucket")
    )


# =====================================================================
# OHLC hourly rollup: order-statistics-by-key aggregation with a
# deterministic integer ordering key (classic time-series compaction)
# =====================================================================
@q("ohlc_hourly")
def ohlc_hourly(spark, sf_dir):
    """Hourly OHLC compaction of the event stream — the time-series
    rollup every metrics store and market-data pipeline runs. The
    subtle part is OPEN/CLOSE: 'first/last value in the hour' is
    order-dependent, and engines disagree on ties unless the ordering
    key is total — so the key is the integer epoch·1e5 + event_id
    (unique by construction; epoch ≤ ~2e9 keeps the product at
    ~2e14, far from int64), and open/close are min_by/max_by
    (DuckDB arg_min/arg_max) on that key. Everything is one map-side-
    combinable agg on the hour key — min_by/max_by carry a single
    (value, key) pair per partition, so the shuffle moves O(hours)
    rows whatever the corpus size. Prices in integer cents; no float
    first()/last() to drift."""
    e = t(spark, sf_dir, "events").select(
        _epoch(F.col("ts")).alias("t"),
        "event_id",
        _cents(F.col("value")).alias("cents"),
    )
    b = e.select(
        F.expr("t div 3600").alias("hour"),
        (F.col("t") * 100000 + F.col("event_id")).alias("k"),
        "cents",
    )
    return b.groupBy("hour").agg(
        F.min_by("cents", "k").cast("long").alias("open_c"),
        F.max("cents").cast("long").alias("high_c"),
        F.min("cents").cast("long").alias("low_c"),
        F.max_by("cents", "k").cast("long").alias("close_c"),
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("vol_c"),
    )


# =====================================================================
# Overlapping document chunking (RAG / context-window prep): pure
# map-side explode, deterministic boundaries, content-certified chunks
# =====================================================================
CHUNK_W = 50  # words per chunk
CHUNK_S = 40  # stride (overlap = CHUNK_W - CHUNK_S)


@q("chunk_overlap")
def chunk_overlap(spark, sf_dir):
    """Overlapping fixed-width CHUNKING of documents — the
    retrieval/context-window prep pass (chunk size CHUNK_W words,
    stride CHUNK_S, so consecutive chunks share CHUNK_W−CHUNK_S words
    of context). Boundaries are pure integer arithmetic on the word
    array — n_chunks = 1 + ceil((nw−W)/S) via integer division, the
    last chunk may be short, every doc (even empty) yields chunk 0 —
    and each chunk's CONTENT is certified by an md5 over the joined
    words, so the driver hash pins the full chunk text without
    shipping it. The plan is scan → split once → explode(sequence) →
    project: ZERO shuffles, embarrassingly parallel, output rows ≈
    corpus_words/S. At 10^12 turns this is the same no-exchange shape
    as the fused extraction kernel — throughput scales with executors
    with no shuffle to rebalance. Emitting (doc_id, chunk_idx) makes
    chunks addressable for downstream embedding/indexing without
    re-chunking."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    b = d.select("doc_id", "ws", F.size("ws").cast("long").alias("nw"))
    n_chunks = F.when(F.col("nw") <= CHUNK_W, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(f"(nw - {CHUNK_W} + {CHUNK_S} - 1) div {CHUNK_S}").cast("int")
    )
    c = b.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias("ci"),
    )
    chunk = F.slice("ws", F.col("ci") * CHUNK_S + 1, CHUNK_W)
    return c.select(
        "doc_id",
        F.col("ci").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# =====================================================================
# Corpus-frequency boilerplate-line strip (CCNet / RefinedWeb line
# filtering): any line shared by >= BP_K distinct documents is
# boilerplate and ALL its occurrences are removed
# =====================================================================
BP_K = 5  # distinct-document threshold for "boilerplate"


@q("boilerplate_lines")
def boilerplate_lines(spark, sf_dir):
    """Corpus-level boilerplate-LINE removal — the CCNet/RefinedWeb
    rule that differs from corpus span dedup in kind: span dedup keeps
    the FIRST occurrence of a repeated span, while the boilerplate
    rule drops EVERY occurrence of any line appearing in >= BP_K=5
    distinct documents (nav bars, cookie banners, copyright footers
    survive first-occurrence dedup but are noise in every copy). Both
    engines derive the same lined corpus deterministically from
    `documents` (per-source header/footer + 10-word body
    chunks), so corpus construction itself is cross-checked. Plan:
    one groupBy(line) with countDistinct builds the (small) line
    doc-frequency table; only the HAVING-filtered boilerplate subset
    — a tiny fraction of distinct lines — joins back, as a broadcast
    left join, so the corpus never shuffles on line content a second
    time; one groupBy(doc_id) reassembles. At 100 TB the line key is
    xxhash64(line) and the boilerplate set stays broadcastable by
    construction (it's bounded by lines repeated across >= BP_K
    docs, the heavy tail every real crawl has). clean_md5 puts the
    exact reconstruction on the driver's hash gate."""
    d = t(spark, sf_dir, "documents")
    hdr = F.concat(F.lit("nav "), F.col("source"), F.lit(" home about contact"))
    ftr = F.concat(
        F.lit("copyright "), F.col("source"), F.lit(" all rights reserved")
    )
    c = (
        d.select("doc_id", F.split("text", " ").alias("ws"), hdr.alias("h"), ftr.alias("f"))
        .select(
            "doc_id",
            F.posexplode(
                F.concat(F.array("h"), F.expr(_SPAN_CHUNKS), F.array("f"))
            ).alias("pos", "line"),
        )
    )
    bp = (
        c.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BP_K)
        .select("line", F.lit(True).alias("is_bp"))
    )
    j = c.join(F.broadcast(bp), "line", "left").withColumn(
        "bpf", F.coalesce(F.col("is_bp"), F.lit(False))
    )
    kept_struct = F.array_sort(
        F.collect_list(F.when(~F.col("bpf"), F.struct("pos", "line")))
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("lines_total"),
        F.count_if(~F.col("bpf")).cast("long").alias("lines_kept"),
        F.count_if(F.col("bpf")).cast("long").alias("lines_removed"),
        F.when(
            F.count_if(~F.col("bpf")) > 0,
            F.md5(
                F.array_join(
                    F.transform(kept_struct, lambda s: s["line"]), "\n"
                )
            ),
        ).alias("clean_md5"),
    )


# =====================================================================
# Word-rank fluency score: a KenLM-perplexity-filter proxy that stays
# exact-integer (mean corpus-frequency RANK of a document's tokens)
# =====================================================================
@q("word_rank_fluency")
def word_rank_fluency(spark, sf_dir):
    """Perplexity-filter PROXY that needs no float log-probs: every
    token is scored by its corpus frequency RANK (1 = most common;
    ties broken by word so both engines rank identically), and a
    document's fluency score is the mean rank in milli-units —
    documents full of rare words score high (suspect), common-word
    prose scores low. This is the integer-exact skeleton of the
    KenLM/CCNet perplexity gate: corpus-level token statistics →
    tiny per-word score table → broadcast join back to the token
    stream → one doc_id agg. The rank window runs on the AGGREGATED
    vocab (|V| rows, not corpus rows) — at 100 TB a BPE/word vocab is
    at most a few million rows, still a single-executor sort, and the
    score table stays broadcastable while the corpus side never
    shuffles on anything but doc_id."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select("doc_id", F.lower("w").alias("word"))
    )
    vocab = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    rk = vocab.select(
        "word",
        F.rank().over(Window.orderBy(F.col("cnt").desc(), "word")).alias("r"),
    )
    return (
        tok.join(F.broadcast(rk), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.expr("(sum(r) * 1000) div count(*)")
            .cast("long")
            .alias("mean_rank_milli"),
        )
    )


# =====================================================================
# DSIR hashed-feature importance weights (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — public
# paper): score raw docs by target-vs-raw hashed-unigram ratios
# =====================================================================
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


@q("dsir_importance")
def dsir_importance(spark, sf_dir):
    """DSIR-style importance weights over hashed unigram features
    (Xie et al. 2023): bucket every token into 1024 hashed
    feature bins (cross-engine md5-prefix hash), estimate per-bucket target-vs-raw frequency ratios with
    add-one smoothing (target = lang='en' docs), and
    score each document by the mean ratio of its tokens — the
    integer-ppm monotone twin of DSIR's sum-of-log-ratios (we rank by
    it, never exponentiate, so ppm preserves the selection order for
    single-feature scores). Plan: ONE token-stream groupBy(bkt)
    builds the 1024-row feature table — fixed size
    regardless of corpus scale — which broadcasts back onto the token
    stream; the corpus shuffles only on doc_id for the final agg. At
    100 TB this is exactly the DSIR recipe: the feature model is
    O(buckets), not O(corpus), and scoring is embarrassingly
    parallel."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5(F.lower("w")), 1, 8), 16, 10)
                .cast("long")
                % DSIR_BUCKETS
            ).alias("bkt"),
        )
    )
    feat = tok.groupBy("bkt").agg(
        F.count("*").cast("long").alias("raw_cnt"),
        F.count_if(F.col("lang") == DSIR_TARGET_LANG)
        .cast("long")
        .alias("tgt_cnt"),
    )
    r = feat.select(
        "bkt",
        F.expr("((tgt_cnt + 1) * 1000000) div (raw_cnt + 1)").alias(
            "ratio_ppm"
        ),
    )
    return (
        tok.join(F.broadcast(r), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.expr("sum(ratio_ppm) div count(*)")
            .cast("long")
            .alias("imp_ppm"),
        )
    )


# =====================================================================
# Count-Min sketch heavy hitters: the streaming-sketch family member
# (bloom = membership, HLL = cardinality, CMS = frequency) as a pure
# fixed-size aggregation, with its one-sided error driver-certified
# =====================================================================
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 20


def _cms_bucket_sql(word_expr: str, r: int, hexcast: str) -> str:
    """Cross-engine md5-prefix bucket for CMS row ``r`` (salted per
    row)."""
    return (
        f"cast({hexcast.format(h=f'md5({chr(39)}cms{r}#{chr(39)} || {word_expr})')} "
        f"as bigint) % {CMS_WIDTH}"
    )
_CMS_SPARK_HEX = "conv(substr({h}, 1, 8), 16, 10)"


@q("cms_heavy_hitters")
def cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) built as a pure
    fixed-size aggregation, completing the sketch family (bloom =
    membership, HLL = cardinality, CMS = point frequency): each token
    lands in DEPTH=4 salted md5 buckets of WIDTH=256 and the sketch is
    one groupBy over (row, bucket) — 1024 cells TOTAL regardless of
    corpus size, fully map-side combinable, mergeable across
    partitions/days by cell-wise addition. The top-20 exact heavy
    hitters are then estimated from the sketch (min over rows) and the
    driver's hash certifies BOTH CMS guarantees end-to-end:
    cms_est >= exact always (one-sided error), and the exact
    overcount in ppm. At 100 TB the exact-count side is the thing you
    can't afford — in production the sketch IS the frequency oracle
    and this query is the calibration job you run on a sample to pick
    (depth, width); the sketch side costs one fixed-size shuffle."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select(F.lower("w").alias("word"))
    )
    bsel = [
        F.expr(_cms_bucket_sql("word", r, _CMS_SPARK_HEX)).alias(f"b{r}")
        for r in range(CMS_DEPTH)
    ]
    tb = tok.select("word", *bsel)
    pairs = F.array(
        *[
            F.struct(F.lit(r).alias("r"), F.col(f"b{r}").alias("bkt"))
            for r in range(CMS_DEPTH)
        ]
    )
    cells = (
        tb.select(F.explode(pairs).alias("s"))
        .select(F.col("s.r").alias("r"), F.col("s.bkt").alias("bkt"))
        .groupBy("r", "bkt")
        .agg(F.count("*").cast("long").alias("cell"))
    )
    exact = tb.groupBy("word").agg(
        F.count("*").cast("long").alias("exact_cnt"),
        *[F.min(f"b{r}").alias(f"b{r}") for r in range(CMS_DEPTH)],
    )
    top = (
        exact.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), "word")
            ),
        )
        .filter(F.col("rn") <= CMS_TOPK)
        .drop("rn")
    )
    probes = top.select(
        "word",
        "exact_cnt",
        F.explode(pairs).alias("s"),
    ).select("word", "exact_cnt", F.col("s.r").alias("r"), F.col("s.bkt").alias("bkt"))
    est = (
        probes.join(F.broadcast(cells), ["r", "bkt"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "word",
        "exact_cnt",
        "cms_est",
        F.expr("((cms_est - exact_cnt) * 1000000) div exact_cnt")
        .cast("long")
        .alias("over_ppm"),
    )


# =====================================================================
# Z-order (Morton) multi-dimensional clustering — the Delta/Iceberg
# OPTIMIZE ZORDER layout decision, measured: file-level min/max spans
# under 1-D sort vs Z-order interleaving
# =====================================================================
ZORD_BITS = 8  # 256 rank cells per dimension
ZORD_FILES = 32


def _zkey_expr(divop: str) -> str:
    """Bit-interleave two ZORD_BITS-bit ranks (rx, ry) into a Morton
    key using only integer div/mod arithmetic, so the identical
    formula runs on Spark (``div``) and DuckDB (``//``)."""
    terms = []
    for i in range(ZORD_BITS):
        terms.append(f"(((rx {divop} {1 << i}) % 2) * {1 << (2 * i)})")
        terms.append(f"(((ry {divop} {1 << i}) % 2) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


@q("zorder_layout")
def zorder_layout(spark, sf_dir):
    """Z-order / Morton-curve clustering (the public Delta Lake
    ``OPTIMIZE ZORDER BY`` / Iceberg sort-order technique), with the
    layout QUALITY measured the way a scan planner sees it: rows are
    assigned to 32 files either by a 1-D sort on x (user_id) or by the
    interleaved Morton key over (x, y=value-cents) ranks, and the
    query emits each file's min/max zone-map entry per dimension. The
    driver hash pins the whole layout decision: under 'linear', x
    spans are tiny but every file covers the full y domain (a y
    predicate can never skip a file); under 'zorder', BOTH spans are
    bounded, so range predicates on EITHER dimension prune files —
    that is the entire point of multi-dimensional clustering and this
    is the audit that proves a table still has it. The Morton key is
    pure integer div/mod arithmetic (identical on both engines, no
    float, no UDF). Local plan uses exact global ntile ranks so the
    oracle is exact; at 100 TB you'd swap ntile for a broadcast
    boundary table from approxQuantile (256 boundaries per dimension,
    O(1) state) and the write becomes repartitionByRange(zkey) — the
    zone-map math and the audit stay identical."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("x"),
        _cents(F.col("value")).alias("y"),
    )
    n = 1 << ZORD_BITS
    rk = e.select(
        "event_id",
        "x",
        "y",
        (F.ntile(n).over(Window.orderBy("x", "event_id")) - 1).alias("rx"),
        (F.ntile(n).over(Window.orderBy("y", "event_id")) - 1).alias("ry"),
    )
    z = rk.withColumn("zkey", F.expr(_zkey_expr("div")))
    fil = z.select(
        "x",
        "y",
        F.ntile(ZORD_FILES)
        .over(Window.orderBy("x", "event_id"))
        .alias("lin_f"),
        F.ntile(ZORD_FILES)
        .over(Window.orderBy("zkey", "event_id"))
        .alias("z_f"),
    )
    both = fil.select(
        F.lit("linear").alias("layout"),
        F.col("lin_f").alias("file_id"),
        "x",
        "y",
    ).unionByName(
        fil.select(
            F.lit("zorder").alias("layout"),
            F.col("z_f").alias("file_id"),
            "x",
            "y",
        )
    )
    return both.groupBy("layout", F.col("file_id").cast("long").alias("file_id")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("x_min"),
        F.max("x").cast("long").alias("x_max"),
        F.min("y").cast("long").alias("y_min"),
        F.max("y").cast("long").alias("y_max"),
    )


# =====================================================================
# Temperature-based mixture weights (multilingual pretraining sampling,
# XLM-R-style alpha=0.5) — integer-exact via floor(sqrt())
# =====================================================================
@q("mixture_weights")
def mixture_weights(spark, sf_dir):
    """Temperature-based sampling weights for a multilingual training
    mixture (the public XLM-R / mT5 recipe, alpha = 0.5): each
    language's sampling share is n_toks^alpha normalized over the
    corpus, which up-weights low-resource languages without letting
    them dominate. alpha = 0.5 makes the weight floor(sqrt(n_toks)) —
    IEEE-754 sqrt is correctly rounded in BOTH engines, so the
    integerized weight is bit-identical and the whole query stays on
    the exact hash gate (w_ppm = normalized share; upsample_milli =
    share relative to the language's natural token share, i.e. how
    many times over uniform each token is seen). Plan: one lang
    groupBy (5 rows out), totals as a broadcast 1-row cross join —
    at 100 TB this is a metadata-sized job over any corpus."""
    d = t(spark, sf_dir, "documents")
    l = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("long")
        .alias("n_toks"),
    )
    s = l.withColumn(
        "s_w",
        F.expr("cast(floor(sqrt(cast(n_toks as double))) as long)"),
    )
    tot = s.agg(
        F.sum("s_w").cast("long").alias("ts"),
        F.sum("n_toks").cast("long").alias("tt"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_toks",
        "s_w",
        F.expr("(s_w * 1000000) div ts").cast("long").alias("w_ppm"),
        F.expr("(s_w * tt * 1000) div (ts * n_toks)")
        .cast("long")
        .alias("upsample_milli"),
    )


# =====================================================================
# Deterministic weighted sampling (hash-priority race): reproducible
# weighted top-k per stratum without any RNG state
# =====================================================================
WS_K = 10


@q("weighted_sample")
def weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling per stratum — the
    Efraimidis-Spirakis priority-race idea with the RNG replaced by a
    content hash so the sample is REPRODUCIBLE and resumable (the
    property a 100-TB pipeline actually needs: re-running the job, or
    recovering one partition of it, must select the same rows). Each
    doc gets priority h(doc_id)/weight (integer-scaled; weight =
    n_chars, so longer docs win proportionally more often) and the
    k=10 smallest priorities per language are the sample. Unlike
    rand()-based sampleBy, there is no seed-per-partition coupling —
    the priority is a pure column expression, so the plan is one
    window over one lang exchange and the choice of parallelism can
    never change the sample. Exact ES sampling uses u^(1/w); the
    integer h/w race preserves the weighted-priority property while
    keeping the contract on the exact hash gate (documented
    approximation, monotone in weight)."""
    d = t(spark, sf_dir, "documents")
    p = d.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "(cast(conv(substring(md5(concat('ws#', cast(doc_id as string))),"
            " 1, 8), 16, 10) as bigint) * 1048576)"
            " div greatest(cast(n_chars as bigint), 1)"
        ).alias("pri"),
    )
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WS_K)
        .select("lang", "doc_id", "n_chars", "pri")
    )


# =====================================================================
# Salted replication join under key skew — the manual skew-join shape
# for when BOTH sides are too big to broadcast
# =====================================================================
SJ_SALT = 16


@q("skew_salted_join")
def skew_salted_join(spark, sf_dir):
    """Salted REPLICATION join under planted key skew — the manual
    form of AQE's skew-join split, for the case broadcast can't solve
    (both sides large): a third of the fact rows collapse onto hot
    key 0 (100x the median key), which under a plain shuffle join
    would pin one reducer. The fact side gets salt = event_id % 16;
    the dim side is replicated 16x via explode(sequence()); the join
    key becomes (k, salt), so the hot key's rows spread over 16
    reducers, then one groupBy(k) merges the partials. The join is
    hinted shuffle_hash (broadcast would hide the very problem the
    salt solves — j5 covers the broadcast case). The oracle is the
    plain unsalted join, so the driver hash proves salting is
    semantics-preserving. At 100 TB you'd salt only keys above a
    frequency threshold (two-level salt map) — the uniform salt here
    keeps the demonstration plan readable."""
    ev = t(spark, sf_dir, "events")
    ords = t(spark, sf_dir, "orders")
    big = ev.select(
        F.when(F.col("event_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        _cents(F.col("value")).alias("v_c"),
        (F.col("event_id") % SJ_SALT).cast("int").alias("salt"),
    )
    dim = (
        ords.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("tot_c"),
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SJ_SALT - 1))))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    j = big.join(dim.hint("shuffle_hash"), ["k", "salt"])
    return j.groupBy("k").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("v_c").cast("long").alias("sum_v_c"),
        F.max("tot_c").cast("long").alias("dim_tot_c"),
    )


# =====================================================================
# Tokenizer induction: one BPE merge round over the word-frequency
# dictionary (Sennrich et al. 2016's scalable formulation)
# =====================================================================
BPE_TOP = 20


@q("bpe_merge_round")
def bpe_merge_round(spark, sf_dir):
    """One round of BPE-style merge scoring: count adjacent
    character pairs within words, weighted by corpus word frequency,
    and rank the top merge candidates — the inner loop of tokenizer
    vocabulary induction. The scalable shape is Sennrich's: the ONLY
    corpus-scale operation is the word-frequency aggregation
    (map-side combinable hash agg); pair explosion, pair counting and
    the top-k window all run over the VOCABULARY (|words|, then
    |pairs| <= |alphabet|^2 rows), so a 100-TB corpus costs one word
    shuffle and the merge loop never touches raw text again.
    rank() over (cnt desc, pair) is a total order (pair unique), so
    the cross-engine contract is deterministic."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = (
        words.select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("cnt"))
    )
    # vocabulary-scale window (constant partition key; |pairs| rows)
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("cnt").desc(), "pair")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BPE_TOP)
        .select("pair", "cnt", "rank")
    )


# =====================================================================
# Tokenizer application: BPE-encode the corpus vocabulary against a
# fixed merge table (the inference-side complement of bpe_merge_round)
# =====================================================================
# The merge table is a MODEL ARTIFACT (learned once, then broadcast to
# every encoder), not derived from the batch being encoded — exactly
# how production tokenizers ship merges.txt. Rank = list position.
BPE_MERGES = [
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
]


@q("bpe_encode")
def bpe_encode(spark, sf_dir):
    """BPE ENCODING against a fixed 20-merge table — the inference
    side of tokenizer induction (bpe_merge_round learns merges; this
    applies them, tokenizers-library style). The only corpus-scale
    operation is the word-frequency hash agg (map-side combinable);
    encoding then runs over the VOCABULARY, so a 100-TB corpus pays
    one word shuffle and each distinct word is encoded exactly once
    (the per-document expansion is a broadcast joinback if a caller
    needs it). The encode itself is a chain of 20 native `replace`
    calls over a bracketed-token string form ('<h><e><l><l><o>'):
    single chars are wrapped '<c>' and merge (a,b) rewrites
    '<a><b>' -> '<a~b>', so patterns can never overlap (every match
    is delimiter-complete) and a merged token can never false-match a
    later merge — making Spark's and DuckDB's left-to-right
    non-overlapping replace semantics provably identical here. All
    whole-stage codegen; no UDF. Because merges are char-pair only,
    one rank-ordered pass IS the fixpoint: merging can only destroy
    single-char adjacencies, never create them."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
    )
    enc = F.regexp_replace(F.col("w"), "(.)", "<$1>")
    for m in BPE_MERGES:
        enc = F.replace(enc, F.lit(f"<{m[0]}><{m[1]}>"), F.lit(f"<{m[0]}~{m[1]}>"))
    return words.select(
        "w",
        "wc",
        (F.length(enc) - F.length(F.replace(enc, F.lit("<"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
        enc.alias("encoded"),
    )


@q("bpe_doc_tokens")
def bpe_doc_tokens(spark, sf_dir):
    """Per-DOCUMENT token counts under the BPE merge table — the
    budget number a packer/pricer needs per record. Demonstrates the
    scale shape bpe_encode's docstring promises: each distinct word
    is encoded ONCE (vocabulary-scale), and the per-document
    expansion is a BROADCAST joinback of the tiny (word, n_tokens)
    map onto the exploded corpus — the corpus side never shuffles on
    the word key (audit-asserted BroadcastHashJoin), and the doc agg
    is map-side combinable. The oracle re-encodes every occurrence
    inline (affordable at oracle scale), so a green row also
    re-proves vocab-level and occurrence-level encoding agree."""
    d = t(spark, sf_dir, "documents")
    vocab = QUERIES["bpe_encode"](spark, sf_dir).select("w", "n_tokens")
    words = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("w"),
    )
    return (
        words.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )
