"""Operator queries over the synthetic sf tables (SURVEY.md §2).

No ``job.py`` path calls these. Each registered query is pinned by a
property test in tests/test_session{4..8}_ops.py,
tests/test_pipeline_ops.py or tests/test_longdoc.py, which recomputes
its result independently in Python.

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


@q("emb_cosine_top5")
def emb_cosine_top5(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline over the embedding column
    (F.aggregate/zip_with dot products; score rounded to 4dp so the
    cross-engine float reduction order cannot flip the hash)."""
    e = t(spark, sf_dir, "embeddings")
    q_ = e.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    ).filter(F.col("qid") < 20)
    c = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ce"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    pairs = q_.join(c, F.col("nid") != F.col("qid"))
    # + 0.0 folds IEEE -0.0 to +0.0 so cross-engine value hashes agree
    score = F.round(
        dot(F.col("qe"), F.col("ce"))
        / F.sqrt(dot(F.col("qe"), F.col("qe")))
        / F.sqrt(dot(F.col("ce"), F.col("ce"))),
        4,
    ) + F.lit(0.0)
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
    return (
        pairs.select("qid", "nid", score.alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", "nid", "score")
    )


# =====================================================================
# Long-document corpus: where capped and full-text dedup PROVABLY
# disagree (the sf tables' docs are shorter than minhash.CAP at small
# scales, so the capped/full twins above are indistinguishable on
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
# Bloom-pruned incremental exact dedup: the 100-TB membership pattern
# (runtime bloom semi-join) with an EXACT final answer the driver's
# hash gate can certify end-to-end
# =====================================================================
BLOOM_M = 1 << 16  # bits in the filter (sized for the test corpora;
# at 100 TB m is sized per expected corpus cardinality and the bitmap
# below stays m/64 rows REGARDLESS of corpus size)
BLOOM_K = 4  # hash functions (seeded xxhash64)
PFX_WORDS = 5  # membership fingerprint = md5 of the first 5 words —
# the leading-boilerplate key (stand-in for a canonicalized URL or a
# whole-text md5; this synthetic corpus has no cross-parity whole-text
# duplicates, so the prefix key is what yields real membership hits)


@q("bloom_dedup_exact")
def bloom_dedup_exact(spark, sf_dir):
    """Incremental EXACT dedup of an arriving batch (odd doc_ids)
    against the standing corpus (even doc_ids), pruned by a
    distributed Bloom filter built AS AN AGGREGATION: corpus
    fingerprints hash to BLOOM_K bit positions (seeded xxhash64),
    bits pack into 64-bit words via bit_or, and the resulting bitmap
    table (m/64 rows — constant-size however large the corpus) is
    BROADCAST to the new batch, which tests membership map-side and
    only bloom-POSITIVE docs reach the exact-verify join. The final
    answer is exact (the verify join removes bloom false positives),
    so the oracle is a plain semi-join — the driver's hash gate
    certifies the whole bloom path has no false negatives. This is
    the shape of Spark's own runtime bloom-filter join
    (spark.sql.optimizer.runtime.bloomFilter.enabled), made explicit
    because the corpus side here is a table, not a join build side.
    Reference analogue: used-image exclusion keeps a 'seen' set and
    skips members (question_merger.py:90); at 10^12 keys that set is
    exactly this sketch."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, PFX_WORDS), " ")
        ).alias("fp"),
    )
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)

    seeds = F.array(*[F.lit(i) for i in range(BLOOM_K)])

    def with_bits(df):
        return (
            df.select("doc_id", "fp", F.explode(seeds).alias("si"))
            .withColumn("bit", F.pmod(F.xxhash64("fp", "si"), F.lit(BLOOM_M)))
            .withColumn("widx", F.expr("int(bit div 64)"))
            .withColumn("mask", F.expr("shiftleft(1L, int(bit % 64))"))
        )

    bitmap = with_bits(corpus).groupBy("widx").agg(
        F.bit_or("mask").alias("word")
    )
    positives = (
        with_bits(new)
        .join(F.broadcast(bitmap), "widx", "left")
        .withColumn(
            "hit",
            F.coalesce(F.col("mask").bitwiseAND(F.col("word")) != 0, F.lit(False)),
        )
        .groupBy("doc_id")
        .agg(F.min("hit").alias("all_hit"))
        .filter(F.col("all_hit"))
        .select("doc_id")
    )
    dup_ids = (
        new.join(positives, "doc_id", "left_semi")  # bloom prune
        .join(corpus.select("fp").distinct(), "fp", "left_semi")  # exact verify
        .select("doc_id")
        .withColumn("dup", F.lit(1))
    )
    return (
        new.join(dup_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("new_docs"),
            F.count("dup").cast("long").alias("dup_of_corpus"),
            (F.count("*") - F.count("dup")).cast("long").alias("admitted"),
        )
    )


# =====================================================================
# Domain-level quality gate (RefinedWeb-style): score whole SOURCES,
# not documents — two-phase agg + broadcast scalar bar
# =====================================================================
@q("domain_quality_gate")
def domain_quality_gate(spark, sf_dir):
    """Source-level (domain-level) quality gating, the RefinedWeb /
    CCNet move of scoring whole domains rather than documents: one
    pass aggregates per-source totals (map-side combine; the result
    is domain-cardinality, tiny at any corpus scale), a second
    one-row aggregate over THAT table computes the corpus-wide bar
    (mean chars-per-word, in exact integer millis via `div` — no
    float division to diverge between engines), and the bar is
    broadcast back as a scalar so the keep/drop flag costs no
    shuffle. At 100 TB only the first agg touches the corpus; the
    bar join is domain-table × 1 row."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("words"),
    )
    g = s.agg(F.expr("(1000 * sum(chars)) div sum(words)").alias("bar"))
    return s.crossJoin(F.broadcast(g)).select(
        "source",
        "docs",
        F.expr("(1000 * chars) div words").cast("long").alias("cpw_milli"),
        F.expr("(1000 * chars) div words >= bar").alias("kept"),
    )


@q("cohort_retention")
def cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users cohorted by the week of their
    FIRST purchase, counted as active in every later week they emit
    any event — the (cohort_week, week_offset, active_users) matrix
    every growth dashboard draws. Plan: both the cohort table and
    the distinct (user, week) activity table shuffle ONCE on
    user_id, the join reuses that partitioning (no third exchange on
    the big side), and the final matrix agg is cohort×offset —
    weeks² rows, trivially small. The cohort table is one row per
    purchasing user; at 100 TB it broadcast-joins if users fit,
    else the co-partitioned sort-merge join here is already the
    right shape."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(_epoch(F.col("ts")) / 604800).cast("long").alias("w"),
    )
    cohorts = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("w").alias("cw"))
    )
    active = e.select("user_id", "w").distinct()
    return (
        active.join(cohorts, "user_id")
        .filter(F.col("w") >= F.col("cw"))
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).cast("long").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    )


# =====================================================================
# Sparse TF-IDF document-pair similarity: the inverted-index pairwise
# kernel (term-bucket equi-join, never all-pairs), with an
# integer-exact contract
# =====================================================================
COS_DF_MAX = 40  # posting-list cap: a term in more than this many
# docs is a stop-term for pairing (quadratic bucket guard — the same
# role fingerprint.py's df cap plays for winnowing buckets)


@q("tfidf_cosine_pairs")
def tfidf_cosine_pairs(spark, sf_dir):
    """Pairwise document similarity over SPARSE tf-idf vectors via the
    inverted index: the term unit is the word BIGRAM (unigrams are
    non-discriminative on this synthetic vocab — 30 distinct words,
    each in ~78% of docs; bigrams give a 900-term Zipf-ish vocabulary),
    weights live in (doc, term, w) posting lists, the
    pair space is generated by a term-bucket self-equi-join (only docs
    sharing a term ever meet — never an all-pairs product), and a
    posting-list cap (df ≤ COS_DF_MAX) bounds every bucket, so the
    worst-case join fan-out per term is COS_DF_MAX², independent of
    corpus size — the same guard the winnowing index uses
    (fingerprint.py df cap). The contract is integer-exact end to end:
    weights are floor(tf·100·N/df) bigints, dot products and norms are
    exact integer sums, and the only float — cos_milli — is a single
    three-scalar expression floor(dot/sqrt(na·nb)·1000) with no
    float-sum ordering anywhere (IEEE sqrt/div are correctly rounded,
    so both engines floor the same double). The doc_id%5 slice keeps
    the driver compare fast; the shape is corpus-size-free.
    Reference analogue: pairwise span similarity for duplicate
    questions (question_merger.py:568-609 md5 keying is the exact-dup
    arm; this is the graded-similarity arm)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    tok = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words)-1), i ->"
                    " lower(concat(element_at(words, i), ' ',"
                    " element_at(words, i+1))))"
                )
            ).alias("term"),
        )
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_df = F.broadcast(d.agg(F.count("*").cast("long").alias("n_docs")))
    w = (
        tf.join(df_.filter((F.col("df") >= 2) & (F.col("df") <= COS_DF_MAX)), "term")
        .crossJoin(n_df)
        .select(
            "doc_id",
            "term",
            F.expr("(tf * 100L * n_docs) div df").cast("long").alias("w"),
        )
    )
    # norm2 rides ON the posting rows (doc-keyed window) so the term
    # self-join carries both norms along and the posting subtree is
    # referenced exactly twice (the self-join sides) — a norm-table
    # formulation would re-derive it four times
    wn = w.withColumn(
        "norm2",
        F.sum(F.col("w") * F.col("w"))
        .over(Window.partitionBy("doc_id"))
        .cast("long"),
    )
    a, b = wn.alias("a"), wn.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").cast("long").alias("shared_terms"),
            F.sum(F.col("a.w") * F.col("b.w")).cast("long").alias("dot"),
            F.max("a.norm2").cast("long").alias("norm2_a"),
            F.max("b.norm2").cast("long").alias("norm2_b"),
        )
        .filter(F.col("shared_terms") >= 3)
    )
    return dots.select(
        "doc_a",
        "doc_b",
        "shared_terms",
        "dot",
        "norm2_a",
        "norm2_b",
        F.floor(
            F.col("dot")
            / F.sqrt(F.col("norm2_a").cast("double") * F.col("norm2_b"))
            * 1000
        )
        .cast("long")
        .alias("cos_milli"),
    )


# =====================================================================
# Robust JSONL ingestion with corrupt-record accounting: the
# PERMISSIVE-reader contract a web-scale crawler feed needs
# =====================================================================
CORRUPT_EVERY = 37  # doc_id % CORRUPT_EVERY == 0 lines are truncated


@q("jsonl_ingest_stats")
def jsonl_ingest_stats(spark, sf_dir):
    """End-to-end JSONL ingestion robustness: the corpus is serialized
    to a JSON-lines text fixture with every CORRUPT_EVERY-th line
    deterministically truncated mid-record (the torn-write / bad-crawl
    case), read back through Spark's schema'd PERMISSIVE JSON reader
    with a columnNameOfCorruptRecord accumulator, and reduced to
    per-source admitted counts + round-tripped text length, with torn
    lines quarantined under '__corrupt__'. The DuckDB oracle derives
    the same accounting INDEPENDENTLY from the parquet table (it never
    sees the fixture), so a green row certifies the whole loop:
    JSON-escape → line write → malformed-record isolation → field
    round-trip (chars_good only matches if every parsed text survives
    byte-exactly). Scale shape: the reader is a line-splittable text
    scan (parallel at any size); the agg is source-cardinality.
    Corrupt rows carry partially-parsed fields in PERMISSIVE mode, so
    quarantine keys on the _corrupt column, never on field nullness.
    Reference analogue: ingest.load_result_json tolerates the
    reference's envelope variants (ocr_result_process.py:34-77); this
    is the same robustness contract at the line level."""
    from . import mat

    def build():
        d = t(spark, sf_dir, "documents")
        line = F.to_json(F.struct("doc_id", "source", "lang", "n_chars", "text"))
        return d.select(
            F.when(
                F.col("doc_id") % CORRUPT_EVERY == 0,
                F.expr(
                    "substring(to_json(struct(doc_id, source, lang, n_chars,"
                    " text)), 1, length(to_json(struct(doc_id, source, lang,"
                    " n_chars, text))) - 5)"
                ),
            )
            .otherwise(line)
            .alias("value")
        )

    p = mat.materialize_text(spark, sf_dir, "docs_jsonl", build)
    parsed = (
        spark.read.schema(
            "doc_id long, source string, lang string, n_chars long,"
            " text string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(p)
    )
    return (
        parsed.select(
            F.when(F.col("_corrupt").isNotNull(), "__corrupt__")
            .otherwise(F.col("source"))
            .alias("source"),
            F.when(F.col("_corrupt").isNotNull(), F.lit(0))
            .otherwise(F.length("text"))
            .cast("long")
            .alias("chars"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_good"),
            F.sum("chars").cast("long").alias("chars_good"),
        )
    )


# =====================================================================
# CDC compaction to SCD2 effective ranges: event stream → slowly-
# changing-dimension history table (one row per state episode)
# =====================================================================
@q("scd2_user_state")
def scd2_user_state(spark, sf_dir):
    """Change-data-capture compaction: an append-only event stream is
    compacted into an SCD-type-2 history table — one row per state
    EPISODE with [valid_from, valid_to) effective ranges (open episode
    → null valid_to) and a per-entity version counter. Runs of equal
    consecutive states collapse via the lag-inequality predicate; the
    range close is a lead over the surviving episode rows. All three
    windows share the user_id partitioning key, so the whole compaction
    costs ONE shuffle — the episode filter and the lead/row_number run
    on the already-exchanged partitions (audit-asserted). At 10^12
    events this is the standard log→dimension distillation: state
    per-key is bounded by episode count, never raw event count, and no
    join ever forms. The user_id%10 slice keeps the driver compare
    small; ties break on event_id so both engines see one total order.
    Reference analogue: per-conversation turn ordering before span
    merge (the north rule's window-over-(conv_id, turn_idx) invariant)
    — here the ordered-run compaction is the product, not a stage."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0).select(
        "user_id", "event_id", "event_type", _epoch(F.col("ts")).alias("ts_s")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    episodes = (
        e.withColumn("prev", F.lag("event_type").over(w_ord))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts_s").alias("valid_from"),
        )
    )
    w_ep = Window.partitionBy("user_id").orderBy("valid_from")
    return episodes.select(
        "user_id",
        "state",
        F.row_number().over(w_ep).cast("long").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w_ep).alias("valid_to"),
    )


# =====================================================================
# Winsorized (outlier-trimmed) per-group statistics: exact integer-
# rank bounds, broadcast back for the clamp — robust stats at scale
# =====================================================================
@q("winsorized_stats")
def winsorized_stats(spark, sf_dir):
    """Per-source winsorized mean of document length — the robust
    aggregate a quality dashboard wants when a handful of megadocs
    would otherwise own the mean. Bounds are EXACT integer ranks (the
    5th/95th-percentile order statistics at positions (5·cnt) div 100
    + 1 and cnt − (5·cnt) div 100 under a (value, doc_id) total order
    — pure integer index math, no float quantile definition to
    diverge between engines); values clamp to [lo, hi] and the mean
    is integer millis. Plan: ONE shuffle ranks each source partition,
    the bounds table collapses to source-cardinality rows and
    broadcast-joins back for the clamp (audit-asserted — the big side
    never re-shuffles for the join), and the final agg reuses the
    source key. At 100 TB the rank window is the only corpus-sized
    stage; swap it for approx_percentile when exactness can relax."""
    d = t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("cnt"),
    )
    b = r.groupBy("source").agg(
        F.max("cnt").cast("long").alias("cnt"),
        F.max(
            F.when(F.col("rn") == F.expr("(5 * cnt) div 100") + 1, F.col("n_chars"))
        )
        .cast("long")
        .alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.col("cnt") - F.expr("(5 * cnt) div 100"),
                F.col("n_chars"),
            )
        )
        .cast("long")
        .alias("hi"),
    )
    clamped = r.select("source", "n_chars").join(F.broadcast(b), "source").select(
        "source",
        "cnt",
        "lo",
        "hi",
        F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi")).alias(
            "wv"
        ),
    )
    return clamped.groupBy("source", "cnt", "lo", "hi").agg(
        F.sum("wv").cast("long").alias("wins_sum"),
        F.expr("(1000 * sum(wv)) div max(cnt)").cast("long").alias(
            "wins_mean_milli"
        ),
    )


# =====================================================================
# Sweep-line peak concurrency: interval overlap maximum WITHOUT an
# interval join — +1/-1 deltas and a peers-inclusive running sum
# =====================================================================
SESS_LEN_S = 1800  # each event opens a 30-min active interval


@q("peak_concurrency")
def peak_concurrency(spark, sf_dir):
    """Peak concurrent active sessions per event type by SWEEP-LINE:
    each event contributes a +1 delta at its timestamp and a -1 at
    timestamp+SESS_LEN, and the live count is a running sum over the
    per-type time order — no interval self-join (the naive overlap
    join is O(n·k) pairs; the sweep is O(n log n) in one key shuffle).
    Determinism under ties: the window's DEFAULT frame (RANGE
    UNBOUNDED PRECEDING → CURRENT ROW) is peers-inclusive, so rows
    equal on (t, delta) take one collective sum in both engines, and
    delta ascending applies closes before opens at equal t (touching
    intervals never count as concurrent). Output is the peak and the
    first instant it is reached. At 10^12 events this is the standard
    concurrency/occupancy analysis: per-key windows shuffle once;
    no state beyond the running sum."""
    e = t(spark, sf_dir, "events").select(
        "event_type", _epoch(F.col("ts")).alias("t")
    )
    deltas = e.select(
        "event_type", "t", F.lit(1).cast("long").alias("delta")
    ).unionByName(
        e.select(
            "event_type",
            (F.col("t") + SESS_LEN_S).alias("t"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("t", "delta")
    run = deltas.withColumn("live", F.sum("delta").over(w))
    peak = run.withColumn(
        "m", F.max("live").over(Window.partitionBy("event_type"))
    )
    return peak.groupBy("event_type").agg(
        F.max("live").cast("long").alias("peak"),
        F.min(F.when(F.col("live") == F.col("m"), F.col("t")))
        .cast("long")
        .alias("first_peak_t"),
    )


# =====================================================================
# Referential-conformance audit: FK orphan counts across the star
# schema in one report (anti-join per relation, dims broadcast)
# =====================================================================
@q("fk_orphan_audit")
def fk_orphan_audit(spark, sf_dir):
    """Data-conformance audit: foreign-key orphan counts for every
    edge of the star schema in ONE report — the pre-flight check any
    warehouse load runs before joins are trusted (an orphan row
    silently vanishes from inner joins downstream). Each relation is
    a left-anti join against the referenced key set; parent key sides
    are dimension- or key-projection-sized and broadcast where small,
    and each fact table is scanned with only its FK column (column
    pruning — the audit never reads payload columns). Zero orphans is
    the expected PASS state on this generator; the row exists so a
    corrupted load shows up as a nonzero cell, not as silently
    shrunken joins. Reference analogue: used-image/unassigned-content
    repair keys on exactly this orphan set (question_merger.py
    unassigned repair; SURVEY §2 J7)."""

    def audit(fact, fk, parent, pk, label):
        keys = parent.select(pk).distinct()
        return (
            fact.select(F.col(fk).alias("k"))
            .join(F.broadcast(keys.withColumnRenamed(pk, "k")), "k", "left_anti")
            .agg(F.count("*").cast("long").alias("orphans"))
            .crossJoin(
                F.broadcast(
                    fact.agg(
                        F.count("*").cast("long").alias("total_rows"),
                        F.countDistinct(fk).cast("long").alias("distinct_keys"),
                    )
                )
            )
            .select(
                F.lit(label).alias("relation"),
                "total_rows",
                "orphans",
                "distinct_keys",
            )
        )

    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    customer = t(spark, sf_dir, "customer")
    part = t(spark, sf_dir, "part")
    nation = t(spark, sf_dir, "nation")
    return (
        audit(orders, "o_custkey", customer, "c_custkey",
              "orders.o_custkey->customer")
        .unionByName(
            audit(lineitem, "l_orderkey", orders, "o_orderkey",
                  "lineitem.l_orderkey->orders")
        )
        .unionByName(
            audit(lineitem, "l_partkey", part, "p_partkey",
                  "lineitem.l_partkey->part")
        )
        .unionByName(
            audit(customer, "c_nationkey", nation, "n_nationkey",
                  "customer.c_nationkey->nation")
        )
    )


# =====================================================================
# Word co-occurrence association (PMI): corpus statistics in exact
# integer arithmetic over the distinct-word/doc incidence table
# =====================================================================
PMI_MIN_CO = 5  # minimum co-occurring docs for a pair to be reported


@q("word_pmi")
def word_pmi(spark, sf_dir):
    """Pointwise-mutual-information-style association scores for word
    pairs: ratio = P(a,b)/(P(a)P(b)) over document incidence, held in
    exact integer micros — floor(n_ab·N·1e6 / (n_a·n_b)) — so both
    engines rank associations on identical arithmetic (log-PMI in
    doubles diverges at libm boundaries; the log is monotone, so the
    ratio carries the same ordering). The pair space is the per-doc
    self-join over DISTINCT (doc, word) incidences — fan-out per doc
    is bounded by the vocabulary (30 unigrams here; at web scale the
    incidence table is pruned to a df-band first, the same posting-cap
    discipline as tfidf_cosine_pairs). Unigram counts join back as
    broadcast-able vocab-sized tables. This is the association-mining
    kernel (FP-growth's first pass) every corpus-statistics suite
    ships."""
    d = t(spark, sf_dir, "documents")
    wd = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{3,}"), 0)
        ).alias("word"),
    ).distinct()
    wc = wd.groupBy("word").agg(F.count("*").cast("long").alias("n"))
    n_df = F.broadcast(d.agg(F.count("*").cast("long").alias("n_docs")))
    a, b = wd.alias("a"), wd.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_CO)
    )
    ca = F.broadcast(wc.select(F.col("word").alias("word_a"), F.col("n").alias("n_a")))
    cb = F.broadcast(wc.select(F.col("word").alias("word_b"), F.col("n").alias("n_b")))
    return (
        co.join(ca, "word_a")
        .join(cb, "word_b")
        .crossJoin(n_df)
        .select(
            "word_a",
            "word_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * n_docs * 1000000L) div (n_a * n_b)")
            .cast("long")
            .alias("pmi_ratio_e6"),
        )
    )


# =====================================================================
# Exact integer 3-sigma outlier detection: cross-multiplied variance
# (no sqrt, no float moments) — broadcast group stats, map-side flag
# =====================================================================
@q("outlier_3sigma")
def outlier_3sigma(spark, sf_dir):
    """Per-group 3σ outlier flags with EXACT integer arithmetic: the
    test |x−μ| > 3σ is cross-multiplied into (c·x−s)² > 9(c·ss−s²)
    (μ=s/c, σ²=(c·ss−s²)/c²), so there is no float mean, no float
    variance accumulation order, and no sqrt — both engines evaluate
    identical int64 expressions (μ/σ in doubles can flip a borderline
    flag between engines; an exact inequality cannot). Plan: one
    map-side-combinable moments agg produces a group-cardinality stats
    table that BROADCASTS back, so flagging is map-side over the fact
    scan — the corpus never shuffles. Value domain is floored to whole
    units to keep every product within int64 through sf1-scale group
    counts (bound documented: c·ss ≤ 9e17 at c≈9e5, v≤1e3); beyond
    that, flip to per-partition compensated double moments — the
    documented swap point."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor("value").cast("long").alias("v_units"),
    )
    s = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("v_units").cast("long").alias("s"),
        F.sum(F.col("v_units") * F.col("v_units")).cast("long").alias("ss"),
    )
    return (
        e.join(F.broadcast(s), "event_type")
        .filter(
            (F.col("c") * F.col("v_units") - F.col("s"))
            * (F.col("c") * F.col("v_units") - F.col("s"))
            > 9 * (F.col("c") * F.col("ss") - F.col("s") * F.col("s"))
        )
        .select("event_id", "event_type", "v_units")
    )


# =====================================================================
# Snapshot diff: added/removed/changed report between two corpus
# versions — full-outer id join + content-hash compare
# =====================================================================
@q("snapshot_diff")
def snapshot_diff(spark, sf_dir):
    """Corpus version diff — the added/removed/changed report a data
    registry publishes between snapshot releases. Two deterministic
    versions are derived from the same table (v1 drops every 7th doc,
    v2 drops every 5th and edits every 11th), then a single full-outer
    join on doc_id with md5 content-hash comparison classifies each
    divergent id; unchanged rows are filtered out so the report is
    delta-sized, not corpus-sized. Plan: one co-partitioned join on
    the id key (both sides shuffle once on doc_id), hashes computed
    map-side in the scan projection — content bytes never transit the
    shuffle, only 32-char digests. At 10^12 rows this is the
    metadata-efficient diff shape: the join carries (id, digest)
    pairs, and at petabyte scale the same plan runs over
    per-partition digest files instead of raw text. Reference
    analogue: the evaluator's ground-truth match join diffing
    expected vs produced spans (SURVEY §2 J6)."""
    d = t(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h1")
    )
    v2 = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
                F.col("text")
            )
        ).alias("h2"),
    )
    j = v1.join(v2, "doc_id", "full_outer")
    return j.filter(
        F.col("h1").isNull() | F.col("h2").isNull() | (F.col("h1") != F.col("h2"))
    ).select(
        "doc_id",
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


# =====================================================================
# k-anonymity audit: quasi-identifier group sizes — the privacy /
# governance gate a training-data release runs before publishing
# =====================================================================
K_ANON = 5
LEN_BUCKET = 100  # n_chars granularity in the quasi-identifier


@q("k_anonymity_audit")
def k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over the release's quasi-identifier space
    (lang × bucketed length): every equivalence class whose size is
    below k is a re-identification risk — records in it are
    distinguishable by attributes a release treats as harmless. One
    map-side-combinable aggregation produces the class-size table
    (quasi-space-cardinality rows, tiny at any corpus size) and the
    flag is a pure comparison; the remediation step (suppress or
    generalize at-risk classes) is then a broadcast semi-join of this
    table against the corpus — the same shape as domain_quality_gate.
    PII scrubbing removes direct identifiers; this audits the indirect
    ones."""
    d = t(spark, sf_dir, "documents")
    g = d.groupBy(
        "lang",
        F.expr(f"n_chars div {LEN_BUCKET}").cast("long").alias("len_bucket"),
    ).agg(F.count("*").cast("long").alias("n"))
    return g.select(
        "lang", "len_bucket", "n", (F.col("n") < K_ANON).alias("at_risk")
    )


# =====================================================================
# Time-decayed engagement score: exponential decay with EXACT integer
# arithmetic (power-of-two half-life via right-shift, no float pow)
# =====================================================================
DECAY_WEEK_S = 604800


@q("decayed_engagement")
def decayed_engagement(spark, sf_dir):
    """Recency-weighted engagement per user with a one-week half-life,
    in EXACT integer arithmetic: weight = 2^-age_weeks implemented as
    a right-shift (v >> age_weeks), so there is no float pow/exp whose
    last-ulp could flip a sum between engines — the decay ladder is
    bit-exact by construction (shifts ≥ 63 clamp to zero; Java's
    shift-count masking would otherwise wrap them). The reference
    instant is the corpus max timestamp — a 1-row broadcast scalar —
    so scoring is one map-side pass plus the user-keyed agg. This is
    the feature-store recency feature (decayed clicks/spend) every
    ranking pipeline maintains; at 10^12 events the same expression
    runs incrementally by decaying yesterday's aggregate one notch
    and adding today's partial."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor("value").cast("long").alias("v"),
        _epoch(F.col("ts")).alias("t"),
    )
    m = F.broadcast(e.agg(F.max("t").cast("long").alias("mt")))
    return (
        e.crossJoin(m)
        .withColumn("age_w", F.expr(f"(mt - t) div {DECAY_WEEK_S}"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("age_w") < 63,
                    F.expr("shiftright(v, cast(age_w as int))"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("decayed_units"),
        )
    )


# =====================================================================
# int8-quantized embedding retrieval: per-vector symmetric
# quantization + EXACT integer dot products — the 4x memory/bandwidth
# scale path for vector search
# =====================================================================
@q("int8_ann_top3")
def int8_ann_top3(spark, sf_dir):
    """Vector retrieval over int8-QUANTIZED embeddings — the memory/
    bandwidth scale path (4x smaller vectors than f32, SIMD int dot):
    each vector is symmetrically quantized to q_i = floor(x_i·127 /
    max|x|) map-side, and candidate scoring is a pure INTEGER dot
    product, so the ranking contract is bit-exact across engines (the
    only floats are the per-element quantize expressions, each a
    fixed-shape IEEE mul/div/floor with no accumulation order — both
    engines produce identical ints). The brute top-3 here is the
    exactness baseline over the quantized space; composing with the
    IVF/LSH bucketing gives quantized ANN, which is
    precisely the IVF-PQ-family layout vector stores run at billions
    of vectors. Zero-vector guard: scale clamps at 1e-12 (identical
    literal both engines)."""
    e = t(spark, sf_dir, "embeddings")
    mx = F.greatest(
        F.array_max(F.transform("embedding", lambda y: F.abs(y.cast("double")))),
        F.lit(1e-12),
    )
    q8 = (
        e.select("vec_id", "embedding", mx.alias("mx"))
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 127.0 / F.col("mx")).cast(
                    "long"
                ),
            ).alias("qv"),
        )
    )
    q_ = q8.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qa")).filter(
        F.col("qid") < 10
    )
    c = q8.select(F.col("vec_id").alias("nid"), F.col("qv").alias("ca"))
    idot = F.aggregate(
        F.zip_with("qa", "ca", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = q_.join(c, F.col("nid") != F.col("qid")).select(
        "qid", "nid", idot.cast("long").alias("idot")
    )
    w = Window.partitionBy("qid").orderBy(F.col("idot").desc(), "nid")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", F.col("rk").cast("long"), "nid", "idot")
    )


# =====================================================================
# Integer PageRank over the near-dup candidate graph: iterative graph
# analytics beyond CC, bit-exact via unrolled integer iterations
# =====================================================================
PR_ITERS = 5
PR_R0 = 1_000_000  # initial rank mass per node (micros)


@q("pagerank_dupgraph")
def pagerank_dupgraph(spark, sf_dir):
    """PageRank centrality over the production near-dup candidate
    graph (the 128-perm banded pairs of minhash.candidate_pairs) —
    which documents sit at the CENTER of duplication neighborhoods,
    the signal a crawl-frontier or canonical-selection policy ranks
    by. The contract is bit-exact through all PR_ITERS iterations
    because the update is pure integer arithmetic: r' = 150000 +
    (85·Σ(r div deg)) div 100 (damping 0.85 in percent, mass in
    micros, remainders dropped identically in both engines — a float
    PageRank could never hash-match). Spark runs the canonical
    edges-join-ranks loop (degree joined once; each iteration is one
    shuffle on dst — the GraphX/Pregel shape in plain DataFrames);
    DuckDB restates it as PR_ITERS unrolled CTEs over the SAME
    candidate-edge CTE the other dedup oracles share. Unlike cc.py's
    O(log n)-round star contraction, rounds here are fixed-count —
    no convergence check, so no driver .first() per round; at 10^12
    edges each iteration is a co-partitioned join + agg, and
    checkpointing every k rounds caps lineage exactly as cc.py does.
    Reference analogue: rank-1 canonical election (J4) picks ONE
    winner; this scores the whole neighborhood."""
    from . import minhash as mh

    d = t(spark, sf_dir, "documents")
    pairs = mh.candidate_pairs(
        d.select("doc_id", "text"), max_bucket=50
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    ewd = edges.join(deg, "src")  # degree rides on the edge list
    r = deg.select(F.col("src").alias("node"), F.lit(PR_R0).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        r = (
            ewd.join(r, ewd["src"] == r["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr("cast(150000 + (85 * sum(r div d)) div 100 as long)").alias(
                    "r"
                )
            )
        )
    return r.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_e6"))


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
    triangle-free. Same edge set as pagerank_dupgraph (the 128-perm
    banded pairs), so the two graph views certify each other. The id-oriented edge list (a<b) counts each triangle
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
    broadcast. This is the feature-store trend feature next to
    decayed_engagement's recency feature — same scan, same shuffle
    key, so at 10^12 events the two compute in one pass."""
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
# Exact set-similarity join via prefix filtering (AllPairs / PPJoin
# family): the deterministic exact complement to MinHash banding
# =====================================================================
PJ_TAU_NUM, PJ_TAU_DEN = 1, 2  # Jaccard threshold tau = 1/2
PJ_SLICE = 3  # doc_id % PJ_SLICE == 0 keeps the driver compare fast


@q("prefix_jaccard_pairs")
def prefix_jaccard_pairs(spark, sf_dir):
    """EXACT Jaccard similarity join (bigram sets, tau = 1/2) via
    PREFIX FILTERING — the AllPairs/PPJoin family (Bayardo et al.
    WWW'07, Xiao et al. WWW'08), the deterministic exact complement to
    the probabilistic MinHash band join. Tokens get a global total
    order by ascending document frequency (rarest first, term string
    as tie-break); each doc keeps only its prefix of
    p = |s| − ceil(tau·|s|) + 1 rarest tokens, and the candidate join
    runs on prefix tokens only — the prefix-filter theorem guarantees
    any pair with Jaccard ≥ tau shares a prefix token, so no true pair
    is lost, while the rarest-first order makes candidate buckets the
    SMALLEST possible (df-ascending prefixes are the whole point: a
    stopword never generates candidates). Verification is one
    array_intersect per candidate over the per-doc sorted token
    arrays — no second shuffle explosion. The threshold test is exact
    integer arithmetic (den·i ≥ num·(sa+sb−i)); jac_ppm is an integer
    floor-division. The ORACLE is the brute-force all-pairs join, so a
    green row proves the filter is lossless end to end, not merely
    self-consistent. At 100 TB: candidate volume is bounded by
    sum_t(prefix_df(t)^2) with df-ascending prefixes — the standard
    web-scale exact-dedup shape; MinHash (minhash.candidate_pairs) remains
    the recall path when tau must go lower. Reference analogue: exact
    duplicate-question keying (question_merger.py:568-609) is the
    tau=1 degenerate case.

    Two further lossless components of the same canon keep the dense
    worst case (this synthetic corpus: ~930 bigrams over 1.7k docs,
    prefix filter nearly saturated) cheap: the AllPairs LENGTH filter
    (J >= tau forces den*|b| >= num*|a| and den*|a| >= num*|b|, so
    size-incompatible pairs never become candidates) and a dense
    integer TERM DICTIONARY in (df, term) order, so prefix membership
    becomes a tid comparison and verification intersects sorted int
    arrays instead of strings. The dictionary window is
    VOCABULARY-scale (|terms| rows — the classic dictionary build),
    never corpus-scale; the bijection term<->tid leaves every output
    column bit-identical."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PJ_SLICE == 0)
    tok = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words)-1), i ->"
                    " lower(concat(element_at(words, i), ' ',"
                    " element_at(words, i+1))))"
                )
            ).alias("term"),
        )
        .distinct()
    )
    # dictionary-scale window (constant partition key silences the
    # single-partition warning; the input is |vocab| rows by design)
    tdict = (
        tok.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .withColumn(
            "tid",
            F.row_number()
            .over(Window.partitionBy(F.lit(0)).orderBy("df", "term"))
            .cast("long"),
        )
    )
    ranked = tok.join(F.broadcast(tdict.select("term", "tid")), "term").select(
        "doc_id", "tid"
    )
    # prefix length p = s - ceil(tau*s) + 1, all-integer; df-ascending
    # order == tid order by construction
    ceil_tau_s = F.expr(
        f"(({PJ_TAU_NUM} * sz) + {PJ_TAU_DEN} - 1) div {PJ_TAU_DEN}"
    )
    sized = ranked.withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("tid")),
    ).withColumn(
        "sz",
        F.count("*").over(Window.partitionBy("doc_id")).cast("long"),
    )
    pref = sized.filter(
        F.col("pos") <= F.col("sz") - ceil_tau_s + 1
    ).select("doc_id", "tid", "sz")
    cand = (
        pref.alias("pa")
        .join(
            pref.alias("pb"),
            (F.col("pa.tid") == F.col("pb.tid"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # AllPairs length filter: den*|b| >= num*|a| and vice versa
            & (PJ_TAU_DEN * F.col("pb.sz") >= PJ_TAU_NUM * F.col("pa.sz"))
            & (PJ_TAU_DEN * F.col("pa.sz") >= PJ_TAU_NUM * F.col("pb.sz")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    arrs = ranked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tid")).alias("terms"),
        F.count("*").cast("long").alias("sz"),
    )
    joined = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("terms").alias("terms_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("terms").alias("terms_b"),
                F.col("sz").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter_sz",
            F.size(F.array_intersect("terms_a", "terms_b")).cast("long"),
        )
    )
    return (
        joined.filter(
            PJ_TAU_DEN * F.col("inter_sz")
            >= PJ_TAU_NUM * (F.col("size_a") + F.col("size_b") - F.col("inter_sz"))
        )
        .select(
            "doc_a",
            "doc_b",
            "inter_sz",
            "size_a",
            "size_b",
            F.expr(
                "(inter_sz * 1000000) div (size_a + size_b - inter_sz)"
            ).alias("jac_ppm"),
        )
    )


# =====================================================================
# Zone-map / file-skipping layout audit: per-partition min-max ranges
# and their overlap — the physical-layout half of the 100-TB story
# =====================================================================
ZONE_N = 8


@q("zonemap_audit")
def zonemap_audit(spark, sf_dir):
    """Physical-layout ZONE-MAP audit: materializes the same rows
    under two hive-partitioned layouts — 'range' (bucket =
    doc_id div ceil((max+1)/N), contiguous key ranges) and 'mod'
    (bucket = doc_id % N, round-robin scatter) — then reports each
    partition's min/max key and how many sibling partitions its
    range OVERLAPS. min/max-per-file is exactly what parquet zone
    maps / Iceberg manifests / partition pruning consult: with the
    range layout a point or range predicate on doc_id prunes to 1
    file (n_overlaps = 0 certifies pairwise-disjoint ranges); with
    the mod layout every file spans the whole key domain
    (n_overlaps = N−1) and NO file is ever skippable. At 100 TB this
    difference is the scan bill: clustering the write (range
    partition / sort) buys predicate-driven file skipping for free,
    and this audit is the job you run to prove a table's layout
    still has it. Both engines read the same partitioned bytes
    (Spark partition discovery vs DuckDB hive_partitioning), so the
    hash also certifies the hive round-trip. The overlap self-join
    runs on the N-row summary, never on data rows — audit cost is
    O(files), not O(rows)."""
    from . import mat

    def build():
        d = t(spark, sf_dir, "documents").select("doc_id")
        mx = d.agg(F.max("doc_id").alias("mx"))
        rng = (
            d.crossJoin(F.broadcast(mx))
            .select(
                "doc_id",
                F.lit("range").alias("layout"),
                F.expr(f"doc_id div ((mx + {ZONE_N}) div {ZONE_N})")
                .cast("long")
                .alias("bucket"),
            )
        )
        mod = d.select(
            "doc_id",
            F.lit("mod").alias("layout"),
            (F.col("doc_id") % ZONE_N).cast("long").alias("bucket"),
        )
        return rng.unionByName(mod)

    z = mat.materialize_partitioned(
        spark, sf_dir, "zones", ["layout", "bucket"], build
    )
    agg = z.groupBy("layout", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )
    a, b = agg.alias("a"), agg.alias("b")
    return (
        a.join(
            b,
            (F.col("a.layout") == F.col("b.layout"))
            & (F.col("a.bucket") != F.col("b.bucket"))
            & (F.col("a.min_id") <= F.col("b.max_id"))
            & (F.col("b.min_id") <= F.col("a.max_id")),
            "left",
        )
        .groupBy(
            F.col("a.layout").alias("layout"),
            F.col("a.bucket").alias("bucket"),
            F.col("a.n_rows").alias("n_rows"),
            F.col("a.min_id").alias("min_id"),
            F.col("a.max_id").alias("max_id"),
        )
        .agg(
            F.count_if(F.col("b.bucket").isNotNull())
            .cast("long")
            .alias("n_overlaps")
        )
    )


# =====================================================================
# Forward-fill (last-observation-carried-forward) — the time-series
# gap-fill window every event warehouse needs
# =====================================================================
@q("ffill_last_price")
def ffill_last_price(spark, sf_dir):
    """Forward-fill / last-observation-carried-forward: every event
    carries the user's most recent observed purchase price (integer
    cents), NULL until the first purchase — the canonical time-series
    gap-fill. One window over ONE user_id exchange, ordered by
    (ts, event_id) so ties are deterministic in both engines; rows
    before any observation stay NULL (an honest fill never invents a
    leading value). Spark F.last(expr, ignorenulls=True) vs DuckDB
    last_value(... ignore nulls) — the per-event output (not an agg)
    pins the full window semantics row by row on the hash gate. At
    100 TB: partition by user, running-state window — the same
    single-shuffle shape as sessionization; no join, no second
    exchange. The user_id % 7 slice keeps the driver compare small;
    the shape is corpus-size-free."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs = F.when(F.col("event_type") == "purchase", _cents(F.col("value")))
    return ev.select(
        "event_id",
        "user_id",
        F.last(obs, ignorenulls=True).over(w).alias("last_price_c"),
    )


# =====================================================================
# Equal-frequency bucketing (ntile) — decile profile of a measure
# =====================================================================
@q("decile_stats")
def decile_stats(spark, sf_dir):
    """Equal-frequency bucketing: ntile(10) over (n_chars, doc_id) —
    the doc_id tie-break makes the bucket assignment a total order, so
    both engines split identical ties identically (ntile without a
    tie-break is nondeterministic under equal keys and would flap the
    hash). Per-decile count/min/max/sum profiles the length
    distribution (mass per bucket rather than cut points). NOTE the honest
    scale caveat: a global ntile is a single-partition window; at
    100 TB you swap it for the two-phase global rank (range-partition
    sort + per-partition offsets from a broadcast partition-count
    scan) or approx-quantile bucketing. The decile AGGREGATE
    output is 10 rows either way."""
    d = t(spark, sf_dir, "documents").select(
        F.ntile(10)
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("decile"),
        "n_chars",
    )
    return d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# =====================================================================
# Inverted-index construction as aggregation: ordered posting lists,
# content-certified by digest
# =====================================================================
@q("inverted_postings")
def inverted_postings(spark, sf_dir):
    """Inverted-index CONSTRUCTION as a pure aggregation: term →
    (document frequency, ordered posting list), with the posting list
    certified by md5 over the comma-joined ascending doc_ids so the
    driver hash pins every posting without shipping the list. One
    tokenize-explode-distinct map stage and ONE term-keyed exchange —
    index building is exactly a groupBy, which is why it scales: each
    reducer owns a term shard and emits its postings independently
    (this is the shuffle Lucene/ES segment building does with extra
    steps). At 100 TB the collect_list per term is bounded by df — the
    df-cap discipline the winnowing index and tfidf_cosine_pairs
    already use applies verbatim (cap hot terms or segment their
    postings); the synthetic 30-word vocab keeps every list small
    here. sort_array(collect_list) vs string_agg(... order by) makes
    the order contract explicit in both engines."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select("doc_id", F.lower("w").alias("term"))
        .distinct()
    )
    return tok.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("postings_md5"),
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
    zone-map math and the audit stay identical. Complements
    zonemap_audit (which certifies 1-D range vs scatter layouts on
    real hive-partitioned bytes)."""
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
# Schema-evolution read (mergeSchema / union_by_name): later write
# batches add columns; one read reconciles them
# =====================================================================
@q("schema_evolution_read")
def schema_evolution_read(spark, sf_dir):
    """Schema-EVOLUTION source: a real lakehouse table is thousands of
    write batches, and later batches add columns (here batch v2 adds
    `quality`). The query materializes two batches with genuinely
    different parquet schemas under one root (hive dir batch=v1 /
    batch=v2), reads them back with Spark's mergeSchema + partition
    discovery, and accounts for the evolved column per batch — v1
    rows must surface quality as NULL (never a default, never an
    error). DuckDB reads the same bytes with union_by_name +
    hive_partitioning, so the driver hash certifies both engines
    reconcile the evolved schema identically. At 100 TB mergeSchema's
    footer-sampling cost is the documented caveat — production pins
    the merged schema in the catalog (Iceberg/Delta do exactly this)
    and this query is the audit that the data still conforms."""
    from . import mat

    def v1():
        return (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", F.col("n_chars").cast("long").alias("text_len"))
        )

    def v2():
        return (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 1)
            .select(
                "doc_id",
                F.col("n_chars").cast("long").alias("text_len"),
                (F.col("n_chars") % 100).cast("long").alias("quality"),
            )
        )

    root = mat.materialize_multi(
        spark, sf_dir, "evolved", {"batch=v1": v1, "batch=v2": v2}
    )
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return df.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_if(F.col("quality").isNull()).cast("long").alias("n_quality_null"),
        F.coalesce(F.sum("quality"), F.lit(0)).cast("long").alias("sum_quality"),
        F.sum("text_len").cast("long").alias("sum_text_len"),
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
