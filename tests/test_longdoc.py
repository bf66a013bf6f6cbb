"""longdoc_dedup: the corpus where capped and full-text near-dup
detection must disagree, and the planted-twin recovery property.

queries.longdoc_dedup runs both kernels over that corpus; this test
pins the semantic claims its data is supposed to exhibit — every
planted twin is (a) invisible to the capped kernel and (b) recovered
by the full chunked kernel — so a regression that quietly re-caps the
full path fails here.
"""
import pyspark.sql.functions as F

from xtract import queries

SF = "/root/testdata/sf0.001"


def test_planted_twins_split_the_kernels(spark):
    res = queries.longdoc_dedup(spark, SF)
    twins = res.filter(
        F.col("doc_b") == F.col("doc_a") + queries.LONGDOC_TWIN_OFFSET
    )
    rows = {r["doc_a"]: r for r in twins.collect()}
    corpus = queries.longdoc_corpus(spark, SF)
    n_twins = corpus.filter(
        F.col("doc_id") >= queries.LONGDOC_TWIN_OFFSET
    ).count()
    assert n_twins > 0
    # every planted twin pair is a full-kernel candidate...
    assert len(rows) == n_twins, (len(rows), n_twins)
    assert all(r["n_bands_full"] > 0 for r in rows.values())
    # ...and none is visible to the capped kernel (shared content
    # starts beyond LONGDOC_TWIN_SKIP > minhash.CAP)
    assert all(r["n_bands_capped"] == 0 for r in rows.values())


def test_corpus_is_multi_kb(spark):
    from xtract import minhash as mh

    stats = (
        queries.longdoc_corpus(spark, SF)
        .filter(F.col("doc_id") < queries.LONGDOC_TWIN_OFFSET)
        .agg(F.min(F.length("text")).alias("lo"))
        .first()
    )
    # base long docs genuinely exceed the cap — otherwise the two
    # kernels are indistinguishable and the test proves nothing
    assert stats["lo"] > queries.LONGDOC_TWIN_SKIP > mh.CAP
