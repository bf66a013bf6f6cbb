"""Table IO abstraction (xtract/catalog.py): ref parsing, parquet
fallback round-trip, a clean failure for table: refs without a
catalog, and the bucketed btable: layout."""
from __future__ import annotations

import pytest

from xtract import catalog


def test_ref_parsing():
    assert catalog.is_table_ref("table:local.db.spans")
    assert not catalog.is_table_ref("/data/spans")
    assert not catalog.is_table_ref("gen:100")
    assert catalog.table_name("table:local.db.spans") == "local.db.spans"
    with pytest.raises(ValueError):
        catalog.table_name("/data/spans")
    with pytest.raises(ValueError):
        catalog.table_name("table:")


def test_parquet_fallback_roundtrip(spark, tmp_path):
    df = spark.range(10).selectExpr("cast(id as string) conv_id", "id * 2 as v")
    path = str(tmp_path / "t")
    catalog.write_ref(df, path)
    back = catalog.read_ref(spark, path)
    assert back.count() == 10
    assert {r.v for r in back.collect()} == {2 * i for i in range(10)}


def test_table_ref_without_catalog_fails_cleanly(spark):
    df = spark.range(1).selectExpr("cast(id as string) conv_id")
    with pytest.raises(Exception):  # no catalog configured in sandbox
        catalog.write_ref(df, "table:nosuch.db.t")


def test_btable_bucketed_roundtrip_and_exchange_free_agg(spark, tmp_path, monkeypatch):
    """btable: refs land as Spark-managed BUCKETED tables — conv_id
    aggregations and self-joins over the table run WITHOUT an Exchange
    (the bucketing layout substitutes for the shuffle), which is the
    whole point of the bucket(N, conv_id) contract at 10^12 rows."""
    import contextlib
    import io

    import pyspark.sql.functions as F

    from xtract import gen, pipeline

    spans = pipeline.extract(gen.transcripts(spark, 12, partitions=4), mode="fused")
    monkeypatch.setattr(catalog, "DEFAULT_BUCKETS", 8)
    catalog.write_ref(spans, "btable:bt_spans_test")
    back = catalog.read_ref(spark, "btable:bt_spans_test")
    assert back.count() == spans.count()
    assert sorted(back.columns) == sorted(spans.columns)

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # per-conversation rollup: bucketed scan → agg, no shuffle
    agg = back.groupBy("conv_id").agg(F.count("*").alias("n"))
    p = plan_of(agg)
    assert "Exchange" not in p, p
    assert "Bucketed: true" in p, p

    # bucket-co-located self-join on conv_id: no SHUFFLE exchange on
    # either side (a BroadcastExchange may appear for the small table —
    # that is a broadcast, not a repartition of the data)
    j = back.alias("l").join(back.alias("r"), "conv_id").groupBy("conv_id").count()
    assert "hashpartitioning" not in plan_of(j)

    # results still correct
    got = {r.conv_id: r.n for r in agg.collect()}
    want = {
        r.conv_id: r.n
        for r in spans.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want

    spark.sql("drop table if exists bt_spans_test")


def test_dense_assembly_over_btable_is_shuffle_free(spark, monkeypatch):
    """The round-1 scale trade-off, eliminated by storage layout: the
    DENSE continuation assembly (per-conv windows + rollup) over a
    conv_id-bucketed table plans with ZERO shuffle exchanges — the
    bucketed scan satisfies the window's required distribution, so
    dense ordinal semantics no longer cost a span-table shuffle."""
    import contextlib
    import io

    from xtract import assemble, gen, pipeline

    spans = pipeline.extract(gen.transcripts(spark, 12, partitions=4), mode="fused")
    monkeypatch.setattr(catalog, "DEFAULT_BUCKETS", 8)
    catalog.write_ref(spans, "btable:bt_asm_test")
    back = catalog.read_ref(spark, "btable:bt_asm_test")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assemble.merge_continuations(back).explain("formatted")
    p = buf.getvalue()
    assert "Exchange hashpartitioning" not in p, p
    assert "Bucketed: true" in p
    got = assemble.merge_continuations(back).count()
    assert got == assemble.merge_continuations(spans).count() > 0
    spark.sql("drop table if exists bt_asm_test")
