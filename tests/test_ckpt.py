"""Checkpoint/lineage semantics: full run, idempotent no-op rerun, and
resume after simulated partial failure reproduce identical output."""
import shutil
from collections import Counter

import pyarrow.dataset as pads
import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JJavaError

from xtract import catalog, ckpt, gen, schema

N_BUCKETS = 8


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


@pytest.fixture()
def few_buckets(monkeypatch):
    monkeypatch.setattr(ckpt, "N_BUCKETS", N_BUCKETS)


def _spans(spark, out):
    return sorted(
        (r.conv_id, r.turn_idx, r.seq, r.span_text)
        for r in spark.read.parquet(out).collect()
    )


def test_checkpoint_full_then_noop(spark, dirs, few_buckets):
    out, ck = dirs
    tr = gen.transcripts(spark, 10).cache()
    r1 = ckpt.run_with_checkpoint(spark, tr, out, ck)
    assert r1 == {"partitions_done": N_BUCKETS, "partitions_skipped": 0}
    first = _spans(spark, out)
    assert len(first) > 0

    lin = spark.read.parquet(ck)
    assert lin.count() == N_BUCKETS
    assert lin.filter(F.col("status") == "done").count() == N_BUCKETS
    assert lin.agg(F.sum("rows_in")).collect()[0][0] == tr.count()

    # rerun: everything already committed → no work, no output change
    r2 = ckpt.run_with_checkpoint(spark, tr, out, ck)
    assert r2 == {"partitions_done": 0, "partitions_skipped": N_BUCKETS}
    assert _spans(spark, out) == first


def test_checkpoint_resume_recomputes_only_missing(spark, dirs, few_buckets):
    out, ck = dirs
    tr = gen.transcripts(spark, 10).cache()
    ckpt.run_with_checkpoint(spark, tr, out, ck)
    full = _spans(spark, out)

    # simulate a mid-run crash: drop lineage for 3 buckets and corrupt
    # their output partitions
    lin = spark.read.parquet(ck)
    keep = lin.filter(~F.col("partition_key").isin(["1", "2", "5"]))
    kept_rows = keep.collect()
    shutil.rmtree(ck)
    spark.createDataFrame(kept_rows, lin.schema).write.parquet(ck)
    for b in (1, 2, 5):
        shutil.rmtree(f"{out}/pk={b}", ignore_errors=True)

    r = ckpt.run_with_checkpoint(spark, tr, out, ck)
    assert r == {"partitions_done": 3, "partitions_skipped": N_BUCKETS - 3}
    assert _spans(spark, out) == full

    # lineage checksum per bucket is stable across the resume
    lin2 = spark.read.parquet(ck)
    sums = {
        r.partition_key: r.checksum
        for r in lin2.filter(F.col("rows_out") > 0).collect()
    }
    orig = {r.partition_key: r.checksum for r in kept_rows if r.rows_out > 0}
    for k, v in orig.items():
        assert sums[k] == v


def test_lineage_matches_independent_computation(spark, dirs, monkeypatch):
    """Every bucket's lineage row against counts taken without ckpt's
    code: pyarrow over the hive-partitioned span files, a separate count
    of the input, and a checksum query over each pk= directory."""
    out, ck = dirs
    n_buckets = 16
    monkeypatch.setattr(ckpt, "N_BUCKETS", n_buckets)
    tr = gen.transcripts(spark, 6).cache()
    ckpt.run_with_checkpoint(spark, tr, out, ck)

    lin = spark.read.parquet(ck)
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in schema.LINEAGE
    ]
    rows = lin.collect()
    by_key = {int(r.partition_key): r for r in rows}
    assert len(rows) == n_buckets and set(by_key) == set(range(n_buckets))

    rows_in = {
        r.pk: r["count"]
        for r in tr.groupBy(
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).alias("pk")
        )
        .count()
        .collect()
    }
    written = (
        pads.dataset(out, format="parquet", partitioning="hive")
        .to_table(columns=["pk", "split_from_merged", "has_image"])
        .to_pylist()
    )
    rows_out = Counter(r["pk"] for r in written)
    splits = Counter(r["pk"] for r in written if r["split_from_merged"])
    merges = Counter(r["pk"] for r in written if r["has_image"])
    assert len(rows_out) < n_buckets  # some bucket is empty

    for b, r in by_key.items():
        assert (r.run_id, r.status) == ("run0", "done")
        assert r.rows_in == rows_in.get(b, 0), b
        assert (r.rows_out, r.splits, r.merges) == (
            rows_out[b], splits[b], merges[b]
        ), b
        want = "0"
        if rows_out[b]:
            want = (
                spark.read.parquet(f"{out}/pk={b}")
                .agg(
                    F.conv(
                        F.bit_xor(
                            F.xxhash64("conv_id", "turn_idx", "seq", "span_text")
                        ).cast("string"),
                        10,
                        16,
                    )
                )
                .first()[0]
            )
        assert r.checksum == want, b


def test_completed_buckets_missing_vs_unreadable_sidecar(spark, tmp_path):
    """Only a sidecar that is not there yet means "nothing done"; an
    unreadable one raises instead of silently redoing every bucket."""
    assert ckpt.completed_buckets(spark, str(tmp_path / "absent"), "r") == []
    ck = tmp_path / "ckpt"
    ck.mkdir()
    (ck / "notes.txt").write_text("not parquet")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        ckpt.completed_buckets(spark, str(ck), "r")


def test_read_of_bucketed_output_runs_one_job(spark, dirs, count_jobs):
    """Reading the 64-bucket span table lists its pk= directories on the
    driver: one schema job, no partition-listing job."""
    out, ck = dirs
    ckpt.run_with_checkpoint(spark, gen.transcripts(spark, 300), out, ck)
    n_dirs = len(
        pads.dataset(out, format="parquet", partitioning="hive")
        .to_table(columns=["pk"])
        .column("pk")
        .unique()
    )
    assert n_dirs > 32  # above Spark's default parallel-listing threshold
    _, jobs = count_jobs(lambda: catalog.read_ref(spark, out))
    assert jobs == 1


def test_checkpointed_run_leaves_session_conf(spark, dirs, few_buckets):
    """Dynamic partition overwrite is the span write's own option: the
    caller's session keeps the overwrite mode it had."""
    out, ck = dirs
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        ckpt.run_with_checkpoint(spark, gen.transcripts(spark, 4), out, ck)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
