"""Distributed parity-sweep tests: the corpus-scale restatement of
the per-turn text-equality metric. test_parity.py proves kernel ==
oracle by exact driver-side comparison at fixture scale; these prove
the DISTRIBUTED digest machinery reports that same equality without
collecting spans — and that it actually detects disagreement
(poisoned-kernel negative controls), so a 100% pass rate is a
measurement, not a tautology."""
import pyspark.sql.functions as F
import pytest

from xtract import gen, parity, pipeline

N_CONVS = 60


@pytest.fixture(scope="module")
def transcripts(spark):
    df = gen.transcripts(spark, N_CONVS).cache()
    df.count()
    yield df
    df.unpersist()


def _sweep(turns, mode="fused", sample_mod=1):
    """Extract with one plan and audit the spans against the oracle."""
    return parity.parity_report(turns, pipeline.extract(turns, mode), sample_mod)


def test_sweep_full_pass(spark, transcripts):
    r = _sweep(transcripts).collect()[0]
    assert r.n_turns == transcripts.count()  # every turn scored
    assert r.n_mismatch == 0
    assert r.n_match == r.n_turns
    assert r.pass_rate_ppm == 1_000_000


def test_sweep_detects_dropped_span(spark, transcripts):
    spans = pipeline.extract(transcripts, mode="fused")
    first = spans.limit(1).collect()[0]
    poisoned = spans.filter(
        ~(
            (F.col("conv_id") == first.conv_id)
            & (F.col("turn_idx") == first.turn_idx)
            & (F.col("seq") == first.seq)
        )
    )
    r = parity.parity_report(transcripts, poisoned).collect()[0]
    assert r.n_mismatch == 1
    assert r.n_turns == transcripts.count()


def test_sweep_detects_corrupted_text(spark, transcripts):
    spans = pipeline.extract(transcripts, mode="fused")
    first = spans.limit(1).collect()[0]
    hit = (
        (F.col("conv_id") == first.conv_id)
        & (F.col("turn_idx") == first.turn_idx)
        & (F.col("seq") == first.seq)
    )
    poisoned = spans.withColumn(
        "span_text",
        F.when(hit, F.concat(F.col("span_text"), F.lit("!"))).otherwise(
            F.col("span_text")
        ),
    )
    r = parity.parity_report(transcripts, poisoned).collect()[0]
    assert r.n_mismatch == 1


def test_sampled_sweep_keeps_whole_conversations(spark, transcripts):
    r = _sweep(transcripts, sample_mod=4).collect()[0]
    assert 0 < r.n_turns < transcripts.count()
    assert r.n_mismatch == 0
    # the sample is exactly the turns of the selected conversations —
    # ordering within each sampled conversation is intact
    sampled_convs = (
        transcripts.filter(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0)
        .count()
    )
    assert r.n_turns == sampled_convs


def test_relational_mode_sweeps_clean(spark, transcripts):
    r = _sweep(transcripts, mode="relational").collect()[0]
    assert r.n_mismatch == 0


def test_canon_val_widening_invariance():
    """Arrow widening a nullable int column to float64 must not change
    the canon string; None and NaN both mean SQL NULL."""
    assert parity._canon_val(5) == parity._canon_val(5.0) == "5"
    assert parity._canon_val(None) == parity._canon_val(float("nan")) == ""
    assert parity._canon_val(True) == "1"
    assert parity._canon_val([1, 2]) == "1,2"
    import numpy as np

    assert parity._canon_val(np.int32(7)) == "7"
    assert parity._canon_val(np.array([3, 4], dtype="int32")) == "3,4"


def test_empty_sample_reports_zero_turns(spark, tmp_path):
    """A sample that holds no conversation audits 0 turns with 0
    mismatches and no pass rate: the sums over zero rows used to be
    NULL, and job.py raised after every sink was written."""
    import job

    args = job.parse_args(
        ["--input", "gen:1", "--output", str(tmp_path / "spans"),
         "--parity-sample", "1000003"]
    )
    line = job.run(spark, args)
    assert line["parity"] == {"turns_audited": 0, "mismatch": 0, "pass_rate_ppm": None}
