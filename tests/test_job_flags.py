"""Flag-combination guards on the job surface: usage errors must fire
BEFORE any SparkSession is built or any sink writes (the r4 ADVICE
quarantine-ordering fix), and --checkpoint must reject BOTH managed
table ref forms — table: (Iceberg) and btable: (Spark bucketed) —
because the resume path writes parquet with dynamic partition
overwrite and would otherwise treat the ref as a literal directory
name, then crash at the final span-count readback after doing all the
work (review finding)."""
import os

import pytest

import job


def _expect_usage_error(argv):
    with pytest.raises(SystemExit) as exc:
        job.main(argv)
    assert exc.value.code == 2  # argparse usage error


def test_checkpoint_rejects_table_ref(tmp_path):
    _expect_usage_error(
        ["--input", "gen:10", "--output", "table:local.db.spans",
         "--checkpoint", str(tmp_path / "ck")]
    )


def test_checkpoint_rejects_btable_ref(tmp_path):
    _expect_usage_error(
        ["--input", "gen:10", "--output", "btable:spans",
         "--checkpoint", str(tmp_path / "ck")]
    )


def test_usage_error_leaves_no_quarantine_side_effect(tmp_path):
    """jsonl input + --quarantine + an invalid flag combo: the usage
    error must abort before the quarantine sink writes anything."""
    src = tmp_path / "d.jsonl"
    src.write_text('{"bad json\n')
    quar = tmp_path / "quarantine"
    _expect_usage_error(
        ["--input", f"jsonl:{src}", "--output", "btable:spans",
         "--checkpoint", str(tmp_path / "ck"),
         "--quarantine", str(quar)]
    )
    assert not os.path.exists(quar)


def test_compact_rejects_btable_ref():
    _expect_usage_error(
        ["--input", "gen:10", "--output", "btable:spans",
         "--compact-target-mb", "64"]
    )


def test_rank1_merge_rejects_fused_mode(tmp_path, monkeypatch):
    """The fused kernel always assigns images greedily, so --merge
    rank1 without --mode relational used to run and silently ignore
    the flag. It must be a usage error, raised before any session."""
    from xtract import session

    def no_session(*a, **k):
        raise AssertionError("session built before the usage check")

    monkeypatch.setattr(session, "build", no_session)
    out = str(tmp_path / "spans")
    _expect_usage_error(["--input", "gen:10", "--output", out, "--merge", "rank1"])
    _expect_usage_error(
        ["--input", "gen:10", "--output", out, "--merge", "rank1",
         "--checkpoint", str(tmp_path / "ck")]
    )


def test_counts_below_one_are_usage_errors(tmp_path, monkeypatch):
    """--parity-sample 0 used to skip the requested audit and exit 0,
    a negative modulus audited every turn, and --partitions 0 was
    silently replaced by the core count. Each must be a usage error,
    raised before any session."""
    from xtract import session

    def no_session(*a, **k):
        raise AssertionError("session built before the usage check")

    monkeypatch.setattr(session, "build", no_session)
    out = str(tmp_path / "spans")
    for flag in ("--parity-sample", "--partitions"):
        for value in ("0", "-3"):
            _expect_usage_error(["--input", "gen:10", "--output", out, flag, value])


def test_quarantine_requires_jsonl_input(tmp_path, monkeypatch):
    """Only the jsonl: arm has malformed lines to quarantine, so
    --quarantine with any other input used to run, write no sink and
    exit 0. It must be a usage error, raised before any session."""
    from xtract import session

    def no_session(*a, **k):
        raise AssertionError("session built before the usage check")

    monkeypatch.setattr(session, "build", no_session)
    quar = tmp_path / "quarantine"
    _expect_usage_error(
        ["--input", "gen:10", "--output", str(tmp_path / "spans"),
         "--quarantine", str(quar)]
    )
    assert not os.path.exists(quar)
