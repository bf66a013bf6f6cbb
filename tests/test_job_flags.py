"""Flag-combination guards on the job surface: usage errors must fire
BEFORE any SparkSession is built or any sink writes (the r4 ADVICE
quarantine-ordering fix), and --checkpoint must reject BOTH managed
table ref forms — table: (Iceberg) and btable: (Spark bucketed) —
because the resume path writes parquet with dynamic partition
overwrite and would otherwise treat the ref as a literal directory
name, then crash at the final span-count readback after doing all the
work (review finding). The option list, the set of xtract modules the
job and the benchmark import, and the launcher's --master, driver
memory and parallelism under spark-submit are pinned here too."""
import ast
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

import job

ROOT = Path(__file__).resolve().parents[1]


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


def test_option_surface(capsys):
    """The job's option surface is pinned: adding or removing an
    option must show up as an edit to this list. --mode and --merge
    (the fused kernel is the one extraction plan) and
    --compact-target-mb are gone, so they are usage errors like any
    unknown option."""
    with pytest.raises(SystemExit) as exc:
        job.main(["--help"])
    assert exc.value.code == 0
    flags = set(re.findall(r"(?<![\w-])--[a-z][a-z0-9-]*", capsys.readouterr().out))
    assert flags - {"--help"} == {
        "--input", "--quarantine", "--output", "--partitions",
        "--exam-info", "--stats", "--assembled", "--assembled-mode",
        "--groups", "--dup-pairs", "--dup-clusters", "--windows",
        "--loss-mask", "--export-jsonl", "--parity-sample",
        "--checkpoint", "--run-id",
    }
    _expect_usage_error(["--input", "gen:10", "--output", "o", "--mode", "relational"])
    _expect_usage_error(["--input", "gen:10", "--output", "o", "--merge", "rank1"])
    _expect_usage_error(["--input", "gen:10", "--output", "o", "--compact-target-mb", "64"])


def _xtract_imports(path):
    """The xtract modules one file imports: ``from xtract import m``,
    ``from . import m``, ``from .m import ...``, ``import xtract.m``
    and ``from xtract.m import ...``."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("xtract."):
                    found.add(a.name.split(".")[1])
        elif isinstance(node, ast.ImportFrom):
            pkg = node.level > 0 or (node.module or "").split(".")[0] == "xtract"
            if not pkg:
                continue
            mod = (node.module or "").removeprefix("xtract").lstrip(".")
            if mod:
                found.add(mod.split(".")[0])
            else:
                found.update(a.name for a in node.names)
    return found


def test_module_surface():
    """Every xtract module is on a program path: reachable by imports
    from job.py or from perfbench's non-test sources. A module nothing
    runs must be deleted (git keeps it) rather than kept alive by its
    own tests. The one exception is evaluator, the accuracy gate's
    metric (test_accuracy_gate, test_ingest_eval)."""
    todo = [ROOT / "job.py", *(ROOT / "perfbench").glob("*.py")]
    seen: set[str] = set()
    while todo:
        for m in _xtract_imports(todo.pop()) - seen:
            seen.add(m)
            todo.append(ROOT / "xtract" / f"{m}.py")
    unreached = {f.stem for f in (ROOT / "xtract").glob("*.py")} - seen
    assert unreached == {"__init__", "evaluator"}


def _submit(tmp_path, body: str, *launcher_args: str) -> list[str]:
    """stdout lines of a probe script run by spark-submit."""
    probe = tmp_path / "probe.py"
    probe.write_text("from xtract import session\ns = session.build()\n" + body + "s.stop()\n")
    env = dict(
        os.environ, PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    p = subprocess.run(
        ["spark-submit", *launcher_args, str(probe)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return p.stdout.splitlines()


def test_spark_submit_master_wins(spark, tmp_path):
    """Under spark-submit, session.build must leave the launcher's
    --master alone; a plain Python driver (this test session) still
    gets local[cores]."""
    out = _submit(
        tmp_path, "print('master=' + s.sparkContext.master)\n", "--master", "local[2]"
    )
    assert "master=local[2]" in out
    assert spark.sparkContext.master == "local[8]"


def test_spark_submit_driver_conf(tmp_path):
    """Under spark-submit the driver JVM is the launcher's: the session
    reports its --driver-memory (a builder value would be a no-op on a
    running JVM), sizes shuffles by its --master's parallelism unless
    the launcher set a count, and asks for no driver JVM option: no
    class-data-sharing archive and no compiler thread count."""
    body = (
        "c = s.sparkContext.getConf()\n"
        "print('memory=' + c.get('spark.driver.memory', ''))\n"
        "print('shuffle=' + s.conf.get('spark.sql.shuffle.partitions'))\n"
        "print('opts=' + c.get('spark.driver.extraJavaOptions', ''))\n"
    )
    out = _submit(tmp_path, body, "--master", "local[2]", "--driver-memory", "1g")
    assert "memory=1g" in out
    assert "shuffle=2" in out
    (opts,) = [ln for ln in out if ln.startswith("opts=")]
    for option in ("SharedArchiveFile", "ArchiveClassesAtExit", "CICompilerCount"):
        assert option not in opts, opts
    out = _submit(
        tmp_path, body, "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=7",
    )
    assert "shuffle=7" in out
