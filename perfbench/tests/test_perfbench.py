"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

import corpus
import metrics
import tracing
import workloads as wl

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_and_workload_names_are_valid_and_unique():
    names = [n for n, *_ in metrics.END_TO_END] + [n for n, *_ in metrics.PER_LAYER]
    names += list(metrics.WORKLOADS)
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    units = [u for _, u, *_ in metrics.END_TO_END] + [u for _, u, *_ in metrics.PER_LAYER]
    assert all(UNIT.fullmatch(u) for u in units)
    assert all(len(w) <= 200 and "\n" not in w for w in metrics.WORKLOADS.values())
    assert all(0 < b <= 0.25 for *_, b, _ in metrics.END_TO_END)
    assert ("setup_s", "s", "lower") in [tuple(e[:3]) for e in metrics.END_TO_END]


def test_benchmark_json_mirrors_the_metric_tables():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert bench == metrics.benchmark_json(bench["run_seconds"])
    assert 1 <= len(bench["per_layer"]) <= 128


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "name": "job", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 0, "start": 2.0, "end": 5.0},  # overlaps a
        {"id": 3, "name": "c", "parent": 2, "start": 2.5, "end": 4.0},  # grandchild
        {"id": 4, "name": "d", "parent": 0, "start": 8.0, "end": 12.0},  # ends past its parent
        {"id": 5, "name": "other", "parent": None, "start": 20.0, "end": 21.0},
    ]
    selfs = tracing.self_times(spans)
    assert selfs[0] == pytest.approx(10 - (4 + 2))  # [1,5] and [8,10] covered
    assert selfs[2] == pytest.approx(3 - 1.5)
    assert selfs[3] == pytest.approx(1.5)
    assert [s["id"] for s in tracing.subtree(spans, 2)] == [2, 3]
    assert [s["id"] for s in tracing.subtree(spans, 0)] == [0, 1, 2, 3, 4]


def test_tracer_records_nesting_and_rows():
    tr = tracing.Tracer("r")
    with tr.span("job"):
        with tr.span("pipeline.extract") as rec:
            rec["rows"] = 7
    job, ext = tr.spans
    assert ext["parent"] == job["id"] and ext["rows"] == 7 and ext["run_id"] == "r"
    assert job["start"] <= ext["start"] <= ext["end"] <= job["end"]


def test_spark_counters_charge_stages_to_the_innermost_span(tmp_path):
    spans = [
        {"id": 0, "name": "job", "parent": None, "start": 0, "end": 9},
        {"id": 1, "name": "assemble.sparse", "parent": 0, "start": 1, "end": 2},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [3, 4], "Properties": {tracing.SPAN_PROP: "1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [9], "Properties": {}},
    ]
    for stage, ms, ok in [(3, 100, True), (3, 100, True), (3, 400, False), (4, 10, True), (9, 50, True)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                             "Disk Bytes Spilled": 0},
        })
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    c = tracing.spark_counters(log, spans)
    assert set(c) == {"assemble"}
    a = c["assemble"]
    assert a["shuffle_write_mb"] == pytest.approx(4.0)
    assert a["failed_tasks"] == 1
    assert a["task_skew"] == pytest.approx(4.0)  # stage 3: max 400 ms / median 100 ms


@pytest.mark.parametrize("workload,n", [("skewed_sinks", 700), ("pages", 12)])
def test_same_seed_gives_the_same_corpus(tmp_path, workload, n):
    spec = wl.spec(workload, 3)
    a = corpus.build(corpus.Spec(workload, 3, n, spec.mega_every), tmp_path / "a", 2)
    b = corpus.build(corpus.Spec(workload, 3, n, spec.mega_every), tmp_path / "b", 2)
    c = corpus.build(corpus.Spec(workload, 4, n, spec.mega_every), tmp_path / "c", 2)
    assert a.checksum == b.checksum != c.checksum
    assert a.rows == b.rows == (2 * n if workload == "pages" else n)


@pytest.mark.parametrize("seed", [corpus.SLOTS - 1, 10**9 + 7, 2**63])
def test_any_seed_gives_a_corpus_in_range(tmp_path, seed):
    """Seeds map to bounded ordinals: turn timestamps stay within pandas'
    nanosecond range and PDF pages' turn_idx within int32."""
    from xtract import gen

    last = corpus._offset(seed, corpus.CONV_STRIDE) + corpus.CONV_STRIDE
    assert gen.turn_row(f"conv{last:08d}", 0, last)["ts"].year < 2262
    pages = wl.SPECS["pages"]["n"]
    assert corpus._offset(seed, pages) + pages < 2**31
    t = corpus.build(corpus.Spec("skewed_sinks", seed, 30, 50), tmp_path / "t", 1)
    p = corpus.build(corpus.Spec("pages", seed, 3), tmp_path / "p", 1)
    assert (t.rows, p.rows) == (30, 6)


def test_cache_key_follows_generator_source(tmp_path, monkeypatch):
    spec = corpus.Spec("skewed_sinks", 1, 50)
    first = corpus.cached(spec, tmp_path, 1)
    assert corpus.cached(spec, tmp_path, 1).path == first.path
    monkeypatch.setattr(corpus, "source_hash", lambda: "edited000000")
    assert corpus.cached(spec, tmp_path, 1).path != first.path


def _written(turns):
    from xtract import oracle

    expected = {(c, t): oracle.extract_turn(text) for c, t, text in turns}
    rows = [
        {"conv_id": c, "turn_idx": t, "seq": i, **r}
        for (c, t), rs in expected.items()
        for i, r in enumerate(rs)
    ]
    return expected, rows


def test_gate_fails_on_a_corrupted_span_row():
    from xtract import gen

    turns = [(f"conv{c:08d}", t, gen.turn_row(f"conv{c:08d}", t, c)["text"]) for c in range(3) for t in range(4)]
    expected, rows = _written(turns)
    assert rows and wl.check_spans(expected, rows) == []

    bad = [dict(r) for r in rows]
    bad[len(bad) // 2]["span_text"] = (bad[len(bad) // 2]["span_text"] or "") + "x"
    assert len(wl.check_spans(expected, bad)) == 1
    assert len(wl.check_spans(expected, rows[:-1])) == 1  # a lost span
    ops = wl.Ops()
    for v in wl.check_spans(expected, bad):
        ops.check(False, v)
    assert (ops.attempted, ops.failed) == (1, 1)


def test_html_gate_fails_on_a_changed_page():
    assert wl.check_html({"p1": "a\nb"}, {"p1": "a\nb"}) == []
    assert wl.check_html({"p1": "a\nb"}, {"p1": "a"}) == ["main_text mismatch at p1"]


def test_run_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    import shutil

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
