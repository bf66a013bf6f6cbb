"""Every sink of one ``spark-submit --py-files xtract.zip job.py`` run,
checked outside Spark: DuckDB reads the written files back and each
output is compared with a restatement that shares no code with the
plan that wrote it (SQL, pure Python, or the oracle over the
generator's own rows)."""
import json
import os
import re
import subprocess
import sys
import zipfile
from collections import defaultdict
from pathlib import Path

import duckdb
import pytest

from xtract import fingerprint, gen, oracle, schema

ROOT = Path(__file__).resolve().parents[1]
N_CONVS = 40
BUDGET = 1024  # context-window budget the --windows sink packs to
SINKS = [
    "exam-info", "stats", "windows", "loss-mask", "assembled", "groups",
    "dup-pairs", "dup-clusters", "export-jsonl",
]


@pytest.fixture(scope="module")
def submit(tmp_path_factory):
    """Run job.py once with every sink on gen:40; yield the finished
    process and the output paths."""
    d = tmp_path_factory.mktemp("job_sinks")
    pkg = d / "xtract.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        for f in sorted((ROOT / "xtract").glob("*.py")):
            z.write(f, f"xtract/{f.name}")
    paths = {s: str(d / s) for s in ["spans", "ckpt"] + SINKS}
    argv = [
        "spark-submit", "--master", "local[4]", "--py-files", str(pkg),
        str(ROOT / "job.py"), "--input", f"gen:{N_CONVS}",
        "--output", paths["spans"], "--checkpoint", paths["ckpt"],
        "--assembled-mode", "sparse", "--parity-sample", "1",
    ]
    for s in SINKS:
        argv += [f"--{s}", paths[s]]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    p = subprocess.run(argv, cwd=d, env=env, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    yield p, paths


@pytest.fixture(scope="module")
def job(submit):
    """The job's JSON line and the output paths."""
    p, paths = submit
    return json.loads(p.stdout.strip().splitlines()[-1]), paths


@pytest.fixture(scope="module")
def turns():
    return [r for c in range(N_CONVS) for r in gen.conv_rows(c)]


def _spans_sql(paths):
    return (
        f"read_parquet('{paths['spans']}/*/*.parquet', hive_partitioning = true)"
    )


def _rows(sql):
    return duckdb.sql(sql).fetchall()


def test_span_and_turn_counts(job, turns):
    line, paths = job
    (n_spans,) = _rows(f"select count(*) from {_spans_sql(paths)}")[0]
    assert line["turns"] == len(turns)
    assert line["spans"] == n_spans
    assert n_spans == sum(len(oracle.extract_turn(t["text"])) for t in turns)


def test_first_checkpointed_run_logs_no_sidecar_warning(submit):
    """The first run finds no lineage sidecar without a read that fails:
    Spark's FileStreamSink logs a WARN with a Java stack trace for a
    read of a missing path."""
    p, _ = submit
    assert "FileStreamSink" not in p.stderr


def test_checkpoint_lineage(job, turns):
    line, paths = job
    lineage = _rows(
        f"select partition_key, status, rows_in, rows_out "
        f"from read_parquet('{paths['ckpt']}/*.parquet')"
    )
    assert line["partitions_done"] == 64
    assert len(lineage) == 64
    assert {r[1] for r in lineage} == {"done"}
    assert sum(r[2] for r in lineage) == len(turns)
    assert sum(r[3] for r in lineage) == line["spans"]
    per_pk = dict(
        _rows(f"select cast(pk as varchar), count(*) from {_spans_sql(paths)} group by pk")
    )
    assert {r[0]: r[3] for r in lineage if r[3]} == per_pk


def test_parity_audit(job, turns):
    line, _ = job
    assert line["parity"]["mismatch"] == 0
    assert line["parity"]["turns_audited"] == len(turns)


def test_exam_info(job, turns):
    _, paths = job
    got = {
        (r[0], r[1]): tuple(r[2:])
        for r in _rows(
            "select conv_id, turn_idx, title, subject, grade, time_limit, "
            f"total_score from '{paths['exam-info']}/*.parquet'"
        )
    }
    want = {}
    for t in turns:
        info = oracle.exam_info(oracle.parse_payload(t["text"])["blocks"])
        want[(t["conv_id"], t["turn_idx"])] = tuple(
            info[k] for k in ("title", "subject", "grade", "time_limit", "total_score")
        )
    assert got == want


def test_stats_equal_group_by(job):
    _, paths = job
    cols = "conv_id, spans, numbered, with_images, images, from_split, turns_with_spans"
    got = sorted(_rows(f"select {cols} from '{paths['stats']}/*.parquet'"))
    want = sorted(
        _rows(
            f"""select conv_id, count(*), count(question_number),
                       count_if(has_image), sum(image_count),
                       count_if(split_from_merged), count(distinct turn_idx)
                from {_spans_sql(paths)} group by conv_id"""
        )
    )
    assert got == want


def test_windows_tile_turns(job, turns):
    """The windows equal a pure-Python replay of the greedy fold, so
    they tile every conversation's turns and stay within budget
    unless a single turn is oversize."""
    _, paths = job
    got = _rows(
        "select conv_id, window_id, start_turn, end_turn, n_turns, window_toks, "
        f"oversize from '{paths['windows']}/*.parquet'"
    )
    assert sum(r[4] for r in got) == len(turns)
    for r in got:
        assert r[5] <= BUDGET or (r[6] and r[4] == 1), r
    want = []
    by_conv = defaultdict(list)
    for t in sorted(turns, key=lambda t: (t["conv_id"], t["turn_idx"])):
        by_conv[t["conv_id"]].append((t["turn_idx"], len(re.findall("[a-z0-9]+", t["text"]))))
    for conv, seq in by_conv.items():
        win = []
        for idx, toks in seq:
            if win and sum(k for _, k in win) + toks > BUDGET:
                want.append((conv, win))
                win = []
            win.append((idx, toks))
        want.append((conv, win))
    ids = defaultdict(int)
    expect = []
    for conv, win in want:
        ids[conv] += 1
        total = sum(k for _, k in win)
        expect.append((conv, ids[conv], win[0][0], win[-1][0], len(win), total, total > BUDGET))
    assert sorted(got) == sorted(expect)


def test_loss_mask_tiles(job, turns):
    _, paths = job
    src = f"'{paths['loss-mask']}/*.parquet'"
    (n,) = _rows(f"select count(*) from {src}")[0]
    assert n == len(turns)
    bad = _rows(
        f"""select conv_id from {src} group by conv_id
            having min(start_tok) <> 0
                or max(end_tok) <> sum(end_tok - start_tok)"""
    )
    assert bad == []
    # contiguous: each turn starts where its predecessor ended
    gaps = _rows(
        f"""select count(*) from (
              select start_tok, lag(end_tok) over (partition by conv_id order by turn_idx) as prev
              from {src}) where prev is not null and prev <> start_tok"""
    )
    assert gaps == [(0,)]
    roles = {(t["conv_id"], t["turn_idx"]): t["role"] for t in turns}
    for conv, idx, masked in _rows(f"select conv_id, turn_idx, masked from {src}"):
        assert masked == (roles[(conv, idx)] != "assistant")


def test_export_round_trips(job):
    line, paths = job
    exported = _rows(
        "select conv_id, turn_idx, seq from read_json("
        f"'{paths['export-jsonl']}/part-*', format = 'newline_delimited')"
    )
    assert len(exported) == line["spans"]
    assert sorted(exported) == sorted(
        _rows(f"select conv_id, turn_idx, seq from {_spans_sql(paths)}")
    )


def test_export_keys_are_span_columns(job):
    """The run is checkpointed, so the written table reads back with
    the bucket column pk; the export must still carry exactly the span
    columns, in every object."""
    _, paths = job
    want = set(schema.SPANS.fieldNames())
    n = 0
    for f in Path(paths["export-jsonl"]).glob("part-*"):
        for ln in f.read_text(encoding="utf-8").splitlines():
            assert set(json.loads(ln)) == want
            n += 1
    assert n > 0


# the dense assembly restated in SQL: physical order → lag continuation
# flag → running-sum islands → ordered concat, keyed like the sparse
# plan by each segment's head span
_TERMINAL = r"[。？！；?!;.）)】\]]\s*$"


def test_assembled_equals_dense_restatement(job):
    line, paths = job
    cols = "conv_id, head_turn, head_seq, turn_first, turn_last, question_number, span_text, n_parts"
    got = _rows(f"select {cols} from '{paths['assembled']}/*.parquet'")
    assert sum(r[-1] for r in got) == line["spans"]
    want = _rows(
        f"""
        with s as (
          select conv_id, turn_idx, seq, question_number, span_text,
                 cast(case when len(bbox) = 4 then bbox[2] else seq end as int) as phys
          from {_spans_sql(paths)}
        ),
        f as (
          select *, lag(turn_idx) over w as prev_turn, lag(span_text) over w as prev_text
          from s window w as (partition by conv_id order by turn_idx, phys, seq)
        ),
        g as (
          select *,
                 sum(case when prev_turn is not null
                           and question_number is null
                           and turn_idx = prev_turn + 1
                           and prev_text is not null
                           and length(trim(prev_text)) > 0
                           and not regexp_matches(prev_text, '{_TERMINAL}')
                      then 0 else 1 end)
                   over (partition by conv_id order by turn_idx, phys, seq) as seg
          from f
        )
        select conv_id,
               cast(min(turn_idx) as int),
               cast(first(seq order by turn_idx, phys, seq) as int),
               cast(min(turn_idx) as int),
               cast(max(turn_idx) as int),
               cast(max(question_number) as int),
               case when count(*) > 1
                    then string_agg(coalesce(span_text, ''), chr(10) order by turn_idx, phys, seq)
                    else min(span_text) end,
               cast(count(*) as int)
        from g group by conv_id, seg
        """
    )
    def head(r):  # (conv_id, head_turn, head_seq) identifies a segment
        return r[:3]

    assert sorted(got, key=head) == sorted(want, key=head)
    assert any(r[-1] > 1 for r in got)  # continuations exist to merge


def test_groups(job, turns):
    _, paths = job
    got = sorted(
        _rows(
            "select conv_id, turn_idx, group_seq, gtype, block_ids_csv, bx1, by1, "
            f"bx2, by2, merged_text from '{paths['groups']}/*.parquet'"
        )
    )
    want = []
    for t in turns:
        for g in oracle.analyze_turn(t["text"]):
            bbox = list(g["merged_bbox"]) + [None] * 4
            want.append(
                (t["conv_id"], t["turn_idx"], g["group_seq"], g["gtype"],
                 ",".join(str(b) for b in g["block_ids"]), *bbox[:4], g["merged_text"])
            )
    assert got == sorted(want)


def _dup_pairs_recount(paths, min_shared=4, max_df=20):
    """Winnowing pairs recounted from the naive fingerprint function:
    drop fingerprints in more than max_df spans, then count the
    fingerprints each pair of spans shares."""
    fps = {}
    for conv, idx, seq, text in _rows(
        f"select conv_id, turn_idx, seq, span_text from {_spans_sql(paths)}"
    ):
        f = fingerprint.fingerprints_naive(text or "")
        if f:
            fps[f"{conv}#{idx}#{seq}"] = f
    posting = defaultdict(list)
    for key, f in fps.items():
        for h in f:
            posting[h].append(key)
    shared = defaultdict(int)
    for keys in posting.values():
        if len(keys) > max_df:
            continue
        keys.sort()
        for i, a in enumerate(keys):
            for b in keys[i + 1:]:
                shared[(a, b)] += 1
    return {k: n for k, n in shared.items() if n >= min_shared}


def test_dup_pairs_and_clusters(job):
    _, paths = job
    pairs = {
        (a, b): n
        for a, b, n in _rows(
            f"select doc_a, doc_b, n_shared from '{paths['dup-pairs']}/*.parquet'"
        )
    }
    assert pairs == _dup_pairs_recount(paths)
    assert pairs  # the generator repeats question text across conversations

    # clusters: union-find over the pairs, each node labelled with its
    # component's minimum
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = dict(
        _rows(f"select span_key, cluster_rep from '{paths['dup-clusters']}/*.parquet'")
    )
    assert got == want
