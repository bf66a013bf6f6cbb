"""Production-surface JSONL ingestion: `job.py --input jsonl:` parses
transcript deliveries with PERMISSIVE quarantine, extracts from the
good rows, reports the quarantined count on the job's JSON line, and
writes the raw malformed or keyless lines to the --quarantine sink. A
good line without a text field reaches the --windows and --loss-mask
sinks as a 0-token turn. Run via subprocess because job.main owns (and stops)
its SparkSession."""
import json
import os
import subprocess
import sys

import duckdb

from xtract import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_jsonl_input_arm(tmp_path):
    # fixture: 3 conversations serialized to JSONL, every 7th line torn
    lines = []
    for conv_ord in range(3):
        conv_id = f"conv{conv_ord:08d}"
        for turn_idx in range(gen.n_turns_for(conv_ord)):
            r = gen.turn_row(conv_id, turn_idx, conv_ord)
            r["ts"] = r["ts"].strftime("%Y-%m-%dT%H:%M:%S.000Z")
            lines.append(json.dumps(r))
    torn = [
        ln[:-5] if i % 7 == 3 else ln for i, ln in enumerate(lines)
    ]
    n_torn_json = sum(1 for i in range(len(lines)) if i % 7 == 3)
    # blank and whitespace-only separator lines must be quarantined
    # too (from_json returns a NULL struct for them, not a populated
    # _corrupt — review finding); inserted, so they don't reduce the
    # good-turn count
    torn.insert(2, "")
    torn.append("   ")
    n_torn = n_torn_json + 2
    # a good line with no text field (text is NULL) in the slot of the
    # torn line 3, so it sits between two normal turns of its
    # conversation
    assert json.loads(lines[3])["turn_idx"] == 3
    torn.append(json.dumps(
        {"conv_id": "conv00000000", "turn_idx": 3, "role": "assistant"}
    ))
    n_good = len(lines) - n_torn_json + 1
    # valid JSON lines lacking a key column: schema.TRANSCRIPTS
    # declares conv_id and turn_idx non-null, so they are quarantined
    # (they used to reach the fused kernel and crash the job)
    keyless = [
        json.dumps({"turn_idx": 0, "role": "user", "text": "1. 没有会话的题目内容"}),
        json.dumps({"conv_id": "conv00000001", "role": "user", "text": "1. 没有轮次的题目内容"}),
    ]
    torn.extend(keyless)
    n_torn += 2
    src = tmp_path / "delivery.jsonl"
    src.write_text("\n".join(torn) + "\n")

    out = str(tmp_path / "spans")
    quar = str(tmp_path / "quarantine")
    export = str(tmp_path / "export")
    windows = str(tmp_path / "windows")
    loss_mask = str(tmp_path / "loss_mask")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "job.py"),
            "--input", f"jsonl:{src}",
            "--output", out,
            "--quarantine", quar,
            "--export-jsonl", export,
            "--windows", windows,
            "--loss-mask", loss_mask,
            "--partitions", "8",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["quarantined"] == n_torn
    assert line["turns"] == n_good
    assert line["spans"] > 0

    # quarantine sink holds exactly the bad raw lines
    qrows = duckdb.sql(f"select raw from '{quar}/*.parquet'").fetchall()
    assert len(qrows) == n_torn
    # torn lines lost their closing brace; blank/ws lines kept as read
    assert sorted(r[0] for r in qrows) == sorted(
        [ln[:-5] for i, ln in enumerate(lines) if i % 7 == 3]
        + ["", "   "] + keyless
    )

    # extraction over the good rows produced a well-formed span table
    n_spans = duckdb.sql(
        f"select count(*), count(distinct conv_id) from '{out}/*.parquet'"
    ).fetchone()
    assert n_spans[0] == line["spans"]
    assert n_spans[1] >= 1

    # the JSONL export round-trips: same span count, fields parse back
    exp = duckdb.sql(
        "select count(*), count(distinct conv_id), sum(seq) "
        f"from read_json('{export}/part-*', format='newline_delimited')"
    ).fetchone()
    par = duckdb.sql(
        f"select count(*), count(distinct conv_id), sum(seq) from '{out}/*.parquet'"
    ).fetchone()
    assert exp == par

    # every good turn, the text-less one included, lands in one window
    assert duckdb.sql(
        f"select sum(n_turns) from '{windows}/*.parquet'"
    ).fetchone()[0] == n_good
    # loss-mask spans: one per good turn, no null offsets, and each
    # conversation's spans tile its token stream from 0
    lm = f"'{loss_mask}/*.parquet'"
    assert duckdb.sql(
        f"select count(*), count(end_tok) from {lm}"
    ).fetchone() == (n_good, n_good)
    assert duckdb.sql(
        "select end_tok - start_tok from " + lm
        + " where conv_id = 'conv00000000' and turn_idx = 3"
    ).fetchone() == (0,)
    gaps = duckdb.sql(
        "select count(*) from (select start_tok, end_tok, coalesce(lag(end_tok)"
        " over (partition by conv_id order by turn_idx), 0) as prev_end"
        f" from {lm}) where start_tok <> prev_end or end_tok < start_tok"
    ).fetchone()[0]
    assert gaps == 0
