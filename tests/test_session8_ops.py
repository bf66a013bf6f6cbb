"""Property tests for the session-8 operators: SFT loss-mask spans
(offset reconstruction vs an exact Python replay of the running sum)
and turn-template detection (vs a pure-Python normalize+count model).
window_assignments (the per-turn form of the --windows fold) is the
second reference for conv_windows."""
import re
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from xtract import structure


def _toks(text):
    return len(re.findall(r"[a-z0-9]+", text))


def test_loss_mask_vs_python(derived_transcripts):
    turns = derived_transcripts
    rows = sorted(
        turns.select("conv_id", "turn_idx", "role", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    want = {}
    cum = defaultdict(int)
    for r in rows:
        n = _toks(r.text)
        start = cum[r.conv_id]
        want[(r.conv_id, r.turn_idx)] = (
            r.role,
            start,
            start + n,
            r.role != "assistant",
        )
        cum[r.conv_id] = start + n
    got = {
        (r.conv_id, r.turn_idx): (r.role, r.start_tok, r.end_tok, r.masked)
        for r in structure.loss_mask(turns).collect()
    }
    assert got == want


def test_loss_mask_spans_tile(derived_transcripts):
    """Per conversation the spans are contiguous, start at 0, and the
    last end_tok equals the conversation's total token count — the
    invariant a collator needs to index a flattened token buffer."""
    turns = derived_transcripts
    by_conv = defaultdict(list)
    for r in structure.loss_mask(turns).collect():
        by_conv[r.conv_id].append(r)
    totals = {
        r.conv_id: r.total
        for r in turns.groupBy("conv_id")
        .agg(
            F.sum(
                F.size(
                    F.regexp_extract_all(
                        F.col("text"), F.lit("[a-z0-9]+"), 0
                    )
                )
            ).alias("total")
        )
        .collect()
    }
    assert by_conv
    for conv, rows in by_conv.items():
        rows.sort(key=lambda r: r.turn_idx)
        assert rows[0].start_tok == 0
        for a, b in zip(rows, rows[1:]):
            assert a.end_tok == b.start_tok
        assert rows[-1].end_tok == totals[conv]
        # loss is computed somewhere: at least one unmasked turn per
        # corpus (roles cycle, so assistant turns exist)
    assert any(not r.masked for rows in by_conv.values() for r in rows)


def _norm(text):
    # explicit class: Python \s is Unicode-aware (NBSP, U+000B, ...)
    # while the engine contract pins exactly [ \t\n\f\r]
    s = re.sub(r"[0-9]+", "#", text.lower())
    s = re.sub(r"[ \t\n\f\r]+", " ", s).strip(" ")
    return s[:80]


def test_turn_templates_vs_python(derived_transcripts):
    turns = derived_transcripts
    rows = turns.select("conv_id", "role", "text").collect()
    n_turns = Counter()
    convs = defaultdict(set)
    for r in rows:
        k = (r.role, _norm(r.text))
        n_turns[k] += 1
        convs[k].add(r.conv_id)
    want = {
        k: (n, len(convs[k])) for k, n in n_turns.items() if n >= 2
    }
    got = {}
    import hashlib

    for r in structure.turn_templates(turns).collect():
        got[(r.role, r.tkey)] = (r.n_turns, r.n_convs)
    assert len(got) == len(want)
    for (role, norm), v in want.items():
        key = hashlib.md5(norm.encode()).hexdigest()
        assert got[(role, key)] == v


def test_window_assignments_match_conv_windows(derived_transcripts):
    """The per-turn assignment fold and the per-window fold are the
    same greedy recursion: aggregating assignments by (conv, window)
    must reproduce conv_windows' (n_turns, window_toks) exactly —
    including window ids around oversize turns."""
    turns = derived_transcripts
    agg = defaultdict(lambda: [0, 0])
    for r in structure.window_assignments(turns).collect():
        a = agg[(r.conv_id, r.window_id)]
        a[0] += 1
        a[1] += r.toks
    want = {
        (r.conv_id, r.window_id): [r.n_turns, r.window_toks]
        for r in structure.conv_windows(turns).collect()
    }
    assert dict(agg) == want


def test_window_supervision_vs_python(derived_transcripts):
    """Pure-Python replay of the greedy fold + loss accounting."""
    turns = derived_transcripts
    rows = sorted(
        turns.select("conv_id", "turn_idx", "role", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    want = {}
    conv, win, cur = None, 1, 0
    for r in rows:
        toks = _toks(r.text)
        if r.conv_id != conv:
            conv, win, cur = r.conv_id, 1, 0
        elif cur + toks > structure.CONTEXT_BUDGET:
            win, cur = win + 1, 0
        cur += toks
        k = (conv, win)
        n, tot, loss = want.get(k, (0, 0, 0))
        want[k] = (
            n + 1,
            tot + toks,
            loss + (toks if r.role == "assistant" else 0),
        )
    got = {
        (r.conv_id, r.window_id): (
            r.n_turns,
            r.window_toks,
            r.loss_toks,
            r.loss_ppm,
        )
        for r in structure.window_supervision(turns).collect()
    }
    assert set(got) == set(want)
    for k, (n, tot, loss) in want.items():
        ppm = loss * 1_000_000 // tot if tot > 0 else None
        assert got[k] == (n, tot, loss, ppm), k
    # the metric finds what it exists to find: not every window is
    # fully supervised
    assert any(v[3] is not None and v[3] < 1_000_000 for v in got.values())


def test_window_folds_agree_on_zero_token_turns(spark):
    """Regression (review finding): a zero-token turn (all-CJK /
    punctuation text, no [a-z0-9]+ match) right after an oversized
    turn must open a new window in BOTH folds — an 'and cur > 0'
    guard in the assignment fold silently packed the next oversized
    turn into an unflagged over-budget window."""
    import pandas as pd

    big = "word " * (structure.CONTEXT_BUDGET + 1)
    rows = [
        ("c", 0, "user", big),
        ("c", 1, "assistant", "！！！？？？"),  # zero [a-z0-9]+ tokens
        ("c", 2, "user", big),
    ]
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    )
    assigns = {
        r.turn_idx: r.window_id
        for r in structure.window_assignments(turns).collect()
    }
    windows = {
        r.window_id: (r.n_turns, r.window_toks, r.oversize)
        for r in structure.conv_windows(turns).collect()
    }
    assert assigns == {0: 1, 1: 2, 2: 3}
    assert windows == {
        1: (1, structure.CONTEXT_BUDGET + 1, True),
        2: (1, 0, False),
        3: (1, structure.CONTEXT_BUDGET + 1, True),
    }


from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=5, deadline=None)
@given(
    hst.lists(
        hst.lists(
            # per-turn token counts: zeros (no [a-z0-9]+ match),
            # normal turns, near-budget and over-budget turns — the
            # full greedy-fold edge surface incl. today's zero-token
            # regression shape
            hst.sampled_from(
                [0, 1, 7, structure.CONTEXT_BUDGET,
                 structure.CONTEXT_BUDGET + 1, 2 * structure.CONTEXT_BUDGET]
            ),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_window_folds_agree_generatively(spark, convs):
    """Generative net over the greedy-fold family: for RANDOM token
    sequences (zeros, oversize, budget-exact), the per-window fold
    (conv_windows), the per-turn fold (window_assignments) and a
    pure-Python replay of the recursion must agree window-for-window."""
    import pandas as pd

    rows = []
    for ci, toks_list in enumerate(convs):
        for ti, toks in enumerate(toks_list):
            rows.append((f"h{ci}", ti, "user", "tok " * toks))
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    )
    # python replay (the recursion both engines implement)
    want = {}
    for ci, toks_list in enumerate(convs):
        win, cur = 1, 0
        for ti, toks in enumerate(toks_list):
            if cur + toks > structure.CONTEXT_BUDGET and ti > 0:
                win, cur = win + 1, 0
            cur += toks
            n, tot = want.get((f"h{ci}", win), (0, 0))
            want[(f"h{ci}", win)] = (n + 1, tot + toks)
    got_w = {
        (r.conv_id, r.window_id): (r.n_turns, r.window_toks)
        for r in structure.conv_windows(turns).collect()
    }
    agg = {}
    for r in structure.window_assignments(turns).collect():
        n, tot = agg.get((r.conv_id, r.window_id), (0, 0))
        agg[(r.conv_id, r.window_id)] = (n + 1, tot + r.toks)
    assert got_w == want
    assert agg == want


def test_null_role_masks_deterministically(spark):
    """Regression (r4 ADVICE, structure.py null-role hole): a NULL
    role — legal on real deliveries like the jsonl: arm, where role is
    nullable — must be MASKED (zero loss), not a null boolean that the
    pandas fold reads as False (loss-carrying). loss_mask,
    window_assignments and window_supervision must all agree with the
    oracle convention (loss only when role = 'assistant')."""
    import datetime as dt

    rows = [
        ("c0", 0, "user", "alpha beta", None, dt.datetime(2026, 1, 1)),
        ("c0", 1, None, "gamma delta epsilon", None, dt.datetime(2026, 1, 1)),
        ("c0", 2, "assistant", "zeta eta", None, dt.datetime(2026, 1, 1)),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    lm = {r.turn_idx: r.masked for r in structure.loss_mask(turns).collect()}
    assert lm == {0: True, 1: True, 2: False}
    wa = {
        r.turn_idx: r.masked
        for r in structure.window_assignments(turns).collect()
    }
    assert wa == {0: True, 1: True, 2: False}
    sup = structure.window_supervision(turns).collect()
    assert len(sup) == 1
    # only the 2 assistant tokens carry loss; the null-role turn's 3
    # tokens are context
    assert sup[0].loss_toks == 2
    assert sup[0].window_toks == 7
