"""Property tests for the job.py --loss-mask sink (SFT loss-mask
spans: offset reconstruction vs an exact Python replay of the running
sum) and the --windows fold (conv_windows vs a pure-Python replay of
the greedy recursion)."""
import re
from collections import defaultdict

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


def test_window_folds_agree_on_zero_token_turns(spark):
    """Regression: a zero-token turn (all-CJK / punctuation text, no
    [a-z0-9]+ match) right after an oversized turn opens a new window
    — an 'and cur > 0' guard would silently pack the next oversized
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
    windows = {
        r.window_id: (r.n_turns, r.window_toks, r.oversize)
        for r in structure.conv_windows(turns).collect()
    }
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
    sequences (zeros, oversize, budget-exact), conv_windows and a
    pure-Python replay of the recursion must agree window-for-window."""
    import pandas as pd

    rows = []
    for ci, toks_list in enumerate(convs):
        for ti, toks in enumerate(toks_list):
            rows.append((f"h{ci}", ti, "user", "tok " * toks))
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    )
    # python replay of the recursion
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
    assert got_w == want


def test_null_role_masks_deterministically(spark):
    """Regression (r4 ADVICE, structure.py null-role hole): a NULL
    role — legal on real deliveries like the jsonl: arm, where role is
    nullable — must be MASKED (zero loss), not a null boolean that the
    pandas fold reads as False (loss-carrying). loss_mask must agree
    with the oracle convention (loss only when role = 'assistant')."""
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


def test_null_text_counts_zero_tokens(spark):
    """Regression: a turn whose text is NULL (a jsonl: line without
    the field is a good row) counts 0 tokens. Under ANSI,
    size(regexp_extract_all(NULL, ...)) is NULL: the window fold
    crashed converting it to int, and loss_mask wrote end_tok = NULL,
    so the conversation's spans no longer tiled."""
    rows = [
        ("c", 0, "user", "alpha beta"),
        ("c", 1, "assistant", None),
        ("c", 2, "user", "gamma delta epsilon"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    lm = {
        r.turn_idx: (r.start_tok, r.end_tok, r.masked)
        for r in structure.loss_mask(turns).collect()
    }
    assert lm == {0: (0, 2, True), 1: (2, 2, False), 2: (2, 5, True)}
    windows = [
        (r.window_id, r.start_turn, r.end_turn, r.n_turns, r.window_toks,
         r.oversize)
        for r in structure.conv_windows(turns).collect()
    ]
    assert windows == [(1, 0, 2, 3, 5, False)]
