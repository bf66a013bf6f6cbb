"""The job.py --windows fold (conv_windows) against a pure-Python
greedy replay, plus its tiling and mega-conversation invariants."""
from xtract import structure


def test_conv_windows_vs_python_greedy(derived_transcripts):
    import re

    turns = derived_transcripts
    budget = structure.CONTEXT_BUDGET
    rows = sorted(
        turns.select("conv_id", "turn_idx", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    want = {}
    state = {}
    for r in rows:
        toks = len(re.findall(r"[a-z0-9]+", r.text))
        win, cur, start, n, last = state.get(r.conv_id, (1, 0, None, 0, None))
        if n > 0 and cur + toks > budget:
            want[(r.conv_id, win)] = (start, last, n, cur, cur > budget)
            win, cur, start, n = win + 1, 0, None, 0
        if n == 0:
            start = r.turn_idx
        state[r.conv_id] = (win, cur + toks, start, n + 1, r.turn_idx)
    for c, (win, cur, start, n, last) in state.items():
        want[(c, win)] = (start, last, n, cur, cur > budget)
    got = {
        (r.conv_id, r.window_id): (
            r.start_turn,
            r.end_turn,
            r.n_turns,
            r.window_toks,
            r.oversize,
        )
        for r in structure.conv_windows(derived_transcripts).collect()
    }
    assert got == want


def test_conv_windows_partition_turns_exactly(derived_transcripts):
    turns = derived_transcripts
    wins = structure.conv_windows(turns).collect()
    # every turn lands in exactly one window
    assert sum(r.n_turns for r in wins) == turns.count()
    by_conv = {}
    for r in wins:
        by_conv.setdefault(r.conv_id, []).append(r)
    for c, rs in by_conv.items():
        rs.sort(key=lambda r: r.window_id)
        assert [r.window_id for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert a.end_turn < b.start_turn  # contiguous, ordered
        for r in rs:
            # oversize <=> over budget, and an oversized window is a
            # single turn (greedy never packs past the budget)
            assert r.oversize == (r.window_toks > structure.CONTEXT_BUDGET)
            if r.oversize:
                assert r.n_turns == 1


def test_conv_windows_mega_conversation(spark):
    """A conversation 100x the median must fold correctly through the
    secondary-sort kernel (state is 6 scalars regardless of length)
    and its windows must tile the conversation exactly."""
    import pyspark.sql.functions as F2

    n = 5000
    mega = spark.range(n).select(
        F2.lit("megaconv").alias("conv_id"),
        F2.col("id").cast("int").alias("turn_idx"),
        F2.concat(
            F2.lit("tok "), F2.lit("word abc 123 " * 40), F2.col("id")
        ).alias("text"),
    )
    wins = sorted(
        structure.conv_windows(mega).collect(), key=lambda r: r.window_id
    )
    assert sum(r.n_turns for r in wins) == n
    assert [r.window_id for r in wins] == list(range(1, len(wins) + 1))
    for a, b in zip(wins, wins[1:]):
        assert a.end_turn + 1 == b.start_turn
    assert all(not r.oversize for r in wins)
    assert all(r.window_toks <= structure.CONTEXT_BUDGET for r in wins)
