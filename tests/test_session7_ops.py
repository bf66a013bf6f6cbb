"""Property tests for the session-7 transcript analytics: dialogue
transition matrix (vs a pure-Python adjacency recount), context-window
accounting (running-sum/overflow invariants vs an exact Python model),
and conversation-level minhash dedup (distributivity of the min-md5
signature, clone recovery, and identical-conversation full-band
agreement); plus the job.py --windows fold (conv_windows) against a
pure-Python greedy replay."""
import hashlib
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from xtract import structure


def test_role_transitions_vs_python(derived_transcripts):
    turns = derived_transcripts
    rows = sorted(
        turns.select("conv_id", "turn_idx", "role").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    want_n = Counter()
    want_convs = defaultdict(set)
    prev = {}
    for r in rows:
        if r.conv_id in prev:
            k = (prev[r.conv_id], r.role)
            want_n[k] += 1
            want_convs[k].add(r.conv_id)
        prev[r.conv_id] = r.role
    got = {
        (r.prev_role, r.role): (r.n_transitions, r.n_convs)
        for r in structure.role_transitions(turns).collect()
    }
    assert got == {k: (n, len(want_convs[k])) for k, n in want_n.items()}
    # every turn except each conversation's head is counted exactly once
    n_convs = turns.select("conv_id").distinct().count()
    assert sum(n for n, _ in got.values()) == len(rows) - n_convs


def test_context_budget_vs_python(derived_transcripts):
    import re

    turns = derived_transcripts
    budget = structure.CONTEXT_BUDGET
    rows = sorted(
        turns.select("conv_id", "turn_idx", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    cum = Counter()
    want = {}
    for r in rows:
        t = len(re.findall(r"[a-z0-9]+", r.text))
        cum[r.conv_id] += t
        n, tot, ovf, within = want.get(r.conv_id, (0, 0, None, 0))
        want[r.conv_id] = (
            n + 1,
            tot + t,
            ovf if ovf is not None else (r.turn_idx if cum[r.conv_id] > budget else None),
            within + (1 if cum[r.conv_id] <= budget else 0),
        )
    got = {
        r.conv_id: (r.n_turns, r.total_toks, r.overflow_turn, r.turns_within)
        for r in structure.context_budget(turns).collect()
    }
    assert got == want
    for n, tot, ovf, within in got.values():
        assert within <= n
        assert (ovf is None) == (tot <= budget)


def test_conv_signature_is_distributive(derived_transcripts):
    """Computing signatures over two arbitrary halves of a
    conversation and taking the component-wise min must equal the
    one-pass signature — the property that lets the agg combine
    map-side at 10^12 turns."""
    turns = derived_transcripts.select("conv_id", "turn_idx", "text")
    whole = {
        r.conv_id: [r[f"s{p}"] for p in range(structure.CONV_PERMS)]
        for r in structure.conv_signatures(turns).collect()
    }
    lo = structure.conv_signatures(turns.filter(F.col("turn_idx") % 2 == 0))
    hi = structure.conv_signatures(turns.filter(F.col("turn_idx") % 2 == 1))
    parts = defaultdict(list)
    for r in list(lo.collect()) + list(hi.collect()):
        parts[r.conv_id].append([r[f"s{p}"] for p in range(structure.CONV_PERMS)])
    merged = {
        c: [min(s[p] for s in sigs) for p in range(structure.CONV_PERMS)]
        for c, sigs in parts.items()
    }
    assert merged == whole


def test_conv_signature_matches_python_md5(derived_transcripts):
    turns = derived_transcripts.select("conv_id", "text")
    texts = defaultdict(list)
    for r in turns.collect():
        texts[r.conv_id].append(r.text)
    want = {
        c: [
            min(
                hashlib.md5(f"{p}|{t}".encode()).hexdigest() for t in ts
            )
            for p in range(structure.CONV_PERMS)
        ]
        for c, ts in texts.items()
    }
    got = {
        r.conv_id: [r[f"s{p}"] for p in range(structure.CONV_PERMS)]
        for r in structure.conv_signatures(turns).collect()
    }
    assert got == want


def test_conv_dedup_recovers_exact_clones_on_all_bands(derived_transcripts):
    """An unperturbed clone must agree on all 4 bands; the pair list
    must contain exactly the planted pairs (no cross-conversation
    accidents on this corpus)."""
    turns = derived_transcripts.select("conv_id", "text")
    clones = turns.select(
        F.concat("conv_id", F.lit("~exact")).alias("conv_id"), "text"
    )
    pairs = structure.conv_dedup_pairs(
        structure.conv_signatures(turns.unionByName(clones))
    ).collect()
    n_convs = turns.select("conv_id").distinct().count()
    assert len(pairs) == n_convs
    for r in pairs:
        assert r.conv_b == r.conv_a + "~exact"
        assert r.n_bands == structure.CONV_BANDS


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
