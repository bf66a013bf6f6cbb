"""Structuring stage (SURVEY.md §2.3 R6-R8, §2.6 A2-A4, §2.7 W4).

Everything here except the greedy window fold (conv_windows) is native
Spark SQL — when/rlike chains, regexp_extract, windows — so it stays
inside whole-stage codegen.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .config import (
    LIMITS,
    QTYPE_ANSWER,
    QTYPE_BLANK,
    QTYPE_CALC,
    QTYPE_CHOICE,
    QTYPE_JUDGE,
    QTYPE_OTHER,
    SCORE_PATTERNS,
)


def qtype_col(content) -> F.Column:
    """Question-type classifier, first-match-wins chain
    (extractor.py:253-280). Order is load-bearing."""
    c = F.coalesce(content, F.lit(""))
    return (
        F.when(c.rlike(r"[A-D][\.、]"), QTYPE_CHOICE)
        .when(c.rlike(r"[（(]\s*[）)]|_{2,}"), QTYPE_BLANK)
        .when(
            c.rlike(r"判断|对错|正确|错误|√|×|[（(]\s*[）)]")
            & (F.length(c) < LIMITS.judge_max_len),
            QTYPE_JUDGE,
        )
        .when(c.rlike(r"计算|求值|求出|算出"), QTYPE_CALC)
        .when(
            c.rlike(r"解答|证明|说明|分析|简述")
            | (F.length(c) > LIMITS.answer_min_len),
            QTYPE_ANSWER,
        )
        .otherwise(QTYPE_OTHER)
    )


def score_col(content) -> F.Column:
    """Score extraction: first pattern (priority order) with any match
    wins, default 0 (extractor.py:282-303)."""
    c = F.coalesce(content, F.lit(""))
    first_hits = [
        F.nullif(F.regexp_extract(c, p, 1), F.lit("")) for p in SCORE_PATTERNS
    ]
    return F.coalesce(*[h.cast("int") for h in first_hits], F.lit(0))


def structure(merged: DataFrame) -> DataFrame:
    """merged span rows (merge.MERGED_SCHEMA) → final output. The greedy
    kernel already assigned each turn's ``seq`` in the sentinel-999
    order (extractor.py:211-214: ``or 999``, so 0 and NULL both sort
    as 999), so the whole structuring stage stays narrow."""
    return merged.select(
        "conv_id",
        "turn_idx",
        "seq",
        "question_number",
        qtype_col(F.col("span_text")).alias("qtype"),
        score_col(F.col("span_text")).alias("score"),
        "span_text",
        "bbox",
        "has_image",
        "image_ids",
        "image_count",
        "split_from_merged",
        "source_block_id",
    )


def exam_info(blocks: DataFrame) -> DataFrame:
    """Per-turn exam metadata (extractor.py:138-193).

    Title: the LAST doc_title block wins (the reference loop
    overwrites). Time/total-score: text blocks scanned in order, each
    match overwrites, loop breaks at the first block where both are
    set — restated as: cutoff k = max(first time-match idx, first
    score-match idx); value = last match at idx ≤ k.
    """
    b = blocks.select(
        "conv_id",
        "turn_idx",
        "block_pos",
        F.col("block.block_label").alias("label"),
        F.coalesce(F.col("block.block_content"), F.lit("")).alias("content"),
    )
    titles = (
        b.filter(F.col("label") == "doc_title")
        .groupBy("conv_id", "turn_idx")
        .agg(F.max_by("content", "block_pos").alias("title"))
    )
    titles = titles.select(
        "conv_id",
        "turn_idx",
        "title",
        F.when(F.col("title").contains("数学"), "数学")
        .when(F.col("title").contains("语文"), "语文")
        .when(F.col("title").contains("英语"), "英语")
        .otherwise("")
        .alias("subject"),
        F.regexp_extract("title", r"[一二三四五六七八九]年级", 0).alias("grade"),
    )

    texts = b.filter(F.col("label") == "text").select(
        "conv_id",
        "turn_idx",
        "block_pos",
        F.nullif(
            F.regexp_extract("content", r"时间[：:]\s*(\d+)\s*分钟", 1), F.lit("")
        ).alias("tm"),
        F.nullif(
            F.regexp_extract("content", r"满分[：:]\s*([\d+]+)\s*分", 1), F.lit("")
        ).alias("sc"),
    )
    agg = texts.groupBy("conv_id", "turn_idx").agg(
        F.min(F.when(F.col("tm").isNotNull(), F.col("block_pos"))).alias("ft"),
        F.min(F.when(F.col("sc").isNotNull(), F.col("block_pos"))).alias("fs"),
        F.collect_list(
            F.when(F.col("tm").isNotNull(), F.struct("block_pos", "tm"))
        ).alias("tms"),
        F.collect_list(
            F.when(F.col("sc").isNotNull(), F.struct("block_pos", "sc"))
        ).alias("scs"),
    )
    # the loop breaks only once BOTH are set (extractor.py:190-191);
    # greatest() skips nulls in Spark, so gate on both-non-null
    cutoff = F.when(
        F.col("ft").isNotNull() & F.col("fs").isNotNull(),
        F.greatest("ft", "fs"),
    ).otherwise(F.lit(2**31 - 1))
    last_at_or_before = lambda arr, field: F.try_element_at(  # noqa: E731
        F.transform(
            F.array_sort(F.filter(arr, lambda s: s["block_pos"] <= cutoff)),
            lambda s: s[field],
        ),
        F.lit(-1),
    )
    tm_sc = agg.select(
        "conv_id",
        "turn_idx",
        F.coalesce(
            F.concat(last_at_or_before(F.col("tms"), "tm"), F.lit("分钟")),
            F.lit(""),
        ).alias("time_limit"),
        F.coalesce(last_at_or_before(F.col("scs"), "sc"), F.lit("")).alias(
            "total_score"
        ),
    )

    keys = b.select("conv_id", "turn_idx").distinct()
    return (
        keys.join(titles, ["conv_id", "turn_idx"], "left")
        .join(tm_sc, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce("title", F.lit("")).alias("title"),
            F.coalesce("subject", F.lit("")).alias("subject"),
            F.coalesce("grade", F.lit("")).alias("grade"),
            F.coalesce("time_limit", F.lit("")).alias("time_limit"),
            F.coalesce("total_score", F.lit("")).alias("total_score"),
        )
    )


# ---------------------------------------------------------------------
# Training-data sinks over (conv_id, turn_idx, role, text): job.py's
# --windows (conv_windows) and --loss-mask (loss_mask). Both key on
# conv_id and count tokens with the one rule in token_count.
# ---------------------------------------------------------------------

CONTEXT_BUDGET = 1024  # tokens per conversation context window


def token_count(text) -> F.Column:
    """The engine-wide token rule: the number of [a-z0-9]+ runs in a
    turn's text. A NULL text (a jsonl: line without the field) counts
    0 tokens: under ANSI, size(regexp_extract_all(NULL, ...)) is NULL,
    which the window fold cannot convert and which breaks the
    loss-mask tiling."""
    return F.size(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit("[a-z0-9]+"), 0)
    )


def conv_windows(turns: DataFrame) -> DataFrame:
    """GREEDY capacitated segmentation: split each conversation into
    training windows of consecutive turns whose token sums stay
    within ``CONTEXT_BUDGET`` — the sliding-context construction an SFT
    pipeline feeds to fixed-context models. The greedy reset (a new
    window starts exactly when adding the next turn would overflow)
    is order-dependent state that no closed-form window function
    expresses, so it runs as a SECONDARY-SORT fold: repartition by
    conv_id, sortWithinPartitions by (conv_id, turn_idx), then one
    mapInPandas pass whose 6-int state survives Arrow-batch
    boundaries within the partition — ONE conv_id shuffle, one
    sequential Python loop per task, no per-group invocation
    overhead (a groupBy().applyInPandas formulation of the same fold
    measured ~10x slower at 5k conversations purely on per-group
    pandas setup). A turn larger than the budget alone occupies its
    own window and is flagged oversize. Tokens are token_count's
    [a-z0-9]+ rule, so a pure-Python replay of the recursion can check
    it exactly."""
    import pandas as pd

    out_schema = (
        "conv_id string, window_id long, start_turn long, end_turn long,"
        " n_turns long, window_toks long, oversize boolean"
    )
    cols = [
        "conv_id", "window_id", "start_turn", "end_turn",
        "n_turns", "window_toks", "oversize",
    ]

    def segment(batches):
        # fold state: survives batch boundaries inside one partition
        conv, win, cur, start, last, n = None, 1, 0, None, 0, 0
        out = []

        def flush():
            if conv is not None and n > 0:
                out.append((conv, win, start, last, n, cur, cur > CONTEXT_BUDGET))

        for pdf in batches:
            for c, t_idx, toks in zip(
                pdf["conv_id"].to_numpy(),
                pdf["turn_idx"].to_numpy(),
                pdf["toks"].to_numpy(),
            ):
                t_idx, toks = int(t_idx), int(toks)
                if c != conv:
                    flush()
                    conv, win, cur, start, n = c, 1, 0, None, 0
                elif cur + toks > CONTEXT_BUDGET:
                    flush()
                    win, cur, start, n = win + 1, 0, None, 0
                if n == 0:
                    start = t_idx
                cur += toks
                n += 1
                last = t_idx
            if out:
                yield pd.DataFrame(out, columns=cols)
                out = []
        flush()
        if out:
            yield pd.DataFrame(out, columns=cols)

    toks = token_count(F.col("text"))
    return (
        turns.select("conv_id", "turn_idx", toks.alias("toks"))
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(segment, schema=out_schema)
    )


def loss_mask(turns: DataFrame) -> DataFrame:
    """SFT loss-mask span table: for every turn, the [start_tok,
    end_tok) token-offset interval it occupies in its conversation's
    packed token stream and whether the trainer masks it (loss is
    computed only on assistant turns; user/tool turns are context).
    This is the per-turn annotation a supervised fine-tuning collator
    consumes after conversations are flattened to one token sequence.
    Offsets come from ONE running-sum window over
    (conv_id ORDER BY turn_idx) with an explicit ROWS frame ending at
    the previous row — a single conv_id shuffle, no join; at 10^12
    turns the output is exactly |turns| fixed-width rows and the
    window state per group is one long. Tokens are token_count's, as
    in conv_windows."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = token_count(F.col("text"))
    f = turns.select("conv_id", "turn_idx", "role", toks.alias("toks"))
    start = F.coalesce(F.sum("toks").over(w), F.lit(0))
    return f.select(
        "conv_id",
        "turn_idx",
        "role",
        start.cast("long").alias("start_tok"),
        (start + F.col("toks")).cast("long").alias("end_tok"),
        # coalesce: a NULL role (possible on real deliveries, e.g. the
        # jsonl: arm) must mask deterministically, not yield a null
        # boolean that downstream pandas folds would read as False
        (F.coalesce(F.col("role"), F.lit("")) != F.lit("assistant")).alias(
            "masked"
        ),
    )
