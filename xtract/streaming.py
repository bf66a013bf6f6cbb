"""Structured Streaming surface (SURVEY.md §2.10 / north-star
"Structured Streaming for streams").

The fused extraction kernel is stateless per turn, so it lifts to
streaming unchanged: ``readStream`` → the same ``mapInPandas`` →
``writeStream``. Three entry points:

- ``stream_extract``   — continuous per-turn span extraction
- ``windowed_counts``  — event-time tumbling window + watermark agg
- ``running_totals``   — custom stateful operator
  (applyInPandasWithState): cumulative per-conversation span counts
  across micro-batches

Tests drive these with a file source and ``availableNow`` trigger and
compare against the batch pipeline.
"""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import pipeline, schema, structure


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(schema.TRANSCRIPTS).parquet(path)


def stream_extract(transcripts: DataFrame) -> DataFrame:
    """Streaming DF of extracted spans — the batch kernel verbatim
    (mapInPandas is streaming-capable because it is stateless)."""
    return pipeline.extract(transcripts, mode="fused")


def windowed_counts(
    transcripts: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling counts per role with late-data watermark
    (the streaming analogue of structure.turn_counters)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(F.count("*").alias("turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role",
            "turns",
        )
    )


_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("through_turn", T.IntegerType(), False),
        T.StructField("cum_spans", T.LongType(), False),
        T.StructField("cum_questions", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("spans", T.LongType(), False),
        T.StructField("questions", T.LongType(), False),
    ]
)


def _totals_fn(key, pdf_iter, state: GroupState):
    (conv_id,) = key
    spans, questions = state.get if state.exists else (0, 0)
    max_turn = -1
    from . import oracle

    for pdf in pdf_iter:
        for turn_idx, text in zip(pdf["turn_idx"], pdf["text"]):
            rows = oracle.extract_turn(text)
            spans += len(rows)
            questions += sum(1 for r in rows if r["question_number"] is not None)
            max_turn = max(max_turn, int(turn_idx))
    state.update((spans, questions))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "through_turn": [max_turn],
            "cum_spans": [spans],
            "cum_questions": [questions],
        }
    )


def running_totals(transcripts: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-conversation running
    span/question totals, carried in GroupState across micro-batches
    (applyInPandasWithState; the streaming generalization of
    pipeline.conversation_stats)."""
    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------- assembly
# Streaming lift of assemble.merge_continuations_sparse: the sparse
# form's segment key (head-span identity) is exactly the natural
# GroupState key shape — per conversation, the only thing a batch
# boundary can cut is the OPEN tail segment (the one ending at the
# physically-last span of the latest turn), so that tail is the whole
# state. Closed segments emit with final=true as soon as the stream
# proves them closed; the current tail re-emits each batch with
# final=false (consumers keep, per conv, the latest tail — head
# identity advances monotonically — unless a final row supersedes it).

ASSEMBLED_STREAM = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("head_turn", T.IntegerType(), False),
        T.StructField("head_seq", T.IntegerType(), False),
        T.StructField("turn_first", T.IntegerType(), False),
        T.StructField("turn_last", T.IntegerType(), False),
        T.StructField("question_number", T.IntegerType(), True),
        T.StructField("qtype", T.StringType(), False),
        T.StructField("score", T.IntegerType(), False),
        T.StructField("span_text", T.StringType(), True),
        T.StructField("n_parts", T.IntegerType(), False),
        T.StructField("final", T.BooleanType(), False),
    ]
)

# Bump whenever _ASM_STATE gains/loses/retypes a field. Live
# checkpoints written under a different version CANNOT be resumed —
# Spark's state store rejects the changed schema on restart; the
# remedy is a FRESH checkpoint dir (open tails re-derive by replaying
# the source). History: v1 = r2 schema; v2 = r3 added last_phys +
# last_seq (arrival-order guard).
ASM_STATE_FORMAT_VERSION = 2

_ASM_STATE = T.StructType(
    [
        T.StructField("head_turn", T.IntegerType(), False),
        T.StructField("head_seq", T.IntegerType(), False),
        T.StructField("question_number", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_parts", T.IntegerType(), False),
        T.StructField("turn_last", T.IntegerType(), False),
        T.StructField("last_text", T.StringType(), True),
        # last CONSUMED span position (turn_last, last_phys, last_seq):
        # the arrival-order contract is enforced against it, not just
        # documented — see the guard in _asm_fn.
        # STATE-SCHEMA COMPATIBILITY: adding fields here is a BREAKING
        # change for live checkpoints — Spark's state store rejects a
        # widened schema on restart, and the only recovery is a fresh
        # checkpoint dir (open tails are then re-derived by replaying
        # the source from the new checkpoint's start). Version such
        # changes with a deployment note; never hot-swap them.
        T.StructField("last_phys", T.IntegerType(), False),
        T.StructField("last_seq", T.IntegerType(), False),
    ]
)


_TAIL_FIELDS = (
    "head_turn", "head_seq", "question_number", "text", "n_parts",
    "turn_last", "last_text", "last_phys", "last_seq",
)


def _tail_pack(tail: dict) -> tuple:
    return tuple(tail[f] for f in _TAIL_FIELDS)


def _tail_unpack(values) -> dict:
    return dict(zip(_TAIL_FIELDS, values))


def _collect_rows(pdf_iter) -> list[tuple]:
    rows = []
    for pdf in pdf_iter:
        for r in pdf.itertuples():
            phys = r.phys if not pd.isna(r.phys) else r.seq
            qn = None if pd.isna(r.question_number) else int(r.question_number)
            text = (
                None
                if isinstance(r.span_text, float) and pd.isna(r.span_text)
                else r.span_text
            )
            rows.append((int(r.turn_idx), int(phys), int(r.seq), qn, text))
    return rows


def _advance(tail: dict | None, rows: list[tuple]) -> tuple[list[dict], dict | None]:
    """The continuation walk: fold sorted span rows into (closed
    segments, new open tail) — shared by the ordered and reorder-buffer
    operators and identical to the batch algorithms' per-segment rule."""
    from . import assemble

    closed: list[dict] = []
    for turn, phys, seq, qn, text in rows:
        cont = (
            tail is not None
            and qn is None
            and turn == tail["turn_last"] + 1
            and assemble._is_open(tail["last_text"])
        )
        if cont:
            tail["text"] = (tail["text"] or "") + "\n" + (text or "")
            tail["n_parts"] += 1
            tail["turn_last"] = turn
            tail["last_text"] = text
            tail["last_phys"] = phys
            tail["last_seq"] = seq
        else:
            if tail is not None:
                closed.append(tail)
            tail = {
                "head_turn": turn,
                "head_seq": seq,
                "question_number": qn,
                "text": text,
                "n_parts": 1,
                "turn_last": turn,
                "last_text": text,
                "last_phys": phys,
                "last_seq": seq,
            }
    return closed, tail


def _seg_row(conv_id, seg: dict, final: bool, epoch: int | None = None) -> dict:
    from . import oracle

    safe = seg["text"] or ""
    row = {
        "conv_id": conv_id,
        "head_turn": seg["head_turn"],
        "head_seq": seg["head_seq"],
        "turn_first": seg["head_turn"],
        "turn_last": seg["turn_last"],
        "question_number": seg["question_number"],
        "qtype": oracle.classify_qtype(safe),
        "score": oracle.extract_score(safe),
        "span_text": seg["text"],
        "n_parts": seg["n_parts"],
        "final": final,
    }
    if epoch is not None:
        row["epoch"] = epoch
    return row


def _asm_fn(key, pdf_iter, state: GroupState):
    (conv_id,) = key
    tail = _tail_unpack(state.get) if state.exists else None

    rows = _collect_rows(pdf_iter)
    rows.sort(key=lambda x: (x[0], x[1], x[2]))

    # Arrival-contract guard: a span at or before the last consumed
    # position cannot retract already-emitted segments — surface the
    # violation instead of silently corrupting output. (Intra-batch
    # disorder is legal: the sort above canonicalizes it.)
    if tail is not None and rows:
        last_pos = (tail["turn_last"], tail["last_phys"], tail["last_seq"])
        first = rows[0][:3]
        if first <= last_pos:
            raise ValueError(
                f"assemble_stream order violation in conv {conv_id!r}: "
                f"span {first} arrived after {last_pos} was consumed — "
                "producer must deliver per-conversation spans in "
                "(turn, phys, seq) order across micro-batches "
                "(bounded disorder → assemble_stream_unordered)"
            )

    closed, tail = _advance(tail, rows)
    if tail is not None:
        state.update(_tail_pack(tail))

    out = [_seg_row(conv_id, s, True) for s in closed]
    if tail is not None:
        out.append(_seg_row(conv_id, tail, False))
    if out:
        yield pd.DataFrame(out, columns=[f.name for f in ASSEMBLED_STREAM.fields])


def assemble_stream(spans: DataFrame) -> DataFrame:
    """Streaming cross-turn continuation assembly over a streaming
    spans DF (schema.SPANS shape; bbox optional). Segments emit
    final=true the moment a later span proves them closed; the open
    tail re-emits per batch with final=false. Reconstruction rule for
    consumers: keep final rows; add each conversation's latest
    non-final tail unless a final row shares its (head_turn,
    head_seq).

    Arrival contract: batch-boundary placement is free (a chain cut by
    a micro-batch is resumed from state — pinned by the parity test),
    but WITHIN a conversation spans must arrive in physical page order
    across batches — turn-atomic delivery, or at minimum intra-turn
    (phys, seq) order when one turn straddles batches (a later-arriving
    span that physically precedes an already-seen span of its turn
    cannot retract emitted segments). The natural page-crawl order
    satisfies this; an out-of-order producer needs a watermark + sort
    stage upstream."""
    has_bbox = "bbox" in spans.columns
    phys = (
        F.when(F.size(F.col("bbox")) == 4, F.col("bbox")[1]).otherwise(F.col("seq"))
        if has_bbox
        else F.col("seq")
    )
    keyed = spans.select(
        "conv_id",
        "turn_idx",
        "seq",
        "question_number",
        "span_text",
        phys.cast("int").alias("phys"),
    )
    return keyed.groupBy("conv_id").applyInPandasWithState(
        _asm_fn,
        outputStructType=ASSEMBLED_STREAM,
        stateStructType=_ASM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_transcripts(transcripts: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming EXACT dedup on the turn natural key — the guard
    against retried crawl deliveries of the same turn. Uses
    dropDuplicatesWithinWatermark, so key state is EVICTED once the
    event-time watermark passes (plain dropDuplicates on a stream
    accumulates key state forever — the unbounded-state footgun this
    wrapper exists to avoid). Composes in front of stream_extract
    unchanged."""
    return transcripts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


# ------------------------------------------------- unordered assembly
# Reorder-buffer variant of assemble_stream for producers with BOUNDED
# disorder (a span may arrive up to `lateness_turns` turns late —
# the crawl-retry / multi-fetcher shape). State additionally holds the
# not-yet-consumable spans and the per-conversation turn high-water
# mark; spans are folded into segments only once the frontier
# (max_seen - lateness) passes them, so any legal late arrival still
# lands in order. Provisional segments beyond the frontier re-emit
# each batch under an increasing epoch; consumers keep final rows plus
# the max-epoch non-final rows per conversation.

ASSEMBLED_STREAM_EPOCH = T.StructType(
    ASSEMBLED_STREAM.fields + [T.StructField("epoch", T.IntegerType(), False)]
)

_ASM_U_STATE = T.StructType(
    [
        T.StructField("tail_json", T.StringType(), True),
        T.StructField("pending_json", T.StringType(), False),
        T.StructField("max_seen", T.IntegerType(), False),
        T.StructField("consumed_to", T.IntegerType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)


def _make_asm_u_fn(lateness_turns: int):
    import json

    def fn(key, pdf_iter, state: GroupState):
        (conv_id,) = key
        tail, pending, max_seen, consumed_to, epoch = None, [], -(1 << 30), -(1 << 30), 0
        if state.exists:
            tail_json, pending_json, max_seen, consumed_to, epoch = state.get
            tail = _tail_unpack(json.loads(tail_json)) if tail_json else None
            pending = [tuple(p) for p in json.loads(pending_json)]

        rows = _collect_rows(pdf_iter)
        for r in rows:
            if r[0] <= consumed_to:
                raise ValueError(
                    f"assemble_stream_unordered disorder bound exceeded in "
                    f"conv {conv_id!r}: turn {r[0]} arrived after the "
                    f"frontier consumed through turn {consumed_to} "
                    f"(lateness_turns={lateness_turns} too small for this "
                    "producer)"
                )
            max_seen = max(max_seen, r[0])
        pending.extend(rows)
        pending.sort(key=lambda x: (x[0], x[1], x[2]))

        # consume turn t only once max_seen > t + lateness_turns, so a
        # span arriving EXACTLY lateness_turns late is still legal
        # (inclusive bound, as documented)
        frontier = max_seen - lateness_turns
        ready = [p for p in pending if p[0] < frontier]
        hold = [p for p in pending if p[0] >= frontier]

        closed, tail = _advance(tail, ready)
        # provisional pass over a COPY of the committed tail + held
        # spans: what the segments will look like if the stream ended
        # now; never committed, re-derived each batch
        p_closed, p_tail = _advance(dict(tail) if tail else None, hold)

        epoch += 1
        state.update(
            (
                json.dumps(_tail_pack(tail)) if tail else None,
                json.dumps(hold),
                max_seen,
                max(consumed_to, max(atuple[0] for atuple in ready) if ready else consumed_to),
                epoch,
            )
        )

        out = [_seg_row(conv_id, s, True, epoch) for s in closed]
        out.extend(_seg_row(conv_id, s, False, epoch) for s in p_closed)
        if p_tail is not None:
            out.append(_seg_row(conv_id, p_tail, False, epoch))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in ASSEMBLED_STREAM_EPOCH.fields]
            )

    return fn


def assemble_stream_unordered(
    spans: DataFrame, lateness_turns: int = 8
) -> DataFrame:
    """Streaming continuation assembly tolerating bounded arrival
    disorder: spans may arrive up to ``lateness_turns`` turns late in
    any intra-window order. Rows carry an ``epoch``; reconstruction =
    final rows + each conversation's max-epoch non-final rows whose
    (head_turn, head_seq) no final row claims. A span later than the
    bound fails the query loudly (the ordered operator's guard,
    generalized)."""
    has_bbox = "bbox" in spans.columns
    phys = (
        F.when(F.size(F.col("bbox")) == 4, F.col("bbox")[1]).otherwise(F.col("seq"))
        if has_bbox
        else F.col("seq")
    )
    keyed = spans.select(
        "conv_id",
        "turn_idx",
        "seq",
        "question_number",
        "span_text",
        phys.cast("int").alias("phys"),
    )
    return keyed.groupBy("conv_id").applyInPandasWithState(
        _make_asm_u_fn(lateness_turns),
        outputStructType=ASSEMBLED_STREAM_EPOCH,
        stateStructType=_ASM_U_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reconstruct_unordered(emitted: DataFrame) -> DataFrame:
    """Batch reconstruction of assemble_stream_unordered output (the
    consumer rule, as a DataFrame op): final rows ∪ max-epoch
    non-final rows not superseded by a final with the same head."""
    from pyspark.sql import Window

    finals = emitted.where("final")
    max_ep = (
        emitted.where(~F.col("final"))
        .withColumn(
            "_me", F.max("epoch").over(Window.partitionBy("conv_id"))
        )
        .where(F.col("epoch") == F.col("_me"))
        .drop("_me")
    )
    open_rows = max_ep.join(
        finals.select("conv_id", "head_turn", "head_seq"),
        ["conv_id", "head_turn", "head_seq"],
        "left_anti",
    )
    return finals.unionByName(open_rows)


def read_pdf_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming PDF ingestion: watch a directory for new .pdf files
    and emit spans continuously — the fused parse+extract kernel is
    stateless, so it lifts to streaming unchanged (the arriving-crawl
    shape: extraction keeps up with the crawler instead of batching
    behind it)."""
    from . import pdf

    binary_file = T.StructType(
        [
            T.StructField("path", T.StringType(), True),
            T.StructField("modificationTime", T.TimestampType(), True),
            T.StructField("length", T.LongType(), True),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(binary_file)
        .option("pathGlobFilter", "*.pdf")
        .load(path)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("content").alias("payload"),
        )
    )
    return pdf.extract_pdf_turns(raw)


def run_to_parquet(
    stream_df: DataFrame, output_path: str, checkpoint: str
) -> None:
    """availableNow batch-drain of a streaming DF into parquet (tests
    and backfills); production would use a continuous trigger."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def join_views_purchases(
    events: DataFrame, horizon: str = "6 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched with the
    same user's views in the preceding ``horizon`` — the streaming
    twin of the batch as-of/time-band family (J1 spatial band join,
    asof_view_before_purchase). Both sides carry a watermark of
    ``horizon``, which is exactly the state bound Spark needs: a
    buffered view can be evicted once the purchase-side watermark
    passes v_ts + horizon, so state is O(events within the horizon),
    never O(stream). The join condition is an equi-key (user) plus a
    time band, which Spark executes as a StreamingSymmetricHashJoin
    keyed on user_id — at cluster scale the state store shards by the
    equi-key, the same partitioning story as the batch join."""
    # watermarks require TIMESTAMP (LTZ); under the engine's pinned
    # UTC session TZ the NTZ->LTZ cast is wall-clock-identity, matching
    # the oracle's epoch(naive) arithmetic
    ts_ltz = F.col("ts").cast("timestamp")
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            ts_ltz.alias("v_ts"),
        )
        .withWatermark("v_ts", horizon)
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            ts_ltz.alias("p_ts"),
        )
        .withWatermark("p_ts", horizon)
    )
    return p.join(
        v,
        F.expr(
            f"p_user = user_id and v_ts <= p_ts "
            f"and v_ts >= p_ts - interval {horizon}"
        ),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "view_id",
        # integer-microsecond difference floor-divided to seconds:
        # flooring each side separately would drift ±1 s on
        # sub-second timestamps vs the oracle's difference-of-epochs
        F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000")
        .cast("long")
        .alias("gap_s"),
    )


def session_counts(
    events: DataFrame,
    gap: str = "8 hours",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming gap-timeout sessionization with the native
    session_window aggregate — the streaming twin of a batch
    session_window groupBy (same expression; under readStream
    the engine merges/extends open sessions in the state store and
    flushes a session only when the watermark passes its end, i.e.
    last event + gap). State is bounded: one open session per key at
    most ``gap`` behind the watermark."""
    e = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", watermark)
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("s_start_us"),
            F.unix_micros("sw.end").alias("s_end_us"),
            "n_events",
        )
    )


# ------------------------------------------------- streaming windows
# Streaming twin of structure.conv_windows: greedy capacitated
# training-window segmentation computed INCREMENTALLY as turns stream
# in. State per conversation is one open window (5 ints); a window
# emits final=true the moment the turn that overflows it arrives, and
# the open window re-emits each batch with final=false. Consumers keep
# final rows plus each conversation's latest non-final row — the same
# reconstruction contract assemble_stream established. Arrival
# contract: turn order within a conversation (the assemble_stream
# contract); batch boundaries are free.

WINDOWS_STREAM = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("start_turn", T.LongType(), False),
        T.StructField("end_turn", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("window_toks", T.LongType(), False),
        T.StructField("oversize", T.BooleanType(), False),
        T.StructField("final", T.BooleanType(), False),
    ]
)

_WIN_STATE = T.StructType(
    [
        T.StructField("win_id", T.LongType(), False),
        T.StructField("cur", T.LongType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("last", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)

_WIN_COLS = [f.name for f in WINDOWS_STREAM.fields]


def _win_fn(key, pdfs, state: GroupState):
    budget = structure.CONTEXT_BUDGET
    conv_id = key[0]
    if state.exists:
        win, cur, start, last, n = state.get
    else:
        win, cur, start, last, n = 1, 0, -1, -1, 0
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        for t_idx, toks in zip(pdf["turn_idx"], pdf["toks"]):
            t_idx, toks = int(t_idx), int(toks)
            if n > 0 and cur + toks > budget:
                out.append(
                    (conv_id, win, start, last, n, cur, cur > budget, True)
                )
                win, cur, n = win + 1, 0, 0
            if n == 0:
                start = t_idx
            cur += toks
            n += 1
            last = t_idx
    state.update((win, cur, start, last, n))
    if n > 0:
        out.append((conv_id, win, start, last, n, cur, cur > budget, False))
    yield pd.DataFrame(out, columns=_WIN_COLS)


def windows_stream(transcripts: DataFrame) -> DataFrame:
    """Greedy SFT-window segmentation over a streaming transcripts DF.
    Tokenization (structure.token_count, the engine-wide token rule)
    runs JVM-side on the stream; the stateful kernel folds integers only.
    At cluster scale the state store shards by conv_id — the same
    partitioning every other stage uses — and per-conversation state
    is a constant 5 longs regardless of conversation length, strictly
    smaller than the assembly tail."""
    keyed = transcripts.select(
        "conv_id",
        "turn_idx",
        structure.token_count(F.col("text")).cast("long").alias("toks"),
    )
    return keyed.groupBy("conv_id").applyInPandasWithState(
        _win_fn,
        outputStructType=WINDOWS_STREAM,
        stateStructType=_WIN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def upsert_windowed_counts(
    transcripts: DataFrame,
    path: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "3650 days",
) -> None:
    """Continuously-materialized windowed aggregate via foreachBatch
    UPSERT: event-time tumbling (window, role) counts in UPDATE mode,
    each micro-batch dynamically overwriting ONLY the parquet
    partitions of the groups it changed — the keep-a-table-current
    sink pattern for engines without MERGE (with Iceberg/Delta in the
    runtime this foreachBatch body becomes a single MERGE INTO).
    The partition key is the FULL group key (win_part, role):
    update-mode batches emit only changed groups, so overwriting a
    coarser partition (e.g. the window alone) would drop that
    window's unchanged sibling groups — partition granularity must
    equal upsert granularity. win_part is therefore the epoch
    seconds of the window START (not a formatted date prefix): it is
    exact at ANY ``window`` granularity, so a '15 minutes' window
    can never share a partition with — and silently overwrite — a
    sibling window from the same hour. Replaying a batch rewrites the same
    partitions with the same rows, so the sink is idempotent under
    retries; availableNow + checkpoint resume the stream across
    drains and the table always equals the batch aggregate of
    everything delivered so far (late data beyond the watermark is
    dropped by the agg, the documented trade)."""
    agg = (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.unix_timestamp(F.col("win.start")).alias("win_part"),
            "role",
            "n_turns",
        )
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("win_part", "role")
            .parquet(path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
