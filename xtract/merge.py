"""Merge stage: text spans ↔ image blocks (SURVEY.md §2.5 J1-J7).

``merge_greedy`` keeps exact reference parity. The reference walks
text blocks in list order and lets each claim its verified images
exclusively, first-text-wins (question_merger.py:56-104). That
sequential dependency is real, so each side packs per turn via
collect_list (one shuffle on the turn key) and the walk runs once per
packed turn row on ``sources.map_rows`` (many turns per Arrow batch),
numpy-vectorized over the image side.

VL verification (X2/X3) is replaced by the deterministic rule: spatial
confidence ≥ 0.85 (config.py:36; SURVEY.md §2.9).
"""
from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from . import schema
from .config import LIMITS
from .sources import map_rows

# the greedy walk's rows: schema.SPANS less the qtype and score that
# structure.structure adds, every field nullable
MERGED_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in schema.SPANS.fields
     if f.name not in ("qtype", "score")]
)


CAPTION_RE = r"第([0-9]+)题图"  # ASCII digits only — parity with oracle._RX_CAPTION
# The reference matches captions with Python \d (unicode-aware:
# question_merger captions like 第１题图 with full-width digits DO
# bind there). Java regex \d is ASCII, so instead of widening the
# class we normalize full-width digits to ASCII before matching — the
# same translate() is restatable in Spark, DuckDB and Python, keeping
# all engines parity-exact AND reference-faithful.
FW_DIGITS = "０１２３４５６７８９"
ASCII_DIGITS = "0123456789"


def _caption_src(col):
    """Caption text with full-width digits normalized (see FW_DIGITS)."""
    return F.translate(F.coalesce(col, F.lit("")), FW_DIGITS, ASCII_DIGITS)


def image_blocks(blocks: DataFrame) -> DataFrame:
    """Image-side input: one row per image block, bbox unpacked and the
    array ordinal kept (candidate iteration order, the distance-sort
    tie-break — question_merger.py:164,215). ``cap_qn`` is the R10
    caption-named question number (第N题图 in the image's own content,
    docs/试卷切题问题分析与优化方案.md:118-133) — parsed natively so the
    whole image side stays inside codegen; null when uncaptioned."""
    img = blocks.filter(
        (F.col("block.block_label") == "image")
        & (F.size("block.block_bbox") == 4)
    )
    return img.select(
        "conv_id",
        "turn_idx",
        F.col("block_pos").alias("img_pos"),
        F.col("block.block_id").alias("img_id"),
        F.col("block.block_bbox")[0].alias("ix1"),
        F.col("block.block_bbox")[1].alias("iy1"),
        F.col("block.block_bbox")[2].alias("ix2"),
        F.col("block.block_bbox")[3].alias("iy2"),
        F.nullif(
            F.regexp_extract(_caption_src(F.col("block.block_content")), CAPTION_RE, 1),
            F.lit(""),
        )
        .cast("int")
        .alias("cap_qn"),
    )


# ------------------------------------------------------------ greedy path
def _greedy_lists(sp_rows, im_rows) -> list[dict]:
    """One page/turn: the exclusive-assignment walk over packed struct
    lists, image side as numpy columns."""
    spans = sorted(sp_rows, key=lambda s: (s["block_pos"], s["span_ord"]))
    out_rows: list[dict] = []

    if len(im_rows):
        imgs = sorted(im_rows, key=lambda i_: i_["img_pos"])
        il = np.array([i_["ix1"] for i_ in imgs], dtype=np.int64)
        it = np.array([i_["iy1"] for i_ in imgs], dtype=np.int64)
        ir = np.array([i_["ix2"] for i_ in imgs], dtype=np.int64)
        ib = np.array([i_["iy2"] for i_ in imgs], dtype=np.int64)
        iid = np.array([i_["img_id"] for i_ in imgs], dtype=np.int64)
        ipos = np.array([i_["img_pos"] for i_ in imgs], dtype=np.int64)
        icx = (il + ir) / 2
        icy = (it + ib) / 2
        used = np.zeros(len(imgs), dtype=bool)
    else:
        imgs = []
        used = np.zeros(0, dtype=bool)

    # R10 caption pre-pass: 第N题图 binds the image to the FIRST span
    # numbered N, before (and shielded from) the spatial walk
    cap_for: dict[int, list[int]] = {}
    if imgs:
        by_qn: dict[int, int] = {}
        for si, s in enumerate(spans):
            qn = s["question_number"]
            if qn is not None and qn not in by_qn:
                by_qn[int(qn)] = si
        for k, i_ in enumerate(imgs):
            cqn = i_.get("cap_qn") if hasattr(i_, "get") else i_["cap_qn"]
            if cqn is None:
                continue
            si = by_qn.get(int(cqn))
            if si is None:
                continue
            used[k] = True
            cap_for.setdefault(si, []).append(k)

    for order, row in enumerate(spans):
        tb = list(row["bbox"]) if row["bbox"] is not None else []
        ids: list[int] = []
        boxes: list[list[int]] = []
        for k in cap_for.get(order, []):
            ids.append(int(iid[k]))
            boxes.append([int(il[k]), int(it[k]), int(ir[k]), int(ib[k])])
        if len(tb) == 4 and len(used):
            tl, tt, tr, tbot = (int(v) for v in tb)
            tcx = (tl + tr) / 2
            tcy = (tt + tbot) / 2

            free = ~used
            above = it < tbot
            hd = il - tr
            right_ok = free & above & (hd > 0) & (hd < LIMITS.max_horizontal_distance)

            vd = it - tbot
            horiz = (
                ((tl <= icx) & (icx <= tr))
                | ((il <= tcx) & (tcx <= ir))
                | ((il <= tr) & (ir >= tl))
                | (np.abs(icx - tcx) < LIMITS.max_horizontal_distance)
            )
            below_ok = free & ~above & (vd <= LIMITS.max_vertical_distance) & horiz

            cand = right_ok | below_ok
            if cand.any():
                dist = np.where(right_ok, hd, vd)
                # spatial confidence (question_merger.py:287-327)
                ds_right = np.maximum(0.0, 1 - hd / LIMITS.max_horizontal_distance)
                al_right = np.maximum(0.0, 1 - np.abs(tcy - icy) / (tbot - tt))
                ds_below = np.maximum(0.0, 1 - vd / LIMITS.max_vertical_distance)
                al_below = np.maximum(0.0, 1 - np.abs(tcx - icx) / (tr - tl))
                conf = np.where(
                    right_ok,
                    LIMITS.conf_weight_distance * ds_right
                    + LIMITS.conf_weight_alignment * al_right,
                    LIMITS.conf_weight_distance * ds_below
                    + LIMITS.conf_weight_alignment * al_below,
                )
                idx = np.flatnonzero(cand)
                # stable distance sort, ties in image-list order
                idx = idx[np.lexsort((ipos[idx], dist[idx]))]
                idx = idx[: LIMITS.max_images_per_question]
                keep = idx[conf[idx] >= LIMITS.spatial_confidence_threshold]
                for k in keep:
                    used[k] = True
                    ids.append(int(iid[k]))
                    boxes.append([int(il[k]), int(it[k]), int(ir[k]), int(ib[k])])

        if boxes:
            # invalid text bbox possible when only caption bindings
            # exist (they skip spatial candidacy's P3 gate on tb)
            allb = ([[int(v) for v in tb]] if len(tb) == 4 else []) + boxes
            bbox = [
                min(b[0] for b in allb),
                min(b[1] for b in allb),
                max(b[2] for b in allb),
                max(b[3] for b in allb),
            ]
        else:
            bbox = [int(v) for v in tb]

        out_rows.append(
            {
                "question_number": row["question_number"],
                "span_text": row["span_text"],
                "bbox": bbox,
                "has_image": bool(ids),
                "image_ids": ids,
                "image_count": len(ids),
                "split_from_merged": bool(row["split_from_merged"]),
                "source_block_id": row["source_block_id"],
            }
        )

    # final per-turn order (sentinel-999 sort, extractor.py:211-214)
    # computed here so downstream structuring stays shuffle-free; ties
    # keep text order, which is each row's index in out_rows
    order = sorted(
        range(len(out_rows)),
        key=lambda j: (
            out_rows[j]["question_number"] or LIMITS.missing_number_sentinel,
            j,
        ),
    )
    for seq, j in enumerate(order):
        out_rows[j]["seq"] = seq
    return out_rows


def merge_greedy(spans: DataFrame, images: DataFrame) -> DataFrame:
    """Pack each turn's spans and images into single rows with ONE
    shuffle (side-tagged union + filtered collect_lists — collect_list
    skips nulls, so each side lands in its own array), then run the
    greedy walk per packed row on ``sources.map_rows``, MANY turns per
    Arrow batch.

    A naive cogroup.applyInPandas would invoke Python once per turn —
    page-sized groups mean millions of per-group calls at scale; this
    formulation amortizes that to once per ~10k-row batch.
    """
    span_struct = F.struct(
        "block_pos",
        "span_ord",
        "question_number",
        "span_text",
        "bbox",
        "split_from_merged",
        "source_block_id",
    )
    img_struct = F.struct(
        "img_pos", "img_id", "ix1", "iy1", "ix2", "iy2", "cap_qn"
    )
    tagged = spans.select(
        "conv_id",
        "turn_idx",
        span_struct.alias("s"),
        F.lit(None).cast(
            "struct<img_pos:int,img_id:int,ix1:int,iy1:int,ix2:int,iy2:int,"
            "cap_qn:int>"
        ).alias("i"),
    ).unionByName(
        images.select(
            "conv_id",
            "turn_idx",
            F.lit(None).cast(
                "struct<block_pos:int,span_ord:int,question_number:int,"
                "span_text:string,bbox:array<int>,split_from_merged:boolean,"
                "source_block_id:int>"
            ).alias("s"),
            img_struct.alias("i"),
        )
    )
    packed = tagged.groupBy("conv_id", "turn_idx").agg(
        F.collect_list("s").alias("sp"), F.collect_list("i").alias("im")
    )

    def walk(conv_id, turn_idx, sp_rows, im_rows):
        for r in _greedy_lists(sp_rows, im_rows):
            yield {"conv_id": conv_id, "turn_idx": turn_idx, **r}

    return map_rows(packed, ["conv_id", "turn_idx", "sp", "im"], walk, MERGED_SCHEMA)
