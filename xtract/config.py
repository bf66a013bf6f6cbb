"""Pipeline constants.

Every value here mirrors a constant published by the reference
(SunJINM/doc-ocr); citations are ``file:line`` inside /root/reference.
The external-model knobs of the reference (VL batching, cache dirs,
API keys) are intentionally absent: per the north rule all model
stages are replaced by their deterministic rule paths.
"""
from __future__ import annotations

from dataclasses import dataclass, field

# Question-number regex patterns, v1 "production" form: line-anchored,
# evaluated with MULTILINE (src/question_extraction/config.py:40-46).
PATTERNS_V1: tuple[str, ...] = (
    r"^(\d+)[\.、]\s*",      # 1.  /  1、
    r"^\((\d+)\)\s*",        # (1)
    r"^第(\d+)题\s*",        # 第1题
    r"^\[(\d+)\]\s*",        # [1]
    r"^[【](\d+)[】]\s*",     # 【1】
)

# v2 form: unanchored; strictness enforced by validation instead
# (tests/test_exam_paper_analysis_vl_ocr_v2.py:305-311).
PATTERNS_V2: tuple[str, ...] = (
    r"(\d+)[\.、]\s*",
    r"\((\d+)\)\s*",
    r"第(\d+)题\s*",
    r"\[(\d+)\]\s*",
    r"[【](\d+)[】]\s*",
)


@dataclass(frozen=True)
class Limits:
    """Thresholds (reference config.py:30-59 + splitter internals)."""

    max_vertical_distance: int = 300        # config.py:34
    max_horizontal_distance: int = 200      # config.py:35
    spatial_confidence_threshold: float = 0.85  # config.py:36
    min_question_height: int = 50           # config.py:47
    max_images_per_question: int = 8        # config.py:57
    dedup_gap: int = 5                      # question_splitter.py:124-127
    min_following_chars: int = 5            # question_splitter.py:156-159
    following_window: int = 100             # question_splitter.py:156
    line_start_tolerance: int = 10          # question_splitter.py:176-177
    estimate_height: int = 30               # question_splitter.py:303
    estimate_confidence: float = 0.5        # question_splitter.py:304
    sub_id_factor: int = 100                # v2:151-153  new_id = parent*100+i
    missing_number_sentinel: int = 999      # extractor.py:214
    conf_weight_distance: float = 0.6       # question_merger.py:325
    conf_weight_alignment: float = 0.4      # question_merger.py:325
    split_iou_gate: float = 0.7             # evaluator.py:116
    judge_max_len: int = 200                # extractor.py:268
    answer_min_len: int = 100               # extractor.py:276


LIMITS = Limits()

# Synthetic geometry for raw-text payloads (no layout info): one block
# spanning a nominal 1000px-wide page, 50px per text line. This is OUR
# convention (the reference always has real bboxes); the oracle and the
# Spark path share it so parity is exact.
RAW_PAGE_WIDTH = 1000
RAW_LINE_HEIGHT = 50

# Question-type labels (extractor.py:253-280). Order = priority order.
QTYPE_CHOICE = "选择题"
QTYPE_BLANK = "填空题"
QTYPE_JUDGE = "判断题"
QTYPE_CALC = "计算题"
QTYPE_ANSWER = "解答题"
QTYPE_OTHER = "其他"

# Score-extraction patterns, priority order (extractor.py:288-293).
SCORE_PATTERNS: tuple[str, ...] = (
    r"[（(](\d+)分[）)]",
    r"(\d+)分",
    r"每题(\d+)分",
    r"共(\d+)分",
)
