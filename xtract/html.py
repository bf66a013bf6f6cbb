"""HTML main-content extraction (north rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

One narrow kernel (``sources.map_rows``, zero exchanges, the same
shape as ``pdf.extract_pdf_turns``): per turn, the stdlib
``html.parser`` tokenizes the document into DOM block elements with
raw features (tag, text, char counts, link chars, ancestor flags) —
byte-stream tokenization is inherently sequential per document — and
jusText-style context-free rules (structural-tag veto, link density,
length gates, CJK and stopword density) label each block, so only the
per-turn main text and retention counts cross back to the JVM.

``dom_blocks`` + ``classify`` state the same rules relationally (one
row per block, the when-chain as native SQL); they are the reference
the kernel is tested against, not a second path of the engine.
"""
from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .sources import map_rows, read_files

BLOCK_TAGS = {
    "p",
    "div",
    "h1",
    "h2",
    "h3",
    "h4",
    "h5",
    "h6",
    "li",
    "td",
    "th",
    "blockquote",
    "pre",
    "article",
    "section",
}
SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "title"}
CHROME_TAGS = {"nav", "header", "footer", "aside"}

# jusText-style thresholds (deterministic, pinned here)
MAX_LINK_DENSITY = 0.4
MIN_LEN_SHORT = 20
GOOD_STOPWORD_DENSITY = 0.25
GOOD_MIN_LEN = 80
LONG_GOOD_LEN = 200

GOOD_CJK_DENSITY = 0.5  # CJK text carries no Latin stopwords; density
# of ideographs substitutes for the stopword signal (jusText ships
# per-language stopword lists; this is the deterministic CJK analogue)

_STOPWORDS = re.compile(
    r"\b(the|a|an|of|and|or|to|in|is|are|was|were|it|that|this|for|on|with|as|at|by|be)\b"
)
_TOKEN = re.compile(r"[A-Za-z0-9]+|[一-鿿]")
_CJK = re.compile(r"[一-鿿]")
_WS = re.compile(r"\s+")


class _Collector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._chrome_depth = 0
        self._skip_depth = 0
        self._cur_text: list[str] = []
        self._cur_link_chars = 0
        self._link_depth = 0
        self._cur_tag = "body"
        self._order = 0

    def _flush(self) -> None:
        text = _WS.sub(" ", "".join(self._cur_text)).strip()
        if text:
            self.blocks.append(
                {
                    "block_ord": self._order,
                    "tag": self._cur_tag,
                    "text": text,
                    "link_chars": self._cur_link_chars,
                    "in_chrome": self._chrome_depth > 0,
                }
            )
            self._order += 1
        self._cur_text = []
        self._cur_link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag in CHROME_TAGS:
            self._flush()
            self._chrome_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._cur_tag = tag
        if tag == "br":
            self._cur_text.append(" ")

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()
            self._cur_tag = "body"
        if tag in CHROME_TAGS:
            self._flush()
            self._chrome_depth = max(0, self._chrome_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._cur_text.append(data)
        if self._link_depth:
            self._cur_link_chars += len(_WS.sub(" ", data).strip())

    def close(self):  # noqa: D102
        super().close()
        self._flush()


def parse_blocks_py(html_text: str) -> list[dict]:
    """One document → DOM block features (pure function, shared by the
    kernel and tests)."""
    c = _Collector()
    try:
        c.feed(html_text or "")
        c.close()
    except Exception:  # malformed beyond the parser's tolerance
        return []
    out = []
    for b in c.blocks:
        text = b["text"]
        n_chars = len(text)
        tokens = _TOKEN.findall(text.lower())
        stop_hits = len(_STOPWORDS.findall(text.lower()))
        out.append(
            {
                "block_ord": b["block_ord"],
                "tag": b["tag"],
                "text": text,
                "n_chars": n_chars,
                "n_tokens": len(tokens),
                "link_chars": min(b["link_chars"], n_chars),
                "stop_hits": stop_hits,
                "cjk_chars": len(_CJK.findall(text)),
                "in_chrome": b["in_chrome"],
            }
        )
    return out


BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("block_ord", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_chars", T.IntegerType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("link_chars", T.IntegerType(), False),
        T.StructField("stop_hits", T.IntegerType(), False),
        T.StructField("cjk_chars", T.IntegerType(), False),
        T.StructField("in_chrome", T.BooleanType(), False),
    ]
)


def dom_blocks(transcripts: DataFrame) -> DataFrame:
    """Reference form, stage 1: turn HTML payloads → one row per DOM
    block with raw features. Narrow (``map_rows``), zero shuffles."""
    return map_rows(
        transcripts,
        ["conv_id", "turn_idx", "text"],
        lambda c, t, text: (
            {"conv_id": c, "turn_idx": t, **b} for b in parse_blocks_py(text)
        ),
        BLOCKS_SCHEMA,
    )


def classify(blocks: DataFrame) -> DataFrame:
    """Reference form, stage 2: jusText-style context-free
    classification as native SQL (the when-chain order is the rule
    priority; ``is_good`` restates it for the kernel)."""
    link_density = F.col("link_chars") / F.greatest(F.col("n_chars"), F.lit(1))
    stop_density = F.col("stop_hits") / F.greatest(F.col("n_tokens"), F.lit(1))
    cjk_density = F.col("cjk_chars") / F.greatest(F.col("n_chars"), F.lit(1))
    label = (
        F.when(F.col("in_chrome"), "boilerplate")  # DOM-structural veto
        .when(link_density > MAX_LINK_DENSITY, "boilerplate")
        .when(F.col("n_chars") < MIN_LEN_SHORT, "boilerplate")
        .when(cjk_density >= GOOD_CJK_DENSITY, "good")
        .when(
            (stop_density >= GOOD_STOPWORD_DENSITY)
            & (F.col("n_chars") >= GOOD_MIN_LEN),
            "good",
        )
        .when(F.col("n_chars") >= LONG_GOOD_LEN, "good")
        .otherwise("boilerplate")
    )
    return blocks.select(
        "*",
        F.round(link_density, 6).alias("link_density"),
        F.round(stop_density, 6).alias("stop_density"),
        label.alias("label"),
    )


def read_html(spark, path: str) -> DataFrame:
    """Directory/glob of .html and .htm files (the extension in any
    case) → transcripts-shaped rows whose ``text`` is the
    boilerplate-stripped main content (conv_id = file name, turn_idx =
    0). Chains into pipeline.extract: a scraped exam page goes HTML →
    clean text → question spans (payload kind (a), raw merged text)."""
    raw = read_files(spark, path, "*.{[hH][tT][mM],[hH][tT][mM][lL]}").select(
        F.col("name").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("content").cast("string").alias("text"),
    )
    return extract_main_content(raw).select(
        "conv_id",
        "turn_idx",
        F.lit("tool").alias("role"),
        F.col("main_text").alias("text"),
        F.lit("html").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


MAIN_CONTENT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("main_text", T.StringType(), False),
        T.StructField("blocks_total", T.LongType(), False),
        T.StructField("blocks_good", T.LongType(), False),
        T.StructField("chars_good", T.LongType(), False),
        T.StructField("chars_total", T.LongType(), False),
    ]
)


def is_good(b: dict) -> bool:
    """``classify``'s when-chain over one ``parse_blocks_py`` block:
    same constants, same order."""
    n = b["n_chars"]
    if b["in_chrome"]:  # DOM-structural veto
        return False
    if b["link_chars"] / max(n, 1) > MAX_LINK_DENSITY:
        return False
    if n < MIN_LEN_SHORT:
        return False
    if b["cjk_chars"] / max(n, 1) >= GOOD_CJK_DENSITY:
        return True
    if b["stop_hits"] / max(b["n_tokens"], 1) >= GOOD_STOPWORD_DENSITY and n >= GOOD_MIN_LEN:
        return True
    return n >= LONG_GOOD_LEN


def extract_main_content(transcripts: DataFrame) -> DataFrame:
    """Per turn, the good blocks' text joined by ``"\\n"`` in document
    order (the extracted main content) plus retention stats, as ONE
    narrow kernel: parse, classify and per-turn aggregation run in the
    Python worker, so block rows never reach the JVM and the plan has
    no exchange. A turn with no blocks (empty, null or tag-only text)
    gives no row; an all-boilerplate turn gives ``main_text = ""``.

    Equal to ``classify(dom_blocks(...))`` grouped per
    ``(conv_id, turn_idx)`` (tests/test_html.py), except that two input
    rows with the same ``(conv_id, turn_idx)`` give two output rows,
    not one merged row; ``read_html`` never produces such rows."""
    return map_rows(
        transcripts, ["conv_id", "turn_idx", "text"], _main_content, MAIN_CONTENT
    )


def _main_content(conv_id: str, turn_idx: int, text: str | None) -> Iterator[dict]:
    blocks = parse_blocks_py(text)
    if not blocks:
        return
    good = [b for b in blocks if is_good(b)]
    yield {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "main_text": "\n".join(b["text"] for b in good),
        "blocks_total": len(blocks),
        "blocks_good": len(good),
        "chars_good": sum(b["n_chars"] for b in good),
        "chars_total": sum(b["n_chars"] for b in blocks),
    }
