"""PDF layout-box parsing (north rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" — this is the PDF arm).

The reference consumes PaddleOCR layout-parse JSON; real corpora also
carry born-digital PDFs whose text layout is recoverable WITHOUT any
model call by interpreting the page content stream. This module is a
deterministic, stdlib-only (``zlib``) PDF text-layout parser:

1. **Byte-stream tokenization** (per-document sequential → one
   ``sources.map_rows`` kernel, same shape as html.dom_blocks): find page
   ``stream…endstream`` segments (FlateDecode supported), tokenize the
   content stream (literal/hex strings with full escape handling,
   numbers, names, operators), and run the PDF text-state machine —
   BT/ET, Tf, Td/TD/Tm/TL/T*, Tj/TJ/'/" — plus cm+Do for image
   placements, emitting positioned text runs and image boxes.
2. **Line/block assembly**: runs → baselines → blocks. One BT…ET text
   object is a block candidate; consecutive candidates with the same
   font size separated by ≤ 1.05× leading are merged (handles
   writers that emit one BT per line). PDF bottom-left y-up coords are
   flipped into the engine's top-left pixel space using MediaBox.
3. **Label heuristic + payload emit**: font-size outliers become
   ``doc_title``/``paragraph_title`` (mirrors the routing vocabulary,
   SURVEY §1.3); everything else ``text``; Do placements become
   ``image`` blocks. Output is schema.PAYLOAD JSON — including REAL
   per-line geometry in ``lines`` (poly relative to the block origin,
   the deterministic stand-in for X1 OCR line recovery,
   question_splitter.py:226-232) — so ``pipeline.extract`` consumes a
   PDF corpus unchanged, zero extra shuffles.

Glyph advance uses a fixed 0.5×size per char (no font metrics are
embedded in the fixtures); x-extents are therefore approximate,
y/ordering/text are exact. ``make_pdf`` below is the matching
deterministic single-page writer used by gen/tests (uncompressed or
Flate) so round-trip parity is testable end-to-end.
"""
from __future__ import annotations

import json
import re
import zlib
from typing import Any, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import schema
from .pipeline import span_rows
from .sources import map_rows, read_files

# ------------------------------------------------------------------ lexer

_NUM = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_ESC = {
    ord("n"): ord("\n"),
    ord("r"): ord("\r"),
    ord("t"): ord("\t"),
    ord("b"): ord("\b"),
    ord("f"): ord("\f"),
    ord("("): ord("("),
    ord(")"): ord(")"),
    ord("\\"): ord("\\"),
}


def _lex_string(buf: bytes, i: int) -> tuple[bytes, int]:
    """Literal string starting at '(' → (raw bytes, index past ')')."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(buf)
    while i < n and depth:
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = buf[i]
            if e in _ESC:
                out.append(_ESC[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                val = 0
                k = 0
                while k < 3 and i < n and 0x30 <= buf[i] <= 0x37:
                    val = val * 8 + (buf[i] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
            elif e == 0x0A:  # line continuation
                i += 1
            elif e == 0x0D:
                i += 1
                if i < n and buf[i] == 0x0A:
                    i += 1
            else:  # unknown escape: literal next char
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _lex_hex(buf: bytes, i: int) -> tuple[bytes, int]:
    """Hex string starting at '<' (not '<<') → (bytes, index past '>')."""
    j = buf.find(b">", i)
    if j < 0:
        j = len(buf)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", buf[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


def _tokens(buf: bytes) -> Iterator[tuple[str, Any]]:
    """Content-stream tokens: ('num', float) | ('str', bytes) |
    ('name', str) | ('op', str) | ('arr', '['/']')."""
    i, n = 0, len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            j = buf.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == 0x28:
            s, i = _lex_string(buf, i)
            yield ("str", s)
        elif c == 0x3C:
            if i + 1 < n and buf[i + 1] == 0x3C:
                i += 2
                yield ("op", "<<")
            else:
                s, i = _lex_hex(buf, i)
                yield ("str", s)
        elif c == 0x3E and i + 1 < n and buf[i + 1] == 0x3E:
            i += 2
            yield ("op", ">>")
        elif c == 0x2F:  # name
            j = i + 1
            while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                j += 1
            yield ("name", buf[i + 1 : j].decode("latin-1"))
            i = j
        elif c in b"[]":
            yield ("arr", chr(c))
            i += 1
        else:
            m = _NUM.match(buf, i)
            if m and (c in b"+-.0123456789"):
                yield ("num", float(m.group()))
                i = m.end()
            else:
                j = i
                while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                    j += 1
                if j == i:  # stray delimiter ({,}) — skip
                    i += 1
                    continue
                yield ("op", buf[i:j].decode("latin-1", "replace"))
                i = j


def _decode_text(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


# ------------------------------------------------- content-stream machine


def _interpret(content: bytes) -> tuple[list[dict], list[dict]]:
    """Run the text/graphics state machine over one content stream.
    Returns (text runs, image boxes) in PDF user space (y-up).
    Run: {x, y, size, leading, bt, text}; bt = BT-group ordinal."""
    runs: list[dict] = []
    images: list[dict] = []
    stack: list[Any] = []
    size = 12.0
    leading = 0.0
    # text matrix translation + vertical scale only (rotation is out of
    # scope for layout fixtures); cm tracked one level for Do boxes
    tx = ty = 0.0
    ltx = lty = 0.0
    scale = 1.0
    cm = (1.0, 1.0, 0.0, 0.0)  # (a, d, e, f)
    cm_stack: list[tuple] = []
    bt_ord = -1

    def nums(k: int) -> list[float]:
        vals = [v for t_, v in stack[-k:] if t_ == "num"] if k else []
        return vals if len(vals) == k else []

    def show(raw: bytes) -> None:
        nonlocal tx
        text = _decode_text(raw)
        if text:
            runs.append(
                {"x": tx, "y": ty, "size": size * scale, "leading": leading,
                 "bt": bt_ord, "text": text}
            )
            tx += 0.5 * size * scale * len(text)

    def newline() -> None:
        nonlocal tx, ty, ltx, lty
        lty -= leading
        tx, ty = ltx, lty

    for tok in _tokens(content):
        kind, val = tok
        if kind != "op":
            stack.append(tok)
            continue
        op = val
        if op == "BT":
            bt_ord += 1
            tx = ty = ltx = lty = 0.0
            scale = 1.0
        elif op == "Tf":
            v = nums(1)
            if v:
                size = v[0]
        elif op == "TL":
            v = nums(1)
            if v:
                leading = v[0]
        elif op in ("Td", "TD"):
            v = nums(2)
            if v:
                ltx += v[0]
                lty += v[1]
                tx, ty = ltx, lty
                if op == "TD":
                    leading = -v[1]
        elif op == "Tm":
            v = nums(6)
            if v:
                scale = abs(v[3]) or 1.0
                ltx, lty = v[4], v[5]
                tx, ty = ltx, lty
        elif op == "T*":
            newline()
        elif op == "Tj":
            if stack and stack[-1][0] == "str":
                show(stack[-1][1])
        elif op == "'":
            if stack and stack[-1][0] == "str":
                newline()
                show(stack[-1][1])
        elif op == '"':
            if stack and stack[-1][0] == "str":
                newline()
                show(stack[-1][1])
        elif op == "TJ":
            # stack tail: 'arr' '[' … items … 'arr' ']'
            items: list[tuple] = []
            for t_, v in reversed(stack):
                if t_ == "arr" and v == "[":
                    break
                items.append((t_, v))
            for t_, v in reversed(items):
                if t_ == "str":
                    show(v)
                elif t_ == "num":
                    tx -= v / 1000.0 * size * scale
        elif op == "cm":
            v = nums(6)
            if v:
                cm = (v[0], v[3], v[4], v[5])
        elif op == "q":
            cm_stack.append(cm)
        elif op == "Q":
            cm = cm_stack.pop() if cm_stack else (1.0, 1.0, 0.0, 0.0)
        elif op == "Do":
            a, d, e, f = cm
            if abs(a) > 1 and abs(d) > 1:  # unit square → placed box
                images.append(
                    {"x1": min(e, e + a), "y1": min(f, f + d),
                     "x2": max(e, e + a), "y2": max(f, f + d)}
                )
        stack.clear()
    return runs, images


# --------------------------------------------------------- page scanning

_MEDIABOX = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)
_STREAM = re.compile(rb"stream\r?\n")


def _streams(buf: bytes) -> Iterator[bytes]:
    """All stream payloads; Flate-decoded when the preceding dict says
    so. Malformed segments are skipped, never raised."""
    pos = 0
    while True:
        m = _STREAM.search(buf, pos)
        if not m:
            return
        end = buf.find(b"endstream", m.end())
        if end < 0:
            return
        head = buf[max(0, m.start() - 400) : m.start()]
        lm = re.search(rb"/Length\s+(\d+)", head)
        if lm and m.end() + int(lm.group(1)) <= end:
            data = buf[m.end() : m.end() + int(lm.group(1))]
        else:
            # no usable /Length: strip the EOL the writer added before
            # 'endstream' — try raw first so a Flate stream whose own
            # last byte is \r/\n is never corrupted
            data = buf[m.end() : end]
            if data.endswith(b"\r\n"):
                data = data[:-2]
            elif data.endswith(b"\n"):
                data = data[:-1]
        if b"/FlateDecode" in head:
            try:  # decompressobj tolerates trailing EOL bytes
                data = zlib.decompressobj().decompress(buf[m.end() : end])
            except zlib.error:
                data = b""
        if b"/Image" not in head and b"/FontFile" not in head:
            yield data
        pos = end + 9


MERGE_GAP_FACTOR = 1.05  # BT groups closer than this × leading merge
COLUMN_EDGE_TOL = 0.02  # ± fraction of page width around the midline


def _reading_order(blocks: list[dict], page_w: float) -> list[dict]:
    """Reading order for the parsed blocks.

    Single-column pages sort by (y, x). Two-column pages (exam papers
    commonly print answer columns side by side — e.g. the reference's
    golden page 3) must NOT interleave columns by y: when the
    non-spanning blocks fall cleanly into left/right halves (≥2 each,
    with at most a quarter of blocks spanning the midline), the page is
    read as vertical segments delimited by the spanning (full-width)
    blocks — within each segment: the spanning header first, then the
    left column top-down, then the right column top-down."""
    mid = page_w / 2.0
    tol = page_w * COLUMN_EDGE_TOL

    def col(b: dict) -> int:
        if b["x2"] <= mid + tol:
            return 0
        if b["x1"] >= mid - tol:
            return 1
        return -1  # spans the midline

    cols = [col(b) for b in blocks]
    n_left, n_right, n_span = cols.count(0), cols.count(1), cols.count(-1)
    if not (n_left >= 2 and n_right >= 2 and n_span <= max(1, len(blocks) // 4)):
        return sorted(blocks, key=lambda b: (b["y1"], b["x1"]))

    span_tops = sorted(b["y1"] for b, c in zip(blocks, cols) if c == -1)

    def seg(b: dict) -> int:
        return sum(1 for sy in span_tops if sy <= b["y1"])

    return sorted(
        blocks,
        key=lambda b: (
            seg(b),
            0 if col(b) == -1 else 1,  # segment header leads its segment
            max(col(b), 0),
            b["y1"],
            b["x1"],
        ),
    )


def parse_pdf_py(buf: bytes | None) -> dict | None:
    """One PDF → payload dict (page/blocks/lines, top-left pixel
    coords) or None if nothing parseable (None and empty input
    too). Pure function shared by the Spark kernel and tests."""
    if not buf or not buf.startswith(b"%PDF"):
        return None
    m = _MEDIABOX.search(buf)
    try:
        mb = [float(v) for v in m.groups()] if m else [0, 0, 612, 792]
    except ValueError:
        mb = [0, 0, 612, 792]
    page_w, page_h = mb[2] - mb[0], mb[3] - mb[1]
    if page_w <= 0 or page_h <= 0:
        page_w, page_h = 612.0, 792.0

    runs: list[dict] = []
    images: list[dict] = []
    bt_base = 0
    for content in _streams(buf):
        try:
            r, im = _interpret(content)
        except Exception:
            continue
        for run in r:
            run["bt"] += bt_base
        bt_base += len({run["bt"] for run in r}) + 1
        runs.extend(run for run in r if run["text"].strip())
        images.extend(im)
    if not runs and not images:
        return None

    # runs → lines: same BT group + same baseline y (±1.0)
    lines: list[dict] = []
    for run in sorted(runs, key=lambda r: (r["bt"], -r["y"], r["x"])):
        cur = lines[-1] if lines else None
        if cur is not None and cur["bt"] == run["bt"] and abs(cur["y"] - run["y"]) <= 1.0:
            if run["x"] > cur["x2"] + 0.25 * run["size"]:
                cur["text"] += " "
            cur["text"] += run["text"]
            cur["x2"] = max(cur["x2"], run["x"] + 0.5 * run["size"] * len(run["text"]))
        else:
            lines.append(
                {"bt": run["bt"], "y": run["y"], "x1": run["x"],
                 "x2": run["x"] + 0.5 * run["size"] * len(run["text"]),
                 "size": run["size"], "leading": run["leading"] or run["size"] * 1.2,
                 "text": run["text"]}
            )

    # lines → BT-group blocks, then merge near-adjacent same-size groups
    groups: list[list[dict]] = []
    for ln in lines:
        if groups and groups[-1][-1]["bt"] == ln["bt"]:
            groups[-1].append(ln)
        else:
            groups.append([ln])
    merged: list[list[dict]] = []
    for g in groups:
        if merged:
            prev = merged[-1]
            gap = prev[-1]["y"] - g[0]["y"]
            lead = max(prev[-1]["leading"], g[0]["leading"])
            if (
                abs(prev[-1]["size"] - g[0]["size"]) < 0.1
                and 0 < gap <= MERGE_GAP_FACTOR * lead
            ):
                prev.extend(g)
                continue
        merged.append(g)

    # dominant body size = font size carrying the most characters
    # (robust when title lines rival body lines in count)
    by_size: dict[float, int] = {}
    for ln in lines:
        key = round(ln["size"], 1)
        by_size[key] = by_size.get(key, 0) + len(ln["text"])
    median = max(by_size.items(), key=lambda kv: (kv[1], -kv[0]))[0] if by_size else 12.0

    blocks: list[dict] = []
    out_lines: list[dict] = []
    flip = lambda y_up: page_h - y_up  # noqa: E731
    for g in merged:
        x1 = min(ln["x1"] for ln in g)
        x2 = max(ln["x2"] for ln in g)
        top = flip(max(ln["y"] for ln in g) + g[0]["size"])
        bot = flip(min(ln["y"] for ln in g) - 0.25 * g[-1]["size"])
        label = "text"
        if g[0]["size"] >= 1.4 * median and len(g) <= 2:
            label = "doc_title" if not blocks else "paragraph_title"
        blocks.append(
            {"label": label, "x1": x1, "y1": top, "x2": x2, "y2": bot,
             "content": "\n".join(ln["text"] for ln in g), "glines": g}
        )
    for im in images:
        blocks.append(
            {"label": "image", "x1": im["x1"], "y1": flip(im["y2"]),
             "x2": im["x2"], "y2": flip(im["y1"]), "content": "", "glines": []}
        )

    blocks = _reading_order(blocks, page_w)
    payload_blocks: list[dict] = []
    for i, b in enumerate(blocks):
        bid = i + 1  # ids start at 1 (gen.py:118-121 invariant)
        bx1, by1 = int(b["x1"]), int(b["y1"])
        payload_blocks.append(
            {"block_label": b["label"], "block_content": b["content"],
             "block_bbox": [bx1, by1, int(b["x2"]), int(b["y2"])],
             "block_id": bid, "block_order": bid, "group_id": bid}
        )
        for ln in b["glines"]:
            lt = flip(ln["y"] + ln["size"]) - by1
            lb = flip(ln["y"] - 0.25 * ln["size"]) - by1
            lx1, lx2 = ln["x1"] - bx1, ln["x2"] - bx1
            out_lines.append(
                {"block_id": bid, "text": ln["text"], "score": 1.0,
                 "poly": [[lx1, lt], [lx2, lt], [lx2, lb], [lx1, lb]]}
            )
    return {
        "page": {"width": int(page_w), "height": int(page_h)},
        "blocks": payload_blocks,
        "lines": out_lines,
    }


# ------------------------------------------------------------ PDF writer


def _esc(text: str) -> bytes:
    raw = text.encode("utf-8")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


LINE_HEIGHT = 45.0  # make_pdf's leading (TL), in page units
FONT_SIZE = 36.0  # make_pdf's body font size
TITLE_SCALE = 1.6  # make_pdf's title size over FONT_SIZE


def make_pdf(
    blocks: list[dict],
    page_w: int,
    page_h: int,
    *,
    compress: bool = False,
    bt_per_line: bool = False,
) -> bytes:
    """Deterministic single-page PDF from schema.BLOCK-shaped dicts
    (top-left pixel coords). Text blocks emit one BT with TL/T* lines
    (or one BT per line when ``bt_per_line`` — exercises the merge
    rule); title blocks render at ``TITLE_SCALE``× so the parser's
    font-size label heuristic can recover them; image blocks emit
    ``q cm /Im1 Do Q``."""
    ops: list[bytes] = []
    for b in blocks:
        bx1, by1, _, _ = b["block_bbox"]
        fs = FONT_SIZE
        if b["block_label"] in ("doc_title", "paragraph_title"):
            fs = FONT_SIZE * TITLE_SCALE
        if b["block_label"] == "image":
            x1, y1, x2, y2 = b["block_bbox"]
            ops.append(
                b"q %.1f 0 0 %.1f %.1f %.1f cm /Im1 Do Q"
                % (x2 - x1, y2 - y1, x1, page_h - y2)
            )
            continue
        content = b.get("block_content") or ""
        if not content.strip():
            continue
        lines = content.split("\n")
        if bt_per_line:
            for i, ln in enumerate(lines):
                base = page_h - (by1 + fs + LINE_HEIGHT * i)
                ops.append(
                    b"BT /F1 %.1f Tf %.1f TL %.1f %.1f Td (%s) Tj ET"
                    % (fs, LINE_HEIGHT, float(bx1), base, _esc(ln))
                )
        else:
            base = page_h - (by1 + fs)
            body = b" T* ".join(b"(%s) Tj" % _esc(ln) for ln in lines)
            ops.append(
                b"BT /F1 %.1f Tf %.1f TL %.1f %.1f Td %s ET"
                % (fs, LINE_HEIGHT, float(bx1), base, body)
            )
    content = b"\n".join(ops)
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> >>"
        % (page_w, page_h),
        b"<< %s/Length %d >>\nstream\n%s\nendstream" % (filt, len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
        b"stream\n\x00\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref)
    )
    return bytes(out)


# ------------------------------------------------------------ Spark side

def pdf_to_transcripts(pdfs: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, payload:binary) → transcripts-shaped rows
    whose ``text`` is the parsed schema.PAYLOAD JSON. Narrow
    (``map_rows``, zero shuffles); unparseable documents are dropped —
    the adversarial-payload contract (tests/test_edge_payloads.py)."""

    def emit(conv_id: str, turn_idx: int, buf: bytes | None) -> Iterator[dict]:
        payload = parse_pdf_py(buf)
        if payload is not None:
            yield {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": "tool",
                "text": json.dumps(payload, ensure_ascii=False),
                "tool": "pdf",
                "ts": None,
            }

    return map_rows(pdfs, ["conv_id", "turn_idx", "payload"], emit, schema.TRANSCRIPTS)


def extract_pdf_turns(pdfs: DataFrame) -> DataFrame:
    """Fused PDF → spans: parse the content stream and run the full
    per-turn extraction in ONE kernel, handing the payload dict to the
    extractor directly (no intermediate JSON serialization, one Arrow
    stage instead of two). Same results as
    ``pipeline.extract(pdf_to_transcripts(pdfs))`` — pinned by
    tests/test_pdf.py — at roughly half the per-page overhead."""

    def emit(conv_id: str, turn_idx: int, buf: bytes | None) -> Iterator[dict]:
        payload = parse_pdf_py(buf)
        return () if payload is None else span_rows(conv_id, turn_idx, payload)

    return map_rows(pdfs, ["conv_id", "turn_idx", "payload"], emit, schema.SPANS)


def read_pdfs(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of .pdf files (the extension in any case) →
    transcripts-shaped rows (binaryFile source).

    Multi-page documents follow the ``<stem>_p<N>.pdf`` convention:
    such files share ``conv_id = <stem>`` with ``turn_idx = N``, so a
    scanned document split into per-page PDFs flows through extraction
    AND the cross-turn assembler (assemble.merge_continuations) as one
    ordered conversation. Files without the suffix, or whose N does not
    fit an int, get their own single-turn conversation (conv_id = file
    name, turn_idx = 0)."""
    fname = F.col("name")
    pattern = r"^(.+)_p(\d+)\.(?i:pdf)$"
    page_no = F.regexp_extract(fname, pattern, 2).try_cast("int")
    stem = F.regexp_extract(fname, pattern, 1)
    raw = read_files(spark, path, "*.[pP][dD][fF]").select(
        F.when(page_no.isNotNull(), stem).otherwise(fname).alias("conv_id"),
        F.coalesce(page_no, F.lit(0)).alias("turn_idx"),
        F.col("content").alias("payload"),
    )
    return pdf_to_transcripts(raw)
