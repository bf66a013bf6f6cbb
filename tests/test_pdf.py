"""PDF layout-box parsing (xtract/pdf.py).

Covers: content-stream lexing (literal/hex strings, escapes, TJ
kerning arrays, Tm/'/" operators), Flate streams, BT-group block
assembly + per-line-BT merge, label recovery, image placement boxes,
adversarial byte payloads, and the Spark path: a seeded PDF corpus →
pdf_to_transcripts → pipeline.extract matches the JSON-payload path
span-for-span on numbered questions (the north-rule per-turn text
equality, with geometry-independent fields).
"""
from __future__ import annotations

import json

import pytest

from xtract import gen, pdf

BLOCKS = [
    {"block_label": "doc_title", "block_content": "2024学年期中数学试卷",
     "block_bbox": [400, 80, 1600, 150], "block_id": 1, "block_order": 1, "group_id": 1},
    {"block_label": "text",
     "block_content": "1、求下列方程的解。（5分）\n2、计算三角形面积。（3分）",
     "block_bbox": [120, 200, 1880, 304], "block_id": 2, "block_order": 2, "group_id": 2},
    {"block_label": "image", "block_content": "",
     "block_bbox": [500, 400, 900, 700], "block_id": 3, "block_order": 3, "group_id": 3},
]


@pytest.mark.parametrize("compress", [False, True])
@pytest.mark.parametrize("bt_per_line", [False, True])
def test_roundtrip_variants(compress, bt_per_line):
    buf = pdf.make_pdf(BLOCKS, 2000, 2800, compress=compress, bt_per_line=bt_per_line)
    p = pdf.parse_pdf_py(buf)
    assert p is not None
    assert p["page"] == {"width": 2000, "height": 2800}
    assert [b["block_label"] for b in p["blocks"]] == ["doc_title", "text", "image"]
    assert p["blocks"][0]["block_content"] == BLOCKS[0]["block_content"]
    assert p["blocks"][1]["block_content"] == BLOCKS[1]["block_content"]
    # image boxes are exact (cm translation/scale, no glyph estimate)
    assert p["blocks"][2]["block_bbox"] == [500, 400, 900, 700]
    # block ids are 1-based reading order
    assert [b["block_id"] for b in p["blocks"]] == [1, 2, 3]
    # real per-line geometry is emitted for the split stage
    text_lines = [ln for ln in p["lines"] if ln["block_id"] == 2]
    assert [ln["text"] for ln in text_lines] == BLOCKS[1]["block_content"].split("\n")
    for ln in text_lines:
        assert len(ln["poly"]) == 4 and ln["score"] == 1.0


def test_seeded_corpus_fidelity():
    """120 seeded pages: exact text-block content sequence, exact image
    count, exact doc_title recovery."""
    for i in range(120):
        conv = f"pdfconv-{i // 4:05d}"
        payload = json.loads(gen._payload_b(gen._rng(conv, i)))
        buf = pdf.make_pdf(
            payload["blocks"], payload["page"]["width"], payload["page"]["height"],
            compress=(i % 3 == 0), bt_per_line=(i % 5 == 0),
        )
        p = pdf.parse_pdf_py(buf)
        assert p is not None, i
        # image captions (R10 fixtures) are dropped by make_pdf — images
        # render as cm+Do boxes with no text to recover
        want = [
            b["block_content"]
            for b in payload["blocks"]
            if b["block_label"] != "image" and b["block_content"].strip()
        ]
        got = [b["block_content"] for b in p["blocks"] if b["block_label"] != "image"]
        assert want == got, i
        assert sum(b["block_label"] == "image" for b in payload["blocks"]) == sum(
            b["block_label"] == "image" for b in p["blocks"]
        ), i
        assert [b["block_content"] for b in payload["blocks"] if b["block_label"] == "doc_title"] == [
            b["block_content"] for b in p["blocks"] if b["block_label"] == "doc_title"
        ], i


def test_string_escapes_and_operators():
    """Hand-built content stream: escapes, hex strings, TJ kerning,
    Tm positioning, ' newline-show — constructs the writer never emits
    but real PDFs do."""
    content = (
        b"BT /F1 12 Tf 14.4 TL 72 700 Td "
        b"(paren \\( close \\) back\\\\slash octal:\\101) Tj ET\n"
        b"BT /F1 12 Tf 1 0 0 1 72 650 Tm [(ker) 50 (ned)] TJ ET\n"
        b"BT /F1 12 Tf 14.4 TL 72 600 Td (first) Tj (second) ' ET\n"
        b"BT /F1 12 Tf 72 550 Td <48692100> Tj ET\n"
    )
    buf = b"%PDF-1.4\n1 0 obj\n<< /Type /Page /MediaBox [0 0 612 792] >>\nendobj\n" + (
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(content), content)
    )
    p = pdf.parse_pdf_py(buf)
    assert p is not None
    texts = [b["block_content"] for b in p["blocks"]]
    assert "paren ( close ) back\\slash octal:A" in texts
    assert "kerned" in texts  # TJ numbers adjust x, strings concatenate
    assert "first\nsecond" in texts  # ' = newline + show inside one BT
    assert "Hi!\x00" in texts or "Hi!" in texts  # hex string decode


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"not a pdf at all",
        b"%PDF-1.4\nno streams here",
        b"%PDF-1.4\nstream\nBT (unterminated",
        b"%PDF-1.4\n<< /Filter /FlateDecode /Length 10 >>\nstream\n\xff\xfe\xfd\xfc\xfb\xfa\x00\x01\x02\x03\nendstream\n",
        b"%PDF-1.4\n<< /MediaBox [0 0 -5 -5] >>\nstream\nBT /F1 12 Tf (x) Tj ET\nendstream\n",
    ],
)
def test_adversarial_payloads(payload):
    """Malformed bytes never raise; they parse to None or to a defined
    best-effort payload."""
    out = pdf.parse_pdf_py(payload)
    assert out is None or isinstance(out, dict)


def test_truncated_real_pdf_is_safe():
    buf = pdf.make_pdf(BLOCKS, 2000, 2800)
    for cut in (10, 100, len(buf) // 2, len(buf) - 5):
        out = pdf.parse_pdf_py(buf[:cut])
        assert out is None or isinstance(out, dict)


def test_spark_pdf_path_matches_oracle(pdf_pages):
    """North-rule invariant over the PDF source: the distributed
    relational plan fed by rendered PDFs equals the single-node oracle
    run on the same parsed payloads, span for span, per turn. (The
    relational plan is an independent implementation of the split/
    merge/structure operators, so this exercises writer → parser →
    Spark plumbing → operator parity end-to-end. The JSON fixture path
    is NOT byte-comparable here by design: payload_b carries random
    OCR-line scores on 60% of blocks, while the PDF parse emits
    score-1.0 lines for every block, and locate_v1 is score-sensitive
    — see oracle.locate_v1 / question_splitter.py:242-275.)"""
    from xtract import oracle, pipeline

    n = 24
    pdf_turns = pdf_pages(n, 4)
    transcripts = pdf.pdf_to_transcripts(pdf_turns)
    via_spark = pipeline.extract(transcripts, mode="relational")

    payloads = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
    }
    assert len(payloads) == n  # every rendered page parsed

    want = {}
    for (conv, turn), text in payloads.items():
        rows = oracle.extract_turn(text)
        want[(conv, turn)] = [
            (r["question_number"], r["span_text"], r["qtype"], r["score"], tuple(r["bbox"] or []))
            for r in rows
        ]

    got: dict = {}
    for r in via_spark.collect():
        got.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.seq, (r.question_number, r.span_text, r.qtype, r.score, tuple(r.bbox or [])))
        )
    got = {k: [v for _, v in sorted(vals)] for k, vals in got.items()}

    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], f"turn {key}"


def test_fused_pdf_kernel_matches_two_stage(pdf_pages):
    """extract_pdf_turns (single kernel, no JSON round-trip) is
    row-identical to pipeline.extract(pdf_to_transcripts(...))."""
    from xtract import pipeline

    turns = pdf_pages(16, 4)

    def key(df):
        return sorted(
            (r.conv_id, r.turn_idx, r.seq, r.question_number, r.span_text,
             tuple(r.bbox or []), r.qtype, r.score, tuple(r.image_ids or []))
            for r in df.collect()
        )

    fused = key(pdf.extract_pdf_turns(turns))
    staged = key(pipeline.extract(pdf.pdf_to_transcripts(turns), mode="fused"))
    assert fused == staged and len(fused) > 0


def test_read_pdfs_binary_source(spark, tmp_path):
    """Directory-of-PDFs source: binaryFile scan → transcripts rows."""
    payload = json.loads(gen._payload_b(gen._rng("c", 0)))
    (tmp_path / "page1.pdf").write_bytes(
        pdf.make_pdf(payload["blocks"], payload["page"]["width"], payload["page"]["height"])
    )
    (tmp_path / "junk.pdf").write_bytes(b"not a pdf")
    df = pdf.read_pdfs(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 1 and rows[0].conv_id == "page1.pdf"
    blocks = json.loads(rows[0].text)["blocks"]
    assert [b["block_content"] for b in blocks if b["block_label"] != "image"] == [
        b["block_content"]
        for b in payload["blocks"]
        if b["block_label"] != "image" and b["block_content"].strip()
    ]


def test_read_pdfs_keeps_file_names(spark, tmp_path):
    """conv_id is the file's own stem, unescaped: a space, ``+`` and
    ``%`` survive."""
    page = pdf.make_pdf([b for b in BLOCKS if b["block_label"] != "image"], 2000, 2800)
    for name in ["my exam_p2.pdf", "a+b 100%.pdf", "x%20y_p1.pdf"]:
        (tmp_path / name).write_bytes(page)
    got = sorted((r.conv_id, r.turn_idx) for r in pdf.read_pdfs(spark, str(tmp_path)).collect())
    assert got == [("a+b 100%.pdf", 0), ("my exam", 2), ("x%20y", 1)]


def test_read_pdfs_oversized_page_suffix(spark, tmp_path):
    """A ``_p<N>`` suffix whose N does not fit an int is no page number:
    that file is its own single-turn conversation, and the rest of the
    directory still reads."""
    page = pdf.make_pdf([b for b in BLOCKS if b["block_label"] != "image"], 2000, 2800)
    for name in ["ok_p1.pdf", "big_p99999999999.pdf"]:
        (tmp_path / name).write_bytes(page)
    got = sorted((r.conv_id, r.turn_idx) for r in pdf.read_pdfs(spark, str(tmp_path)).collect())
    assert got == [("big_p99999999999.pdf", 0), ("ok", 1)]


def test_read_pdfs_any_case_extension(spark, tmp_path):
    """A page is a PDF whatever the case of its ``.pdf`` extension: no
    file is skipped, the ``_p<N>`` convention holds and conv_id keeps
    the file's own name."""
    page = pdf.make_pdf([b for b in BLOCKS if b["block_label"] != "image"], 2000, 2800)
    for name in ["a_p1.pdf", "a_p2.PDF", "b.Pdf", "notes.txt"]:
        (tmp_path / name).write_bytes(page)
    got = sorted((r.conv_id, r.turn_idx) for r in pdf.read_pdfs(spark, str(tmp_path)).collect())
    assert got == [("a", 1), ("a", 2), ("b.Pdf", 0)]


def test_mutation_fuzz_never_raises():
    """Byte-level mutation fuzz: corrupt valid PDFs at random offsets
    (seeded) — the parser must return None or a well-formed payload,
    never raise. Covers lexer/interpreter/assembly error paths the
    structured adversarial cases miss."""
    import random

    rng = random.Random(20260817)
    base = []
    for i in range(4):
        payload = json.loads(gen._payload_b(gen._rng("fz", i)))
        base.append(
            pdf.make_pdf(
                payload["blocks"], payload["page"]["width"], payload["page"]["height"],
                compress=(i % 2 == 0),
            )
        )
    for trial in range(400):
        buf = bytearray(base[trial % len(base)])
        for _ in range(rng.randint(1, 8)):
            op = rng.randrange(3)
            pos = rng.randrange(len(buf))
            if op == 0:
                buf[pos] = rng.randrange(256)
            elif op == 1:
                del buf[pos : pos + rng.randint(1, 40)]
            else:
                buf[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 20)))
        out = pdf.parse_pdf_py(bytes(buf))
        if out is not None:
            assert isinstance(out, dict) and "blocks" in out and "lines" in out
            for b in out["blocks"]:
                assert len(b["block_bbox"]) == 4


def test_multipage_pdf_document_assembles(spark, tmp_path):
    """Full stack: per-page PDFs of one document (<stem>_p<N>.pdf) →
    binaryFile scan → content-stream parse → extraction → cross-turn
    assembly rejoins the question the page break cut in half."""
    from xtract import assemble, pipeline

    def page(blocks):
        return pdf.make_pdf(blocks, 2000, 2800)

    def tb(bid, content, y):
        n = content.count("\n") + 1
        return {"block_label": "text", "block_content": content,
                "block_bbox": [120, y, 1880, y + 45 * n + 14],
                "block_id": bid, "block_order": bid, "group_id": bid}

    # page 0: Q1 complete, Q2 cut mid-sentence; page 1: continuation + Q3
    (tmp_path / "exam_p0.pdf").write_bytes(
        page([tb(1, "1、计算下列各式的值。（4分）", 200),
              tb(2, "2、解下列方程组，其中未知数x与y满足", 400)])
    )
    (tmp_path / "exam_p1.pdf").write_bytes(
        page([tb(1, "如下约束条件，并写出完整过程。（8分）", 200),
              tb(2, "3、判断下列说法的对错。（2分）", 400)])
    )
    (tmp_path / "solo.pdf").write_bytes(  # no _p suffix: own conversation
        page([tb(1, "1、独立文档的题目。（1分）", 200)])
    )

    transcripts = pdf.read_pdfs(spark, str(tmp_path))
    convs = {(r.conv_id, r.turn_idx) for r in transcripts.select("conv_id", "turn_idx").collect()}
    assert convs == {("exam", 0), ("exam", 1), ("solo.pdf", 0)}

    assembled = assemble.merge_continuations(
        pipeline.extract(transcripts, mode="fused")
    )
    exam = {r.segment: r for r in assembled.collect() if r.conv_id == "exam"}
    merged = [r for r in exam.values() if r.n_parts == 2]
    assert len(merged) == 1
    m = merged[0]
    assert m.question_number == 2 and m.score == 8
    assert m.span_text == "2、解下列方程组，其中未知数x与y满足\n如下约束条件，并写出完整过程。（8分）"
    assert (m.turn_first, m.turn_last) == (0, 1)
    # Q1 and Q3 stay single-part
    singles = sorted(r.question_number for r in exam.values() if r.n_parts == 1)
    assert singles == [1, 3]


def test_hypothesis_text_roundtrip():
    """Property: ANY single-block text (no newlines/controls, not
    whitespace-only) survives write→parse byte-exactly — escapes,
    parens, backslashes, CJK, and octal-looking sequences included."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.characters(
        codec="utf-8",
        exclude_categories=("Cs", "Cc"),
        include_characters="()\\（）【】。\t 一二三题分",
    )
    texts = st.text(alphabet=alphabet, min_size=1, max_size=120).filter(
        lambda t: t.strip() and "\n" not in t and "\r" not in t
    )

    @settings(max_examples=150, deadline=None)
    @given(line=texts, compress=st.booleans())
    def check(line, compress):
        blocks = [{"block_label": "text", "block_content": line,
                   "block_bbox": [100, 100, 1900, 160], "block_id": 1,
                   "block_order": 1, "group_id": 1}]
        p = pdf.parse_pdf_py(pdf.make_pdf(blocks, 2000, 2800, compress=compress))
        assert p is not None
        got = [b["block_content"] for b in p["blocks"]]
        assert got == [line]

    check()


def test_two_column_reading_order():
    """Two-column page: blocks must read title → left column top-down →
    right column top-down, not y-interleaved across the midline."""
    def tb(bid, content, x1, y, x2):
        return {"block_label": "text", "block_content": content,
                "block_bbox": [x1, y, x2, y + 60], "block_id": bid,
                "block_order": bid, "group_id": bid}

    blocks = [
        {"block_label": "doc_title", "block_content": "二栏测试卷",
         "block_bbox": [400, 80, 1600, 150], "block_id": 1,
         "block_order": 1, "group_id": 1},
        tb(2, "1、左栏第一题。（2分）", 100, 300, 900),
        tb(3, "2、左栏第二题。（2分）", 100, 900, 900),
        tb(4, "3、右栏第一题。（2分）", 1100, 300, 1900),
        tb(5, "4、右栏第二题。（2分）", 1100, 900, 1900),
    ]
    p = pdf.parse_pdf_py(pdf.make_pdf(blocks, 2000, 2800))
    assert p is not None
    contents = [b["block_content"] for b in p["blocks"]]
    assert contents == [
        "二栏测试卷",
        "1、左栏第一题。（2分）",
        "2、左栏第二题。（2分）",
        "3、右栏第一题。（2分）",
        "4、右栏第二题。（2分）",
    ]
    # ids follow the corrected reading order
    assert [b["block_id"] for b in p["blocks"]] == [1, 2, 3, 4, 5]


def test_single_column_order_unchanged():
    """Full-width blocks keep plain y-order (the common exam layout)."""
    p = pdf.parse_pdf_py(pdf.make_pdf(BLOCKS, 2000, 2800))
    assert [b["block_content"] for b in p["blocks"] if b["block_label"] != "image"] == [
        BLOCKS[0]["block_content"], BLOCKS[1]["block_content"]
    ]
