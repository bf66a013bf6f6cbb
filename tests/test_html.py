"""HTML main-content extraction: the parse-and-classify kernel recovers
exactly the planted article paragraphs and equals the relational
reference (DOM block rows classified in SQL, aggregated per turn)."""
import pyspark.sql.functions as F
import pytest

from xtract import gen, html, schema

N = 40


@pytest.fixture(scope="module")
def pages(html_pages):
    df = html_pages(N).cache()
    df.count()
    yield df
    df.unpersist()


def test_dom_parse_features():
    doc = (
        "<html><body><nav><a href='/'>Home</a> <a href='/b'>Blog</a></nav>"
        "<article><p>The analysis of the data was done in a careful and "
        "systematic way by the whole team over a long period.</p>"
        "<p>Short note.</p></article>"
        "<footer><a href='#'>Terms</a></footer></body></html>"
    )
    blocks = html.parse_blocks_py(doc)
    by_text = {b["text"][:12]: b for b in blocks}
    nav = by_text["Home Blog"[:12]]
    # inter-anchor whitespace isn't link text, so slightly below 1.0
    assert nav["in_chrome"] and nav["link_chars"] / nav["n_chars"] > 0.8
    p1 = [b for b in blocks if b["tag"] == "p"][0]
    assert not p1["in_chrome"] and p1["link_chars"] == 0
    assert p1["stop_hits"] > 5
    foot = blocks[-1]
    assert foot["in_chrome"]


def test_extract_recovers_planted_paragraphs(spark, pages):
    got = {
        r.conv_id: r.main_text
        for r in html.extract_main_content(pages).collect()
    }
    for i in range(N):
        r = gen._rng(f"html{i}", 0)
        _, paras = gen.html_page(r)
        assert got[f"page{i:06d}"] == "\n".join(paras), i


def test_classification_boilerplate_rates(spark, pages):
    stats = html.extract_main_content(pages).agg(
        F.sum("blocks_good").alias("g"),
        F.sum("blocks_total").alias("t"),
        F.sum("chars_good").alias("cg"),
        F.sum("chars_total").alias("ct"),
    ).collect()[0]
    # boilerplate removed but the bulk of characters retained
    assert stats.g < stats.t
    assert stats.cg / stats.ct > 0.6


def test_malformed_html(spark):
    """The parser tolerates garbage: an unclosed ``<p>`` and a stray
    ``<<<`` give two short blocks, both boilerplate."""
    df = spark.createDataFrame(
        [("x", 0, "tool", "<p>unclosed <div><<< & rubbish", None, None)],
        schema=schema.TRANSCRIPTS,
    )
    blocks = [
        (r.block_ord, r.tag, r.text, r.n_chars, r.n_tokens, r.in_chrome)
        for r in html.dom_blocks(df).collect()
    ]
    assert blocks == [
        (0, "p", "unclosed", 8, 1, False),
        (1, "div", "<<< & rubbish", 13, 1, False),
    ]
    assert [tuple(r) for r in html.extract_main_content(df).collect()] == [
        ("x", 0, "", 2, 0, 0, 21)
    ]


def reference_main_content(transcripts):
    """The relational form: SQL-classified block rows aggregated per
    turn (good blocks' text in ``block_ord`` order)."""
    good = F.col("label") == "good"
    blocks = html.classify(html.dom_blocks(transcripts))
    return blocks.groupBy("conv_id", "turn_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(good, F.struct("block_ord", "text")))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("main_text"),
        F.count("*").alias("blocks_total"),
        F.count_if(good).cast("long").alias("blocks_good"),
        F.sum(F.when(good, F.col("n_chars")).otherwise(0)).cast("long").alias("chars_good"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


def _p(text):
    return f"<p>{text}</p>"


def _linked(k, rest):
    return f"<p><a href='#'>{'x' * k}</a>{'y' * rest}</p>"


# Each threshold page holds a block exactly on the threshold (good)
# followed by one just past it (boilerplate).
EDGE_PAGES = {
    "chrome": "<nav>" + "the cat sat on the mat and " * 10 + "</nav>"
    "<footer><a href='#'>Terms</a></footer>",
    "empty": "",
    "null": None,
    "tags_only": "<div><p></p></div>",
    "cjk": _p("求下列方程的解并写出完整的求解过程与验算步骤"),
    "link_0.4": _linked(80, 120) + _linked(81, 119),
    "len_20": _p("题" * 20) + _p("题" * 19),
    "cjk_0.5": _p("题" * 20 + "z" * 20) + _p("题" * 19 + "z" * 21),
    "len_80": _p("the " + "q" * 76) + _p("the " + "q" * 75),
    "stop_0.25": _p("the " + " ".join(["w" * 25] * 3)) + _p("the " + " ".join(["w" * 19] * 4)),
    "len_200": _p("z" * 200) + _p("z" * 199),
}


def test_main_content_equals_relational_reference(spark, pages):
    edges = spark.createDataFrame(
        [(cid, 0, "tool", text, None, None) for cid, text in EDGE_PAGES.items()],
        schema=schema.TRANSCRIPTS,
    )
    df = pages.unionByName(edges)
    got = html.extract_main_content(df).cache()
    ref = reference_main_content(df)
    assert got.count() == N + len(EDGE_PAGES) - 3
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    rows = {r.conv_id: r for r in got.filter(~F.col("conv_id").startswith("page")).collect()}
    got.unpersist()
    assert set(EDGE_PAGES) - set(rows) == {"empty", "null", "tags_only"}
    assert (rows["chrome"].main_text, rows["chrome"].blocks_good) == ("", 0)
    assert rows["chrome"].blocks_total == 2
    assert rows["cjk"].main_text == "求下列方程的解并写出完整的求解过程与验算步骤"
    for cid in ("link_0.4", "len_20", "cjk_0.5", "len_80", "stop_0.25", "len_200"):
        r = rows[cid]
        assert (r.blocks_total, r.blocks_good) == (2, 1), cid
        assert r.main_text == html.parse_blocks_py(EDGE_PAGES[cid])[0]["text"], cid


def test_read_html_directory_chains_into_extraction(spark, tmp_path):
    """html:<dir> source: boilerplate-stripped page text flows into the
    extraction pipeline as a raw-text payload — a scraped exam page
    yields question spans, chrome yields none."""
    from xtract import html as hmod
    from xtract import pipeline

    exam_body = (
        "<p>1、求下列方程的解，并写出完整的求解过程与验算步骤。（5分）</p>"
        "<p>2、计算下面三角形的面积，结果保留两位小数并注明单位。（3分）</p>"
    )
    page = (
        "<html><body><header><nav><a href='/a'>Home</a><a href='/b'>About</a>"
        "</nav></header><article>" + exam_body + "</article>"
        "<footer><a href='#'>Terms</a></footer></body></html>"
    )
    (tmp_path / "exam.html").write_text(page, encoding="utf-8")
    (tmp_path / "chrome.html").write_text(
        "<html><body><nav><a href='/x'>only nav</a></nav></body></html>",
        encoding="utf-8",
    )

    tr = hmod.read_html(spark, str(tmp_path))
    rows = {r.conv_id: r.text for r in tr.collect()}
    assert set(rows) == {"exam.html", "chrome.html"}
    assert "1、求下列方程的解" in rows["exam.html"]
    assert "Home" not in rows["exam.html"]  # nav stripped

    spans = pipeline.extract(tr, mode="fused")
    nums = sorted(
        r.question_number
        for r in spans.collect()
        if r.conv_id == "exam.html" and r.question_number is not None
    )
    assert nums == [1, 2]
    assert all(r.conv_id != "chrome.html" or r.question_number is None
               for r in spans.collect())


def test_read_html_empty_directory_reads_no_rows(spark, tmp_path):
    """html:<dir> on a directory without .html files gives no turns,
    as pdf:<dir> does, instead of a PATH_NOT_FOUND error."""
    (tmp_path / "notes.txt").write_text("not a page", encoding="utf-8")
    assert html.read_html(spark, str(tmp_path)).count() == 0


def test_read_html_keeps_file_names(spark, tmp_path):
    """conv_id is the file's own name, not its URI-escaped form."""
    names = ["my exam.html", "a+b.html", "100%.html", "x%20y.html"]
    for name in names:
        (tmp_path / name).write_text(_p("z" * 200), encoding="utf-8")
    rows = html.read_html(spark, str(tmp_path)).collect()
    assert sorted(r.conv_id for r in rows) == sorted(names)
    assert {r.text for r in rows} == {"z" * 200}


def test_read_html_any_case_html_and_htm(spark, tmp_path):
    """``.html`` and ``.htm`` pages are read whatever the case of the
    extension, each under its own file name; other files are not."""
    names = ["c.html", "e.htm", "f.HTML", "g.Htm"]
    for name in names + ["notes.txt", "h.xhtml"]:
        (tmp_path / name).write_text(_p("z" * 200), encoding="utf-8")
    rows = html.read_html(spark, str(tmp_path)).collect()
    assert sorted(r.conv_id for r in rows) == sorted(names)
