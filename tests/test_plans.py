"""Physical-plan shapes of the ``job.py`` path: the properties that
keep it scalable (no shuffle where none is needed, pruning and
pushdown reaching the parquet scan) asserted on ``explain`` output.
The sparse assembly's plan is asserted in test_assemble and the
bucketed-table plans in test_catalog."""
import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F
import pytest

from xtract import assemble, fingerprint, gen, html, parity, pdf, pipeline, sources, split, structure


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    return sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("(") and ") Exchange" in ln
    )


def read_schema(plan: str) -> str:
    assert "ReadSchema" in plan
    return plan.split("ReadSchema", 1)[1].splitlines()[0]


@pytest.fixture(scope="module")
def tr(spark, tmp_path_factory):
    """A transcripts parquet scan (pruning and pushdown need a file source)."""
    path = str(tmp_path_factory.mktemp("plans") / "transcripts")
    gen.transcripts(spark, 20, partitions=2).write.parquet(path)
    return spark.read.parquet(path)


def test_fused_extraction_is_shuffle_free_and_pruned(tr):
    p = plan_of(pipeline.extract(tr, mode="fused"))
    assert "Exchange" not in p
    rs = read_schema(p)
    assert "role" not in rs and "tool" not in rs


def test_conv_id_filter_pushed_to_scan(tr):
    p = plan_of(pipeline.extract(tr.filter(F.col("conv_id") == "conv00000003")))
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id" in p


def test_relational_split_is_narrow(tr):
    spans = split.split_spans(sources.exploded_blocks(sources.parse_payloads(tr)))
    p = plan_of(spans)
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p  # the detection UDF
    assert "WholeStageCodegen" in plan_of(spans, "codegen")


def test_pdf_path_is_narrow(pdf_pages):
    spans = pipeline.extract(
        pdf.pdf_to_transcripts(pdf_pages(8, 2)), mode="fused"
    )
    assert "Exchange" not in plan_of(spans)


def test_html_main_content_is_narrow(html_pages):
    main = html.extract_main_content(html_pages(8, 2))
    assert "Exchange" not in plan_of(main)


def test_fingerprint_kernel_is_narrow_and_pruned(spark, tr, tmp_path):
    path = str(tmp_path / "spans")
    pipeline.extract(tr, mode="fused").write.parquet(path)
    keyed = spark.read.parquet(path).select(
        fingerprint.span_key().alias("doc_id"), F.col("span_text").alias("text")
    )
    p = plan_of(fingerprint.fingerprints(keyed))
    assert "Exchange" not in p
    rs = read_schema(p)
    assert "span_text" in rs and "bbox" not in rs and "qtype" not in rs


def test_dense_assembly_shuffles_once(tr):
    p = plan_of(assemble.merge_continuations(pipeline.extract(tr, mode="fused")))
    assert n_exchanges(p) == 1


def test_conv_windows_is_one_secondary_sort(tr):
    p = plan_of(structure.conv_windows(tr))
    assert n_exchanges(p) == 1
    assert "MapInPandas" in p and "Sort" in p and "Join" not in p


def test_parity_sweep_joins_digests(tr):
    p = plan_of(parity.parity_report(tr, pipeline.extract(tr)))
    assert "MapInPandas" in p  # the oracle runs on the executors
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "collect_list" in p  # digests aggregate before the join


def test_partitioned_sink_prunes_partitions_and_columns(spark, tr, tmp_path):
    path = str(tmp_path / "partitioned")
    (
        pipeline.extract(tr, mode="fused")
        .withColumn("pb", F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("int"))
        .write.partitionBy("pb")
        .parquet(path)
    )
    p = plan_of(
        spark.read.parquet(path)
        .filter(F.col("pb") == 3)
        .select("conv_id", "turn_idx", "question_number")
    )
    assert "pb" in p.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "span_text" not in read_schema(p)
