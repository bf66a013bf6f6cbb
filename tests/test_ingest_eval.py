"""Envelope ingestion (S1) on the reference's own input sample, and
the evaluation metrics job (A5/G6/J6)."""
import json

import pyspark.sql.functions as F

from xtract import evaluator, gen, ingest, pipeline

SAMPLE = "/root/reference/result_data1.json"


def test_envelope_ingest_runs_pipeline(spark):
    tr = ingest.read_envelopes(spark, SAMPLE)
    assert tr.count() == 1
    spans = pipeline.extract(tr, mode="fused")
    rows = spans.collect()
    # result_data1.json: 27 blocks, 12 text blocks → ≥12 span rows
    assert len(rows) >= 12
    # the sample's known metadata line is present as a span
    texts = [r.span_text for r in rows]
    assert any("时间" in t and "满分" in t for t in texts)
    info = pipeline.exam_info(tr).collect()[0]
    # the sample has TWO doc_title blocks; the reference loop keeps the
    # LAST one ("(月考测试卷一)"), which carries no subject keyword
    assert info.title == "(月考测试卷一)"
    assert info.subject == ""
    assert info.time_limit == "60分钟"
    assert info.total_score == "100"


def test_envelope_conv_id_is_file_name(spark, tmp_path):
    """conv_id is the file's own name, not its URI-escaped form."""
    names = ["my exam.json", "a+b.json", "100%.json", "x%20y.json"]
    env = {"layoutParsingResults": [{"prunedResult": {
        "width": 100, "height": 200, "parsing_res_list": []}}]}
    for name in names:
        (tmp_path / name).write_text(json.dumps(env), encoding="utf-8")
    rows = ingest.read_envelopes(spark, str(tmp_path / "*.json")).collect()
    assert sorted(r.conv_id for r in rows) == sorted(names)
    assert all(json.loads(r.text)["page"] == {"width": 100, "height": 200} for r in rows)


def test_envelope_relational_agrees(spark):
    tr = ingest.read_envelopes(spark, SAMPLE)
    a = sorted(
        (r.seq, r.question_number, r.span_text)
        for r in pipeline.extract(tr, mode="fused").collect()
    )
    b = sorted(
        (r.seq, r.question_number, r.span_text)
        for r in pipeline.extract(tr, mode="relational").collect()
    )
    assert a == b


def test_evaluator_perfect_match(spark):
    tr = gen.transcripts(spark, 6)
    spans = pipeline.extract(tr, mode="fused").cache()
    m = evaluator.evaluate(spans, spans).collect()[0]
    assert m.detection_precision == 1.0
    assert m.detection_recall == 1.0
    assert m.detection_f1 == 1.0
    assert abs(m.bbox_iou_mean - 1.0) < 1e-9
    assert m.image_association_acc == 1.0
    assert m.split_accuracy == 1.0


def test_evaluator_detects_degradation(spark):
    tr = gen.transcripts(spark, 6)
    spans = pipeline.extract(tr, mode="fused").cache()
    # perturb: drop a third of questions and shift every bbox
    broken = spans.filter(F.col("turn_idx") % 3 != 0).withColumn(
        "bbox", F.transform("bbox", lambda v: v + 40)
    )
    m = evaluator.evaluate(broken, spans).collect()[0]
    assert m.detection_recall < 1.0
    assert m.detection_precision == 1.0  # all kept rows still correct ids
    assert 0 < m.detection_f1 < 1.0
    assert m.bbox_iou_mean < 1.0
