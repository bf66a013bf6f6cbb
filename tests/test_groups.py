"""v2-analyzer group assembly: fused and relational plans vs the
single-node oracle (X4 deterministic routing + J7 repair + A1 merge)."""
import pytest

from xtract import gen, oracle, pipeline

N = 10


def _norm(rows):
    out = {}
    for r in rows:
        d = r.asDict()
        out.setdefault((d["conv_id"], d["turn_idx"]), []).append(
            (
                d["group_seq"],
                d["gtype"],
                tuple(d["block_ids"]),
                tuple(d["merged_bbox"]),
                d["merged_text"],
            )
        )
    for v in out.values():
        v.sort()
    return out


@pytest.fixture(scope="module")
def transcripts(spark):
    df = gen.transcripts(spark, N).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def expected():
    exp = {}
    for row in (r for c in range(N) for r in gen.conv_rows(c)):
        gs = oracle.analyze_turn(row["text"])
        if gs:
            exp[(row["conv_id"], row["turn_idx"])] = sorted(
                (
                    g["group_seq"],
                    g["gtype"],
                    tuple(g["block_ids"]),
                    tuple(g["merged_bbox"]),
                    g["merged_text"],
                )
                for g in gs
            )
    return exp


def test_analyze_fused_matches_oracle(spark, transcripts, expected):
    got = _norm(pipeline.analyze(transcripts).collect())
    assert got == expected


def test_analyze_relational_matches_oracle(spark, transcripts, expected):
    got = _norm(pipeline.analyze(transcripts, "relational").collect())
    assert got == expected


def test_group_invariants(expected):
    """Every group's bbox encloses its members; unknown groups are
    singletons; question groups lead with their text block id."""
    for rows in expected.values():
        for _, gtype, block_ids, bbox, _text in rows:
            assert len(block_ids) >= 1
            if gtype == "unknown":
                assert len(block_ids) == 1
            assert bbox[0] <= bbox[2] and bbox[1] <= bbox[3]
