"""``job.run`` is re-entrant: a run in a long-lived session leaves the
session as it found it — no RDD left persisted, no SQL conf, table,
temp view or job-group property changed — so a caller can run the job
again and again in one session. The runs take the benchmark's
``skewed_sinks`` flags; with ``cc.SMALL_EDGES = 0`` the dup-cluster
sink's star rounds run and leave their last edge generation
persisted until the job releases it. One conversation and eight
checkpoint buckets keep the four runs within a minute."""
import pytest

import job
from xtract import cc, ckpt

N_CONVS = 1
LOCAL_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
)


def _state(spark):
    sc = spark.sparkContext
    return {
        "persistent_rdds": set(sc._jsc.getPersistentRDDs().keys()),  # noqa: SLF001
        "sql_conf": {r.key: r.value for r in spark.sql("SET").collect()},
        "tables": sorted(
            (t.name, t.isTemporary) for t in spark.catalog.listTables()
        ),
        "local_props": {k: sc.getLocalProperty(k) for k in LOCAL_PROPS},
    }


@pytest.mark.parametrize("small_edges", [0, 0, 0, cc.SMALL_EDGES])
def test_run_leaves_session_as_found(spark, tmp_path, monkeypatch, small_edges):
    monkeypatch.setattr(cc, "SMALL_EDGES", small_edges)
    monkeypatch.setattr(ckpt, "N_BUCKETS", 8)
    argv = [
        "--input", f"gen:{N_CONVS}", "--output", str(tmp_path / "spans"),
        "--checkpoint", str(tmp_path / "ckpt"), "--parity-sample", "16",
        "--assembled", str(tmp_path / "assembled"), "--assembled-mode", "sparse",
        "--windows", str(tmp_path / "windows"), "--stats", str(tmp_path / "stats"),
        "--dup-clusters", str(tmp_path / "dup_clusters"),
    ]
    before = _state(spark)
    line = job.run(spark, job.parse_args(argv))
    assert line["parity"]["mismatch"] == 0
    assert _state(spark) == before
