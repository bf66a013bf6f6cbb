"""The benchmark's metric and workload tables — the one source that
``BENCHMARK.json`` mirrors (``perfbench/tests/test_perfbench.py`` keeps them
equal) and that ``run.py`` reports against.

Every per-layer metric names the end-to-end metric and workload it
should move (``moves``), so a later change can cite it by name. A
per-layer metric whose layer is not on a workload's path reads 0 there:
the workload bypasses that layer.
"""
from __future__ import annotations

WORKLOADS = {
    "skewed_sinks": "job.py's shape on 4k turns with a mega-conversation every 50: checkpointed extraction, 1/16 "
    "parity audit, sparse assembly, windows, stats, dup-clusters; kernel, ckpt, shuffles, skewed keys",
    "pages": "8k HTML + 8k PDF pages to parquet through html and pdf; bypasses ckpt, parity, the sinks and JSON "
    "payload parsing, so it is the control for those layers",
}

# name, unit, better, bound, what it measures. Both are CPU time of the
# run's process tree: this process, the Spark JVM and its Python workers.
# Wall-clock times are in each run's context line and in the traced run:
# on a shared 4-vCPU host their medians drifted by a third within an
# hour and their quartiles spread by up to 0.30, wider than any bound,
# while CPU time drifted by under a tenth.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25, "user+system CPU seconds of session.build (JVM start included) + the first "
     "Python-worker action"),
    ("cpu_s_per_kturn", "s", "lower", 0.25, "user+system CPU seconds of one job, from the scan of the input table "
     "to committed, audited outputs, per 1000 input turns (pages: pages); the session's first job, as in a job.py "
     "run, so first-use planning and worker imports count"),
]

_S = "skewed_sinks"
_P = "pages"

# name, unit, better, moves
PER_LAYER = [
    ("session.build_s", "s", "lower", f"setup_s on {_S}, {_P}"),
    ("session.first_task_s", "s", "lower", f"setup_s on {_S}, {_P}"),
    ("oracle.turn_us_p50", "us", "lower", f"cpu_s_per_kturn on {_S} (JSON turns), {_P} (payloads)"),
    ("oracle.turn_us_p99", "us", "lower", f"cpu_s_per_kturn on {_S} (JSON turns), {_P} (payloads)"),
    ("oracle.spans_per_turn", "count", "higher", f"cpu_s_per_kturn on {_S}, {_P} (count, must not drift)"),
    ("pipeline.extract_s", "s", "lower", f"cpu_s_per_kturn on {_S}"),
    ("pipeline.spans", "count", "higher", f"cpu_s_per_kturn on {_S} (count, must not drift)"),
    ("pipeline.kernel_share", "ratio", "higher", f"cpu_s_per_kturn on {_S}"),
    ("pipeline.scaling_eff", "ratio", "higher", f"cpu_s_per_kturn on {_S}"),
    ("pipeline.conv_stats_s", "s", "lower", f"cpu_s_per_kturn on {_S}"),
    ("catalog.write_s", "s", "lower", f"cpu_s_per_kturn on {_S}, {_P}"),
    ("catalog.write_mb", "MB", "lower", f"cpu_s_per_kturn on {_S}, {_P}"),
    ("catalog.files", "count", "lower", f"cpu_s_per_kturn on {_S}, {_P}"),
    ("catalog.read_s", "s", "lower", f"cpu_s_per_kturn on {_S}"),
    ("ckpt.run_s", "s", "lower", f"cpu_s_per_kturn and ckpt.resume_s on {_S}, nothing on {_P}"),
    ("ckpt.self_s", "s", "lower", f"cpu_s_per_kturn and ckpt.resume_s on {_S}, nothing on {_P}"),
    ("ckpt.resume_s", "s", "lower", f"recovery time on {_S}: ckpt.run_with_checkpoint after a crash that kept "
     f"half the lineage buckets; nothing on {_P}"),
    ("ckpt.buckets_done", "count", "lower", f"ckpt.resume_s on {_S}, nothing on {_P}"),
    ("ckpt.buckets_skipped", "count", "higher", f"ckpt.resume_s on {_S}, nothing on {_P}"),
    ("parity.report_s", "s", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("parity.turns_audited", "count", "higher", f"cpu_s_per_kturn on {_S} only (count, must not drift)"),
    ("parity.mismatch", "count", "lower", f"correctness on {_S} (must stay 0)"),
    ("assemble.sparse_s", "s", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("assemble.segments", "count", "higher", f"cpu_s_per_kturn on {_S} only (count, must not drift)"),
    ("structure.conv_windows_s", "s", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("fingerprint.dup_spans_s", "s", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("fingerprint.pairs", "count", "higher", f"cpu_s_per_kturn on {_S} only (count, must not drift)"),
    ("cc.components_s", "s", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("cc.rounds", "count", "lower", f"cpu_s_per_kturn on {_S} only"),
    ("html.main_content_s", "s", "lower", f"cpu_s_per_kturn on {_P} only"),
    ("html.good_block_ratio", "ratio", "higher", f"cpu_s_per_kturn on {_P} only (must not drift)"),
    ("pdf.extract_s", "s", "lower", f"cpu_s_per_kturn on {_P} only"),
    ("pdf.dropped_pages", "count", "lower", f"cpu_s_per_kturn on {_P} only"),
    ("trace.job_s", "s", "lower", "wall time of the traced job (the session's third), every workload"),
    ("trace.overhead_s", "s", "lower", "trace.job_s minus the wall time of the untraced job just before it, every workload"),
]

# Spark counters per layer, from the event log of the traced run; they
# mainly point at cpu_s_per_kturn on skewed_sinks
SPARK_LAYERS = [
    "pipeline", "catalog", "ckpt", "parity", "assemble", "structure",
    "fingerprint", "cc", "html", "pdf",
]
for _layer in SPARK_LAYERS:
    PER_LAYER += [
        (f"{_layer}.shuffle_write_mb", "MB", "lower", f"cpu_s_per_kturn on {_S}"),
        (f"{_layer}.spill_mb", "MB", "lower", f"cpu_s_per_kturn on {_S}"),
        (f"{_layer}.task_skew", "ratio", "lower", f"cpu_s_per_kturn on {_S}"),
        (f"{_layer}.failed_tasks", "count", "lower", "correctness on every workload (must stay 0)"),
    ]


def benchmark_json(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound, _ in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }
