"""Extraction benchmark.

    python3 perfbench/run.py --workload skewed_sinks --seed 1 --seconds 1 --trace 0

Run from a checkout of the repository. The run generates or reuses the
workload's seeded corpus (``corpus.py``), then repeats cycles until
``--seconds`` have passed, at least one: build a fresh Spark session (a
new JVM), run the workload's job (``workloads.py``) as its first job,
as one ``job.py`` run does, check the outputs the job wrote, and stop the
session. It prints, as the last stdout line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics (medians over the cycles) with ``--trace 0``, the per-layer
metrics of one traced job with ``--trace 1`` (``metrics.py`` lists both).
The line before it holds the run's context: host-probe throughput at
start and end, corpus checksum and every cycle's samples, wall-clock
set-up and job times among them.

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_cache/`` at the checkout root. The exit code is 0 only for
a correct run; a checkout without the ``xtract`` package exits 2.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CACHE = ROOT / ".perfbench_cache"


def launch_env(trace: bool) -> Path:
    """Spark launch configuration: scratch dirs inside the checkout and,
    when tracing, the event log. Returns the event-log directory."""
    tmp, local, evlog = WORK / "tmp", WORK / "spark-local", WORK / "eventlog"
    shutil.rmtree(evlog, ignore_errors=True)
    for d in (tmp, local, evlog):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # Every JVM, spark-submit's launcher included: no hsperfdata, temp
    # files here, and a 2 GB heap in place of the session's 8 GB driver
    # memory (this variable overrides command-line flags). The corpora
    # need far less; an 8 GB cap let the heap grow to anywhere between
    # 2 and 8 GB of RSS per run, which widened the spread of CPU time.
    os.environ["_JAVA_OPTIONS"] = f"-Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    args = ["--conf", f"spark.local.dir={local}"]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evlog}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return evlog


def setup_once(nproc: int):
    """session.build (JVM start included) + the first Python-worker
    action; returns (spark, build_s, first_task_s)."""
    from xtract import session

    def identity(batches):  # nested, so it ships by value, not by module
        yield from batches

    t0 = time.perf_counter()
    spark = session.build(app="perfbench", cores=nproc)
    t1 = time.perf_counter()
    spark.range(nproc, numPartitions=nproc).mapInPandas(identity, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark() -> None:
    """Stop the session and its JVM, and wait for every process they
    ran; whatever still runs after half a minute is killed."""
    from pyspark import SparkContext

    import proc

    pids = proc.tree_pids()[1:]
    gw = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if gw is not None:
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
        for pid in proc.wait_gone(pids, timeout_s=30):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        proc.wait_gone(pids)


def spark_tasks(sc) -> tuple[int, int]:
    """(tasks run, tasks failed) over every stage the session ran."""
    st = sc.statusTracker()
    stages = {s for j in st.getJobIdsForGroup(None) if (info := st.getJobInfo(j)) for s in info.stageIds}
    done = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            done += info.numCompletedTasks
            failed += info.numFailedTasks
    return done + failed, failed


def iteration(workload: str, ctx, tracer=None) -> dict:
    """One job; traced, and where the workload resumes, then a simulated
    crash and the resume."""
    import proc
    import workloads as wl

    shutil.rmtree(ctx.out, ignore_errors=True)
    ctx.tracer = tracer
    cpu0, t0 = proc.tree_cpu_s(), time.perf_counter()
    if tracer is None:
        res = wl.run_job(workload, ctx)
    else:
        with tracer.span("job") as root:
            res = wl.run_job(workload, ctx)
    job_s, cpu_s = time.perf_counter() - t0, proc.tree_cpu_s() - cpu0
    ctx.release()
    resumed = {}
    if tracer is not None and workload in wl.RESUMES:
        wl.crash(ctx)
        with tracer.span("resume"):
            resumed = wl.resume(ctx)
        ctx.release()
    ctx.tracer = None
    wl.job_checks(workload, ctx, res)
    out = {"job_s": job_s, "cpu_s": cpu_s, "res": res, "resumed": resumed}
    if tracer is not None:
        out["root"] = root["id"]
    return out


def end_to_end(rows: int, cycles: list) -> dict:
    return {
        "setup_s": statistics.median(c["setup_s"] for c in cycles),
        "cpu_s_per_kturn": statistics.median(c["job_cpu_s"] for c in cycles) / (rows / 1000),
    }


def per_layer(workload: str, ctx, spans_all, setup, traced, overhead_s, oracle, scaling, counters) -> dict:
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    import tracing
    import workloads as wl
    from metrics import PER_LAYER, SPARK_LAYERS

    m = {name: 0.0 for name, *_ in PER_LAYER}
    spans = tracing.subtree(spans_all, traced["root"])
    selfs = tracing.self_times(spans_all)

    def total(name: str, key: str | None = None) -> float:
        return sum(
            (s.get(key, 0) if key else s["end"] - s["start"]) for s in spans if s["name"] == name
        )

    m["session.build_s"], m["session.first_task_s"] = setup
    m.update({k: v for k, v in oracle.items() if k in m})
    for metric, span in [
        ("pipeline.extract_s", "pipeline.extract"),
        ("pipeline.conv_stats_s", "pipeline.conv_stats"),
        ("catalog.write_s", "catalog.write"),
        ("catalog.read_s", "catalog.read"),
        ("ckpt.run_s", "ckpt.run"),
        ("parity.report_s", "parity.report"),
        ("assemble.sparse_s", "assemble.sparse"),
        ("structure.conv_windows_s", "structure.conv_windows"),
        ("fingerprint.dup_spans_s", "fingerprint.dup_spans"),
        ("cc.components_s", "cc.components"),
        ("html.main_content_s", "html.main_content"),
        ("pdf.extract_s", "pdf.extract"),
    ]:
        m[metric] = total(span)
    m["pipeline.spans"] = total("pipeline.extract", "rows")
    m["assemble.segments"] = total("assemble.sparse", "rows")
    m["fingerprint.pairs"] = total("fingerprint.dup_spans", "rows")
    m["ckpt.self_s"] = sum(selfs[s["id"]] for s in spans if s["name"] == "ckpt.run")
    m["catalog.files"], m["catalog.write_mb"] = wl.output_files(ctx.out)
    res, resumed = traced["res"], traced["resumed"]
    if workload == "pages":
        html_out = pq.read_table(ctx.path("html"), columns=["blocks_good", "blocks_total"])
        m["html.good_block_ratio"] = sum(html_out.column("blocks_good").to_pylist()) / max(
            1, sum(html_out.column("blocks_total").to_pylist())
        )
        n_pdf = sum(pq.read_metadata(f).num_rows for f in Path(ctx.corpus.part("pdf")).glob("*.parquet"))
        seen = pads.dataset(ctx.path("pdf"), format="parquet").to_table(columns=["turn_idx"])
        m["pdf.dropped_pages"] = n_pdf - len(set(seen.column("turn_idx").to_pylist()))
    else:
        ck = resumed or res["ckpt"]  # the resume where the workload has one
        m["ckpt.resume_s"] = sum(s["end"] - s["start"] for s in spans_all if s["name"] == "resume")
        m["ckpt.buckets_done"] = ck["partitions_done"]
        m["ckpt.buckets_skipped"] = ck["partitions_skipped"]
        m["parity.turns_audited"] = res["parity"]["turns_audited"]
        m["parity.mismatch"] = res["parity"]["mismatch"]
        m["cc.rounds"] = res.get("cc_rounds", 0)
        if m["pipeline.extract_s"] > 0:
            m["pipeline.kernel_share"] = (
                ctx.corpus.rows * oracle["mean_us"] / 1e6 / (m["pipeline.extract_s"] * ctx.nproc)
            )
        m["pipeline.scaling_eff"] = scaling
    m["trace.job_s"] = traced["job_s"]
    m["trace.overhead_s"] = overhead_s
    for layer in SPARK_LAYERS:
        for k, v in counters.get(layer, {}).items():
            m[f"{layer}.{k}"] = v
    return m


def cycle(args, main, nproc: int, ops, evlog: Path) -> dict:
    """One fresh session and the workload's job in it, as one ``job.py``
    run pays for it: the job is the session's first, so first-use
    planning, code generation and worker imports are part of its cost.
    A traced cycle then repeats the job untraced and traced, and reads
    the per-layer metrics off the traced one."""
    import proc
    import tracing
    import workloads as wl

    out: dict = {}
    try:
        cpu0 = proc.tree_cpu_s()
        spark, build_s, first_task_s = setup_once(nproc)
        out.update(setup_s=proc.tree_cpu_s() - cpu0, setup_wall_s=build_s + first_task_s)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = wl.Ctx(spark, main, WORK / "out", nproc, ops)
        with proc.RssPeak() as rss:
            it = iteration(args.workload, ctx)
        out.update(peak_rss_mb=rss.peak_mb, job_wall_s=it["job_s"], job_cpu_s=it["cpu_s"])
        if args.trace:
            base = iteration(args.workload, ctx)
            tracer = tracing.Tracer(f"{args.workload}-s{args.seed}", spark.sparkContext)
            it = iteration(args.workload, ctx, tracer)
            tracer.dump(WORK / "spans.json")
            oracle = wl.oracle_sample(args.workload, main, args.seed)
            scaling = 0.0
            if args.workload != "pages":
                scaling = wl.extract_rate(ctx, nproc) / (nproc * wl.extract_rate(ctx, 1))
        wl.gate(args.workload, ctx, it["res"], it["resumed"], args.seed)
        ops.add(*spark_tasks(spark.sparkContext), "failed Spark tasks")
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark()
    if args.trace:
        counters = tracing.spark_counters(evlog / app_id, tracing.subtree(tracer.spans, it["root"]))
        out["per_layer"] = per_layer(
            args.workload, ctx, tracer.spans, (build_s, first_task_s), it,
            it["job_s"] - base["job_s"], oracle, scaling, counters,
        )
    return out


def run(args) -> tuple[dict, object, dict]:
    import bench
    import corpus as corpus_mod
    import workloads as wl

    nproc = os.cpu_count() or 1
    evlog = launch_env(bool(args.trace))
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc, "trace": args.trace}
    context["host_probe_mbps"] = {"start": bench.host_probe(nproc)}
    ops = wl.Ops()
    CACHE.mkdir(parents=True, exist_ok=True)
    generate = [sys.executable, str(HERE / "corpus.py"), args.workload, str(args.seed), str(nproc), str(CACHE)]
    subprocess.run(generate, check=True, stdout=sys.stderr)
    main = corpus_mod.cached(wl.spec(args.workload, args.seed), CACHE, nproc)
    context["corpus"] = {"rows": main.rows, "checksum": main.checksum}

    cycles = []
    t0 = time.perf_counter()
    while not cycles or (not args.trace and time.perf_counter() - t0 < args.seconds):
        cycles.append(cycle(args, main, nproc, ops, evlog))
    context["host_probe_mbps"]["end"] = bench.host_probe(nproc)
    context["samples"] = [{k: v for k, v in c.items() if k != "per_layer"} for c in cycles]
    if args.trace:
        return cycles[0]["per_layer"], ops, context
    return end_to_end(main.rows, cycles), ops, context


def main(argv: list[str] | None = None) -> int:
    from metrics import END_TO_END, PER_LAYER, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    sys.path.insert(0, str(ROOT))
    try:
        import bench  # noqa: F401  (host_probe)
        import xtract  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    try:
        metrics, ops, context = run(args)
    except Exception:  # noqa: BLE001 — report the failed run, then exit nonzero
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    units = {n: u for n, u, *_ in (PER_LAYER if args.trace else END_TO_END)}
    print(json.dumps({"context": context, "failures": ops.notes[:20]}))
    correct = ops.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, ops.attempted),
                "failed": ops.failed,
                "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
