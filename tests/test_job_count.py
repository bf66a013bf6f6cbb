"""A ceiling on the Spark jobs of one in-process ``job.run`` with the
benchmark's sink set. At this size a run's CPU is mostly the JVM
planning and running small jobs, so the count may fall but must not
rise; lower ``MAX_JOBS`` with each change that cuts jobs."""
import job

MAX_JOBS = 29


def test_job_run_spark_jobs_ceiling(spark, count_jobs, tmp_path):
    argv = ["--input", "gen:40", "--output", str(tmp_path / "spans"),
            "--checkpoint", str(tmp_path / "ckpt"), "--assembled-mode", "sparse",
            "--parity-sample", "16"]
    for sink in ("assembled", "windows", "stats", "dup-clusters"):
        argv += [f"--{sink}", str(tmp_path / sink)]
    line, jobs = count_jobs(lambda: job.run(spark, job.parse_args(argv)))
    assert line["parity"]["mismatch"] == 0
    assert jobs <= MAX_JOBS
