"""SparkSession factory with the engine's scale posture baked in.

Single place for the configs the north rule calls out explicitly:
AQE + skew-join handling, Arrow-backed pandas UDFs, explicit shuffle
partitioning (SURVEY.md §4).

Who owns the driver JVM decides what ``build`` may set:

- Under ``spark-submit`` (the launcher sets ``PYSPARK_GATEWAY_PORT``)
  the driver JVM is already running, so ``build`` sets no master, no
  driver memory and no JVM option; the launcher's ``--master``,
  ``--driver-memory`` and ``--driver-java-options`` hold.
- A plain ``python`` driver (pytest, perfbench, notebooks) gets
  ``local[cores]``, and when this call starts the JVM, an 8 GB driver
  heap and a warm start from a dynamic class-data-sharing archive
  (JEP 350): the classes a Spark session loads are mapped from the
  archive instead of being parsed and verified again, which cuts
  session start-up CPU by about a third.
- That JVM also runs one C2 compiler thread (``-XX:CICompilerCount=2``:
  one C1 and one C2, where JDK 17 gives a 4-core host two C2). A
  ``job.py``-sized run is tens of short Spark jobs whose compiled code
  goes cold before the run ends, and under ``local[n]`` the compiler
  threads compete with the n task threads for the cores. C2 stays on,
  so hot code still reaches full optimisation, only later;
  ``-XX:TieredStopAtLevel=1`` (no C2) slowed a warm job by a quarter.
  Measured in docs/SCALE.md §5.

The archive is a machine-wide cache under ``~/.cache/xtract/cds/``,
named by the ``java -version`` string, the driver classpath's jar list
(names, sizes, mtimes) and the conf directory on that classpath, so a
stale archive is never mapped; archives of other keys are deleted.
Writing an archive makes that run's start-up dearer, and only later
runs gain, so it is written only where the cache is known to outlive
a run: the first launch that finds no archive only counts itself (in
``<key>.misses``) and starts as if there were no cache, and the next
one runs with ``-XX:ArchiveClassesAtExit``, its JVM writing the archive
(140-180 MB) when it exits (that Python process waits up to 2 min for
it at exit); a HOME used for one run never pays. The archive goes to a
per-process temporary name, published with ``os.replace`` only after
the JVM exited cleanly, and carries its byte size in its name,
because JDK 17 dies of SIGBUS on a truncated archive; a dump that is
not published is tried at most ``_DUMP_TRIES`` times. CDS logging is
off: the JVM writes its CDS warnings to stdout, where ``job.py``
prints its JSON line. Later
launches map it with ``-XX:SharedArchiveFile`` and
``-XX:+VerifySharedSpaces`` (a damaged archive is then skipped, not
used). JDK 17 refuses to dump when a directory on the classpath is not
empty, so the launch points ``SPARK_CONF_DIR`` at an empty directory
in the cache, and only when the real conf directory holds nothing but
``*.template`` files and nothing else adds directories to the
classpath; otherwise there is no archive. If the JVM will not start
with the archive options, the session starts without them. To drop
the cache, delete ``~/.cache/xtract/cds/``.

Under ``spark-submit`` the same archive can be passed by hand:
``--driver-java-options "-XX:SharedArchiveFile=<archive>"``, with
``SPARK_CONF_DIR`` set as above.
"""
from __future__ import annotations

import atexit
import contextlib
import hashlib
import itertools
import os
import re
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from .catalog import DEFAULT_BUCKETS

CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # byte cap matters more than the record cap for transcript
    # payloads: a 10k-record batch of 1 MB turns would be 10 GB
    # without it — 64 MB bounds per-batch worker memory regardless
    # of row width
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # list bucket dirs on the driver: a parallel listing is one job per read
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(DEFAULT_BUCKETS),
    # managed-table warehouse off the repo tree (btable: refs,
    # catalog.py); in-memory catalog — metadata is per-session,
    # data files persist under the warehouse dir
    "spark.sql.warehouse.dir": "/tmp/xtract_warehouse",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# one C1 + one C2 compiler thread in a driver JVM build starts
# (module docstring)
JIT_OPTIONS = "-XX:CICompilerCount=2"
CDS_DIR = Path.home() / ".cache" / "xtract" / "cds"
# launcher inputs that put more directories on the driver classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8
_JAVA_ENV = ("_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
# launches that find no archive: the first only counts itself, the
# next ones dump, this many at most (a dump whose JVM is killed, say,
# is never published)
_DUMP_TRIES = 3
# (driver JVM, the archive it writes at exit) for the launches of this
# process, which owns at most one driver JVM at a time, as pyspark does
_dumps: list[tuple[subprocess.Popen, Path]] = []
_seq = itertools.count()


def build(
    app: str = "xtract",
    cores: int = 32,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The session; ``shuffle_partitions`` defaults as
    ``_default_partitions`` says (``cores`` under ``local[cores]``)."""
    # spark-submit starts the Python driver with PYSPARK_GATEWAY_PORT
    # set (pyspark attaches to the launcher's JVM by it); builder
    # options would override the launcher's --master, so leave it be
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    local = not (submitted or SparkSession.getActiveSession())
    master = f"local[{cores}]" if local else None

    def get(conf: dict) -> SparkSession:
        b = SparkSession.builder.appName(app).config(map=conf)
        return (b.master(master) if master else b).getOrCreate()

    if submitted or SparkContext._gateway is not None:
        spark = get(CONF)
    else:
        spark = _launch(
            get,
            {
                **CONF,
                "spark.driver.memory": "8g",
                "spark.driver.extraJavaOptions": JIT_OPTIONS,
            },
        )
    n = shuffle_partitions or _default_partitions(spark.sparkContext)
    if n:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark


def _default_partitions(sc) -> int | None:
    """Shuffle partitions when the caller names none, or None to keep
    the session's: a launcher's ``--conf spark.sql.shuffle.partitions``
    holds; a local master or a launcher's ``spark.default.parallelism``
    gives ``defaultParallelism``. On a cluster master that value counts
    only the executors registered so far (2 with none yet, as under
    dynamic allocation), so Spark's own default (200, which AQE
    coalesces) stays."""
    conf = sc.getConf()
    if conf.contains("spark.sql.shuffle.partitions"):
        return None
    if conf.contains("spark.default.parallelism") or re.fullmatch(
        r"local(\[[^\]]*\])?", sc.master
    ):
        return sc.defaultParallelism
    return None


def _launch(get, conf: dict) -> SparkSession:
    """Start the driver JVM warm from the class-data-sharing archive
    when one applies (module docstring); the archive options are added
    to ``conf``'s driver JVM options, which every launch keeps."""
    cds = _cds_launch()
    if cds is None:
        return get(conf)
    java_opts, conf_dir, dump = cds
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        opts = f'{conf["spark.driver.extraJavaOptions"]} {java_opts}'
        spark = get({**conf, "spark.driver.extraJavaOptions": opts})
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = None
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if spark is None:  # the JVM refused the archive options
        return get(conf)
    if dump is not None:
        if not _dumps:
            atexit.register(_publish, wait_s=120)
        _dumps.append((SparkContext._gateway.proc, dump))
    return spark


def archive_key(java_version: str, conf_dir: str, jars: list[tuple[str, int, int]]) -> str:
    """Name of the archive for this JDK (its ``java -version`` text) and
    driver classpath (the conf dir and the jars' name, size, mtime)."""
    h = hashlib.sha256(f"{java_version}\0{conf_dir}\0".encode())
    for name, size, mtime in sorted(jars):
        h.update(f"{name}\0{size}\0{mtime}\n".encode())
    return h.hexdigest()[:20]


def _cds_launch() -> tuple[str, str, Path | None] | None:
    """(driver java options, SPARK_CONF_DIR, archive this run writes or
    None) for a launch by ``build``, or None when no archive applies."""
    from pyspark.find_spark_home import _find_spark_home

    if any(v in os.environ for v in _CLASSPATH_ENV):
        return None
    home = Path(_find_spark_home())
    real_conf = Path(os.environ.get("SPARK_CONF_DIR") or home / "conf")
    if real_conf.is_dir() and any(
        not n.endswith(".template") for n in os.listdir(real_conf)
    ):
        return None
    conf_dir = CDS_DIR / "conf"
    try:
        conf_dir.mkdir(parents=True, exist_ok=True)
        if any(conf_dir.iterdir()):
            return None
        # the JVM spark-class runs; without the options variables, whose
        # "Picked up ..." line would enter the key
        java = (
            os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if "JAVA_HOME" in os.environ
            else "java"
        )
        env = {k: v for k, v in os.environ.items() if k not in _JAVA_ENV}
        version = subprocess.run(
            [java, "-version"], capture_output=True, text=True, env=env, check=True
        ).stderr
        jars = [
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(home / "jars")
        ]
        key = archive_key(version, str(conf_dir), jars)
        _publish(wait_s=0)
        archive = _sweep(key)
        if archive is None and not 1 <= _count_miss(key) <= _DUMP_TRIES:
            return None
    except (OSError, subprocess.CalledProcessError):
        return None
    quiet = "-Xlog:cds=off,cds+dynamic=off"  # CDS warnings go to stdout
    if archive is not None:
        return (
            f"-XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces {quiet}",
            str(conf_dir),
            None,
        )
    dump = CDS_DIR / f"{key}.{os.getpid()}.{next(_seq)}.tmp"
    return f"-XX:ArchiveClassesAtExit={dump} {quiet}", str(conf_dir), dump


def _sweep(key: str) -> Path | None:
    """Delete archives of other keys, torn ones and the temporary files
    of dead processes; return this key's newest whole archive, if any."""
    whole = []
    for p in CDS_DIR.iterdir():
        name, _, size = p.stem.rpartition("-")
        if p.suffix == ".jsa" and name == key and size == str(p.stat().st_size):
            whole.append(p)
        elif (
            p.suffix == ".jsa"
            or (p.suffix == ".misses" and p.stem != key)
            or (p.suffix == ".tmp" and not _alive(p.name.split(".")[1]))
        ):
            p.unlink(missing_ok=True)
    whole.sort(key=lambda p: p.stat().st_mtime_ns)
    for p in whole[:-1]:
        p.unlink(missing_ok=True)
    return whole[-1] if whole else None


def _count_miss(key: str) -> int:
    """Count a launch that found no archive for ``key`` in
    ``<key>.misses``; return how many launches did before it."""
    stamp = CDS_DIR / f"{key}.misses"
    try:
        n = int(stamp.read_text())
    except (OSError, ValueError):
        n = 0
    stamp.write_text(str(n + 1))
    return n


def _alive(pid: str) -> bool:
    """Whether the process that named a temporary archive still runs."""
    if not pid.isdigit() or int(pid) <= 0:
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _publish(wait_s: float) -> None:
    """Publish the archives this process's JVMs wrote when they exited
    cleanly; at interpreter exit, first let the running ones exit (the
    JVM quits when its stdin closes) and wait up to ``wait_s``."""
    for proc, dump in list(_dumps):
        if wait_s and proc.poll() is None:
            proc.stdin.close()
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(timeout=wait_s)
        if proc.poll() is None:
            continue
        _dumps.remove((proc, dump))
        try:
            with dump.open("rb") as f:
                whole = proc.returncode == 0 and (
                    int.from_bytes(f.read(4), "little") == _DYNAMIC_ARCHIVE_MAGIC
                )
            if whole:
                key = dump.name.split(".")[0]
                os.replace(dump, dump.with_name(f"{key}-{dump.stat().st_size}.jsa"))
        except OSError:
            pass
        dump.unlink(missing_ok=True)
