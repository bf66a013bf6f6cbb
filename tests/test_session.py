"""``xtract/session.py``: the default shuffle partition count, the
driver JVM's one C2 compiler thread with and without the archive, and
the driver JVM's class-data-sharing archive: its key, that a HOME used
for one run never writes one, and that a damaged archive in the cache,
or a JVM that refuses the archive options, never costs a working
session.
Every JVM here runs in a plain ``python`` subprocess (so
``session.build`` launches it) with HOME at a temporary directory, so
the archive cache it reads and writes is the test's own."""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from xtract import session

ROOT = Path(__file__).resolve().parents[1]
CDS = Path(".cache", "xtract", "cds")
# the driver JVM's own reading of a VM option: value and where it came
# from (VM_CREATION for a command-line flag)
VM_OPTION = (
    "def vm_option(s, name):\n"
    "    jvm = s.sparkContext._jvm\n"
    "    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(\n"
    "        jvm.java.lang.Class.forName('com.sun.management.HotSpotDiagnosticMXBean'))\n"
    "    o = mx.getVMOption(name)\n"
    "    return '%s/%s' % (o.getValue(), o.getOrigin())\n"
)
PROBE = (
    "from xtract import session\n"
    + VM_OPTION
    + "s = session.build(cores=2)\n"
    "print('count=%d' % s.range(5).count())\n"
    "print('jit=' + vm_option(s, 'CICompilerCount'))\n"
    "print('cds=' + vm_option(s, 'SharedArchiveFile'))\n"
    "s.stop()\n"
)
JIT = "jit=2/VM_CREATION"  # one C1 + one C2 thread, from build's options


def _run(home: Path, argv: list[str], **env) -> subprocess.CompletedProcess:
    env = dict(
        os.environ, HOME=str(home), PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable, **env,
    )
    return subprocess.run(
        [sys.executable, *argv], cwd=home, env=env,
        capture_output=True, text=True, timeout=600,
    )


def _archives(home: Path) -> list[Path]:
    return sorted((home / CDS).glob("*.jsa"))


def _whole(p: Path) -> bool:
    return p.stat().st_size == int(p.stem.rpartition("-")[2])


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    """(HOME, a pristine copy of the archive a second launch wrote
    there; the first only counted itself). The archive's key covers the
    conf dir inside HOME, so the tests damage it in this same HOME."""
    home = tmp_path_factory.mktemp("cds_home")
    for n in (1, 2):
        p = _run(home, ["-c", PROBE])
        assert p.returncode == 0, p.stderr[-4000:]
        assert "count=5" in p.stdout.splitlines()
        (stamp,) = (home / CDS).glob("*.misses")
        assert stamp.read_text() == str(n)
        assert len(_archives(home)) == n - 1
    (archive,) = _archives(home)
    assert _whole(archive)
    assert not list((home / CDS).glob("*.tmp"))
    pristine = tmp_path_factory.mktemp("cds_pristine") / archive.name
    shutil.copyfile(archive, pristine)
    yield home, pristine
    # ~150 MB each; pytest keeps the temporary dirs of recent runs
    shutil.rmtree(home / CDS)
    pristine.unlink()


def _reset(cache) -> tuple[Path, Path]:
    """The cache holding only a writable copy of the pristine archive,
    with one launch that found none counted, so the next one dumps."""
    home, pristine = cache
    for p in _archives(home):
        p.unlink()
    (stamp,) = (home / CDS).glob("*.misses")
    stamp.write_text("1")
    archive = home / CDS / pristine.name
    shutil.copyfile(pristine, archive)
    return home, archive


def test_archive_key_tracks_jdk_and_classpath():
    jars = [("spark-core_2.13-4.1.2.jar", 100, 7), ("slf4j-api-2.0.17.jar", 50, 9)]
    key = session.archive_key("openjdk 17.0.20", "/c/conf", jars)
    assert key == session.archive_key("openjdk 17.0.20", "/c/conf", jars[::-1])
    for other in [
        ("openjdk 17.0.21", "/c/conf", jars),
        ("openjdk 17.0.20", "/d/conf", jars),
        ("openjdk 17.0.20", "/c/conf", jars[:1]),
        ("openjdk 17.0.20", "/c/conf", [("spark-core_2.13-4.1.3.jar", 100, 7), jars[1]]),
        ("openjdk 17.0.20", "/c/conf", [("spark-core_2.13-4.1.2.jar", 101, 7), jars[1]]),
        ("openjdk 17.0.20", "/c/conf", [("spark-core_2.13-4.1.2.jar", 100, 8), jars[1]]),
    ]:
        assert session.archive_key(*other) != key, other


def test_archive_launch_keeps_jit_option(cache):
    """A launch that maps the archive runs one C2 compiler thread: the
    archive options are added to build's JIT option, not put in its
    place."""
    home, archive = _reset(cache)
    p = _run(home, ["-c", PROBE])
    assert p.returncode == 0, p.stderr[-4000:]
    out = p.stdout.splitlines()
    assert f"cds={archive}/VM_CREATION" in out
    assert JIT in out


def test_truncated_archive_is_replaced(cache):
    """JDK 17 dies of SIGBUS mapping a truncated archive (it writes an
    hs_err file); the size in the name keeps build from mapping it, and
    this launch writes a whole one in its place."""
    home, archive = _reset(cache)
    with archive.open("r+b") as f:
        f.truncate(archive.stat().st_size // 2)
    p = _run(home, ["-c", PROBE])
    assert p.returncode == 0, p.stderr[-4000:]
    assert "count=5" in p.stdout.splitlines()
    assert not list(home.glob("hs_err_pid*.log"))
    (fresh,) = _archives(home)
    assert _whole(fresh)


def test_bit_flipped_archive_keeps_job_stdout_json(cache, tmp_path):
    """The JVM skips a damaged archive and says so on stdout unless CDS
    logging is off; job.py's JSON line must still be the last line, and
    no JVM log line may reach stdout."""
    home, archive = _reset(cache)
    size = archive.stat().st_size
    with archive.open("r+b") as f:
        for off in (size // 3, size // 2):
            f.seek(off)
            b = f.read(1)
            f.seek(off)
            f.write(bytes([b[0] ^ 0xFF]))
    p = _run(
        home,
        [str(ROOT / "job.py"), "--input", "gen:4", "--output", str(tmp_path / "spans"),
         "--partitions", "2"],
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.splitlines()
    assert json.loads(lines[-1])["turns"] > 0
    assert not [ln for ln in lines if ln.startswith("[")], p.stdout[-2000:]
    # the damaged archive was handed to the JVM, not swept as torn
    assert _archives(home) == [archive]


def test_refused_archive_options_still_start(cache):
    """With sharing off (-Xshare:off) the JVM refuses to start with
    -XX:ArchiveClassesAtExit; build then starts it without the options,
    and nothing is published."""
    home, archive = _reset(cache)
    archive.unlink()
    p = _run(home, ["-c", PROBE], _JAVA_OPTIONS="-Xshare:off")
    assert p.returncode == 0, p.stderr[-4000:]
    assert "count=5" in p.stdout.splitlines()
    assert JIT in p.stdout.splitlines()
    assert not _archives(home)
    assert not list((home / CDS).glob("*.tmp"))


def _sc(master: str, parallelism: int, conf: dict | None = None):
    conf = conf or {}
    return SimpleNamespace(
        master=master, defaultParallelism=parallelism,
        getConf=lambda: SimpleNamespace(contains=conf.__contains__),
    )


def test_default_partitions():
    """Without a count from the caller: a local master gives its
    threads; a launcher's spark.sql.shuffle.partitions holds; a cluster
    master, whose defaultParallelism counts only the executors
    registered so far, keeps Spark's default unless the launcher set
    spark.default.parallelism."""
    assert session._default_partitions(_sc("local[2]", 2)) == 2
    assert session._default_partitions(_sc("local[*]", 4)) == 4
    assert session._default_partitions(_sc("local", 1)) == 1
    for master in ("yarn", "k8s://https://api:6443", "spark://m:7077",
                   "local-cluster[2,1,1024]"):
        assert session._default_partitions(_sc(master, 2)) is None, master
    par = {"spark.default.parallelism": "64"}
    assert session._default_partitions(_sc("yarn", 64, par)) == 64
    sql = {"spark.sql.shuffle.partitions": "7"}
    assert session._default_partitions(_sc("local[2]", 2, sql)) is None
    assert session._default_partitions(_sc("yarn", 64, {**par, **sql})) is None
