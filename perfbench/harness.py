"""Shared set-up for the benchmark: paths, isolation, session, staging,
result digests and the context record.

Everything the benchmark writes lives under ``<repo>/.perfbench_cache``:
the staged layout, derived tables, Spark local dirs, temp files and the
per-run MVCC table roots. The staged layout and derived tables sit under
a directory named after the hash of the program's source, so a change to
``pixels_spark`` or ``bench.py`` re-stages instead of reusing a layout an
older version made. ``bench.write_benchlog`` is never called.
"""

from __future__ import annotations

import functools
import hashlib
import os
import platform
import resource
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
SF = 0.1
CACHE = os.path.join(ROOT, ".perfbench_cache")


class MissingProgram(RuntimeError):
    """The checkout does not hold the program under test."""


def isolate_env() -> None:
    """Point every temp/cache location the engine uses at the benchmark's
    cache dir. Must run before the JVM starts and before pixels_spark is
    imported (config reads the environment at import)."""
    if not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
        and os.path.isdir(os.path.join(ROOT, "pixels_spark"))
        and os.path.isdir(DATA_DIR)
    ):
        raise MissingProgram(f"no bench.py / pixels_spark / data under {ROOT}")
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dspark.ui.showConsoleProgress=false"
    )
    os.environ["PIXELS_SPARK_DERIVED_CACHE"] = os.path.join(stage_root(), "derived")
    os.environ["PIXELS_SPARK_IVF_CACHE"] = os.path.join(stage_root(), "ivf")
    os.environ["TZ"] = "UTC"
    time.tzset()
    # an inherited shuffle-partition override would silently change the
    # engine under test; the benchmark measures the engine default
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@functools.lru_cache(maxsize=1)
def stage_root() -> str:
    """Cache root of the staged layout and derived tables of this source."""
    return os.path.join(CACHE, f"src-{_source_md5()}")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The engine's own local session at ``local[nproc]``."""
    from pixels_spark.session import local_session

    spark = local_session(cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _process_tree(root: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``, from /proc."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    out, todo = set(), [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.add(kid)
            todo.append(kid[0])
    return out


def _alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


def stop_session(timeout: float = 60.0) -> None:
    """Stop the Spark session and wait until every process the run
    started has ended: the gateway JVM (it runs its shutdown hooks after
    the context stops, so it outlives ``SparkContext.stop``), the Python
    workers and anything those started. What is still running after
    ``timeout`` seconds is killed."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    started = _process_tree(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    started |= _process_tree(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    pending = {p for p in started if _alive(*p)}
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)
        pending = {p for p in pending if _alive(*p)}
    for pid, start in pending:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while any(_alive(*p) for p in pending):
        time.sleep(0.05)


def prepare(spark, derived: bool) -> tuple[str, dict]:
    """Stage the fixture into the benchmark's cache root of this source:
    through ``bench.prepare`` (staging + every derived artifact the queries
    serve from) when ``derived``, else through ``bench.stage_tables``
    alone."""
    import bench

    if derived:
        staged, load_s, ivf_s, derived_s = bench.prepare(spark, DATA_DIR, cache_root=stage_root())
        return staged, {"stage_s": load_s, "derived_build_s": ivf_s + derived_s}
    t0 = time.perf_counter()
    staged = bench.stage_tables(spark, DATA_DIR, stage_root())
    return staged, {"stage_s": time.perf_counter() - t0, "derived_build_s": 0.0}


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count + order-insensitive value hash, canonicalized exactly as
    the DuckDB oracle comparison in tests/oracle.py does."""
    from tests.oracle import _canon_rows

    cols, canon = _canon_rows(list(columns), rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "sha256": h}


def _proc_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # pyspark launches the JVM as a direct child (spark-submit execs java)
    jvm = spark.sparkContext._gateway.proc.pid
    return (py_kb + _proc_hwm_kb(jvm)) / 1024.0


def _source_md5() -> str:
    h = hashlib.md5()
    for r, dirs, files in os.walk(os.path.join(ROOT, "pixels_spark")):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(r, fn), "rb") as f:
                    h.update(f.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def context(spark, workload: str, seed: int, traced: bool) -> dict:
    """What a reader needs to compare this result with another."""
    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "master": sc.master,
        "nproc": os.cpu_count(),
        "cores": cores(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        "sf": SF,
        "git_sha": _git_sha(),
        "source_md5": _source_md5(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
    }
