"""Process-level plumbing: the run's scratch directory, the Spark session
and its JVM, the same-tree check between driver and Python workers, and
peak memory.

Every file a run writes lives under one scratch directory inside the
repository root, and the directory is removed when the run ends, also
when it fails.  The JVM and the Python workers it forks are stopped and
waited for before the run returns.
"""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import shlex
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tf_idf_vectorizer_spark"
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# heap fixed at this size from the start (-Xms = -Xmx), so the JVM's
# resident set does not depend on when the collector chose to grow it
DRIVER_MEMORY = "1g"


@contextmanager
def scratch_dir(name: str, root: str = WORK_ROOT):
    """A fresh directory for one run, removed on exit whatever happens.
    The parent is removed too when this run leaves it empty."""
    path = os.path.join(root, f"{name}-{os.getpid()}")
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:
            pass


def tree_digest(pkg_dir: str) -> str:
    """sha256 over the relative paths and bytes of every .py file under
    ``pkg_dir``: two processes that import the same tree agree on it."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _package_identity(_=None) -> tuple[str, str]:
    import tf_idf_vectorizer_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    return pkg_dir, tree_digest(pkg_dir)


def prepare_env(work: str, trace: bool) -> dict:
    """Point the driver, the JVM and the Python workers at this checkout
    and this run's scratch directory.  Must run before the JVM starts."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"no {PACKAGE} package under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # workers are forked by the JVM and inherit its environment: putting
    # the root first on their PYTHONPATH ships this tree to them whatever
    # the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
    ]
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf
    ) + " pyspark-shell"
    return {"cpus": cpus, "event_dir": event_dir}


def start_session(cpus: int):
    """The library's session factory on local[cpus] with shuffle
    partitions equal to the CPU count."""
    from tf_idf_vectorizer_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_same_tree(spark) -> dict:
    """Fail unless a Python worker task imports the package from the same
    directory, with the same file contents, as the driver."""
    driver = _package_identity()
    worker = spark.sparkContext.parallelize([0], 1).map(_package_identity).collect()[0]
    if tuple(worker) != driver:
        raise RuntimeError(
            f"driver imports {driver[0]} ({driver[1][:12]}) but workers import "
            f"{worker[0]} ({worker[1][:12]})"
        )
    return {"package_dir": driver[0], "tree_sha256": driver[1]}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """High-water RSS of this Python process plus the JVM, in MiB."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own_kb + _vm_hwm_kb(pid)) / 1024.0


def _descendants(pid: int) -> list[int]:
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # the command name may hold spaces; fields after ')'
                    parent_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait for
    each to end (Python workers are the JVM's children, not ours)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pid = proc.pid if proc else None
    workers = _descendants(pid) if pid else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    for p in _wait_gone(workers, 10):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(workers, 10)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat.  The
    steal share of an interval is the time the hypervisor ran something
    else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())
