"""Session, work-directory and timing helpers shared by the workloads.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
directory it is started from (the repository root): Spark's local and
warehouse dirs, the JVM and Python temp dirs, generated inputs and
pipeline outputs.  The directory is emptied at the start and removed at
the end of every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# bench.py's single-thread calibration probe (same constants), so a
# result taken under a noisy neighbour can be told from a regression.
PROBE_N = 1_500_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def work_path(*parts: str) -> str:
    return os.path.join(WORK, *parts)


def reset_workdir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(work_path(d), exist_ok=True)
    # py4j's gateway handshake and Python-side temp files
    os.environ["TMPDIR"] = work_path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work_path("local")
    import tempfile

    tempfile.tempdir = None
    # Spark's Python workers import serd_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def remove_workdir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def calibration_probe() -> float:
    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(PROBE_N):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Session:
    """One SparkSession at ``local[cores]`` through the engine's own
    factory, with the benchmark's directories and tracing switched
    off.  ``start_s`` is the wall time of session start."""

    def __init__(self, cores: int):
        from serd_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": work_path("local"),
            "spark.sql.warehouse.dir": work_path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work_path('tmp')} "
                f"-Dderby.system.home={work_path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{cores}",
                               master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setCheckpointDir(work_path("checkpoints"))
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait until it has exited (the
    Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort at exit
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this process (MiB)."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


WARM_MAX_PASSES = 3


def warm_until_settled(fn, max_passes: int = WARM_MAX_PASSES,
                       tol: float = 0.1) -> list[float]:
    """Run ``fn`` untimed until one pass is within ``tol`` of the
    previous one, or ``max_passes`` ran; returns every pass time."""
    times: list[float] = []
    while len(times) < max_passes:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        if len(times) >= 2 and \
                abs(times[-1] - times[-2]) <= tol * times[-2]:
            break
    return times


def code_signature() -> str:
    """sha256 over the engine sources the benchmark runs — stands in
    for the commit when the checkout is not a git repository."""
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _, files in os.walk(os.path.join(ROOT, "serd_spark")):
        paths.extend(os.path.join(dirpath, f)
                     for f in files if f.endswith(".py"))
    h = hashlib.sha256()
    for p in sorted(paths):
        if os.path.exists(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def box_record(probe_before: float, probe_after: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "probe_before_s": round(probe_before, 4),
        "probe_after_s": round(probe_after, 4),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": git_commit(),
        "code_sig": code_signature(),
    }


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)
