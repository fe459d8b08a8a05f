"""Process set-up shared by the workloads: environment, Spark session,
host facts, result digests and memory readings."""

from __future__ import annotations

import hashlib
import os
import platform
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the oracle harness (tests/oracle_harness.py) supplies the result
# canonicalization and the DuckDB views the expected results come from
sys.path.append(os.path.join(ROOT, "tests"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """The engine's own session factory at its defaults (local[nproc])."""
    from nginx_analytics_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_facts(spark, seed: int, load_start: float, cpu_start: list[int]) -> dict:
    """Host facts recorded with every result.  ``cpu_steal_share`` is the
    share of CPU time the hypervisor gave to other guests during the run:
    a slow run with high steal was slowed from outside."""
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    return {
        "nproc": nproc(),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": loadavg_1m(),
        "cpu_steal_share": delta[7] / max(sum(delta), 1),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "seed": seed,
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the driver JVM."""
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and order-insensitive digest of a result frame, taken
    after the oracle harness's canonicalization (columns sorted by name,
    rows sorted, timestamps in µs, NaN as NULL)."""
    import pandas as pd
    from oracle_harness import canonicalize

    c = canonicalize(pdf)
    h = hashlib.sha256(repr(list(c.columns)).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).to_numpy().tobytes())
    return len(c), h.hexdigest()[:20]


@dataclass
class Op:
    """One timed operation of a closed-loop client."""

    latency: float  # seconds
    ok: bool  # it neither raised nor failed its check
    units: float = 1.0  # queries or docs it carried
    kind: str = "batch"  # which op, for the within-run trend


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()

