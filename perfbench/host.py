"""The benchmark's Spark session, sized to the host it runs on.

``yaschva_spark.session`` reads its core count and driver memory from the
environment; :func:`fit_host` sets both from this host, so nothing in the
package is edited. All scratch space lives under the checkout's
``.perfbench/`` directory.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def fit_host() -> dict:
    """The CPUs this process may use and a quarter of physical memory for
    the Spark driver, exported for ``yaschva_spark.session`` and for the
    Python workers Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mb = ram // 4 // 2**20
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(tmp),
        # Python workers and child processes import from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = str(tmp)
    return {"nproc": cpus, "ram_gb": ram / 2**30, "driver_memory_mb": driver_mb}


def start_session():
    from yaschva_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def host_probe() -> float:
    """A fixed pure-CPU sha256 loop, like ``bench.py``'s sha2 probe but in
    this process: what the host gave one core around this run."""
    block = bytes(range(256)) * 4096  # 1 MiB
    t0 = time.perf_counter()
    for _ in range(200):
        hashlib.sha256(block).digest()
    return time.perf_counter() - t0
