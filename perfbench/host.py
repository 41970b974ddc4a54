"""Host sizing and process plumbing for the benchmark.

Everything the run writes goes under ``perfbench/.work`` in the checkout:
Spark's local dirs, the JVM and Python temp dirs, the compiled C kernels,
the generated inputs and the event log.
"""

from __future__ import annotations

import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")

# share of MemTotal given to the driver heap (the only JVM in local mode)
DRIVER_MEM_SHARE = 0.40


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    return f"{int(mem_total_mb() * DRIVER_MEM_SHARE)}m"


def package_importable() -> bool:
    """True when the engine package sits at the checkout root."""
    return os.path.isfile(os.path.join(ROOT, "pyg_timeseries_spark", "__init__.py"))


def prepare(run_id: str) -> str:
    """Create this run's work dir and point every temp/cache location of the
    driver, the JVM and the Python workers into it.  Must run before the
    engine package (and so the C kernels) is imported."""
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # Python workers are started by the JVM from this process's environment;
    # without the checkout root on their path they cannot import the engine.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # a fresh kernel cache per run: the compile is the same work every run
    os.environ["PYG_TS_CNATIVE_DIR"] = os.path.join(work, "cnative")
    os.environ.pop("PYG_TS_DISABLE_CNATIVE", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def spark_conf(work: str, threads: int, event_log: str | None = None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": os.environ["SPARK_DRIVER_MEM"],
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn512m -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.default.parallelism": str(threads),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
