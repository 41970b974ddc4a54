"""SparkSession builder tuned for this engine, sized from the host.

Local mode is a single JVM; on a real cluster the same configs apply per
executor.  AQE is on so skewed shuffles re-plan at runtime; Arrow is on for
the pandas-UDF kernels.

The per-key sequential kernels (ewm, pairwise, recurrence, holt, kalman,
matrix, multibuffer, tracking error) cross into Python through one boundary,
``operators/_boundary.py``, which moves prior and new state only when the
call needs them and never sends Python a list column with NULL rows.  Two
fixed costs used to dominate that boundary, not the kernels (README
"JVM↔Python boundary"):

* a NULL ``array<double>`` prior column cost O(rows²) per Arrow batch in the
  JVM's Arrow writer — a stateless call ships no list column to Python, and
  a resume's prior is never NULL;
* every Python task re-read the central directory of each zip on the
  workers' path — on ``local[...]`` masters the workers start through
  ``pyg_timeseries_daemon``, which swaps ``pyspark.zip`` for the unzipped
  copy of the same build before pyspark is imported.  Cluster masters keep
  Spark's default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch per applyInPandas group is bounded by pre-bucketing (a key's
# 1m-rollup series is <= minutes-in-retention rows, not raw rows) — see
# plans/rollup.py.  10k rows/batch keeps peak python-worker memory modest.
ARROW_BATCH_ROWS = 10_000

# share of physical RAM given to the driver heap (the only JVM in local mode)
DRIVER_MEM_SHARE = 0.40

# the worker launcher (a top-level module beside this package)
DAEMON_MODULE = "pyg_timeseries_daemon"
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    """Cores this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# the container's memory limit, cgroup v2 then v1 (v2 writes "max" when unset)
CGROUP_MEM_LIMITS = ("/sys/fs/cgroup/memory.max",
                     "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def host_mem_bytes(limit_files: tuple[str, ...] = CGROUP_MEM_LIMITS) -> int:
    """Physical RAM, or the cgroup memory limit when that is smaller."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in limit_files:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw))
    return mem


def host_driver_mem() -> str:
    """``DRIVER_MEM_SHARE`` of :func:`host_mem_bytes`, as a Spark memory
    string."""
    return f"{int(host_mem_bytes() * DRIVER_MEM_SHARE) >> 20}m"


def is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def session_conf(master: str, shuffle_partitions: int,
                 extra_conf: dict | None = None) -> dict:
    """The engine's Spark conf for ``master``; ``extra_conf`` wins."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM")
        or host_driver_mem(),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    extra = dict(extra_conf or {})
    if is_local(master) and os.path.isfile(
            os.path.join(_CHECKOUT, DAEMON_MODULE + ".py")):
        # workers import the launcher (and the engine) from the checkout
        # whatever their working directory
        conf["spark.python.daemon.module"] = DAEMON_MODULE
        user_path = extra.pop("spark.executorEnv.PYTHONPATH", "")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_CHECKOUT, user_path) if p)
    conf.update(extra)
    return conf


def get_spark(
    app_name: str = "pyg_timeseries_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    host's cores); the driver heap to ``$SPARK_DRIVER_MEM`` (default 40% of
    physical RAM, or of the cgroup memory limit when smaller).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale you would set this to ~2-3x total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", host_cpus()))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; for local[*] fall back to cpu count
        inner = master.split("[", 1)[-1].rstrip("]")
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
