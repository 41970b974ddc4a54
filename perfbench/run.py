#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run sizes Spark from the host
(``local[nproc]``, driver heap ~40% of MemTotal), generates the workload's
inputs from ``--seed`` as parquet, sets up (session, C kernels, inputs, the
1m tier), measures for ``--seconds`` and checks the outputs outside the
timed region.  The last stdout line is the result:

* ``--trace 0``: every end-to-end metric (BENCHMARK.json ``end_to_end``);
* ``--trace 1``: the same timed phases once untraced, the backfill again at
  ``local[1]``, then the timed phases again with spans and Spark's event
  log, plus the store cycle; prints every per-layer metric (``per_layer``),
  including the tracing overhead against the untraced half.

Both workloads run both timed phases (backfill and operators) so every
metric has a value on every workload; the workload decides how the run's
time and input are weighted between them (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench import checks, gen, host, phases  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

DAY_MIN = 24 * 60
# raw_days of 1 s-cadence input for the backfill; ops_days of its 1m tier feed
# the operator suite; split shares --seconds between the timed phases (a
# phase with no share, such as the traced run's local[1] backfill "bf1",
# runs its MIN_REPS only)
WORKLOADS = {
    "backfill": {"raw_days": 10, "ops_days": 2,
                 "split": {"ops": 0.0, "bf": 0.6}},
    "operators": {"raw_days": 8, "ops_days": 4,
                  "split": {"ops": 0.8, "bf": 0.2}},
}
# --smoke: the same run on one day of input, for the smoke test
SMOKE = {"raw_days": 1, "ops_days": 1}
MIN_REPS = {"ops": 3, "bf": 4, "bf1": 4}
# leading repetitions left out of the median: the first backfill after an
# operator suite (or after a new context) runs about twice as long, and the
# next three still run about 10% slower than the rest as the JVM warms
WARM_REPS = {"ops": 0, "bf": 4, "bf1": 1}
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = dict(WORKLOADS[args.workload], **(SMOKE if args.smoke else {}))
        self.threads = host.nproc()
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = host.prepare(self.run_id)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.gateway = None

    # -- session ------------------------------------------------------------
    def start_session(self, threads: int, event_log: str | None = None):
        from pyg_timeseries_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}", master=f"local[{threads}]",
            shuffle_partitions=threads,
            extra_conf=host.spark_conf(self.work, threads, event_log))
        # the py4j gateway owns the JVM process; later contexts reuse it
        self.gateway = self.gateway or self.spark.sparkContext._gateway
        return time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int:
        return self.gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark, the JVM and the Python workers it started; wait for all."""
        if self.gateway is None:
            return
        kids = _descendants(self.jvm_pid)
        # a gateway broken by an interrupted call must not stop the teardown
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        with contextlib.suppress(Exception):
            self.gateway.shutdown()
        self.spark = None
        proc = self.gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if _alive(p)]
            time.sleep(0.1)
        for p in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    # -- operations ---------------------------------------------------------
    def attempt(self, n_ops: int, fn, *a):
        self.attempted += n_ops
        try:
            return fn(*a)
        except Exception as exc:  # a failed operation, not a crashed run
            self.failed += n_ops
            log(f"operation failed: {type(exc).__name__}: {exc}")
            return None

    def check(self, fn, *a) -> None:
        try:
            results = fn(*a)
        except Exception as exc:
            results = [(fn.__name__, False, f"{type(exc).__name__}: {exc}")]
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += 0 if ok else 1
            log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")

    # -- setup ----------------------------------------------------------------
    def generate_input(self) -> float:
        """Generate the workload's raw input as parquet; returns its wall
        time (repeated in setup, the median is reported)."""
        t0 = time.perf_counter()
        spec = gen.Spec(gen.EPOCH_S, self.cfg["raw_days"] * DAY_MIN, 60, False)
        table = gen.generate(spec, self.args.seed)
        self.raw_path = os.path.join(self.work, "in", "raw.parquet")
        self.raw_info = gen.write(table, self.raw_path, row_group_rows=1 << 17)
        self.end_s = spec.start_s + spec.minutes * 60
        return time.perf_counter() - t0

    def materialize_tier(self) -> None:
        """One untimed, checked backfill repetition; its 1m tier, cut to the
        last ``ops_days`` as (key, ts, v), is the operators' input."""
        from pyspark.sql import functions as F

        _, tiers = phases.backfill_rep(self.spark, self.raw_path, Tracer(), keep=True)
        self.check(checks.check_backfill, tiers, self.raw_path)
        ops_s = self.cfg["ops_days"] * 86400
        self.tier_path = os.path.join(self.work, "in", "tier_1m")
        tiers["1m"].select(
            F.col("source").alias("key"), F.col("bucket").alias("ts"),
            F.col("sum_n_tok").cast("double").alias("v"),
        ).filter(F.col("ts") >= F.timestamp_seconds(F.lit(self.end_s - ops_s))
                 ).coalesce(self.threads).write.mode("overwrite").parquet(self.tier_path)
        for df in tiers.values():
            df.unpersist()
        self.tier_rows = self.spark.read.parquet(self.tier_path).count()
        # the operators' resume point: about the last fifth of the tier is
        # the tail; hour-aligned, so the head and tail sizes are fixed
        cut_s = self.end_s - ops_s // 5 // 3600 * 3600
        self.cut = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(cut_s))

    def setup(self) -> float:
        """Session start, kernel compile, input generation (repeated) and
        tier materialization: the same work every run."""
        from pyg_timeseries_spark.kernels import cnative

        self.session_t0 = time.time()
        session_s = self.start_session(self.threads)
        t0 = time.perf_counter()
        self.cnative = cnative.available()
        compile_s = time.perf_counter() - t0
        reps = [self.generate_input() for _ in range(SETUP_REPS)]
        t0 = time.perf_counter()
        self.materialize_tier()
        tier_s = time.perf_counter() - t0
        self.session_start_s = session_s
        log(f"setup: session {session_s:.2f}s, cnative={self.cnative} "
            f"{compile_s:.2f}s, inputs {['%.2f' % r for r in reps]}, tier {tier_s:.2f}s; "
            f"raw {self.raw_info}, tier {self.tier_rows} rows")
        return session_s + compile_s + statistics.median(reps) + tier_s

    # -- timed phases -----------------------------------------------------------
    def _rep(self, name: str, tracer):
        """One repetition of a phase, counted as its operations."""
        if name == "ops":
            return self.attempt(phases.OPERATOR_CALLS, phases.operators_rep,
                                self.spark, self.tier_path, self.cut, tracer)
        return self.attempt(phases.BACKFILL_STEPS, phases.backfill_rep,
                            self.spark, self.raw_path, tracer)

    def timed(self, tracer, names=("ops", "bf"), reps: dict | None = None) -> dict:
        """Repeat each phase in turn, after WARM_REPS unrecorded repetitions,
        until it has had its share of --seconds and MIN_REPS repetitions (or
        exactly ``reps[name]``); returns each phase's recorded repetitions."""
        out: dict[str, list] = {}
        for n in names:
            # warm-up repetitions are not spanned: they are not recorded
            for _ in range(WARM_REPS[n]):
                self._rep(n, Tracer())
            budget = self.args.seconds * self.cfg["split"].get(n, 0.0)
            out[n], tried, t0 = [], 0, time.perf_counter()
            while (tried < reps[n] if reps is not None else
                   tried < MIN_REPS[n] or time.perf_counter() - t0 < budget):
                tried += 1
                r = self._rep(n, tracer)
                if r is not None:
                    out[n].append(r)
            if not out[n]:
                raise RuntimeError(f"phase {n}: every repetition failed")
        return out

    def backfill_1t(self) -> list:
        self.start_session(1)
        return self.timed(Tracer(), names=("bf1",))["bf1"]

    # -- metrics --------------------------------------------------------------
    def e2e(self, setup_s: float, res: dict) -> dict:
        ops_med = statistics.median(r["wall"] for r in res["ops"])
        last = res["ops"][-1]
        jvm_mb, py_mb = host.vm_hwm_mb(self.jvm_pid), host.vm_hwm_mb()
        log(f"peak rss: jvm {jvm_mb:.0f} MiB, driver python {py_mb:.0f} MiB")
        rss = jvm_mb + py_mb
        return {
            "setup_s": (setup_s, "s"),
            "backfill_points_per_s": (self.raw_info["rows"] / statistics.median(res["bf"]), "points/s"),
            "operator_rows_per_s": (self.tier_rows * phases.OPERATOR_CALLS / ops_med, "rows/s"),
            "gorilla_bytes_per_point": (last["blob_bytes"] / last["points"], "bytes/point"),
            "peak_rss_mb": (rss, "MiB"),
        }

    def run(self) -> dict:
        t0 = time.perf_counter()
        setup_s = self.setup()
        t1 = time.perf_counter()
        # the operators check is one untimed suite with its outputs collected,
        # so it also starts the Python workers before timing
        self.check(checks.check_operators, self.spark, self.tier_path, self.cut)
        t2 = time.perf_counter()
        setup_s += t2 - t1
        res = self.timed(Tracer())
        t3 = time.perf_counter()
        e2e = self.e2e(setup_s, res)
        log(f"walls: setup {t1 - t0:.1f}s, checks {t2 - t1:.1f}s, timed {t3 - t2:.1f}s")
        log("reps: ops " + " ".join(f"{r['wall']:.2f}" for r in res["ops"])
            + "; bf " + " ".join(f"{w:.2f}" for w in res["bf"]))
        if not self.args.trace:
            return e2e
        from perfbench import layers

        # the single-thread baseline costs a new context and its warm-up, so
        # only the traced run measures it (information, never gated)
        bf1 = self.backfill_1t()
        log("reps: bf1 " + " ".join(f"{w:.2f}" for w in bf1))
        return layers.traced(self, res, bf1, e2e)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting for its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one day of input instead of the workload's size")
    args = ap.parse_args(argv)
    if not host.package_importable():
        log("the engine package pyg_timeseries_spark is not in this checkout")
        return 2
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args)
    try:
        metrics = run.run()
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
