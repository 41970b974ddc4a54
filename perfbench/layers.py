"""The traced half of a ``--trace 1`` run and its per-layer metrics.

The untraced half (already run) gives the reference walls; this half starts
a new SparkContext in the same JVM with the event log on, repeats each timed
phase ``TRACED_REPS`` times under spans, runs the store cycle
(operators workload only), stops the context to flush the log, and maps the
log's jobs, stages and tasks onto the spans.

Normalisation: ``rollup.*`` are per backfill repetition; ``ewm.*``,
``window.*`` and ``gorilla.*`` per operator suite; ``store.*`` and
``engine.*`` per incremental store batch (the seed batch and maintenance
left out; ``store.maintenance_s`` is reported on its own);
``session.*`` per run.  A layer a workload does not touch reports 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench import checks, gen, phases, trace

WINDOW_OPS = ("rolling_mean", "ffill", "diff", "cumsum")
# store cycle: 1 day of history at 4 web rows/min, then time-ordered 2 h
# token batches
STORE_HIST_DAYS, STORE_BATCHES, STORE_BATCH_S = 1, 3, 2 * 3600
# repetitions of each timed phase in the traced half: one keeps a traced
# operators run (untraced half, traced half, store cycle) well inside 180 s
TRACED_REPS = 1


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _store_inputs(run) -> tuple[str, list[str]]:
    seed = run.args.seed
    hist_spec = gen.Spec(gen.EPOCH_S, STORE_HIST_DAYS * 24 * 60, 4, True)
    base = os.path.join(run.work, "in", "store")
    hist = os.path.join(base, "hist.parquet")
    gen.write(gen.generate(hist_spec, seed), hist)
    start = gen.EPOCH_S + STORE_HIST_DAYS * 86400
    spec = gen.Spec(start, STORE_BATCHES * STORE_BATCH_S // 60, 4, True)
    paths = []
    for i, t in enumerate(gen.time_slices(gen.generate(spec, seed + 1), start,
                                          STORE_BATCH_S, STORE_BATCHES)):
        paths.append(os.path.join(base, f"batch{i:03d}.parquet"))
        gen.write(t, paths[-1])
    return hist, paths


def traced(run, res: dict, bf1: list, e2e: dict) -> dict:
    log_dir = os.path.join(run.work, "eventlog")
    run.start_session(run.threads, event_log=log_dir)
    # the new context has no Python workers yet: one unspanned suite starts
    # them, so the overhead below compares warm repetitions on both sides
    phases.operators_rep(run.spark, run.tier_path, run.cut, trace.Tracer())
    tracer = trace.Tracer(run.spark.sparkContext)
    # the run's session start happened before tracing; record it as a span
    tracer.spans.append({"id": "session", "layer": "session", "name": "start",
                         "parent": None, "start": run.session_t0,
                         "end": run.session_t0 + run.session_start_s})
    t_res = run.timed(tracer, reps={k: TRACED_REPS for k in res})
    cycle = None
    if run.args.workload == "operators":
        hist, batch_paths = _store_inputs(run)
        store_path = os.path.join(run.work, "store")
        cycle = run.attempt(len(batch_paths) + 1, phases.store_cycle, run.spark,
                            store_path, hist, batch_paths, tracer)
        run.check(checks.check_store, run.spark, store_path, [hist] + batch_paths)
    run.spark.stop()  # flushes and closes the event log
    run.spark = None
    rows = trace.span_rows(tracer.spans, trace.parse_event_log(log_dir))
    out_dir = os.path.join(os.path.dirname(run.work), "traces")
    trace.write_spans(os.path.join(out_dir, f"{run.run_id}.spans.jsonl"), rows)
    return metrics(run, res, bf1, e2e, t_res, rows, cycle)


def _overhead(res: dict, t_res: dict) -> float:
    base = _med(res["bf"]) + _med(r["wall"] for r in res["ops"])
    traced_ = _med(t_res["bf"]) + _med(r["wall"] for r in t_res["ops"])
    return traced_ / base - 1.0


def metrics(run, res, bf1, e2e, t_res, rows, cycle) -> dict:
    n_bf, n_ops = len(t_res["bf"]), len(t_res["ops"])
    batches = [b for b in (cycle or {}).get("batches", []) if b["batch"] > 0]
    n_store = max(len(batches), 1)
    per = {"rollup": n_bf, "ewm": n_ops, "window": n_ops, "gorilla": n_ops,
           "store": n_store, "engine": n_store, "session": 1}
    # store.* and engine.* totals cover the incremental batches only, the
    # spans their medians use: the seed batch and maintenance are left out
    per_batch = [r for r in rows if r["layer"] not in ("store", "engine")
                 or r.get("batch", 0) > 0]
    out: dict[str, tuple] = {}
    for layer, tot in trace.layer_totals(per_batch).items():
        for k in trace.GENERIC:
            unit = ("s" if k.endswith("_s") else "bytes" if k.endswith("_bytes")
                    else "count")
            out[f"{layer}.{k}"] = (tot[k] / per[layer], unit)

    def spans(layer, name=None, incremental=False):
        return [r for r in rows if r["layer"] == layer
                and (name is None or r["name"] == name)
                and (not incremental or r.get("batch", 1) > 0)]

    for name in ("raw_to_1m", "1m_to_1h", "1h_to_1d"):
        out[f"rollup.{name}_s"] = (_med(r["duration_s"] for r in spans("rollup", name)), "s")
    ingest = spans("store", "ingest", incremental=True)
    out.update({
        "store.ingest_s": (_med(r["duration_s"] for r in ingest), "s"),
        "store.jobs_per_batch": (_med(r["jobs"] for r in ingest), "count"),
        "store.driver_s_per_batch": (_med(r["driver_only_s"] for r in ingest), "s"),
        "store.read_versions": (_med(b["read_versions"] for b in batches), "count"),
        "store.read_s": (_med(r["duration_s"] for r in spans("store", "read", True)), "s"),
        "store.bytes_written_per_batch": (_med(b["bytes_written"] for b in batches), "bytes"),
        "store.files_written_per_batch": (_med(b["files_written"] for b in batches), "count"),
        "store.maintenance_s": (float(sum(r["duration_s"] for r in spans("store", "maintenance"))), "s"),
        "engine.apply_s": (_med(r["duration_s"] for r in spans("engine", "apply", True)), "s"),
        "engine.apply_jobs": (_med(r["jobs"] for r in spans("engine", "apply", True)), "count"),
    })
    ewm = spans("ewm")
    out.update({
        "ewm.s": (sum(r["duration_s"] for r in ewm) / n_ops, "s"),
        "ewm.python_bytes_sent": (sum(r[trace.PY_SENT] for r in ewm) / n_ops, "bytes"),
        "ewm.python_bytes_returned": (sum(r[trace.PY_RETURNED] for r in ewm) / n_ops, "bytes"),
        "ewm.task_skew": (_med(x for r in ewm for x in r["py_stage_skews"]), "ratio"),
    })
    for op in WINDOW_OPS:
        out[f"window.{op}_s"] = (_med(r["duration_s"] for r in spans("window", op)), "s")
    out["gorilla.encode_s"] = (_med(r["duration_s"] for r in spans("gorilla", "encode")), "s")
    out["gorilla.decode_s"] = (_med(r["duration_s"] for r in spans("gorilla", "decode")), "s")
    out["session.start_s"] = (run.session_start_s, "s")
    out["trace.overhead"] = (_overhead(res, t_res), "ratio")
    bf1_pts = run.raw_info["rows"] / statistics.median(bf1)
    out["backfill.points_per_s_1t"] = (bf1_pts, "points/s")
    out["backfill.scaling_efficiency"] = (
        e2e["backfill_points_per_s"][0] / bf1_pts / run.threads, "ratio")
    return out
