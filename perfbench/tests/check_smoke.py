"""Small-size smoke test of the benchmark (one day of input per workload).

    python3 -m pytest -q perfbench/tests/check_smoke.py

The file name keeps it out of the engine's default ``pytest`` collection;
each run starts its own Spark JVM and takes about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(*extra: str) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--seconds", "1",
           "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_result(res: dict, section: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    for m in BENCH[section]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    assert set(res["metrics"]) == {m["name"] for m in BENCH[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = _run("--workload", workload, "--seed", "7", "--trace", "0")
    _assert_result(res, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    res = _run("--workload", "operators", "--seed", "7", "--trace", "1")
    _assert_result(res, "per_layer")
    m = res["metrics"]
    assert m["store.jobs_per_batch"]["value"] > 0
    assert m["ewm.python_bytes_sent"]["value"] > 0
    assert m["rollup.raw_to_1m_s"]["value"] > 0


def test_generator_seed_changes_content_not_sizes():
    spec = gen.Spec(gen.EPOCH_S, 120, 60, True)
    a, b, a2 = gen.generate(spec, 1), gen.generate(spec, 2), gen.generate(spec, 1)
    assert a.equals(a2)
    assert not a.equals(b)
    assert a.num_rows == b.num_rows
    assert sum(a["n_tok"].to_pylist()) == sum(b["n_tok"].to_pylist())
    counts = a.group_by("source").aggregate([("source", "count")]).to_pydict()
    web = dict(zip(counts["source"], counts["source_count"]))["web"]
    assert abs(web / a.num_rows - 0.5) < 0.02
    # the gaps are whole minutes: each source has 54 of every hour's 60
    minutes = pc.floor_temporal(a["ts"], unit="minute")
    hours = pc.floor_temporal(a["ts"], unit="hour")
    cells = pa.table({"s": a["source"], "h": hours, "m": minutes}).group_by(
        ["s", "h"]).aggregate([("m", "count_distinct")])
    assert set(cells["m_count_distinct"].to_pylist()) == {54}


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark the run must fail fast."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
