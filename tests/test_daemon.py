"""The Python-worker launcher (pyg_timeseries_daemon.py): the path rewrite,
its wiring for local masters only, and what a worker really imports."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

import pyg_timeseries_daemon as D
from pyg_timeseries_spark.session import DAEMON_MODULE, session_conf

VERSION_PY = b'__version__ = "9.9.9"\n'


def _dist(root, name="pkg", unzipped=True, version=VERSION_PY):
    """``root/python/lib/<name>.zip`` and, optionally, the unzipped tree
    ``root/python/<name>`` of the same build."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    zpath = lib / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "")
        zf.writestr(f"{name}/version.py", VERSION_PY)
    if unzipped:
        pkg = root / "python" / name
        pkg.mkdir()
        (pkg / "__init__.py").write_text("")
        (pkg / "version.py").write_bytes(version)
    return str(zpath)


def test_rewrite_swaps_zip_for_unzipped_copy(tmp_path):
    z = _dist(tmp_path)
    path = ["/first", z, "/last"]
    assert D.rewrite(path) == ["/first", str(tmp_path / "python"), "/last"]


def test_rewrite_keeps_zip_without_unzipped_copy(tmp_path):
    z = _dist(tmp_path / "a", unzipped=False)
    # an unzipped tree of another build is no copy either
    other = _dist(tmp_path / "b", version=b'__version__ = "1.0"\n')
    path = ["/first", z, other, "/last"]
    assert D.rewrite(path) == path


def test_rewrite_uses_a_copy_already_on_the_path(tmp_path):
    """A versioned source zip (py4j's) whose package sits in a plain path
    entry, e.g. site-packages, is dropped in favour of that entry."""
    z = _dist(tmp_path / "a", name="lib4j", unzipped=False)
    site = tmp_path / "site"
    (site / "lib4j").mkdir(parents=True)
    (site / "lib4j" / "version.py").write_bytes(VERSION_PY)
    versioned = os.path.join(os.path.dirname(z), "lib4j-9.9.9-src.zip")
    os.rename(z, versioned)
    assert D.rewrite([versioned, str(site)]) == [str(site)]


def test_rewrite_drops_jars(tmp_path):
    jar = str(tmp_path / "spark-core.jar")
    assert D.rewrite(["/a", jar, "/b"]) == ["/a", "/b"]


def test_launcher_wired_for_local_masters_only():
    for master in ("local", "local[2]", "local[*]"):
        conf = session_conf(master, 2)
        assert conf["spark.python.daemon.module"] == DAEMON_MODULE
        assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)[0] == (
            os.path.dirname(os.path.abspath(D.__file__)))
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert "spark.python.daemon.module" not in session_conf(master, 8)
    keep = session_conf("local[2]", 2, {"spark.executorEnv.PYTHONPATH": "/x"})
    assert keep["spark.executorEnv.PYTHONPATH"].endswith(os.pathsep + "/x")


def _unzipped_spark_python() -> bool:
    home = os.environ.get("SPARK_HOME", "")
    return os.path.isfile(os.path.join(home, "python", "pyspark", "__init__.py"))


@pytest.mark.skipif(not _unzipped_spark_python(),
                    reason="no unzipped pyspark under $SPARK_HOME/python")
def test_worker_imports_pyspark_outside_zip(spark):
    def worker_imports(it):  # defined here: pickled by value, not by module
        import sys as _sys

        import pandas as _pd
        import pyspark as _pyspark

        for _ in it:
            pass
        kinds = sorted({type(v).__name__ for v in _sys.path_importer_cache.values()
                        if v is not None})
        yield _pd.DataFrame({"pyspark": [_pyspark.__file__],
                             "kinds": [",".join(kinds)]})

    row = spark.range(1).mapInPandas(
        worker_imports, "pyspark string, kinds string").first()
    assert ".zip" not in row.pyspark
    assert "zipimporter" not in row.kinds.split(",")


@pytest.mark.skipif(not _unzipped_spark_python(),
                    reason="no unzipped pyspark under $SPARK_HOME/python")
def test_launcher_from_another_working_directory(tmp_path):
    """Workers find the launcher and the engine whatever the cwd."""
    checkout = os.path.dirname(os.path.abspath(D.__file__))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {checkout!r})
        from pyg_timeseries_spark.session import get_spark
        spark = get_spark("daemon-cwd", master="local[1]", shuffle_partitions=1)

        def fn(it):
            import sys, pandas as pd, pyspark
            import pyg_timeseries_spark
            for _ in it:
                pass
            zips = [type(v).__name__ for v in sys.path_importer_cache.values()
                    if type(v).__name__ == "zipimporter"]
            yield pd.DataFrame({{"f": [pyspark.__file__], "z": [len(zips)]}})

        r = spark.range(1).mapInPandas(fn, "f string, z int").first()
        print("RESULT", r.f, r.z)
        spark.stop()
    """)
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("RESULT")]
    assert line, res.stderr[-2000:]
    _, pyspark_file, n_zip = line[0].split()
    assert ".zip" not in pyspark_file
    assert n_zip == "0"
