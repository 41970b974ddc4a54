"""Python-worker launcher for local Spark masters (stdlib only).

Spark starts its Python workers with ``python -m <spark.python.daemon.module>``
and puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and
Spark's core jar on their ``sys.path``.  Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and in CPython 3.11 that re-reads the central directory of every zip archive
held in ``sys.path_importer_cache``: 272–354 ms per task on Spark 4.1.2.

This launcher rewrites the path before anything imports pyspark:

* a ``.zip`` entry is swapped for a directory holding an unzipped copy of the
  same build — the archive's distribution root (``lib/..``) or a plain
  directory already on the path — proven by an identical
  ``<package>/version.py``;
* ``.jar`` entries are dropped (they hold no Python modules);

then purges the importers cached for the removed entries and runs
``pyspark.daemon`` as ``__main__``.  Where no unzipped copy exists, the zip
stays where it is.

It is a top-level module, not part of the engine package: ``python -m
pkg.mod`` imports ``pkg/__init__`` first, and the engine's ``__init__`` would
import pyspark from the zip before the path is rewritten.
``pyg_timeseries_spark.session.get_spark`` wires it for ``local[...]``
masters only: on a cluster, ``--py-files`` reach the executors only after
the daemon has started, so the daemon module could not be imported there.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile


def _version_py(zip_path: str, name: str) -> bytes | None:
    try:
        with zipfile.ZipFile(zip_path) as zf:
            return zf.read(f"{name}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def unzipped_twin(entry: str, path: list[str]) -> str | None:
    """A directory holding the same build of the package the zip ``entry``
    provides, or None."""
    base = os.path.basename(entry)
    name = base[:-4].split("-", 1)[0]
    version = _version_py(entry, name)
    if version is None:
        return None
    candidates = [os.path.dirname(os.path.dirname(entry))] + [
        p for p in path if p and not p.endswith((".zip", ".jar"))]
    for cand in candidates:
        try:
            with open(os.path.join(cand, name, "version.py"), "rb") as fh:
                if fh.read() == version:
                    return cand
        except OSError:
            continue
    return None


def rewrite(path: list[str]) -> list[str]:
    """``path`` with jars dropped and each zip replaced by its unzipped twin
    (kept in place when it has none)."""
    out: list[str] = []
    for entry in path:
        if entry.endswith(".jar"):
            continue
        twin = unzipped_twin(entry, path) if entry.endswith(".zip") else None
        if twin is None:
            out.append(entry)
        elif twin not in path and twin not in out:
            out.append(twin)
        # a twin already on the path serves from its own position
    return out


def main() -> None:
    new = rewrite(sys.path)
    gone = [p for p in sys.path if p not in new]
    sys.path[:] = new
    for key in list(sys.path_importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
