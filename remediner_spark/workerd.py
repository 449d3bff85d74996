"""PySpark daemon that imports pyspark from its byte-compiled install.

Spark starts the Python daemon (``python -m pyspark.daemon``) with
``$SPARK_HOME/python/lib/pyspark.zip`` first on ``PYTHONPATH``. The zip
holds sources only and zipimport never caches bytecode, so every daemon
compiles pyspark (about 1 s) before the first Python task of a session
can start. ``session.get_spark`` names this module as
``spark.python.daemon.module``. Run as a program, it drops pyspark.zip from
``sys.path`` when the pyspark importable without it is byte-identical to
it, then runs the stock ``pyspark.daemon``; otherwise the stock daemon
runs on the stock path. Importing the module does nothing.
"""

from __future__ import annotations

import os
import zipfile
import zlib
from importlib.machinery import PathFinder


def _matches_install(archive: str, path: list[str]) -> bool:
    """Every member of ``archive`` that the pyspark found on ``path`` also
    has is the same size and CRC32 there, ``pyspark/version.py`` among
    them. Members the install lacks (the zip's test modules) are never
    imported by a worker."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return False
    root = os.path.dirname(spec.submodule_search_locations[0])
    shared = set()
    try:
        with zipfile.ZipFile(archive) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                try:
                    with open(os.path.join(root, info.filename), "rb") as fh:
                        data = fh.read()
                except OSError:
                    continue
                if len(data) != info.file_size or zlib.crc32(data) != info.CRC:
                    return False
                shared.add(info.filename)
    except (OSError, zipfile.BadZipFile):
        return False
    return "pyspark/version.py" in shared


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its pyspark.zip entries when the install matches
    each of them, else ``path`` itself."""
    archives = {p for p in path if os.path.basename(p) == "pyspark.zip"}
    rest = [p for p in path if p not in archives]
    if archives and all(_matches_install(a, rest) for a in archives):
        return rest
    return path


if __name__ == "__main__":
    import runpy
    import sys

    sys.path[:] = worker_path(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
