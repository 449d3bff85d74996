"""The stat-guarded zipimporter invalidation (remediner_spark/zipguard.py):
an unchanged archive's directory is read once, a rewritten one is
re-read and its new contents import, a deleted one falls back to the
original method; in a reused PySpark worker the guard is installed and
keys every zipimporter pyspark's per-task invalidation reaches."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from remediner_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimporter caches lazily",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    tmp.replace(path)  # a rewrite lands as a new inode, like a re-upload


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"zg_probe_mod": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for mod in ("zg_probe_mod", "zg_probe_new"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zg_probe_mod").VALUE == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipguard.guarded_invalidate_caches,
    )

    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1  # first guarded invalidation only

    _write_zip(archive, {"zg_probe_mod": "VALUE = 2\n",
                         "zg_probe_new": "NEW = True\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2
    del sys.modules["zg_probe_mod"]
    assert importlib.import_module("zg_probe_mod").VALUE == 2
    assert importlib.import_module("zg_probe_new").NEW is True

    archive.unlink()
    importlib.invalidate_caches()  # must not raise
    importlib.invalidate_caches()
    assert len(reads) == 4  # no stat, no key: original path every time
    assert importer._files == {}


def _guard_probe():
    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        from remediner_spark import zipguard

        imps = [v for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)]
        installed = (zipimport.zipimporter.invalidate_caches
                     is zipguard.guarded_invalidate_caches)
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "installed": [installed],
            "zipimporters": [len(imps)],
            "keyed": [sum(getattr(i, "_archive_key", None) is not None
                          for i in imps)],
        })

    return probe


def test_guard_installed_in_reused_worker(spark):
    df = spark.range(0, 64, numPartitions=1)
    probe = _guard_probe()
    schema = "pid long, installed boolean, zipimporters long, keyed long"
    seen = set()
    for _ in range(40):  # until a worker that ran the probe is reused
        (row,) = df.mapInPandas(probe, schema).collect()
        assert row.installed
        if row.pid in seen:
            # this task's setup-time invalidation went through the guard
            assert row.zipimporters > 0
            assert row.keyed == row.zipimporters
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker reused across 40 jobs: {sorted(seen)}")
