"""The worker daemon (remediner_spark/workerd.py) drops pyspark.zip from a
worker's path only when the installed pyspark is byte-identical to it:
an identical install is used, a one-byte difference or a missing install
keeps the zip, and a path without the zip is left alone. Under get_spark
a pandas UDF imports the installed pyspark; importing the module starts
nothing."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from remediner_spark import workerd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a stand-in pyspark whose daemon reports where pyspark was imported from
FILES = {
    "pyspark/__init__.py": "",
    "pyspark/version.py": '__version__ = "4.1.2"\n',
    "pyspark/daemon.py": "import pyspark\nprint(pyspark.__file__)\n",
}


def _zip(path, files=FILES, extra=()) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in {**files, **dict(extra)}.items():
            zf.writestr(name, src)
    return str(path)


def _install(root, files=FILES) -> str:
    for name, src in files.items():
        full = root / name
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_text(src)
    return str(root)


def test_identical_install_drops_the_zip(tmp_path):
    # members the install lacks (the zip's test modules) are not compared
    archive = _zip(tmp_path / "pyspark.zip",
                   extra={"pyspark/tests/test_x.py": "x = 1\n"})
    install = _install(tmp_path / "site")
    assert workerd.worker_path([archive, "py4j.zip", install]) == [
        "py4j.zip", install
    ]


def test_one_byte_difference_keeps_the_zip(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip")
    changed = dict(FILES, **{"pyspark/version.py": '__version__ = "4.1.3"\n'})
    install = _install(tmp_path / "site", changed)
    path = [archive, install]
    assert workerd.worker_path(path) == path


def test_no_installed_pyspark_keeps_the_zip(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip")
    path = [archive, str(tmp_path / "empty")]
    assert workerd.worker_path(path) == path


def test_install_without_version_module_keeps_the_zip(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip")
    partial = {k: v for k, v in FILES.items() if k != "pyspark/version.py"}
    path = [archive, _install(tmp_path / "site", partial)]
    assert workerd.worker_path(path) == path


def test_path_without_the_zip_is_unchanged(tmp_path):
    path = [_install(tmp_path / "site"), str(tmp_path / "other.zip")]
    assert workerd.worker_path(path) == path


def _daemon_pyspark(tmp_path, install_files) -> str:
    """Runs the module as Spark does, with the zip first on the path and
    the site packages off it, and returns the pyspark its daemon saw."""
    archive = _zip(tmp_path / "pyspark.zip")
    install = _install(tmp_path / "site", install_files)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([archive, ROOT, install]))
    out = subprocess.run(
        [sys.executable, "-S", "-m", workerd.__name__],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=60,
        check=True,
    )
    return out.stdout.strip()


def test_daemon_runs_stock_daemon_from_identical_install(tmp_path):
    seen = _daemon_pyspark(tmp_path, FILES)
    assert seen == str(tmp_path / "site" / "pyspark" / "__init__.py")


def test_daemon_keeps_the_zip_for_a_different_install(tmp_path):
    changed = dict(FILES, **{"pyspark/__init__.py": "\n"})
    seen = _daemon_pyspark(tmp_path, changed)
    assert seen == str(tmp_path / "pyspark.zip" / "pyspark" / "__init__.py")


def test_import_starts_nothing():
    code = (
        "import sys; path = list(sys.path); "
        f"import {workerd.__name__}; "
        "assert sys.path == path, 'path changed'; "
        "assert 'pyspark' not in sys.modules, 'pyspark imported'"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                   timeout=60)


def _worker_view():
    def view(batches):
        import os
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "pyspark_file": [pyspark.__file__],
            "sys_path": [os.pathsep.join(sys.path)],
            "pythonpath": [os.environ.get("PYTHONPATH", "")],
        })

    return view


def test_pandas_udf_imports_pyspark_outside_the_zip(spark):
    row = (
        spark.range(1)
        .mapInPandas(_worker_view(), "pyspark_file string, sys_path string, "
                     "pythonpath string")
        .collect()[0]
    )
    launched = row["pythonpath"].split(os.pathsep)
    archives = [p for p in launched if os.path.basename(p) == "pyspark.zip"]
    assert archives, "Spark no longer puts pyspark.zip on a worker's path"
    # the pip pyspark installed here is byte-identical to $SPARK_HOME's zip
    assert not any(row["pyspark_file"].startswith(a + os.sep) for a in archives)
    assert not set(archives) & set(row["sys_path"].split(os.pathsep))
