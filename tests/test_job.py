"""The spark-submit job end to end, each run in its own JVM from a cwd
outside the checkout: with the committed ``--py-files`` zip the Python
daemon imports the package and the triples match the gold exactly; with
``--graph --gold`` the checkpointed pipeline's triples are scored too."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    from remediner_spark.sources.corpus import write_corpus

    d = tmp_path_factory.mktemp("job_corpus")
    write_corpus(str(d), n_pages=200)
    return str(d)


def _run(cmd: list[str], cwd) -> dict:
    # nothing but the job's own argv may put the package on the path
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spark_submit_py_files_zip_outside_checkout(small_corpus, tmp_path):
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit is not on PATH")
    m = _run(
        [submit, "--py-files", os.path.join(ROOT, "dist", "remediner_spark.zip"),
         os.path.join(ROOT, "job.py"), "--corpus-dir", small_corpus,
         "--out", str(tmp_path / "out"), "--cores", "2", "--gold"],
        cwd=tmp_path,
    )
    assert m["extraction_mismatches"] == 0
    assert m["n_triples"] > 0
    assert (m["precision"], m["recall"]) == (1.0, 1.0)


def test_graph_gold_prints_precision_and_recall(small_corpus, tmp_path):
    m = _run(
        [sys.executable, os.path.join(ROOT, "job.py"), "--graph", "--gold",
         "--corpus-dir", small_corpus, "--out", str(tmp_path / "out"),
         "--cores", "2"],
        cwd=tmp_path,
    )
    assert m["n_edges"] > 0
    assert (m["precision"], m["recall"]) == (1.0, 1.0)
