"""The spark-submit job end to end, each run in its own JVM from a cwd
outside the checkout: with the committed ``--py-files`` zip the Python
daemon imports the package and the triples match the gold exactly; with
``--graph --gold`` the checkpointed pipeline's triples are scored too.
On both paths a page whose html does not extract to its text fails the
job."""

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


@pytest.fixture(scope="module")
def altered_corpus(small_corpus, tmp_path_factory):
    """small_corpus with one English page's text altered, so that
    page's html no longer extracts to its text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("job_corpus_altered")
    for name in os.listdir(small_corpus):
        shutil.copy(os.path.join(small_corpus, name), d)
    pages = pq.read_table(d / "pages.parquet")
    text = pages.column("text").to_pylist()
    text[pages.column("lang").to_pylist().index("en")] += " altered"
    pq.write_table(
        pages.set_column(pages.schema.get_field_index("text"), "text",
                         pa.array(text, pa.string())),
        d / "pages.parquet",
    )
    return str(d)


def _run(cmd: list[str], cwd, returncode: int = 0) -> dict:
    # nothing but the job's own argv may put the package on the path
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == returncode, out.stderr[-4000:]
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


@pytest.mark.parametrize("mode", [[], ["--graph"]], ids=["triples", "graph"])
def test_extraction_mismatch_fails_the_job(altered_corpus, tmp_path, mode):
    m = _run(
        [sys.executable, os.path.join(ROOT, "job.py"), *mode,
         "--corpus-dir", altered_corpus, "--out", str(tmp_path / "out"),
         "--cores", "2"],
        cwd=tmp_path, returncode=1,
    )
    assert m["extraction_mismatches"] == 1
