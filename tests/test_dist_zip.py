"""``spark-submit --py-files dist/remediner_spark.zip`` ships the
committed zip, not the source tree: it must hold exactly the package's
files, byte for byte. Regenerate it with ``tools/package.sh``."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_matches_package_source():
    tree: dict[str, bytes] = {}
    for dirpath, dirs, names in os.walk(os.path.join(ROOT, "remediner_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for n in names:
            if n.endswith(".pyc"):
                continue
            full = os.path.join(dirpath, n)
            with open(full, "rb") as fh:
                tree[os.path.relpath(full, ROOT).replace(os.sep, "/")] = fh.read()
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "remediner_spark.zip")) as zf:
        shipped = {
            i.filename: zf.read(i) for i in zf.infolist() if not i.is_dir()
        }
    assert any(k.endswith(".py") for k in tree)
    stale = sorted(k for k in tree.keys() & shipped.keys() if tree[k] != shipped[k])
    assert (
        sorted(shipped.keys() - tree.keys()),
        sorted(tree.keys() - shipped.keys()),
        stale,
    ) == ([], [], []), "dist/remediner_spark.zip is stale: run tools/package.sh"
