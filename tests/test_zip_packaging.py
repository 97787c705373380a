"""Zip-packaging guard: the north-rule deployment form ships the library as
`spark-submit --py-files erx.zip`, so the package must import and expose its
operator surface from a zip archive (zipimport) — no __file__-relative
resource loads, no data files outside the .py tree.  The full spark-submit
probe is recorded in BENCH/BASELINE.md; this test pins the fragile part
(zip-safe imports) cheaply in CI."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
# the submodules a spark-submit driver touches across the stage sequence
from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
from entity_resolution_pipeline_spark.functions.minhash import minhash_signature
from entity_resolution_pipeline_spark.operators import (
    blocking, classify, cluster, dedup, features, impute, webtext,
)
from entity_resolution_pipeline_spark.plans import curation, pipeline
from entity_resolution_pipeline_spark.sources import manifest
from entity_resolution_pipeline_spark.streaming import ingest
sig = minhash_signature("zip import probe", num_hashes=8, k=3)
assert len(sig) == 8
assert cluster.LOCAL_FINISH_MAX_EDGES > 0
print("ZIP-IMPORT-OK")
"""


def test_package_imports_from_zip(tmp_path):
    zpath = str(tmp_path / "erx.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(REPO, "entity_resolution_pipeline_spark")
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO))
    # a clean interpreter with ONLY the zip on the path for the package
    # (cwd moved to tmp so the repo checkout can't shadow the zip)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, zpath],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "ZIP-IMPORT-OK" in out.stdout
