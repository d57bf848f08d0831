"""The `spark-submit --py-files dist/engine.zip` deployment path, end to end.

North-rule requirements exercised here in miniature:
- the engine ships as one zip artifact and is imported ONLY from it
  (the job script never edits sys.path; cwd is a temp dir, not the repo),
- the same job at two parallelism levels yields byte-identical top-10
  (docid, score) signatures and the same order-independent corpus
  content-sha256 checksum (the per-row invariant),
- the zip carries the whole driver catalog (``solr_spark.entry_queries``).
"""

from __future__ import annotations

import json
import os
import subprocess
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _run(cores: int, workdir: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [
            SPARK_SUBMIT, "--master", f"local[{cores}]",
            "--py-files", os.path.join(REPO, "dist", "engine.zip"),
            os.path.join(REPO, "tools", "submit_index_job.py"),
            "--n-docs", "2000", "--partitions", "8",
            "--out", os.path.join(workdir, f"idx_{cores}"),
        ],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


@pytest.fixture(scope="module")
def engine_zip():
    subprocess.run(
        ["python", os.path.join(REPO, "tools", "make_dist.py")],
        check=True, capture_output=True,
    )
    return os.path.join(REPO, "dist", "engine.zip")


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_submit_job_parallelism_invariant(engine_zip):
    with tempfile.TemporaryDirectory() as wd:
        a = _run(2, wd)
        b = _run(4, wd)
    assert a["manifest_docs"] == b["manifest_docs"] == 2000
    assert a["corpus_sha256_sum"] == b["corpus_sha256_sum"]
    assert a["top10_signature"] == b["top10_signature"]
    assert a["manifest_partitions"] == b["manifest_partitions"] == 8


# Imports the catalog from the zip alone and prints what the driver reads.
_CATALOG_PROBE = """
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from solr_spark import entry_queries as eq
print(json.dumps({
    "file": eq.__file__,
    "queries": list(eq.queries()),
    "catalog": list(eq.CATALOG),
    "flagship": list(eq._FLAGSHIP_FIRST),
    "oracle": hashlib.sha256(
        json.dumps(list(eq.oracle_sql().items())).encode()).hexdigest()[:16],
}))
"""


def test_zip_ships_the_catalog(engine_zip):
    """The zip carries the whole catalog package. No CORRECTNESS report
    ships with it, so every entry counts as unverified: the flagship names
    lead, then CATALOG order."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    with tempfile.TemporaryDirectory() as wd:
        out = subprocess.run(
            ["python", "-c", _CATALOG_PROBE, engine_zip],
            cwd=wd, env=env, capture_output=True, text=True, timeout=120,
        )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.splitlines()[-1])
    assert got["file"].startswith(engine_zip)
    assert len(got["queries"]) == 230
    assert got["oracle"] == "6ab4733b5c2b16fe"
    flagship = [n for n in got["flagship"] if n in got["catalog"]]
    rest = [n for n in got["catalog"] if n not in flagship]
    assert got["queries"] == flagship + rest
