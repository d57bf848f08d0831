"""tools/check_oracle.py: --resume-log refuses a log from another sf_dir;
the per-column type check compares binder types. Catalog entries that
reorder a raw top-k by the oracle's quantized score guard their headroom."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("header", [None, "other"])
def test_resume_log_refuses_other_sf_dir(tmp_path, header):
    log = tmp_path / "sweep.log"
    lines = [] if header is None else [f"sf_dir {tmp_path / header}"]
    log.write_text("\n".join(lines + ["ok   some_entry: 1 rows (0.1s)", ""]))
    out = subprocess.run(
        [sys.executable, "tools/check_oracle.py", str(tmp_path / "sf"),
         "--resume-log", str(log)],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2, out.stderr
    assert "refusing --resume-log" in out.stderr


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_hugeint_oracle_column_flagged():
    """A DuckDB sum over BIGINT binds as HUGEINT but fetches as a Python int,
    so only the binder type shows it differs from Spark's LongType."""
    import duckdb
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    co = _check_oracle()
    con = duckdb.connect()
    schema = StructType([StructField("s", LongType())])
    hugeint = con.sql("SELECT sum(x) AS s FROM (SELECT 1::BIGINT x)")
    assert co.type_mismatches(schema, hugeint) == [
        "coltype s: spark=int oracle=hugeint"]
    cast = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT 1::INT x)")
    assert co.type_mismatches(schema, cast) == []
    double = StructType([StructField("s", DoubleType())])
    assert co.type_mismatches(double, cast) == [
        "coltype s: spark=float oracle=int"]


def test_fuzzy_headroom_guard(spark):
    """A quantized-score tie group at rank 10 that reaches the last raw rank
    of the headroom raises; with enough headroom the oracle's order holds.
    Docs 103..100 quantize equal in falling raw order, so a raw top-12
    lacks doc 100, which the oracle ranks 10th."""
    from solr_spark.entry_queries.ranking import _top10_over_headroom

    rows = ([(i, 2.0 - i / 10) for i in range(9)]
            + [(103 - i, 1.00004 - i * 1e-5) for i in range(4)] + [(200, 0.5)])

    def raw(n):
        return spark.createDataFrame(rows[:n], "docid long, score double")

    with pytest.raises(RuntimeError, match="headroom is too small"):
        _top10_over_headroom(raw(12), 12)
    got = _top10_over_headroom(raw(14), 14).collect()
    assert [r.doc_id for r in got] == [*range(9), 100]
    assert [r.score_x10k for r in got][-1] == 10000
