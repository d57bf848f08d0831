"""tools/check_oracle.py: --resume-log refuses a log from another sf_dir;
the per-column type check compares binder types."""

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
