"""The driver catalog's contract, pinned without a Spark session.

The driver runs a sampled prefix of ``queries()``, so the entry names, their
oracle SQL and the order of ``queries()`` are all part of the contract. The
two digests (sha256, first 16 hex digits) pin ``CATALOG``'s names in
registration order and ``oracle_sql()`` byte for byte. A change that means
to alter the catalog updates them in the same change.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from solr_spark.entry_queries import (
    CATALOG, _FLAGSHIP_FIRST, _driver_verified_from_reports, oracle_sql, queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CATALOG_DIGEST = "e5355b876be9c1f9"
ORACLE_DIGEST = "6ab4733b5c2b16fe"
MAX_MODULE_LINES = 2000


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _green_in_reports() -> set[str]:
    """Names with a fully green row in any CORRECTNESS_r*.json report."""
    green = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if (row.get("rows_match") and row.get("schema_match")
                        and row.get("hash_match") and not row.get("err")):
                    green.add(name)
    return green


def test_catalog_names_pinned():
    assert len(CATALOG) == 230
    assert _digest("\n".join(CATALOG)) == CATALOG_DIGEST


def test_oracle_sql_pinned():
    assert _digest(json.dumps(list(oracle_sql().items()))) == ORACLE_DIGEST


def test_reports_found_from_package():
    verified = _driver_verified_from_reports()
    assert verified and verified <= set(CATALOG)
    assert verified == _green_in_reports() & set(CATALOG)


def test_queries_order_flagship_unverified_verified():
    green = _green_in_reports()
    flagship = [n for n in _FLAGSHIP_FIRST if n in CATALOG and n not in green]
    unverified = [n for n in CATALOG if n not in green and n not in flagship]
    verified = [n for n in CATALOG if n in green]
    assert list(queries()) == flagship + unverified + verified


def test_every_oracle_has_a_query():
    assert set(oracle_sql()) <= set(queries())


def test_no_module_over_limit():
    for path in glob.glob(os.path.join(REPO, "solr_spark", "**", "*.py"),
                          recursive=True):
        with open(path) as fh:
            n = sum(1 for _ in fh)
        assert n <= MAX_MODULE_LINES, f"{os.path.relpath(path, REPO)}: {n} lines"
