"""The driver-facing query catalog: Spark implementation + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
parquet tables (documents/embeddings for full-text + vector ops; the TPC-H-ish
tables for relational stream ops). The DuckDB SQL reproduces the semantics
exactly — including tokenization, which is why the full-text entries run the
``simple`` analyzer (lowercase + split on ``[^a-z0-9]+``): it is expressible
as ``regexp_split_to_array`` in SQL, so BM25 becomes end-to-end
oracle-checkable. The Lucene-parity ``text_en`` chain is exercised by the
pytest golden/property suites instead (tests/oracle/bm25_oracle.py).

Float discipline: floating-point outputs are emitted as SCALED INTEGERS
(``floor(x * 10^k + 0.5)`` in both engines) so the driver's value-hash cannot
be broken by last-bit double representation differences; sorts that feed a
LIMIT order by the scaled value with a unique-key tiebreak, so partial-sum
reordering across engines/parallelism cannot flip which rows are returned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables, build_index
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT

# ---------------------------------------------------------------------------
# Table + index plumbing (memoized per sf_dir)
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def scaled(col: Column | str, k: int = 4) -> Column:
    """floor(x·10^k + 0.5) as BIGINT — engine-portable fixed-point."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**k)) + F.lit(0.5)).cast("long")


def _sql_scaled(expr: str, k: int = 4) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** k)} + 0.5) AS BIGINT)"


_IDX_CACHE: dict[tuple[int, str], tuple[IndexTables, int, float]] = {}


def documents_index(spark: SparkSession, sf_dir: str) -> tuple[IndexTables, int, float]:
    """Logical index over the documents table (simple analyzer), memoized.

    Returns (index, N, avgdl). postings/doclens are persisted so the many
    catalog entries sharing the index don't re-run the analysis UDF.
    """
    key = (id(spark), sf_dir)
    if key not in _IDX_CACHE:
        docs = _t(spark, sf_dir, "documents")
        idx = build_index(
            docs, id_col="doc_id", text_col="text", analyzer="simple", cache=True
        )
        idx.postings = idx.postings.persist()
        idx.doclens = idx.doclens.persist()
        n, avgdl = idx.corpus_stats()
        idx.term_stats()  # persist global stats with the index (finalize)
        _IDX_CACHE[key] = (idx, n, avgdl)
    return _IDX_CACHE[key]


# ---------------------------------------------------------------------------
# Shared oracle-SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# simple analyzer: lowercase + split on non-[a-z0-9]; empties dropped.
TOKS = (
    "toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term "
    "FROM documents)"
)
TF = "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)"
DL = "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id)"
NDOCS = "(SELECT count(*) FROM documents)"
AVGDL = f"(SELECT sum(dl) * 1.0 / {NDOCS} FROM dl)"

# cosine similarity between a list column and the vec_id=0 query vector
_COS = (
    "list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))"
)


def bm25_sql(terms: list[str], k: int = 10) -> str:
    """Oracle BM25 (exact dl, k1=1.2 b=0.75) over documents for ``terms``."""
    tlist = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
scored AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _bm25_spark(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    """DataFrame BM25 top-k over documents, fixed-point to match the oracle."""
    from solr_spark.query.bm25 import bm25_score_df

    idx, _, _ = documents_index(spark, sf_dir)
    terms = sorted(set(analyze(query, "simple")))
    scored = bm25_score_df(idx, terms, quantize_norms=False)
    return (
        scored.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------


@dataclass
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None => driver records a rows-only check


CATALOG: dict[str, Entry] = {}


def register(name: str, sql: Optional[str]):
    def deco(fn):
        if name in CATALOG:  # a duplicate would silently shadow its twin
            raise ValueError(f"duplicate catalog entry {name!r}")
        CATALOG[name] = Entry(fn=fn, sql=sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver contract surface
# ---------------------------------------------------------------------------


# The driver samples a prefix of queries(), so never-yet-verified entries are
# ordered FIRST to close the verification gap within a round. Verified means
# in the union of all CORRECTNESS_r*.json reports present at the repo root
# (read at import time, so the set absorbs each new round automatically).
# Where no report ships (a spark-submit zip) nothing counts as verified.
#
# An entry counts as verified only if SOME round recorded a fully-green row
# (rows+schema+hash all match, no err): a sampled-but-imperfect row (e.g. an
# oracle type artifact, or an entry whose oracle landed after its sample)
# must re-enter the rotation so the fix gets a green row on record.
def _driver_verified_from_reports() -> frozenset[str]:
    import glob as _glob
    import json as _json

    pkg = os.path.dirname(os.path.abspath(__file__))  # solr_spark/entry_queries
    root = os.path.dirname(os.path.dirname(pkg))
    green: set[str] = set()
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                report = _json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(report, dict):
            for name, row in report.items():
                if (
                    isinstance(row, dict)
                    and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and not row.get("err")
                ):
                    green.add(name)
    return frozenset(green)


# Entries the engine's charter leans on hardest: if still unverified, these
# lead the unverified block so they land inside the driver's sample prefix.
# Green rows are a union over the reports, so a verified name never returns.
_FLAGSHIP_FIRST: tuple[str, ...] = ("perplexity_docs", "mixing_weights_sources")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    verified_set = _driver_verified_from_reports()
    flagship = {
        name: CATALOG[name].fn
        for name in _FLAGSHIP_FIRST
        if name in CATALOG and name not in verified_set
    }
    unverified = {
        name: e.fn for name, e in CATALOG.items()
        if name not in verified_set and name not in flagship
    }
    verified = {
        name: e.fn for name, e in CATALOG.items() if name in verified_set
    }
    return {**flagship, **unverified, **verified}


def oracle_sql() -> dict[str, str]:
    return {name: e.sql for name, e in CATALOG.items() if e.sql is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over the sf0.001 documents table."""
    return _bm25_spark(spark, "/root/testdata/sf0.001", "spark join data")


# The family modules register their entries on import; this order is CATALOG
# order, and so the order of queries() within each block.
from solr_spark.entry_queries import (  # noqa: E402,F401
    search, ranking, training, evaluators, distributions, joins, series,
)
