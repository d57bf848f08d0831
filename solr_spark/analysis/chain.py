"""Analyzer chains + vectorized Spark UDFs.

The chains mirror the reference configset text types
(/root/reference/solr/server/solr/configsets/_default/conf/managed-schema.xml):

- ``text_general`` (:295-305): standard tokenizer -> stop(empty set) ->
  lowercase.
- ``text_en`` (:342-372): standard -> stop(en, ignoreCase) -> lowercase ->
  englishPossessive -> porterStem (keywordMarker's protwords.txt ships empty;
  query-time synonyms are not enabled here, making index==query chains).
- ``simple`` — NOT from the reference: lowercase + ``[^a-z0-9]+`` split. This
  chain exists so the DuckDB correctness oracle can reproduce tokenization in
  pure SQL (``regexp_split_to_array(lower(text), '[^a-z0-9]+')``); the engine
  is analyzer-parametric, so the same indexing/scoring code paths are
  exercised under both chains.
- ``delimited_payload``: whitespace ``term|payload`` tokens (Lucene
  DelimitedPayloadTokenFilter, the reference's ``*_dpf`` field type).

Filter semantics (public Lucene behavior):
- StopFilter(ignoreCase=true) drops stopwords BEFORE lowercasing in the
  shipped chain; since matching is case-insensitive the order is immaterial.
- EnglishPossessiveFilter strips a trailing ``'s`` / ``’s``.
- All filters preserve position increments for dropped stopwords; our BM25
  uses discountOverlaps=true and no filter emits overlaps, so doc length is
  simply the surviving token count (SURVEY.md §1.5).
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from solr_spark.analysis.porter import porter_stem
from solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS
from solr_spark.analysis.tokenizer import standard_tokenize

_SIMPLE_SPLIT_RE = re.compile(r"[^a-z0-9]+")
_WS_RE = re.compile(r"\s+")


def simple_tokenize(text: str) -> list[str]:
    """Oracle-reproducible chain: lowercase + split on non-[a-z0-9]."""
    if not text:
        return []
    return [t for t in _SIMPLE_SPLIT_RE.split(text.lower()) if t]


def _strip_possessive(tok: str) -> str:
    if len(tok) >= 2 and tok[-1] == "s" and tok[-2] in ("'", "’"):
        return tok[:-2]
    return tok


def text_general(text: str) -> list[str]:
    """standard -> stop(empty) -> lowercase."""
    return [t.lower() for t in standard_tokenize(text)]


def text_en(text: str) -> list[str]:
    """standard -> stop(en) -> lowercase -> possessive -> porter."""
    out: list[str] = []
    for tok in standard_tokenize(text):
        low = tok.lower()
        if low in ENGLISH_STOP_WORDS:
            continue
        out.append(porter_stem(_strip_possessive(low)))
    return out


def delimited_payload_tokens(text: str) -> list[tuple[str, int, float]]:
    """(term, position, payload) triples of the ``delimited_payload`` chain:
    whitespace tokens carrying ``term|payload``, terms lowercased for parity
    with query/payload.py's logical ingestion; a token without a parseable
    payload gets 1.0. Positions are raw whitespace-token indexes, identical
    to posexplode over split(text, r"\\s+") on the logical path."""
    out = []
    for i, tok in enumerate(_WS_RE.split(text)):
        if not tok:
            continue
        parts = tok.split("|")
        term = parts[0].lower()
        if not term:
            continue
        try:
            pay = float(parts[1]) if len(parts) > 1 else 1.0
        except ValueError:
            pay = 1.0
        out.append((term, i, pay))
    return out


def delimited_payload(text: str) -> list[str]:
    return [t for t, _, _ in delimited_payload_tokens(text)]


ANALYZERS: dict[str, Callable[[str], list[str]]] = {
    "simple": simple_tokenize,
    "text_general": text_general,
    "text_en": text_en,
    "delimited_payload": delimited_payload,
}


def simple_tokenize_pos(text: str) -> list[tuple[str, int]]:
    """(term, position) pairs; positions number the NON-EMPTY tokens (the
    split's empty artifacts are not tokens, so they don't consume positions
    — matches the DuckDB oracle's row_number over filtered tokens)."""
    return [(t, i) for i, t in enumerate(simple_tokenize(text))]


def text_general_pos(text: str) -> list[tuple[str, int]]:
    return [(t.lower(), i) for i, t in enumerate(standard_tokenize(text))]


def text_en_pos(text: str) -> list[tuple[str, int]]:
    """standard -> stop(en) -> lowercase -> possessive -> porter, with
    Lucene position-increment semantics: dropped stopwords consume a
    position (StopFilter enablePositionIncrements=true)."""
    out: list[tuple[str, int]] = []
    for i, tok in enumerate(standard_tokenize(text)):
        low = tok.lower()
        if low in ENGLISH_STOP_WORDS:
            continue
        out.append((porter_stem(_strip_possessive(low)), i))
    return out


def delimited_payload_pos(text: str) -> list[tuple[str, int]]:
    return [(t, i) for t, i, _ in delimited_payload_tokens(text)]


ANALYZERS_POS: dict[str, Callable[[str], list[tuple[str, int]]]] = {
    "simple": simple_tokenize_pos,
    "text_general": text_general_pos,
    "text_en": text_en_pos,
    "delimited_payload": delimited_payload_pos,
}


def analyze_pos(text: str, analyzer: str = "text_en") -> list[tuple[str, int]]:
    return ANALYZERS_POS[analyzer](text)


def analyze(text: str, analyzer: str = "text_en") -> list[str]:
    return ANALYZERS[analyzer](text)


# ---------------------------------------------------------------------------
# Vectorized Spark UDFs (Arrow-batched; no per-row Python at the Spark layer)
# ---------------------------------------------------------------------------

TERM_FREQ_TYPE = ArrayType(
    StructType(
        [
            StructField("term", StringType(), False),
            StructField("tf", IntegerType(), False),
        ]
    )
)

# With positions: one entry per distinct term per doc, carrying the sorted
# 0-based token positions. Position numbering follows Lucene's increment
# semantics (StopFilter enablePositionIncrements=true, the reference default):
# a dropped stopword CONSUMES a position without emitting a token, so
# "quick AND dirty" indexes quick@0 dirty@2 and the phrase "quick dirty"
# does not match — exactly Lucene's behavior.
TERM_POS_TYPE = ArrayType(
    StructType(
        [
            StructField("term", StringType(), False),
            StructField("tf", IntegerType(), False),
            StructField("positions", ArrayType(IntegerType(), False), False),
        ]
    )
)


def analyze_udf(analyzer: str = "text_en"):
    """pandas UDF: content:string -> array<string> of analyzed tokens."""
    fn = ANALYZERS[analyzer]

    @F.pandas_udf(ArrayType(StringType()))
    def _analyze(col: pd.Series) -> pd.Series:
        return col.map(lambda s: fn(s) if s is not None else [])

    return _analyze


def analyze_terms_udf(analyzer: str = "text_en"):
    """pandas UDF: content -> array<struct<term,tf>> (doc-local tf combine).

    Computing tf inside the UDF is the map-side combine of the index build:
    the downstream explode+shuffle carries one row per DISTINCT term per doc
    instead of one row per token occurrence (SURVEY.md §3.2 Spark shape).
    """
    fn = ANALYZERS[analyzer]

    def _one(s: str | None) -> list[tuple[str, int]] | None:
        if s is None:
            return []
        return sorted(Counter(fn(s)).items())

    @F.pandas_udf(TERM_FREQ_TYPE)
    def _terms(col: pd.Series) -> pd.Series:
        return col.map(_one)

    return _terms


def analyze_terms_positions_udf(analyzer: str = "text_en"):
    """pandas UDF: content -> array<struct<term,tf,positions>>.

    Same doc-local combine as analyze_terms_udf, plus the sorted token
    positions per term — the payload Lucene stores when a field has
    IndexOptions.DOCS_AND_FREQS_AND_POSITIONS (the reference's text-field
    default), which is what makes true PhraseQuery adjacency checks work.
    """
    fn = ANALYZERS_POS[analyzer]

    def _one(s: str | None) -> list[tuple[str, int, list[int]]]:
        if s is None:
            return []
        acc: dict[str, list[int]] = {}
        for t, i in fn(s):
            acc.setdefault(t, []).append(i)
        return [(t, len(ps), ps) for t, ps in sorted(acc.items())]

    @F.pandas_udf(TERM_POS_TYPE)
    def _terms(col: pd.Series) -> pd.Series:
        return col.map(_one)

    return _terms
