"""Per-position payloads: delimited ingestion + payload_score queries.

Reference: tokens like ``term|1.5`` carry a per-position payload
(Lucene DelimitedPayloadTokenFilter, wired by the ``payloads`` dynamic
field in the default configset), and ``{!payload_score f=... func=max}``
scores each doc by a function over the payloads at the matched term's
positions (solr/core/src/java/org/apache/solr/search/
PayloadScoreQParserPlugin.java, 92 LoC; functions min/max/average/sum,
first — with includeSpanScore=false the payload function value IS the
score).

Spark shape — everything is whole-stage-codegen JVM expressions:
- ingestion: whitespace split + posexplode + delimiter split, then ONE
  groupBy(term, docid) whose collect_list(struct(pos, payload)) keeps
  payloads aligned with positions after an array_sort (struct arrays sort
  by leading field). The shuffle carries one row per distinct term per
  doc, payload arrays packed inside — the same packed-postings discipline
  as the core index build.
- scoring: array_max / array_min / aggregate / element_at over the payload
  array of the single postings row the term filter prunes to. Per-query IO
  is O(postings of the query term).

The PHYSICAL path serializes payloads too (the reference's .pay-file
role): ``build_index_dir(..., analyzer="delimited_payload")`` writes a
position-aligned float32 payload stream with per-block max-payload impact
metadata, and ``PhysicalIndex.payload_topk`` scores top-k with block-max
pruning over it (index/codec.py, query/wand.py:_payload_partition).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PAYLOAD_FUNCS = ("min", "max", "sum", "average", "first")


def delimited_payload_postings(
    corpus: DataFrame,
    id_col: str = "docid",
    text_col: str = "text",
    delimiter: str = "|",
    default_payload: float = 1.0,
) -> DataFrame:
    """Build payload-aware postings (term, docid, tf, positions, payloads)
    from whitespace-tokenized ``term|payload`` text. Terms lowercase; a
    token without a parseable payload gets ``default_payload`` (the
    filter's encoder default)."""
    delim = re.escape(delimiter)
    toks = corpus.select(
        F.col(id_col).alias("docid"),
        F.split(F.col(text_col), r"\s+").alias("toks"),
    )
    expl = (
        toks.select("docid", F.posexplode("toks").alias("pos", "tok"))
        .where(F.col("tok") != "")
        .select(
            "docid",
            "pos",
            F.lower(F.split("tok", delim).getItem(0)).alias("term"),
            # try_* variants: a token without a delimiter or with an
            # unparseable payload degrades to the default (ANSI-safe).
            F.coalesce(
                F.try_element_at(F.split("tok", delim), F.lit(2)).try_cast(
                    "double"
                ),
                F.lit(float(default_payload)),
            ).alias("payload"),
        )
        .where(F.col("term") != "")
    )
    return (
        expl.groupBy("term", "docid")
        .agg(
            F.count("*").cast("int").alias("tf"),
            F.array_sort(
                F.collect_list(F.struct("pos", "payload"))
            ).alias("_pp"),
        )
        .select(
            "term",
            "docid",
            "tf",
            F.transform("_pp", lambda x: x["pos"]).alias("positions"),
            F.transform("_pp", lambda x: x["payload"]).alias("payloads"),
        )
    )


def _payload_fn(func: str) -> "callable":
    if func == "max":
        return lambda c: F.array_max(c)
    if func == "min":
        return lambda c: F.array_min(c)
    if func == "sum":
        return lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x)
    if func == "average":
        return lambda c: (
            F.aggregate(c, F.lit(0.0), lambda a, x: a + x) / F.size(c)
        )
    if func == "first":
        return lambda c: F.element_at(c, 1)
    raise ValueError(f"unknown payload function {func!r}; one of {PAYLOAD_FUNCS}")


def payload_score(
    payload_postings: DataFrame,
    term: str,
    func: str = "max",
    extra_funcs: dict[str, str] | None = None,
) -> DataFrame:
    """`{!payload_score}` with includeSpanScore=false: (docid, score) where
    score = ``func`` over the payloads at ``term``'s positions in the doc.
    ``extra_funcs`` adds named columns computed by other payload functions
    over the same postings row (one scan serves them all)."""
    base = payload_postings.where(F.col("term") == term.lower())
    cols: list[Column] = [
        F.col("docid"),
        _payload_fn(func)(F.col("payloads")).alias("score"),
    ]
    for name, fn in (extra_funcs or {}).items():
        cols.append(_payload_fn(fn)(F.col("payloads")).alias(name))
    return base.select(*cols)


_CHECK_OPS = {
    "eq": lambda a, b: a == b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
}


def payload_check(
    payload_postings: DataFrame,
    terms: list[str],
    payloads: list[float],
    op: str = "eq",
) -> DataFrame:
    """`{!payload_check f=... v='t0 t1 ...' payloads='p0 p1 ...' op=eq}`
    (PayloadCheckQParserPlugin.java:45 -> Lucene SpanPayloadCheckQuery):
    docs containing an ADJACENT occurrence of the term sequence whose
    payload at every position i satisfies ``payload_i <op> payloads[i]``.
    Returns (docid, matches) — matches = number of qualifying occurrences
    (the reference scores the underlying span; the match set is what the
    check adds and what this returns).

    Plan: one docid-keyed join per extra term over term-pruned postings
    rows (positions+payloads ride inside each row as arrays — the same
    packed shape the phrase path uses), then the occurrence check is a
    single JVM filter over the first term's position array. Per-query IO
    is O(postings of the query terms); no explode, no shuffle beyond the
    k-way join.
    """
    if len(terms) != len(payloads):
        raise ValueError("need one payload per term")
    if op not in _CHECK_OPS:
        raise ValueError(f"unknown op {op!r}; one of {sorted(_CHECK_OPS)}")
    cmp = _CHECK_OPS[op]

    base = payload_postings.where(
        F.col("term") == terms[0].lower()
    ).select(
        "docid",
        F.col("positions").alias("pos0"),
        F.col("payloads").alias("pay0"),
    )
    for i, t in enumerate(terms[1:], start=1):
        ti = payload_postings.where(F.col("term") == t.lower()).select(
            "docid",
            F.col("positions").alias(f"pos{i}"),
            F.col("payloads").alias(f"pay{i}"),
        )
        base = base.join(ti, "docid")

    def occ_ok(p: Column) -> Column:
        cond = F.lit(True)
        for i in range(len(terms)):
            idx = F.array_position(F.col(f"pos{i}"), p + i)
            pay_i = F.element_at(F.col(f"pay{i}"), idx.cast("int"))
            ok = cmp(pay_i, F.lit(float(payloads[i])))
            cond = cond & (idx > 0) & ok
        return cond

    matches = F.size(F.filter(F.col("pos0"), occ_ok))
    return (
        base.select("docid", matches.alias("matches"))
        .where(F.col("matches") > 0)
    )
