"""`{!xmlparser}` — Lucene XML query syntax compiled to scored streams.

Reference: solr/core/src/java/org/apache/solr/search/XmlQParserPlugin.java
(wraps Lucene's queryparser.xml.CoreParser builder registry). Supported
elements, matching the CoreParser factories:

- ``<TermQuery fieldName=f boost=b>term</TermQuery>`` — analyzed term; on
  the indexed text field it scores BM25, on a stored field it is a
  constant-score (1.0) value match (this engine's stored-field convention).
- ``<TermsQuery fieldName=f>t1 t2 ...</TermsQuery>`` — constant-score
  any-of set query (Lucene TermInSetQuery scores 1.0·boost).
- ``<BooleanQuery>`` with ``<Clause occurs="must|mustnot|should|filter">``
  children — BooleanQuery composition: MUST scores+restricts, SHOULD adds,
  FILTER restricts scoreless, MUSTNOT excludes; filter-only booleans score 0.
- ``<DisjunctionMaxQuery tieBreaker=t>`` — per-doc max(child scores) +
  t·(sum − max).
- ``<MatchAllDocsQuery/>`` — every doc, score 1.0.
- ``<RangeQuery fieldName=f lowerTerm=a upperTerm=b includeLower=
  includeUpper=>`` — constant-score stored-field range (TermRangeQuery).
- ``<ConstantScoreQuery boost=b>`` — child match set re-scored to b.
- ``<UserQuery>lucene syntax</UserQuery>`` — delegates to the full
  Lucene-grammar ``search`` compiler.
- ``<SpanNear slop=s inOrder=>`` with ``<SpanTerm>`` children — ordered
  spans score like a PhraseQuery; unordered spans score their span
  frequency (documented divergence: Lucene span scoring feeds sloppyFreq
  through Similarity, out of scope here).

``fieldName`` inherits downward (the plugin's example sets it on
BooleanQuery for all children). Every element honors ``boost``.

Spark-first: each element compiles to a full (docid, score) DataFrame
stream; composition is union+groupBy / semi / anti joins — the same keyed
shapes as the string parsers, so Catalyst sees one declarative plan, and no
XML walking happens per document (the tree is parsed once, driver-side).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT
from solr_spark.query.driver_result import empty_result


def _const(df: DataFrame, score: float) -> DataFrame:
    return df.select("docid").distinct().select(
        "docid", F.lit(float(score)).alias("score")
    )


class _Compiler:
    def __init__(self, index: IndexTables, default_field: str,
                 k1: float, b: float):
        self.index = index
        self.default_field = default_field
        self.k1 = k1
        self.b = b

    def compile(self, el: ET.Element, field: str | None = None) -> DataFrame:
        field = el.get("fieldName") or field or self.default_field
        boost = float(el.get("boost", "1"))
        tag = el.tag
        fn = getattr(self, f"_{tag}", None)
        if fn is None:
            raise ValueError(f"unsupported XML query element <{tag}>")
        out = fn(el, field)
        if boost != 1.0:
            out = out.select("docid", (F.col("score") * F.lit(boost)).alias("score"))
        return out

    # --- leaves -------------------------------------------------------------

    def _text_search(self, q: str) -> DataFrame:
        from solr_spark.query.parser import search

        return search(self.index, q, k1=self.k1, b=self.b, _scores_only=True)

    def _TermQuery(self, el: ET.Element, field: str) -> DataFrame:
        term = (el.text or "").strip()
        if field == self.default_field:
            toks = analyze(term, self.index.analyzer)
            if not toks:
                return self._empty()
            return self._text_search(toks[0])
        return _const(
            self.index.docs.where(F.col(field) == term).select("docid"), 1.0
        )

    def _TermsQuery(self, el: ET.Element, field: str) -> DataFrame:
        raw = (el.text or "").split()
        if field == self.default_field:
            toks = [t for w in raw for t in analyze(w, self.index.analyzer)]
            if not toks:
                return self._empty()
            hits = self.index.postings.where(F.col("term").isin(toks))
            return _const(hits.select("docid"), 1.0)
        return _const(
            self.index.docs.where(F.col(field).isin(raw)).select("docid"), 1.0
        )

    def _MatchAllDocsQuery(self, el: ET.Element, field: str) -> DataFrame:
        return self.index.doclens.select(
            "docid", F.lit(1.0).alias("score")
        )

    def _RangeQuery(self, el: ET.Element, field: str) -> DataFrame:
        lo, hi = el.get("lowerTerm"), el.get("upperTerm")
        inc_lo = el.get("includeLower", "true").lower() != "false"
        inc_hi = el.get("includeUpper", "true").lower() != "false"
        c = F.col(field)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (c >= lo if inc_lo else c > lo)
        if hi is not None:
            pred = pred & (c <= hi if inc_hi else c < hi)
        return _const(self.index.docs.where(pred).select("docid"), 1.0)

    def _UserQuery(self, el: ET.Element, field: str) -> DataFrame:
        return self._text_search((el.text or "").strip())

    def _SpanNear(self, el: ET.Element, field: str) -> DataFrame:
        from solr_spark.query.phrase import phrase_score_df, span_near_df

        slop = int(el.get("slop", "0"))
        in_order = el.get("inOrder", "true").lower() != "false"
        terms = []
        for child in el:
            if child.tag != "SpanTerm":
                raise ValueError(
                    f"unsupported span element <{child.tag}> (SpanTerm only)"
                )
            terms.extend(analyze((child.text or "").strip(), self.index.analyzer))
        if not terms:
            return self._empty()
        if in_order:
            return phrase_score_df(
                self.index, terms, slop=slop, k1=self.k1, b=self.b,
                quantize_norms=False,
            )
        return span_near_df(self.index, terms, slop=slop, ordered=False).select(
            "docid", F.col("tf_p").cast("double").alias("score")
        )

    # --- composites ---------------------------------------------------------

    def _ConstantScoreQuery(self, el: ET.Element, field: str) -> DataFrame:
        children = list(el)
        if len(children) != 1:
            raise ValueError("ConstantScoreQuery needs exactly one child")
        # boost is applied by compile(); score the match set at 1.0
        return _const(self.compile(children[0], field), 1.0)

    def _DisjunctionMaxQuery(self, el: ET.Element, field: str) -> DataFrame:
        tie = float(el.get("tieBreaker", "0"))
        parts = [self.compile(c, field) for c in el]
        if not parts:
            return self._empty()
        allc = parts[0]
        for p in parts[1:]:
            allc = allc.unionByName(p)
        agg = allc.groupBy("docid").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm")
        )
        return agg.select(
            "docid",
            (F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx"))).alias("score"),
        )

    def _BooleanQuery(self, el: ET.Element, field: str) -> DataFrame:
        # MUST enforcement by membership count inside the single
        # union+groupBy (streams are docid-unique) — must clauses are not
        # re-executed as separate semi-join sets.
        parts: list[DataFrame] = []
        n_must = 0
        filter_sets: list[DataFrame] = []
        not_sets: list[DataFrame] = []
        for clause in el:
            if clause.tag != "Clause":
                raise ValueError(f"BooleanQuery child must be <Clause>, got <{clause.tag}>")
            occurs = clause.get("occurs", "should").lower()
            children = list(clause)
            if len(children) != 1:
                raise ValueError("<Clause> needs exactly one query child")
            sub = self.compile(children[0], clause.get("fieldName") or field)
            if occurs == "must":
                parts.append(sub.withColumn("_m", F.lit(1)))
                n_must += 1
            elif occurs == "should":
                parts.append(sub.withColumn("_m", F.lit(0)))
            elif occurs == "filter":
                filter_sets.append(sub.select("docid"))
            elif occurs in ("mustnot", "must_not"):
                not_sets.append(sub.select("docid"))
            else:
                raise ValueError(f"unknown occurs={occurs!r}")
        if parts and (n_must > 0 or not filter_sets):
            # either MUST clauses anchor the required set, or there is no
            # required clause at all (pure SHOULD: at least one must match)
            scored = parts[0]
            for p in parts[1:]:
                scored = scored.unionByName(p)
            scored = (
                scored.groupBy("docid")
                .agg(F.sum("score").alias("score"), F.sum("_m").alias("_m"))
                .where(F.col("_m") == n_must)
                .drop("_m")
            )
        elif filter_sets:
            # FILTER is a required clause (Lucene BooleanQuery), so SHOULD
            # becomes optional — shared combine with `{!bool}`.
            from solr_spark.query.boolq import optional_under_required

            domain = filter_sets[0].distinct()
            for s in filter_sets[1:]:
                domain = domain.join(s.distinct(), "docid", "left_semi")
            filter_sets = []
            scored = optional_under_required(domain, parts)
        else:
            return self._empty()
        for s in filter_sets:
            scored = scored.join(s.distinct(), "docid", "left_semi")
        for s in not_sets:
            scored = scored.join(s.distinct(), "docid", "left_anti")
        return scored

    def _empty(self) -> DataFrame:
        spark = self.index.postings.sparkSession
        return empty_result(spark, "docid long, score double")


def xml_query(
    index: IndexTables,
    xml: str,
    k: int = 10,
    default_field: str = "text",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """Parse + execute a Lucene-XML query; top-k (docid, score)."""
    root = ET.fromstring(xml)
    out = _Compiler(index, default_field, k1, b).compile(root)
    return out.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
