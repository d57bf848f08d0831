"""True phrase / slop queries over position-aware postings.

Reference semantics: Lucene PhraseQuery as produced by the classic parser's
quoted clauses (grammar: solr/core/src/java/org/apache/solr/parser/
QueryParser.jj — PHRASE plus optional ~slop; wiring:
parser/SolrQueryParserBase.java getFieldQuery/phraseSlop). Scoring parity:
BM25 with tf = number of phrase matches and idf = SUM of the member terms'
idfs (Lucene's BM25Similarity receives the summed idf Explanation for a
phrase).

Match semantics implemented here, per doc:
- slop=0: positions p, p+1, ..., p+n-1 — exact adjacency; tf = number of
  start positions (identical to Lucene's exact PhraseQuery freq).
- slop>0 (PhraseQuery path): full Lucene SLOPPY semantics — out-of-order
  arrangements match when their offset-adjusted spread fits the slop, and
  each match weighs 1/(1+matchLength) into a FLOAT freq (query/sloppy.py
  reimplements SloppyPhraseMatcher's greedy sweep; shared with the
  physical path so both agree bit-for-bit).
- span paths (surround N/W, complexphrase) keep the IN-ORDER window
  matcher (SpanNearQuery inOrder=true counts integer span occurrences,
  not sloppy weights) via ``sloppy=False``.

Spark shape — everything stays in whole-stage codegen:
- one postings scan per DISTINCT phrase term with a pushed-down term=…
  filter (partition/row-group prunable exactly like the BM25 term scan);
- n-way join on docid: Catalyst reorders; the first join shrinks candidates
  to docs containing the rarest term, so join input is O(min df);
- adjacency via nested EXISTS over the position arrays (HigherOrderFunction
  — no explode, no Python): tf_p = size(filter(pos_0, p -> exists(pos_1,
  q -> q>p & ... ))).

At 100 TB this is the plan you want: per-query IO is O(postings of the
phrase terms), the join is a shuffle on docid over only those postings (AQE
demotes to broadcast when one side is small), and no row explosion happens
— position arrays stay packed inside their postings rows.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf string annotations)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT, idf, tf_saturation
from solr_spark.query.driver_result import empty_result


def phrase_tf_col(
    pos_cols: list[Column], slop: int = 0, offsets: list[int] | None = None
) -> Column:
    """Number of in-order phrase matches given one position-array column per
    phrase term (in phrase order). Pure JVM higher-order functions.

    ``offsets`` are the query-side token positions (0, d_1, ..., d_{n-1});
    gaps arise when the query analyzer drops stopwords ("quick and dirty"
    in text_en -> quick@0 dirty@2) — Lucene builds the PhraseQuery with
    those gaps, so an exact match requires term_i at p + d_i exactly.
    """
    n = len(pos_cols)
    offsets = offsets if offsets is not None else list(range(n))
    window = offsets[-1] + slop

    def completion(i: int, prev: Column, first: Column) -> Column:
        if i == n:
            return F.lit(True)
        if slop == 0:
            cond = lambda q: (q == first + F.lit(offsets[i])) & completion(  # noqa: E731
                i + 1, q, first
            )
        else:
            cond = lambda q: (  # noqa: E731
                (q > prev)
                & ((q - first) <= F.lit(window))
                & completion(i + 1, q, first)
            )
        return F.exists(pos_cols[i], cond)

    return F.size(F.filter(pos_cols[0], lambda p: completion(1, p, p)))


def phrase_match_df(
    index: IndexTables,
    terms: list[str | list[str]],
    slop: int = 0,
    offsets: list[int] | None = None,
    sloppy: bool = True,
) -> DataFrame:
    """(docid, tf_p) for docs containing ``terms`` as a phrase (tf_p > 0).

    ``sloppy=True`` (the PhraseQuery default) applies Lucene's sloppy
    matcher when slop > 0: out-of-order arrangements admitted, tf_p a
    DOUBLE of summed 1/(1+matchLength) weights. ``sloppy=False`` keeps the
    in-order window matcher with integer occurrence counts — the SpanNear
    contract the surround/complexphrase paths need. slop=0 is exact
    adjacency either way.

    A slot may be a LIST of alternative terms (Lucene SpanOr inside a
    SpanNear — the complexphrase parser's wildcard-in-phrase rewrite): the
    slot's positions are the sorted union of the alternatives' positions in
    that doc. Requires ``index.has_positions``. A one-term phrase is a term
    query (Lucene PhraseQuery.rewrite), so its slop is ignored.
    """
    if not index.has_positions:
        raise ValueError(
            "phrase matching requires a position-aware index "
            "(build_index(..., positions=True))"
        )
    if not terms:
        raise ValueError("empty phrase")
    if len(terms) == 1:
        slop = 0
    parts = []
    for i, t in enumerate(terms):
        if isinstance(t, str):
            parts.append(
                index.postings.where(F.col("term") == t).select(
                    "docid", F.col("positions").alias(f"pos_{i}")
                )
            )
        else:
            # multi-term slot: union the alternatives' position lists per doc
            parts.append(
                index.postings.where(F.col("term").isin(sorted(set(t))))
                .groupBy("docid")
                .agg(
                    F.array_sort(F.flatten(F.collect_list("positions"))).alias(
                        f"pos_{i}"
                    )
                )
            )
    joined = parts[0]
    for p in parts[1:]:
        joined = joined.join(p, "docid")
    if slop > 0 and sloppy:
        import numpy as np

        from solr_spark.query.sloppy import (
            sloppy2_tf_expr,
            sloppy_freq,
            sloppyn_tf_expr,
        )

        offs = offsets if offsets is not None else list(range(len(terms)))
        idents = [t if isinstance(t, str) else tuple(sorted(set(t))) for t in terms]
        if all(isinstance(t, str) for t in terms) and len(set(terms)) == len(
            terms
        ):
            # DISTINCT-term phrases run PURE JVM (whole-stage codegen, no
            # Python workers / Arrow): the dominant 2-term shape via the
            # two-pointer fold, 3+-term via the n-iterator argmin fold.
            # Only repeated-term phrases (Lucene's repeat-group machinery)
            # keep the Python sweep below.
            if len(terms) == 2:
                tf_p = F.expr(
                    sloppy2_tf_expr("pos_0", "pos_1", offs[0], offs[1], slop)
                )
            else:
                tf_p = F.expr(
                    sloppyn_tf_expr(
                        [f"pos_{i}" for i in range(len(terms))], offs, slop
                    )
                )
            return (
                joined.withColumn("tf_p", tf_p)
                .where(F.col("tf_p") > 0)
                .select("docid", "tf_p")
            )

        @F.pandas_udf("double")
        def _freq(col: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    sloppy_freq(
                        [np.asarray(x, dtype=np.int64) for x in row],
                        offs, slop, idents,
                    )
                    for row in col
                ],
                dtype="float64",
            )

        tf_p = _freq(F.array(*[F.col(f"pos_{i}") for i in range(len(terms))]))
    else:
        tf_p = phrase_tf_col(
            [F.col(f"pos_{i}") for i in range(len(terms))], slop, offsets
        )
    return (
        joined.withColumn("tf_p", tf_p)
        .where(F.col("tf_p") > 0)
        .select("docid", "tf_p")
    )


def phrase_score_df(
    index: IndexTables,
    terms: list[str],
    slop: int = 0,
    boost: float = 1.0,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
    offsets: list[int] | None = None,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """(docid, score) BM25-scored phrase matches: weight = boost · Σ idf(t_i),
    tf = phrase frequency — Lucene PhraseQuery scoring.

    slop > 0 applies Lucene's SLOPPY matcher (query/sloppy.py): freq is the
    float sum of 1/(1+matchLength) weights, out-of-order arrangements
    included.

    ``stats`` (term -> global df) lets a caller issuing several phrase
    queries (edismax pf/pf2/pf3) batch the dictionary lookup into one
    collect instead of one per gram."""
    spark = index.postings.sparkSession
    n_docs, avgdl = index.corpus_stats()
    if stats is None:
        stats = {
            r["term"]: r["df"]
            for r in index.term_stats()
            .where(F.col("term").isin(sorted(set(terms))))
            .collect()
        }
    if n_docs == 0 or any(t not in stats for t in terms):
        return empty_result(spark, "docid long, score double")
    w = boost * sum(idf(n_docs, stats[t]) for t in terms)
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    return (
        phrase_match_df(index, terms, slop, offsets)
        .join(index.doclens, "docid")
        .select(
            "docid",
            (F.lit(w) * tf_saturation("tf_p", dl_col, k1, b, avgdl)).alias(
                "score"
            ),
        )
    )


def span_near_df(
    index: IndexTables,
    terms: list[str],
    slop: int = 0,
    ordered: bool = True,
) -> DataFrame:
    """SpanNearQuery semantics — the core of the `surround` grammar's
    N/W operators (search/SurroundQParserPlugin.java; `3W(a, b)` = ordered
    within 3, `3N(a, b)` = unordered within 3; Lucene SpanNearQuery
    inOrder flag).

    ordered=True delegates to the phrase window matcher (in-order,
    increasing positions, span <= (n-1)+slop). ordered=False counts minimal
    covering windows over the terms' position lists whose span fits the
    window, any order, distinct positions — the standard minimal-window
    sweep, run inside an Arrow-batched pandas UDF on the (already
    conjunction-reduced) joined rows; per-doc work is O(total positions of
    the query terms in that doc).

    Returns (docid, tf_p) with tf_p >= 1.
    """
    if ordered:
        # SpanNearQuery counts in-order span occurrences — integer tf, no
        # sloppy weighting (that's the PhraseQuery matcher, not spans).
        return phrase_match_df(index, terms, slop, sloppy=False)
    if not index.has_positions:
        raise ValueError("span_near requires a position-aware index")
    n = len(terms)
    parts = []
    for i, t in enumerate(terms):
        parts.append(
            index.postings.where(F.col("term") == t).select(
                "docid", F.col("positions").alias(f"pos_{i}")
            )
        )
    joined = parts[0]
    for p in parts[1:]:
        joined = joined.join(p, "docid")

    window = n - 1 + slop

    @F.pandas_udf("int")
    def _count(col: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for row in col:
            lists = [np.asarray(x, dtype=np.int64) for x in row]
            idx = [0] * n
            cnt = 0
            while all(idx[i] < lists[i].size for i in range(n)):
                vals = [int(lists[i][idx[i]]) for i in range(n)]
                mn, mx = min(vals), max(vals)
                if mx - mn <= window and len(set(vals)) == n:
                    cnt += 1
                idx[vals.index(mn)] += 1
            out.append(cnt)
        return pd.Series(out, dtype="int32")

    tf = _count(F.array(*[F.col(f"pos_{i}") for i in range(n)]))
    return (
        joined.withColumn("tf_p", tf)
        .where(F.col("tf_p") > 0)
        .select("docid", "tf_p")
    )


def complex_phrase_topk(
    index: IndexTables,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
) -> DataFrame:
    """`{!complexphrase}` (search/ComplexPhraseQParserPlugin.java, Lucene
    ComplexPhraseQueryParser): a quoted phrase whose tokens may be PREFIX
    wildcards — ``"part filt* scan"`` — rewritten to a SpanNear of SpanOr
    clauses. Each wildcard slot expands against the term dictionary; its
    positions are the per-doc union of the expansions.

    Scoring (documented simplification of SpanWeight): BM25 with tf =
    phrase freq and idf from df_slot = Σ df(expansions) (an upper bound of
    the union df — conservative, cheap, and oracle-reproducible).
    """
    spark = index.postings.sparkSession
    empty = empty_result(spark, "docid long, score double")
    raw = phrase.split()
    slots: list[str | list[str]] = []
    tstats = index.term_stats()
    for tok in raw:
        if tok.endswith("*") and len(tok) > 1:
            from solr_spark.analysis.chain import analyze
            from solr_spark.query.expand import prefix_top_terms

            pref = analyze(tok[:-1], index.analyzer)
            pref_txt = pref[0] if pref else tok[:-1].lower()
            # Capped expansion (df-descending top-N, Lucene's top-terms
            # span rewrite): a slot term list must stay driver-sized even
            # against a 10^9-term dictionary.
            matched = sorted(prefix_top_terms(tstats, pref_txt))
            if not matched:
                return empty
            slots.append(matched)
        else:
            from solr_spark.analysis.chain import analyze

            ts = analyze(tok, index.analyzer)
            if not ts:
                continue
            slots.extend(ts)
    if not slots:
        return empty
    n_docs, avgdl = index.corpus_stats()
    flat = sorted({t for s in slots for t in (s if isinstance(s, list) else [s])})
    stats = {
        r["term"]: r["df"]
        for r in tstats.where(F.col("term").isin(flat)).collect()
    }
    w = 0.0
    for s in slots:
        if isinstance(s, str):
            if s not in stats:
                return empty
            w += idf(n_docs, stats[s])
        else:
            w += idf(n_docs, sum(stats.get(t, 0) for t in s))
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    scored = (
        # ComplexPhraseQueryParser emits SpanNearQuery(inOrder=true):
        # in-order span counting, not the sloppy PhraseQuery matcher.
        phrase_match_df(index, slots, slop, sloppy=False)
        .join(index.doclens, "docid")
        .select(
            "docid",
            (F.lit(w) * tf_saturation("tf_p", dl_col, k1, b, avgdl)).alias(
                "score"
            ),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def phrase_topk(
    index: IndexTables,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
) -> DataFrame:
    """Analyze ``phrase`` with the index's chain (keeping position gaps left
    by dropped stopwords, like Lucene's query-time analysis) and return the
    top-k matches."""
    from solr_spark.analysis.chain import analyze_pos

    tp = analyze_pos(phrase, index.analyzer)
    spark = index.postings.sparkSession
    if not tp:
        return empty_result(spark, "docid long, score double")
    terms = [t for t, _ in tp]
    offsets = [p - tp[0][1] for _, p in tp]
    scored = phrase_score_df(
        index, terms, slop=slop, k1=k1, b=b, quantize_norms=quantize_norms,
        offsets=offsets,
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
