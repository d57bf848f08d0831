"""Query execution with query-time synonyms (SynonymQuery + graph paths).

Builder parity (public Lucene QueryBuilder over a SynonymGraphFilter'd
stream; reference wiring: managed-schema.xml:308 query-analyzer
synonymGraph):

- all-single-token span -> SynonymQuery: one blended pseudo-term with
  weight idf(max member df) and per-doc tf = Σ member tfs, fed through the
  ordinary BM25 saturation;
- span with a multi-token path -> disjunction of the paths (TermQuery /
  PhraseQuery), scored independently and summed per doc;
- spans combine like the default OR query: per-doc sum of span scores.

Spark shape: one postings scan per span, term-IN filtered (pushed down);
the blended span aggregates tf by docid BEFORE scoring (map-side combine);
phrase paths reuse phrase_score_df's position-join plan. All dictionary
lookups batch into a single filtered term_stats collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.analysis.synonyms import SynonymRules, expand_spans
from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT, idf, tf_saturation
from solr_spark.query.driver_result import empty_result


def synonym_search(
    index: IndexTables,
    query: str,
    rules: SynonymRules,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = False,
) -> DataFrame:
    """Top-k (docid, score) for ``query`` with query-time synonym
    expansion. See module docstring for the scoring contract."""
    from solr_spark.query.phrase import phrase_score_df

    spark = index.postings.sparkSession
    empty = empty_result(spark, "docid long, score double")
    toks = analyze(query, index.analyzer)
    if not toks:
        return empty
    spans = expand_spans(toks, rules)
    n_docs, avgdl = index.corpus_stats()
    if n_docs == 0:
        return empty

    # One dictionary lookup for every term any path needs.
    all_terms = sorted(
        {t for _, _, alts in spans for seq in alts for t in seq}
    )
    stats = {
        r["term"]: r["df"]
        for r in index.term_stats()
        .where(F.col("term").isin(all_terms))
        .collect()
    }
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    parts: list[DataFrame] = []
    for _, _, alts in spans:
        singles = sorted({seq[0] for seq in alts if len(seq) == 1})
        multis: list[list[str]] = []
        for seq in alts:
            if len(seq) > 1 and seq not in multis:
                multis.append(seq)
        present = [t for t in singles if t in stats]
        if present and not multis and len(singles) > 1:
            # SynonymQuery: blended df = max, per-doc tf = sum.
            w = idf(n_docs, max(stats[t] for t in present))
            parts.append(
                index.postings.where(F.col("term").isin(present))
                .groupBy("docid")
                .agg(F.sum("tf").alias("tf_syn"))
                .join(index.doclens, "docid")
                .select(
                    "docid",
                    (
                        F.lit(w) * tf_saturation("tf_syn", dl_col, k1, b, avgdl)
                    ).alias("contrib"),
                )
            )
            continue
        for t in present:
            w = idf(n_docs, stats[t])
            parts.append(
                index.postings.where(F.col("term") == t)
                .join(index.doclens, "docid")
                .select(
                    "docid",
                    (
                        F.lit(w) * tf_saturation("tf", dl_col, k1, b, avgdl)
                    ).alias("contrib"),
                )
            )
        for seq in multis:
            if any(t not in stats for t in seq):
                continue  # a phrase path with an absent member can't match
            parts.append(
                phrase_score_df(
                    index, seq, slop=0, k1=k1, b=b,
                    quantize_norms=quantize_norms, stats=stats,
                ).select("docid", F.col("score").alias("contrib"))
            )
    if not parts:
        return empty
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    scored = allc.groupBy("docid").agg(F.sum("contrib").alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
