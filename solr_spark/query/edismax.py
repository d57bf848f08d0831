"""Extended DisMax (edismax): dismax + phrase boosts + aliasing + boost.

Reference semantics (solr/core/src/java/org/apache/solr/search/
ExtendedDismaxQParser.java:73,101-152, 1772 LoC; SURVEY.md §2.2):

- main query: each term is a DisjunctionMaxQuery over the ``qf`` fields
  (max + tie·rest), summed over terms, with ``mm`` min-should-match —
  exactly DisMaxQParser's combination (query/dismax.py).
- ``pf``: the WHOLE analyzed query, as a phrase with slop ``ps``, is scored
  against each pf field and ADDED to the main score for docs that match
  (addShingledPhraseQueries with shingle size = all terms).
- ``pf2`` / ``pf3``: every consecutive BIGRAM / TRIGRAM of the query terms
  becomes such an additive phrase boost (slop ``ps2``/``ps3``).
- field aliasing: ``f.<alias>.qf = realfield^boost ...`` lets qf/pf entries
  name an alias that fans out to real fields (ExtendedDismaxQParser.Alias).
- ``boost``: MULTIPLICATIVE boost — the final score is multiplied by the
  given function value per doc (BoostQParserPlugin semantics; unlike
  dismax's additive ``bf``).

Spark shape: the main dismax plan is unchanged (broadcast weights, two
keyed aggregations); each phrase boost is a positions-join
(query/phrase.py) producing (docid, boost_score) unioned once and merged
with a single groupBy(docid); the multiplicative boost is a projection
joined from the docs table. Phrase boosts only ever JOIN on docids already
matching their terms — no new scan shapes beyond the phrase operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze, analyze_pos
from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT, idf, tf_saturation
from solr_spark.query.dismax import dismax_score_df
from solr_spark.query.driver_result import empty_result
from solr_spark.query.phrase import phrase_score_df, phrase_tf_col


def _combined_phrase_boosts(
    index: IndexTables,
    gram_specs: list[tuple[list[str], list[int], float]],
    k1: float,
    b: float,
) -> DataFrame:
    """All slop=0 phrase boosts of one field in ONE postings aggregation.

    ``gram_specs``: (gram terms, query-position offsets, phrase weight =
    boost · Σ idf). The naive shape is one positions-join per gram (pf +
    pf2 + pf3 over an n-term query = 3n-3 postings scans and 2n-3 joins);
    here the union of all gram terms is scanned ONCE into a per-doc
    term→positions map, and every gram's adjacency tf + saturated
    contribution is a JVM expression over that map in the same row pass —
    one shuffle total, which is also the right plan at 100× the data.
    """
    n_docs, avgdl = index.corpus_stats()
    all_terms = sorted({t for gt, _, _ in gram_specs for t in gt})
    pos_map = (
        index.postings.where(F.col("term").isin(all_terms))
        .groupBy("docid")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("_pm")
        )
    )
    joined = pos_map.join(index.doclens, "docid")
    contribs = []
    for gterms, offsets, w in gram_specs:
        cols = [F.element_at(F.col("_pm"), t) for t in gterms]
        present = cols[0].isNotNull()
        for c in cols[1:]:
            present = present & c.isNotNull()
        tfp = phrase_tf_col(cols, 0, offsets)
        contribs.append(
            F.when(
                present,
                F.lit(w) * tf_saturation(tfp, F.col("dl"), k1, b, avgdl),
            ).otherwise(F.lit(0.0))
        )
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return (
        joined.select("docid", total.alias("contrib"))
        .where(F.col("contrib") > 0)
    )


def resolve_aliases(
    qf: dict[str, float], aliases: dict[str, dict[str, float]] | None
) -> dict[str, float]:
    """Expand alias field names into real fields, multiplying boosts
    (f.<alias>.qf semantics). Real fields pass through untouched."""
    if not aliases:
        return dict(qf)
    out: dict[str, float] = {}
    for fname, boost in qf.items():
        if fname in aliases:
            for real, ab in aliases[fname].items():
                out[real] = out.get(real, 0.0) + boost * ab
        else:
            out[fname] = out.get(fname, 0.0) + boost
    return out


def _ngrams(items: list, n: int) -> list[list]:
    return [items[i : i + n] for i in range(len(items) - n + 1)]


def edismax_search(
    indexes: dict[str, IndexTables],
    query: str,
    qf: dict[str, float] | None = None,
    tie: float = 0.0,
    mm: int = 1,
    pf: dict[str, float] | None = None,
    pf2: dict[str, float] | None = None,
    pf3: dict[str, float] | None = None,
    ps: int = 0,
    ps2: int = 0,
    ps3: int = 0,
    boost_col: Column | str | None = None,
    aliases: dict[str, dict[str, float]] | None = None,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    filter_sets: "Sequence[DataFrame]" = (),
) -> DataFrame:
    """Top-k (docid, score) under edismax combination.

    ``indexes`` maps field name -> IndexTables (build_multi_index); phrase
    boosts need those indexes built with positions=True. ``boost_col``
    multiplies the final score by a column of the first index's docs table.
    """
    fields = list(indexes)
    qf = resolve_aliases(qf or {f: 1.0 for f in fields}, aliases)
    some_index = indexes[fields[0]]
    spark = some_index.postings.sparkSession
    analyzer = some_index.analyzer
    terms = analyze(query, analyzer)
    # (term, position) pairs for the phrase boosts: Lucene's edismax builds
    # its pf/pf2/pf3 PhraseQueries from the analyzed token stream WITH
    # position increments, so analyzer stopword gaps survive into the
    # phrase pattern ("quick and dirty" under text_en boosts quick@0
    # dirty@2, not an adjacent bigram) — same rule as the parser's quoted
    # phrases (ExtendedDismaxQParser.addShingledPhraseQueries).
    terms_pos = analyze_pos(query, analyzer)
    empty = empty_result(spark, "docid long, score double")
    if not terms:
        return empty

    # ONE stats job per field for the whole query: the union of qf and
    # pf/pf2/pf3 fields collects here and is shared with the main dismax
    # pass (a field in both qf and pf previously paid two collects — a
    # driver round-trip on the query critical path, SURVEY §11c).
    stat_fields = {f for f in qf if f in indexes}
    for pdict in (pf, pf2, pf3):
        if pdict:
            stat_fields |= {
                f for f in resolve_aliases(pdict, aliases) if f in indexes
            }
    uniq_terms = sorted(set(terms))
    field_stats: dict[str, dict[str, int]] = {
        fname: {
            r["term"]: r["df"]
            for r in indexes[fname].term_stats()
            .where(F.col("term").isin(uniq_terms))
            .collect()
        }
        for fname in sorted(stat_fields)
    }

    # Main dismax query over the resolved qf — unsorted: the top-k sort
    # happens once, AFTER the phrase boosts and multiplicative boost.
    main = dismax_score_df(
        {f: indexes[f] for f in qf if f in indexes},
        query, qf=qf, tie=tie, mm=mm, k1=k1, b=b, field_stats=field_stats,
    ).select("docid", F.col("score").alias("contrib"))

    # Additive phrase boosts: pf = whole query, pf2 = bigrams, pf3 = trigrams.
    # One dictionary lookup per FIELD (not per gram): all grams draw from
    # the same query terms.
    parts = [main]
    min_gram = None
    # slop=0 grams batch into ONE postings aggregation per field
    # (_combined_phrase_boosts); sloppy grams keep the per-gram path.
    combined: dict[str, list[tuple[list[str], list[int], float]]] = {}
    for pdict, size, slop in ((pf, 0, ps), (pf2, 2, ps2), (pf3, 3, ps3)):
        if not pdict:
            continue
        grams = [terms_pos] if size == 0 else _ngrams(terms_pos, size)
        for fname, boost in resolve_aliases(pdict, aliases).items():
            if fname not in indexes:
                continue
            for gram in grams:
                if len(gram) < 2:
                    continue
                gterms = [t for t, _ in gram]
                # mm subset shortcut counts DISTINCT terms: a gram of a
                # repeated term ("spark spark") only evidences ONE matched
                # query term, so it cannot stand in for mm=2.
                n_distinct = len(set(gterms))
                min_gram = (
                    n_distinct if min_gram is None else min(min_gram, n_distinct)
                )
                offs = [p - gram[0][1] for _, p in gram]
                if slop == 0:
                    if any(t not in field_stats[fname] for t in gterms):
                        continue  # an absent term: the gram matches nothing
                    nd_f, _ = indexes[fname].corpus_stats()
                    w = boost * sum(
                        idf(nd_f, field_stats[fname][t]) for t in gterms
                    )
                    combined.setdefault(fname, []).append((gterms, offs, w))
                else:
                    parts.append(
                        phrase_score_df(
                            indexes[fname], gterms, slop=slop, boost=boost,
                            k1=k1, b=b, quantize_norms=False,
                            stats=field_stats[fname],
                            offsets=offs,
                        ).select("docid", F.col("score").alias("contrib"))
                    )
    for fname, specs in combined.items():
        parts.append(
            _combined_phrase_boosts(indexes[fname], specs, k1=k1, b=b)
        )

    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    scored = allc.groupBy("docid").agg(F.sum("contrib").alias("score"))
    # Phrase boosts must not resurrect docs the main query rejected under
    # mm. A doc matching a k-gram phrase contains >= k query terms, so when
    # mm <= k for every boost in play the boosted set is already a subset of
    # the main match set — skip the (second-pass) semi-join entirely.
    if min_gram is not None and mm > min_gram:
        scored = scored.join(main.select("docid"), "docid", "left_semi")

    if boost_col is not None:
        bc = F.col(boost_col) if isinstance(boost_col, str) else boost_col
        bdf = some_index.docs.select("docid", bc.cast("double").alias("_mboost"))
        scored = scored.join(bdf, "docid").select(
            "docid", (F.col("score") * F.col("_mboost")).alias("score")
        )

    # fq restriction (FilterQuery semantics) before the top-k.
    for fset in filter_sets:
        scored = scored.join(fset.select("docid"), "docid", "left_semi")
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
