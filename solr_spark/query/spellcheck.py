"""Spell checking: dictionary-driven correction candidates.

Reference: solr/core/src/java/org/apache/solr/spelling/
DirectSolrSpellChecker.java — candidate terms within maxEdits (default 2)
of the input, drawn directly from the live term dictionary, ranked by edit
distance then document frequency; WordBreakSolrSpellChecker handles
split/join variants.

Spark shape: the term dictionary is the (term, df) table; candidates come
from a PRUNED probe — first-letter prune (mirroring DirectSpellChecker's
FST prefix constraint) + length-band predicate + thresholded levenshtein
(early-exit DP) — capped by a distributed top-k, so per-query cost stays
bounded against a 10^9-term dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.build import IndexTables
from solr_spark.query.driver_result import empty_result


def spellcheck(
    index: IndexTables,
    word: str,
    max_edits: int = 2,
    count: int = 5,
    min_df: int = 1,
    require_same_first_letter: bool = True,
) -> DataFrame:
    """Correction candidates for ``word``: (term, df, dist), ranked by
    (dist asc, df desc, term asc). The input word itself is excluded."""
    w = word.lower()
    t = index.term_stats().where(F.col("df") >= min_df)
    if require_same_first_letter and w:
        t = t.where(F.col("term").startswith(w[0]))
    # Pruned probe, same shape as query/expand.py: the length band is a
    # one-comparison reject evaluated before any edit distance, and the
    # THRESHOLDED levenshtein early-exits at max_edits instead of running
    # the full DP over every dictionary term.
    tlen = F.length(F.col("term"))
    t = t.where((tlen >= len(w) - max_edits) & (tlen <= len(w) + max_edits))
    t = t.withColumn("dist", F.levenshtein(F.col("term"), F.lit(w), max_edits))
    return (
        t.where((F.col("dist") >= 0) & (F.col("term") != w))
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(count)
        .select("term", "df", "dist")
    )


def wordbreak_split(
    index: IndexTables, word: str, count: int = 5, min_df: int = 1
) -> DataFrame:
    """WordBreak BREAK suggestions (spelling/WordBreakSolrSpellChecker.java,
    BREAK_WORDS mode): split ``word`` into two dictionary terms. Returns
    (left, right, df_left, df_right) ranked by the weaker part's frequency
    (min df desc — the suggestion is only as good as its rarer half), then
    left asc. Both halves must meet ``min_df``.

    Scale shape: the candidate splits are a |word|-row driver-side table
    (broadcast); two semi-joins against term_stats resolve dictionary
    membership — never a dictionary collect."""
    spark = index.postings.sparkSession
    w = word.lower()
    if len(w) < 2:
        return empty_result(
            spark, "left string, right string, df_left long, df_right long"
        )
    splits = spark.createDataFrame(
        [(w[:i], w[i:]) for i in range(1, len(w))], ["left", "right"]
    )
    t = index.term_stats().where(F.col("df") >= min_df)
    dl = t.select(F.col("term").alias("left"), F.col("df").alias("df_left"))
    dr = t.select(F.col("term").alias("right"), F.col("df").alias("df_right"))
    return (
        F.broadcast(splits)
        .join(dl, "left")
        .join(dr, "right")
        .select("left", "right", "df_left", "df_right")
        .orderBy(
            F.least("df_left", "df_right").desc(), F.col("left").asc()
        )
        .limit(count)
    )


def wordbreak_combine(
    index: IndexTables, words: list[str], count: int = 5, min_df: int = 1
) -> DataFrame:
    """WordBreak COMBINE suggestions: adjacent input words whose
    concatenation is a dictionary term (COMBINE_WORDS mode). Returns
    (left, right, combined, df) ranked df desc."""
    spark = index.postings.sparkSession
    pairs = [
        (words[i].lower(), words[i + 1].lower(),
         words[i].lower() + words[i + 1].lower())
        for i in range(len(words) - 1)
    ]
    if not pairs:
        return empty_result(
            spark, "left string, right string, combined string, df long"
        )
    pdf = spark.createDataFrame(pairs, ["left", "right", "combined"])
    t = index.term_stats().where(F.col("df") >= min_df).select(
        F.col("term").alias("combined"), "df"
    )
    return (
        F.broadcast(pdf)
        .join(t, "combined")
        .orderBy(F.col("df").desc(), F.col("combined").asc())
        .limit(count)
    )


def collate(
    index: IndexTables,
    words: list[str],
    max_edits: int = 2,
    max_candidates: int = 3,
    max_collations: int = 5,
) -> DataFrame:
    """Spellcheck collations (spelling/SpellCheckCollator.java): combine
    per-word correction candidates into whole corrected queries and keep
    only combinations that actually produce hits (the reference re-runs
    each collation as a query; hits = docs matching ALL corrected words).

    Scale shape: candidate lists are tiny (<= max_candidates per word, the
    reference builds the same combinations in memory), so the cross
    product happens driver-side; hit counting is ONE distinct-postings
    scan filtered to the candidate terms, joined to the literal
    (collation, slot, term) frame, grouped twice — never one query per
    collation like the reference's collate loop.
    """
    from itertools import product

    spark = index.postings.sparkSession
    cand_lists = []
    for w in words:
        cands = [
            r["term"]
            for r in spellcheck(
                index, w, max_edits=max_edits, count=max_candidates
            ).collect()
        ]
        # the original word participates if it is a real dictionary term
        if index.term_stats().where(F.col("term") == w.lower()).limit(1).count():
            cands.insert(0, w.lower())
        if not cands:
            return empty_result(spark, "collation string, hits long")
        cand_lists.append(cands)

    combos = [
        (" ".join(c), i, slot, term)
        for i, c in enumerate(product(*cand_lists))
        for slot, term in enumerate(c)
    ]
    combo_df = F.broadcast(
        spark.createDataFrame(combos, ["collation", "cid", "slot", "term"])
    )
    terms = sorted({t for *_, t in combos})
    doc_terms = (
        index.postings.where(F.col("term").isin(terms))
        .select("docid", "term")
        .distinct()
    )
    n_slots = len(words)
    hits = (
        doc_terms.join(combo_df, "term")
        .groupBy("cid", "collation", "docid")
        .agg(F.countDistinct("slot").alias("_ns"))
        .where(F.col("_ns") == n_slots)
        .groupBy("collation")
        .agg(F.count("*").alias("hits"))
    )
    return (
        hits.orderBy(F.col("hits").desc(), F.col("collation").asc())
        .limit(max_collations)
    )
