"""PhrasesIdentificationComponent — query collocation scoring.

Reference: handler/component/PhrasesIdentificationComponent.java:1000-1086.
Given a query string, every contiguous span (up to ``max_query_len``) is
scored for "is this span a real phrase in this corpus?" with the
reference's Bayesian model over indexed shingle statistics:

  for each largest indexed sub-phrase w of the span (contiguous subspans of
  length min(len, max_indexed_len) that occur ADJACENTLY somewhere):
    P(w|phrase)      = ttf(w as adjacent shingle) / min(ttf of w's terms)
    P(w|not phrase)  = ttf(w) / max(ttf of w's terms)
    P(phrase)        = conj_count(span terms) / conj_count(w terms)
    wrapper          = max over INDEXED query spans T ⊃ w with
                       len(T) <= max_indexed_len of df(T)/conj_count(T)
    score_w = P(w|phrase)·(P(phrase) − wrapper)
            − P(w|not phrase)·(1 − (P(phrase) − wrapper))
  field_score = Σ score_w · 1/(1 + max_query_len − max_indexed_len)
                          · conj_count(span)/max(conj counts of subs)

The wrapper term is the reference's bias correction: a sub-phrase always
co-occurs wherever its super-phrase does, so the super-phrase's own
phrase-probability is subtracted before crediting the sub
(PhrasesIdentificationComponent.java:1010-1014, 1035-1042). With the
shipped configset (shingles up to 3) ``max_indexed_len=3`` is full parity.
Single-word spans score 0 when indexed, −1 when not; a span whose terms
never all share a document scores −1 (lines 960-975).

Shapes at scale: ALL corpus statistics come from TWO jobs — the per-term
ttf/df lookup, and one term-pruned scan whose per-doc term->positions map
feeds a single global aggregate carrying every conjunction count and every
shingle's adjacent (ttf, df) as columns (adjacency counted inside the
packed position arrays — no explode, no per-span job). The query-side span
set is O(query length²) — driver-trivial, like the term stats lookups
every query parser already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables
from solr_spark.query.driver_result import empty_result


def phrases_identification(
    idx: IndexTables,
    query: str,
    analyzer: str = "simple",
    max_query_len: int = 3,
    max_indexed_len: int = 3,
) -> DataFrame:
    """Score every contiguous span of ``query`` (lengths 1..max_query_len)
    as a candidate phrase. Returns (phrase, pos_start, pos_end, score) in
    score-descending order; scores <= 0 mean "not a phrase"."""
    # the effective indexed shingle depth can never exceed the query depth
    # (reference: maxIndexedPositionLength is read from the INDEX analyzer,
    # maxQueryPositionLength >= it by config validation)
    max_indexed_len = min(max_indexed_len, max_query_len)
    spark = idx.postings.sparkSession
    toks = analyze(query, analyzer)
    if not toks:
        return empty_result(
            spark, "phrase string, pos_start int, pos_end int, score double"
        )

    terms = sorted(set(toks))
    stats = {
        r["term"]: (int(r["ttf"]), int(r["df"]))
        for r in idx.postings.where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("tf").alias("ttf"), F.count("*").alias("df"))
        .collect()
    }

    spans: list[tuple[int, int]] = [
        (s, s + ln)
        for ln in range(1, min(max_query_len, len(toks)) + 1)
        for s in range(0, len(toks) - ln + 1)
    ]

    # ---- ALL corpus statistics in ONE job -------------------------------
    # One term-pruned scan -> per-doc term->positions map -> a single
    # global aggregate whose columns are every conjunction count and every
    # shingle's (ttf, df). The span loop below then runs on plain Python
    # numbers — no per-span Spark jobs (a 6-token query would otherwise pay
    # ~20 sequential job round-trips).
    conj_keys = sorted(
        {
            tuple(sorted(set(toks[s:e])))
            for s, e in spans
            if all(t in stats for t in toks[s:e])
        }
    )
    shingle_keys = sorted(
        {
            tuple(toks[s:e])
            for s, e in spans
            if 1 < e - s <= max_indexed_len
            and all(t in stats for t in toks[s:e])
        }
    )
    conj_cache: dict[tuple[str, ...], int] = {k: 0 for k in conj_keys}
    shingle: dict[tuple[str, ...], tuple[int, int]] = {
        k: (0, 0) for k in shingle_keys
    }
    if conj_keys or shingle_keys:
        perdoc = (
            idx.postings.where(F.col("term").isin(terms))
            .groupBy("docid")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))
                ).alias("tp")
            )
        )
        tp = F.col("tp")
        aggs = []
        for ci, key in enumerate(conj_keys):
            has_all = F.lit(True)
            for t in key:
                has_all = has_all & tp.getItem(t).isNotNull()
            aggs.append(
                F.sum(has_all.cast("long")).alias(f"_c{ci}")
            )

        def _adj(i: int, t: str):
            return lambda p: F.array_contains(
                F.coalesce(tp.getItem(t), F.array()), p + i
            )

        for si, key in enumerate(shingle_keys):
            occ = F.coalesce(tp.getItem(key[0]), F.array())
            for i, t in enumerate(key[1:], start=1):
                occ = F.filter(occ, _adj(i, t))
            n_occ = F.size(occ)
            aggs.append(F.sum(n_occ.cast("long")).alias(f"_t{si}"))
            aggs.append(F.sum((n_occ > 0).cast("long")).alias(f"_d{si}"))
        row = perdoc.agg(*aggs).first()
        for ci, key in enumerate(conj_keys):
            conj_cache[key] = int(row[f"_c{ci}"] or 0)
        for si, key in enumerate(shingle_keys):
            shingle[key] = (int(row[f"_t{si}"] or 0), int(row[f"_d{si}"] or 0))

    def conj(ts: tuple[str, ...]) -> int:
        return conj_cache.get(tuple(sorted(set(ts))), 0)

    def wrapper_prob(ws: int, we: int) -> float:
        """max df(T)/conj(T) over indexed query spans T strictly containing
        [ws, we) with len(T) <= max_indexed_len."""
        best = 0.0
        for s, e in spans:
            if (s, e) == (ws, we) or s > ws or e < we:
                continue
            if e - s > max_indexed_len:
                continue
            key = tuple(toks[s:e])
            st = shingle.get(key)
            if not st or st[0] <= 0:
                continue  # not indexed as an adjacent shingle
            c = conj(key)
            if c > 0:
                best = max(best, st[1] / c)
        return best

    rows = []
    for s, e in spans:
        span = tuple(toks[s:e])
        phrase = " ".join(span)
        length = e - s
        if any(t not in stats for t in span):
            rows.append((phrase, s, e, -1.0))
            continue
        if length == 1:
            rows.append((phrase, s, e, 0.0))
            continue
        span_conj = conj(span)
        if span_conj <= 0:
            rows.append((phrase, s, e, -1.0))
            continue
        sub_len = min(length, max_indexed_len)
        field_score = 0.0
        max_sub_conj = span_conj
        for i in range(length - sub_len + 1):
            w = span[i : i + sub_len]
            st = shingle.get(w)
            if not st or st[0] <= 0:
                continue  # sub-phrase not indexed: contributes nothing
            ttf_w = st[0]
            w_conj = conj(w)
            if w_conj <= 0:
                continue
            max_sub_conj = max(max_sub_conj, w_conj)
            ttfs = [stats[t][0] for t in w]
            wpp = ttf_w / min(ttfs)
            wnp = ttf_w / max(ttfs)
            pp = span_conj / w_conj
            wrap = wrapper_prob(s + i, s + i + sub_len)
            field_score += wpp * (pp - wrap) - wnp * (1.0 - (pp - wrap))
        field_score *= 1.0 / (1 + max_query_len - max_indexed_len)
        field_score *= span_conj / max_sub_conj
        rows.append((phrase, s, e, field_score))
    out = spark.createDataFrame(
        rows, "phrase string, pos_start int, pos_end int, score double"
    )
    return out.orderBy(
        F.col("score").desc(), F.col("pos_start").asc(), F.col("pos_end").asc()
    )
