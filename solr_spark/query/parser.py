"""Lucene-grammar query parser + compiler to DataFrame plans.

Covers the working subset of the classic Solr/Lucene grammar (reference:
solr/core/src/java/org/apache/solr/parser/QueryParser.jj + semantics in
parser/SolrQueryParserBase.java — fielded terms, +/-, AND/OR/NOT, phrases,
ranges, boosts, prefix wildcards; SURVEY.md §2.2):

- bare terms on the default text field: analyzed, OR'ed (SHOULD), BM25-scored
- ``+term`` / ``AND``: MUST — doc must match every must clause
- ``-term`` / ``NOT``: MUST_NOT — excluded
- ``"a phrase"`` / ``"a phrase"~N``: TRUE PhraseQuery — exact position
  adjacency at slop 0; Lucene SLOPPY semantics at slop N (out-of-order
  arrangements admitted, matches weighted 1/(1+matchLength) — see
  query/sloppy.py), scored with tf = phrase freq and idf = Σ member idfs
  (Lucene PhraseQuery/BM25 parity). On an index built with
  ``positions=False`` the clause degrades to a conjunction of its terms
  (documented fallback).
- ``field:value`` on a stored (non-text) field: exact-match filter, like
  Solr's fq/{!term}; ``field:[a TO b]``/``{a TO b}``: range filter
- ``term^2.5``: boost multiplies the term's BM25 weight
- ``prefix*``: constant score — boost ONCE per matching doc (Lucene's
  default multi-term rewrite, CONSTANT_SCORE_REWRITE, materializes a
  docid bitset). No term expansion happens at all: the prefix predicate
  pushes into the postings scan (query/expand.py)
- ``term~N``: fuzzy — bounded dictionary probe (length band + thresholded
  Levenshtein), capped at Lucene's maxExpansions=50 best terms, each
  BM25-scored (query/expand.py)

Compilation produces the same plan shape as bm25_score_df: term-IN postings
scan → broadcast weight join → aggregate by docid, plus semi/anti joins for
must/must_not and stored-field filters pushed to the docs table scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import (
    B_DEFAULT,
    K1_DEFAULT,
    idf,
    tf_saturation,
    weight_map_col,
)
from solr_spark.query.driver_result import empty_result

# --- lexer ------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<op>AND\b|OR\b|NOT\b|&&|\|\|)
  | (?P<mod>[+\-])
  | (?P<phrase>"(?P<phrase_body>[^"]*)"(?:~(?P<pslop>\d+))?)
  | (?P<range>(?P<rfield>[A-Za-z_][\w.]*):(?P<lb>[\[\{])(?P<lo>[^\s\]\}]+)\s+TO\s+(?P<hi>[^\s\]\}]+)(?P<rb>[\]\}]))
  | (?P<fielded>(?P<ffield>[A-Za-z_][\w.]*):(?P<fval>[^\s^]+))
  | (?P<term>[^\s^+\-][^\s^]*)
  | (?P<boost>\^(?P<bval>\d+(\.\d+)?))
    """,
    re.VERBOSE,
)


@dataclass
class Clause:
    """One parsed clause with its occur flag and boost."""

    kind: str  # term | phrase | prefix | filter_eq | filter_range
    occur: str = "should"  # should | must | must_not
    boost: float = 1.0
    text: str = ""  # raw term/phrase/prefix text
    field: str | None = None
    lo: str | None = None
    hi: str | None = None
    incl_lo: bool = True
    incl_hi: bool = True
    slop: int = 0  # phrase slop ("a b"~N)


@dataclass
class ParsedQuery:
    clauses: list[Clause] = dc_field(default_factory=list)


def parse_query(q: str, default_field: str = "text") -> ParsedQuery:
    """Parse one boolean LEVEL of the query string into clauses.

    Parenthesized groups are handled above this function: ``search()``
    splits them out with ``_split_top_level`` and recurses, so the text
    reaching here is always single-level."""
    clauses: list[Clause] = []
    pending_occur = "should"
    prev_op: str | None = None
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            pos += 1
            continue
        pos = m.end()
        if m.lastgroup and m.group("ws"):
            continue
        if m.group("op"):
            op = m.group("op")
            if op in ("NOT",):
                pending_occur = "must_not"
            else:
                prev_op = "AND" if op in ("AND", "&&") else "OR"
                # Lucene: a AND b makes BOTH sides MUST.
                if prev_op == "AND" and clauses and clauses[-1].occur == "should":
                    clauses[-1].occur = "must"
            continue
        if m.group("mod"):
            pending_occur = "must" if m.group("mod") == "+" else "must_not"
            continue
        if m.group("boost"):
            if clauses:
                clauses[-1].boost *= float(m.group("bval"))
            continue

        occur = pending_occur
        if prev_op == "AND" and occur == "should":
            occur = "must"
        pending_occur = "should"
        prev_op = None

        def _term_clause(raw: str) -> Clause:
            # fuzzy: term~ (maxEdits default 2, QueryParser.jj:139-141) or
            # term~N; N is clamped to Lucene's maximum supported edit
            # distance of 2 (LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE).
            # prefix: term*
            m_f = re.fullmatch(r"(.+?)~(\d*)", raw)
            if m_f:
                edits = min(int(m_f.group(2) or 2), 2)
                return Clause(
                    kind="fuzzy", occur=occur, text=m_f.group(1), lo=str(edits),
                )
            if raw.endswith("*") and len(raw) > 1:
                return Clause(kind="prefix", occur=occur, text=raw.rstrip("*"))
            return Clause(kind="term", occur=occur, text=raw)

        if m.group("phrase") is not None:
            clauses.append(
                Clause(
                    kind="phrase", occur=occur, text=m.group("phrase_body"),
                    slop=int(m.group("pslop") or 0),
                )
            )
        elif m.group("range") is not None:
            clauses.append(
                Clause(
                    kind="filter_range",
                    occur=occur,
                    field=m.group("rfield"),
                    lo=m.group("lo"),
                    hi=m.group("hi"),
                    incl_lo=m.group("lb") == "[",
                    incl_hi=m.group("rb") == "]",
                )
            )
        elif m.group("fielded") is not None:
            f_name, f_val = m.group("ffield"), m.group("fval")
            if f_name == default_field:
                clauses.append(_term_clause(f_val))
            else:
                clauses.append(
                    Clause(kind="filter_eq", occur=occur, field=f_name, text=f_val)
                )
        elif m.group("term") is not None:
            clauses.append(_term_clause(m.group("term")))
    return ParsedQuery(clauses=clauses)


# --- compiler / executor ----------------------------------------------------


def _range_pred(c: Clause, docs: DataFrame) -> Column:
    col = F.col(c.field)
    dtype = dict(docs.dtypes).get(c.field, "string")
    lo, hi = c.lo, c.hi

    def cast(v):
        if v == "*":
            return None
        return F.lit(v).cast(dtype)

    pred = F.lit(True)
    lo_c, hi_c = cast(lo), cast(hi)
    if lo_c is not None:
        pred = pred & (col >= lo_c if c.incl_lo else col > lo_c)
    if hi_c is not None:
        pred = pred & (col <= hi_c if c.incl_hi else col < hi_c)
    return pred


_CLAUSE_TOKEN_RE = (
    r'([A-Za-z_][\w.]*:[\[\{][^\]\}]*[\]\}]|"[^"]*"(?:~\d+)?|\S+)'
)
_OPERATOR_TOKENS = ("AND", "OR", "NOT", "&&", "||")


def _promote_last_clause(text: str) -> str:
    """Insert '+' before the last clause of ``text`` — 'a AND (b)' requires
    BOTH sides MUST (Lucene BooleanQuery conjunction), so the flat clause
    left of the AND is promoted alongside the group. No-op when the clause
    already carries a modifier or is itself an operator keyword."""
    m = re.search(_CLAUSE_TOKEN_RE + r"\s*$", text)
    if not m:
        return text
    tok = m.group(1)
    if tok.startswith(("+", "-")) or tok in _OPERATOR_TOKENS:
        return text
    # 'NOT x AND (b)': x already carries must_not from the NOT keyword — an
    # inserted '+' would OVERRIDE it and require the excluded term.
    head = text[: m.start(1)].rstrip()
    if head.endswith("NOT") and (len(head) == 3 or head[-4].isspace()):
        return text
    return text[: m.start(1)] + "+" + text[m.start(1) :]


def _promote_first_clause(text: str) -> str:
    """Insert '+' before the first clause of ``text`` ('(b) AND y' → +y)."""
    stripped = text.lstrip()
    m = re.match(_CLAUSE_TOKEN_RE, stripped)
    if not m:
        return text
    tok = m.group(1)
    if tok.startswith(("+", "-")) or tok in _OPERATOR_TOKENS:
        return text
    return text[: len(text) - len(stripped)] + "+" + stripped


def _split_top_level(q: str) -> tuple[str, list[tuple[str, float, str]]]:
    """Split a query into its top-level flat text and parenthesized groups.

    Returns (flat_text, [(occur, boost, inner_text), ...]). Occur comes
    from a '+'/'-'/NOT/AND immediately preceding the group; '^N' after the
    closing paren is the group boost. Nested parens stay inside inner_text
    (handled by the recursive search call). An AND adjacent to a group
    promotes BOTH sides: the group and its flat neighbor (the neighbor via
    an inserted '+' modifier that survives the flat re-parse).
    """
    flat_parts: list[str] = []
    groups: list[tuple[str, float, str]] = []
    i, n = 0, len(q)
    buf = ""

    def tail_occur() -> tuple[str, bool]:
        """(occur, via_AND) from the text immediately before a group."""
        nonlocal buf
        s = buf.rstrip()
        if s.endswith("+"):
            buf = s[:-1]
            return "must", False
        if s.endswith("-"):
            buf = s[:-1]
            return "must_not", False
        for kw, occ in (("NOT", "must_not"), ("AND", "must"), ("!", "must_not")):
            if s.endswith(kw) and (len(s) == len(kw) or s[-len(kw) - 1].isspace()):
                buf = s[: -len(kw)]
                return occ, kw == "AND"
        if s.endswith("&&"):
            buf = s[:-2]
            return "must", True
        if s.endswith("||"):
            buf = s[:-2]
            return "should", False
        return "should", False

    in_quote = False
    while i < n:
        ch = q[i]
        if ch == '"':
            in_quote = not in_quote
            buf += ch
            i += 1
            continue
        if ch == "(" and not in_quote:
            depth, j = 1, i + 1
            q_inner = False
            while j < n and depth:
                if q[j] == '"':
                    q_inner = not q_inner
                elif not q_inner:
                    if q[j] == "(":
                        depth += 1
                    elif q[j] == ")":
                        depth -= 1
                j += 1
            # unbalanced '(' : treat everything to the end as the group body
            inner = q[i + 1 : j - 1] if depth == 0 else q[i + 1 : j]
            i = j
            boost = 1.0
            m = re.match(r"\^(\d+(\.\d+)?)", q[i:])
            if m:
                boost = float(m.group(1))
                i += m.end()
            occur, via_and = tail_occur()
            if via_and:
                if not buf.strip() and groups and groups[-1][0] == "should":
                    # '(a) AND (b)': the AND is adjacent to the previous
                    # group — promote it (Lucene: both sides of AND).
                    prev = groups[-1]
                    groups[-1] = ("must", prev[1], prev[2])
                else:
                    # 'a AND (b)': the flat clause left of the AND becomes
                    # MUST too.
                    buf = _promote_last_clause(buf)
            groups.append((occur, boost, inner))
            flat_parts.append(buf)
            buf = ""
        else:
            buf += ch
            i += 1
    flat_parts.append(buf)
    # '(g) AND Y': an AND/&& heading the segment AFTER group i promotes
    # both that group and the first clause of the segment. flat_parts[i+1]
    # is exactly the text following group i (appended right after it).
    for gi in range(len(groups)):
        seg = flat_parts[gi + 1]
        m = re.match(r"\s*(AND\b|&&)", seg or "")
        if m:
            g_occur, g_boost, g_inner = groups[gi]
            if g_occur == "should":
                groups[gi] = ("must", g_boost, g_inner)
            flat_parts[gi + 1] = _promote_first_clause(seg[m.end() :])
    flat = " ".join(p.strip() for p in flat_parts if p.strip())
    return flat, groups


def search(
    index: IndexTables,
    query: str,
    k: int = 10,
    default_field: str = "text",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = False,
    _scores_only: bool = False,
    _parsed: ParsedQuery | None = None,
) -> DataFrame:
    """Parse + execute a Lucene-grammar query against the logical index.

    Returns top-k (docid, score), (score desc, docid asc)-ordered.

    Parenthesized groups nest arbitrarily: each top-level group is compiled
    recursively into its own (docid, score) stream; group score = boost ×
    inner score sum; +group / AND-group require the group's match set
    (semi-join), -group excludes it (anti-join). An AND adjacent to a group
    promotes BOTH sides — the group and its flat neighbor ('a AND (b)' ≡
    '+a +(b)'), matching Lucene's coord-less BooleanQuery conjunction.
    """
    spark = index.postings.sparkSession
    empty = empty_result(spark, "docid long, score double")

    if _parsed is None and "(" in query:
        import dataclasses

        flat, groups = _split_top_level(query)
        parts: list[DataFrame] = []
        must_sets: list[DataFrame] = []
        not_sets: list[DataFrame] = []
        filter_sets: list[DataFrame] = []
        if flat.strip():
            pf = parse_query(flat, default_field)
            pos = [c for c in pf.clauses if c.occur != "must_not"]
            negs = [c for c in pf.clauses if c.occur == "must_not"]
            # Stored-field clauses restrict (semi-join), they don't score —
            # same semantics as the flat path's filter_preds.
            scoring = [c for c in pos if c.kind not in ("filter_eq", "filter_range")]
            filters = [c for c in pos if c.kind in ("filter_eq", "filter_range")]
            if scoring:
                flat_stream = search(
                    index, flat, k=k, default_field=default_field,
                    k1=k1, b=b, quantize_norms=quantize_norms,
                    _scores_only=True, _parsed=ParsedQuery(scoring),
                )
                parts.append(flat_stream)
                if any(c.occur == "must" for c in scoring):
                    # '+apple (banana)': the flat stream already enforces its
                    # own musts internally, so its MATCH SET is exactly the
                    # docs satisfying them — group-only docs must not
                    # resurrect past a required flat clause.
                    must_sets.append(flat_stream.select("docid"))
            if filters:
                filter_sets.append(
                    search(index, "", k=k, default_field=default_field,
                           k1=k1, b=b, quantize_norms=quantize_norms,
                           _scores_only=True, _parsed=ParsedQuery(filters))
                    .select("docid")
                )
            for c in negs:
                # A negative flat clause next to groups excludes its match
                # set from the combined result (the flat path alone can't
                # express a pure-negative stream).
                not_sets.append(
                    search(
                        index, "", k=k, default_field=default_field,
                        k1=k1, b=b, quantize_norms=quantize_norms,
                        _scores_only=True,
                        _parsed=ParsedQuery([dataclasses.replace(c, occur="should")]),
                    ).select("docid")
                )
        for occur, boost, inner in groups:
            g = search(index, inner, k=k, default_field=default_field,
                       k1=k1, b=b, quantize_norms=quantize_norms,
                       _scores_only=True)
            if boost != 1.0:
                g = g.select(
                    "docid", (F.col("score") * F.lit(boost)).alias("score")
                )
            if occur == "must_not":
                not_sets.append(g.select("docid"))
                continue
            parts.append(g)
            if occur == "must":
                must_sets.append(g.select("docid"))
        if not parts:
            if not filter_sets:
                return empty
            scored = filter_sets[0].select("docid", F.lit(1.0).alias("score"))
            filter_sets = filter_sets[1:]
        else:
            allc = parts[0]
            for p in parts[1:]:
                allc = allc.unionByName(p)
            scored = allc.groupBy("docid").agg(F.sum("score").alias("score"))
        for m in must_sets + filter_sets:
            scored = scored.join(m, "docid", "left_semi")
        for m in not_sets:
            scored = scored.join(m, "docid", "left_anti")
        if _scores_only:
            return scored
        return scored.orderBy(
            F.col("score").desc(), F.col("docid").asc()
        ).limit(k)

    parsed = _parsed if _parsed is not None else parse_query(query, default_field)
    n_docs, avgdl = index.corpus_stats()
    if n_docs == 0:
        return empty

    # Partition clauses.
    weights: list[tuple[str, float, str, int]] = []  # (term, w, occur, group)
    # (prefix, boost, occur, gid): scored as a pushed-down match-set stream
    prefix_clauses: list[tuple[str, float, str, int]] = []
    filter_preds: list[Column] = []
    neg_terms: list[str] = []

    tstats = index.term_stats()
    gid = 0
    # (terms, offsets, slop, boost, occur, gid) per quoted clause
    phrase_clauses: list[tuple[list[str], list[int], int, float, str, int]] = []

    for c in parsed.clauses:
        if c.kind == "term":
            terms = analyze(c.text, index.analyzer)
            if not terms:
                continue
            if c.occur == "must_not":
                neg_terms.extend(terms)
                continue
            if c.occur == "must":
                for t in terms:
                    gid += 1
                    weights.append((t, c.boost, "must", gid))
            else:
                for t in terms:
                    gid += 1
                    weights.append((t, c.boost, "should", gid))
        elif c.kind == "phrase":
            if index.has_positions:
                # True PhraseQuery: adjacency (or ~slop window) enforced via
                # the stored positions; query-side stopword gaps preserved
                # (QueryParser.jj phrase+slop, SolrQueryParserBase phrase).
                from solr_spark.analysis.chain import analyze_pos

                tp = analyze_pos(c.text, index.analyzer)
                if not tp:
                    continue
                if c.occur != "must_not" and len(tp) == 1:
                    # single surviving term: Lucene degrades to a TermQuery
                    gid += 1
                    occ = c.occur
                    weights.append((tp[0][0], c.boost, occ, gid))
                    continue
                gid += 1
                phrase_clauses.append(
                    (
                        [t for t, _ in tp],
                        [p - tp[0][1] for _, p in tp],
                        c.slop,
                        c.boost,
                        c.occur,
                        gid,
                    )
                )
            else:
                # positions not indexed: documented fallback — phrase becomes
                # a conjunction of its terms (over-matches; build the index
                # with positions=True for true adjacency).
                terms = analyze(c.text, index.analyzer)
                if not terms:
                    continue
                if c.occur == "must_not":
                    neg_terms.extend(terms)
                    continue
                for t in terms:
                    gid += 1
                    weights.append((t, c.boost, "must", gid))
        elif c.kind == "fuzzy":
            # FuzzyQuery: bounded dictionary probe (length band +
            # thresholded prefilter + exact Damerau-Levenshtein,
            # transpositions = 1 edit like Lucene's default) capped at
            # maxExpansions best terms, each BM25-scored. Remaining
            # documented divergence: no edit-distance score damping.
            from solr_spark.query.expand import fuzzy_candidates

            base = analyze(c.text, index.analyzer)
            base_t = base[0] if base else c.text.lower()
            matched = sorted(fuzzy_candidates(tstats, base_t, int(c.lo)))
            if not matched:
                if c.occur == "must":
                    return empty
                continue
            if c.occur == "must_not":
                neg_terms.extend(matched)
                continue
            gid += 1
            for t in matched:
                weights.append((t, c.boost, c.occur, gid))
        elif c.kind == "prefix":
            # No expansion: the startswith predicate pushes into the
            # postings scan; the clause scores its boost once per matching
            # doc (constant-score match set, query/expand.py).
            pref = analyze(c.text, index.analyzer)
            pref_txt = pref[0] if pref else c.text.lower()
            gid += 1
            prefix_clauses.append((pref_txt, c.boost, c.occur, gid))
        elif c.kind == "filter_eq":
            pred = F.col(c.field) == F.lit(c.text)
            filter_preds.append(~pred if c.occur == "must_not" else pred)
        elif c.kind == "filter_range":
            pred = _range_pred(c, index.docs)
            filter_preds.append(~pred if c.occur == "must_not" else pred)

    from solr_spark.query.expand import prefix_docids

    phrase_terms = {t for terms, *_ in phrase_clauses for t in terms}
    score_terms = {t for t, _, _, _ in weights} | phrase_terms
    pos_prefix = [p for p in prefix_clauses if p[2] != "must_not"]
    if not score_terms and not pos_prefix and not filter_preds:
        return empty

    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    neg_dfs: list[DataFrame] = []
    for pref_txt, _, occur, _ in prefix_clauses:
        if occur == "must_not":
            neg_dfs.append(prefix_docids(index.postings, pref_txt))
    if score_terms or pos_prefix:
        from solr_spark.query.phrase import phrase_match_df

        stats = {
            r["term"]: r["df"]
            for r in tstats.where(F.col("term").isin(list(score_terms))).collect()
        } if score_terms else {}
        rows = []
        for t, boost, occur, g in weights:
            if t in stats:
                rows.append((t, boost * idf(n_docs, stats[t]), g))
            elif occur == "must":
                return empty  # a required term absent from the corpus

        # A required group is satisfied when ANY of its expansions match, so
        # must-ness is enforced at the gid level — and must PREFIX/FUZZY gids
        # count too (a +foo* clause must constrain the result set).
        must_gids = {g for t, _, o, g in weights if o == "must" and t in stats}

        # contrib streams: (docid, contrib, gid) from the term scan plus one
        # per live phrase clause and per prefix match-set; a single
        # aggregate merges them all.
        contrib_parts: list[DataFrame] = []
        if rows:
            terms_r = [r[0] for r in rows]
            scan = index.postings.where(F.col("term").isin(terms_r)).join(
                index.doclens, "docid"
            )
            if len(set(terms_r)) == len(terms_r):
                # Dictionary-sized query-compile artifact → plan literals
                # (the weight_map_col rule, SURVEY §11c-bis): weights ride
                # one map literal, gids another — no createDataFrame, no
                # BroadcastExchange, no join in the per-query plan.
                wmap = weight_map_col([(t, w) for t, w, _ in rows])
                gargs: list[Column] = []
                for t, _, g in rows:
                    gargs += [F.lit(t), F.lit(int(g))]
                contrib_parts.append(
                    scan.select(
                        "docid",
                        (
                            F.element_at(wmap, F.col("term"))
                            * tf_saturation("tf", dl_col, k1, b, avgdl)
                        ).alias("contrib"),
                        F.element_at(F.create_map(*gargs), F.col("term"))
                        .cast("int")
                        .alias("gid"),
                    )
                )
            else:
                # A term appearing in TWO clauses ("foo foo", or a term that
                # is both a should-clause and a fuzzy expansion) contributes
                # once PER CLAUSE with its own gid — a map cannot hold two
                # values for one key, so these keep the joined weights table.
                wdf = F.broadcast(
                    spark.createDataFrame(rows, ["term", "w", "gid"])
                )
                contrib_parts.append(
                    scan.join(wdf, "term").select(
                        "docid",
                        (
                            F.col("w") * tf_saturation("tf", dl_col, k1, b, avgdl)
                        ).alias("contrib"),
                        F.col("gid").cast("int").alias("gid"),
                    )
                )
        for pref_txt, boost, occur, g in pos_prefix:
            pd_ = prefix_docids(index.postings, pref_txt)
            if occur == "must":
                # If no term carries the prefix, the semi-filter on this gid
                # empties the result — the '+none*' case needs no pre-probe.
                must_gids.add(g)
            contrib_parts.append(
                pd_.select(
                    "docid",
                    F.lit(float(boost)).alias("contrib"),
                    F.lit(g).cast("int").alias("gid"),
                )
            )
        for terms, offsets, slop, boost, occur, g in phrase_clauses:
            if any(t not in stats for t in terms):
                if occur == "must":
                    return empty  # required phrase can never match
                continue
            pm = phrase_match_df(index, terms, slop, offsets)
            if occur == "must_not":
                neg_dfs.append(pm.select("docid"))
                continue
            if occur == "must":
                must_gids.add(g)
            w = boost * sum(idf(n_docs, stats[t]) for t in terms)
            contrib_parts.append(
                pm.join(index.doclens, "docid").select(
                    "docid",
                    (
                        F.lit(w) * tf_saturation("tf_p", dl_col, k1, b, avgdl)
                    ).alias("contrib"),
                    F.lit(g).cast("int").alias("gid"),
                )
            )

        if not contrib_parts and not filter_preds:
            return empty
        if contrib_parts:
            allc = contrib_parts[0]
            for part in contrib_parts[1:]:
                allc = allc.unionByName(part)
            scored = allc.groupBy("docid").agg(
                F.sum("contrib").alias("score"),
                F.collect_set("gid").alias("gids"),
            )
            if must_gids:
                scored = scored.where(
                    F.size(
                        F.array_intersect(
                            F.col("gids"),
                            F.array(*[F.lit(g) for g in sorted(must_gids)]),
                        )
                    )
                    == len(must_gids)
                )
            scored = scored.select("docid", "score")
        else:
            scored = empty
    else:
        # Pure filter query: constant score 1.0 for all docs passing filters.
        scored = index.docs.select("docid", F.lit(1.0).alias("score"))

    if neg_terms:
        neg = index.postings.where(F.col("term").isin(neg_terms)).select("docid")
        scored = scored.join(neg, "docid", "left_anti")
    for nd in neg_dfs:
        scored = scored.join(nd, "docid", "left_anti")
    if filter_preds:
        keep = index.docs
        for p in filter_preds:
            keep = keep.where(p)
        scored = scored.join(keep.select("docid"), "docid", "left_semi")

    if _scores_only:
        return scored
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
