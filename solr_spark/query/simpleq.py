"""`{!simple}` — Lucene SimpleQueryParser semantics on the logical index.

Reference: solr/core/src/java/org/apache/solr/search/SimpleQParserPlugin.java
(wraps Lucene's SimpleQueryParser). The grammar a human types into a
search box: whitespace-separated terms (default operator SHOULD), ``+``
infix AND, ``|`` infix OR, ``-`` prefix negation, ``"..."`` phrases with
``~N`` slop, trailing ``*`` prefix match, ``term~N`` fuzzy, ``( )``
grouping, ``\\`` escapes — and, its defining property, TOTAL LENIENCY:
no input ever raises (unclosed quotes close at end-of-string, unmatched
``)`` is dropped, unmatched ``(`` closes at end, dangling operators are
ignored).

Spark shape: the simple grammar is LOWERED onto the existing lucene-grammar
engine (`query/parser.py search`) rather than compiled twice — a lexer
normalizes simple syntax to the lucene surface form (``+``→AND, ``|``→OR,
``-``→mod, phrases/fuzzy/prefix pass through, terms sanitized to the
analyzer alphabet) after applying the leniency repairs. One grammar
executor means boolean/fuzzy/phrase scoring can never drift between the
two front-ends; per-query plan cost is identical to the lucene parser's.

Divergence (documented): Lucene's SimpleQueryParser gives ``+`` higher
precedence than ``|``; after lowering, AND/OR combine left-to-right at one
level like the lucene grammar's flat clauses. Parenthesize to force
precedence — same advice the reference gives for the lucene parser.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT
from solr_spark.query.driver_result import empty_result
from solr_spark.query.parser import search

_SPECIALS = set('+|-"()\\')


def _lex(q: str) -> list[tuple[str, str]]:
    """(kind, text) tokens: VAL (term/phrase incl. suffix), LP, RP, AND,
    OR, NOT. Applies the in-token leniency rules (unclosed quote, escapes).
    """
    toks: list[tuple[str, str]] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == '"':
            j = i + 1
            body: list[str] = []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    j += 1
                body.append(q[j])
                j += 1
            i = j + 1 if j < n else n  # unclosed quote: closes at end
            slop = ""
            m = re.match(r"~(\d+)", q[i:])
            if m:
                slop = m.group(0)
                i += m.end()
            phrase = re.sub(r"[^a-z0-9]+", " ", "".join(body).lower()).strip()
            if phrase:
                toks.append(("VAL", f'"{phrase}"{slop}'))
            continue
        if c == "(":
            toks.append(("LP", "("))
            i += 1
            continue
        if c == ")":
            toks.append(("RP", ")"))
            i += 1
            continue
        if c == "+":
            toks.append(("AND", "AND"))
            i += 1
            continue
        if c == "|":
            toks.append(("OR", "OR"))
            i += 1
            continue
        if c == "-":
            toks.append(("NOT", "-"))
            i += 1
            continue
        j = i
        body = []
        while j < n and not q[j].isspace() and (q[j] == "\\" or q[j] not in _SPECIALS):
            if q[j] == "\\":
                if j + 1 < n:
                    body.append(q[j + 1])
                j += 2
            else:
                body.append(q[j])
                j += 1
        i = j
        raw = "".join(body)
        m = re.search(r"(~\d*|\*)$", raw)
        suffix = m.group(0) if m else ""
        core = raw[: len(raw) - len(suffix)] if suffix else raw
        words = [w for w in re.split(r"[^a-z0-9]+", core.lower()) if w]
        for wi, w in enumerate(words):
            toks.append(("VAL", w + (suffix if wi == len(words) - 1 else "")))
    return toks


def simple_to_lucene(q: str, default_operator: str = "OR") -> str:
    """Lower simple syntax to the lucene-grammar surface form, applying
    SimpleQueryParser's leniency repairs (never raises)."""
    out: list[str] = []
    depth = 0
    prev_was_val = False
    pending_not = False
    pending_op: str | None = None
    for kind, text in _lex(q):
        if kind in ("AND", "OR"):
            if prev_was_val:
                pending_op = text  # dangling/duplicate operators drop
            continue
        if kind == "NOT":
            pending_not = True
            continue
        if kind == "RP":
            if depth > 0 and out and out[-1].endswith("("):
                # '()' — drop the empty group entirely; the tail reverts to
                # whatever preceded the opener (a VAL/')' keeps operator
                # insertion working for the next value).
                out.pop()
                depth -= 1
                prev_was_val = bool(out) and out[-1] not in ("AND", "OR") \
                    and not out[-1].endswith("(")
            elif depth > 0:
                out.append(")")
                depth -= 1
                prev_was_val = True
            pending_not = False  # '-' dangling before ')' drops
            continue
        # VAL or LP
        if prev_was_val:
            if pending_op == "AND" or (pending_op is None and default_operator == "AND"):
                out.append("AND")
            elif pending_op == "OR":
                out.append("OR")
            # default OR: whitespace already means SHOULD in the target grammar
        pending_op = None
        if kind == "LP":
            out.append(("-" if pending_not else "") + "(")
            depth += 1
            prev_was_val = False
        else:
            out.append(("-" if pending_not else "") + text)
            prev_was_val = True
        pending_not = False
    out.extend(")" for _ in range(depth))  # unmatched '(' closes at end
    # re-join; '-(' must stay glued to its group, ')' glued to content
    s = " ".join(out)
    s = re.sub(r"([-(]) ", r"\1", s).replace(" )", ")")
    return s.strip()


def simple_query(
    index: IndexTables,
    q: str,
    k: int = 10,
    default_operator: str = "OR",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """`{!simple}` top-k: lenient parse, then the shared grammar engine."""
    lowered = simple_to_lucene(q, default_operator)
    spark = index.postings.sparkSession
    if not lowered:
        return empty_result(spark, "docid long, score double")
    return search(index, lowered, k=k, k1=k1, b=b)
