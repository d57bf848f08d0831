"""Seeded source-code corpus and op streams for the benchmark.

The corpus has the north-star row shape ``(repo, path, commit, lang,
content)`` plus an int64 ``docid``, and the same design as the engine's
own fixture corpus: a hot-term head (``def``, ``return``, ``self``, ...)
in most docs and a Zipf(1.1) body vocabulary. It is generated here, with
no engine import, so a change to the engine cannot change the inputs.

Everything in this module is pure Python and a function of ``seed`` only:
one seed gives a byte-identical corpus and op sequence.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random

LANGS = ["python", "java", "go", "js", "rust"]
LANG_WEIGHTS = [0.4, 0.2, 0.15, 0.15, 0.1]
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "rust": "rs"}
DIRS = ["core", "util", "io", "net", "index", "query", "store", "codec"]
NAMES = [
    "reader", "writer", "merger", "scorer", "parser", "codec", "buffer",
    "segment", "posting", "filter", "analyzer", "handler", "router", "cache",
]
HOT = ["def", "return", "self", "import", "class"]
TEMPLATES = [
    "def {a}_{b}({c}):",
    "    return {a}.{b}({c}, {d})",
    "class {A}{B}:",
    "    self.{a} = {b}({c})",
    "import {a}.{b}",
    "if {a} == {b}:",
    "    {c} = {d} + {a}",
    "for {a} in {b}:",
    "    yield {a}.{b}({c})",
    "while {a} < {b}: {c} += {d}",
]
# Doc length in template lines; ~1 KB of content on average. Small docs keep
# every op short enough that one run holds many of them.
LINES = (8, 48)

# The engine's reference query set (stopword-only and absent-term included).
REFERENCE_QUERIES = [
    "def", "serdoc", "scorer merger", "def return self",
    "posting codec buffer segment", "the and of", "zzzznotaterm",
    "import quray", "class analyzer", "index merge policy",
]
STOPWORD_QUERIES = ["the and of", "a an the", "of to in"]
ABSENT_QUERIES = ["zzzznotaterm", "qqqxyzzy", "zzzznotaterm qqqxyzzy"]


def vocabulary(n: int = 5000) -> list[str]:
    """Fixed code-ish identifiers (seed-independent, like a language's
    identifier pool); rank order is the Zipf order."""
    rng = random.Random(4242)
    syll = ["ba", "co", "de", "fi", "ga", "hu", "ix", "ja", "ko", "lu",
            "ma", "no", "pa", "qu", "ra", "so", "ta", "ur", "va", "wo",
            "xe", "ya", "zo", "ser", "idx", "buf", "doc", "ter", "seg", "pos"]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = vocabulary()
ZIPF_CUM = list(itertools.accumulate(1.0 / r ** 1.1 for r in range(1, len(VOCAB) + 1)))


def zipf_word(rng: random.Random) -> str:
    return VOCAB[bisect.bisect_left(ZIPF_CUM, rng.random() * ZIPF_CUM[-1])]


def docid_of(repo: str, path: str, commit: str) -> int:
    """Content-derived int64 docid: 60 bits of sha256(repo, path, commit)."""
    h = hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()
    return int(h[:15], 16)


def gen_row(i: int, seed: int) -> tuple[int, str, str, str, str, str]:
    rng = random.Random(f"{seed}/{i}")
    repo = f"org{i % 7}/project{i % 101}"
    lang = rng.choices(LANGS, weights=LANG_WEIGHTS, k=1)[0]
    path = f"src/{rng.choice(DIRS)}/{rng.choice(NAMES)}_{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{seed}/{repo}/{path}".encode()).hexdigest()
    lines = []
    for _ in range(rng.randint(*LINES)):
        t = TEMPLATES[rng.randrange(len(TEMPLATES))]
        a, b, c, d = (zipf_word(rng) for _ in range(4))
        lines.append(t.format(a=a, b=b, c=c, d=d, A=a.capitalize(), B=b.capitalize()))
        if rng.random() < 0.6:
            lines.append(f"    {rng.choice(HOT)} {a}")
    return docid_of(repo, path, commit), repo, path, commit, lang, "\n".join(lines)


def corpus_rows(seed: int, start: int, n: int) -> list[tuple]:
    """Rows ``start .. start+n-1`` of the seed's corpus (any slice of the
    same seed agrees with any other on shared rows)."""
    return [gen_row(i, seed) for i in range(start, start + n)]


CORPUS_SCHEMA = (
    "docid long, repo string, path string, commit string, lang string, "
    "content string"
)


# --------------------------------------------------------------------------
# Query generation
# --------------------------------------------------------------------------


def term_query(rng: random.Random) -> str:
    """1-4 terms drawn independently from the Zipf vocabulary plus the hot
    head, so repeated terms ("self self") occur as they would from users."""
    pool_hot = rng.random() < 0.25
    return " ".join(
        rng.choice(HOT) if pool_hot and rng.random() < 0.5 else zipf_word(rng)
        for _ in range(rng.randint(1, 4))
    )


def bool_query(rng: random.Random) -> str:
    """Classic-parser boolean: +must, -must_not, bare should, groups."""
    a, b, c, d = (zipf_word(rng) for _ in range(4))
    shape = rng.randrange(5)
    if shape == 0:
        return f"+{a} +{b}"
    if shape == 1:
        return f"+{a} -{b} {c}"
    if shape == 2:
        return f"({a} {b}) {c}"
    if shape == 3:
        return f"+({a} {b}^2) -{c} {d}"
    return f"{rng.choice(HOT)} AND ({a} {b})"


def phrase_query(rng: random.Random, rows: list[tuple]) -> tuple[str, int]:
    """A 2-3 word phrase cut from a corpus line (so it matches), slop 0-2."""
    content = rows[rng.randrange(len(rows))][5]
    words = [w for w in content.replace("(", " ").replace(")", " ").replace(
        ".", " ").replace(",", " ").replace(":", " ").split() if w.isalpha()]
    n = rng.randint(2, 3)
    if len(words) < n:
        return "def return", 1
    s = rng.randrange(len(words) - n + 1)
    return " ".join(words[s:s + n]), rng.randint(0, 2)


# --------------------------------------------------------------------------
# Op streams. Each is a fixed list that depends on the seed only, so the
# state an op sees never depends on how fast earlier ops ran.
# --------------------------------------------------------------------------

SEARCH_DOCS = 100          # corpus size of the search workload
POOL = 2                   # distinct bool / phrase queries per seed
SEARCH_BLOCKS = 400        # far more than one run can issue
WARM_BLOCKS = 2            # untimed blocks first: the JVM is still warming up
MIN_BLOCKS = 4             # timed blocks per run, at least

UPDATE_BASE_DOCS = 60      # base index every update cycle starts from
UPDATE_BATCH_DOCS = 10     # docs per micro-batch commit
UPDATE_COMMITS = 5         # commits per cycle; a merge ends each cycle


def search_ops(seed: int) -> list[tuple]:
    """Blocks of (wand q, bm25 q, bool, phrase). The wand and bm25 ops of
    a block share q, so bm25 is also wand's oracle. Every fourth block's q
    cycles through the reference queries, then the stopword-only and
    absent-term ones; the other blocks draw q at random."""
    rng = random.Random(f"search/{seed}")
    rows = corpus_rows(seed, 0, SEARCH_DOCS)
    bools = [bool_query(rng) for _ in range(POOL)]
    phrases = [phrase_query(rng, rows) for _ in range(POOL)]
    fixed = REFERENCE_QUERIES + STOPWORD_QUERIES + ABSENT_QUERIES
    ops: list[tuple] = []
    for i in range(SEARCH_BLOCKS):
        q = fixed[(i // 4) % len(fixed)] if i % 4 == 0 else term_query(rng)
        ph, slop = phrases[i % POOL]
        ops += [("wand", q), ("bm25", q), ("bool", bools[i % POOL]),
                ("phrase", ph, slop)]
    return ops


def update_plan(seed: int) -> dict:
    """One update cycle: base rows, the micro-batches committed on top of
    them, the query issued on each freshly opened searcher, and the fixed
    query compared before and after the merge. Every cycle is identical."""
    rng = random.Random(f"update/{seed}")
    batches = [
        (UPDATE_BASE_DOCS + c * UPDATE_BATCH_DOCS, UPDATE_BATCH_DOCS)
        for c in range(UPDATE_COMMITS)
    ]
    return {
        "base": (0, UPDATE_BASE_DOCS),
        "batches": batches,
        "fresh_queries": [term_query(rng) for _ in batches],
        "fixed_query": term_query(rng),
    }


def raw_terms(q: str) -> list[str]:
    """Lower-cased alphanumeric tokens of a query string (what a searcher's
    term cache is keyed by, before stemming)."""
    out, cur = [], []
    for ch in q.lower() + " ":
        if ch.isalnum():
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    return out


def repeat_share(*searchers: list[str]) -> float:
    """Share of query terms that the searcher serving them had already
    seen; each argument is the query list of one open searcher."""
    hits = total = 0
    for queries in searchers:
        seen: set[str] = set()
        for q in queries:
            for t in raw_terms(q):
                hits += t in seen
                total += 1
                seen.add(t)
    return hits / total if total else 0.0
