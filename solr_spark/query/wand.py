"""Top-k BM25 over the physical segment index, with block-max pruning.

Opening a searcher (``PhysicalIndex``) launches no Spark work: it reads
corpus_stats.json, whose segments and generations are the searcher's
snapshot, as Lucene's IndexSearcher pins its segments. A segment written
but not yet committed (finalize_index) is not read. A term's df is summed
over the snapshot's per-generation term_stats files, which no commit
rewrites, by a pyarrow read of their row groups that could hold the terms
on the driver: no job, and the same answer whatever is committed after the
searcher opened.

Every physical query (term ``topk``, boolean ``search``, ``phrase_topk``,
``payload_topk``) runs one per-partition function for each segment
partition p: for each of p's committed segments, generation by generation,
read its postings rows for the query's terms as a list of rows, and score
them. A segment is read through its ``SegmentReader``, opened once per
process and file identity and kept in a bounded LRU (``_reader``), as
Lucene's SegmentReader is shared by every searcher that names the segment:
it holds the postings file's footer, with each row group's term
[min, max], and the segment's ord -> docid column. A postings read takes,
with column pruning, only the row groups whose range could hold a query
term or prefix (``ParquetFile.read_row_groups``, no pyarrow Dataset), then
masks the rows by term; a segment whose ranges hold none is not opened.
Arrow is the only table from the file to the Spark boundary: no pandas
frame is built. Each postings.parquet is written today as one row group
(pyarrow's default size, 1Mi rows), so a read takes all of a segment's
term rows unless the segment's whole term range misses the query.
The global merge keeps the top k by (score desc, docid asc). Two executors
run that same function (``PhysicalIndex._topk``):

- Driver executor: a driver loop over the partitions, the top-k cut in
  numpy, and the result handed back as a LocalRelation, so collecting it
  launches NO Spark job -- as Solr serves a shard's query in-process
  (SolrIndexSearcher), and as Spark's ConvertToLocalRelation runs small
  plans on the driver.
- Spark executor: ONE job of ONE stage, Range -> MapInArrow ->
  TakeOrderedAndProject. The Range holds one row per partition and is split
  into min(P, defaultParallelism) tasks (segments.per_partition); the merge
  is Spark's built-in two-phase top-k, the analogue of Solr's
  PURPOSE_GET_TOP_IDS merge (QueryComponent.java:833-1040).

The choice uses only what the searcher already holds: a query runs on the
driver when the snapshot has at most DRIVER_MAX_SEGMENT_FILES segment files,
its scan terms' global dfs sum to at most DRIVER_MAX_POSTINGS, and it has no
``prefix*`` clause (whose postings volume is unknown without a dictionary
scan). Empty results (stopword-only or absent-term queries) are
LocalRelations too. A fuzzy clause still launches its ``fuzzy_candidates``
probe job over term_stats.

Per partition, the BM25 query kinds share one per-segment top-k path
(``_segment_topk``): each segment's postings rows go to the kind's own
scorer, which returns (ordinals, scores); the path keeps every doc tied
with the k-th best score and maps the survivors' ordinals to docids. The
scorers are ``_term_scores`` (block-max WAND), ``_tree_scores`` (grouped
boolean ordinal-set algebra) and ``_phrase_scores`` (positions).
``_payload_partition`` keeps one threshold across generations, so it runs
its own partition loop and shares only the executors and the result
builder (``_result``).

The term scorer is the batch adaptation of block-max WAND (reference
touch-points: Solr enables Lucene's WAND via minExactCount —
handler/component/QueryComponent.java:424-428, TopScoreDocCollector with a
hits threshold — search/SolrIndexSearcher.java:1508-1525; the block-max
machinery itself is Lucene's, rebuilt here from the published algorithm
[Ding & Suel, SIGIR'11] over our own block metadata):

1. Per query term t and block b, an upper bound of any contribution in b is
   computed WITHOUT decoding: ub(t,b) = w_t · S(max_tf_b, dl(min_norm_b)),
   valid because the BM25 term contribution is increasing in tf and
   decreasing in dl.
2. Threshold seeding: the rarest (fewest-postings-in-partition) query term is
   decoded fully and scored alone; θ = its k-th best single-term score. The
   true k-th best total score is ≥ θ (total ≥ single-term for those docs).
3. A block b of term t is decoded only if ub(t,b) + Σ_{t'≠t} gmax(t') ≥ θ,
   where gmax is the term's best block bound. Any doc all of whose blocks
   are skipped has total upper bound < θ, so it cannot reach the top k; docs
   with partially-skipped blocks accumulate understated scores that are
   still < θ, so they cannot displace the (≥ k) docs scoring ≥ θ. The
   returned top-k is therefore EXACT (proof mirrors WAND's invariant).
4. Accumulation is one np.add.at over decoded ordinals.

A repeated query term is a separate clause, as in Lucene: its weight is
folded into w_t once per occurrence (query.bm25.fold_term_weights, shared
with the logical path). A phrase that analyzes to one term runs at slop 0,
as Lucene's PhraseQuery.rewrite turns it into a TermQuery.

Scores use the SmallFloat-QUANTIZED doc length (Lucene parity). The norm
byte travels INSIDE the posting list (1 byte per posting, like Lucene's
impact data), so scoring touches ONLY the query terms' postings rows —
never the doc table. The doc table's docid column is read once per
segment reader, in ord order, and maps each segment's winning top-k
ordinals back to docids by indexing (``docids[ords]``). Per-query IO is
therefore the requested postings columns of the row groups that could hold
a query term, in the segments whose term range does; decode and scoring
touch only the query terms' postings.

Rank-identity across partition counts and across the two executors holds
because scoring is per-doc exact and the tiebreak (score desc, docid asc)
is total.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from functools import cached_property, partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.index.codec import (
    BLOCK_SIZE,
    decode_blocks,
    decode_positions,
    decode_postings,
)
from solr_spark.index.norms import DECODE_TABLE
from solr_spark.index.segments import (
    _seg_dir, _term_stats_file, per_partition, read_corpus_stats,
)
from solr_spark.query.bm25 import fold_term_weights, idf

_RESULT_SCHEMA = pa.schema([("docid", pa.int64()), ("score", pa.float64())])
# Postings columns each query kind reads (parquet column pruning: only
# phrase queries read the positions, only payload queries the payloads).
_SCORE_COLS = [
    "term", "df", "gaps", "tfs", "norms",
    "block_first_ord", "block_gap_off", "block_tf_off",
    "block_max_tf", "block_min_norm",
]
_PHRASE_COLS = ["term", "gaps", "tfs", "norms", "poss"]
_PAYLOAD_COLS = [
    "term", "df", "gaps", "tfs",
    "block_first_ord", "block_gap_off", "block_tf_off",
    "block_max_tf", "pays", "block_pay_off", "block_max_pay",
]
_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
# The driver executor's limits (PhysicalIndex._on_driver): the crossover
# against the one-job stage measured on a 4-core host, where the stage costs
# ~400 ms and spreads the partitions over 4 tasks, while the driver loop is
# serial. Phrase queries cross first (~32 segment files, ~64k postings);
# term queries later (~48-64 files, ~800k postings). Constants, not
# options, as spark.sql.autoBroadcastJoinThreshold is a fixed default.
DRIVER_MAX_SEGMENT_FILES = 32
DRIVER_MAX_POSTINGS = 65_536


def _contrib(tf, dl, k1: float, b: float, avgdl: float):
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _decode_all(r) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    o, t = decode_postings(r["gaps"], r["tfs"])
    norms = np.frombuffer(r["norms"], dtype=np.uint8)
    return o, t, norms


def _may_hold(lo: str, hi: str, terms: list[str], prefixes: list[str]) -> bool:
    """Whether a row group whose terms span [lo, hi] could hold one of
    ``terms`` or a term starting with one of ``prefixes``. The terms with
    prefix ``pref`` are one contiguous run from ``pref`` upward, so the
    range meets it iff hi >= pref and lo is at most pref or in the run."""
    return any(lo <= t <= hi for t in terms) or any(
        hi >= pref and (lo <= pref or lo.startswith(pref)) for pref in prefixes
    )


class TermFile:
    """A parquet file sorted by ``term`` (a segment's postings.parquet, a
    generation's term-stats file), opened once: its footer and each row
    group's term [min, max] from the footer's statistics. A read takes only
    the row groups whose range could hold a requested term, as Lucene's
    term dictionary points into the postings file instead of scanning it."""

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        self.path = path
        self.footer = pq.read_metadata(path)
        col = self.footer.schema.names.index("term")
        # (row group, its term range) of each non-empty row group; the range
        # is None without min/max statistics (a writer may drop them for
        # long values), and such a group is read whatever the terms are.
        self.ranges: list[tuple[int, tuple[str, str] | None]] = []
        for i in range(self.footer.num_row_groups):
            rg = self.footer.row_group(i)
            if rg.num_rows:
                st = rg.column(col).statistics
                has = st is not None and st.has_min_max
                self.ranges.append((i, (st.min, st.max) if has else None))
        self.nbytes = self.footer.serialized_size

    @staticmethod
    def files(path: str) -> list[str]:
        return [path]

    def read(
        self, columns: list[str], terms: list[str], prefixes: list[str]
    ) -> pa.Table | None:
        """The rows whose term is in ``terms`` or starts with one of
        ``prefixes``, in file row order; None, without opening the file,
        when no row group's range could hold one."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        groups = [
            i for i, r in self.ranges
            if r is None or _may_hold(*r, terms, prefixes)
        ]
        if not groups:
            return None
        with pq.ParquetFile(self.path, metadata=self.footer) as f:
            tbl = f.read_row_groups(groups, columns=columns, use_threads=False)
        term = tbl["term"]
        mask = pc.is_in(term, value_set=pa.array(terms, pa.string()))
        for pref in prefixes:
            mask = pc.or_(mask, pc.starts_with(term, pref))
        return tbl.filter(mask)


class SegmentReader:
    """One committed segment's read state, opened once per file identity
    (``_reader``): its postings file (``TermFile``) and its ord -> docid
    column. Both builders write docs.parquet in ord order with ord = row
    number, so ``docids[ords]`` maps a segment's winning ordinals."""

    def __init__(self, seg_dir: str):
        import pyarrow.parquet as pq

        self.postings = TermFile(f"{seg_dir}/postings.parquet")
        self.docids = pq.read_table(
            f"{seg_dir}/docs.parquet", columns=["docid"], use_threads=False
        )["docid"].to_numpy()
        self.nbytes = self.postings.nbytes + self.docids.nbytes

    @staticmethod
    def files(seg_dir: str) -> list[str]:
        return [f"{seg_dir}/postings.parquet", f"{seg_dir}/docs.parquet"]

    def rows(
        self, columns: list[str], terms: list[str], prefixes: list[str]
    ) -> list[dict]:
        """The segment's postings ``columns`` rows for ``terms`` and
        ``prefixes``, in file row order."""
        tbl = self.postings.read(columns, terms, prefixes)
        return [] if tbl is None else tbl.to_pylist()


# Every reader this process opened (driver, or a Spark Python worker),
# least recently used first: path -> (file identity, reader). One entry per
# path, so a path rewritten in place replaces its reader. The cached bytes
# (footers and docid columns) are bounded by a constant.
_READERS: OrderedDict[str, tuple[tuple, SegmentReader | TermFile]] = OrderedDict()
_CACHE_LOCK = threading.Lock()
READER_CACHE_BYTES = 64 << 20
_reader_bytes = 0


def _file_id(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns, st.st_size


def _reader(cls, path: str):
    """The reader of ``path`` -- ``SegmentReader`` of a segment dir or
    ``TermFile`` of a term-stats file -- from the process-level LRU, opened
    only when no reader of the path's current files is cached (an unchanged
    segment keeps its reader across queries and searcher reopens, as
    Lucene's DirectoryReader.openIfChanged keeps its SegmentReaders)."""
    global _reader_bytes
    ident = tuple(map(_file_id, cls.files(path)))
    with _CACHE_LOCK:
        hit = _READERS.get(path)
        if hit is not None and hit[0] == ident:
            _READERS.move_to_end(path)
            return hit[1]
    reader = cls(path)
    with _CACHE_LOCK:
        old = _READERS.pop(path, None)
        if old is not None:
            _reader_bytes -= old[1].nbytes
        _READERS[path] = (ident, reader)
        _reader_bytes += reader.nbytes
        while _reader_bytes > READER_CACHE_BYTES and len(_READERS) > 1:
            _reader_bytes -= _READERS.popitem(last=False)[1][1].nbytes
    return reader


def _result(docids: np.ndarray, scores: np.ndarray) -> pa.Table:
    """(docid, score) rows as the result table: a partition's output, the
    driver executor's cut and the LocalRelation all take this shape."""
    return pa.Table.from_arrays(
        [pa.array(docids, pa.int64()), pa.array(scores, pa.float64())],
        schema=_RESULT_SCHEMA,
    )


def _segment_topk(score_gen, k: int, read, readers: list[SegmentReader]) -> pa.Table:
    """The per-segment top-k path of every BM25 query kind: score each of a
    partition's segments with ``score_gen`` (its postings rows, from
    ``read`` -> (ordinals, scores)), keep the segment's top k, and map the
    kept ordinals to docids."""
    out_docids, out_scores = [_NO_HITS[0]], [_NO_HITS[1]]
    for reader in readers:
        ords, scores = score_gen(read(reader))
        if scores.size > k:
            # Keep EVERY doc tied with the k-th best score (argpartition alone
            # picks an arbitrary subset of boundary ties, which could drop a
            # tied doc with a smaller docid before the global
            # (score desc, docid asc) merge — breaking rank-identity).
            kth = np.partition(scores, -k)[-k]
            keep = scores >= kth
            ords, scores = ords[keep], scores[keep]
        if ords.size:
            out_docids.append(reader.docids[ords])
            out_scores.append(scores)
    return _result(np.concatenate(out_docids), np.concatenate(out_scores))


def _term_scores(
    pg: list[dict],
    weights: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    use_wand: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND over one generation's postings rows of the query
    terms (steps 1-4 of the module docstring)."""
    rows = []
    for r in pg:
        w = weights[r["term"]]
        bmax_tf = np.asarray(r["block_max_tf"], dtype=np.float64)
        bmin_dl = DECODE_TABLE[np.asarray(r["block_min_norm"], dtype=np.int64)]
        ub = w * _contrib(bmax_tf, bmin_dl.astype(np.float64), k1, b, avgdl)
        rows.append((r, w, ub, float(ub.max())))

    if use_wand and len(rows) > 1:
        # Seed θ from the term with the fewest postings in this segment.
        seed_i = min(range(len(rows)), key=lambda i: rows[i][0]["df"])
    else:
        seed_i = None

    theta = -np.inf
    decoded: list[tuple[np.ndarray, np.ndarray, np.ndarray, float]] = []
    if seed_i is not None:
        r, w, _, _ = rows[seed_i]
        o, t, nrm = _decode_all(r)
        s = w * _contrib(
            t.astype(np.float64), DECODE_TABLE[nrm].astype(np.float64),
            k1, b, avgdl,
        )
        if s.size >= k:
            theta = float(np.partition(s, -k)[-k])
        decoded.append((o, t, nrm, w))
        gmax_sum = sum(x[3] for i, x in enumerate(rows) if i != seed_i)

    for i, (r, w, ub, _) in enumerate(rows):
        if i == seed_i:
            continue
        if seed_i is not None and theta > -np.inf:
            others = gmax_sum - rows[i][3] + rows[seed_i][3]
            keep = np.flatnonzero(ub + others >= theta)
        else:
            keep = np.arange(ub.size)
        if keep.size == 0:
            continue
        if keep.size == ub.size:
            o, t, nrm = _decode_all(r)
        else:
            df_ = int(r["df"])
            o, t = decode_blocks(
                r["gaps"], r["tfs"], keep,
                np.asarray(r["block_first_ord"], dtype=np.int64),
                np.asarray(r["block_gap_off"], dtype=np.int64),
                np.asarray(r["block_tf_off"], dtype=np.int64),
                df_,
            )
            all_norms = np.frombuffer(r["norms"], dtype=np.uint8)
            nrm = np.concatenate(
                [
                    all_norms[bi * BLOCK_SIZE : min((bi + 1) * BLOCK_SIZE, df_)]
                    for bi in keep
                ]
            )
        decoded.append((o, t, nrm, w))

    if not decoded:
        return _NO_HITS
    size = int(max(o.max() for o, _, _, _ in decoded if o.size)) + 1
    acc = np.zeros(size, dtype=np.float64)
    for o, t, nrm, w in decoded:
        acc_contrib = w * _contrib(
            t.astype(np.float64), DECODE_TABLE[nrm].astype(np.float64),
            k1, b, avgdl,
        )
        np.add.at(acc, o, acc_contrib)
    nz = np.flatnonzero(acc > 0)
    return nz, acc[nz]


def _phrase_count(
    pos_lists: list[np.ndarray],
    offsets: list[int],
    slop: int,
    terms: list[str] | None = None,
) -> float:
    """Phrase freq in one doc. Exact (slop=0): size of the intersection of
    offset-shifted position sets (integer tf, vectorized). Slop>0: Lucene's
    SLOPPY matcher — the shared greedy sweep in query/sloppy.py (float
    freq of 1/(1+matchLength) weights, out-of-order admitted) — identical
    to the logical path's matcher, so the parity suite holds bit-for-bit."""
    if slop == 0:
        acc = pos_lists[0]
        for i in range(1, len(pos_lists)):
            acc = np.intersect1d(
                acc, pos_lists[i] - np.int64(offsets[i]), assume_unique=True
            )
            if acc.size == 0:
                return 0
        return int(acc.size)
    from solr_spark.query.sloppy import sloppy_freq

    return sloppy_freq(pos_lists, offsets, slop, terms)


def _phrase_scores(
    pg: list[dict],
    terms: list[str],
    offsets: list[int],
    slop: int,
    w: float,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Phrase scoring of one generation over compressed segments: full
    decode of the phrase terms' postings+positions, ordinal-intersection to
    get the conjunction candidates, then a per-candidate position check.
    Work is O(postings of the phrase terms)."""
    uniq = sorted(set(terms))
    by_term = {r["term"]: r for r in pg}
    if any(t not in by_term for t in uniq):
        return _NO_HITS  # a phrase term absent from this segment: no match here
    dec: dict[str, tuple] = {}
    for t in uniq:
        r = by_term[t]
        o, tf, nrm = _decode_all(r)
        flat, starts = decode_positions(r["poss"], tf)
        dec[t] = (o, tf, flat, starts, nrm)
    # conjunction: ords present in every phrase term's postings
    common = dec[uniq[0]][0]
    for t in uniq[1:]:
        common = np.intersect1d(common, dec[t][0], assume_unique=True)
    if common.size == 0:
        return _NO_HITS
    o0, _, _, _, nrm0 = dec[uniq[0]]
    idx0 = np.searchsorted(o0, common)
    if slop > 0 and len(uniq) == len(terms):
        # distinct-term sloppy phrase: ONE batched numpy sweep over
        # every conjunction candidate (sloppy_freq_batch) instead of a
        # per-candidate Python heap loop — the 3+-term hot-phrase path.
        from solr_spark.query.sloppy import sloppy_freq_batch

        slots = []
        for i, t in enumerate(terms):
            o, tf, flat, starts, _ = dec[t]
            j = np.searchsorted(o, common)
            slots.append((
                flat,
                starts[j].astype(np.int64),
                tf[j].astype(np.int64),
                offsets[i],
            ))
        freqs = sloppy_freq_batch(slots, slop)
        msel = freqs > 0
        tfv = freqs[msel]
        dlv = DECODE_TABLE[nrm0[idx0[msel]]].astype(np.float64)
        acc = w * tfv / (tfv + k1 * (1.0 - b + b * dlv / avgdl))
        return common[msel].astype(np.int64), acc
    docs_scored: list[int] = []
    scores: list[float] = []
    for ci, ordv in enumerate(common):
        pls = []
        for t in terms:  # phrase order (dupes share the decode)
            o, tf, flat, starts, _ = dec[t]
            j = int(np.searchsorted(o, ordv))
            s = int(starts[j])
            pls.append(flat[s : s + int(tf[j])])
        tf_p = _phrase_count(pls, offsets, slop, terms)
        if tf_p:
            dl = float(DECODE_TABLE[nrm0[idx0[ci]]])
            scores.append(
                w * tf_p / (tf_p + k1 * (1.0 - b + b * dl / avgdl))
            )
            docs_scored.append(int(ordv))
    return np.asarray(docs_scored, dtype=np.int64), np.asarray(scores)


def _clause_ords(
    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    clause: tuple[str, object],
    size: int,
) -> np.ndarray:
    """Boolean mask of ordinals matching a ("terms", [t..]) or
    ("prefix", pref) clause within one segment."""
    kind, val = clause
    m = np.zeros(size, dtype=bool)
    if kind == "terms":
        for t in val:
            if t in decoded:
                o = decoded[t][0]
                m[o[o < size]] = True
    else:  # prefix
        for t, (o, _, _) in decoded.items():
            if t.startswith(val):
                m[o[o < size]] = True
    return m


def _eval_node(
    node: dict,
    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    size: int,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Recursive per-segment evaluation of a grouped boolean tree: returns
    (scores, match_mask) over segment ordinals. Mirrors the logical
    parser's grouped combination exactly — flat stream (internal musts
    enforced) + boosted child streams summed, must children intersected,
    must_not children and level negatives subtracted — so the parity suite
    holds score-for-score. Segments partition by docid, making the
    ordinal-set algebra globally correct locally."""
    acc = np.zeros(size, dtype=np.float64)
    mask = np.zeros(size, dtype=bool)
    must_masks: list[np.ndarray] = []
    neg_mask = np.zeros(size, dtype=bool)

    if node["has_flat"]:
        facc = np.zeros(size, dtype=np.float64)
        fseen = np.zeros(size, dtype=bool)
        for t, w_bm in node["weights"].items():
            if t not in decoded:
                continue
            o, tf, nrm = decoded[t]
            contrib = w_bm * _contrib(
                tf.astype(np.float64),
                DECODE_TABLE[nrm].astype(np.float64), k1, b, avgdl,
            )
            np.add.at(facc, o, contrib)
            fseen[o] = True
        for pref, boost in node["prefixes"]:
            m = _clause_ords(decoded, ("prefix", pref), size)
            facc[m] += boost
            fseen |= m
        fkeep = fseen
        for clause in node["musts"]:
            fkeep = fkeep & _clause_ords(decoded, clause, size)
        facc[~fkeep] = 0.0
        acc += facc
        mask |= fkeep
        if node["flat_must"]:
            must_masks.append(fkeep)

    for occur, boost, child in node["children"]:
        cacc, cmask = _eval_node(child, decoded, size, k1, b, avgdl)
        if occur == "must_not":
            neg_mask |= cmask
            continue
        acc += cacc * boost
        mask |= cmask
        if occur == "must":
            must_masks.append(cmask)

    for m in must_masks:
        mask &= m
    for clause in node["negs"]:
        mask &= ~_clause_ords(decoded, clause, size)
    mask &= ~neg_mask
    acc[~mask] = 0.0
    return acc, mask


def _tree_scores(
    pg: list[dict], root: dict, k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped boolean scoring of one generation: decode every scanned term
    once, evaluate the tree with ordinal-set algebra."""
    decoded = {r["term"]: _decode_all(r) for r in pg}
    size = max((int(o[-1]) + 1 for o, _, _ in decoded.values() if o.size),
               default=0)
    if size == 0:
        return _NO_HITS
    acc, mask = _eval_node(root, decoded, size, k1, b, avgdl)
    cand = np.flatnonzero(mask)
    return cand, acc[cand]


_PAYLOAD_BOUNDED = {"max", "sum", "average", "first"}


def _payload_partition(
    func: str, k: int, read, readers: list[SegmentReader]
) -> pa.Table:
    """Top-k (docid, score) for ONE term's payload postings (``read`` from
    each of ``readers``) in one segment partition, score = ``func`` over
    the payloads at the term's positions (PayloadScoreQParserPlugin.java,
    includeSpanScore=false).

    Block-max pruning on the payload stream (no Lucene analogue — payload
    queries there always decode every matching doc): each block's stored
    max payload bounds any doc's score in it (max/first/average <= max_pay;
    sum <= max_tf*max_pay when max_pay >= 0, else <= max_pay). Blocks are
    visited bound-descending and skipped once k candidates beat the bound
    strictly — ``min`` has no upper bound from max metadata and decodes all
    blocks.
    """
    cands_ord: list[np.ndarray] = []
    cands_seg: list[np.ndarray] = []
    cands_score: list[np.ndarray] = []
    kth = -np.inf  # k-th best score seen so far (score-only threshold)
    n_kept = 0

    def _threshold() -> float:
        # exact k-th best among kept candidate scores (kept list is small:
        # it's compacted against the previous threshold)
        allsc = np.concatenate(cands_score)
        if allsc.size < k:
            return -np.inf
        return float(np.partition(allsc, allsc.size - k)[allsc.size - k])

    rows = [(i, r) for i, reader in enumerate(readers) for r in read(reader)]
    for seg_i, r in rows:  # one row per segment holding this term
        pays = np.frombuffer(r["pays"], dtype=np.float32)
        bmp = np.asarray(r["block_max_pay"], dtype=np.float64)
        n_blocks = bmp.size
        if func == "sum":
            bmt = np.asarray(r["block_max_tf"], dtype=np.float64)
            bounds = np.where(bmp >= 0, bmp * bmt, bmp)
        elif func in _PAYLOAD_BOUNDED:
            bounds = bmp
        else:  # min — not boundable by max metadata
            bounds = np.full(n_blocks, np.inf)
        pay_off = np.asarray(r["block_pay_off"], dtype=np.int64)
        pay_end = np.append(pay_off[1:], len(r["pays"]))
        b_first = np.asarray(r["block_first_ord"], dtype=np.int64)
        b_goff = np.asarray(r["block_gap_off"], dtype=np.int64)
        b_toff = np.asarray(r["block_tf_off"], dtype=np.int64)
        for bi in np.argsort(-bounds, kind="stable"):
            if n_kept >= k and bounds[bi] < kth:
                break  # all remaining blocks bound strictly below k-th best
            ords_b, tfs_b = decode_blocks(
                r["gaps"], r["tfs"], np.array([bi]), b_first, b_goff, b_toff,
                int(r["df"]),
            )
            seg = pays[pay_off[bi] // 4 : pay_end[bi] // 4]
            offs = np.zeros(tfs_b.size, dtype=np.int64)
            offs[1:] = np.cumsum(tfs_b)[:-1]
            if func == "max":
                sc = np.maximum.reduceat(seg, offs).astype(np.float64)
            elif func == "min":
                sc = np.minimum.reduceat(seg, offs).astype(np.float64)
            elif func == "sum":
                sc = np.add.reduceat(seg.astype(np.float64), offs)
            elif func == "average":
                sc = np.add.reduceat(seg.astype(np.float64), offs) / tfs_b
            else:  # first
                sc = seg[offs].astype(np.float64)
            cands_ord.append(ords_b)
            cands_seg.append(np.full(ords_b.size, seg_i, dtype=np.int64))
            cands_score.append(sc)
            n_kept += ords_b.size
            if n_kept >= k:
                kth = _threshold()
                # Compact: only scores >= kth can reach the top k (ties at
                # kth stay — the docid tiebreak is resolved after lookup).
                if len(cands_score) > 8:
                    keep = [s >= kth for s in cands_score]
                    cands_ord = [o[m] for o, m in zip(cands_ord, keep, strict=True)]
                    cands_seg = [g[m] for g, m in zip(cands_seg, keep, strict=True)]
                    cands_score = [
                        s[m] for s, m in zip(cands_score, keep, strict=True)
                    ]

    if not cands_score:
        return _result(*_NO_HITS)
    ords = np.concatenate(cands_ord)
    segs = np.concatenate(cands_seg)
    scores = np.concatenate(cands_score)
    mask = scores >= (kth if n_kept >= k else -np.inf)
    ords, segs, scores = ords[mask], segs[mask], scores[mask]
    docids = np.empty(ords.size, dtype=np.int64)
    for g in np.unique(segs):
        gm = segs == g
        docids[gm] = readers[g].docids[ords[gm]]
    order = np.lexsort((docids, -scores))[:k]
    return _result(docids[order], scores[order])


class PhysicalIndex:
    """Point-in-time searcher over a physical index directory.

    Opening does no Spark work: it reads corpus_stats.json, whose
    ``segments`` and ``generations`` (the segments and their term-stats
    files, which no commit rewrites) are the searcher's snapshot, as
    Lucene's IndexSearcher pins its segments. A generation committed later
    is seen after a reopen, which ``open_index`` decides from the commit
    token. Each query runs over the snapshot on one of two executors,
    chosen by its size (``_topk``; module docstring): a driver loop whose
    result launches no Spark job, or one Spark job of one stage.
    """

    # Driver-side per-term df cache cap. Query workloads touch a tiny,
    # heavily-reused slice of the dictionary; the cap bounds driver memory
    # INDEPENDENT of dictionary size (a 100 TB corpus has 10^8-10^9 terms —
    # collecting the dictionary on open would OOM the driver).
    TERM_CACHE_MAX = 262_144

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.commit_token = _commit_token(index_dir)
        self.stats = read_corpus_stats(index_dir)
        self.segments = self.stats["segments"]
        self._df_files = [
            _term_stats_file(index_dir, g) for g in self.stats["generations"]
        ]
        # term -> global df, or None for a term known absent from the corpus
        # (negative caching avoids re-reading for repeated OOV query terms).
        # Insertion-ordered dict doubles as the LRU eviction order.
        self._term_df_cache: dict[str, int | None] = {}

    @cached_property
    def _term_stats(self) -> DataFrame:
        """(term, global df) as a Spark frame, built only for the fuzzy probe."""
        return (
            self.spark.read.parquet(*self._df_files)
            .groupBy("term").agg(F.sum("df").alias("df"))
        )

    def _df_for_terms(self, terms: list[str]) -> dict[str, int]:
        """Global df for ``terms``: the rows for ``terms`` of the snapshot's
        term_stats files (``TermFile`` readers: only the row groups whose
        term range could hold one), summed per term — no Spark job, and
        never a full dictionary collect."""
        missing = [t for t in terms if t not in self._term_df_cache]
        if missing:
            found: dict[str, int] = {}
            for path in self._df_files:
                tbl = _reader(TermFile, path).read(["term", "df"], missing, [])
                if tbl is None:
                    continue
                for t, df in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
                    found[t] = found.get(t, 0) + df
            for t in missing:
                self._term_df_cache[t] = found.get(t)
            while len(self._term_df_cache) > self.TERM_CACHE_MAX:
                self._term_df_cache.pop(next(iter(self._term_df_cache)))
        return {
            t: self._term_df_cache[t]
            for t in terms
            if self._term_df_cache.get(t) is not None
        }

    def topk(
        self, query: str | list[str], k: int = 10, use_wand: bool = True
    ) -> DataFrame:
        from solr_spark.analysis.chain import analyze

        stats = self.stats
        k1, b, avgdl, n = stats["k1"], stats["b"], stats["avgdl"], stats["n_docs"]
        terms = (
            analyze(query, stats["analyzer"]) if isinstance(query, str)
            else list(query)
        )
        dfs = self._df_for_terms(sorted(set(terms)))
        weights = dict(fold_term_weights(terms, dfs, n))
        if not weights or n == 0:
            return self._empty()

        def score_gen(pg: list[dict]) -> tuple[np.ndarray, np.ndarray]:
            return _term_scores(pg, weights, k, k1, b, avgdl, use_wand)

        return self._topk(
            _SCORE_COLS, list(weights), [], k, partial(_segment_topk, score_gen, k)
        )

    def _compile_flat(self, parsed, n: int) -> dict:
        """Compile one flat boolean level into the evaluator's node shape:
        weights (term -> summed boost·idf), constant-score prefixes, must /
        must_not clause lists, and whether the flat stream's match set is
        itself required (any positive MUST clause — the logical grouped
        path's flat-must semantics). Fuzzy clauses expand driver-side via
        the bounded capped probe. No early-empty shortcuts: impossibility
        flows through empty ordinal masks, which keeps should-groups with
        unsatisfiable siblings behaving exactly like the logical path."""
        from solr_spark.analysis.chain import analyze
        from solr_spark.query.expand import fuzzy_candidates

        stats = self.stats
        scoring: list[tuple[str, float]] = []
        prefixes: list[tuple[str, float]] = []
        musts: list[tuple[str, object]] = []
        negs: list[tuple[str, object]] = []
        neg_terms: list[str] = []
        flat_must = False
        for c in parsed.clauses:
            if c.kind in ("filter_eq", "filter_range"):
                raise ValueError(
                    "stored-field filters are not available on the physical "
                    "path (segments keep no stored fields)"
                )
            if c.kind == "phrase":
                raise ValueError("use phrase_topk for quoted phrases")
            if c.kind == "prefix":
                pref = analyze(c.text, stats["analyzer"])
                pref_txt = pref[0] if pref else c.text.lower()
                if c.occur == "must_not":
                    negs.append(("prefix", pref_txt))
                    continue
                prefixes.append((pref_txt, c.boost))
                if c.occur == "must":
                    musts.append(("prefix", pref_txt))
                    flat_must = True
                continue
            if c.kind == "fuzzy":
                base = analyze(c.text, stats["analyzer"])
                base_t = base[0] if base else c.text.lower()
                matched = sorted(
                    fuzzy_candidates(self._term_stats, base_t, int(c.lo))
                )
                if c.occur == "must_not":
                    neg_terms.extend(matched)
                    continue
                for t in matched:
                    scoring.append((t, c.boost))
                if c.occur == "must":
                    musts.append(("terms", matched))
                    flat_must = True
                continue
            terms = analyze(c.text, stats["analyzer"])
            if not terms:
                continue
            if c.occur == "must_not":
                neg_terms.extend(terms)
                continue
            for t in terms:
                scoring.append((t, c.boost))
                if c.occur == "must":
                    musts.append(("terms", [t]))
                    flat_must = True
        dfs = self._df_for_terms(
            sorted({t for t, _ in scoring} | set(neg_terms))
        )
        weights: dict[str, float] = {}
        for t, boost in scoring:
            if t not in dfs:
                continue
            weights[t] = weights.get(t, 0.0) + boost * idf(n, dfs[t])
        neg_present = [t for t in neg_terms if t in dfs]
        if neg_present:
            negs.append(("terms", neg_present))
        return {
            "weights": weights,
            "prefixes": prefixes,
            "musts": musts,
            "negs": negs,
            "flat_must": flat_must,
            # Evaluate the flat block whenever POSITIVE clauses were parsed
            # — even if every term is corpus-absent (weights empty): a
            # required absent term must yield an empty flat match set that
            # still gates the level (logical-path parity), not vanish.
            "has_flat": bool(scoring or prefixes),
            "children": [],
        }

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Boolean term queries over the compressed segments: the classic
        parser's term subset — bare terms (SHOULD, summed), ``+``/``AND``
        (MUST), ``-``/``NOT`` (MUST_NOT), ``term^boost``, ``prefix*``
        (constant score per matching doc, no expansion), ``term~N``
        (bounded capped fuzzy), and parenthesized groups with boosts
        nesting arbitrarily. Stored-field filters and quoted phrases are
        not in this path (segments store no stored fields; use phrase_topk
        for phrases).

        One engine for flat AND grouped queries: the SAME top-level
        splitter the logical parser uses builds a tree of flat levels (a
        flat query is a root node with no children; group boost multiplies
        the child's scores; AND adjacency promotes both sides — all
        inherited from parser._split_top_level, so the two paths' grammars
        agree). Each segment evaluates the tree with ordinal-set algebra
        (_eval_node) — decode only the query terms' postings, accumulate
        BM25 into a dense ordinal array, enforce musts by intersection and
        must_nots by subtraction; work is O(query term postings), like
        topk, plus the set ops.
        """
        from solr_spark.query.parser import _split_top_level, parse_query

        stats = self.stats
        k1, b, avgdl, n = stats["k1"], stats["b"], stats["avgdl"], stats["n_docs"]
        if n == 0:
            return self._empty()

        def compile_node(q: str) -> dict:
            if "(" in q:
                flat, groups = _split_top_level(q)
                node = self._compile_flat(parse_query(flat), n)
                for occur, boost, inner in groups:
                    node["children"].append(
                        (occur, float(boost), compile_node(inner))
                    )
                return node
            return self._compile_flat(parse_query(q), n)

        root = compile_node(query)

        scan_terms: set[str] = set()
        scan_prefixes: set[str] = set()

        def gather(nd: dict) -> None:
            scan_terms.update(nd["weights"])
            for kind, val in list(nd["musts"]) + list(nd["negs"]):
                if kind == "terms":
                    scan_terms.update(val)
                else:
                    scan_prefixes.add(val)
            scan_prefixes.update(p for p, _ in nd["prefixes"])
            for _, _, ch in nd["children"]:
                gather(ch)

        gather(root)
        if not scan_terms and not scan_prefixes:
            return self._empty()

        def score_gen(pg: list[dict]) -> tuple[np.ndarray, np.ndarray]:
            return _tree_scores(pg, root, k1, b, avgdl)

        return self._topk(
            _SCORE_COLS, sorted(scan_terms), sorted(scan_prefixes), k,
            partial(_segment_topk, score_gen, k),
        )

    def phrase_topk(self, phrase: str, k: int = 10, slop: int = 0) -> DataFrame:
        """Top-k phrase matches over the compressed segments (PhraseQuery on
        the physical path). Scoring parity with query/phrase.py: tf = phrase
        freq, weight = Σ member idfs, quantized norms. Query-side stopword
        gaps are preserved in the match pattern. A phrase that analyzes to
        one term is a term query, so its slop is ignored (Lucene
        PhraseQuery.rewrite)."""
        from solr_spark.analysis.chain import analyze_pos

        stats = self.stats
        k1, b, avgdl, n = stats["k1"], stats["b"], stats["avgdl"], stats["n_docs"]
        tp = analyze_pos(phrase, stats["analyzer"])
        if not tp or n == 0:
            return self._empty()
        terms = [t for t, _ in tp]
        offsets = [p - tp[0][1] for _, p in tp]
        if len(terms) == 1:
            slop = 0
        dfs = self._df_for_terms(sorted(set(terms)))
        if any(t not in dfs for t in terms):
            return self._empty()
        w = sum(idf(n, dfs[t]) for t in terms)

        def score_gen(pg: list[dict]) -> tuple[np.ndarray, np.ndarray]:
            return _phrase_scores(pg, terms, offsets, slop, w, k1, b, avgdl)

        return self._topk(
            _PHRASE_COLS, sorted(set(terms)), [], k,
            partial(_segment_topk, score_gen, k),
        )

    def payload_topk(self, term: str, func: str = "max", k: int = 10) -> DataFrame:
        """Top-k `{!payload_score}` over the physical payload stream
        (includeSpanScore=false: the payload function value IS the score).
        ``term`` is matched against the delimited_payload chain's terms
        (lowercased whitespace tokens). Payloads are float32 on disk
        (Lucene PayloadHelper float-encoder width) — scores reflect that
        precision, unlike the logical double-precision path."""
        from solr_spark.query.payload import PAYLOAD_FUNCS

        if func not in PAYLOAD_FUNCS:
            raise ValueError(
                f"unknown payload function {func!r}; one of {PAYLOAD_FUNCS}"
            )
        if self.stats["analyzer"] != "delimited_payload":
            raise ValueError(
                "payload query needs payloads: this index was built with "
                f"analyzer {self.stats['analyzer']!r}, not 'delimited_payload'"
            )
        t = term.lower()
        if not t or not self._df_for_terms([t]):
            return self._empty()
        return self._topk(
            _PAYLOAD_COLS, [t], [], k, partial(_payload_partition, func, k)
        )

    def _empty(self) -> DataFrame:
        return self._local_result(*_NO_HITS)

    def _local_result(self, docids: np.ndarray, scores: np.ndarray) -> DataFrame:
        """A result the driver already holds, as a LocalRelation: collecting
        it launches no Spark job. A pyarrow Table, not a pandas frame: an
        empty pandas frame takes the RDD path (one job), and the pandas path
        depends on the session's Arrow conf. Spark takes the schema from
        the table's own."""
        return self.spark.createDataFrame(_result(docids, scores))

    def _on_driver(self, terms: list[str], prefixes: list[str]) -> bool:
        """The executor choice, from what the searcher already holds: the
        snapshot's segment-file count and the query's summed global df
        (cached by the caller's df lookup). A prefix clause's postings
        volume is unknown without a dictionary scan, so it takes Spark."""
        n_files = sum(map(len, self.segments.values()))
        n_postings = sum(self._df_for_terms(terms).values())
        return (
            not prefixes
            and n_files <= DRIVER_MAX_SEGMENT_FILES
            and n_postings <= DRIVER_MAX_POSTINGS
        )

    def _topk(
        self,
        columns: list[str],
        terms: list[str],
        prefixes: list[str],
        k: int,
        partition,
    ) -> DataFrame:
        """Every physical query's execution: per snapshot partition p, run
        ``partition(read, readers)`` over the ``SegmentReader``s of p's
        committed segments, where ``read(reader)`` gives a segment's
        postings ``columns`` rows for ``terms``/``prefixes``; then keep the
        top k by (score desc, docid asc). Small queries (``_on_driver``) run
        the partitions in a driver loop and return a LocalRelation, no Spark
        job; the rest run as one job of one stage (``per_partition``, then
        TakeOrderedAndProject). Either way the readers come from the
        running process's reader cache (``_reader``)."""
        index_dir, segments = self.index_dir, self.segments

        def read(reader: SegmentReader) -> list[dict]:
            return reader.rows(columns, terms, prefixes)

        def score(p: int) -> pa.Table:
            return partition(read, [
                _reader(SegmentReader, _seg_dir(index_dir, p, g))
                for g in segments[p]
            ])

        if self._on_driver(terms, prefixes):
            out = pa.concat_tables(score(p) for p in sorted(segments))
            docids, scores = out["docid"].to_numpy(), out["score"].to_numpy()
            order = np.lexsort((docids, -scores))[:k]
            return self._local_result(docids[order], scores[order])
        scored = per_partition(self.spark, sorted(segments), score, _RESULT_SCHEMA)
        return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


# open_index's searchers, least recently opened or reused first, keyed by
# (Spark application, index dir). A constant bound, as with _READERS: a
# process that opens many index dirs (and deletes them) keeps only the last
# few searchers and their df caches.
_SEARCHERS: OrderedDict[tuple[str, str], PhysicalIndex] = OrderedDict()
SEARCHER_CACHE_MAX = 8


def _commit_token(index_dir: str) -> tuple:
    """Identity of the index's committed state: corpus_stats.json mtime +
    the committed generation list. Changes on every finalize_index/merge, so
    a cached reader can detect staleness without re-listing segments."""
    st = os.stat(f"{index_dir}/corpus_stats.json")
    gens = tuple(read_corpus_stats(index_dir).get("generations", ()))
    return (st.st_mtime_ns, st.st_size, gens)


def open_index(spark: SparkSession, index_dir: str) -> PhysicalIndex:
    """Open (or reuse) a searcher. The cache is keyed by Spark application +
    directory and invalidated by commit token: after incremental_index_sink
    adds a generation or merge_index rewrites the directory, the next open
    sees a changed token and reopens (fresh N/avgdl/df + file listing) —
    the analogue of Solr's openSearcher-on-commit. The new searcher reads
    the segments the new commit still names through their cached readers
    (``_reader``). At most SEARCHER_CACHE_MAX searchers are kept."""
    key = (spark.sparkContext.applicationId, index_dir)
    with _CACHE_LOCK:
        cached = _SEARCHERS.get(key)
    if cached is None or cached.commit_token != _commit_token(index_dir):
        cached = PhysicalIndex(spark, index_dir)
    with _CACHE_LOCK:
        _SEARCHERS[key] = cached
        _SEARCHERS.move_to_end(key)
        while len(_SEARCHERS) > SEARCHER_CACHE_MAX:
            _SEARCHERS.popitem(last=False)
    return cached


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    use_wand: bool = True,
) -> DataFrame:
    """Top-k (docid, score) from a physical index directory."""
    return open_index(spark, index_dir).topk(query, k=k, use_wand=use_wand)


def wand_phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Top-k phrase matches from a physical index directory."""
    return open_index(spark, index_dir).phrase_topk(phrase, k=k, slop=slop)

