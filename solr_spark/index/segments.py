"""Physical index: per-partition segments, manifests, merge, global stats.

Mirrors the Lucene/Solr indexing lifecycle (SURVEY.md §3.2) Spark-first:

- ``build_segments``: one SEGMENT per partition (the Arrow-vectorized
  analogue of IndexWriter's flush: analyze, invert, compress posting lists,
  write files), by one of two executors running the same per-partition
  function. A small build (at most DRIVER_BUILD_MAX_PARTITIONS partitions,
  and an input of at most DRIVER_BUILD_MAX_DOCS rows and
  DRIVER_BUILD_MAX_BYTES of text) runs in a driver loop after a bounded
  collect job, as Solr indexes an update request in the request thread
  (DirectUpdateHandler2.addDoc). Any other build is one Spark shape,
  ``groupBy(partition_col).applyInArrow``: input already laid out by
  ``partition_col`` (persisted, or a table bucketed by docid hash) builds
  with no shuffle; any other layout is shuffled once on p. Each segment =
  postings.parquet + docs.parquet + manifest.json, committed by an atomic
  directory rename; the manifest carries row counts, a docid checksum
  (lineage), the analyzer, sizes and timing (metrics). Once every
  partition is written, ``seg/_complete/<G>`` marks the generation
  complete; only complete generations are committed. RESUME = re-running
  the build skips every partition whose manifest already exists — the
  per-partition checkpoint protocol that replaces Solr's tlog replay
  (solr/core/src/java/org/apache/solr/update/UpdateLog.java:912-947).
- ``finalize_index``: the commit, on the driver with no Spark job:
  corpus_stats.json (N, sumdl, avgdl, the ``segments`` map of committed
  generations), replaced atomically, as Lucene's ``segments_N`` names a
  commit's segments. The first commit that names generation G writes G's
  (term, df, ttf) with pyarrow, and no commit rewrites it; searchers sum
  df over their commit's generation files (as IndexSearcher sums docFreq
  over its segments, and ExactStatsCache, search/stats/
  ExactStatsCache.java:150-206, over shards), so every searcher is
  point-in-time. A commit refuses a segment built with another analyzer:
  its terms would not match the queries.
- ``merge_index``: merge of generations within each partition
  (= TieredMergePolicy's role, index/TieredMergePolicyFactory.java:27):
  re-rank the union of docids, decode every generation's postings back to
  per-token streams, re-encode, keeping the source commit's analyzer.
  Runs as one Spark job of one stage (``per_partition``, Range ->
  MapInArrow, which the physical queries' Spark executor also uses).

Build and merge share one postings encoder (``codec.encode_postings``), as
Lucene's flush and merge share one codec consumer: the build's analysis
loop and the merge's decode both yield flat per-token (term, ord, norm,
position[, payload]) streams, and the encoder turns every term of the
segment into one Arrow table in one vectorized pass. ``_write_segment``
writes that table and the doc table exactly as they are: the ``gen=<G>``
directory names the generation, as ``p=<P>`` names the partition. Arrow is
the only data representation from the Spark boundary to the files.

Layout (every column is read by a scorer, the merge or finalize_index):
    index_dir/
      corpus_stats.json              n_docs, sum_dl, avgdl, analyzer, ...,
                                     generations and segments {p: [gen, ...]}
                                     (the commit)
      term_stats.parquet/<G>.parquet (term, df, ttf) of generation G's
                                     segments, sorted by term
      seg/_complete/<G>              empty: generation G is fully written
      seg/p=<P>/gen=<G>/
        postings.parquet             codec.POSTINGS_SCHEMA, one row per
                                     term, sorted by term
        docs.parquet                 codec.DOCS_SCHEMA
        manifest.json

Scale notes: P is chosen so one partition's docs fit an executor (at 10^12
docs → P in the tens of thousands; parquet + manifests shard naturally).
Postings are sorted by term but written with pyarrow's default row-group
size (1Mi rows), so each postings.parquet is one row group. A query reads
only the row groups whose term range could hold a query term
(query.wand.SegmentReader), so today it reads every term row of a segment
whose term range it meets. Sizing the row groups waits on a large-index
benchmark (ROADMAP).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from solr_spark.analysis.chain import ANALYZERS_POS, delimited_payload_tokens
from solr_spark.index.codec import (
    DOCS_SCHEMA,
    decode_positions,
    encode_postings,
    vb_decode,
)
from solr_spark.index.norms import norm_byte_array

MANIFEST_SCHEMA = pa.schema([
    ("p", pa.int32()), ("gen", pa.int32()), ("n_docs", pa.int64()),
    ("n_terms", pa.int64()), ("n_postings", pa.int64()), ("sum_dl", pa.int64()),
    ("docid_checksum", pa.int64()), ("skipped", pa.bool_()),
    ("wall_s", pa.float64()), ("bytes", pa.int64()),
])

_PART_RE = re.compile(r"p=(\d+)")
_GEN_RE = re.compile(r"gen=(\d+)")


def _seg_dir(index_dir: str, p: int, gen: int) -> str:
    return os.path.join(index_dir, "seg", f"p={p:05d}", f"gen={gen}")


def _complete_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "seg", "_complete")


def _mark_complete(index_dir: str, gen: int) -> None:
    """Mark generation ``gen`` complete (an empty file named ``gen``): every
    one of its partitions is written, so the next ``finalize_index`` may
    commit it. Rewriting the marker (a replay that resumed the generation)
    changes nothing."""
    os.makedirs(_complete_dir(index_dir), exist_ok=True)
    open(os.path.join(_complete_dir(index_dir), str(gen)), "w").close()


def _written_segments(index_dir: str) -> dict[int, list[int]]:
    """Each partition's written segments of complete generations,
    ``{p: [gen, ...]}`` ascending: what the next ``finalize_index`` commits.

    A segment dir counts as written when its name is exactly ``gen=<int>``
    and it holds manifest.json, which ``_write_segment`` writes before the
    atomic rename. A ``gen=<G>.tmp-<hex>`` dir left by a build killed before
    its rename is therefore never committed, nor is a generation whose
    build has not yet marked it complete (``_mark_complete``)."""
    seg = os.path.join(index_dir, "seg")
    done = _complete_dir(index_dir)
    complete = set(os.listdir(done)) if os.path.isdir(done) else set()
    out: dict[int, list[int]] = {}
    for pname in sorted(os.listdir(seg)) if os.path.isdir(seg) else ():
        pm = _PART_RE.fullmatch(pname)
        if pm is None:
            continue
        pdir = os.path.join(seg, pname)
        gens = sorted(
            int(gm.group(1))
            for gm in map(_GEN_RE.fullmatch, os.listdir(pdir))
            if gm and gm.group(1) in complete
            and os.path.exists(os.path.join(pdir, gm.group(0), "manifest.json"))
        )
        if gens:
            out[int(pm.group(1))] = gens
    return out


def per_partition(
    spark: SparkSession, ps: list[int], fn, schema: pa.Schema
) -> DataFrame:
    """``fn(p)`` (an Arrow table of ``schema``) for every segment partition
    ``p`` in ``ps``, as ONE stage: Range -> MapInArrow with
    min(len(ps), defaultParallelism) tasks, each looping over its slice of
    ``ps``. Never one task per partition: every wave of Python tasks pays a
    fixed cost (~150 ms on a 4-core host), and P is often many times the
    core count."""
    n_tasks = max(1, min(len(ps), spark.sparkContext.defaultParallelism))

    def run(batches):
        # Once per task: Spark supplies the parallelism, and pyarrow's own
        # thread pool (all machine cores, per worker process) would
        # oversubscribe the host n_tasks x n_cores-fold. It is process-global,
        # so the readers ``fn`` calls must not set it: they also run on the
        # driver (query.wand's driver executor).
        pa.set_cpu_count(1)
        for batch in batches:
            for i in batch["id"].to_numpy():
                yield from fn(ps[i]).to_batches()

    return spark.range(len(ps), numPartitions=n_tasks).mapInArrow(
        run, from_arrow_schema(schema)
    )


def _invert_partition(
    docids: np.ndarray, texts: list[str | None], analyzer: str,
) -> tuple[pa.Table, pa.Table]:
    """Analyze + invert one partition. Returns (docs, postings): the
    DOCS_SCHEMA table sorted by docid (ord = rank), and encode_postings'
    table of its tokens.

    The ``delimited_payload`` analyzer also writes each position's payload
    (the position-aligned payload stream, the Lucene .pay-file role).
    """
    order = np.argsort(docids, kind="stable")
    docids = docids[order]
    texts = [texts[i] for i in order]
    payloads = analyzer == "delimited_payload"
    analyze = delimited_payload_tokens if payloads else ANALYZERS_POS[analyzer]
    # One analysis loop for every chain: each chain yields (term, position
    # [, payload]) tuples, appended column-wise to flat per-token streams in
    # (ord, token) order; a doc's dl is its token count.
    streams: tuple[list, ...] = ([], [], []) if payloads else ([], [])
    dl = np.zeros(len(docids), dtype=np.int64)
    for ord_, s in enumerate(texts):
        toks = analyze(s) if s is not None else ()
        dl[ord_] = len(toks)
        for stream, col in zip(streams, zip(*toks)):
            stream.extend(col)
    terms = sorted(set(streams[0]))
    rank = dict(zip(terms, range(len(terms))))
    code = np.fromiter(map(rank.__getitem__, streams[0]), np.int64, len(streams[0]))
    norms = norm_byte_array(dl)
    postings = encode_postings(
        terms, code, np.repeat(np.arange(len(docids)), dl), np.repeat(norms, dl),
        np.asarray(streams[1], dtype=np.int64),
        np.asarray(streams[2], dtype=np.float32) if payloads else None,
    )
    docs = pa.Table.from_arrays(
        [pa.array(np.arange(len(docids))), pa.array(docids), pa.array(dl),
         pa.array(norms.astype(np.int32))],
        schema=DOCS_SCHEMA,
    )
    return docs, postings


def _docid_checksum(docids: np.ndarray) -> int:
    """XOR of a segment's docids: the manifest's order-free lineage check."""
    return int(np.bitwise_xor.reduce(docids.astype(np.uint64)) or 0)


def _read_manifest(seg_dir: str) -> dict:
    with open(os.path.join(seg_dir, "manifest.json")) as f:
        return json.load(f)


def _write_segment(
    index_dir: str, p: int, gen: int, docs: pa.Table, postings: pa.Table,
    docid_checksum: int, wall_s: float, analyzer: str,
) -> dict:
    """Atomically commit one segment directory (tmp write + rename): the
    DOCS_SCHEMA and POSTINGS_SCHEMA tables, each written as is, and the
    manifest, which records the ``analyzer`` the terms came from."""
    import pyarrow.parquet as pq

    final = _seg_dir(index_dir, p, gen)
    tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
    os.makedirs(tmp, exist_ok=True)

    pq.write_table(postings, os.path.join(tmp, "postings.parquet"))
    # The doc table is written in ord order (ord = row number), which lets
    # a query's SegmentReader map ords -> docids by indexing its docid
    # column; its 16Ki-row groups are part of the segment format.
    pq.write_table(docs, os.path.join(tmp, "docs.parquet"),
                   row_group_size=16384)

    def total(col: pa.ChunkedArray) -> int:
        return pc.sum(col).as_py() or 0

    manifest = {
        "p": p,
        "gen": gen,
        "n_docs": docs.num_rows,
        "n_terms": postings.num_rows,
        "n_postings": total(postings["df"]),
        "sum_dl": total(docs["dl"]),
        "docid_checksum": int(docid_checksum),
        "analyzer": analyzer,
        "bytes": total(pc.binary_length(postings["gaps"]))
        + total(pc.binary_length(postings["tfs"])),
        "wall_s": round(wall_s, 3),
        "committed_at": time.time(),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    try:
        os.rename(tmp, final)
    except OSError:
        # A concurrent attempt won the rename. Legitimate only when both
        # attempts indexed the SAME rows (speculative re-execution of one
        # task); if the winner saw a different row set, adopting it would
        # silently drop our rows.
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        winner = _read_manifest(final)
        if (
            winner["n_docs"] != manifest["n_docs"]
            or winner["docid_checksum"] != manifest["docid_checksum"]
        ):
            raise RuntimeError(
                f"segment p={p} gen={gen}: concurrent build committed a "
                f"DIFFERENT row set (n_docs {winner['n_docs']} vs "
                f"{manifest['n_docs']}, checksum mismatch) — the input is not "
                "deterministic across task attempts; persist the corpus "
                "before building"
            )
        manifest = winner
    return manifest


def _manifest_row(m: dict, skipped: bool) -> pa.Table:
    return pa.Table.from_pylist([m | {"skipped": skipped}], MANIFEST_SCHEMA)


def partition_col(id_col: str = "docid", n_partitions: int = 32):
    """The segment-partition assignment (= Iceberg bucket(docid) layout)."""
    return F.pmod(F.xxhash64(id_col), F.lit(n_partitions)).cast("int")


# The driver build's limits (build_segments), from the crossover against the
# Spark build measured on a 4-core host (parquet input, text_en, 4 and 32
# partitions). Over ~1.1 KB docs the serial driver loop is faster up to ~3k
# docs (~3.3 MiB) and slower from ~4k docs (~4.4 MiB), where the 4 Spark
# tasks overtake it; over 16 KB and 64 KB docs it is faster or level up to
# ~3 MiB of text and slower from ~3.9 MiB. The byte cap binds for docs
# longer than ~1.5 KB. Constants, not options, like query.wand's
# DRIVER_MAX_SEGMENT_FILES.
DRIVER_BUILD_MAX_PARTITIONS = 32
DRIVER_BUILD_MAX_DOCS = 2048
DRIVER_BUILD_MAX_BYTES = 3 << 20
# The probe brings back a doc's text only up to this length, so it copies
# at most (DRIVER_BUILD_MAX_DOCS + 1) x 16 KiB = 32 MiB to the driver
# whatever the input; a build within the caps that holds a longer doc reads
# its input a second time.
DRIVER_BUILD_PROBE_DOC_BYTES = 16 << 10


def _build_one(index_dir: str, generation: int, analyzer: str,
               p: int, group: pa.Table) -> pa.Table:
    final = _seg_dir(index_dir, p, generation)
    docids = group["docid"].to_numpy()
    checksum = _docid_checksum(docids)
    if os.path.exists(os.path.join(final, "manifest.json")):
        m = _read_manifest(final)
        # Resume is only valid if the committed segment covers EXACTLY the
        # rows this task holds — a cheap lineage check (no re-analysis).
        if m["n_docs"] != len(docids) or m["docid_checksum"] != checksum:
            raise RuntimeError(
                f"segment p={p} gen={generation}: committed manifest covers "
                f"{m['n_docs']} docs (checksum {m['docid_checksum']}) but "
                f"this task holds {len(docids)} (checksum {checksum}) — "
                "input changed since the checkpoint; build the changed rows "
                "as a new generation or into a new index_dir"
            )
        return _manifest_row(m, skipped=True)
    t0 = time.time()
    docs, postings = _invert_partition(docids, group["text"].to_pylist(), analyzer)
    m = _write_segment(
        index_dir, p, generation, docs, postings, checksum, time.time() - t0,
        analyzer,
    )
    return _manifest_row(m, skipped=False)


def build_segments(
    corpus: DataFrame,
    index_dir: str,
    n_partitions: int = 32,
    analyzer: str = "simple",
    generation: int = 0,
    id_col: str = "docid",
    text_col: str = "content",
):
    """Build one generation of segments from ``corpus`` (docid must be int64).

    Every segment stores term positions (Lucene's text-field default,
    DOCS_AND_FREQS_AND_POSITIONS), which phrase queries read. The
    ``delimited_payload`` analyzer (whitespace ``term|payload`` tokens) also
    writes the position-aligned payload stream, Lucene's .pay-file role.

    Returns the manifest table as a pandas frame (one row per partition;
    ``skipped=True`` rows were already committed by a previous run — the
    resume path). Once every partition is written, the generation is marked
    complete (``_mark_complete``): only then may a commit name it.

    Two executors run the same per-partition ``_build_one``, so they write
    byte-identical segments. A small build runs on the driver, as Solr
    indexes an update request in its request thread: with at most
    DRIVER_BUILD_MAX_PARTITIONS partitions (known with no job), a bounded
    collect, ``limit(DRIVER_BUILD_MAX_DOCS + 1).toArrow()`` (one job: no
    shuffle on p, no Python worker), brings back each doc's text length and
    the text of each doc of at most DRIVER_BUILD_PROBE_DOC_BYTES. If the
    input holds at most DRIVER_BUILD_MAX_DOCS rows and DRIVER_BUILD_MAX_BYTES
    of text, a driver loop builds each partition; if it holds a longer doc,
    a second bounded collect first reads the whole input. Every other build
    (one over a cap pays the probe job first) is one Spark shape,
    ``groupBy(partition_col).applyInArrow``, one segment per group.
    Input already laid out by the partition expression (e.g.
    ``corpus.repartition(n, partition_col("docid", n))``, persisted) builds
    with no shuffle: Spark sees the required distribution is met and plans
    no Exchange. Any other layout is shuffled once on p.
    """
    df = corpus.select(
        F.col(id_col).cast("long").alias("docid"), F.col(text_col).alias("text")
    ).withColumn("p", partition_col("docid", n_partitions))
    small = None
    if n_partitions <= DRIVER_BUILD_MAX_PARTITIONS:
        n = F.coalesce(F.octet_length("text"), F.lit(0))
        text = F.when(n <= DRIVER_BUILD_PROBE_DOC_BYTES, F.col("text"))
        small = df.select("docid", text.alias("text"), "p", n.alias("n")) \
            .limit(DRIVER_BUILD_MAX_DOCS + 1).toArrow()
    if (small is not None and small.num_rows <= DRIVER_BUILD_MAX_DOCS
            and (pc.sum(small["n"]).as_py() or 0) <= DRIVER_BUILD_MAX_BYTES):
        if (pc.max(small["n"]).as_py() or 0) > DRIVER_BUILD_PROBE_DOC_BYTES:
            small = df.limit(DRIVER_BUILD_MAX_DOCS + 1).toArrow()
        manifests = pa.concat_tables([MANIFEST_SCHEMA.empty_table()] + [
            _build_one(index_dir, generation, analyzer, p,
                       small.filter(pc.equal(small["p"], p)))
            for p in sorted(pc.unique(small["p"]).to_pylist())
        ]).to_pandas()
    else:
        def writer(key, group):
            # One pyarrow thread per task: Spark supplies the parallelism,
            # and a per-process all-cores pool would oversubscribe the host.
            pa.set_cpu_count(1)
            return _build_one(index_dir, generation, analyzer, key[0].as_py(), group)

        manifests = df.groupBy("p").applyInArrow(
            writer, from_arrow_schema(MANIFEST_SCHEMA)).toPandas()
    _mark_complete(index_dir, generation)
    return manifests


def _gen_partitions(segs: dict[int, list[int]]) -> dict[int, list[int]]:
    """``{gen: [p, ...]}`` ascending, from a ``{p: [gen, ...]}`` segment map."""
    out: dict[int, list[int]] = {}
    for p in sorted(segs):
        for g in segs[p]:
            out.setdefault(g, []).append(p)
    return dict(sorted(out.items()))


def _term_stats_file(index_dir: str, gen: int) -> str:
    return os.path.join(index_dir, "term_stats.parquet", f"{gen}.parquet")


def finalize_index(
    spark: SparkSession,
    index_dir: str,
    analyzer: str = "simple",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """Commit every written segment of every complete generation (one its
    build marked complete), with no Spark job (``spark`` is unused).
    corpus_stats.json is the commit point: its ``segments`` map
    ``{p: [gen, ...]}`` names the committed segments, the only ones
    searchers and merges read, and it is replaced atomically (tmp write +
    rename). A generation's term-stats file is written by the first commit
    that names it, sorted by term, and reused by later ones. An index with
    no segment commits ``n_docs`` 0 and names no file. Raises before
    anything is written on a segment built with an analyzer other than
    ``analyzer`` (queries analyzed one way would silently miss its terms)
    or a committed generation whose partitions changed (its file would no
    longer match it) or that is no longer written and marked complete (an
    index built before completion markers: rebuild it)."""
    import pyarrow.parquet as pq

    segs = _written_segments(index_dir)
    seg_dirs = [_seg_dir(index_dir, p, g) for p, gens in segs.items() for g in gens]
    manifests = [_read_manifest(d) for d in seg_dirs]
    for d, m in zip(seg_dirs, manifests, strict=True):
        if m.get("analyzer") != analyzer:
            raise ValueError(
                f"segment {d} was built with analyzer {m.get('analyzer')!r}, "
                f"not {analyzer!r}: rebuild it, or commit with its analyzer"
            )
    gens = _gen_partitions(segs)
    committed = (
        _gen_partitions(read_corpus_stats(index_dir)["segments"])
        if os.path.exists(f"{index_dir}/corpus_stats.json") else {}
    )
    for g, ps in gens.items():
        if committed.get(g, ps) != ps:
            raise ValueError(
                f"generation {g} changed after it was committed (partitions "
                f"{committed[g]}, now {ps}): build the new rows as a new "
                "generation"
            )
    if lost := sorted(committed.keys() - gens.keys()):
        raise ValueError(
            f"generations {lost} of the last commit have no written segment "
            f"or no completion marker under {_complete_dir(index_dir)}"
        )
    for g in gens.keys() - committed.keys():
        t = pa.concat_tables(
            pq.read_table(f"{_seg_dir(index_dir, p, g)}/postings.parquet",
                          columns=["term", "df", "ttf"])
            for p in gens[g]
        ).group_by("term").aggregate([("df", "sum"), ("ttf", "sum")])
        # Written under a "."-name, which pyarrow's directory discovery
        # skips, then renamed into place.
        final = _term_stats_file(index_dir, g)
        tmp = os.path.join(os.path.dirname(final), f".{g}.tmp-{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.dirname(final), exist_ok=True)
        pq.write_table(pa.table(
            {"term": t["term"], "df": t["df_sum"], "ttf": t["ttf_sum"]}
        ).sort_by("term"), tmp)
        os.replace(tmp, final)
    n_docs = sum(m["n_docs"] for m in manifests)
    sum_dl = sum(m["sum_dl"] for m in manifests)
    stats = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        "analyzer": analyzer,
        "k1": k1,
        "b": b,
        "generations": list(gens),
        "segments": segs,
    }
    os.makedirs(index_dir, exist_ok=True)  # an empty build writes no segment
    tmp = f"{index_dir}/corpus_stats.json.tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, f"{index_dir}/corpus_stats.json")
    return stats


def read_corpus_stats(index_dir: str) -> dict:
    """The index's last commit (``finalize_index``), ``segments`` keyed by
    int partition."""
    with open(f"{index_dir}/corpus_stats.json") as f:
        stats = json.load(f)
    stats["segments"] = {int(p): gens for p, gens in stats["segments"].items()}
    return stats


def build_index_dir(
    corpus: DataFrame,
    index_dir: str,
    n_partitions: int = 32,
    analyzer: str = "simple",
    id_col: str = "docid",
    text_col: str = "content",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """build_segments + finalize_index in one call. Idempotent/resumable."""
    build_segments(
        corpus, index_dir, n_partitions, analyzer,
        generation=0, id_col=id_col, text_col=text_col,
    )
    return finalize_index(corpus.sparkSession, index_dir, analyzer, k1, b)


# ---------------------------------------------------------------------------
# Segment merge (multi-generation → single generation)
# ---------------------------------------------------------------------------


def _blob(col: pa.ChunkedArray) -> np.ndarray:
    """A binary column's values end to end, as one uint8 slice of its value
    buffer, zero-copy for a one-chunk column (the blob columns are never
    null)."""
    a = col.combine_chunks()
    lo, hi = np.frombuffer(a.buffers()[1], np.int32, len(a) + 1, a.offset * 4)[[0, -1]]
    return np.frombuffer(a.buffers()[2], np.uint8)[lo:hi]


def merge_index(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Merge all generations of every partition into gen=0 under ``out_dir``,
    under the source commit's analyzer.

    Per partition, inside ``per_partition``'s one stage: re-rank the docid
    union of the generations the last commit names; decode every
    generation's postings back into flat per-token streams (term, new ord,
    position[, payload]) and encode them as the build does
    (``codec.encode_postings``). Equivalent to a full Lucene forceMerge(1)
    per shard.
    """
    stats = read_corpus_stats(index_dir)
    analyzer = stats["analyzer"]
    segs = stats["segments"]
    payloads = analyzer == "delimited_payload"

    def merge_one(p: int) -> pa.Table:
        import pyarrow.parquet as pq

        final = _seg_dir(out_dir, p, 0)
        if os.path.exists(os.path.join(final, "manifest.json")):
            return _manifest_row(_read_manifest(final), skipped=True)
        t0 = time.time()
        gen_dirs = [_seg_dir(index_dir, p, g) for g in segs[p]]
        cols = ["term", "df", "gaps", "tfs", "poss"] + ["pays"] * payloads

        docs = [
            pq.read_table(f"{gd}/docs.parquet", columns=["ord", "docid", "dl", "norm"])
            for gd in gen_dirs
        ]
        merged = pa.concat_tables(docs)
        doc_order = np.argsort(merged["docid"].to_numpy(), kind="stable")
        new_ord = np.empty(doc_order.size, dtype=np.int64)
        new_ord[doc_order] = np.arange(doc_order.size)
        terms, dfs, ords, tfs, poss, pays = [], [], [], [], [], []
        off = 0
        for gd, d in zip(gen_dirs, docs, strict=True):
            remap = np.empty(d.num_rows, dtype=np.int64)
            remap[d["ord"].to_numpy()] = new_ord[off:off + d.num_rows]
            off += d.num_rows
            t = pq.read_table(f"{gd}/postings.parquet", columns=cols)
            df = t["df"].to_numpy()
            # Each term's gap list restarts at an absolute ord, as each
            # posting's position list restarts at an absolute position, so
            # decode_positions decodes the whole column in one pass.
            o = decode_positions(_blob(t["gaps"]), df)[0]
            tf = vb_decode(_blob(t["tfs"])).astype(np.int64)
            terms.append(t["term"].to_numpy())
            dfs.append(df)
            ords.append(remap[o])
            tfs.append(tf)
            poss.append(decode_positions(_blob(t["poss"]), tf)[0])
            if payloads:
                pays.append(_blob(t["pays"]).view(np.float32))
        uniq, term_code = np.unique(np.concatenate(terms), return_inverse=True)
        tf = np.concatenate(tfs)
        merged = merged.take(doc_order)
        merged = pa.Table.from_arrays(
            [pa.array(np.arange(merged.num_rows))]
            + [merged[c] for c in ("docid", "dl", "norm")],
            schema=DOCS_SCHEMA,
        )
        # Back to per-token streams, the shape the build's analysis yields.
        tok_ords = np.repeat(np.concatenate(ords), tf)
        postings = encode_postings(
            uniq, np.repeat(np.repeat(term_code, np.concatenate(dfs)), tf),
            tok_ords, merged["norm"].to_numpy().astype(np.uint8)[tok_ords],
            np.concatenate(poss), np.concatenate(pays) if payloads else None,
        )
        m = _write_segment(
            out_dir, p, 0, merged, postings,
            _docid_checksum(merged["docid"].to_numpy()), time.time() - t0,
            analyzer,
        )
        return _manifest_row(m, skipped=False)

    per_partition(spark, sorted(segs), merge_one, MANIFEST_SCHEMA).collect()
    _mark_complete(out_dir, 0)
    return finalize_index(spark, out_dir, analyzer, stats["k1"], stats["b"])
