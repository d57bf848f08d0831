"""Physical index: per-partition segments, manifests, merge, global stats.

Mirrors the Lucene/Solr indexing lifecycle (SURVEY.md §3.2) Spark-first:

- ``build_segments``: one Spark shape, ``groupBy(partition_col)
  .applyInPandas``, one SEGMENT per partition (the Arrow-vectorized
  analogue of IndexWriter's flush: analyze, invert, compress posting lists,
  write files). Input already laid out by ``partition_col`` (persisted, or
  a table bucketed by docid hash) builds with no shuffle; any other layout
  is shuffled once on p. Each segment = postings.parquet + docs.parquet +
  manifest.json, committed by an atomic directory rename; the manifest
  carries row counts, a docid checksum (lineage), sizes and timing
  (metrics). RESUME = re-running the build skips every partition whose
  manifest already exists — the per-partition checkpoint protocol that
  replaces Solr's tlog replay
  (solr/core/src/java/org/apache/solr/update/UpdateLog.java:912-947).
- ``finalize_index``: the commit. Global exact term stats (term, df, ttf)
  via one column-pruned groupBy over segment stats columns
  (= ExactStatsCache, search/stats/ExactStatsCache.java:150-206, without
  the two-phase HTTP dance; Spark's partial+final combine makes hot terms
  cheap because each task emits at most one partial row per term),
  plus corpus_stats.json (N, sumdl, avgdl, the ``segments`` map of
  committed generations and the names of the term_stats part files),
  replaced atomically. Searchers and merges read only the segments and
  term_stats files corpus_stats.json names.
- ``merge_index``: merge of generations within each partition
  (= TieredMergePolicy's role, index/TieredMergePolicyFactory.java:27):
  re-rank the union of docids, decode every generation's postings back to
  per-token streams, re-encode. Runs as one Spark job of one stage
  (``per_partition``, which the physical queries' Spark executor also
  uses).

Build and merge share one postings encoder (``codec.encode_postings``), as
Lucene's flush and merge share one codec consumer: the build's analysis
loop and the merge's decode both yield flat per-token (term, ord, norm,
position[, payload]) streams, and the encoder turns every term of the
segment into one Arrow table in one vectorized pass. ``_write_segment``
writes that table and the doc table as they are, after a ``gen`` column.

Layout (every column is read by a scorer, the merge or finalize_index):
    index_dir/
      corpus_stats.json              n_docs, sum_dl, avgdl, payloads, ...,
                                     segments {p: [gen, ...]} and
                                     term_stats [part file, ...] (the commit)
      term_stats.parquet/            (term, df, ttf)
      seg/p=<P>/gen=<G>/
        postings.parquet             gen + codec.POSTINGS_SCHEMA, one row
                                     per term, sorted by term
        docs.parquet                 gen + codec.DOCS_SCHEMA
        manifest.json

Scale notes: P is chosen so one partition's docs fit an executor (at 10^12
docs → P in the tens of thousands; parquet + manifests shard naturally).
Postings are sorted by term but written with pyarrow's default row-group
size (1Mi rows), so each postings.parquet is one row group: a query reads
its columns of every term row of the partition's committed segments and
then filters them. Sizing the row groups waits on a large-index benchmark
(ROADMAP).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import ANALYZERS_POS
from solr_spark.index.codec import (
    DOCS_SCHEMA,
    decode_positions,
    encode_postings,
    vb_decode,
)
from solr_spark.index.norms import norm_byte_array

MANIFEST_SCHEMA = (
    "p int, gen int, n_docs long, n_terms long, n_postings long, "
    "sum_dl long, docid_checksum long, skipped boolean, wall_s double, bytes long"
)

_WS_RE = re.compile(r"\s+")
_PART_RE = re.compile(r"p=(\d+)")
_GEN_RE = re.compile(r"gen=(\d+)")


def _payload_tokens(
    s: str, delim: str, default: float
) -> list[tuple[str, int, float]]:
    """The ``delimited_payload`` analysis chain: whitespace tokens carrying
    ``term|payload`` (Lucene WhitespaceTokenizer + DelimitedPayloadTokenFilter,
    the reference's ``*_dpf`` field type in
    solr/server/solr/configsets/_default/conf/managed-schema.xml), terms
    lowercased for parity with query/payload.py's logical ingestion.
    Positions are raw whitespace-token indexes — identical to posexplode
    over split(text, r"\\s+") on the logical path."""
    out = []
    for i, tok in enumerate(_WS_RE.split(s)):
        if not tok:
            continue
        parts = tok.split(delim)
        term = parts[0].lower()
        if not term:
            continue
        pay = default
        if len(parts) > 1:
            try:
                pay = float(parts[1])
            except ValueError:
                pay = default
        out.append((term, i, pay))
    return out


def _seg_dir(index_dir: str, p: int, gen: int) -> str:
    return os.path.join(index_dir, "seg", f"p={p:05d}", f"gen={gen}")


def _written_segments(index_dir: str) -> dict[int, list[int]]:
    """Each partition's written generations, ``{p: [gen, ...]}`` ascending:
    what the next ``finalize_index`` commits.

    A segment dir counts as written when its name is exactly ``gen=<int>``
    and it holds manifest.json, which ``_write_segment`` writes before the
    atomic rename. A ``gen=<G>.tmp-<hex>`` dir left by a build killed before
    its rename is therefore never committed."""
    seg = os.path.join(index_dir, "seg")
    out: dict[int, list[int]] = {}
    for pname in sorted(os.listdir(seg)) if os.path.isdir(seg) else ():
        pm = _PART_RE.fullmatch(pname)
        if pm is None:
            continue
        pdir = os.path.join(seg, pname)
        gens = sorted(
            int(gm.group(1))
            for gm in map(_GEN_RE.fullmatch, os.listdir(pdir))
            if gm and os.path.exists(os.path.join(pdir, gm.group(0), "manifest.json"))
        )
        if gens:
            out[int(pm.group(1))] = gens
    return out


def per_partition(spark: SparkSession, ps: list[int], fn, schema: str) -> DataFrame:
    """``fn(p)`` (a pandas frame of ``schema``) for every segment partition
    ``p`` in ``ps``, as ONE stage: Range -> MapInPandas with
    min(len(ps), defaultParallelism) tasks, each looping over its slice of
    ``ps``. Never one task per partition: every wave of Python tasks pays a
    fixed cost (~150 ms on a 4-core host), and P is often many times the
    core count."""
    n_tasks = max(1, min(len(ps), spark.sparkContext.defaultParallelism))

    def run(batches):
        import pyarrow as pa

        # Once per task: Spark supplies the parallelism, and pyarrow's own
        # thread pool (all machine cores, per worker process) would
        # oversubscribe the host n_tasks x n_cores-fold. It is process-global,
        # so the readers ``fn`` calls must not set it: they also run on the
        # driver (query.wand's driver executor).
        pa.set_cpu_count(1)
        for batch in batches:
            for i in batch["id"]:
                yield fn(ps[int(i)])

    return spark.range(len(ps), numPartitions=n_tasks).mapInPandas(run, schema)


def _invert_partition(
    docids: np.ndarray, texts: pd.Series, analyzer: str,
    store_payloads: bool = False,
    payload_delimiter: str = "|",
    default_payload: float = 1.0,
) -> tuple[pa.Table, pa.Table]:
    """Analyze + invert one partition. Returns (docs, postings): the
    DOCS_SCHEMA table sorted by docid (ord = rank), and encode_postings'
    table of its tokens.

    ``store_payloads=True`` switches the analysis to the
    ``delimited_payload`` chain (whitespace ``term|payload`` tokens; the
    ``analyzer`` argument is ignored) and writes the position-aligned
    payload stream — the Lucene .pay-file role.
    """
    order = np.argsort(docids, kind="stable")
    docids = docids[order]
    texts = texts.iloc[order]
    analyze = (
        partial(_payload_tokens, delim=payload_delimiter, default=default_payload)
        if store_payloads else ANALYZERS_POS[analyzer]
    )
    # One analysis loop for every chain: each chain yields (term, position
    # [, payload]) tuples, appended column-wise to flat per-token streams in
    # (ord, token) order; a doc's dl is its token count.
    streams: tuple[list, ...] = ([], [], []) if store_payloads else ([], [])
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
        np.asarray(streams[2], dtype=np.float32) if store_payloads else None,
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
    docid_checksum: int, wall_s: float, store_payloads: bool = False,
) -> dict:
    """Atomically commit one segment directory (tmp write + rename): the
    DOCS_SCHEMA and POSTINGS_SCHEMA tables, each written as is after an
    int32 ``gen`` column."""
    import pyarrow.parquet as pq

    # Executor-side: one pyarrow thread per task (Spark supplies the
    # parallelism; a per-process all-cores arrow pool oversubscribes).
    pa.set_cpu_count(1)
    final = _seg_dir(index_dir, p, gen)
    tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
    os.makedirs(tmp, exist_ok=True)

    def with_gen(t: pa.Table) -> pa.Table:
        return t.add_column(0, "gen", pa.array(np.full(t.num_rows, gen, np.int32)))

    pq.write_table(with_gen(postings), os.path.join(tmp, "postings.parquet"))
    # Small row groups on the doc table: queries read it only to map top-k
    # ords -> docids with a row-group-pruned filtered read, so row-group
    # granularity IS the read granularity.
    pq.write_table(with_gen(docs), os.path.join(tmp, "docs.parquet"),
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
        "payloads": bool(store_payloads),
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


def _manifest_row(m: dict, skipped: bool) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "p": m["p"], "gen": m["gen"], "n_docs": m["n_docs"],
                "n_terms": m["n_terms"], "n_postings": m["n_postings"],
                "sum_dl": m["sum_dl"], "docid_checksum": m["docid_checksum"],
                "skipped": skipped, "wall_s": m["wall_s"], "bytes": m["bytes"],
            }
        ]
    )


def partition_col(id_col: str = "docid", n_partitions: int = 32):
    """The segment-partition assignment (= Iceberg bucket(docid) layout)."""
    return F.pmod(F.xxhash64(id_col), F.lit(n_partitions)).cast("int")


def _build_one(index_dir: str, generation: int, analyzer: str,
               p: int, pdf: pd.DataFrame,
               store_payloads: bool = False) -> pd.DataFrame:
    final = _seg_dir(index_dir, p, generation)
    docids = pdf["docid"].to_numpy(dtype=np.int64)
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
    docs, postings = _invert_partition(
        docids, pdf["text"], analyzer, store_payloads=store_payloads,
    )
    m = _write_segment(
        index_dir, p, generation, docs, postings, checksum, time.time() - t0,
        store_payloads,
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
    store_payloads: bool = False,
) -> pd.DataFrame:
    """Build one generation of segments from ``corpus`` (docid must be int64).

    Every segment stores term positions (Lucene's text-field default,
    DOCS_AND_FREQS_AND_POSITIONS), which phrase queries read.
    ``store_payloads=True`` additionally writes the position-aligned payload
    stream via the ``delimited_payload`` chain (whitespace ``term|payload``
    tokens — the ``analyzer`` argument is ignored), Lucene's .pay-file role.

    Returns the manifest table (one row per partition; ``skipped=True`` rows
    were already committed by a previous run — the resume path).

    One Spark shape: ``groupBy(partition_col).applyInPandas``, one segment
    per group. Input already laid out by the partition expression (e.g.
    ``corpus.repartition(n, partition_col("docid", n))``, persisted) builds
    with no shuffle: Spark sees the required distribution is met and plans
    no Exchange. Any other layout is shuffled once on p.
    """
    df = corpus.select(
        F.col(id_col).cast("long").alias("docid"), F.col(text_col).alias("text")
    ).withColumn("p", partition_col("docid", n_partitions))

    def writer(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _build_one(
            index_dir, generation, analyzer, int(key[0]), pdf, store_payloads,
        )

    return df.groupBy("p").applyInPandas(writer, MANIFEST_SCHEMA).toPandas()


def finalize_index(
    spark: SparkSession,
    index_dir: str,
    analyzer: str = "simple",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """Commit: compute global exact stats over every segment on disk and
    publish them. corpus_stats.json is the commit point: its ``segments``
    map ``{p: [gen, ...]}`` names the committed segments, the only ones
    searchers and merges read, its ``term_stats`` list names the part files
    of term_stats.parquet that hold their df, and it is replaced atomically
    (tmp write + rename). An index with no segment gets an empty
    term_stats and ``n_docs`` 0."""
    segs = _written_segments(index_dir)
    seg_dirs = [_seg_dir(index_dir, p, g) for p, gens in segs.items() for g in gens]
    if seg_dirs:
        term_stats = (
            spark.read.parquet(*[f"{d}/postings.parquet" for d in seg_dirs])
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        )
    else:
        term_stats = spark.createDataFrame([], "term string, df long, ttf long")
    ts_dir = f"{index_dir}/term_stats.parquet"
    term_stats.write.mode("overwrite").parquet(ts_dir)
    manifests = [_read_manifest(d) for d in seg_dirs]
    n_docs = sum(m["n_docs"] for m in manifests)
    sum_dl = sum(m["sum_dl"] for m in manifests)
    stats = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "payloads": all(m.get("payloads", False) for m in manifests),
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        "analyzer": analyzer,
        "k1": k1,
        "b": b,
        "generations": sorted({g for gens in segs.values() for g in gens}),
        "segments": segs,
        # Spark names part files uniquely per write, so if this commit fails
        # after the write above, the previous commit names files that are
        # gone: searchers raise instead of pairing the new df with old N.
        "term_stats": sorted(
            f for f in os.listdir(ts_dir) if not f.startswith(("_", "."))
        ),
    }
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
    store_payloads: bool = False,
) -> dict:
    """build_segments + finalize_index in one call. Idempotent/resumable."""
    build_segments(
        corpus, index_dir, n_partitions, analyzer,
        generation=0, id_col=id_col, text_col=text_col,
        store_payloads=store_payloads,
    )
    return finalize_index(corpus.sparkSession, index_dir, analyzer, k1, b)


# ---------------------------------------------------------------------------
# Segment merge (multi-generation → single generation)
# ---------------------------------------------------------------------------


def merge_index(
    spark: SparkSession, index_dir: str, out_dir: str, analyzer: str | None = None
) -> dict:
    """Merge all generations of every partition into gen=0 under ``out_dir``.

    Per partition, inside ``per_partition``'s one stage: re-rank the docid
    union of the generations the last commit names; decode every
    generation's postings back into flat per-token streams (term, new ord,
    position[, payload]) and encode them as the build does
    (``codec.encode_postings``). Equivalent to a full Lucene forceMerge(1)
    per shard.
    """
    stats = read_corpus_stats(index_dir)
    analyzer = analyzer or stats["analyzer"]
    segs = stats["segments"]

    def merge_one(p: int) -> pd.DataFrame:
        import pyarrow.parquet as pq

        final = _seg_dir(out_dir, p, 0)
        if os.path.exists(os.path.join(final, "manifest.json")):
            return _manifest_row(_read_manifest(final), skipped=True)
        t0 = time.time()
        gen_dirs = [_seg_dir(index_dir, p, g) for g in segs[p]]
        flags = {_read_manifest(gd).get("payloads", False) for gd in gen_dirs}
        if len(flags) > 1:
            raise RuntimeError(
                f"merge p={p}: generations mix store_payloads=True and False "
                "— a merged stream would silently misalign; rebuild them all "
                "with one setting"
            )
        payloads = flags.pop()
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
            o = decode_positions(b"".join(t["gaps"].to_pylist()), df)[0]
            tf = vb_decode(b"".join(t["tfs"].to_pylist())).astype(np.int64)
            terms.append(t["term"].to_numpy())
            dfs.append(df)
            ords.append(remap[o])
            tfs.append(tf)
            poss.append(decode_positions(b"".join(t["poss"].to_pylist()), tf)[0])
            if payloads:
                pays.append(np.frombuffer(
                    b"".join(t["pays"].to_pylist()), dtype=np.float32
                ))
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
            store_payloads=payloads,
        )
        return _manifest_row(m, skipped=False)

    per_partition(spark, sorted(segs), merge_one, MANIFEST_SCHEMA).collect()
    return finalize_index(spark, out_dir, analyzer, stats["k1"], stats["b"])
