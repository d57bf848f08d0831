"""Physical index: build/resume/merge + WAND rank-identity vs DataFrame BM25.

The oracle pattern mirrors the reference's distributed-vs-control tests
(test-framework BaseDistributedSearchTestCase: same docs at 1 shard and N
shards must agree — SURVEY.md §5): the physical WAND path must return
rank- AND score-identical results to the logical DataFrame path, at 1 and
at 8 partitions, with and without block-max pruning.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from solr_spark.index.build import build_index
from solr_spark.index.segments import (
    build_index_dir,
    build_segments,
    finalize_index,
    merge_index,
)
from solr_spark.query.bm25 import bm25_topk
from solr_spark.query.wand import PhysicalIndex, wand_topk

# "spark spark join": a repeated term is a separate clause (Lucene), so the
# physical weight counts it twice, like the logical query_weights.
QUERIES = ["spark join data", "table", "window batch order", "zzznotaterm",
           "spark spark join"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def logical(docs):
    idx = build_index(docs, id_col="doc_id", text_col="text", analyzer="simple")
    idx.postings = idx.postings.persist()
    idx.doclens = idx.doclens.persist()
    return idx


@pytest.fixture(scope="module")
def idx_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "phys")
    build_index_dir(docs, d, n_partitions=8, analyzer="simple",
                    id_col="doc_id", text_col="text")
    return d


def _rows(df):
    return [(int(r[0]), round(float(r[1]), 9)) for r in df.collect()]


@pytest.mark.parametrize("q", QUERIES)
def test_wand_matches_dataframe(spark, idx_dir, logical, q):
    want = _rows(bm25_topk(logical, q.split(), k=10, quantize_norms=True))
    got = _rows(wand_topk(spark, idx_dir, q, k=10))
    assert got == want


def test_wand_pruning_lossless(spark, idx_dir):
    a = _rows(wand_topk(spark, idx_dir, "spark join data", k=10, use_wand=True))
    b = _rows(wand_topk(spark, idx_dir, "spark join data", k=10, use_wand=False))
    assert a == b


def test_partition_count_invariance(spark, docs, idx_dir, tmp_path_factory):
    d1 = str(tmp_path_factory.mktemp("idx") / "p1")
    build_index_dir(docs, d1, n_partitions=1, analyzer="simple",
                    id_col="doc_id", text_col="text")
    for q in QUERIES[:2]:
        assert _rows(wand_topk(spark, d1, q, k=10)) == _rows(
            wand_topk(spark, idx_dir, q, k=10)
        )


def test_resume_skips_committed(docs, idx_dir):
    m = build_segments(docs, idx_dir, 8, "simple", 0, "doc_id", "text")
    assert m["skipped"].all()
    assert len(m) == 8
    assert m["n_docs"].sum() == 500


def test_merge_generations(spark, docs, idx_dir, tmp_path_factory):
    gen_dir = str(tmp_path_factory.mktemp("idx") / "gens")
    build_segments(docs.where(F.col("doc_id") % 2 == 0), gen_dir, 4,
                   "simple", 0, "doc_id", "text")
    build_segments(docs.where(F.col("doc_id") % 2 == 1), gen_dir, 4,
                   "simple", 1, "doc_id", "text")
    finalize_index(spark, gen_dir, "simple")
    # Multi-gen index is queryable as-is...
    want = _rows(wand_topk(spark, idx_dir, "spark join data", k=10))
    assert _rows(wand_topk(spark, gen_dir, "spark join data", k=10)) == want
    # ...and merging to one generation preserves results exactly.
    merged = str(tmp_path_factory.mktemp("idx") / "merged")
    stats = merge_index(spark, gen_dir, merged)
    assert stats["n_docs"] == 500
    assert stats["generations"] == [0]
    assert _rows(wand_topk(spark, merged, "spark join data", k=10)) == want
    shutil.rmtree(gen_dir, ignore_errors=True)


def _stages(spark, jobs):
    """(stages run, shuffle-map stages among them) over ``jobs``; stages
    Spark skipped because their output already exists do not count."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tracker = spark.sparkContext.statusTracker()
    ran = [
        st for j in jobs for st in map(store.lastStageAttempt,
                                       tracker.getJobInfo(j).stageIds)
        if st.status().toString() != "SKIPPED"
    ]
    return len(ran), sum(st.shuffleWriteBytes() > 0 for st in ran)


@pytest.mark.parametrize("payloads", [True, False])
def test_merge_equals_one_shot_build(spark, docs, tmp_path_factory, payloads):
    """Merging generations writes exactly the segments that one build of
    the same docs writes: build and merge share one postings writer, and
    the build's analysis loop is the merge's reference."""
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("mergeref")
    kw = dict(analyzer="simple", id_col="doc_id", text_col="text",
              store_payloads=payloads)
    for g in range(3):
        build_segments(docs.where(F.col("doc_id") % 3 == g), str(base / "gens"),
                       2, generation=g, **kw)
    finalize_index(spark, str(base / "gens"), "simple")
    merge_index(spark, str(base / "gens"), str(base / "merged"))
    build_index_dir(docs, str(base / "one"), n_partitions=2, **kw)
    for p in range(2):
        for f in ("postings.parquet", "docs.parquet"):
            seg = f"seg/p={p:05d}/gen=0/{f}"
            assert pq.read_table(base / "merged" / seg).equals(
                pq.read_table(base / "one" / seg)), seg


def test_bucketed_build_equivalent(spark, docs, idx_dir, count_jobs,
                                   tmp_path_factory):
    """Persisted input laid out by partition_col builds in ONE stage with no
    shuffle; other input is shuffled once; both answer identically."""
    from solr_spark.index.segments import partition_col

    base = tmp_path_factory.mktemp("bucketed")
    laid_out = (
        docs.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.col("text").alias("content"),
        )
        .repartition(8, partition_col("docid", 8))
        .persist()
    )
    laid_out.count()
    m, jobs = count_jobs(
        lambda: build_segments(laid_out, str(base / "laid"), 8, "simple")
    )
    assert m["n_docs"].sum() == 500
    assert _stages(spark, jobs) == (1, 0)
    m, jobs = count_jobs(lambda: build_segments(
        docs, str(base / "shuffled"), 8, "simple", 0, "doc_id", "text"))
    assert m["n_docs"].sum() == 500
    assert _stages(spark, jobs)[1] == 1
    laid_out.unpersist()
    want = _rows(wand_topk(spark, idx_dir, "spark join data", k=10))
    for d in ("laid", "shuffled"):
        finalize_index(spark, str(base / d), "simple")
        assert _rows(wand_topk(spark, str(base / d), "spark join data", k=10)) == want


def test_open_no_full_dictionary_collect(spark, idx_dir):
    """Opening an index must NOT collect the term dictionary to the driver;
    only the query's terms are looked up (and cached) per query."""
    from solr_spark.query import wand as wand_mod

    ix = wand_mod.PhysicalIndex(spark, idx_dir)
    assert ix._term_df_cache == {}
    ix.topk("spark join data", k=5).collect()
    assert set(ix._term_df_cache) == {"spark", "join", "data"}
    # OOV terms are negative-cached, not re-scanned.
    ix.topk("zzznotaterm", k=5).collect()
    assert ix._term_df_cache["zzznotaterm"] is None


def test_open_launches_no_job(spark, idx_dir, count_jobs):
    ix, jobs = count_jobs(lambda: PhysicalIndex(spark, idx_dir))
    assert jobs == [] and ix.segments


@pytest.mark.parametrize("kind,call", [
    ("topk", lambda ix: ix.topk("spark join data", k=10)),
    ("search", lambda ix: ix.search("+spark +join -slow data", k=10)),
    ("phrase_topk", lambda ix: ix.phrase_topk("spark join", k=10, slop=2)),
])
def test_query_is_one_job(spark, idx_dir, count_jobs, spark_executor, kind, call):
    """On the Spark executor, from the call to collect(), with a cold term
    cache: one Spark job."""
    ix = PhysicalIndex(spark, idx_dir)
    rows, jobs = count_jobs(lambda: call(ix).collect())
    assert rows and len(jobs) == 1, (kind, jobs)


def test_query_tasks_capped_at_parallelism(spark, docs, count_jobs,
                                           spark_executor, tmp_path_factory):
    """A 32-partition index runs min(32, defaultParallelism) tasks, not 32."""
    d = str(tmp_path_factory.mktemp("p32") / "phys")
    build_index_dir(docs, d, n_partitions=32, analyzer="simple",
                    id_col="doc_id", text_col="text")
    ix = PhysicalIndex(spark, d)
    assert len(ix.segments) == 32
    rows, jobs = count_jobs(lambda: ix.topk("spark join data", k=10).collect())
    tracker = spark.sparkContext.statusTracker()
    tasks = sum(tracker.getStageInfo(s).numTasks
                for s in tracker.getJobInfo(jobs[0]).stageIds)
    assert rows and len(jobs) == 1
    assert tasks == min(32, spark.sparkContext.defaultParallelism)


def test_uncommitted_segment_dir_ignored(spark, docs, tmp_path_factory):
    """A gen=<G>.tmp-<hex> dir left by a build killed before its rename is
    not a committed segment: queries, finalize and merge all skip it."""
    base = tmp_path_factory.mktemp("tmpseg")
    d = str(base / "phys")
    build_index_dir(docs.where(F.col("doc_id") < 100), d, n_partitions=4,
                    analyzer="simple", id_col="doc_id", text_col="text")

    def answers():
        ix = PhysicalIndex(spark, d)
        return (_rows(ix.topk("spark join data", k=10)),
                _rows(ix.search("spark +data", k=10)),
                _rows(ix.phrase_topk("spark join", k=10)))

    want = answers()
    assert all(want)
    seg0 = f"{d}/seg/p=00000"
    shutil.copytree(f"{seg0}/gen=0", f"{seg0}/gen=0.tmp-deadbeef")
    assert answers() == want
    assert finalize_index(spark, d, "simple")["n_docs"] == 100
    assert answers() == want
    assert merge_index(spark, d, str(base / "merged"))["n_docs"] == 100


def test_reader_cache_invalidation(spark, docs, tmp_path_factory):
    """A cached searcher reopens after a new generation is committed."""
    from solr_spark.query.wand import open_index

    d = str(tmp_path_factory.mktemp("inval") / "phys")
    half = docs.where(F.col("doc_id") % 2 == 0)
    build_segments(half, d, n_partitions=4, analyzer="simple",
                   id_col="doc_id", text_col="text", generation=0)
    finalize_index(spark, d, analyzer="simple")
    ix1 = open_index(spark, d)
    n1 = ix1.stats["n_docs"]
    assert open_index(spark, d) is ix1  # unchanged commit -> cache hit
    build_segments(docs.where(F.col("doc_id") % 2 == 1), d, n_partitions=4,
                   analyzer="simple", id_col="doc_id", text_col="text",
                   generation=1)
    finalize_index(spark, d, analyzer="simple")
    ix2 = open_index(spark, d)
    assert ix2 is not ix1 and ix2.stats["n_docs"] == docs.count() > n1


def test_topk_tie_break_at_boundary(spark, tmp_path_factory):
    """40 identical docs in ONE segment: the k-th score ties 40-way; the
    returned top-10 must be the 10 SMALLEST docids (score desc, docid asc),
    not an arbitrary argpartition subset."""
    d = str(tmp_path_factory.mktemp("ties") / "phys")
    rows = [(i, "alpha beta gamma") for i in range(40)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    build_index_dir(corpus, d, n_partitions=1, analyzer="simple",
                    id_col="doc_id", text_col="text")
    got = [int(r.docid) for r in wand_topk(spark, d, "alpha beta", k=10).collect()]
    assert got == list(range(10))


def test_resume_with_changed_input_raises(docs, tmp_path_factory):
    """Resuming a generation over changed input must RAISE (the manifest's
    lineage check), not adopt the committed segment and drop the new row."""
    d = str(tmp_path_factory.mktemp("changed") / "phys")
    build_segments(docs.where(F.col("doc_id") < 100), d, 4, "simple", 0,
                   "doc_id", "text")
    with pytest.raises(Exception, match="input changed since the checkpoint"):
        build_segments(docs.where(F.col("doc_id") < 101), d, 4, "simple", 0,
                       "doc_id", "text")


def test_searcher_never_mixes_commits(spark, tmp_path_factory):
    """A searcher opened before a later commit must not score with that
    commit's df and its own N (at 10 docs vs df 40, idf < 0 and every hit
    was dropped): it raises until reopened, and the reopened searcher
    answers over the new commit."""
    from solr_spark.query.wand import open_index

    d = str(tmp_path_factory.mktemp("stale") / "phys")
    kw = dict(analyzer="simple", id_col="doc_id", text_col="text")
    build_index_dir(spark.createDataFrame(
        [(i, f"alpha w{i}") for i in range(10)], "doc_id long, text string"),
        d, n_partitions=2, **kw)
    old = open_index(spark, d)
    assert len(old.topk("alpha", k=50).collect()) == 10
    build_segments(spark.createDataFrame(
        [(i, f"alpha x{i}") for i in range(10, 40)], "doc_id long, text string"),
        d, 2, generation=1, **kw)
    finalize_index(spark, d, "simple")
    # "alpha" alone is in old's df cache from its own commit; "w3" is not.
    for call in (lambda: old.topk("alpha w3", k=50),
                 lambda: old.search("alpha~1", k=50)):
        with pytest.raises(RuntimeError, match="stale searcher.*open_index"):
            call().collect()
    assert len(open_index(spark, d).topk("alpha", k=50).collect()) == 40


def test_empty_index(spark, tmp_path_factory):
    """An index over an empty corpus builds, answers every query kind with
    no rows, and merges."""
    from solr_spark.query.wand import open_index

    base = tmp_path_factory.mktemp("empty")
    d = str(base / "phys")
    empty = spark.createDataFrame([], "doc_id long, text string")
    stats = build_index_dir(empty, d, n_partitions=4, analyzer="simple",
                            id_col="doc_id", text_col="text")
    assert stats["n_docs"] == 0
    ix = open_index(spark, d)
    assert ix.topk("spark join", k=10).collect() == []
    assert ix.search("+spark -join tabel~1", k=10).collect() == []
    assert ix.phrase_topk("spark join", k=10).collect() == []
    assert merge_index(spark, d, str(base / "merged"))["n_docs"] == 0


PHRASES = [("part filter scan", 0), ("spark join", 0), ("spark join", 2),
           # 3-term sloppy: physical = batched numpy sweep, logical = the
           # n-iterator JVM fold — rank/score identity closes the loop on
           # both new paths at once
           ("part filter scan", 2), ("part filter scan", 5),
           # one-term phrase = term query (Lucene PhraseQuery.rewrite): the
           # slop is ignored on both paths
           ("spark", 1), ("table", 2)]


@pytest.mark.parametrize("q,slop", PHRASES)
def test_wand_phrase_matches_dataframe(spark, idx_dir, logical, q, slop):
    """Physical phrase path must be rank- AND score-identical to the logical
    positions-join path (quantized norms on both)."""
    from solr_spark.query.phrase import phrase_topk
    from solr_spark.query.wand import wand_phrase_topk

    want = _rows(phrase_topk(logical, q, k=10, slop=slop, quantize_norms=True))
    got = _rows(wand_phrase_topk(spark, idx_dir, q, k=10, slop=slop))
    assert got == want and got  # non-empty


def test_merge_preserves_positions(spark, docs, tmp_path_factory):
    """Positions survive a generation merge: phrase results over the merged
    index equal those over the multi-generation index."""
    from solr_spark.query.wand import wand_phrase_topk

    d = str(tmp_path_factory.mktemp("mergepos") / "multi")
    m = str(tmp_path_factory.mktemp("mergepos") / "merged")
    build_segments(docs.where(F.col("doc_id") % 2 == 0), d, n_partitions=4,
                   analyzer="simple", id_col="doc_id", text_col="text",
                   generation=0)
    build_segments(docs.where(F.col("doc_id") % 2 == 1), d, n_partitions=4,
                   analyzer="simple", id_col="doc_id", text_col="text",
                   generation=1)
    finalize_index(spark, d, analyzer="simple")
    merge_index(spark, d, m)
    a = _rows(wand_phrase_topk(spark, d, "spark join", k=10))
    bb = _rows(wand_phrase_topk(spark, m, "spark join", k=10))
    assert a == bb and a


def test_phrase_partition_count_invariance(spark, docs, idx_dir, tmp_path_factory):
    """Phrase results must be rank- and score-identical at 1 vs 8 segment
    partitions (the distributed-vs-control oracle, phrase edition)."""
    from solr_spark.query.wand import wand_phrase_topk

    d1 = str(tmp_path_factory.mktemp("ph1") / "phys")
    build_index_dir(docs, d1, n_partitions=1, analyzer="simple",
                    id_col="doc_id", text_col="text")
    for q, slop in [("spark join", 0), ("spark join", 2)]:
        a = _rows(wand_phrase_topk(spark, d1, q, k=10, slop=slop))
        b = _rows(wand_phrase_topk(spark, idx_dir, q, k=10, slop=slop))
        assert a == b and a


@pytest.mark.parametrize("q", [
    "+spark +join -slow data",
    "spark join data",
    "+table -zzznotaterm",
    "spar* table",
    "+spar* data",
    "spark spar*",  # same term scored AND const-prefix-expanded
])
def test_physical_boolean_matches_logical(spark, idx_dir, logical, q):
    """PhysicalIndex.search must be rank- and score-identical to the logical
    parser path (quantized norms on both)."""
    from solr_spark.query.parser import search
    from solr_spark.query.wand import open_index

    want = _rows(search(logical, q, k=10, quantize_norms=True))
    got = _rows(open_index(spark, idx_dir).search(q, k=10))
    assert got == want and got


@pytest.mark.parametrize("q", [
    "(spark join) data",                # should-group + flat
    "+(spark table^2) -slow data",      # must-group with inner boost + neg
    "(spark join)^2 (table batch)",     # two boosted should-groups
    "data AND (spark join)",            # AND promotes both sides
    "((spark table) join) order",       # nested groups
    "(spar* data) table",               # prefix inside a group
])
def test_physical_grouped_matches_logical(spark, idx_dir, logical, q):
    """Grouped boolean queries on the physical path must be rank- AND
    score-identical to the logical parser's grouped combination (same
    _split_top_level grammar, per-segment ordinal-set algebra)."""
    from solr_spark.query.parser import search
    from solr_spark.query.wand import open_index

    want = _rows(search(logical, q, k=10, quantize_norms=True))
    got = _rows(open_index(spark, idx_dir).search(q, k=10))
    assert got == want and got


def test_physical_fuzzy_matches_logical(spark, idx_dir, logical):
    from solr_spark.query.parser import search
    from solr_spark.query.wand import open_index

    for q in ["tabel~2", "+tabel~2 spark"]:
        want = _rows(search(logical, q, k=10, quantize_norms=True))
        got = _rows(open_index(spark, idx_dir).search(q, k=10))
        assert got == want and got


def test_merge_mixed_payloads_raises(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mixed") / "multi")
    m = str(tmp_path_factory.mktemp("mixed") / "merged")
    build_segments(docs.where(F.col("doc_id") % 2 == 0), d, n_partitions=2,
                   analyzer="simple", id_col="doc_id", text_col="text",
                   generation=0, store_payloads=False)
    build_segments(docs.where(F.col("doc_id") % 2 == 1), d, n_partitions=2,
                   analyzer="simple", id_col="doc_id", text_col="text",
                   generation=1, store_payloads=True)
    finalize_index(spark, d, analyzer="simple")
    with pytest.raises(Exception, match="store_payloads"):
        merge_index(spark, d, m)


def _alpha_index(spark, d):
    """10 docs over 2 partitions, every one holding "alpha", committed; and
    a second generation of 10 more written by a sink that has not
    committed it yet."""
    kw = dict(analyzer="simple", id_col="doc_id", text_col="text")
    build_index_dir(spark.createDataFrame(
        [(i, f"alpha w{i}") for i in range(10)], "doc_id long, text string"),
        d, n_partitions=2, **kw)
    build_segments(spark.createDataFrame(
        [(i, f"alpha x{i}") for i in range(10, 20)], "doc_id long, text string"),
        d, 2, generation=1, **kw)


def test_searcher_reads_only_committed_segments(spark, tmp_path_factory):
    """A generation a sink wrote but finalize_index has not committed is not
    searched or merged: a fresh searcher answers over the last commit, its
    hits agreeing with its own N."""
    base = tmp_path_factory.mktemp("uncommitted")
    d = str(base / "phys")
    _alpha_index(spark, d)
    ix = PhysicalIndex(spark, d)
    assert ix.stats["n_docs"] == 10 and ix.stats["generations"] == [0]
    assert len(ix.topk("alpha", k=50).collect()) == 10
    assert len(ix.search("alpha x12", k=50).collect()) == 10
    assert merge_index(spark, d, str(base / "merged"))["n_docs"] == 10
    finalize_index(spark, d, "simple")
    assert len(PhysicalIndex(spark, d).topk("alpha", k=50).collect()) == 20


def test_commit_write_failure_keeps_previous_commit(spark, tmp_path_factory,
                                                    monkeypatch):
    """A corpus_stats.json write that raises midway leaves the previous
    commit readable (tmp write + rename), never a truncated file, and no
    searcher answers from it with the failed commit's df; re-running
    finalize_index commits."""
    import json

    from solr_spark.index.segments import read_corpus_stats

    d = str(tmp_path_factory.mktemp("commitfail") / "phys")
    _alpha_index(spark, d)
    before = read_corpus_stats(d)
    dump = json.dump

    def half_then_raise(obj, f, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", half_then_raise)
        with pytest.raises(OSError, match="disk full"):
            finalize_index(spark, d, "simple")
    assert json.dump is dump
    assert read_corpus_stats(d) == before
    # The failed commit already replaced term_stats: a fresh searcher over
    # the previous commit must raise, never score the new df with the old N
    # (which returned 0 hits).
    ix = PhysicalIndex(spark, d)
    assert ix.stats["n_docs"] == 10
    with pytest.raises(RuntimeError,
                       match="stale searcher.*finalize_index.*open_index"):
        ix.topk("alpha", k=50).collect()
    assert finalize_index(spark, d, "simple")["n_docs"] == 20
    assert len(PhysicalIndex(spark, d).topk("alpha", k=50).collect()) == 20


# The segment files' schemas, pinned: column names and Arrow types as
# build and merge have always written them, with no pandas metadata.
_I64S = "list<int64>"
_POSTINGS_FILE_SCHEMA = [
    ("gen", "int32"), ("term", "string"), ("df", "int64"), ("ttf", "int64"),
    ("gaps", "binary"), ("tfs", "binary"), ("norms", "binary"),
    ("block_first_ord", _I64S), ("block_gap_off", _I64S),
    ("block_tf_off", _I64S), ("block_max_tf", _I64S),
    ("block_min_norm", _I64S), ("poss", "binary"), ("pays", "binary"),
    ("block_pay_off", _I64S), ("block_max_pay", "list<double>"),
]
_DOCS_FILE_SCHEMA = [
    ("gen", "int32"), ("ord", "int64"), ("docid", "int64"), ("dl", "int64"),
    ("norm", "int32"),
]


def _type_name(t) -> str:
    """An Arrow type's name, ignoring the list item's field name (parquet
    reads it back as ``element``)."""
    import pyarrow as pa

    return f"list<{t.value_type}>" if pa.types.is_list(t) else str(t)


def _assert_declared_schemas(index_dir):
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from solr_spark.index.codec import DOCS_SCHEMA, POSTINGS_SCHEMA

    files = glob.glob(f"{index_dir}/seg/*/*/*.parquet")
    assert files
    for f in files:
        declared, pinned = (
            (POSTINGS_SCHEMA, _POSTINGS_FILE_SCHEMA)
            if f.endswith("postings.parquet") else (DOCS_SCHEMA, _DOCS_FILE_SCHEMA)
        )
        schema = pq.read_schema(f)
        assert schema == pa.schema([("gen", pa.int32())] + list(declared)), f
        assert [(x.name, _type_name(x.type)) for x in schema] == pinned, f
        assert schema.metadata is None, f


def test_segment_files_have_declared_schema(spark, docs, idx_dir,
                                            tmp_path_factory):
    """Every postings.parquet and docs.parquet that a build or a merge
    writes, with or without payloads, has exactly the declared schema."""
    _assert_declared_schemas(idx_dir)
    base = tmp_path_factory.mktemp("schema")
    kw = dict(analyzer="simple", id_col="doc_id", text_col="text",
              store_payloads=True)
    for g in range(2):
        build_segments(docs.where(F.col("doc_id") % 2 == g), str(base / "gens"),
                       2, generation=g, **kw)
    finalize_index(spark, str(base / "gens"), "simple")
    merge_index(spark, str(base / "gens"), str(base / "merged"))
    _assert_declared_schemas(base / "gens")
    _assert_declared_schemas(base / "merged")


def test_partition_without_tokens(spark, tmp_path_factory):
    """A partition whose docs are all stopwords, empty or null writes a
    typed, empty postings table: the index commits, answers every query
    kind, and merges, also when that partition is in a later generation
    over a first one with tokens everywhere."""
    from solr_spark.index.segments import partition_col
    from solr_spark.query.wand import open_index

    base = tmp_path_factory.mktemp("notokens")
    kw = dict(analyzer="text_en", id_col="doc_id", text_col="text")
    part = {r[0]: r[1] for r in spark.range(60).select(
        "id", partition_col("id", 2)).collect()}

    def texts(ids, empty_p0):
        return {i: ("the and of", "", None)[i % 3] if empty_p0 and part[i] == 0
                else f"alpha beta w{i}" if i % 2 == 0 else f"alpha w{i}"
                for i in ids}

    def build(index_dir, docs, gen):
        build_segments(spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"),
            index_dir, 2, generation=gen, **kw)
        finalize_index(spark, index_dir, "text_en")

    def check(index_dir, docs):
        ix = open_index(spark, index_dir)
        assert ix.stats["n_docs"] == len(docs)
        rows = ix.topk("alpha", k=100).collect()
        hits = {i for i, t in docs.items() if t and "alpha" in t}
        both = {i for i, t in docs.items() if t and "beta" in t}
        assert {r["docid"] for r in rows} == hits
        for got in (ix.search("+alpha +beta", k=100),
                    ix.phrase_topk("alpha beta", k=100)):
            assert {r["docid"] for r in got.collect()} == both
        assert ix.topk("the and of", k=10).collect() == []
        _assert_declared_schemas(index_dir)
        return rows

    for name, gens in (("one", [texts(range(30), True)]),
                       ("later", [texts(range(30), False),
                                  texts(range(30, 60), True)])):
        d, docs = str(base / name), {}
        for g, gen_docs in enumerate(gens):
            build(d, gen_docs, g)
            docs.update(gen_docs)
        rows = check(d, docs)
        merge_index(spark, d, f"{d}_merged")
        assert check(f"{d}_merged", docs) == rows
