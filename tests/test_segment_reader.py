"""The physical searcher's segment readers (query.wand ``SegmentReader``,
``TermFile``, ``_reader``) and its searcher cache (``open_index``).

A reader is opened once per segment path and file identity and kept in a
process-level LRU bounded in bytes; a path rewritten in place gets a new
reader. A postings read takes only the row groups whose term range could
hold a query term, so a multi-row-group postings file must answer every
query float.hex-identically to the one-row-group file it was rewritten from.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import OrderedDict

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from solr_spark.corpus import corpus_df
from solr_spark.index.docid import with_docid_long
from solr_spark.index.segments import (
    _seg_dir,
    build_index_dir,
    build_segments,
    finalize_index,
)
from solr_spark.query import wand
from solr_spark.query.wand import PhysicalIndex, SegmentReader, TermFile, open_index

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hex(rows) -> list[tuple[int, str]]:
    return [(int(r["docid"]), float(r["score"]).hex()) for r in rows]


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["docid", "text"]))


@pytest.fixture
def fresh_readers(monkeypatch):
    """An empty reader cache for the test, restored afterwards."""
    monkeypatch.setattr(wand, "_READERS", OrderedDict())
    monkeypatch.setattr(wand, "_reader_bytes", 0)


@pytest.fixture(scope="module")
def code_dirs(spark, tmp_path_factory):
    """The code corpus under text_en at 4 partitions, and a copy whose
    partition-0 postings.parquet is rewritten in row groups of 256 terms."""
    base = tmp_path_factory.mktemp("segreader")
    one = str(base / "one")
    code = with_docid_long(corpus_df(spark, 400, seed=42, n_partitions=4))
    build_index_dir(code, one, n_partitions=4, analyzer="text_en")
    multi = str(base / "multi")
    shutil.copytree(one, multi)
    path = f"{_seg_dir(multi, 0, 0)}/postings.parquet"
    tbl = pq.read_table(path)
    pq.write_table(tbl, path, row_group_size=256)
    assert pq.read_metadata(path).num_row_groups >= 4
    return one, multi


MULTI_CALLS = (
    [(f"topk {q!r}", lambda ix, q=q: ix.topk(q, k=10))
     for q in ["def return self", "gabawo pamako", "sofibaga zoja taso", "import"]]
    + [(f"search {q!r}", lambda ix, q=q: ix.search(q, k=10))
       for q in ["+gabawo -zoja (pamako taso)^2", "def -zoja import"]]
    + [(f"phrase {q!r} slop={s}", lambda ix, q=q, s=s: ix.phrase_topk(q, k=10, slop=s))
       for q in ["import gabawo pamako", "gabawo pamako"] for s in (0, 2)]
)


def test_row_groups_answer_as_one_row_group(spark, code_dirs, monkeypatch):
    """Every query kind over the multi-row-group copy equals the
    one-row-group index, float.hex, on both executors."""
    one, multi = (PhysicalIndex(spark, d) for d in code_dirs)
    for name, call in MULTI_CALLS:
        want = _hex(call(one).collect())
        assert want, name
        assert _hex(call(multi).collect()) == want, name
        with monkeypatch.context() as m:
            m.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", -1)
            assert _hex(call(multi).collect()) == want, name


def test_only_bracketing_row_groups_are_read(spark, code_dirs, monkeypatch):
    """A spy on read_row_groups: a query reads, from the multi-row-group
    segment, only the groups whose [min, max] brackets a query term; a
    term outside every group's range opens no group at all."""
    seg = _seg_dir(code_dirs[1], 0, 0)
    path = f"{seg}/postings.parquet"
    footer = pq.read_metadata(path)
    ranges = [
        (footer.row_group(i).column(0).statistics.min,
         footer.row_group(i).column(0).statistics.max)
        for i in range(footer.num_row_groups)
    ]
    seen: list[tuple[str, list[int]]] = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *args, **kwargs):
        seen.append((self._path, list(row_groups)))
        return real(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    real_init = pq.ParquetFile.__init__

    def init(self, source, *args, **kwargs):
        self._path = source
        real_init(self, source, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "__init__", init)

    ix = PhysicalIndex(spark, code_dirs[1])
    for terms in (["def"], ["gabawo", "pamako"], ["return", "self", "zoja"]):
        seen.clear()
        assert ix.topk(terms, k=10).collect()
        got = [g for p, g in seen if p == path]
        want = [i for i, (lo, hi) in enumerate(ranges)
                if any(lo <= t <= hi for t in terms)]
        assert want and len(want) < len(ranges), terms
        assert got == [want], terms

    reader = wand._reader(SegmentReader, seg)
    seen.clear()
    below, above = "", ranges[-1][1] + "z"
    for t in (below, above):
        assert reader.postings.read(["term"], [t], []) is None
        assert reader.rows(["term"], [t], []) == []
    assert seen == []

    # A prefix reads the groups its run of terms could meet, and its rows
    # equal a filter of the whole file.
    full = pq.read_table(path, columns=["term"])["term"].to_pylist()
    for pref in ("de", "re", "s"):
        rows = reader.rows(["term"], [], [pref])
        assert [r["term"] for r in rows] == [t for t in full if t.startswith(pref)]


def test_stale_reader_never_served(spark, tmp_path, fresh_readers):
    """An index queried, deleted and rebuilt with other docs at the same
    path answers, once reopened, exactly as a fresh process does."""
    idx = str(tmp_path / "idx")
    kw = dict(n_partitions=2, analyzer="simple", text_col="text")
    first = [(i, f"alpha beta gamma doc{i} " + "delta " * (i % 3)) for i in range(40)]
    build_index_dir(_docs(spark, first), idx, **kw)
    assert open_index(spark, idx).topk("alpha delta", k=10).collect()
    assert open_index(spark, idx).phrase_topk("alpha beta", k=10).collect()

    shutil.rmtree(idx)
    second = [(1000 + i, f"beta alpha delta alpha doc{i} " + "gamma " * (i % 4))
              for i in range(40)]
    build_index_dir(_docs(spark, second), idx, **kw)
    ix = open_index(spark, idx)
    got = {"topk": _hex(ix.topk("alpha delta", k=10).collect()),
           "phrase": _hex(ix.phrase_topk("alpha delta", k=10).collect())}

    # A fresh process, with no cached reader: the driver executor's result
    # as its Arrow table, no Spark session.
    script = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from solr_spark.query.wand import PhysicalIndex

class Local:
    def createDataFrame(self, table):
        return table

ix = PhysicalIndex(Local(), {idx!r})
hexed = lambda t: [[r["docid"], float(r["score"]).hex()] for r in t.to_pylist()]
print(json.dumps({{"topk": hexed(ix.topk("alpha delta", k=10)),
                  "phrase": hexed(ix.phrase_topk("alpha delta", k=10))}}))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, check=True).stdout
    fresh = {k: [tuple(r) for r in v] for k, v in json.loads(out).items()}
    assert got == fresh
    assert {d for d, _ in got["topk"]} <= {d for d, _ in second}


def test_reopen_reuses_unchanged_segment_readers(spark, tmp_path, fresh_readers,
                                                 monkeypatch):
    """A searcher reopened after a commit opens readers only for the
    segments the commit added; the others are the same reader objects."""
    idx = str(tmp_path / "idx")
    kw = dict(n_partitions=2, analyzer="simple", text_col="text")
    build_index_dir(_docs(spark, [(i, f"alpha doc{i}") for i in range(20)]), idx, **kw)
    before = open_index(spark, idx)
    assert len(before.topk("alpha", k=5).collect()) == 5
    gen0 = {p: wand._reader(SegmentReader, _seg_dir(idx, p, 0)) for p in (0, 1)}

    opened = []
    real = SegmentReader.__init__

    def counted(self, seg_dir):
        opened.append(seg_dir)
        real(self, seg_dir)

    monkeypatch.setattr(SegmentReader, "__init__", counted)
    build_segments(_docs(spark, [(100 + i, f"alpha new{i}") for i in range(20)]),
                   idx, generation=1, **kw)
    finalize_index(spark, idx)
    after = open_index(spark, idx)
    assert after is not before
    assert len(after.topk("alpha", k=50).collect()) == 40
    assert sorted(opened) == sorted(_seg_dir(idx, p, 1) for p in (0, 1))
    for p in (0, 1):
        assert wand._reader(SegmentReader, _seg_dir(idx, p, 0)) is gen0[p]


def test_reader_cache_evicts_least_recently_used(spark, code_dirs, fresh_readers,
                                                 monkeypatch):
    """Opening readers past READER_CACHE_BYTES evicts the least recently
    used; opening them neither sets the Arrow pool size nor builds a pandas
    frame."""
    one = code_dirs[0]
    segs = [_seg_dir(one, p, 0) for p in range(3)]
    sizes = [SegmentReader(s).nbytes for s in segs]
    monkeypatch.setattr(wand, "READER_CACHE_BYTES", sizes[0] + sizes[1] + sizes[2] - 1)
    frames = []
    real = pd.DataFrame.__init__

    def counted(self, *args, **kwargs):
        frames.append(1)
        real(self, *args, **kwargs)

    monkeypatch.setattr(pd.DataFrame, "__init__", counted)
    before = pa.cpu_count()
    pa.set_cpu_count(3)
    try:
        a = wand._reader(SegmentReader, segs[0])
        wand._reader(SegmentReader, segs[1])
        assert wand._reader(SegmentReader, segs[0]) is a  # now most recent
        wand._reader(SegmentReader, segs[2])
        assert list(wand._READERS) == [segs[0], segs[2]]
        assert wand._reader_bytes == sizes[0] + sizes[2]
        t = wand._reader(TermFile, f"{one}/term_stats.parquet/0.parquet")
        assert t.read(["term", "df"], ["def"], []).num_rows == 1
        assert wand._reader_bytes == sum(r.nbytes for _, r in wand._READERS.values())
        assert pa.cpu_count() == 3 and frames == []
    finally:
        pa.set_cpu_count(before)


def test_searcher_cache_is_bounded(spark, code_dirs, tmp_path):
    """open_index keeps at most SEARCHER_CACHE_MAX searchers: opening more
    index dirs than that drops the oldest one's searcher."""
    dirs = []
    for i in range(wand.SEARCHER_CACHE_MAX + 2):
        d = str(tmp_path / f"idx{i}")
        shutil.copytree(code_dirs[0], d)
        dirs.append(d)
    first = open_index(spark, dirs[0])
    assert open_index(spark, dirs[0]) is first
    for d in dirs[1:]:
        open_index(spark, d)
    app = spark.sparkContext.applicationId
    assert len(wand._SEARCHERS) == wand.SEARCHER_CACHE_MAX
    assert (app, dirs[0]) not in wand._SEARCHERS
    assert (app, dirs[-1]) in wand._SEARCHERS
    assert open_index(spark, dirs[0]) is not first


def test_reader_cache_under_threads(code_dirs, fresh_readers, monkeypatch):
    """Threads (more than cores) opening and reusing readers past the byte
    bound keep the cache's byte count equal to its readers' bytes."""
    import threading

    segs = [_seg_dir(code_dirs[0], p, 0) for p in range(4)]
    monkeypatch.setattr(wand, "READER_CACHE_BYTES",
                        2 * max(SegmentReader(s).nbytes for s in segs))
    errors = []

    def work(i):
        try:
            for j in range(40):
                seg = segs[(i * 7 + j) % len(segs)]
                assert wand._reader(SegmentReader, seg).docids.size
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert wand._reader_bytes == sum(r.nbytes for _, r in wand._READERS.values())
    assert wand._reader_bytes <= wand.READER_CACHE_BYTES
    assert 0 < len(wand._READERS) < len(segs)
