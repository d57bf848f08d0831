"""The segment build's two executors (index.segments ``build_segments``).

A build of at most DRIVER_BUILD_MAX_PARTITIONS partitions whose input
holds at most DRIVER_BUILD_MAX_DOCS rows and DRIVER_BUILD_MAX_BYTES of text
runs ``_build_one`` in a driver loop after a bounded-collect job; every
other build is the Spark ``groupBy(p).applyInArrow`` stage. Both run the
same per-partition function, so the files they write must be
byte-identical: for every analyzer, a partition with no tokens, and 1, 4
and 32 partitions.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from solr_spark.index import segments
from solr_spark.index.segments import (
    build_segments,
    finalize_index,
    partition_col,
)
from solr_spark.streaming.topics import incremental_index_sink

SF_DOCS = f"{SF_DIR}/documents.parquet"


@pytest.fixture(scope="module")
def sf_rows(spark):
    return [(int(r.doc_id), r.text) for r in
            spark.read.parquet(SF_DOCS).select("doc_id", "text").collect()]


def _corpus(spark, rows, analyzer, n_partitions):
    """The sf0.001 docs as (docid, content); payload text for
    ``delimited_payload``. With more than one partition, partition 0's docs
    hold no token: empty, null, or (text_en) stopwords only."""
    if analyzer == "delimited_payload":
        rows = [(i, " ".join(f"{w}|{(i + j) % 7 / 2.0}"
                             for j, w in enumerate(t.split()[:40])))
                for i, t in rows]
    df = spark.createDataFrame(rows, "docid long, content string")
    if n_partitions > 1:
        stop = "the and of" if analyzer == "text_en" else ""
        empty = F.element_at(F.array(F.lit(None), F.lit(""), F.lit(stop)),
                             (F.col("docid") % 3 + 1).cast("int"))
        df = df.withColumn("content", F.when(
            partition_col("docid", n_partitions) == 0, empty
        ).otherwise(F.col("content")))
    return df


def _files(index_dir):
    """{relative path: bytes} of every segment and term-stats parquet file
    and of corpus_stats.json; and {segment: manifest} without its
    ``wall_s`` and ``committed_at``."""
    files = {
        os.path.relpath(f, index_dir): open(f, "rb").read()
        for f in glob.glob(f"{index_dir}/seg/*/*/*.parquet")
        + glob.glob(f"{index_dir}/term_stats.parquet/*.parquet")
        + [f"{index_dir}/corpus_stats.json"]
    }
    manifests = {}
    for f in glob.glob(f"{index_dir}/seg/*/*/manifest.json"):
        with open(f) as fh:
            m = json.load(fh)
        manifests[os.path.relpath(f, index_dir)] = {
            k: v for k, v in m.items() if k not in ("wall_s", "committed_at")}
    return files, manifests


def _manifest_frame(m):
    return m.drop(columns="wall_s").sort_values("p").reset_index(drop=True)


@pytest.mark.parametrize("analyzer,n_partitions", [
    ("simple", 1), ("simple", 4), ("simple", 32),
    ("text_en", 4), ("delimited_payload", 4),
])
def test_driver_and_spark_builds_byte_identical(
        spark, sf_rows, count_jobs, monkeypatch, tmp_path, analyzer,
        n_partitions):
    corpus = _corpus(spark, sf_rows, analyzer, n_partitions)
    out = {}
    for executor in ("driver", "spark"):
        d = str(tmp_path / executor)
        with monkeypatch.context() as m:
            if executor == "spark":
                m.setattr(segments, "DRIVER_BUILD_MAX_PARTITIONS", -1)
            manifests, jobs = count_jobs(lambda d=d: build_segments(
                corpus, d, n_partitions, analyzer, generation=0))
        finalize_index(spark, d, analyzer)
        out[executor] = (_manifest_frame(manifests), _files(d), len(jobs))
    (dm, dfiles, d_jobs), (sm, sfiles, s_jobs) = out["driver"], out["spark"]
    assert d_jobs == 1 < s_jobs
    assert dm.equals(sm) and int(dm["n_docs"].sum()) == len(sf_rows)
    assert len(dm) == n_partitions
    if n_partitions > 1:
        assert dm.loc[0, "n_terms"] == 0
    assert dfiles[1] == sfiles[1]
    assert dfiles[0].keys() == sfiles[0].keys()
    for name, data in dfiles[0].items():
        assert data == sfiles[0][name], name


@pytest.mark.parametrize("executor", ["driver", "spark"])
def test_resume_and_lineage_on_both_executors(spark, sf_rows, monkeypatch,
                                              tmp_path, executor):
    """Re-running a committed generation skips every partition and rewrites
    no file; resuming it over changed input raises the lineage error."""
    if executor == "spark":
        monkeypatch.setattr(segments, "DRIVER_BUILD_MAX_PARTITIONS", -1)
    d = str(tmp_path / "idx")
    corpus = spark.createDataFrame(sf_rows[:100], "docid long, content string")
    first = build_segments(corpus, d, 4)
    assert not first["skipped"].any()
    finalize_index(spark, d)
    stamps = {f: os.stat(f).st_mtime_ns for f in glob.glob(f"{d}/seg/*/*/*")}
    again = build_segments(corpus, d, 4)
    assert again["skipped"].all()
    assert _manifest_frame(again).drop(columns="skipped").equals(
        _manifest_frame(first).drop(columns="skipped"))
    assert {f: os.stat(f).st_mtime_ns for f in stamps} == stamps
    changed = spark.createDataFrame(sf_rows[:101], "docid long, content string")
    with pytest.raises(Exception, match="input changed since the checkpoint"):
        build_segments(changed, d, 4)


@pytest.mark.parametrize("case", ["docs_over", "bytes_over", "long_docs"])
def test_sink_commit_job_counts(spark, sf_rows, count_jobs, monkeypatch,
                                tmp_path, case):
    """A 10-doc micro-batch under the caps is one job (its bounded collect).
    Over either cap, the probe job is followed by the Spark build's jobs.
    Within the caps but with a doc longer than DRIVER_BUILD_PROBE_DOC_BYTES,
    the driver build reads its input twice. The probe never brings back a
    text longer than that, and every build writes the same files."""
    batch = spark.createDataFrame(sf_rows[:10], "docid long, content string")
    sink = incremental_index_sink(str(tmp_path / "small"), n_partitions=4)
    _, jobs = count_jobs(lambda: sink(batch, 1))
    assert len(jobs) == 1
    stats, jobs = count_jobs(lambda: finalize_index(spark, str(tmp_path / "small")))
    assert jobs == [] and stats["n_docs"] == 10
    with monkeypatch.context() as m:
        m.setattr(segments, "DRIVER_BUILD_MAX_PARTITIONS", -1)
        _, spark_jobs = count_jobs(lambda: incremental_index_sink(
            str(tmp_path / "spark"), n_partitions=4)(batch, 1))
    lengths = sorted(len(t.encode()) for _, t in sf_rows[:10])
    cap, value, want = {
        "docs_over": ("DRIVER_BUILD_MAX_DOCS", 9, 1 + len(spark_jobs)),
        "bytes_over": ("DRIVER_BUILD_MAX_BYTES", sum(lengths) - 1,
                       1 + len(spark_jobs)),
        "long_docs": ("DRIVER_BUILD_PROBE_DOC_BYTES", lengths[5], 2),
    }[case]
    monkeypatch.setattr(segments, cap, value)
    probed = []
    to_arrow = type(batch).toArrow
    monkeypatch.setattr(type(batch), "toArrow",
                        lambda self: probed.append(to_arrow(self)) or probed[-1])
    _, jobs = count_jobs(lambda: incremental_index_sink(
        str(tmp_path / case), n_partitions=4)(batch, 1))
    assert len(jobs) == want
    texts = probed[0]["text"].to_pylist()
    assert max(len(t.encode()) for t in texts if t) \
        <= segments.DRIVER_BUILD_PROBE_DOC_BYTES
    assert (None in texts) == (case == "long_docs")
    for d in (case, "spark"):
        finalize_index(spark, str(tmp_path / d))
    assert _files(str(tmp_path / case)) == _files(str(tmp_path / "spark"))


def test_many_partitions_launch_no_probe(spark, sf_rows, count_jobs,
                                         monkeypatch, tmp_path):
    """Above DRIVER_BUILD_MAX_PARTITIONS the build is the Spark stage alone:
    the same jobs as a forced Spark build, no bounded-collect probe."""
    corpus = spark.createDataFrame(sf_rows[:10], "docid long, content string")
    n = segments.DRIVER_BUILD_MAX_PARTITIONS + 1
    _, jobs = count_jobs(lambda: build_segments(corpus, str(tmp_path / "a"), n))
    monkeypatch.setattr(segments, "DRIVER_BUILD_MAX_PARTITIONS", -1)
    _, forced = count_jobs(lambda: build_segments(corpus, str(tmp_path / "b"), n))
    assert len(jobs) == len(forced) >= 1
