"""The two workloads: ``search`` and ``update``.

Each takes a ``Ctx`` and fills ``ctx.lat`` (op kind -> latencies in
seconds, timed ops only), ``ctx.facts`` (figures measured outside the timed
region) and ``ctx.checks``. Every engine call goes through
``ctx.rec.call`` under the name of the public function it calls.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.trace import Recorder, trivial_job_ms

K = 10
ANALYZER = "text_en"


@dataclass
class Checks:
    attempted: int = 0
    failed: int = 0
    known_defects: dict[str, int] = field(default_factory=dict)
    unexpected: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "", known: str = "") -> None:
        """One checked op. ``known`` names the documented defect a mismatch
        was shown to be (it still counts as a failed op)."""
        self.attempted += 1
        if ok:
            return
        self.failed += 1
        if known:
            self.known_defects[known] = self.known_defects.get(known, 0) + 1
        elif len(self.unexpected) < 20:
            self.unexpected.append(what)

    @property
    def correct(self) -> bool:
        return self.failed == sum(self.known_defects.values())


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    seed: int
    seconds: float
    work: str
    partitions: int
    process_age: object  # () -> seconds since the process started
    lat: dict[str, list[float]] = field(default_factory=dict)
    facts: dict[str, object] = field(default_factory=dict)
    checks: Checks = field(default_factory=Checks)
    setup_s: float = 0.0
    span_docs: dict[str | None, int] = field(default_factory=dict)
    # (kind, traced?) -> latencies, for the traced pass's overhead figure
    lat_by_trace: dict[tuple[str, bool], list[float]] = field(default_factory=dict)

    # trivial-job cost measured between timed ops: the host's fixed cost per
    # Spark job while the window ran
    trivial_jobs_ms: list[float] = field(default_factory=list)

    def probe_host(self) -> None:
        """Two trivial Spark jobs between timed ops (not timed as ops)."""
        was, self.rec.tracing = self.rec.tracing, False
        for _ in range(2):
            self.trivial_jobs_ms.append(trivial_job_ms(self.spark))
        self.rec.tracing = was

    def timed(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)
        self.lat_by_trace.setdefault((kind, self.rec.tracing), []).append(seconds)


# --------------------------------------------------------------------------
# Shared helpers (pure reads of what the engine wrote; no engine code)
# --------------------------------------------------------------------------


def rows_df(spark, rows):
    return spark.createDataFrame(rows, inputs.CORPUS_SCHEMA)


def result_rows(collected) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"])) for r in collected]


def same_topk(a, b) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and abs(x[1] - y[1]) <= 1e-9 for x, y in zip(a, b)
    )


def seg_bytes(index_dir: str) -> int:
    files = glob.glob(f"{index_dir}/seg/*/*/postings.parquet") + glob.glob(
        f"{index_dir}/seg/*/*/docs.parquet"
    )
    return sum(os.path.getsize(f) for f in files)


def manifests(index_dir: str, gen: int) -> list[dict]:
    out = []
    for mp in sorted(glob.glob(f"{index_dir}/seg/*/gen={gen}/manifest.json")):
        with open(mp) as f:
            out.append(json.load(f))
    return out


def content_bytes(rows) -> int:
    return sum(len(r[5].encode()) for r in rows)


def docid_xor(rows) -> int:
    x = 0
    for r in rows:
        x ^= r[0]
    return x


def check_manifests(ctx: Ctx, index_dir: str, gen: int, rows, what: str) -> dict:
    """Manifest n_docs and docid checksum of one generation against the
    rows that went in; returns the manifest totals and partition skew."""
    ms = manifests(index_dir, gen)
    x = 0
    for m in ms:
        x ^= m["docid_checksum"]
    ok = sum(m["n_docs"] for m in ms) == len(rows) and x == docid_xor(rows)
    ctx.checks.op(ok, f"{what}: manifest n_docs/checksum mismatch")
    walls = sorted(m["wall_s"] for m in ms)
    mid = walls[len(walls) // 2] if walls else 0.0
    return {
        "n_docs": sum(m["n_docs"] for m in ms),
        "n_terms": sum(m["n_terms"] for m in ms),
        "n_postings": sum(m["n_postings"] for m in ms),
        "partitions": len(ms),
        "skew": (walls[-1] / mid) if mid > 0 else 1.0,
    }


def materialize(idx) -> int:
    """Materialize a logical index the way the engine's bench does; returns
    the postings count (= the sum of every term's df)."""
    idx.postings = idx.postings.persist()
    idx.doclens = idx.doclens.persist()
    n_postings = idx.postings.count()
    idx.doclens.count()
    idx.corpus_stats()
    idx.term_stats().count()
    return n_postings


def logical_build(ctx: Ctx, rows) -> object:
    from solr_spark.index.build import build_index

    df = rows_df(ctx.spark, rows)
    idx, t_b, sid_b = ctx.rec.call(
        "index.build.build_index", lambda: build_index(df, analyzer=ANALYZER)
    )
    n_postings, t_m, sid_m = ctx.rec.call(
        "index.build.materialize", lambda: materialize(idx))
    ctx.facts["logical_df_sum"] = n_postings
    ctx.span_docs[sid_b] = ctx.span_docs[sid_m] = len(rows)
    ctx.facts.setdefault("logical_build_s", []).append(t_b + t_m)
    ctx.facts.setdefault("logical_build_docs", []).append(len(rows))
    return idx


def wand_vs_bm25(ctx: Ctx, q: str, got, want, idx, what: str) -> None:
    """Check a physical top-k against the logical BM25 top-k of the same
    query. A mismatch counts as failed; it is marked as the known defect
    only if the query repeats a term AND the physical result equals BM25
    over the de-duplicated terms (physical topk drops repeated clauses)."""
    from solr_spark.analysis.chain import analyze
    from solr_spark.query.bm25 import bm25_topk

    if same_topk(got, want):
        ctx.checks.op(True)
        return
    terms = analyze(q, ANALYZER)
    known = len(set(terms)) < len(terms) and same_topk(
        got, result_rows(bm25_topk(idx, sorted(set(terms)), k=K).collect()))
    ctx.checks.op(False, f"{what}: wand != bm25 for {q!r}",
                  known="duplicate_query_term" if known else "")


def untraced(ctx: Ctx, fn):
    """Run a check-only engine call with tracing off."""
    was, ctx.rec.tracing = ctx.rec.tracing, False
    try:
        return fn()
    finally:
        ctx.rec.tracing = was


# --------------------------------------------------------------------------
# search
# --------------------------------------------------------------------------


def search(ctx: Ctx) -> None:
    from solr_spark.analysis.chain import analyze
    from solr_spark.index.segments import build_index_dir
    from solr_spark.query.bm25 import bm25_topk
    from solr_spark.query.parser import search as logical_search
    from solr_spark.query.phrase import phrase_topk as logical_phrase_topk
    from solr_spark.query.wand import open_index

    spark, rec, P = ctx.spark, ctx.rec, ctx.partitions
    rows = inputs.corpus_rows(ctx.seed, 0, inputs.SEARCH_DOCS)
    ops = inputs.search_ops(ctx.seed)
    phys = f"{ctx.work}/search_index"

    # Set-up: one single-generation physical index (the state merge_index
    # leaves) and the logical index of the same corpus.
    corpus = rows_df(spark, rows)
    _, t, sid = rec.call(
        "index.segments.build_index_dir",
        lambda: build_index_dir(corpus, phys, n_partitions=P, analyzer=ANALYZER),
    )
    ctx.span_docs[sid] = len(rows)
    ctx.facts["segments_build_s"] = [t]
    ctx.facts["segments_build_docs"] = [len(rows)]
    ctx.facts["manifest"] = [check_manifests(ctx, phys, 0, rows, "build_index_dir")]
    ix, _, _ = rec.call("query.wand.open_index", lambda: open_index(spark, phys))
    idx = logical_build(ctx, rows)
    rec.settle()
    ctx.facts["index_bytes_per_input_byte"] = [seg_bytes(phys) / content_bytes(rows)]

    # The physical and logical builds must agree on every term's df.
    import pyarrow.parquet as pq

    phys_df = sum(pq.read_table(f"{phys}/term_stats.parquet").column("df").to_pylist())
    log_df = ctx.facts["logical_df_sum"]
    ctx.checks.op(phys_df == log_df, f"df sums differ: physical {phys_df} vs logical {log_df}")

    calls = {
        "wand": ("query.wand.topk", lambda op: ix.topk(op[1], k=K)),
        "bm25": ("query.bm25.bm25_topk", lambda op: bm25_topk(idx, op[1], k=K)),
        "bool": ("query.wand.search", lambda op: ix.search(op[1], k=K)),
        "phrase": ("query.wand.phrase_topk",
                   lambda op: ix.phrase_topk(op[1], k=K, slop=op[2])),
    }

    def run_op(i: int, op: tuple) -> None:
        name, compile_ = calls[op[0]]
        span = rec.open_op(op[0], i)
        df, t_c, _ = rec.call(name, lambda: compile_(op), op=i, parent=span)
        got, t_e, _ = rec.call(name + ".collect", df.collect, op=i, parent=span)
        rec.close_op(span)
        ctx.timed(op[0], t_c + t_e)
        results[i] = result_rows(got)

    # Logical oracles of the bool / phrase pools, computed before the timed
    # window (they are fixed per seed; they also warm the logical path).
    oracle: dict[tuple, list] = {}

    def logical(op):
        if op not in oracle:
            if op[0] == "bool":
                df = logical_search(idx, op[1], k=K, quantize_norms=True)
            else:
                # Slop means nothing for a phrase that analyzes to one term
                # (Lucene runs it as a term query); the logical path raises
                # on slop > 0 there, so its slop-0 form is the oracle.
                slop = op[2] if len(analyze(op[1], ANALYZER)) > 1 else 0
                df = logical_phrase_topk(idx, op[1], k=K, slop=slop,
                                         quantize_norms=True)
            oracle[op] = result_rows(untraced(ctx, df.collect))
        return oracle[op]

    for op in ops[:4 * inputs.POOL]:
        if op[0] in ("bool", "phrase"):
            logical(op)

    # Warm-up: untimed blocks the timed window never reaches (Python
    # workers, codegen, JIT).
    results: dict[int, list] = {}
    warm = ops[-4 * inputs.WARM_BLOCKS:]
    for i, op in enumerate(warm):
        untraced(ctx, lambda: run_op(-1 - i, op))
    ctx.lat.clear()
    ctx.lat_by_trace.clear()
    trivial_job_ms(spark)  # the first one compiles its plan

    # Timed window: whole blocks, at least MIN_BLOCKS, until --seconds pass;
    # the host is probed after each block.
    ctx.setup_s = ctx.process_age()
    t0 = time.perf_counter()
    n = 0
    while n % 4 or n < 4 * inputs.MIN_BLOCKS or time.perf_counter() - t0 < ctx.seconds:
        if rec.trace:
            rec.tracing = (n // 4) % 2 == 0  # alternate blocks: overhead figure
        run_op(n, ops[n])
        rec.settle()
        n += 1
        if n % 4 == 0:
            ctx.probe_host()
    ctx.facts["timed_s"] = time.perf_counter() - t0
    rec.tracing = rec.trace
    # One long-lived searcher serves every wand / bool / phrase query.
    ctx.facts["term_repeat_share"] = inputs.repeat_share(
        [op[1] for op in warm + ops[:n] if op[0] != "bm25"])

    # Output checks.
    empties = set(inputs.STOPWORD_QUERIES + inputs.ABSENT_QUERIES)
    for i in range(n):
        op, got = ops[i], results[i]
        if op[0] in ("wand", "bm25") and op[1] in empties:
            ctx.checks.op(got == [], f"{op[0]} {op[1]!r}: expected no rows")
        elif op[0] == "wand":
            wand_vs_bm25(ctx, op[1], got, results[i + 1], idx, f"op {i}")
        elif op[0] == "bm25":
            ctx.checks.op(True)  # checked as the oracle of the wand op before it
        elif op[0] == "bool":
            ctx.checks.op(same_topk(got, logical(op)), f"op {i}: {op} != logical")
        elif same_topk(got, logical(op)):
            ctx.checks.op(True)
        else:
            # Known defect: a phrase that analyzes to one term scores lower
            # at slop > 0 than at slop 0 on the physical path.
            known = len(analyze(op[1], ANALYZER)) == 1 and same_topk(
                result_rows(untraced(ctx, ix.phrase_topk(op[1], k=K).collect)),
                logical(op))
            ctx.checks.op(False, f"op {i}: {op} != logical",
                          known="single_term_sloppy_phrase" if known else "")


# --------------------------------------------------------------------------
# update
# --------------------------------------------------------------------------


def update(ctx: Ctx) -> None:
    from solr_spark.index.segments import build_index_dir, finalize_index, merge_index
    from solr_spark.query.wand import open_index
    from solr_spark.streaming.topics import incremental_index_sink

    spark, rec, P = ctx.spark, ctx.rec, ctx.partitions
    plan = inputs.update_plan(ctx.seed)
    n_all = plan["base"][1] + sum(n for _, n in plan["batches"])
    rows = inputs.corpus_rows(ctx.seed, 0, n_all)
    base_rows = rows[: plan["base"][1]]
    batches = [rows[s:s + n] for s, n in plan["batches"]]
    batch_dfs = [rows_df(spark, b) for b in batches]
    base = f"{ctx.work}/update_base"
    fixed_q = plan["fixed_query"]

    # Set-up: the base index every cycle starts from.
    base_df = rows_df(spark, base_rows)
    _, t, sid = rec.call(
        "index.segments.build_index_dir",
        lambda: build_index_dir(base_df, base, n_partitions=P, analyzer=ANALYZER),
    )
    ctx.span_docs[sid] = len(base_rows)
    ctx.facts["segments_build_s"] = [t]
    ctx.facts["segments_build_docs"] = [len(base_rows)]
    ctx.facts["manifest"] = [check_manifests(ctx, base, 0, base_rows, "base build")]
    rec.settle()

    # Warm-up: one untimed step on a throwaway copy (Python workers, codegen).
    def warm_up():
        warm = f"{ctx.work}/update_warm"
        shutil.copytree(base, warm)
        incremental_index_sink(warm, n_partitions=P, analyzer=ANALYZER)(batch_dfs[0], 1)
        finalize_index(spark, warm, analyzer=ANALYZER)
        open_index(spark, warm).topk(fixed_q, k=K).collect()
        shutil.rmtree(warm)

    untraced(ctx, warm_up)
    trivial_job_ms(spark)  # the first one compiles its plan

    ctx.setup_s = ctx.process_age()
    t0 = time.perf_counter()
    cycle = 0
    op = 0
    searcher_queries: list[list[str]] = []  # each fresh searcher's queries
    # Whole cycles only; another starts while one more fits in the window.
    while cycle == 0 or (time.perf_counter() - t0) * (cycle + 1) / cycle <= ctx.seconds:
        live = f"{ctx.work}/update_{cycle}"
        merged = f"{live}_merged"
        shutil.copytree(base, live)
        sink = incremental_index_sink(live, n_partitions=P, analyzer=ANALYZER)
        n_docs = len(base_rows)
        for c, bdf in enumerate(batch_dfs):
            if rec.trace:
                rec.tracing = c % 2 == 0  # alternate commits: overhead figure
            gen = c + 1
            n_docs += len(batches[c])
            span = rec.open_op("commit", op)
            _, t_s, sid = rec.call("streaming.topics.sink",
                                   lambda: sink(bdf, gen), op=op, parent=span)
            ctx.span_docs[sid] = len(batches[c])
            stats, t_f, _ = rec.call(
                "index.segments.finalize_index",
                lambda: finalize_index(spark, live, analyzer=ANALYZER),
                op=op, parent=span)
            rec.close_op(span)
            ctx.timed("commit", t_s + t_f)
            ctx.facts.setdefault("manifest", []).append(
                check_manifests(ctx, live, gen, batches[c], f"commit {op}"))
            ctx.checks.op(stats["n_docs"] == n_docs,
                          f"commit {op}: n_docs {stats['n_docs']} != {n_docs}")
            rec.settle()
            op += 1

            q = plan["fresh_queries"][c]
            span = rec.open_op("fresh", op)
            ix, t_o, _ = rec.call("query.wand.open_index",
                                  lambda: open_index(spark, live), op=op, parent=span)
            df, t_c, _ = rec.call("query.wand.topk", lambda: ix.topk(q, k=K),
                                  op=op, parent=span)
            _, t_e, _ = rec.call("query.wand.topk.collect", df.collect,
                                 op=op, parent=span)
            rec.close_op(span)
            ctx.timed("fresh", t_o + t_c + t_e)
            ctx.timed("step", t_s + t_f + t_o + t_c + t_e)
            ctx.timed("wand", t_c + t_e)
            searcher_queries.append([q])
            ctx.checks.op(ix.stats["n_docs"] == n_docs,
                          f"fresh {op}: searcher sees {ix.stats['n_docs']} docs")
            rec.settle()
            ctx.probe_host()
            op += 1

        before = result_rows(untraced(ctx, lambda: ix.topk(fixed_q, k=K).collect()))
        if rec.trace:
            rec.tracing = cycle % 2 == 0
        span = rec.open_op("merge", op)
        stats, t_m, _ = rec.call("index.segments.merge_index",
                                 lambda: merge_index(spark, live, merged),
                                 op=op, parent=span)
        rec.close_op(span)
        ctx.timed("merge", t_m)
        rec.settle()
        op += 1
        rec.tracing = rec.trace
        ctx.facts.setdefault("merge_bytes", []).append(seg_bytes(merged))
        ctx.facts.setdefault("index_bytes_per_input_byte", []).append(
            seg_bytes(merged) / content_bytes(rows))
        after = result_rows(untraced(
            ctx, lambda: open_index(spark, merged).topk(fixed_q, k=K).collect()))
        ctx.checks.op(stats["n_docs"] == n_docs and same_topk(before, after),
                      f"merge {cycle}: n_docs or fixed-query top-{K} changed")
        shutil.rmtree(live)
        shutil.rmtree(merged)
        cycle += 1
    ctx.facts["timed_s"] = time.perf_counter() - t0
    ctx.facts["term_repeat_share"] = inputs.repeat_share(*searcher_queries)


WORKLOADS = {"search": search, "update": update}
