"""Metric names, units and how each is computed from one run.

``END_TO_END`` and ``PER_LAYER`` must list exactly the metrics of
``BENCHMARK.json`` (checked by ``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import statistics

from perfbench.trace import median, tail

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("op_p50_jobs", "jobs", "lower"),
    ("index_bytes_per_input_byte", "ratio", "lower"),
]

# Per-layer metrics every workload exercises. The module figures that only
# one workload exercises are in LAYER_DETAIL and printed by the traced run
# on the detail line, for the workloads they apply to.
PER_LAYER = [
    ("session.trivial_job_ms", "ms", "lower"),
    ("session.py4j_rtt_us", "us", "lower"),
    ("session.pandas_stage_ms", "ms", "lower"),
    ("query.wand.compile_ms", "ms", "lower"),
    ("query.wand.execute_ms", "ms", "lower"),
    ("query.wand.jobs_per_query", "count", "lower"),
    ("query.wand.stages_per_query", "count", "lower"),
    ("query.wand.tasks_per_query", "count", "lower"),
    ("query.wand.executor_run_ms_per_query", "ms", "lower"),
    ("query.wand.input_bytes_per_query", "bytes", "lower"),
    ("query.wand.open_ms", "ms", "lower"),
    ("query.wand.term_repeat_share", "ratio", "higher"),
    ("index.segments.build_segments_ms", "ms", "lower"),
    ("index.segments.executor_cpu_ms_per_doc", "ms/doc", "lower"),
    ("index.segments.shuffle_write_bytes_per_doc", "bytes/doc", "lower"),
    ("index.segments.spill_bytes", "bytes", "lower"),
    ("index.segments.partition_skew", "ratio", "lower"),
    ("index.segments.bytes_per_input_byte", "ratio", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
]

LAYER_DETAIL = [
    ("index.segments.gc_ms_per_doc", "ms/doc"),  # often exactly 0 at this size
    ("query.bm25.compile_ms", "ms"),
    ("query.bm25.execute_ms", "ms"),
    ("query.bm25.jobs_per_query", "count"),
    ("query.bm25.shuffle_bytes_per_query", "bytes"),
    ("index.build.materialize_ms", "ms"),
    ("index.build.executor_cpu_ms_per_doc", "ms/doc"),
    ("index.build.shuffle_write_bytes_per_doc", "bytes/doc"),
    ("index.build.spill_bytes", "bytes"),
    ("index.build.jobs_per_build", "count"),
    ("index.segments.finalize_index_ms", "ms"),
    ("index.segments.jobs_per_commit", "count"),
    ("index.segments.merge_index_ms", "ms"),
    ("index.segments.merge_bytes_rewritten", "bytes"),
    ("streaming.topics.sink_ms", "ms"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER + LAYER_DETAIL}

# The op kinds of each workload; op_p50_ms is the median over ops of these
# kinds (search: one query of any kind; update: one step, a micro-batch
# commit and the first query on the reopened searcher). op_p50_jobs is
# op_p50_ms in units of one trivial Spark job timed between the same ops:
# on a shared host both move together, so their ratio is the steadier
# regression gate.
OP_KINDS = {"search": ["wand", "bm25", "bool", "phrase"], "update": ["step"]}


def _m(name: str, value: float) -> dict:
    return {"value": float(value), "unit": UNITS[name]}


def op_p50_ms(workload: str, ctx) -> float:
    return median([x * 1e3 for k in OP_KINDS[workload] for x in ctx.lat[k]])


def end_to_end(workload: str, ctx, peak_rss_mb: float) -> dict:
    vals = {
        "setup_s": ctx.setup_s,
        "peak_rss_mb": peak_rss_mb,
        "op_p50_jobs": op_p50_ms(workload, ctx) / median(ctx.trivial_jobs_ms),
        "index_bytes_per_input_byte": median(ctx.facts["index_bytes_per_input_byte"]),
    }
    return {n: _m(n, vals[n]) for n, _, _ in END_TO_END}


def detail(workload: str, ctx, peak_rss_mb: float, probe: dict) -> dict:
    """Every figure of the run under its own name: the per-kind medians and
    tails, build rates, checks, calibration probe and exact counts."""
    out: dict = {"workload": workload, "seed": ctx.seed,
                 "timed_s": ctx.facts["timed_s"], "ops": {}}
    out["latencies_ms"] = {k: [round(x * 1e3, 1) for x in xs] for k, xs in ctx.lat.items()}
    for kind, xs in ctx.lat.items():
        ms = [x * 1e3 for x in xs]
        out["ops"][kind] = len(ms)
        if kind == "merge":
            out["merge_s"] = {"value": median(xs), "unit": "s", "n": len(xs)}
            continue
        name = "fresh_query" if kind == "fresh" else kind
        out[f"{name}_p50_ms"] = {"value": median(ms), "unit": "ms", "n": len(ms)}
        t = tail(ms)
        if t is not None:
            out[f"{name}_tail_ms"] = {
                "value": t[0], "unit": "ms", "percentile": t[1], "n": t[2]}
    f = ctx.facts
    out["segments_docs_per_s"] = {
        "value": sum(f["segments_build_docs"]) / sum(f["segments_build_s"]),
        "unit": "docs/s", "source": "set-up build_index_dir (first Python job of the run)"}
    if "logical_build_s" in f:
        out["logical_docs_per_s"] = {
            "value": sum(f["logical_build_docs"]) / sum(f["logical_build_s"]),
            "unit": "docs/s", "source": "set-up build_index + materialize"}
    out["index_bytes_per_input_byte"] = {
        "value": median(f["index_bytes_per_input_byte"]), "unit": "ratio"}
    c = ctx.checks
    out["error_rate"] = {"value": c.failed / c.attempted, "unit": "ratio",
                         "failed": c.failed, "attempted": c.attempted,
                         "known_defects": c.known_defects,
                         "unexpected": c.unexpected}
    out["op_p50_ms"] = {"value": op_p50_ms(workload, ctx), "unit": "ms"}
    out["setup_s"] = {"value": ctx.setup_s, "unit": "s"}
    out["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    out["session"] = probe
    out["trivial_jobs_ms"] = [round(x, 1) for x in ctx.trivial_jobs_ms]
    out["manifests"] = f["manifest"]
    if "merge_bytes" in f:
        out["merge_bytes"] = f["merge_bytes"]
    out["term_repeat_share"] = f["term_repeat_share"]
    return out


def layers(workload: str, ctx, probe: dict) -> dict:
    """Every per-layer figure the traced run's spans support, by name."""
    f = ctx.facts
    spans = ctx.rec.spans

    def named(*names):
        return [s for s in spans if s.name in names]

    def med_ms(name):
        return median([s.ms for s in named(name)])

    def per_op(name, key):
        """Median over ops of a figure summed over the op's compile and
        collect spans."""
        totals: dict = {}
        for s in named(name, name + ".collect"):
            val = len(s.jobs) if key == "jobs" else s.total(key)
            totals[s.op] = totals.get(s.op, 0) + val
        return median(list(totals.values()))

    def per_doc(spans_, key, scale=1.0):
        return sum(s.total(key) for s in spans_) * scale / sum(
            ctx.span_docs[s.sid] for s in spans_)

    def spill(spans_):
        if not spans_:
            raise ValueError("no such spans")
        return sum(s.total("mem_spill_bytes") + s.total("disk_spill_bytes")
                   for s in spans_)

    def build_ms(s):
        # build_index_dir ends with finalize_index's jobs; leave them out.
        return s.ms - sum(j["wall_ms"] for j in s.jobs
                          if not j["name"].startswith("toPandas"))

    builds = named("index.segments.build_index_dir", "streaming.topics.sink")
    overhead = [
        median(ctx.lat_by_trace[(k, True)]) - median(ctx.lat_by_trace[(k, False)])
        for k in OP_KINDS[workload]
        if (k, True) in ctx.lat_by_trace and (k, False) in ctx.lat_by_trace
    ]
    figures = {
        "session.trivial_job_ms": lambda: probe["trivial_job_ms"],
        "session.py4j_rtt_us": lambda: probe["py4j_rtt_us"],
        "session.pandas_stage_ms": lambda: probe["pandas_stage_ms"],
        "query.wand.compile_ms": lambda: med_ms("query.wand.topk"),
        "query.wand.execute_ms": lambda: med_ms("query.wand.topk.collect"),
        "query.wand.jobs_per_query": lambda: per_op("query.wand.topk", "jobs"),
        "query.wand.stages_per_query": lambda: per_op("query.wand.topk", "stages"),
        "query.wand.tasks_per_query": lambda: per_op("query.wand.topk", "tasks"),
        "query.wand.executor_run_ms_per_query": lambda: per_op(
            "query.wand.topk", "run_ms"),
        "query.wand.input_bytes_per_query": lambda: per_op(
            "query.wand.topk", "input_bytes"),
        "query.wand.open_ms": lambda: med_ms("query.wand.open_index"),
        "query.wand.term_repeat_share": lambda: f["term_repeat_share"],
        "index.segments.build_segments_ms": lambda: median(
            [build_ms(s) for s in builds]),
        "index.segments.executor_cpu_ms_per_doc": lambda: per_doc(
            builds, "cpu_ns", 1e-6),
        "index.segments.gc_ms_per_doc": lambda: per_doc(builds, "gc_ms"),
        "index.segments.shuffle_write_bytes_per_doc": lambda: per_doc(
            builds, "shuffle_write_bytes"),
        "index.segments.spill_bytes": lambda: spill(builds),
        "index.segments.partition_skew": lambda: median(
            [m["skew"] for m in f["manifest"]]),
        "index.segments.bytes_per_input_byte": lambda: median(
            f["index_bytes_per_input_byte"]),
        "trace.overhead_ms": lambda: 1e3 * sum(overhead) / len(overhead),
        "query.bm25.compile_ms": lambda: med_ms("query.bm25.bm25_topk"),
        "query.bm25.execute_ms": lambda: med_ms("query.bm25.bm25_topk.collect"),
        "query.bm25.jobs_per_query": lambda: per_op("query.bm25.bm25_topk", "jobs"),
        "query.bm25.shuffle_bytes_per_query": lambda: per_op(
            "query.bm25.bm25_topk", "shuffle_write_bytes"),
        "index.build.materialize_ms": lambda: med_ms("index.build.materialize"),
        "index.build.executor_cpu_ms_per_doc": lambda: sum(
            s.total("cpu_ns") for s in named(
                "index.build.build_index", "index.build.materialize")) / 1e6
        / sum(ctx.span_docs[s.sid] for s in named("index.build.materialize")),
        "index.build.shuffle_write_bytes_per_doc": lambda: sum(
            s.total("shuffle_write_bytes") for s in named(
                "index.build.build_index", "index.build.materialize"))
        / sum(ctx.span_docs[s.sid] for s in named("index.build.materialize")),
        "index.build.spill_bytes": lambda: spill(
            named("index.build.build_index", "index.build.materialize")),
        "index.build.jobs_per_build": lambda: sum(
            len(s.jobs) for s in named(
                "index.build.build_index", "index.build.materialize"))
        / len(named("index.build.materialize")),
        "index.segments.finalize_index_ms": lambda: med_ms(
            "index.segments.finalize_index"),
        "index.segments.jobs_per_commit": lambda: median(
            [len(s.jobs) for s in named("streaming.topics.sink")])
        + median([len(s.jobs) for s in named("index.segments.finalize_index")]),
        "index.segments.merge_index_ms": lambda: med_ms("index.segments.merge_index"),
        "index.segments.merge_bytes_rewritten": lambda: median(f["merge_bytes"]),
        "streaming.topics.sink_ms": lambda: med_ms("streaming.topics.sink"),
    }
    out = {}
    for name, fn in figures.items():
        try:
            out[name] = _m(name, fn())
        except (KeyError, ValueError, ZeroDivisionError, statistics.StatisticsError):
            pass  # the workload does not exercise this layer
    return out


def per_layer(workload: str, ctx, probe: dict) -> tuple[dict, dict]:
    """(the PER_LAYER result metrics, the module figures beyond them)."""
    allf = layers(workload, ctx, probe)
    shared = {n: allf[n] for n, _, _ in PER_LAYER}
    return shared, {n: v for n, v in allf.items() if n not in shared}
