"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

from perfbench import inputs, metrics
from perfbench.trace import tail
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(seed: int) -> str:
    """sha256 over the search corpus, both op streams and the update
    cycle's rows: everything a run feeds the engine."""
    plan = inputs.update_plan(seed)
    n_update = plan["base"][1] + sum(n for _, n in plan["batches"])
    blob = repr((
        inputs.corpus_rows(seed, 0, inputs.SEARCH_DOCS),
        inputs.search_ops(seed),
        plan,
        inputs.corpus_rows(seed, 0, n_update),
    )).encode()
    return hashlib.sha256(blob).hexdigest()


def test_same_seed_same_inputs_across_processes():
    code = f"import sys; sys.path.insert(0, {ROOT!r}); " \
           "from perfbench.test_perfbench import _digest; print(_digest(7))"
    outs = {
        subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONHASHSEED": h},
        ).stdout.strip()
        for h in ("0", "123")
    }
    assert outs == {_digest(7)}


def test_seeds_differ():
    assert _digest(1) != _digest(2)


def test_slices_agree():
    whole = inputs.corpus_rows(3, 0, 50)
    assert inputs.corpus_rows(3, 20, 10) == whole[20:30]


def test_docids_unique_and_int64():
    rows = inputs.corpus_rows(5, 0, 400)
    ids = [r[0] for r in rows]
    assert len(set(ids)) == len(ids)
    assert all(0 <= i < 2**63 for i in ids)


def test_search_stream_shape():
    ops = inputs.search_ops(1)
    kinds = [op[0] for op in ops[:8]]
    assert kinds == ["wand", "bm25", "bool", "phrase"] * 2
    # wand and bm25 of a block share the query; the reference set is in.
    assert all(ops[i][1] == ops[i + 1][1] for i in range(0, len(ops), 4))
    qs = {op[1] for op in ops if op[0] == "wand"}
    assert set(inputs.REFERENCE_QUERIES) <= qs
    assert set(inputs.STOPWORD_QUERIES + inputs.ABSENT_QUERIES) <= qs


def test_duplicate_terms_occur():
    """Terms are drawn independently, so some queries repeat a term."""
    qs = [op[1] for op in inputs.search_ops(1) if op[0] == "wand"]
    assert any(len(inputs.raw_terms(q)) != len(set(inputs.raw_terms(q))) for q in qs)


def test_repeat_share():
    assert inputs.repeat_share(["a b", "b c"]) == 0.25
    assert inputs.repeat_share(["a b"], ["b c"]) == 0.0


def test_tail_definition():
    assert tail(list(range(10))) is None
    value, pct, n = tail(list(range(100)))
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(x > value for x in range(100)) == 10


def test_benchmark_json_matches():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
