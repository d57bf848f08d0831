"""Cross-parallelism determinism sweep over the driver catalog.

Every catalog entry claims determinism at any parallelism (tie-breaks on
(score desc, docid asc), order-independent folds, seeded generators keyed
by data not by partition). The DuckDB oracle can't test that claim — it
compares one run against SQL — so this tool runs EVERY queries() entry in
two fresh JVMs at different parallelism levels (master local[N] and
local[M], proportionally scaled shuffle partitions) and compares the
normalized result multiset per entry.

Values are normalized exactly like tools/check_oracle.py (%.9g floats,
column-name-sorted tuples, row-sorted) so benign float reassociation in
parallel sums — which the driver's own comparison also tolerates — does
not read as nondeterminism, while any rank flip, tie-break instability,
dropped row, or partition-dependent value does.

Usage: python tools/check_determinism.py [sf_dir] [--cpus 8,32] [name...]
Writes tools-local JSON and prints per-entry agreement.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

_WORKER = r"""
import datetime, hashlib, json, math, os, sys, time
from decimal import Decimal

sys.path.insert(0, os.environ["REPO"])

cpus = int(os.environ["CPUS"])
sf_dir = os.environ["SF_DIR"]
names = json.loads(os.environ["NAMES"]) or None

import __spark_entry__ as se
from solr_spark.session import get_spark

spark = get_spark(
    app_name=f"determinism_{cpus}",
    master=f"local[{cpus}]",
    shuffle_partitions=max(8, cpus * 4),
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


out = {}
for name, fn in se.queries().items():
    if names is not None and name not in names:
        continue
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        cols = df.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted(
            tuple(norm(r[i]) for i in order) for r in df.collect()
        )
        h = hashlib.md5(
            json.dumps([sorted(cols), rows]).encode()
        ).hexdigest()[:16]
        out[name] = {"rows": len(rows), "hash": h,
                     "sec": round(time.time() - t0, 1)}
    except Exception as exc:  # noqa: BLE001
        out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

with open(os.environ["OUT"], "w") as fh:
    json.dump(out, fh)
"""


def run_level(cpus: int, sf_dir: str, names: list[str]) -> dict:
    env = dict(os.environ)
    fd, out_path = tempfile.mkstemp(suffix=f"_det_{cpus}.json")
    os.close(fd)
    env.update({
        "CPUS": str(cpus),
        "SF_DIR": sf_dir,
        "REPO": os.path.abspath("."),
        "NAMES": json.dumps(names),
        "OUT": out_path,
    })
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(_WORKER)
        path = f.name
    try:
        proc = subprocess.run(
            [sys.executable, path], env=env, capture_output=True,
            text=True, timeout=7200,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
            raise SystemExit(f"worker at local[{cpus}] failed")
        with open(out_path) as fh:
            return json.load(fh)
    finally:
        os.unlink(path)
        if os.path.exists(out_path):
            os.unlink(out_path)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    cpus = [8, 32]
    for i, a in enumerate(list(args)):
        if a == "--cpus":
            cpus = [int(x) for x in args[i + 1].split(",")]
            args = args[:i] + args[i + 2:]
            break
    if len(set(cpus)) < 2:
        print(f"--cpus needs at least two distinct levels, got {cpus}",
              file=sys.stderr)
        return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:]

    results = {c: run_level(c, sf_dir, names) for c in cpus}
    base, other = cpus[0], cpus[1:]
    mismatched, errored = [], []
    for name, row in results[base].items():
        rows = [row] + [results[c].get(name, {}) for c in other]
        if any("error" in r for r in rows):
            errored.append(name)
            print(f"ERR  {name}: " + "; ".join(
                f"local[{c}]: {results[c].get(name, {}).get('error', 'ok')}"
                for c in cpus))
        elif len({r.get("hash") for r in rows}) != 1:
            mismatched.append(name)
            print(f"DIFF {name}: " + "; ".join(
                f"local[{c}]={results[c][name]['hash']}"
                f"({results[c][name]['rows']} rows)" for c in cpus))
        else:
            print(f"ok   {name}: {row['rows']} rows, hash {row['hash']}")

    summary = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "entries": len(results[base]),
        "identical": len(results[base]) - len(mismatched) - len(errored),
        "mismatched": mismatched,
        "errored": errored,
    }
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "determinism_result.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    return 1 if (mismatched or errored) else 0


if __name__ == "__main__":
    raise SystemExit(main())
