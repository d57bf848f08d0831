"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir, runs the
matching oracle_sql() through DuckDB on the same parquet files, and compares
row count, column names, and the order-insensitive multiset of row values.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
                                    [--skip name ...] [--resume-log file]

--skip drops entries whose name contains any given substring (for
oracles that are impractical at a large sf, e.g. the cubic geometry
CTEs); --resume-log skips entries already reported ok/okR in a previous
run's log, so an interrupted sweep continues where it stopped. The first
line printed is ``sf_dir <path>``; a resume log whose header is missing or
names a different sf_dir is refused (exit 2).
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def kind(v):
    """Coarse Python type class of a fetched cell. The driver's value hash
    is TYPE-sensitive (r4's frequency_table_quantity: identical values, red
    hash because DuckDB returned float64 where Spark emitted int64), while
    norm() above collapses 3.0 and 3 to the same string — so the sweep also
    compares per-column type classes to catch that hazard before the driver
    samples an entry."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, Decimal):
        return "decimal"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def colkinds(cols, rows):
    """column name -> set of non-null value type classes."""
    out = {c: set() for c in cols}
    for r in rows:
        for c, v in zip(cols, r):
            if v is not None:
                out[c].add(kind(v))
    return out


def main() -> int:
    args = list(sys.argv[1:])
    skips: list[str] = []
    done: set[str] = set()
    while "--skip" in args:
        i = args.index("--skip")
        skips.append(args[i + 1])
        del args[i:i + 2]
    resume_log = None
    if "--resume-log" in args:
        i = args.index("--resume-log")
        resume_log = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]
    header = f"sf_dir {os.path.abspath(sf_dir)}"
    if resume_log is not None:
        with open(resume_log) as fh:
            first = fh.readline().rstrip("\n")
            if first != header:
                print(f"refusing --resume-log {resume_log}: its first line is "
                      f"{first!r}, expected {header!r}", file=sys.stderr)
                return 2
            for line in fh:
                if line.startswith(("ok ", "okR")):
                    done.add(line.split()[1].rstrip(":"))
    print(header, flush=True)

    import duckdb

    import __spark_entry__ as se
    from solr_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark(
        app_name="check_oracle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = se.queries()
    oracles = se.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        if name in done or any(s in name for s in skips):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}", flush=True)
            failures.append(name)
            continue
        if name not in oracles:
            print(f"okR  {name}: rows-only, {len(srows)} rows "
                  f"({time.time() - t0:.1f}s)", flush=True)
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}", flush=True)
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sk, ok = colkinds(scols, srows), colkinds(ocols, orows)
            for c in sorted(sk):
                if c in ok and sk[c] and ok[c] and sk[c] != ok[c]:
                    problems.append(
                        f"coltype {c}: spark={sorted(sk[c])} "
                        f"oracle={sorted(ok[c])}"
                    )
        if not problems:
            a, b = rowset(scols, srows), rowset(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems), flush=True)
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows ({time.time() - t0:.1f}s)", flush=True)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
