"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir, runs the
matching oracle_sql() through DuckDB on the same parquet files, and compares
row count, column names, and the order-insensitive multiset of row values.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
                                    [--skip name ...] [--resume-log file]

--skip drops entries whose name contains any given substring (for
oracles that are impractical at a large sf); --resume-log skips entries
already reported ok/okR in a previous run's log, so an interrupted sweep
continues where it stopped. The first line printed is ``sf_dir <path>``;
a resume log whose header is missing or names a different sf_dir is
refused (exit 2).
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

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


# Coarse type classes. Result value hashes are TYPE-sensitive (r4's
# frequency_table_quantity: identical values, red hash because DuckDB
# returned float64 where Spark emitted int64), while norm() above collapses
# 3.0 and 3 to the same string — so the sweep also compares each column's
# binder type class. Integer widths are one class; HUGEINT is its own: it
# fetches as a Python int, so comparing fetched values cannot see it.
_DUCK_CLASS = {
    **dict.fromkeys(["TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                     "USMALLINT", "UINTEGER", "UBIGINT"], "int"),
    "HUGEINT": "hugeint", "UHUGEINT": "hugeint", "FLOAT": "float",
    "DOUBLE": "float", "VARCHAR": "str", "BOOLEAN": "bool", "BLOB": "bytes",
}
_SPARK_CLASS = {
    **dict.fromkeys(["byte", "short", "integer", "long"], "int"),
    "float": "float", "double": "float", "string": "str", "boolean": "bool",
    "binary": "bytes", "array": "list", "timestamp_ntz": "timestamp",
}


def duck_class(t) -> str:
    """Coarse class of a DuckDB binder type (an entry of ``rel.types``)."""
    name = str(t).upper()
    if name.endswith("]"):
        return "list"
    base = re.match(r"[A-Z]*", name).group(0)
    return _DUCK_CLASS.get(base, base.lower())


def type_mismatches(schema, rel) -> list[str]:
    """Columns whose Spark type class (``schema``, a StructType) differs
    from the DuckDB relation ``rel``'s binder type class."""
    oracle = dict(zip(rel.columns, map(duck_class, rel.types)))
    out = []
    for f in schema.fields:
        s = _SPARK_CLASS.get(f.dataType.typeName(), f.dataType.typeName())
        if f.name in oracle and s != oracle[f.name]:
            out.append(f"coltype {f.name}: spark={s} oracle={oracle[f.name]}")
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
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
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
            problems += type_mismatches(sdf.schema, rel)
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
