"""Results the driver already holds, answered from their Arrow table.

A query scored on the driver (query.wand's driver executor), or known to
match nothing before any scan, has its rows as a pyarrow Table. The local
actions of its ``DriverResult`` (collect, toArrow, toPandas, count,
isEmpty, take / head / first) and its schema read that table with no JVM
call, as a Spark Connect client answers from the Arrow batches it holds.
Every other method (join, orderBy, limit, write, cache, explain, ...) goes
through the JVM frame, ``spark.createDataFrame(table)`` (a LocalRelation),
built once, the first time ``_jdf`` is read.
"""

from __future__ import annotations

import threading
from functools import cached_property

import pyarrow as pa
from pyspark.sql import Row
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType, _create_row

# The column types of the flat DDL schemas ``empty_result`` takes.
_DDL_TYPES = {"int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
              "string": pa.string()}


class DriverResult(DataFrame):
    """A DataFrame over ``table``. The constructor makes no JVM call, so
    the local actions work on a session without a JVM."""

    def __new__(cls, spark, table: pa.Table) -> DriverResult:
        # The classic DataFrame.__new__ would run __init__(jdf, session).
        return object.__new__(cls)

    def __init__(self, spark, table: pa.Table):
        self._session, self._table = spark, table
        self._frame, self._frame_lock = None, threading.Lock()
        self.is_cached = self._support_repr_html = False

    @property
    def _jdf(self):
        with self._frame_lock:
            if self._frame is None:
                self._frame = self._session.createDataFrame(self._table)._jdf
        return self._frame

    @property
    def _sc(self):
        return self._session._sc

    @cached_property
    def schema(self) -> StructType:
        return from_arrow_schema(self._table.schema)

    def collect(self) -> list[Row]:
        cols = self.columns
        return [_create_row(cols, row)
                for row in zip(*(c.to_pylist() for c in self._table.columns))]

    def take(self, num: int) -> list[Row]:
        return self.collect()[:num]

    def count(self) -> int:
        return self._table.num_rows

    def isEmpty(self) -> bool:
        return self._table.num_rows == 0

    def toArrow(self) -> pa.Table:
        """The table in the types Spark's toArrow gives: string columns
        follow the session's large-var-types conf, read only when the
        schema has one."""
        small = to_arrow_schema(self.schema)
        large = to_arrow_schema(self.schema, prefers_large_types=True)
        use_large = small != large and self._session._jconf.arrowUseLargeVarTypes()
        return self._table.cast(large if use_large else small)

    def toPandas(self):
        """Spark's Arrow toPandas frame, for these flat number and string
        columns."""
        return self._table.to_pandas()


def empty_result(spark, ddl: str) -> DriverResult:
    """The no-row result of flat schema ``ddl`` ("docid long, score
    double"): the schema of ``spark.createDataFrame([], ddl)``, collected
    with no job."""
    cols = (col.split() for col in ddl.split(","))
    return DriverResult(spark, pa.schema(
        [(name, _DDL_TYPES[typ]) for name, typ in cols]).empty_table())
