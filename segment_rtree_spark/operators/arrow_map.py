"""The one Python-UDF boundary: every map, grouped and cogrouped kernel
of the operators and the registry queries crosses between Spark and
Python here, in Arrow, never through pandas.

* `batch_map`: `fn(batch)` per Arrow RecordBatch of `src.select(*cols)`,
  one mapInArrow UDF.
* `row_map`: `row(*values)` per row, a per-row adapter over batch_map
  (the image, audio, codec and geometry kernels whose work is per row).
* `group_map`: `fn(table)` per group of `src.select(*cols)` grouped by
  `key`, one applyInArrow UDF.
* `cogroup_map`: `fn(left, right)` per key of two frames cogrouped on
  `keys`, one cogrouped applyInArrow UDF (the partitioned PIP refine
  and the embedding refine).

A kernel returns its output columns in the DDL `schema`'s order: an
Arrow array passes through as it is (a `take` carries payload columns
with no boxing, and a nullable long stays an exact int64 where pandas
would widen it to float64 beside a NULL), anything else (NumPy arrays,
lists) is built once with its field's Arrow type. A batch kernel
returns None to emit nothing; zero-row input batches never reach it.
The plan node is named after the operator that defines the kernel
(the head of its __qualname__): `MapInArrow knn_join_broadcast(...)`,
not `kernel`; a helper shared by several operators sets its kernel's
__qualname__ to the calling operator's name. An exception the kernel
raises fails the task: an operator that turns errors into data catches
them itself.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = ["batch_map", "row_map", "group_map", "cogroup_map"]


def _arrow_schema(schema: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(schema))


def _table(cols, out: pa.Schema) -> pa.Table:
    """The output columns `cols` as one Table of schema `out`."""
    return pa.Table.from_arrays(
        [c.cast(f.type) if isinstance(c, (pa.Array, pa.ChunkedArray))
         else pa.array(c, f.type) for c, f in zip(cols, out)],
        schema=out,
    )


def _named(kernel, fn):
    kernel.__name__ = kernel.__qualname__ = fn.__qualname__.split(".")[0]
    return kernel


def batch_map(src: DataFrame, cols, fn, schema: str) -> DataFrame:
    """`fn(batch)` over every non-empty Arrow batch of
    `src.select(*cols)`, its output columns under the DDL `schema`."""
    out = _arrow_schema(schema)

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                res = fn(batch)
                if res is not None:
                    yield from _table(res, out).to_batches()

    return src.select(*cols).mapInArrow(_named(kernel, fn), schema)


def row_map(src: DataFrame, cols, row, schema: str) -> DataFrame:
    """`row(*values)` over every row of `src.select(*cols)`, its output
    tuples under the DDL `schema`. Each batch column is read once with
    to_pylist() (a nullable long arrives as an exact int or None, binary
    as bytes); `row` returns zero or more output tuples (frame and clip
    sampling emit many, a skipped row none)."""

    def rows(batch):
        out = [t for vals in zip(*(c.to_pylist() for c in batch.columns))
               for t in row(*vals)]
        return list(zip(*out)) or None

    rows.__qualname__ = row.__qualname__
    return batch_map(src, cols, rows, schema)


def group_map(src: DataFrame, cols, key: str, fn, schema: str) -> DataFrame:
    """`fn(table)` over each group of `src.select(*cols)` by `key` (one
    group's rows as one Arrow table), its output columns under the DDL
    `schema`."""
    out = _arrow_schema(schema)

    def kernel(table):
        return _table(fn(table), out)

    return src.select(*cols).groupBy(key).applyInArrow(_named(kernel, fn), schema)


def cogroup_map(left: DataFrame, right: DataFrame, keys, fn, schema: str) -> DataFrame:
    """`fn(left_table, right_table)` over each key of `left` and `right`
    cogrouped on `keys` (either side's table may have zero rows), its
    output columns under the DDL `schema`."""
    out = _arrow_schema(schema)

    def kernel(ltab, rtab):
        return _table(fn(ltab, rtab), out)

    return left.groupBy(*keys).cogroup(right.groupBy(*keys)).applyInArrow(
        _named(kernel, fn), schema)
