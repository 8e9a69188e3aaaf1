"""The one per-row Python stage every row-wise op runs through.

:func:`map_rows` owns what each op used to write out again: shipping
the package to executors, Arrow batch iteration, per-row poison
isolation (I4) and output assembly. Batches cross the JVM↔Python
boundary as Arrow (``mapInArrow``) with no pandas round-trip.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def map_rows(df: "DataFrame", cols: list[str], schema: StructType | str,
             fn: Callable[..., list[tuple]],
             poison: Callable[..., list[tuple]] | None = None,
             ) -> "DataFrame":
    """Run ``fn(*values)`` once per row of ``df.select(*cols)``.

    ``values`` are the row's Python values (binary arrives as
    ``bytes``, NULL as ``None``). ``fn`` returns a list of output
    tuples in ``schema`` order (a ``StructType`` or DDL string): an
    empty list drops the row, several tuples explode it. When ``fn``
    raises, or returns a value that does not fit its column type,
    ``poison(*values, exc)`` supplies the rows instead; without
    ``poison`` the error fails the task. A float NaN in the output
    becomes NULL.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from goose_parser_spark.deploy import ship_package

    ship_package(df.sparkSession)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        def to_batch(rows):
            columns = list(zip(*rows)) or [()] * len(arrow_schema)
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type, from_pandas=True)
                 for c, f in zip(columns, arrow_schema)],
                schema=arrow_schema)

        def isolate(values, exc):
            if poison is None:
                raise exc
            return poison(*values, exc)

        def fits(values, rows):
            try:
                to_batch(rows)
            except (pa.ArrowException, OverflowError) as exc:
                return isolate(values, exc)
            return rows

        for batch in batches:
            inputs = list(zip(*(c.to_pylist() for c in batch.columns)))
            outputs = []
            for values in inputs:
                try:
                    outputs.append(fn(*values))
                except Exception as exc:  # noqa: BLE001 — I4 poison isolation
                    outputs.append(isolate(values, exc))
            try:
                out = to_batch([r for rows in outputs for r in rows])
            except (pa.ArrowException, OverflowError):
                # A value that does not fit its column type (a 2**32
                # header field into an int column) fails only its row.
                out = to_batch([r for values, rows in zip(inputs, outputs)
                                for r in fits(values, rows)])
            yield out

    return df.select(*cols).mapInArrow(run, schema=schema)
