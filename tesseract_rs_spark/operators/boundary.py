"""THE per-row JVM<->Python boundary: one mapInPandas row mapper that maps
each input row to zero or more output rows, shared by the raster OCR
surfaces, the media decoders, the image-PDF renderers and the
``__spark_entry__.py`` fixture generators.  A surface is stated once, as
its ``*_FIELDS`` DDL plus a ``rows_for_batch`` projection; id columns
pass through with their INPUT types, so the output schema never
hard-codes an id type."""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, DataType, DoubleType, LongType

# numpy dtype per primitive column type; every other type (string,
# binary, nested) is handed to Arrow as Python objects
_NUMPY_DTYPES = {LongType: np.int64, DoubleType: np.float64, BooleanType: bool}


def id_schema(df: DataFrame, id_cols: Sequence[str]) -> str:
    """DDL of ``id_cols`` with their types in ``df``."""
    by_name = {f.name: f for f in df.schema.fields}
    return ", ".join(f"{c} {by_name[c].dataType.simpleString()}" for c in id_cols)


def map_rows(
    df: DataFrame,
    id_cols: Sequence[str],
    in_cols: Sequence[str],
    fields: str,
    rows_for_batch: Callable[[pd.DataFrame], list],
) -> DataFrame:
    """``(id_cols..., fields...)`` from one mapInPandas stage over
    ``df.select(*id_cols, *in_cols)``.  ``rows_for_batch(pdf)`` returns
    one list of row tuples per input row, each tuple in ``fields`` order —
    one row per input row for the scalar surfaces, zero or more for the
    exploded ones.  Column names and dtypes are parsed from ``fields``
    once, on the Spark driver; per batch the ids are ``np.repeat``-ed by
    each row's output count, the rows are gathered with one C-speed
    ``list.extend`` per input row and transposed with ONE ``zip`` per
    batch; a row width that differs from ``fields`` raises instead of
    shifting columns."""
    id_cols = tuple(id_cols)
    schema = DataType.fromDDL(id_schema(df, id_cols) + ", " + fields)
    columns = [
        (f.name, _NUMPY_DTYPES.get(type(f.dataType)))
        for f in schema.fields[len(id_cols):]
    ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_row = rows_for_batch(pdf)
            counts = np.fromiter(map(len, per_row), np.int64, len(per_row))
            out: dict = {c: np.repeat(pdf[c].to_numpy(), counts) for c in id_cols}
            rows: list = []
            for r in per_row:
                rows.extend(r)
            t = list(zip(*rows)) if rows else [()] * len(columns)
            for (name, dtype), col in zip(columns, t, strict=True):
                # object columns stay object even when empty: an empty list
                # would infer float64, which Arrow cannot convert to a
                # nested type
                out[name] = (
                    pd.Series(col, dtype=object) if dtype is None
                    else np.asarray(col, dtype)
                )
            yield pd.DataFrame(out)

    return df.select(*id_cols, *in_cols).mapInPandas(gen, schema=schema)


def map_each(
    df: DataFrame,
    id_cols: Sequence[str],
    in_cols: Sequence[str],
    fields: str,
    row: Callable[..., tuple],
) -> DataFrame:
    """:func:`map_rows` with exactly one output row per input row:
    ``row(*values)`` takes the row's ``in_cols`` values and returns its
    tuple in ``fields`` order."""

    def rows_for_batch(pdf: pd.DataFrame) -> list:
        return [[row(*r)] for r in zip(*(pdf[c] for c in in_cols))]

    return map_rows(df, id_cols, in_cols, fields, rows_for_batch)
