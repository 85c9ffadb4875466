"""The driver boundary, both directions.

Values in. Small driver-side sets (alias maps, schema patterns, query
vectors, id and term lists) become plan literals here and nowhere else:

* ``literal_df(spark, rows, schema)`` -> a DataFrame of ``rows``;
* ``literal_array(values, element_type)`` -> an array Column.

Both render the values as ONE JSON string and parse it with
``from_json(..., {"mode": "FAILFAST"})`` against an explicit type (a DDL
string or a DataType; nothing is inferred from the Python values). Catalyst
folds the parse to a single Literal, the value a per-element
``array(lit(..), ...)`` tree folds to (its elements typed nullable), and
building it costs a constant ~20 py4j calls instead of several per element
(a 1,000-row, 3-column frame: 21 calls against 63,767; a 1,024-d vector: 8
against 2,053). FAILFAST turns a value that does not fit the type (a string
in an int field, an int64 in an ``int``) into an error when the plan runs,
never a silent NULL. A frame is one partition of one JVM task: no Python
worker, no shuffle.

Filters on an id set keep ``Column.isin(values)``: parquet pushes an ``In``
over literals down to the scan, and a folded array literal would not be
pushed. Beyond ``LITERAL_DF_MAX_ROWS`` rows a frame is parallelized with
``createDataFrame`` instead, because the plan carries the whole literal.

Rows out. A result whose size depends on the data leaves through
``bounded_collect(df, max_rows)``: one ``limit(max_rows + 1)`` collect that
returns the rows, or ``None`` when there are more than ``max_rows`` of them.
The probe decides and fetches in one pass, and the driver never holds more
than ``max_rows + 1`` rows; each caller chooses what overflow means (a
distributed fallback, or an error naming the bound). Pass an ordered frame
to get its top rows: the sort and the limit plan as one top-k job.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LITERAL_DF_MAX_ROWS = 10_000

_FAILFAST = {"mode": "FAILFAST"}


def _parsed(value, data_type: T.DataType | str) -> Column:
    return F.from_json(F.lit(json.dumps(value)), data_type, _FAILFAST)


def literal_array(values: Iterable, element_type: T.DataType | str) -> Column:
    """``values`` as one array literal of ``element_type`` (a DDL type
    string such as ``"bigint"`` or ``"struct<a: string, b: array<string>>"``,
    or a DataType). Values must be JSON-serializable: plain scalars, lists,
    and dicts keyed by struct field names."""
    t = (f"array<{element_type}>" if isinstance(element_type, str)
         else T.ArrayType(element_type))
    return _parsed(list(values), t)


def bounded_collect(df: DataFrame, max_rows: int) -> list | None:
    """``df``'s rows when there are at most ``max_rows`` of them, else
    ``None``, from one ``limit(max_rows + 1)`` collect."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def literal_df(spark: SparkSession, rows: Sequence[tuple],
               schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a one-partition
    DataFrame of ``schema`` (a DDL string or a StructType). Empty ``rows``
    give a typed empty frame of the same plan shape, which the optimizer
    does not prune, so a consumer's joins stay in its plan."""
    if len(rows) > LITERAL_DF_MAX_ROWS:
        return spark.createDataFrame(list(rows), schema)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arr = _parsed([dict(zip(schema.names, r)) for r in rows],
                  T.ArrayType(schema))
    return spark.range(0, 1, 1, 1).select(F.inline(arr))
