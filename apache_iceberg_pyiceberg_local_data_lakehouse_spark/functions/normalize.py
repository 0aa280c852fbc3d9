"""Schema normalization (reference ``normalize_arrow_table``,
``/root/reference/lakehouse_pipeline.py:176-186``).

Reference behavior, re-expressed as DataFrame casts (all JVM-side):
- any timestamp column -> microsecond precision, UTC
  (Spark's TimestampType IS µs, so this is a no-op cast that also
  swallows ns inputs, ``:181-182``)
- float32 -> float64 (``:183-184``)

Each pass is one ``selectExpr`` of SQL text built from one read of the
schema: a tree of ``F`` calls costs several py4j round trips per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import FloatType, NumericType, TimestampType

from . import quote_ident


def _cast_columns(df: DataFrame, casts: tuple[tuple[type, str], ...]) -> DataFrame:
    """``df`` with each column cast to the SQL type of the first
    ``(type class, SQL type)`` pair its type matches; other columns pass
    through unchanged."""
    exprs = []
    for f in df.schema.fields:
        q = quote_ident(f.name)
        to = next((sql for cls, sql in casts if isinstance(f.dataType, cls)), None)
        exprs.append(f"CAST({q} AS {to}) AS {q}" if to else q)
    return df.selectExpr(*exprs)


def normalize(df: DataFrame) -> DataFrame:
    """Widen floats, coerce timestamps - the reference's normalize pass."""
    return _cast_columns(df, ((FloatType, "DOUBLE"), (TimestampType, "TIMESTAMP")))


def normalize_reference_schema(df: DataFrame) -> DataFrame:
    """STRICT reference-parity schema collapse: the reference's
    ``iceberg_schema_from_arrow`` maps every non-timestamp field to
    DoubleType (``lakehouse_pipeline.py:191-199``, branch at ``:197``) -
    ints included. Use only on the tick-ingest path (SURVEY.md §7.4 warns
    against applying it to the star-schema fixtures, which carry real
    int/string columns)."""
    return _cast_columns(df, ((TimestampType, "TIMESTAMP"), (NumericType, "DOUBLE")))
