"""Quality gates (reference ``check_data_quality``,
``/root/reference/lakehouse_pipeline.py:133-171``; thresholds ``:73-74``).

The reference runs five checks over each incoming batch:
1. min rows (>= 100)                          ``:137``
2. required columns present ({DateTime,Bid,Ask}) ``:141-144``
3. null ratio per column <= 5%                ``:147-152``
4. DateTime not all-null + parseable          ``:154-158``
5. Bid/Ask strictly positive (min > 0)        ``:161-168``

The schema check never touches data. All value-level checks (A1 + A2 +
A4 + A5) are judged by one function, ``quality_report``, from a handful
of numbers (``BatchStats``): the row count, each column's NULL count,
the min of each numeric positive column, and the batch's
``datetime_col`` range, which ingest also hands to the dedup anti-join
as its key bounds. The numbers come from one of two sources:

- ``footer_stats``: a driver-side pass over the Parquet footers of the
  files the batch reads, as the reference reads its PyArrow table. It
  sums ``num_rows`` and the per-row-group ``null_count``, and folds the
  row groups' ``min``/``max``: no Spark job. It declines (returns
  ``None``) whenever the footers cannot give exactly what the aggregate
  would: a statistic is missing; a folded float min or max is NaN, or
  zero (Parquet writers store a zero min as ``-0.0``, so the footer
  cannot tell which sign Spark's ``min`` returns); a column is nested or
  repeated, INT96, a NANOS timestamp or a decimal; a folded column is
  of any other type than a signed integer, a float or a
  millisecond/microsecond timestamp; a timestamp predates 1900 (Spark
  may rebase or refuse such values on read); or the files' Parquet
  schemas differ (Spark would read a column missing from one file as
  NULL).
- ``aggregate_stats``: ONE aggregation pass over the DataFrame (at 100
  TB you never scan a batch five times), one ``selectExpr`` of SQL text
  built from one read of the schema. Streaming micro-batches, and any
  batch the footer pass declines, take it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    NumericType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from . import quote_ident

MIN_ROWS_THRESHOLD = 100  # lakehouse_pipeline.py:73
MAX_NULL_PCT = 0.05  # lakehouse_pipeline.py:74
REQUIRED_COLS = ("DateTime", "Bid", "Ask")  # lakehouse_pipeline.py:141
POSITIVE_COLS = ("Bid", "Ask")  # lakehouse_pipeline.py:161-168

# 1900-01-01T00:00:00Z in microseconds; Spark's read-time calendar
# rebasing touches only older values
_OLDEST_US = -2_208_988_800 * 10**6
_TS_SCALE = {"milliseconds": 1000, "microseconds": 1}


@dataclass
class QualityReport:
    ok: bool
    issues: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


@dataclass
class BatchStats:
    """The numbers a ``QualityReport`` is judged from, each as Spark's
    ``collect`` returns it. ``mins`` holds the numeric positive columns
    (``None`` when all NULL); ``lo``/``hi`` is the ``datetime_col``
    range (``None`` when absent or all NULL)."""

    rows: int
    nulls: dict[str, int]
    mins: dict[str, Any]
    lo: Any = None
    hi: Any = None


def _numeric_positive(types: dict, positive_cols: tuple[str, ...]) -> list[str]:
    return [c for c in positive_cols if isinstance(types.get(c), NumericType)]


def aggregate_stats(
    df: DataFrame,
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
) -> BatchStats:
    """``BatchStats`` from one aggregate pass: count, null counts, mins
    and the datetime range as SQL text, read back by position."""
    types = {f.name: f.dataType for f in df.schema.fields}
    positive = _numeric_positive(types, positive_cols)
    has_dt = datetime_col in types
    aggs = ["count(1)"]
    if has_dt:
        q = quote_ident(datetime_col)
        aggs += [f"min({q})", f"max({q})"]
    aggs += [f"count(1) - count({quote_ident(c)})" for c in types]
    aggs += [f"min({quote_ident(c)})" for c in positive]
    n, *rest = df.selectExpr(*aggs).collect()[0]
    lo, hi = (rest.pop(0), rest.pop(0)) if has_dt else (None, None)
    return BatchStats(
        rows=n,
        nulls=dict(zip(types, rest[: len(types)])),
        mins=dict(zip(positive, rest[len(types) :])),
        lo=lo,
        hi=hi,
    )


def footer_stats(
    footers: list,
    schema: StructType,
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
) -> BatchStats | None:
    """``BatchStats`` of the rows Spark reads from the files whose
    ``pyarrow.parquet.FileMetaData`` are ``footers``, under ``schema``
    (the Spark schema the checked DataFrame has), from the footers
    alone; ``None`` when they cannot give the aggregate's exact numbers
    (see the module docstring). No footers is a batch of no rows."""
    names = schema.fieldNames()
    types = {f.name: f.dataType for f in schema.fields}
    positive = _numeric_positive(types, positive_cols)
    if not footers:
        return BatchStats(rows=0, nulls=dict.fromkeys(names, 0), mins={})
    first = footers[0].schema
    if any(not f.schema.equals(first) for f in footers[1:]):
        return None
    cols = [first.column(i) for i in range(len(first))]
    index = {c.name: i for i, c in enumerate(cols)}
    if len(index) < len(cols) or not set(names) <= set(index):
        return None
    kinds = {}  # column -> how its min/max read back, or None
    for c in cols:
        if (
            c.path != c.name
            or c.max_repetition_level > 0
            or c.max_definition_level > 1
            or c.physical_type == "INT96"
            or c.logical_type.type == "DECIMAL"
        ):
            return None
        kinds[c.name] = _kind(c, types.get(c.name))
        if kinds[c.name] == "nanos":
            return None
    folded = set(positive) | {c for c, k in kinds.items() if k == "ts"}
    if datetime_col in types:
        folded.add(datetime_col)
    if any(kinds[c] is None for c in folded):
        return None
    # footer units -> Spark's internal microseconds
    scale = {c.name: _TS_SCALE[_unit(c)] for c in cols if kinds[c.name] == "ts"}

    nulls = dict.fromkeys(names, 0)
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    for f in footers:
        for g in range(f.num_row_groups):
            rg = f.row_group(g)
            if rg.num_rows == 0:
                continue
            for name in names:
                st = rg.column(index[name]).statistics
                if st is None or not st.has_null_count:
                    return None
                nulls[name] += st.null_count
                if name not in folded or st.null_count == rg.num_rows:
                    continue
                if not st.has_min_max:
                    return None
                mn, mx = st.min_raw, st.max_raw
                if kinds[name] == "float" and (mn != mn or mx != mx):
                    return None  # NaN: order-dependent under min()
                lo[name] = mn if name not in lo else min(lo[name], mn)
                hi[name] = mx if name not in hi else max(hi[name], mx)

    def value(name: str, raw: Any) -> Any:
        if raw is None:
            return None
        if kinds[name] == "ts":
            return types[name].fromInternal(raw * scale[name])
        return raw

    for name in lo:
        if kinds[name] == "float" and (lo[name] == 0 or hi[name] == 0):
            return None  # zero: the footer cannot tell +0.0 from -0.0
        if kinds[name] == "ts" and lo[name] * scale[name] < _OLDEST_US:
            return None
    return BatchStats(
        rows=sum(f.num_rows for f in footers),
        nulls=nulls,
        mins={c: value(c, lo.get(c)) for c in positive},
        lo=value(datetime_col, lo.get(datetime_col)),
        hi=value(datetime_col, hi.get(datetime_col)),
    )


def _unit(col) -> str | None:
    return json.loads(col.logical_type.to_json()).get("timeUnit")


def _kind(col, spark_type) -> str | None:
    """How a Parquet column's footer min/max read back as Spark values:
    ``"int"``, ``"float"``, ``"ts"`` (a Spark timestamp from millis or
    micros), ``"nanos"`` (a NANOS timestamp: decline), or ``None`` when
    the footer cannot give Spark's value."""
    lt = col.logical_type.type
    if lt == "TIMESTAMP":
        unit = _unit(col)
        if unit == "nanoseconds":
            return "nanos"
        ts_type = isinstance(spark_type, (TimestampType, TimestampNTZType))
        return "ts" if ts_type and unit in _TS_SCALE else None
    if col.physical_type in ("FLOAT", "DOUBLE") and lt == "NONE":
        return "float"
    if col.physical_type in ("INT32", "INT64") and (
        lt == "NONE"
        or (lt == "INT" and json.loads(col.logical_type.to_json()).get("isSigned"))
    ):
        return "int"
    return None


def quality_report(
    stats: BatchStats,
    columns: list[str],
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
    min_rows: int = MIN_ROWS_THRESHOLD,
    max_null_pct: float = MAX_NULL_PCT,
) -> QualityReport:
    """The value-level checks' thresholds and issue texts, judged from
    ``stats`` over a batch with ``columns``."""
    issues: list[str] = []
    n = stats.rows
    metrics = {"rows": n}
    has_dt = datetime_col in columns
    if has_dt:
        metrics[f"min_{datetime_col}"] = stats.lo
        metrics[f"max_{datetime_col}"] = stats.hi
    if n < min_rows:
        issues.append(f"too few rows: {n} < {min_rows}")

    if n > 0:
        for c in columns:
            null_pct = stats.nulls[c] / n
            metrics[f"null_pct_{c}"] = null_pct
            if null_pct > max_null_pct:
                issues.append(f"null ratio {null_pct:.3f} > {max_null_pct} in {c}")
        if has_dt and stats.nulls[datetime_col] == n:
            issues.append(f"{datetime_col} entirely null")
        for c in positive_cols:
            mn = stats.mins.get(c)
            metrics[f"min_{c}"] = mn
            if mn is not None and mn <= 0:
                issues.append(f"non-positive values in {c}: min={mn}")

    return QualityReport(ok=not issues, issues=issues, metrics=metrics)


def batch_stats(
    df: DataFrame,
    footers: list | None = None,
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
) -> BatchStats:
    """``df``'s ``BatchStats``: from ``footers`` (the footers of the
    files ``df`` reads) when given and exact, else from the aggregate."""
    stats = None
    if footers is not None:
        stats = footer_stats(footers, df.schema, positive_cols, datetime_col)
    return stats or aggregate_stats(df, positive_cols, datetime_col)


def check_quality(
    df: DataFrame,
    required_cols: tuple[str, ...] = REQUIRED_COLS,
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
    min_rows: int = MIN_ROWS_THRESHOLD,
    max_null_pct: float = MAX_NULL_PCT,
    footers: list | None = None,
) -> QualityReport:
    """The reference's five checks over ``df``. ``footers`` are the
    Parquet footers of the files ``df`` reads (as plain
    ``spark.read.parquet`` reads them, with at most casts in between);
    given, the value checks are judged from them when they are exact."""
    columns = df.schema.fieldNames()
    # schema-level check first: no data scan needed (P7)
    missing = set(required_cols) - set(columns)
    if missing:
        return QualityReport(
            ok=False,
            issues=[f"missing required columns: {sorted(missing)}"],
            metrics={},
        )
    stats = batch_stats(df, footers, positive_cols, datetime_col)
    return quality_report(
        stats, columns, positive_cols, datetime_col, min_rows, max_null_pct
    )
