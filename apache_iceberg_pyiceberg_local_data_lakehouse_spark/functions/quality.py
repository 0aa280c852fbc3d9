"""Quality gates (reference ``check_data_quality``,
``/root/reference/lakehouse_pipeline.py:133-171``; thresholds ``:73-74``).

The reference runs five checks over each incoming batch:
1. min rows (>= 100)                          ``:137``
2. required columns present ({DateTime,Bid,Ask}) ``:141-144``
3. null ratio per column <= 5%                ``:147-152``
4. DateTime not all-null + parseable          ``:154-158``
5. Bid/Ask strictly positive (min > 0)        ``:161-168``

Here all value-level checks collapse into ONE aggregation pass (A1 + A2 +
A4 + A5 as a single job - at 100 TB you never scan a batch five times),
built as one ``selectExpr`` of SQL text from one read of the schema, and
the schema check never touches data at all. The same pass reports the
batch's ``datetime_col`` range, which ingest hands to the dedup anti-join
as its key bounds instead of scanning the batch again.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import NumericType

from . import quote_ident

MIN_ROWS_THRESHOLD = 100  # lakehouse_pipeline.py:73
MAX_NULL_PCT = 0.05  # lakehouse_pipeline.py:74
REQUIRED_COLS = ("DateTime", "Bid", "Ask")  # lakehouse_pipeline.py:141
POSITIVE_COLS = ("Bid", "Ask")  # lakehouse_pipeline.py:161-168


@dataclass
class QualityReport:
    ok: bool
    issues: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


def check_quality(
    df: DataFrame,
    required_cols: tuple[str, ...] = REQUIRED_COLS,
    positive_cols: tuple[str, ...] = POSITIVE_COLS,
    datetime_col: str = "DateTime",
    min_rows: int = MIN_ROWS_THRESHOLD,
    max_null_pct: float = MAX_NULL_PCT,
) -> QualityReport:
    issues: list[str] = []
    types = {f.name: f.dataType for f in df.schema.fields}

    # schema-level check first: no data scan needed (P7)
    missing = set(required_cols) - set(types)
    if missing:
        return QualityReport(
            ok=False,
            issues=[f"missing required columns: {sorted(missing)}"],
            metrics={},
        )

    # single-pass aggregate: count, null counts, mins, datetime range,
    # as SQL text read back by position
    cols = list(types)
    has_dt = datetime_col in types
    aggs = {"__rows": "count(1)"}
    if has_dt:
        q = quote_ident(datetime_col)
        aggs["__lo"], aggs["__hi"] = f"min({q})", f"max({q})"
    for c in cols:
        aggs[f"__nulls_{c}"] = f"count(1) - count({quote_ident(c)})"
    for c in positive_cols:
        if isinstance(types[c], NumericType):
            aggs[f"__min_{c}"] = f"min({quote_ident(c)})"
    row = dict(zip(aggs, df.selectExpr(*aggs.values()).collect()[0]))

    n = row["__rows"]
    metrics = {"rows": n}
    if has_dt:
        metrics[f"min_{datetime_col}"] = row["__lo"]
        metrics[f"max_{datetime_col}"] = row["__hi"]
    if n < min_rows:
        issues.append(f"too few rows: {n} < {min_rows}")

    if n > 0:
        for c in cols:
            null_pct = row[f"__nulls_{c}"] / n
            metrics[f"null_pct_{c}"] = null_pct
            if null_pct > max_null_pct:
                issues.append(f"null ratio {null_pct:.3f} > {max_null_pct} in {c}")
        if has_dt and row[f"__nulls_{datetime_col}"] == n:
            issues.append(f"{datetime_col} entirely null")
        for c in positive_cols:
            mn = row.get(f"__min_{c}")
            metrics[f"min_{c}"] = mn
            if mn is not None and mn <= 0:
                issues.append(f"non-positive values in {c}: min={mn}")

    return QualityReport(ok=not issues, issues=issues, metrics=metrics)
