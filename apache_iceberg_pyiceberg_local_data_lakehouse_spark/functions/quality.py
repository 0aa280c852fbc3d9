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
and the schema check never touches data at all. The same pass reports the
batch's ``datetime_col`` range, which ingest hands to the dedup anti-join
as its key bounds instead of scanning the batch again.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

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

    # schema-level check first: no data scan needed (P7)
    missing = set(required_cols) - set(df.columns)
    if missing:
        return QualityReport(
            ok=False,
            issues=[f"missing required columns: {sorted(missing)}"],
            metrics={},
        )

    # single-pass aggregate: count, null counts, mins, datetime range
    has_dt = datetime_col in df.columns
    aggs = [F.count(F.lit(1)).alias("__rows")]
    if has_dt:
        aggs += [F.min(datetime_col).alias("__lo"), F.max(datetime_col).alias("__hi")]
    for c in df.columns:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__nulls_{c}"))
    for c in positive_cols:
        if isinstance(df.schema[c].dataType, NumericType):
            aggs.append(F.min(F.col(c)).alias(f"__min_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    n = row["__rows"]
    metrics = {"rows": n}
    if has_dt:
        metrics[f"min_{datetime_col}"] = row["__lo"]
        metrics[f"max_{datetime_col}"] = row["__hi"]
    if n < min_rows:
        issues.append(f"too few rows: {n} < {min_rows}")

    if n > 0:
        for c in df.columns:
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
