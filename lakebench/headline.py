"""The twelve headline queries, traced once per traced ``mutate`` run.

The ``queries`` layer has no workload of its own: a read-only workload
would add a third Spark start-up, cold pass and set-up to every
comparison, and the time limit of a comparison does not hold three
(``bench.py`` already times these queries end to end). Instead the
traced ``mutate`` run, after its loop, writes the star and event/text/
vector tables the queries read, runs an untimed warm pass whose every
result must equal its DuckDB oracle, then one traced pass (by registry
name, materialized with ``count()``) whose row counts must equal the
warm pass's.
"""

from __future__ import annotations

import time

from lakebench.common import Run, rowset
from lakebench.gen import STAR_TABLES, write_star

SF = 0.02
# One query per plan shape (the repository's bench.py headline set).
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q13_top_orders_per_customer",
    "q16_status_priority_rollup",
    "q30_events_tumbling_1h",
    "q32_events_sessionization",
    "q41_dedup_token_jaccard",
    "q43_token_frequency",
    "q50_knn_bruteforce",
    "q51_embedding_norms_by_label",
)


def plan_ms(df) -> float:
    """Catalyst analysis, optimization and planning time of ``df``'s
    own query execution, forced here."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def check_queries(run: Run, inputs: str) -> dict[str, int]:
    """Untimed warm pass: every query's result against its DuckDB
    oracle. Returns each query's row count, which checks later passes."""
    import duckdb

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.queries import (
        ORACLES,
        QUERIES,
    )

    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
        expected = {}
        for name in HEADLINE:
            df = QUERIES[name](run.spark, inputs)
            rows = [tuple(r) for r in df.collect()]
            res = con.execute(ORACLES[name])
            o_cols = [d[0] for d in res.description]
            ok = rowset(df.columns, rows) == rowset(o_cols, res.fetchall())
            run.final_check(ok, f"{name} differs from its DuckDB oracle")
            expected[name] = len(rows)
    finally:
        con.close()
    return expected


def traced_pass(run: Run, tracer) -> None:
    """Write the query inputs from the run's seed, check every query
    against its oracle, then time one traced pass. The pass is one
    ``queries.pass`` span with a ``queries.<name>`` span per query; its
    wall time goes to ``run.calls["query_pass"]``."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.queries import QUERIES

    inputs = run.path("headline")
    write_star(inputs, run.seed, SF)
    expected = check_queries(run, inputs)
    counts = {}
    run.attempted += 1
    with tracer.span("queries.pass") as p:
        for name in HEADLINE:
            with tracer.span(f"queries.{name}") as span:
                df = QUERIES[name](run.spark, inputs)
                t0 = time.perf_counter()  # forcing the plan is tracer work
                span.counts["plan_ms"] = plan_ms(df)
                span.overhead += time.perf_counter() - t0
                counts[name] = df.count()
    bookkeeping = sum(s.overhead for s in tracer.spans if s.op == p.op)
    run.calls.setdefault("query_pass", []).append(p.duration - bookkeeping)
    run.verify(counts == expected, f"traced query row counts {counts}")
