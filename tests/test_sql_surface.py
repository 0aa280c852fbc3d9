"""SQL entry point: lakehouse tables as Spark temp views.

``catalog.sql`` re-registers every table's current snapshot scan as a
temp view and runs the statement — the surface for users who drive the
warehouse from SQL instead of the Python API. Views are DataFrame-backed,
so Catalyst still pushes filters/projections through them into the
manifest-pruned parquet scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import LakehouseCatalog

from test_table_format import TICK_SCHEMA, tick_df


@pytest.fixture
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def test_sql_matches_scan(catalog, spark):
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=20))
    got = catalog.sql(
        "SELECT COUNT(*) AS n, MIN(Bid) AS lo FROM gold_ticks"
    ).first()
    assert got["n"] == 20
    assert got["lo"] == t.to_df().agg(F.min("Bid")).first()[0]


def test_sql_sees_latest_commit(catalog, spark):
    t = catalog.create_table("gold.fresh", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    assert catalog.sql("SELECT COUNT(*) n FROM gold_fresh").first()["n"] == 5
    t.append(tick_df(spark, n=3, start="2024-02-01 00:00:00"))
    # catalog.sql re-registers: the new snapshot is visible
    assert catalog.sql("SELECT COUNT(*) n FROM gold_fresh").first()["n"] == 8


def test_time_travel_view(catalog, spark):
    t = catalog.create_table("gold.tt", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=4))  # v1
    t.append(tick_df(spark, n=6, start="2024-02-01 00:00:00"))  # v2
    catalog.create_view("gold.tt", view_name="tt_v1", version=1)
    assert spark.sql("SELECT COUNT(*) n FROM tt_v1").first()["n"] == 4


def test_sql_join_across_tables(catalog, spark):
    a = catalog.create_table("gold.a", TICK_SCHEMA, [])
    b = catalog.create_table("gold.b", TICK_SCHEMA, [])
    a.append(tick_df(spark, n=10))
    b.append(tick_df(spark, n=5))
    got = catalog.sql(
        """
        SELECT COUNT(*) AS n
        FROM gold_a x JOIN gold_b y ON x.DateTime = y.DateTime
        """
    ).first()
    assert got["n"] == 5


def test_filter_pushes_through_view(catalog, spark):
    t = catalog.create_table("gold.push", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=50))
    catalog.register_views("gold")
    plan = spark.sql(
        "SELECT Bid FROM gold_push WHERE Bid > 1.12"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(Bid), GreaterThan(Bid" in plan
    # projection pruned to the selected column
    assert "ReadSchema: struct<Bid:double>" in plan


def test_register_views_namespaced(catalog, spark):
    catalog.create_namespace("bronze")
    t = catalog.create_table("bronze.x", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=2))
    names = catalog.register_views("bronze")
    assert names == ["bronze_x"]


def test_pinned_view_requires_explicit_name(catalog, spark):
    t = catalog.create_table("gold.pin", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    t.append(tick_df(spark, n=2, start="2024-02-01 00:00:00"))
    with pytest.raises(ValueError, match="view_name"):
        catalog.create_view("gold.pin", version=1)
    # with its own name, the pin survives a sql() refresh
    catalog.create_view("gold.pin", view_name="pin_v1", version=1)
    assert catalog.sql("SELECT COUNT(*) n FROM pin_v1").first()["n"] == 3


def test_register_views_detects_name_collisions(catalog, spark):
    catalog.create_namespace("gold_a")
    a = catalog.create_table("gold.a_b", TICK_SCHEMA, [])
    b = catalog.create_table("gold_a.b", TICK_SCHEMA, [])
    a.append(tick_df(spark, n=1))
    b.append(tick_df(spark, n=2))
    with pytest.raises(ValueError, match="collision"):
        catalog.register_views()


def test_sql_delete_dml(catalog, spark):
    """DELETE FROM routes to the copy-on-write engine and the next SQL
    read sees the shrunken table."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=20))
    out = catalog.sql(
        "DELETE FROM gold.ticks WHERE Bid < 1.105"
    ).first()
    assert out["operation"] == "delete"
    assert out["version"] == t.current_version()
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_ticks").first()["n"] == 15


def test_sql_update_dml(catalog, spark):
    """UPDATE ... SET with a function call containing commas parses and
    applies only to matched rows."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    catalog.sql(
        "UPDATE gold.ticks SET Bid = greatest(Bid, 9.0), Ask = 0.0 "
        "WHERE Bid >= 1.105"
    )
    df = t.to_df()
    assert df.filter(F.col("Bid") == 9.0).count() == 5
    assert df.filter(F.col("Ask") == 0.0).count() == 5
    # untouched rows keep their values
    assert df.filter(F.col("Bid") < 1.105).count() == 5


def test_sql_update_malformed_set_raises(catalog, spark):
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    with pytest.raises(ValueError, match="malformed SET"):
        catalog.sql("UPDATE gold.ticks SET Bid WHERE Bid > 0")


def test_sql_select_mentioning_delete_still_selects(catalog, spark):
    """Only statements STARTING with DML verbs route to the engines."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    got = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold_ticks WHERE 'delete from x where y' <> ''"
    ).first()
    assert got["n"] == 5


def test_sql_optimize_statement(catalog, spark):
    """OPTIMIZE compiles to compaction: small files merge and the scan
    still answers correctly."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    for i in range(4):
        t.append(tick_df(spark, n=10, start=f"2024-01-0{i+1} 00:00:00").coalesce(1))
    before = len(t.snapshot().manifest)
    out = catalog.sql("OPTIMIZE gold.ticks").first()
    assert out["operation"] == "optimize"
    assert out["compacted_files"] == before
    assert len(t.snapshot().manifest) < before
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_ticks").first()["n"] == 40


def test_sql_optimize_where_partition_filter(catalog, spark):
    """r9: OPTIMIZE t WHERE <partition predicate> (Delta parity)
    compacts ONLY matching partitions - the cold year's fragments stay
    byte-for-byte untouched - and a predicate over a non-partition
    column raises instead of silently compacting everything."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    t = catalog.create_table(
        "gold.pticks",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    for _ in range(3):
        t.append(
            tick_df(spark, n=10, start="2020-01-01 00:00:00")
            .union(tick_df(spark, n=10, start="2021-01-01 00:00:00"))
            .coalesce(1)
        )

    def by_year():
        out = {}
        for e in t.snapshot().manifest:
            out.setdefault(
                e["partition"]["DateTime_year"], []
            ).append(e["path"])
        return out

    before = by_year()
    assert len(before["2020"]) == 3 and len(before["2021"]) == 3
    out = catalog.sql(
        "OPTIMIZE gold.pticks WHERE DateTime_year = '2021'"
    ).first()
    assert out["operation"] == "optimize"
    after = by_year()
    assert len(after["2021"]) == 1  # hot partition compacted
    assert sorted(after["2020"]) == sorted(before["2020"])  # untouched
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_pticks").first()["n"]
        == 60
    )
    with _pytest.raises(ValueError, match="partition columns"):
        catalog.sql("OPTIMIZE gold.pticks WHERE Bid > 0")
    # WHERE composes with ZORDER BY (the full Delta spelling parses)
    out = catalog.sql(
        "OPTIMIZE gold.pticks WHERE DateTime_year = '2020' "
        "ZORDER BY (Bid)"
    ).first()
    assert out["operation"] == "optimize"
    assert len(by_year()["2020"]) == 1


def test_optimize_where_spec_declared_universe(catalog, spark):
    """ADVICE r9: the OPTIMIZE ... WHERE candidate universe is the
    DECLARED spec unioned with file-derived keys - an empty partitioned
    table is a no-op (not 'needs a partitioned table'), and right after
    ADD PARTITION FIELD the advertised `field IS NULL` addressing of
    pre-evolution files works before any partitioned append."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    # empty partitioned table: no-op, no error
    t0 = catalog.create_table(
        "gold.poptempty",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    out = catalog.sql(
        "OPTIMIZE gold.poptempty WHERE DateTime_year = '2020'"
    ).first()
    assert out["operation"] == "optimize"
    del t0
    # unpartitioned files + a freshly added partition field:
    # `field IS NULL` selects (and compacts) the pre-evolution files
    t = catalog.create_table("gold.poptevo", TICK_SCHEMA, [])
    for _ in range(3):
        t.append(tick_df(spark, n=10).coalesce(1))
    catalog.sql(
        "ALTER TABLE gold.poptevo ADD PARTITION FIELD years(DateTime)"
    )
    t = catalog.load_table("gold.poptevo")
    assert len(t.snapshot().data_entries) == 3
    out = catalog.sql(
        "OPTIMIZE gold.poptevo WHERE DateTime_year IS NULL"
    ).first()
    assert out["operation"] == "optimize"
    t = catalog.load_table("gold.poptevo")
    assert len(t.snapshot().data_entries) == 1
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_poptevo").first()["n"]
        == 30
    )


def test_sql_alter_cluster_by(catalog, spark):
    """r9: ALTER TABLE ... CLUSTER BY (cols) declares the table's
    z-order layout (Delta's liquid-clustering spelling); subsequent
    OPTIMIZE applies it with no explicit ZORDER clause, NONE clears,
    unknown columns raise."""
    import pytest as _pytest

    t = catalog.create_table("gold.clus", TICK_SCHEMA, [])
    for i in range(3):
        t.append(
            tick_df(spark, n=10, start=f"2024-03-0{i+1} 00:00:00").coalesce(1)
        )
    out = catalog.sql(
        "ALTER TABLE gold.clus CLUSTER BY (Bid, Ask)"
    ).first()
    assert out["operation"] == "alter cluster by"
    assert t.properties()["write.zorder-by"] == "Bid,Ask"
    out = catalog.sql("OPTIMIZE gold.clus").first()
    assert out["compacted_files"] == 3  # the declared layout applied
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_clus").first()["n"]
        == 30
    )
    catalog.sql("ALTER TABLE gold.clus CLUSTER BY NONE")
    assert (
        catalog.load_table("gold.clus").properties()["write.zorder-by"]
        == ""
    )
    with _pytest.raises(ValueError, match="unknown columns"):
        catalog.sql("ALTER TABLE gold.clus CLUSTER BY (nope)")


def test_sql_vacuum_statement(catalog, spark):
    """VACUUM RETAIN 0 HOURS expires unprotected snapshots."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    for i in range(5):
        t.append(tick_df(spark, n=5, start=f"2024-02-0{i+1} 00:00:00"))
    n_before = len(t.snapshots())
    out = catalog.sql("VACUUM gold.ticks RETAIN 0 HOURS").first()
    assert out["operation"] == "vacuum"
    assert out["expired_snapshots"] > 0
    assert len(t.snapshots()) < n_before
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_ticks").first()["n"] == 25


def test_sql_truncate_statement(catalog, spark):
    """TRUNCATE TABLE is metadata-only: rows vanish at head, time
    travel still reads them, no data was rewritten."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=20))
    v = t.current_version()
    out = catalog.sql("TRUNCATE TABLE gold.ticks").first()
    assert out["operation"] == "truncate"
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_ticks").first()["n"] == 0
    assert t.scan(snapshot=t.snapshot(v)).count() == 20
    assert t.snapshot().summary["truncated"] is True
    # table accepts fresh appends after the truncate
    t.append(tick_df(spark, n=3))
    assert t.to_df().count() == 3


def test_sql_insert_into_statement(catalog, spark):
    """INSERT INTO ... SELECT appends the query result; the source may
    read the target's own pre-insert view."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    out = catalog.sql(
        "INSERT INTO gold.ticks "
        "SELECT DateTime, Bid + 100.0 AS Bid, Ask FROM gold_ticks "
        "WHERE Bid < 1.105"
    ).first()
    assert out["operation"] == "insert"
    df = t.to_df()
    assert df.count() == 15
    assert df.filter(F.col("Bid") > 100).count() == 5


def test_sql_insert_overwrite_statement(catalog, spark):
    """INSERT OVERWRITE swaps exactly the partitions the SELECT
    produces (dynamic overwrite through SQL)."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    t = catalog.create_table(
        "gold.days", TICK_SCHEMA, [PartitionField("DateTime", "days")]
    )
    for d in ("2024-01-01", "2024-01-02"):
        t.append(tick_df(spark, n=10, start=f"{d} 00:00:00"))
    catalog.sql(
        "INSERT OVERWRITE gold.days "
        "SELECT DateTime, 5.0 AS Bid, Ask FROM gold_days "
        "WHERE CAST(DateTime AS DATE) = DATE '2024-01-02' AND Ask > 1.205"
    )
    df = t.to_df()
    assert df.filter(F.col("DateTime").cast("date") == "2024-01-01").count() == 10
    day2 = df.filter(F.col("DateTime").cast("date") == "2024-01-02")
    assert day2.count() == 4  # Ask > 1.205 kept 4 of 10
    assert day2.filter(F.col("Bid") == 5.0).count() == 4


def test_sql_ctas_statement(catalog, spark):
    """CREATE TABLE ... PARTITIONED BY (days(ts)) AS SELECT: schema from
    the query, data as the first append, hidden partitioning applied."""
    t0 = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t0.append(tick_df(spark, n=20))
    out = catalog.sql(
        "CREATE TABLE gold.big PARTITIONED BY (days(DateTime)) AS "
        "SELECT DateTime, Bid FROM gold_ticks WHERE Bid >= 1.11"
    ).first()
    assert out["operation"] == "create table as"
    assert out["rows"] == 10
    t = catalog.load_table("gold.big")
    assert t.to_df().count() == 10
    assert [p.transform for p in t.partition_spec] == ["days"]
    with pytest.raises(ValueError, match="already exists"):
        catalog.sql("CREATE TABLE gold.big AS SELECT * FROM gold_ticks")


def test_sql_drop_table_statement(catalog, spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        NoSuchTableError,
    )

    t = catalog.create_table("gold.tmp", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    out = catalog.sql("DROP TABLE gold.tmp").first()
    assert out["existed"] is True
    assert not catalog.table_exists("gold.tmp")
    with pytest.raises(NoSuchTableError):
        catalog.sql("DROP TABLE gold.tmp")
    assert catalog.sql("DROP TABLE IF EXISTS gold.tmp").first()["existed"] is False


def test_sql_insert_rejects_null_producing_cast(catalog, spark):
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    with pytest.raises(ValueError, match="produced NULLs"):
        catalog.sql(
            "INSERT INTO gold.ticks "
            "SELECT 'not-a-timestamp', Bid, Ask FROM gold_ticks"
        )
    assert t.to_df().count() == 5  # nothing committed


def test_sql_drop_if_exists_flexible_whitespace(catalog, spark):
    out = catalog.sql("DROP TABLE IF  EXISTS gold.never_made").first()
    assert out["existed"] is False


def test_sql_update_escaped_quote_in_string(catalog, spark):
    """Backslash-escaped quotes inside SET string literals must not
    break the top-level comma split."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    t = catalog.create_table("gold.names2", df.schema, [])
    t.append(df)
    catalog.sql(
        "UPDATE gold.names2 SET name = 'O\\'Brien, Jr', id = id + 10 "
        "WHERE id = 1"
    )
    rows = {r["id"]: r["name"] for r in t.to_df().collect()}
    assert rows[11] == "O'Brien, Jr"
    assert rows[2] == "y"


def test_sql_stored_views(catalog, spark):
    """CREATE VIEW persists the definition; queries see live table
    state; DROP VIEW removes it."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    catalog.sql(
        "CREATE VIEW gold.high AS "
        "SELECT * FROM gold_ticks WHERE Bid >= 1.105"
    )
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_high").first()["n"] == 5
    # a stored view tracks LIVE table state (re-registered per query)
    t.append(tick_df(spark, n=10, start="2025-01-01 00:00:00"))
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_high").first()["n"] == 10
    # persistence: a fresh catalog object sees the stored definition
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    cat2 = LakehouseCatalog(spark, catalog.warehouse)
    assert cat2.sql("SELECT COUNT(*) AS n FROM gold_high").first()["n"] == 10

    with pytest.raises(ValueError, match="already exists"):
        catalog.sql("CREATE VIEW gold.high AS SELECT 1 AS x")
    catalog.sql("CREATE OR REPLACE VIEW gold.high AS "
                "SELECT * FROM gold_ticks WHERE Bid < 1.105")
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_high").first()["n"] == 10

    out = catalog.sql("DROP VIEW gold.high").first()
    assert out["existed"] is True
    with pytest.raises(ValueError, match="no such view"):
        catalog.sql("DROP VIEW gold.high")
    assert catalog.sql("DROP VIEW IF EXISTS gold.high").first()["existed"] is False


def test_sql_stored_views_chain(catalog, spark):
    """Stored views may reference other stored views regardless of
    definition order (two-pass registration)."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    # define the DEPENDENT first to exercise the retry pass
    catalog.create_stored_view(
        "gold.b", "SELECT COUNT(*) AS n FROM gold_a"
    )
    catalog.create_stored_view(
        "gold.a", "SELECT * FROM gold_ticks WHERE Bid >= 1.105"
    )
    assert catalog.sql("SELECT n FROM gold_b").first()["n"] == 5


def test_sql_show_and_describe(catalog, spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    catalog.create_namespace("silver")
    catalog.create_table(
        "gold.ticks", TICK_SCHEMA, [PartitionField("DateTime", "days")]
    )
    catalog.create_table("silver.raw", TICK_SCHEMA, [])
    rows = {(r["namespace"], r["table"])
            for r in catalog.sql("SHOW TABLES").collect()}
    assert rows == {("gold", "ticks"), ("silver", "raw")}
    only = catalog.sql("SHOW TABLES IN silver").collect()
    assert [(r["namespace"], r["table"]) for r in only] == [("silver", "raw")]

    desc = {r["column"]: r for r in catalog.sql("DESCRIBE gold.ticks").collect()}
    assert desc["DateTime"]["type"] == "timestamp"
    assert desc["DateTime"]["partition"] == "days(DateTime)"
    assert desc["Bid"]["partition"] is None


def test_sql_materialized_view(catalog, spark):
    """MV lifecycle: create materializes the query, the MV is stale
    until REFRESH re-runs it atomically, time travel keeps the prior
    refresh."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    out = catalog.sql(
        "CREATE MATERIALIZED VIEW gold.daily AS "
        "SELECT CAST(DateTime AS DATE) AS day, COUNT(*) AS n, "
        "SUM(Bid) AS bid_sum FROM gold_ticks GROUP BY 1"
    ).first()
    assert out["rows"] == 1
    assert catalog.sql("SELECT n FROM gold_daily").first()["n"] == 10

    # base table grows; the MV is stale until refreshed
    t.append(tick_df(spark, n=5, start="2024-01-02 00:00:00"))
    assert catalog.sql("SELECT COUNT(*) AS d FROM gold_daily").first()["d"] == 1
    mv = catalog.load_table("gold.daily")
    v_before = mv.current_version()
    catalog.sql("REFRESH MATERIALIZED VIEW gold.daily")
    rows = {r["day"].isoformat(): r["n"]
            for r in catalog.sql("SELECT * FROM gold_daily").collect()}
    assert rows == {"2024-01-01": 10, "2024-01-02": 5}
    # prior refresh still time-travels
    assert mv.scan(snapshot=mv.snapshot(v_before)).count() == 1

    with pytest.raises(ValueError, match="not a materialized view"):
        catalog.refresh_materialized_view("gold.ticks")


def test_sql_mv_refresh_to_empty(catalog, spark):
    """ADVICE r5: full-refresh semantics - when the stored query now
    yields zero rows, REFRESH must EMPTY the MV (explicit truncate
    commit), not silently keep the previous contents."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    catalog.sql(
        "CREATE MATERIALIZED VIEW gold.highs AS "
        "SELECT * FROM gold_ticks WHERE Bid > 0"
    )
    assert catalog.sql("SELECT COUNT(*) n FROM gold_highs").first()["n"] == 10
    mv = catalog.load_table("gold.highs")
    v_full = mv.current_version()
    catalog.sql("DELETE FROM gold.ticks")  # whole-table delete, no WHERE
    catalog.sql("REFRESH MATERIALIZED VIEW gold.highs")
    assert catalog.sql("SELECT COUNT(*) n FROM gold_highs").first()["n"] == 0
    # the pre-refresh contents still time-travel
    assert mv.scan(snapshot=mv.snapshot(v_full)).count() == 10


def test_sql_delete_all_and_update_all(catalog, spark):
    """Whole-table DELETE (metadata-only truncate path) and UPDATE
    without WHERE (standard SQL: every row) both parse and commit."""
    t = catalog.create_table("gold.d", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=8))
    v1 = t.current_version()
    catalog.sql("UPDATE gold.d SET Bid = 0.5")
    assert t.to_df().filter(F.col("Bid") != 0.5).count() == 0
    assert t.to_df().count() == 8
    out = catalog.sql("DELETE FROM gold.d").first()
    assert out["operation"] == "delete"
    assert t.to_df().count() == 0
    # truncate is metadata-only: prior snapshots still reachable
    assert t.scan(snapshot=t.snapshot(v1)).count() == 8


def test_sql_update_where_inside_string_literal(catalog, spark):
    """ADVICE r5: the SET/WHERE split is quote/paren-aware - an
    assignment whose string literal (or subexpression) contains the
    word WHERE must not mis-parse."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, tag string"
    )
    t = catalog.create_table("gold.s", df.schema)
    t.append(df)
    catalog.sql("UPDATE gold.s SET tag = 'x WHERE y' WHERE k = 2")
    rows = {r["k"]: r["tag"] for r in t.to_df().collect()}
    assert rows == {1: "a", 2: "x WHERE y", 3: "c"}
    # parenthesized subexpression containing WHERE-ish text + function call
    catalog.sql(
        "UPDATE gold.s SET tag = concat(tag, ' WHERE ', 'z') WHERE k = 1"
    )
    rows = {r["k"]: r["tag"] for r in t.to_df().collect()}
    assert rows[1] == "a WHERE z"
    with pytest.raises(ValueError, match="WHERE keyword but no condition"):
        catalog.sql("UPDATE gold.s SET tag = 'q' WHERE ")


def test_sql_time_travel_version_as_of(catalog, spark):
    """<table> VERSION AS OF n reads the pinned snapshot; two versions
    of one table compose in a single statement; view names and dotted
    identifiers both resolve."""
    t = catalog.create_table("gold.tt2", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=4))
    v1 = t.current_version()
    t.append(tick_df(spark, n=6, start="2024-02-01 00:00:00"))
    got = catalog.sql(
        f"SELECT COUNT(*) AS n FROM gold_tt2 VERSION AS OF {v1}"
    ).first()["n"]
    assert got == 4
    row = catalog.sql(
        "SELECT (SELECT COUNT(*) FROM gold_tt2) AS cur, "
        f"(SELECT COUNT(*) FROM gold.tt2 FOR VERSION AS OF {v1}) AS old"
    ).first()
    assert (row["cur"], row["old"]) == (10, 4)
    with pytest.raises(Exception):
        catalog.sql("SELECT * FROM gold_tt2 VERSION AS OF 999")


def test_sql_time_travel_timestamp_as_of(catalog, spark):
    import datetime as dt
    import time as _time

    t = catalog.create_table("gold.tt3", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    v1 = t.current_version()
    ts1 = t.snapshot(v1).timestamp_ms
    _time.sleep(0.05)  # the second commit must be strictly later
    t.append(tick_df(spark, n=5, start="2024-03-01 00:00:00"))
    iso = dt.datetime.fromtimestamp(
        ts1 / 1000, tz=dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S.%f")
    got = catalog.sql(
        f"SELECT COUNT(*) AS n FROM gold_tt3 TIMESTAMP AS OF '{iso}'"
    ).first()["n"]
    assert got == 3
    with pytest.raises(ValueError, match="ISO timestamp"):
        catalog.sql("SELECT * FROM gold_tt3 TIMESTAMP AS OF 'not-a-ts'")


def test_mv_incremental_refresh(catalog, spark):
    """A pure-filter MV refreshes incrementally: only the base's
    append-diff is processed (the refresh commit is an APPEND, not a
    rewrite), an up-to-date MV is a no-op, and base DML falls back to
    a full refresh with the same final contents."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    mv = catalog.create_materialized_view(
        "gold.highs", "SELECT DateTime, Bid FROM gold_ticks WHERE Bid > 1.104"
    )
    assert mv.properties().get("mv.base_table") == "gold.ticks"
    n0 = mv.to_df().count()
    assert n0 == 5  # ids 5..9 have Bid > 1.104

    # up to date: refresh commits nothing
    v_before = mv.current_version()
    assert catalog.refresh_materialized_view("gold.highs") is None
    assert mv.current_version() == v_before

    # append-only base growth: incremental (append commit, O(new data))
    t.append(tick_df(spark, n=10, start="2024-02-01 00:00:00"))
    snap = catalog.refresh_materialized_view("gold.highs")
    assert snap.operation == "append"
    assert mv.to_df().count() == 10
    # and again a no-op
    assert catalog.refresh_materialized_view("gold.highs") is None

    # base DML in range: incremental impossible -> full refresh
    catalog.sql("DELETE FROM gold.ticks WHERE Bid > 1.108")
    snap = catalog.refresh_materialized_view("gold.highs")
    assert snap.operation in ("overwrite", "delete")
    expect = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold_ticks WHERE Bid > 1.104"
    ).first()["n"]
    assert mv.to_df().count() == expect
    # the fallback re-pinned the base version: next refresh is a no-op
    assert catalog.refresh_materialized_view("gold.highs") is None


def test_mv_global_aggregate_incremental(catalog, spark):
    """A keyless COUNT/SUM MV is the global-aggregate tier: the diff's
    single partial row combines with the one-row materialization -
    never a base rescan - and stays exact across appends."""
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    mv = catalog.create_materialized_view(
        "gold.agg", "SELECT COUNT(*) AS n, SUM(Bid) AS s FROM gold_ticks"
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    assert mv.properties().get("mv.base_table") == "gold.ticks"
    t.append(tick_df(spark, n=5, start="2024-03-01 00:00:00"))
    snap = catalog.refresh_materialized_view("gold.agg")
    assert snap is not None
    got = catalog.sql("SELECT n, s FROM gold_agg").first()
    expect = catalog.sql(
        "SELECT COUNT(*) AS n, SUM(Bid) AS s FROM gold_ticks"
    ).first()
    assert got["n"] == expect["n"] == 15
    assert got["s"] == pytest.approx(expect["s"])
    # up to date: no-op; DML in range: full-refresh fallback, still exact
    assert catalog.refresh_materialized_view("gold.agg") is None
    catalog.sql("DELETE FROM gold.ticks WHERE Bid > 1.108")
    catalog.refresh_materialized_view("gold.agg")
    got = catalog.sql("SELECT n FROM gold_agg").first()["n"]
    assert got == catalog.sql(
        "SELECT COUNT(*) AS n FROM gold_ticks"
    ).first()["n"]


def test_sql_inspect_verbs(catalog, spark):
    """DESCRIBE HISTORY / SHOW PARTITIONS / SHOW REFS / VACUUM DRY RUN
    route to the metadata tables without touching data."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    t = catalog.create_table(
        "gold.ticks", TICK_SCHEMA, [PartitionField("DateTime", "years")]
    )
    t.append(tick_df(spark, year=2023, n=4))
    t.append(tick_df(spark, year=2024, n=6))
    t.create_tag("audit")

    hist = catalog.sql("DESCRIBE HISTORY gold.ticks").collect()
    assert len(hist) >= 3  # create + 2 appends
    parts = catalog.sql("SHOW PARTITIONS gold.ticks").collect()
    assert len(parts) == 2
    assert {sum(r["rows"] for r in parts)} == {10}
    refs = catalog.sql("SHOW REFS gold.ticks").collect()
    assert any(r["name"] == "audit" for r in refs)
    out = catalog.sql("VACUUM gold.ticks RETAIN 0 HOURS DRY RUN").first()
    assert out["operation"] == "vacuum (dry run)"
    assert t.to_df().count() == 10  # dry run touched nothing


def test_sql_analyze_and_show_stats(catalog, spark):
    t = catalog.create_table("gold.ticks", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    out = catalog.sql("ANALYZE TABLE gold.ticks FOR COLUMNS (Bid, Ask)").first()
    assert out["operation"] == "analyze"
    stats = {r["column"]: r for r in catalog.sql("SHOW STATS gold.ticks").collect()}
    assert set(stats) == {"Bid", "Ask"}
    assert stats["Bid"]["table_rows"] == 10
    assert stats["Bid"]["n_nulls"] == 0


# -- incremental MV maintenance, distributive-aggregate tier (r7) -------


def _sales_df(spark, rows):
    return spark.createDataFrame(rows, "cat string, v long")


def test_mv_agg_incremental_refresh(catalog, spark):
    """GROUP BY + COUNT/SUM/MIN/MAX refreshes by MERGING the diff's
    partial aggregates into the materialization: append-only base
    growth commits a merge (O(delta + touched groups)), existing
    groups combine, new groups insert, untouched groups survive, and
    the result always equals the full recompute."""
    t = catalog.create_table(
        "gold.sales", _sales_df(spark, []).schema
    )
    t.append(_sales_df(spark, [("a", 1), ("a", 5), ("b", 10)]))
    mv = catalog.create_materialized_view(
        "gold.by_cat",
        "SELECT cat, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_sales GROUP BY cat",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    assert mv.properties().get("mv.base_table") == "gold.sales"

    # up to date: no commit
    assert catalog.refresh_materialized_view("gold.by_cat") is None

    # grow an existing group + introduce a new one
    t.append(_sales_df(spark, [("a", 100), ("c", 7)]))
    snap = catalog.refresh_materialized_view("gold.by_cat")
    assert snap.operation == "merge"  # merged, not rewritten
    got = {
        r["cat"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in mv.to_df().collect()
    }
    assert got == {
        "a": (3, 106, 1, 100),
        "b": (1, 10, 10, 10),
        "c": (1, 7, 7, 7),
    }
    # and a no-op again
    assert catalog.refresh_materialized_view("gold.by_cat") is None

    # base DML in range: this MIN/MAX-carrying MV refreshes through the
    # r10 touched-group recompute tier (a merge), result still exact
    catalog.sql("DELETE FROM gold.sales WHERE v >= 100")
    snap = catalog.refresh_materialized_view("gold.by_cat")
    assert snap.operation == "merge"
    assert snap.summary.get("group_recompute") is True
    got = {
        r["cat"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in mv.to_df().collect()
    }
    assert got == {
        "a": (2, 6, 1, 5),
        "b": (1, 10, 10, 10),
        "c": (1, 7, 7, 7),
    }
    assert catalog.refresh_materialized_view("gold.by_cat") is None


def test_mv_agg_where_and_sum_null_groups(catalog, spark):
    """The stored WHERE distributes over appends; a delta group whose
    SUM is NULL (all values filtered to NULL) defers to the stored
    side and vice versa."""
    t = catalog.create_table(
        "gold.sales2",
        spark.createDataFrame([], "cat string, v long, w long").schema,
    )
    t.append(
        spark.createDataFrame(
            [("a", 1, None), ("b", 2, 5)], "cat string, v long, w long"
        )
    )
    mv = catalog.create_materialized_view(
        "gold.by_cat2",
        "SELECT cat, COUNT(*) AS n, SUM(w) AS sw FROM gold_sales2 "
        "WHERE v < 100 GROUP BY cat",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    # delta: 'a' gains a real w (NULL stored side), 'b' gains a NULL w,
    # and a filtered-out row must not count
    t.append(
        spark.createDataFrame(
            [("a", 3, 7), ("b", 4, None), ("b", 999, 1)],
            "cat string, v long, w long",
        )
    )
    snap = catalog.refresh_materialized_view("gold.by_cat2")
    assert snap.operation == "merge"
    got = {r["cat"]: (r["n"], r["sw"]) for r in mv.to_df().collect()}
    assert got == {"a": (2, 7), "b": (2, 5)}


def test_mv_agg_null_group_key_falls_back(catalog, spark):
    """A NULL group key in the delta cannot be addressed by an
    equality-keyed MERGE: the refresh must full-rebuild (never
    duplicate the NULL group) and still be exact."""
    t = catalog.create_table("gold.sales3", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), (None, 2)]))
    mv = catalog.create_materialized_view(
        "gold.by_cat3",
        "SELECT cat, COUNT(*) AS n, SUM(v) AS s FROM gold_sales3 "
        "GROUP BY cat",
    )
    t.append(_sales_df(spark, [(None, 10), ("a", 4)]))
    snap = catalog.refresh_materialized_view("gold.by_cat3")
    assert snap.operation == "overwrite"  # fell back, no merge
    got = {r["cat"]: (r["n"], r["s"]) for r in mv.to_df().collect()}
    assert got == {"a": (2, 5), None: (2, 12)}
    assert catalog.refresh_materialized_view("gold.by_cat3") is None


def test_mv_agg_shape_gates(catalog, spark):
    """HAVING over an unselected aggregate / non-double AVG /
    SUM DISTINCT / multiple distinct arguments / nondeterministic or
    base-column-shadowing key expressions stay on the always-correct
    full-refresh path (no agg mode recorded). HAVING over SELECTED
    aggregates, aliased expression keys, and a single COUNT(DISTINCT)
    are incremental tiers with their own tests."""
    t = catalog.create_table(
        "gold.sales4",
        spark.createDataFrame([], "cat string, v long, d decimal(10,2)").schema,
    )
    t.append(
        spark.createDataFrame(
            [("a", 1, None), ("b", 2, None)],
            "cat string, v long, d decimal(10,2)",
        )
    )
    for i, q in enumerate(
        [
            # MAX(v) is not in the select list: no stored column to
            # filter on, so the HAVING tier refuses and full-refreshes
            "SELECT cat, COUNT(*) AS n FROM gold_sales4 GROUP BY cat "
            "HAVING MAX(v) > 1",
            # DECIMAL average: sum/count recomputation would change the
            # result type, so the conservative gate refuses agg mode
            "SELECT cat, AVG(d) AS m FROM gold_sales4 GROUP BY cat",
            # only COUNT supports the finer-grain DISTINCT rewrite
            "SELECT cat, SUM(DISTINCT v) AS s FROM gold_sales4 "
            "GROUP BY cat",
            # a second distinct argument would multiply the grain
            "SELECT cat, COUNT(DISTINCT v) AS a, COUNT(DISTINCT d) AS b "
            "FROM gold_sales4 GROUP BY cat",
            # a refresh-variant key re-derives differently per refresh
            # (Spark allows current_timestamp in GROUP BY - it is
            # constant within one query - but the NEXT refresh's delta
            # would land in a fresh group)
            "SELECT cat, current_timestamp() AS ts, COUNT(*) AS n "
            "FROM gold_sales4 GROUP BY cat, ts",
            # alias shadowing a base column: GROUP BY / CDC re-derive
            # would silently bind the base column instead
            "SELECT v + 0 AS d, COUNT(*) AS n FROM gold_sales4 "
            "GROUP BY v + 0",
            # PAREN-LESS current_date keyword (Spark accepts it without
            # parens; the nondeterminism gate must too)
            "SELECT cat, current_date AS d2, COUNT(*) AS n "
            "FROM gold_sales4 GROUP BY cat, d2",
            # alias shadowing a CHANGELOG metadata column: CDC
            # maintenance withColumn()s key expressions onto changelog
            # rows before reading _change_type's sign
            "SELECT cat, v % 2 AS _change_type, COUNT(*) AS n "
            "FROM gold_sales4 GROUP BY cat, _change_type",
            # hidden-partial name collision: AVG 'aw' stores
            # __mv_p_sum_aw, which the sibling SUM aliased 'sum_aw'
            # would also claim - must fall back, not crash
            "SELECT cat, COUNT(DISTINCT v) AS dv, AVG(v) AS aw, "
            "SUM(v) AS sum_aw FROM gold_sales4 GROUP BY cat",
            # refresh-variant AGGREGATE ARGUMENTS (reachable since
            # r12's one-paren-level arg widening): Spark itself
            # rejects truly-nondeterministic args (uuid/rand) inside
            # aggregates, but QUERY-CONSTANT time functions analyze
            # fine - and a delta re-aggregation at refresh time would
            # merge refresh-time values into creation-time ones, a
            # state no single run of the store query can produce
            # (review r12)
            "SELECT cat, MAX(now()) AS t FROM gold_sales4 GROUP BY cat",
            "SELECT cat, MIN(current_date) AS d3 "
            "FROM gold_sales4 GROUP BY cat",
        ]
    ):
        mv = catalog.create_materialized_view(f"gold.gate{i}", q)
        assert mv.properties().get("mv.refresh_mode") is None, q
        # and refresh still works (full path)
        t.append(
            spark.createDataFrame(
                [("a", 9, None)], "cat string, v long, d decimal(10,2)"
            )
        )
        catalog.refresh_materialized_view(f"gold.gate{i}")


def test_mv_nondeterminism_regex_forms():
    """The refresh-variant gate must catch Spark's PAREN-LESS keyword
    spellings (current_date/current_timestamp/current_user) and the
    random() alias of rand() - and not false-positive on ordinary
    columns whose names merely embed those words."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.mv import (
        _MV_NONDETERMINISTIC as rx,
    )

    for s in (
        "rand()", "random()", "rand( )", "uuid()", "now()",
        "current_date", "CURRENT_DATE", "current_date()",
        "current_timestamp", "current_timestamp()", "current_user",
        "date_trunc('day', current_timestamp)", "unix_timestamp()",
    ):
        assert rx.search(s), s
    for s in (
        "cat", "v % 10", "date_trunc('day', ts)", "randomized_col",
        "current_date_col", "nowhere", "unix_timestamp(ts)",
    ):
        assert not rx.search(s), s


def test_mv_avg_incremental_refresh(catalog, spark):
    """AVG is algebraic: the MV stores hidden SUM/COUNT partials
    (__mv_sum_/__mv_cnt_), REFRESH merges them additively and
    recomputes the visible average - so an append-only base refreshes
    by MERGE, equals the full recompute, and an all-NULL group
    averages to NULL."""
    schema = "cat string, v long, w long"
    t = catalog.create_table(
        "gold.sales5", spark.createDataFrame([], schema).schema
    )
    t.append(
        spark.createDataFrame(
            [("a", 1, 10), ("a", 5, None), ("b", 10, None)], schema
        )
    )
    mv = catalog.create_materialized_view(
        "gold.avg5",
        "SELECT cat, COUNT(*) AS n, AVG(v) AS mv_v, AVG(w) AS mv_w "
        "FROM gold_sales5 GROUP BY cat",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    # partials are physically stored but hidden from the SQL surface
    stored = set(mv.to_df().columns)
    assert {"__mv_sum_mv_v", "__mv_cnt_mv_v", "__mv_sum_mv_w",
            "__mv_cnt_mv_w"} <= stored
    catalog.register_views()
    assert set(spark.table("gold_avg5").columns) == {
        "cat", "n", "mv_v", "mv_w"
    }
    assert catalog.refresh_materialized_view("gold.avg5") is None

    # grow an existing group ('a' gains a w), add a new group
    t.append(
        spark.createDataFrame([("a", 100, 20), ("c", 7, None)], schema)
    )
    snap = catalog.refresh_materialized_view("gold.avg5")
    assert snap.operation == "merge"
    catalog.register_views()  # views pin the snapshot at registration
    got = {
        r["cat"]: (r["n"], r["mv_v"], r["mv_w"])
        for r in spark.table("gold_avg5").collect()
    }
    assert got == {
        "a": (3, 106 / 3, 15.0),
        "b": (1, 10.0, None),  # all-NULL w group stays NULL
        "c": (1, 7.0, None),
    }
    # and always equals the stored query run fresh over the base
    want = {
        r["cat"]: (r["n"], r["mv_v"], r["mv_w"])
        for r in catalog.sql(
            "SELECT cat, COUNT(*) AS n, AVG(v) AS mv_v, AVG(w) AS mv_w "
            "FROM gold_sales5 GROUP BY cat"
        ).collect()
    }
    assert got == want
    assert catalog.refresh_materialized_view("gold.avg5") is None


def test_mv_avg_global_tier(catalog, spark):
    """A no-GROUP-BY AVG materializes one row whose refresh combines
    the stored sum/count partials with the diff's - never re-reading
    the base."""
    t = catalog.create_table("gold.sales6", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), ("b", 3)]))
    mv = catalog.create_materialized_view(
        "gold.avg6",
        "SELECT COUNT(*) AS n, AVG(v) AS m FROM gold_sales6",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    t.append(_sales_df(spark, [("c", 8)]))
    catalog.refresh_materialized_view("gold.avg6")
    catalog.register_views()  # views pin the snapshot at registration
    row = spark.table("gold_avg6").first()
    assert (row["n"], row["m"]) == (3, 4.0)


# -- SQL MERGE INTO verb (r7) ------------------------------------------


def test_sql_merge_upsert(catalog, spark):
    t = catalog.create_table("gold.m1", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), ("b", 2)]))
    spark.createDataFrame(
        [("b", 20), ("c", 30)], "cat string, v long"
    ).createOrReplaceTempView("updates_src")
    out = catalog.sql(
        "MERGE INTO gold.m1 AS t USING updates_src AS s ON t.cat = s.cat "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert out["operation"] == "merge"
    got = {r["cat"]: r["v"] for r in t.to_df().collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


def test_sql_merge_matched_delete_and_condition(catalog, spark):
    t = catalog.create_table("gold.m2", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), ("b", 200), ("c", 3)]))
    spark.createDataFrame(
        [("a", 0), ("b", 0)], "cat string, v long"
    ).createOrReplaceTempView("del_src")
    # only matched rows passing the TARGET-side condition delete
    catalog.sql(
        "MERGE INTO gold.m2 t USING del_src s ON t.cat = s.cat "
        "WHEN MATCHED AND t.v > 100 THEN DELETE"
    )
    got = {r["cat"]: r["v"] for r in t.to_df().collect()}
    assert got == {"a": 1, "c": 3}


def test_sql_merge_subquery_source_and_sync(catalog, spark):
    t = catalog.create_table("gold.m3", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), ("b", 2), ("z", 99)]))
    s = catalog.create_table("gold.m3src", _sales_df(spark, []).schema)
    s.append(_sales_df(spark, [("a", 10), ("c", 30)]))
    # full sync: after the merge the key set equals the source's
    catalog.sql(
        "MERGE INTO gold.m3 USING (SELECT cat, v FROM gold_m3src) "
        "ON m3.cat = cat WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {r["cat"]: r["v"] for r in t.to_df().collect()}
    assert got == {"a": 10, "c": 30}


def test_sql_merge_insert_only_and_errors(catalog, spark):
    t = catalog.create_table("gold.m4", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1)]))
    spark.createDataFrame(
        [("a", 999), ("b", 2)], "cat string, v long"
    ).createOrReplaceTempView("ins_src")
    # no WHEN MATCHED clause: table rows win (dedup-append shape)
    catalog.sql(
        "MERGE INTO gold.m4 USING ins_src ON m4.cat = ins_src.cat "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["cat"]: r["v"] for r in t.to_df().collect()}
    assert got == {"a": 1, "b": 2}
    with pytest.raises(ValueError, match="column equalities"):
        catalog.sql(
            "MERGE INTO gold.m4 USING ins_src ON m4.cat < ins_src.cat "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(ValueError, match="same column name"):
        catalog.sql(
            "MERGE INTO gold.m4 USING ins_src ON m4.cat = ins_src.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(ValueError, match="cannot DELETE"):
        catalog.sql(
            "MERGE INTO gold.m4 USING ins_src ON m4.cat = ins_src.cat "
            "WHEN NOT MATCHED THEN DELETE"
        )


# -- SQL ALTER TABLE verbs (r7) ----------------------------------------


def test_sql_alter_table_lifecycle(catalog, spark):
    t = catalog.create_table(
        "gold.alt",
        spark.createDataFrame([], "cat string, v int").schema,
    )
    t.append(
        spark.createDataFrame([("a", 1), ("b", 2)], "cat string, v int")
    )

    out = catalog.sql(
        "ALTER TABLE gold.alt ADD COLUMN score double DEFAULT 0.5"
    ).first()
    assert out["operation"] == "alter add column"
    # pre-addition rows read the v3 initial default
    assert {r["score"] for r in t.to_df().collect()} == {0.5}

    catalog.sql("ALTER TABLE gold.alt RENAME COLUMN score TO quality")
    assert "quality" in t.to_df().columns

    catalog.sql("ALTER TABLE gold.alt ALTER COLUMN v TYPE bigint")
    assert dict(t.to_df().dtypes)["v"] == "bigint"

    catalog.sql("ALTER TABLE gold.alt DROP COLUMN quality")
    assert "quality" not in t.to_df().columns

    catalog.sql(
        "ALTER TABLE gold.alt SET TBLPROPERTIES ('owner' = 'me', k = 7)"
    )
    props = t.properties()
    assert props.get("owner") == "me" and props.get("k") == "7"

    with pytest.raises(ValueError, match="unsupported ALTER"):
        catalog.sql("ALTER TABLE gold.alt FROB COLUMN v")


# -- governance: masked / row-filtered views (r7) ----------------------


def test_masked_view(catalog, spark):
    t = catalog.create_table(
        "gold.pii",
        spark.createDataFrame(
            [], "uid long, email string, region string, balance double"
        ).schema,
    )
    t.append(
        spark.createDataFrame(
            [
                (1, "a@x.com", "eu", 10.0),
                (2, "b@y.com", "us", 20.0),
                (3, "c@z.com", "eu", 30.0),
            ],
            "uid long, email string, region string, balance double",
        )
    )
    catalog.create_masked_view(
        "gold.pii",
        "gold.pii_eu",
        column_masks={"email": "md5(email)", "balance": "0.0"},
        row_filter="region = 'eu'",
    )
    rows = catalog.sql("SELECT * FROM gold_pii_eu ORDER BY uid").collect()
    assert [r["uid"] for r in rows] == [1, 3]  # row filter applied
    assert all(len(r["email"]) == 32 for r in rows)  # masked
    assert all(r["balance"] == 0.0 for r in rows)
    # schema is preserved (masks cast back to the column type)
    assert dict(
        catalog.sql("SELECT * FROM gold_pii_eu").dtypes
    ) == dict(t.to_df().dtypes)

    # dropped columns disappear; unknown columns refuse
    catalog.create_masked_view(
        "gold.pii", "gold.pii_nodrop", drop_columns=["email"]
    )
    assert "email" not in catalog.sql("SELECT * FROM gold_pii_nodrop").columns
    with pytest.raises(ValueError, match="no column"):
        catalog.create_masked_view(
            "gold.pii", "gold.bad", column_masks={"ghost": "1"}
        )
    # the view tracks the LIVE table
    t.append(
        spark.createDataFrame(
            [(4, "d@w.com", "eu", 40.0)],
            "uid long, email string, region string, balance double",
        )
    )
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_pii_eu").first()["n"] == 3


def test_sql_merge_multi_matched_clauses(catalog, spark):
    """r10: multiple WHEN MATCHED clauses (the Delta matrix) evaluate
    first-match-wins per target row - a conditioned DELETE, a
    conditioned column SET, and an unconditional row-replace compose in
    ONE atomic commit; only the last clause may omit its condition."""
    t = catalog.create_table(
        "gold.m5",
        spark.createDataFrame([], "cat string, v long, note string").schema,
    )
    t.append(
        spark.createDataFrame(
            [("a", 9, "x"), ("b", 2, "y"), ("c", 5, "z"), ("d", 1, "w")],
            "cat string, v long, note string",
        )
    )
    spark.createDataFrame(
        [("a", 100, "s"), ("b", 200, "s"), ("c", 300, "s")],
        "cat string, v long, note string",
    ).createOrReplaceTempView("m5src")
    catalog.sql(
        "MERGE INTO gold.m5 USING m5src ON gold.m5.cat = m5src.cat "
        "WHEN MATCHED AND gold.m5.v > 5 THEN DELETE "
        "WHEN MATCHED AND gold.m5.v > 3 THEN UPDATE SET note = 'mid' "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    got = {
        (r["cat"], r["v"], r["note"])
        for r in catalog.load_table("gold.m5").to_df().collect()
    }
    # a (v=9): deleted; c (v=5): note set, v kept; b (v=2): row-replaced;
    # d: unmatched, untouched
    assert got == {("b", 200, "s"), ("c", 5, "mid"), ("d", 1, "w")}
    # a non-last clause without a condition refuses
    with pytest.raises(ValueError, match="LAST"):
        catalog.sql(
            "MERGE INTO gold.m5 USING m5src ON gold.m5.cat = m5src.cat "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND gold.m5.v > 3 THEN UPDATE SET *"
        )
    # multiple NOT MATCHED clauses are the Delta matrix (r11), but
    # only the LAST may omit its condition - two unconditioned reject
    with pytest.raises(ValueError, match="LAST of multiple WHEN NOT"):
        catalog.sql(
            "MERGE INTO gold.m5 USING m5src ON gold.m5.cat = m5src.cat "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_sql_merge_multi_clause_insert_and_mixed_key(catalog, spark):
    """Multi-clause + INSERT *: unmatched source rows insert; a key
    whose target rows split across clauses (one fires UPDATE, one fires
    DELETE, one fires nothing) resolves per ROW."""
    t = catalog.create_table(
        "gold.m6", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(
        spark.createDataFrame(
            [(1, 10), (1, 3), (1, 1), (2, 7)], "k long, v long"
        )
    )
    spark.createDataFrame(
        [(1, 99), (5, 50)], "k long, v long"
    ).createOrReplaceTempView("m6src")
    catalog.sql(
        "MERGE INTO gold.m6 USING m6src s ON gold.m6.k = s.k "
        "WHEN MATCHED AND gold.m6.v >= 10 THEN DELETE "
        "WHEN MATCHED AND gold.m6.v >= 3 THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.m6").to_df().collect()
    )
    # k=1: v=10 deleted, v=3 updated to 99, v=1 kept; k=2 unmatched by
    # source (kept); k=5 inserted
    assert got == [(1, 1), (1, 99), (2, 7), (5, 50)]


def test_sql_ref_verbs(catalog, spark):
    """ALTER TABLE ... CREATE/DROP TAG|BRANCH manage named refs from
    SQL; tags pin their snapshot and compose with SHOW REFS + time
    travel."""
    t = catalog.create_table("gold.refs", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=4))
    v1 = t.current_version()
    t.append(tick_df(spark, n=3, start="2024-02-01 00:00:00"))

    out = catalog.sql(
        f"ALTER TABLE gold.refs CREATE TAG audit AS OF VERSION {v1}"
    ).first()
    assert (out["operation"], out["version"]) == ("create tag", v1)
    catalog.sql("ALTER TABLE gold.refs CREATE BRANCH dev")
    refs = {r["name"]: r for r in catalog.sql("SHOW REFS gold.refs").collect()}
    assert refs["audit"]["version"] == v1
    assert refs["dev"]["version"] == t.current_version()
    # the tagged snapshot reads exactly
    assert t.scan(snapshot=t.snapshot_by_tag("audit")).count() == 4

    catalog.sql("ALTER TABLE gold.refs DROP BRANCH dev")
    catalog.sql("ALTER TABLE gold.refs DROP TAG audit")
    assert catalog.sql("SHOW REFS gold.refs").count() == 0


def test_sql_describe_detail(catalog, spark):
    t = catalog.create_table("gold.dd", TICK_SCHEMA, [])
    for i in range(3):
        t.append(tick_df(spark, n=5, start=f"2024-03-0{i+1} 00:00:00").coalesce(1))
    row = catalog.sql("DESCRIBE DETAIL gold.dd").first()
    assert row["table"] == "gold.dd"
    assert row["data_files"] == 3 and row["rows"] == 15
    assert row["small_file_ratio"] == 1.0
    assert row["snapshots"] == 4  # create + 3 appends
    # the plain DESCRIBE verb still works
    cols = {r["column"] for r in catalog.sql("DESCRIBE gold.dd").collect()}
    assert "DateTime" in cols


def test_user_table_keeps_mv_prefixed_column(catalog, spark):
    """The SQL surface strips '__mv_' partial columns ONLY from
    engine-managed materialized views - a user table that legitimately
    contains a '__mv_'-prefixed column must keep it (ADVICE r7)."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("__mv_custom")
    )
    t = catalog.create_table("gold.usermv", df.schema, [])
    t.append(df)
    catalog.create_view("gold.usermv")
    out = spark.sql("SELECT * FROM gold_usermv")
    assert "__mv_custom" in out.columns
    assert out.count() == 3


def test_mv_having_incremental_refresh(catalog, spark):
    """HAVING over selected distributive aggregates refreshes
    incrementally: the table stores the UNFILTERED aggregate as hidden
    state, REFRESH merges partials exactly as without HAVING, and the
    predicate applies in the SQL-surface view - so a group below the
    threshold keeps accumulating and appears once appends push it
    over (VERDICT r7 #7)."""
    t = catalog.create_table(
        "gold.hsales", _sales_df(spark, []).schema
    )
    t.append(_sales_df(spark, [("a", 1), ("a", 5), ("b", 10)]))
    mv = catalog.create_materialized_view(
        "gold.big_cats",
        "SELECT cat, COUNT(*) AS n, SUM(v) AS s FROM gold_hsales "
        "GROUP BY cat HAVING COUNT(*) >= 2",
    )
    props = mv.properties()
    assert props.get("mv.refresh_mode") == "agg"
    assert props.get("mv.having") == "n >= 2"
    # physical storage is UNFILTERED (hidden state for future merges)
    assert mv.to_df().count() == 2
    # the SQL surface serves the filtered view the query defined
    catalog.create_view("gold.big_cats")
    assert {
        r["cat"] for r in spark.sql("SELECT * FROM gold_big_cats").collect()
    } == {"a"}

    # 'b' crosses the threshold via a MERGE refresh, 'c' stays below
    t.append(_sales_df(spark, [("b", 20), ("c", 7)]))
    snap = catalog.refresh_materialized_view("gold.big_cats")
    assert snap.operation == "merge"
    catalog.create_view("gold.big_cats")
    got = {
        r["cat"]: (r["n"], r["s"])
        for r in spark.sql("SELECT * FROM gold_big_cats").collect()
    }
    assert got == {"a": (2, 6), "b": (2, 30)}
    # below-threshold group kept its partials
    assert {
        r["cat"]: r["n"] for r in mv.to_df().collect()
    } == {"a": 2, "b": 2, "c": 1}

    # HAVING may also reference the alias directly
    mv2 = catalog.create_materialized_view(
        "gold.big_sums",
        "SELECT cat, SUM(v) AS s FROM gold_hsales "
        "GROUP BY cat HAVING s > 25",
    )
    assert mv2.properties().get("mv.having") == "s > 25"
    catalog.create_view("gold.big_sums")
    assert {
        r["cat"] for r in spark.sql("SELECT * FROM gold_big_sums").collect()
    } == {"b"}

    # a HAVING over an aggregate NOT in the select list has no stored
    # state to filter on: falls back to full refresh, still correct
    mv3 = catalog.create_materialized_view(
        "gold.odd_gate",
        "SELECT cat, SUM(v) AS s FROM gold_hsales "
        "GROUP BY cat HAVING MAX(v) > 15",
    )
    assert mv3.properties().get("mv.refresh_mode") is None
    assert {r["cat"] for r in mv3.to_df().collect()} == {"b"}
    t.append(_sales_df(spark, [("c", 99)]))
    catalog.refresh_materialized_view("gold.odd_gate")
    assert {r["cat"] for r in mv3.to_df().collect()} == {"b", "c"}


def test_mv_having_with_avg_partials(catalog, spark):
    """HAVING composes with the AVG tier: sum/count partials and the
    filter coexist; the view hides partials AND applies the gate."""
    t = catalog.create_table(
        "gold.asales", _sales_df(spark, []).schema
    )
    t.append(_sales_df(spark, [("a", 2), ("a", 4), ("b", 100)]))
    mv = catalog.create_materialized_view(
        "gold.avg_gate",
        "SELECT cat, COUNT(*) AS n, AVG(v) AS m FROM gold_asales "
        "GROUP BY cat HAVING COUNT(*) >= 2",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    assert "__mv_sum_m" in [f.name for f in mv.schema.fields]
    t.append(_sales_df(spark, [("b", 200), ("a", 6)]))
    snap = catalog.refresh_materialized_view("gold.avg_gate")
    assert snap.operation == "merge"
    catalog.create_view("gold.avg_gate")
    got = {
        r["cat"]: (r["n"], r["m"])
        for r in spark.sql("SELECT * FROM gold_avg_gate").collect()
    }
    assert got == {"a": (3, 4.0), "b": (2, 150.0)}
    # partials hidden, filter applied
    assert "__mv_sum_m" not in spark.sql(
        "SELECT * FROM gold_avg_gate"
    ).columns


def test_sql_restore_and_call_procedures(catalog, spark):
    """RESTORE TABLE ... VERSION AS OF and the CALL system.<proc>()
    stored-procedure surface route to the Python APIs and return
    assertable summary rows."""
    t = catalog.create_table("gold.proc", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    v1 = t.current_version()
    t.append(tick_df(spark, n=5, start="2024-02-01 00:00:00"))
    assert t.to_df().count() == 15

    out = catalog.sql(
        f"RESTORE TABLE gold.proc TO VERSION AS OF {v1}"
    ).first()
    assert out["operation"] == "restore"
    assert t.to_df().count() == 10

    # cherry-pick the rolled-back append right back on via CALL
    picked = catalog.sql(
        f"CALL system.cherrypick_snapshot('gold.proc', {v1 + 1})"
    ).first()
    assert picked["version"] == t.current_version()
    assert t.to_df().count() == 15

    # branch lifecycle through CALL: create -> publish (fast-forward)
    catalog.sql("CALL system.create_branch('gold.proc', 'dev')")
    bt = t.branch("dev")
    bt.append(tick_df(spark, n=3, start="2024-03-01 00:00:00"))
    pub = catalog.sql(
        "CALL system.publish_branch('gold.proc', 'dev')"
    ).first()
    assert pub["version"] == t.current_version()
    assert t.to_df().count() == 18

    # maintenance procs return summary rows
    res = catalog.sql("CALL system.compact('gold.proc')").first()
    assert res["operation"] == "compact"
    rep = catalog.sql("CALL system.auto_maintain('gold.proc')")
    assert {r["trigger"] for r in rep.collect()} >= {
        "compact",
        "expire_snapshots",
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown procedure"):
        catalog.sql("CALL system.drop_everything('gold.proc')")
    with _pytest.raises(ValueError, match="literal"):
        catalog.sql("CALL system.compact(gold.proc)")


def test_sql_time_travel_by_ref_name(catalog, spark):
    """Iceberg's VERSION AS OF also accepts a quoted tag/branch name -
    resolved through the ref table at query time."""
    t = catalog.create_table("gold.ttr", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=4))
    t.create_tag("audited")
    t.append(tick_df(spark, n=6, start="2024-02-01 00:00:00"))
    assert (
        catalog.sql(
            "SELECT COUNT(*) AS n FROM gold.ttr VERSION AS OF 'audited'"
        ).first()["n"]
        == 4
    )
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_ttr").first()["n"]
        == 10
    )
    with pytest.raises(ValueError, match="neither"):
        catalog.sql(
            "SELECT COUNT(*) FROM gold.ttr VERSION AS OF 'nope'"
        )


def test_mv_cdc_incremental_refresh(catalog, spark):
    """Base DML no longer forces a full MV refresh for invertible
    aggregates: COUNT/SUM merge SIGNED changelog partials (insert +1,
    delete -1). The hidden state decides the two cases subtraction
    cannot: a group losing its last row LEAVES the view in the same
    commit, and a sum losing its last non-null value reads NULL."""
    t = catalog.create_table(
        "gold.csales", _sales_df(spark, []).schema
    )
    t.append(
        _sales_df(
            spark,
            [("a", 1), ("a", 5), ("b", 10), ("c", 7), ("d", None)],
        )
    )
    mv = catalog.create_materialized_view(
        "gold.cdcagg",
        "SELECT cat, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS s "
        "FROM gold_csales GROUP BY cat",
    )
    stored = {f.name for f in mv.schema.fields}
    assert {"__mv_rows", "__mv_nn_s"} <= stored

    # CoW DELETE: group c vanishes entirely, group a loses one row
    catalog.sql("DELETE FROM gold.csales WHERE cat = 'c' OR v = 5")
    snap = catalog.refresh_materialized_view("gold.cdcagg")
    assert snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    got = {
        r["cat"]: (r["n"], r["nv"], r["s"]) for r in mv.to_df().collect()
    }
    assert got == {
        "a": (1, 1, 1),
        "b": (1, 1, 10),
        "d": (1, 0, None),  # all-NULL group: COUNT(v)=0, SUM NULL
    }
    # a no-op afterwards
    assert catalog.refresh_materialized_view("gold.cdcagg") is None

    # UPDATE emits delete+insert pairs; sums must track exactly
    catalog.sql("UPDATE gold.csales SET v = 100 WHERE cat = 'b'")
    snap2 = catalog.refresh_materialized_view("gold.cdcagg")
    assert snap2.summary.get("cdc_refresh") is True
    got2 = {r["cat"]: r["s"] for r in mv.to_df().collect()}
    assert got2["b"] == 100

    # deleting a group's last NON-NULL value flips its sum to NULL
    t.append(_sales_df(spark, [("d", 3)]))
    catalog.refresh_materialized_view("gold.cdcagg")
    catalog.sql("DELETE FROM gold.csales WHERE cat = 'd' AND v = 3")
    catalog.refresh_materialized_view("gold.cdcagg")
    got3 = {
        r["cat"]: (r["n"], r["nv"], r["s"]) for r in mv.to_df().collect()
    }
    assert got3["d"] == (1, 0, None)

    # the result always equals the full recompute
    expect = {
        (r["cat"], r["n"], r["nv"], r["s"])
        for r in catalog.sql(
            "SELECT cat, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS s "
            "FROM gold_csales GROUP BY cat"
        ).collect()
    }
    assert {
        (r["cat"], r["n"], r["nv"], r["s"])
        for r in mv.to_df().drop("__mv_rows", "__mv_nn_s").collect()
    } == expect

    # MIN/MAX are not invertible: DML refreshes those MVs through the
    # r10 touched-group RECOMPUTE tier (a merge, never a full refresh)
    mv2 = catalog.create_materialized_view(
        "gold.minagg",
        "SELECT cat, MIN(v) AS lo FROM gold_csales GROUP BY cat",
    )
    catalog.sql("DELETE FROM gold.csales WHERE cat = 'a'")
    snap3 = catalog.refresh_materialized_view("gold.minagg")
    assert snap3.operation == "merge"
    assert snap3.summary.get("group_recompute") is True
    assert {
        (r["cat"], r["lo"]) for r in mv2.to_df().collect()
    } == {
        (r["cat"], r["lo"])
        for r in catalog.sql(
            "SELECT cat, MIN(v) AS lo FROM gold_csales GROUP BY cat"
        ).collect()
    }


def test_mv_expression_key_incremental(catalog, spark):
    """Aliased expression group keys are the expression-key tier: the
    MV materializes the alias column, REFRESH aggregates the delta
    with the same expression and MERGES on the alias; CDC maintenance
    re-derives the key over changelog rows. GROUP BY may spell the
    alias, the expression, or the select-list ordinal."""
    schema = "cat string, v int, w int"
    t = catalog.create_table(
        "gold.esales", spark.createDataFrame([], schema).schema
    )
    t.append(
        spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 20), ("b", 1, 5), ("b", None, 7)],
            schema,
        )
    )
    mv = catalog.create_materialized_view(
        "gold.by_parity",
        "SELECT cat, v % 2 AS parity, COUNT(*) AS n, SUM(w) AS sw "
        "FROM gold_esales GROUP BY cat, parity",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    assert "parity" in mv.properties().get("mv.key_exprs", "")

    def expected():
        import pyspark.sql.functions as F

        return {
            tuple(r)
            for r in t.to_df()
            .groupBy("cat", (F.col("v") % 2).alias("parity"))
            .agg(F.count("*").alias("n"), F.sum("w").alias("sw"))
            .collect()
        }

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_by_parity").collect()
        }

    # append-only growth merges partials on the expression alias
    t.append(
        spark.createDataFrame([("a", 4, 100), ("c", 3, 1)], schema)
    )
    snap = catalog.refresh_materialized_view("gold.by_parity")
    assert snap.operation == "merge"
    assert via_view() == expected()

    # base DML maintains from the signed changelog (COUNT/int-SUM)
    catalog.sql("DELETE FROM gold.esales WHERE w = 100")
    snap = catalog.refresh_materialized_view("gold.by_parity")
    assert snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert via_view() == expected()

    # GROUP BY by expression text and by ordinal parse to the same tier
    for name, keys in [
        ("gold.by_parity2", "cat, v % 2"),
        ("gold.by_parity3", "1, 2"),
    ]:
        mvx = catalog.create_materialized_view(
            name,
            "SELECT cat, v % 2 AS parity, COUNT(*) AS n "
            f"FROM gold_esales GROUP BY {keys}",
        )
        assert mvx.properties().get("mv.refresh_mode") == "agg", name


def test_mv_count_distinct_incremental(catalog, spark):
    """COUNT(DISTINCT x) switches the materialization to the finer
    (keys, x) grain - the two-level distinct rewrite: partials for the
    sibling aggregates merge distributively at that grain and the SQL
    surface re-aggregates back to the user grain, so REFRESH stays a
    MERGE (never a rescan of the base) and even base DML maintains a
    pure COUNT/int-SUM distinct MV from the signed changelog."""
    schema = "cat string, v int, w int"
    t = catalog.create_table(
        "gold.dsales", spark.createDataFrame([], schema).schema
    )
    t.append(
        spark.createDataFrame(
            [
                ("a", 1, 10),
                ("a", 2, 20),
                ("a", 1, None),
                ("b", 1, 5),
                ("b", None, 7),
            ],
            schema,
        )
    )
    mv = catalog.create_materialized_view(
        "gold.dv",
        "SELECT cat, COUNT(DISTINCT v) AS nv, COUNT(*) AS n, "
        "SUM(w) AS sw, MIN(w) AS lo, AVG(w) AS aw "
        "FROM gold_dsales GROUP BY cat",
    )
    props = mv.properties()
    assert props.get("mv.refresh_mode") == "agg"
    assert "mv.view_agg" in props
    stored = {f.name for f in mv.schema.fields}
    assert "__mv_dv_nv" in stored  # the distinct-value grain column

    def expected():
        import pyspark.sql.functions as F

        return {
            tuple(r)
            for r in t.to_df()
            .groupBy("cat")
            .agg(
                F.countDistinct("v").alias("nv"),
                F.count("*").alias("n"),
                F.sum("w").alias("sw"),
                F.min("w").alias("lo"),
                F.avg("w").alias("aw"),
            )
            .collect()
        }

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_dv").collect()
        }

    assert via_view() == expected()

    # new rows: existing distinct values must NOT double-count, new
    # ones must appear; sibling partials merge at the finer grain
    t.append(
        spark.createDataFrame(
            [("a", 9, 2), ("a", 1, 3), ("d", 5, None)], schema
        )
    )
    snap = catalog.refresh_materialized_view("gold.dv")
    assert snap.operation == "merge"
    assert via_view() == expected()

    # a NULL distinct value is countable state but not a distinct
    # count contribution; the merge path refuses NULL keys, so the
    # refresh falls back to full - and is still exact
    t.append(spark.createDataFrame([("a", None, 4)], schema))
    catalog.refresh_materialized_view("gold.dv")
    assert via_view() == expected()

    # pure COUNT/int-SUM distinct MV: DML maintains from the changelog
    mv2 = catalog.create_materialized_view(
        "gold.dv2",
        "SELECT cat, COUNT(DISTINCT v) AS nv, SUM(w) AS sw "
        "FROM gold_dsales GROUP BY cat",
    )
    assert "__mv_rows" in {f.name for f in mv2.schema.fields}
    catalog.sql("DELETE FROM gold.dsales WHERE v = 9")  # drops a value
    snap = catalog.refresh_materialized_view("gold.dv2")
    assert snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    import pyspark.sql.functions as F

    exp = {
        tuple(r)
        for r in t.to_df()
        .groupBy("cat")
        .agg(F.countDistinct("v").alias("nv"), F.sum("w").alias("sw"))
        .collect()
    }
    catalog.register_views()
    assert {
        tuple(r) for r in spark.sql("SELECT * FROM gold_dv2").collect()
    } == exp

    # whole group vanishing under DML leaves the view in one commit
    catalog.sql("DELETE FROM gold.dsales WHERE cat = 'd'")
    snap = catalog.refresh_materialized_view("gold.dv2")
    assert snap.summary.get("cdc_refresh") is True
    catalog.register_views()
    cats = {
        r["cat"]
        for r in spark.sql("SELECT * FROM gold_dv2").collect()
    }
    assert "d" not in cats

    # HAVING over the distinct count filters the re-aggregated view
    mv3 = catalog.create_materialized_view(
        "gold.dv3",
        "SELECT cat, COUNT(DISTINCT v) AS nv FROM gold_dsales "
        "GROUP BY cat HAVING COUNT(DISTINCT v) >= 2",
    )
    catalog.register_views()
    got = {
        (r["cat"], r["nv"])
        for r in spark.sql("SELECT * FROM gold_dv3").collect()
    }
    exp = {
        (r["cat"], r["nv"])
        for r in t.to_df()
        .groupBy("cat")
        .agg(F.countDistinct("v").alias("nv"))
        .filter("nv >= 2")
        .collect()
    }
    assert got == exp


def test_mv_count_distinct_global_empty(catalog, spark):
    """Global (no GROUP BY) COUNT(DISTINCT) tier over an EMPTY stored
    grain: SUM of the COUNT sibling's partials is NULL over zero rows
    but the defining COUNT(*) returns 0 - the view must COALESCE. Both
    empty-at-creation and every-grain-row-evicted paths."""
    schema = "cat string, v int"
    t = catalog.create_table(
        "gold.gsales", spark.createDataFrame([], schema).schema
    )
    mv = catalog.create_materialized_view(
        "gold.gdv",
        "SELECT COUNT(DISTINCT v) AS nv, COUNT(*) AS n "
        "FROM gold_gsales",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"

    def row():
        catalog.register_views()
        return spark.sql("SELECT nv, n FROM gold_gdv").first()

    assert tuple(row()) == (0, 0)  # empty base: 0, not NULL
    t.append(
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2), ("b", None)], schema
        )
    )
    catalog.refresh_materialized_view("gold.gdv")
    assert tuple(row()) == (2, 4)
    # evict every grain row and the view must return to (0, 0)
    catalog.sql("DELETE FROM gold.gsales WHERE TRUE")
    catalog.refresh_materialized_view("gold.gdv")
    assert tuple(row()) == (0, 0)


def test_sql_copy_into_idempotent(catalog, spark, tmp_path):
    """COPY INTO loads every parquet under the path once: re-running
    unchanged is a zero-commit no-op; new files load as a delta; a
    file rewritten in place (new mtime/size) reloads."""
    src = tmp_path / "landing"
    src.mkdir()
    df1 = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, s string"
    )
    df1.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    t = catalog.create_table("gold.copied", df1.schema, [])
    out = catalog.sql(
        f"COPY INTO gold.copied FROM '{src}'"
    ).first()
    assert out["operation"] == "copy" and out["loaded_files"] >= 1
    assert t.to_df().count() == 2
    v = t.current_version()
    # idempotent re-run: nothing loads, nothing commits
    out2 = catalog.sql(f"COPY INTO gold.copied FROM '{src}'").first()
    assert out2["loaded_files"] == 0
    assert t.current_version() == v
    # a new file loads only the delta
    spark.createDataFrame([(3, "z")], "id long, s string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "b"))
    catalog.sql(f"COPY INTO gold.copied FROM '{src}'")
    assert t.to_df().count() == 3
    # non-parquet format refused loudly
    with pytest.raises(ValueError, match="PARQUET"):
        catalog.sql(
            f"COPY INTO gold.copied FROM '{src}' FILEFORMAT = CSV"
        )


def test_sql_show_create_table(catalog, spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0, 7)],
        "DateTime string, Bid double, k long",
    ).withColumn("DateTime", F.to_timestamp("DateTime"))
    t = catalog.create_table(
        "gold.ddl",
        df.schema,
        [
            PartitionField("DateTime", "years"),
            PartitionField("k", "bucket", n_buckets=8),
        ],
    )
    t.set_properties(**{"history.expire.min-snapshots-to-keep": "4"})
    ddl = catalog.sql("SHOW CREATE TABLE gold.ddl").first()[
        "create_statement"
    ]
    assert "CREATE TABLE gold.ddl" in ddl
    assert "DateTime timestamp" in ddl and "Bid double" in ddl
    assert "PARTITIONED BY (years(DateTime), bucket(8, k))" in ddl
    assert "'history.expire.min-snapshots-to-keep' = '4'" in ddl


def test_sql_show_namespaces_and_tblproperties(catalog, spark):
    catalog.create_namespace("silver")
    t = catalog.create_table("silver.p", TICK_SCHEMA, [])
    t.set_properties(**{"history.expire.min-snapshots-to-keep": "3"})
    assert {
        r["namespace"]
        for r in catalog.sql("SHOW NAMESPACES").collect()
    } >= {"silver"}
    props = {
        r["key"]: r["value"]
        for r in catalog.sql("SHOW TBLPROPERTIES silver.p").collect()
    }
    assert props["history.expire.min-snapshots-to-keep"] == "3"


def test_sql_table_changes_function(catalog, spark):
    """Delta's table_changes('t', from[, to]) reads the version-range
    changelog anywhere a table reference fits."""
    t = catalog.create_table("gold.cdf", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    v1 = t.current_version()
    t.append(tick_df(spark, n=3, start="2024-02-01 00:00:00"))
    catalog.sql("DELETE FROM gold.cdf WHERE Bid < 1.102")
    v3 = t.current_version()
    got = {
        r["_change_type"]: r["n"]
        for r in catalog.sql(
            f"SELECT _change_type, COUNT(*) AS n FROM "
            f"table_changes('gold.cdf', {v1}, {v3}) "
            f"GROUP BY _change_type"
        ).collect()
    }
    assert got["insert"] == 3
    assert got["delete"] >= 1
    # composable with ordinary SQL over other views
    n = catalog.sql(
        f"SELECT COUNT(*) AS n FROM table_changes('gold.cdf', {v1}) "
        "WHERE _change_type = 'insert'"
    ).first()["n"]
    assert n == 3


def test_sql_metadata_tables(catalog, spark):
    """Iceberg's metadata tables: ns.table.snapshots/files/refs answer
    layout and history questions in plain SQL from the manifest."""
    t = catalog.create_table("gold.meta", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    t.append(tick_df(spark, n=3, start="2024-02-01 00:00:00"))
    t.create_tag("audit")
    snaps = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold.meta.snapshots"
    ).first()["n"]
    assert snaps == 3  # create + 2 appends
    files = catalog.sql(
        "SELECT CAST(SUM(rows) AS BIGINT) AS total FROM gold.meta.files"
    ).first()["total"]
    assert files == 8
    refs = {
        r["name"]
        for r in catalog.sql("SELECT name FROM gold.meta.refs").collect()
    }
    assert "audit" in refs
    # composable: join metadata against itself / filter
    latest = catalog.sql(
        "SELECT MAX(version) AS v FROM gold.meta.snapshots"
    ).first()["v"]
    assert latest == t.current_version()


# -- join-aggregate MVs (fact JOIN dim, r8) ----------------------------


def _join_fixture(catalog, spark, suffix=""):
    f = catalog.create_table(
        f"gold.fact{suffix}",
        spark.createDataFrame([], "fk long, v long").schema,
    )
    d = catalog.create_table(
        f"gold.dim{suffix}",
        spark.createDataFrame([], "k long, seg string").schema,
    )
    d.append(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B")], "k long, seg string"
        )
    )
    f.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (1, 5)], "fk long, v long"
        )
    )
    return f, d


def _expected_join(catalog, spark, suffix=""):
    catalog.register_views()
    return {
        tuple(r)
        for r in spark.sql(
            f"SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
            f"MAX(v) AS hi FROM gold_fact{suffix} JOIN gold_dim{suffix} "
            f"ON gold_fact{suffix}.fk = gold_dim{suffix}.k GROUP BY seg"
        ).collect()
    }


def test_mv_join_agg_incremental_refresh(catalog, spark):
    """Fact-JOIN-dim aggregates refresh by joining ONLY the fact delta
    to the pinned dim and merging partials - append commits a merge,
    values always equal the full recompute, and an up-to-date MV is a
    no-op."""
    import json as _json

    f, d = _join_fixture(catalog, spark)
    mv = catalog.create_materialized_view(
        "gold.jmv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_fact JOIN gold_dim "
        "ON gold_fact.fk = gold_dim.k GROUP BY seg",
    )
    props = mv.properties()
    assert props.get("mv.refresh_mode") == "join_agg"
    assert _json.loads(props["mv.join_dims"]) == ["gold.dim"]

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_jmv").collect()
        }

    assert via_view() == _expected_join(catalog, spark)
    assert catalog.refresh_materialized_view("gold.jmv") is None

    # fact append: new group (seg B gets more) + existing groups merge
    f.append(
        spark.createDataFrame([(3, 1), (2, 2)], "fk long, v long")
    )
    snap = catalog.refresh_materialized_view("gold.jmv")
    assert snap.operation == "merge"
    assert via_view() == _expected_join(catalog, spark)

    # a fact row with no dim match contributes nothing (inner join):
    # the empty delta advances the pin WITHOUT a new commit, and the
    # next refresh is a no-op
    before = mv.current_version()
    f.append(spark.createDataFrame([(99, 1000)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv")
    assert snap is not None
    assert catalog.load_table("gold.jmv").current_version() == before
    assert via_view() == _expected_join(catalog, spark)
    assert catalog.refresh_materialized_view("gold.jmv") is None


def test_mv_join_agg_dim_move_group_recomputes(catalog, spark):
    """A moved dim invalidates materialized groups in ways fact deltas
    cannot express. A MIN/MAX join MV has no signed-CDC state, so the
    refresh used to be a FULL recompute; since the r11 touched-group
    tier it recomputes ONLY the groups the dim change reaches
    (group_recompute flag, still a 'merge' commit) - and the values
    must stay exactly those of a full recompute. Fact appends stay
    incremental throughout."""
    f, d = _join_fixture(catalog, spark, "2")
    catalog.create_materialized_view(
        "gold.jmv2",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_fact2 JOIN gold_dim2 "
        "ON gold_fact2.fk = gold_dim2.k GROUP BY seg",
    )
    # dim UPDATE: row 3 changes segment B -> C
    catalog.sql("UPDATE gold.dim2 SET seg = 'C' WHERE k = 3")
    snap = catalog.refresh_materialized_view("gold.jmv2")
    assert snap is not None
    assert snap.summary.get("group_recompute") is True

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_jmv2").collect()
        }

    assert via_view() == _expected_join(catalog, spark, "2")
    # re-pinned: fact appends merge again
    f.append(spark.createDataFrame([(1, 7)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv2")
    assert snap.operation == "merge"
    assert snap.summary.get("group_recompute") is None
    assert via_view() == _expected_join(catalog, spark, "2")
    # fact DML in range: touched-group recompute, still exact
    catalog.sql("DELETE FROM gold.fact2 WHERE v = 30")
    snap = catalog.refresh_materialized_view("gold.jmv2")
    assert snap is not None
    assert snap.summary.get("group_recompute") is True
    assert via_view() == _expected_join(catalog, spark, "2")


def test_mv_join_agg_shape_gates(catalog, spark):
    """Outer joins, AVG, DISTINCT, expression keys, self-joins and
    NULL-in-delta group keys stay on the always-correct paths."""
    f, d = _join_fixture(catalog, spark, "3")
    declined = [
        # outer join: dim-side NULL extension is not fact-distributive
        "SELECT seg, COUNT(*) AS n FROM gold_fact3 LEFT JOIN gold_dim3 "
        "ON gold_fact3.fk = gold_dim3.k GROUP BY seg",
        # AVG: needs decomposed partials (single-table tier only)
        "SELECT seg, AVG(v) AS m FROM gold_fact3 JOIN gold_dim3 "
        "ON gold_fact3.fk = gold_dim3.k GROUP BY seg",
        # expression key
        "SELECT concat(seg, 'x') AS s2, COUNT(*) AS n FROM gold_fact3 "
        "JOIN gold_dim3 ON gold_fact3.fk = gold_dim3.k GROUP BY s2",
        # self-join
        "SELECT a.fk AS fk, COUNT(*) AS n FROM gold_fact3 a "
        "JOIN gold_fact3 b ON a.fk = b.fk GROUP BY a.fk",
    ]
    for i, q in enumerate(declined):
        mv = catalog.create_materialized_view(f"gold.jgate{i}", q)
        assert mv.properties().get("mv.refresh_mode") != "join_agg", q
        f.append(spark.createDataFrame([(1, 1)], "fk long, v long"))
        catalog.refresh_materialized_view(f"gold.jgate{i}")


def test_mv_join_agg_null_delta_key_falls_back(catalog, spark):
    """A NULL group key arriving in the fact delta (NULL seg via a dim
    row with NULL seg) cannot be MERGE-addressed: the refresh must
    fall back to full and stay exact."""
    f, d = _join_fixture(catalog, spark, "4")
    d.append(spark.createDataFrame([(7, None)], "k long, seg string"))
    catalog.create_materialized_view(
        "gold.jmv4",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_fact4 JOIN gold_dim4 "
        "ON gold_fact4.fk = gold_dim4.k GROUP BY seg",
    )
    f.append(spark.createDataFrame([(7, 70)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv4")
    assert snap.operation == "overwrite"  # the full-refresh fallback
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_jmv4").collect()
    }
    assert got == _expected_join(catalog, spark, "4")


def test_mv_join_agg_recreated_dim_detected(catalog, spark):
    """A dim dropped and recreated back to the SAME version number has
    different contents under the same pin: the snapshot-identity check
    must force a full refresh instead of merging fact deltas against
    stored groups from the old dim (r8 review finding - previously a
    silent wrong result)."""
    f, d = _join_fixture(catalog, spark, "5")
    catalog.create_materialized_view(
        "gold.jmv5",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_fact5 JOIN gold_dim5 "
        "ON gold_fact5.fk = gold_dim5.k GROUP BY seg",
    )
    dim_v = d.current_version()
    catalog.drop_table("gold.dim5")
    d2 = catalog.create_table(
        "gold.dim5", spark.createDataFrame([], "k long, seg string").schema
    )
    d2.append(
        spark.createDataFrame(
            [(1, "Z"), (2, "Z"), (3, "Z")], "k long, seg string"
        )
    )
    assert d2.current_version() == dim_v  # same number, new lineage
    f.append(spark.createDataFrame([(1, 1)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv5")
    assert snap is not None and snap.operation != "merge"
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_jmv5").collect()
    }
    assert got == _expected_join(catalog, spark, "5")


def test_mv_join_agg_empty_dim_commit_stays_incremental(catalog, spark):
    """A content-preserving dim commit (empty append) bumps the
    version without changing the join input: the refresh must re-pin
    and STAY on the fact-delta merge path, not recompute the fact."""
    f, d = _join_fixture(catalog, spark, "6")
    catalog.create_materialized_view(
        "gold.jmv6",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo, "
        "MAX(v) AS hi FROM gold_fact6 JOIN gold_dim6 "
        "ON gold_fact6.fk = gold_dim6.k GROUP BY seg",
    )
    d.append(spark.createDataFrame([], "k long, seg string"))
    f.append(spark.createDataFrame([(1, 100)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv6")
    assert snap.operation == "merge"
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_jmv6").collect()
    }
    assert got == _expected_join(catalog, spark, "6")
    # real dim rows arriving later still force the full path
    d.append(spark.createDataFrame([(4, "D")], "k long, seg string"))
    f.append(spark.createDataFrame([(4, 1)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.jmv6")
    assert snap is not None and snap.operation != "merge"
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_jmv6").collect()
    }
    assert got == _expected_join(catalog, spark, "6")


def test_mv_join_agg_nondeterministic_on_declines(catalog, spark):
    _join_fixture(catalog, spark, "7")
    mv = catalog.create_materialized_view(
        "gold.jgate7",
        "SELECT seg, COUNT(*) AS n FROM gold_fact7 JOIN gold_dim7 "
        "ON gold_fact7.fk = gold_dim7.k "
        "AND current_date > DATE '2000-01-01' GROUP BY seg",
    )
    assert mv.properties().get("mv.refresh_mode") != "join_agg"


def test_mv_recreated_base_detected(catalog, spark):
    """Single-table tier, same hole: a base dropped and recreated back
    to the same version must not read as 'up to date' or feed a wrong
    delta - snapshot identity forces the full path."""
    t = catalog.create_table("gold.rb", _sales_df(spark, []).schema)
    t.append(_sales_df(spark, [("a", 1), ("b", 2)]))
    catalog.create_materialized_view(
        "gold.rbmv",
        "SELECT cat, COUNT(*) AS n, SUM(v) AS sv FROM gold_rb "
        "GROUP BY cat",
    )
    base_v = t.current_version()
    catalog.drop_table("gold.rb")
    t2 = catalog.create_table("gold.rb", _sales_df(spark, []).schema)
    t2.append(_sales_df(spark, [("z", 9)]))
    assert t2.current_version() == base_v
    # same version number: without the identity check this returns
    # None ("fresh") and the MV silently serves the OLD table's groups
    snap = catalog.refresh_materialized_view("gold.rbmv")
    assert snap is not None and snap.operation != "merge"
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_rbmv").collect()
    }
    assert got == {("z", 1, 9)}


# ---- r9 ADVICE fixes: quote-aware statement rewrites + COPY ledger ----


def test_metadata_table_token_in_string_literal_survives(catalog, spark):
    """ADVICE r9: a ns.tbl.files SPELLING inside a string literal must
    stay a literal - the metadata-table rewrite previously corrupted it
    into a temp-view name."""
    df = spark.createDataFrame([(1, "gold.lit.files")], "id long, note string")
    t = catalog.create_table("gold.lit", df.schema)
    t.append(df)
    out = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold_lit "
        "WHERE note = 'gold.lit.files'"
    ).first()
    assert out["n"] == 1
    # the real metadata table still rewrites (outside quotes)
    n_files = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold.lit.files"
    ).first()["n"]
    assert n_files >= 1


def test_table_changes_in_string_literal_survives(catalog, spark):
    """table_changes('t', ...) inside a literal stays verbatim."""
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    t = catalog.create_table("gold.cdflit", df.schema)
    t.append(df)
    out = catalog.sql(
        "SELECT 'table_changes(''gold.cdflit'', 1)' AS txt"
    ).first()
    assert out["txt"] == "table_changes('gold.cdflit', 1)"
    # and the real call still routes
    n = catalog.sql(
        "SELECT COUNT(*) AS n FROM table_changes('gold.cdflit', 0)"
    ).first()["n"]
    assert n == 1


def test_sql_call_quoted_paren_argument(catalog, spark):
    """ADVICE r9: CALL args containing ')' inside a quoted literal must
    still route to the procedure surface (the old [^)]* args group fell
    through to Spark's parser)."""
    df = spark.createDataFrame([(1,)], "id long")
    t = catalog.create_table("gold.parens", df.schema)
    t.append(df)
    out = catalog.sql(
        "CALL system.create_tag('gold.parens', 'v(1)')"
    ).first()
    assert out["operation"] == "create_tag"
    assert "v(1)" in {r.name for r in t.inspect_refs().collect()}


def test_mv_having_literal_with_aggregate_spelling(catalog, spark):
    """ADVICE r9: an aggregate spelling inside a HAVING string literal
    must not be rewritten into alias space (it previously validated
    cleanly and filtered on the wrong value)."""
    df = spark.createDataFrame(
        [("COUNT(v)", 1), ("COUNT(v)", 2), ("other", 3)],
        "k string, v long",
    )
    t = catalog.create_table("gold.havlit", df.schema)
    t.append(df)
    catalog.create_materialized_view(
        "gold.mv_havlit",
        "SELECT k, COUNT(v) AS n FROM gold_havlit GROUP BY k "
        "HAVING k = 'COUNT(v)'",
    )
    rows = catalog.sql("SELECT k, n FROM gold_mv_havlit").collect()
    assert [(r["k"], r["n"]) for r in rows] == [("COUNT(v)", 2)]
    # incremental refresh path keeps the literal semantics too
    t.append(spark.createDataFrame([("COUNT(v)", 9)], "k string, v long"))
    catalog.refresh_materialized_view("gold.mv_havlit")
    rows = catalog.sql("SELECT k, n FROM gold_mv_havlit").collect()
    assert [(r["k"], r["n"]) for r in rows] == [("COUNT(v)", 3)]


def test_copy_into_touch_does_not_reload(catalog, spark, tmp_path):
    """ADVICE r9: COPY INTO keys on (path, content fingerprint) - a
    touched or byte-identical-rewritten file must NOT reload; a real
    content rewrite at the same path reloads and REPLACES the path's
    ledger entry (bounded growth)."""
    import json as _json
    import os as _os
    import shutil as _shutil

    src = tmp_path / "landing9"
    src.mkdir()
    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    df1.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    part = next(
        p for p in (src / "a").iterdir() if p.name.endswith(".parquet")
    )
    t = catalog.create_table("gold.copied9", df1.schema, [])
    catalog.sql(f"COPY INTO gold.copied9 FROM '{src}'")
    assert t.to_df().count() == 2
    v = t.current_version()
    # touch: new mtime, same bytes -> skipped
    _os.utime(part, None)
    out = catalog.sql(f"COPY INTO gold.copied9 FROM '{src}'").first()
    assert out["loaded_files"] == 0 and t.current_version() == v
    # byte-identical rewrite (copy to temp, move back) -> skipped
    tmp = src / "a" / "tmpcopy"
    _shutil.copyfile(part, tmp)
    _os.replace(tmp, part)
    out = catalog.sql(f"COPY INTO gold.copied9 FROM '{src}'").first()
    assert out["loaded_files"] == 0 and t.current_version() == v
    # real content rewrite at the SAME path -> reloads, entry replaced
    df2 = spark.createDataFrame([(9, "z")], "id long, s string")
    df2.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    newpart = next(
        p for p in (src / "b").iterdir() if p.name.endswith(".parquet")
    )
    _shutil.copyfile(newpart, part)
    _shutil.rmtree(src / "b")
    # drop the stale Hadoop checksum sidecar from the original write
    crc = part.parent / f".{part.name}.crc"
    if crc.exists():
        crc.unlink()
    out = catalog.sql(f"COPY INTO gold.copied9 FROM '{src}'").first()
    assert out["loaded_files"] == 1
    ledger = _json.loads(t.properties()["copy.ledger"])
    # dict ledger: exactly one entry for the rewritten path
    assert list(ledger["fp"].keys()) == [str(part)]


def test_copy_fingerprint_detects_midfile_change(tmp_path):
    """r9 review: the fingerprint hashes the WHOLE file - a same-size
    edit confined to the middle (which a head+tail-only hash with
    unchanged footer stats would miss) must change the key."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    p = tmp_path / "big.bin"
    data = bytearray(b"\x00" * 300_000)
    p.write_bytes(bytes(data))
    fp1 = LakehouseCatalog._copy_fingerprint(str(p))
    data[150_000] = 0xFF  # same size, middle byte only
    p.write_bytes(bytes(data))
    fp2 = LakehouseCatalog._copy_fingerprint(str(p))
    assert fp1 != fp2


def test_copy_into_noop_rerun_is_stat_only(catalog, spark, tmp_path):
    """r9 review: a steady-state COPY INTO re-run over unchanged files
    must not re-hash them (the mt stat cache short-circuits) - bulk
    re-hashing 10k landing files per cadence would be O(corpus) I/O."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import (
        catalog as catmod,
    )

    src = tmp_path / "landing_stat"
    src.mkdir()
    df1 = spark.createDataFrame([(1, "x")], "id long, s string")
    df1.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    t = catalog.create_table("gold.statonly", df1.schema, [])
    catalog.sql(f"COPY INTO gold.statonly FROM '{src}'")
    real = catmod.LakehouseCatalog._copy_fingerprint
    calls = {"n": 0}

    def counting(path):
        calls["n"] += 1
        return real(path)

    catmod.LakehouseCatalog._copy_fingerprint = staticmethod(counting)
    try:
        out = catalog.sql(f"COPY INTO gold.statonly FROM '{src}'").first()
    finally:
        catmod.LakehouseCatalog._copy_fingerprint = staticmethod(real)
    assert out["loaded_files"] == 0
    assert calls["n"] == 0  # unchanged (path, mtime_ns): no hashing


def test_copy_into_touched_file_rehashes_exactly_once(
    catalog, spark, tmp_path
):
    """ADVICE r9: a touched-but-byte-identical file is re-hashed on the
    run that sees the new mtime, and the refreshed stat cache is
    PERSISTED by that (no-op) run - so every later steady-state re-run
    is stat-only again, never hash-per-cadence."""
    import os as _os

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import (
        catalog as catmod,
    )

    src = tmp_path / "landing_touch1x"
    src.mkdir()
    df1 = spark.createDataFrame([(1, "x")], "id long, s string")
    df1.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    part = next(
        p for p in (src / "a").iterdir() if p.name.endswith(".parquet")
    )
    catalog.create_table("gold.touch1x", df1.schema, [])
    catalog.sql(f"COPY INTO gold.touch1x FROM '{src}'")
    _os.utime(part, None)  # touch: new mtime, same bytes
    real = catmod.LakehouseCatalog._copy_fingerprint
    calls = {"n": 0}

    def counting(path):
        calls["n"] += 1
        return real(path)

    catmod.LakehouseCatalog._copy_fingerprint = staticmethod(counting)
    try:
        out1 = catalog.sql(f"COPY INTO gold.touch1x FROM '{src}'").first()
        n_first = calls["n"]
        out2 = catalog.sql(f"COPY INTO gold.touch1x FROM '{src}'").first()
    finally:
        catmod.LakehouseCatalog._copy_fingerprint = staticmethod(real)
    assert out1["loaded_files"] == 0 and out2["loaded_files"] == 0
    assert n_first == 1  # the touch run hashes once
    assert calls["n"] == n_first  # ...and the next run is stat-only


def test_time_travel_token_in_string_literal_survives(catalog, spark):
    """r9 review: 'FOR VERSION AS OF n' SPELLED inside a string literal
    must stay a literal (the sibling metadata-table/table_changes
    rewrites were made quote-aware in r9; time travel had the same
    hole)."""
    df = spark.createDataFrame([(1,)], "id long")
    t = catalog.create_table("gold.ttlit", df.schema)
    t.append(df)
    out = catalog.sql(
        "SELECT 'gold.ttlit FOR VERSION AS OF 99' AS note, COUNT(*) AS n "
        "FROM gold_ttlit GROUP BY note"
    ).first()
    assert out["note"] == "gold.ttlit FOR VERSION AS OF 99"
    assert out["n"] == 1
    # the real (outside-quotes) rewrite still time-travels
    t.append(spark.createDataFrame([(2,)], "id long"))
    n_v1 = catalog.sql(
        "SELECT COUNT(*) AS n FROM gold.ttlit VERSION AS OF 1"
    ).first()["n"]
    assert n_v1 == 1


# ---- r9: multi-dim join-MV tier (VERDICT r8 #5) ----


def _star_fixture(catalog, spark, suffix=""):
    f = catalog.create_table(
        f"gold.sfact{suffix}",
        spark.createDataFrame([], "fk long, rk long, v long").schema,
    )
    d1 = catalog.create_table(
        f"gold.sdim1{suffix}",
        spark.createDataFrame([], "k long, seg string").schema,
    )
    d2 = catalog.create_table(
        f"gold.sdim2{suffix}",
        spark.createDataFrame([], "r long, reg string").schema,
    )
    d1.append(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B")], "k long, seg string"
        )
    )
    d2.append(
        spark.createDataFrame(
            [(10, "EU"), (20, "US")], "r long, reg string"
        )
    )
    f.append(
        spark.createDataFrame(
            [(1, 10, 100), (2, 20, 200), (3, 10, 300), (1, 20, 5)],
            "fk long, rk long, v long",
        )
    )
    return f, d1, d2


_STAR_Q = (
    "SELECT seg, reg, COUNT(*) AS n, SUM(v) AS sv "
    "FROM gold_sfact{s} JOIN gold_sdim1{s} ON gold_sfact{s}.fk = "
    "gold_sdim1{s}.k JOIN gold_sdim2{s} ON gold_sfact{s}.rk = "
    "gold_sdim2{s}.r GROUP BY seg, reg"
)


def _star_expected(catalog, spark, suffix=""):
    catalog.register_views()
    return {
        tuple(r)
        for r in spark.sql(_STAR_Q.format(s=suffix)).collect()
    }


def test_mv_multidim_join_incremental_refresh(catalog, spark):
    """fact JOIN dim1 JOIN dim2 (the q05 star shape): creation detects
    the join_agg tier with BOTH dims pinned; fact appends merge only
    the delta; a single dim moving refreshes from its SIGNED changelog
    (r9 CDC tier - COUNT/integral-SUM are linear through the inner
    join) and re-pins; both dims moving falls back to full refresh."""
    import json as _json

    f, d1, d2 = _star_fixture(catalog, spark)
    mv = catalog.create_materialized_view(
        "gold.smv", _STAR_Q.format(s="")
    )
    props = mv.properties()
    assert props.get("mv.refresh_mode") == "join_agg"
    assert _json.loads(props["mv.join_dims"]) == [
        "gold.sdim1", "gold.sdim2",
    ]
    assert set(_json.loads(props["mv.join_dim_versions"])) == {
        "gold.sdim1", "gold.sdim2",
    }

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_smv").collect()
        }

    assert via_view() == _star_expected(catalog, spark)
    assert catalog.refresh_materialized_view("gold.smv") is None
    # fact append -> merge of the delta joined to both pinned dims
    f.append(
        spark.createDataFrame(
            [(3, 20, 7), (2, 10, 9)], "fk long, rk long, v long"
        )
    )
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap.operation == "merge"
    assert via_view() == _star_expected(catalog, spark)
    # content-preserving commit on ONE dim: re-pin, stay incremental
    d2.append(spark.createDataFrame([], "r long, reg string"))
    f.append(
        spark.createDataFrame([(1, 10, 1)], "fk long, rk long, v long")
    )
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap.operation == "merge"
    assert via_view() == _star_expected(catalog, spark)
    # dim2 UPDATE (a GROUP KEY moves): the single-moved-dim CDC tier
    # merges the signed dim changelog joined to the pinned fact - the
    # 'US' group's last row leaves, 'APAC' appears, no full recompute
    catalog.sql("UPDATE gold.sdim2 SET reg = 'APAC' WHERE r = 20")
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert via_view() == _star_expected(catalog, spark)
    assert _json.loads(
        catalog.load_table("gold.smv").properties()[
            "mv.join_dim_versions"
        ]
    )["gold.sdim2"] == str(d2.current_version())  # re-pinned in place
    # fact DML (not append-only): the fact-changelog CDC tier merges
    catalog.sql("DELETE FROM gold.sfact WHERE v = 9")
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert via_view() == _star_expected(catalog, spark)
    # BOTH dims moved in one refresh window (r10): the single-dim CDC
    # terms compose telescopically - dim1's changelog against the
    # PINNED dim2, then dim2's changelog against the NEW dim1 - two
    # merges, no full recompute
    catalog.sql("UPDATE gold.sdim1 SET seg = 'C' WHERE k = 2")
    catalog.sql("UPDATE gold.sdim2 SET reg = 'EU2' WHERE r = 10")
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert via_view() == _star_expected(catalog, spark)
    vs = _json.loads(
        catalog.load_table("gold.smv").properties()[
            "mv.join_dim_versions"
        ]
    )
    assert vs["gold.sdim1"] == str(d1.current_version())
    assert vs["gold.sdim2"] == str(d2.current_version())
    # fact AND a dim moved together (r11): the telescoping composition
    # adds a fact-changelog term LAST - the dim term binds the PINNED
    # fact, the fact term joins the NEW dim; still merge-only
    f.append(
        spark.createDataFrame([(2, 20, 11)], "fk long, rk long, v long")
    )
    catalog.sql("UPDATE gold.sdim1 SET seg = 'D' WHERE k = 3")
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert via_view() == _star_expected(catalog, spark)
    # both pins advanced
    assert _json.loads(
        catalog.load_table("gold.smv").properties()[
            "mv.join_dim_versions"
        ]
    )["gold.sdim1"] == str(d1.current_version())
    assert catalog.load_table("gold.smv").properties()[
        "mv.base_version"
    ] == str(f.current_version())
    # incremental again after the re-pin
    f.append(
        spark.createDataFrame([(2, 20, 13)], "fk long, rk long, v long")
    )
    snap = catalog.refresh_materialized_view("gold.smv")
    assert snap.operation == "merge"
    assert via_view() == _star_expected(catalog, spark)


def test_mv_join_cdc_null_sum_and_group_leave(catalog, spark):
    """r9 join-CDC edges, deterministically: a fact DELETE that removes
    a group's last NON-NULL sum contribution must read NULL (not 0)
    via the __mv_nn state, and a dim DELETE that unmatches a group's
    last fact row must make the group LEAVE the view (__mv_rows = 0) -
    both through signed-changelog merges, no full refresh."""
    f = catalog.create_table(
        "gold.cnf",
        spark.createDataFrame([], "fk long, v long, w long").schema,
    )
    d = catalog.create_table(
        "gold.cnd",
        spark.createDataFrame([], "k long, seg string").schema,
    )
    d.append(
        spark.createDataFrame([(1, "A"), (2, "B")], "k long, seg string")
    )
    f.append(
        spark.createDataFrame(
            [(1, 5, None), (1, 3, 7), (2, 4, 1)],
            "fk long, v long, w long",
        )
    )
    catalog.create_materialized_view(
        "gold.cnmv",
        "SELECT seg, COUNT(*) AS n, SUM(w) AS sw "
        "FROM gold_cnf JOIN gold_cnd ON gold_cnf.fk = gold_cnd.k "
        "GROUP BY seg",
    )

    def rows():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_cnmv").collect()
        }

    assert rows() == {("A", 2, 7), ("B", 1, 1)}
    # fact DELETE removes A's only non-null w: sw -> NULL, not 0
    catalog.sql("DELETE FROM gold.cnf WHERE w = 7")
    snap = catalog.refresh_materialized_view("gold.cnmv")
    assert snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert rows() == {("A", 1, None), ("B", 1, 1)}
    # dim DELETE unmatches B's last fact row: the group leaves
    catalog.sql("DELETE FROM gold.cnd WHERE k = 2")
    snap = catalog.refresh_materialized_view("gold.cnmv")
    assert snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert rows() == {("A", 1, None)}


def test_mv_multidim_join_gates(catalog, spark):
    """A repeated table anywhere in the chain (fact or between dims)
    and an outer join in the chain decline to full refresh."""
    f, d1, d2 = _star_fixture(catalog, spark, "g")
    declined = [
        # same dim twice
        "SELECT seg, COUNT(*) AS n FROM gold_sfactg "
        "JOIN gold_sdim1g ON gold_sfactg.fk = gold_sdim1g.k "
        "JOIN gold_sdim1g ON gold_sfactg.rk = gold_sdim1g.k "
        "GROUP BY seg",
        # outer join in the middle of the chain
        "SELECT seg, reg, COUNT(*) AS n FROM gold_sfactg "
        "JOIN gold_sdim1g ON gold_sfactg.fk = gold_sdim1g.k "
        "LEFT JOIN gold_sdim2g ON gold_sfactg.rk = gold_sdim2g.r "
        "GROUP BY seg, reg",
    ]
    for i, q in enumerate(declined):
        try:
            mv = catalog.create_materialized_view(f"gold.sgate{i}", q)
        except Exception:
            continue  # self-join ambiguity may fail analysis: fine
        assert mv.properties().get("mv.refresh_mode") != "join_agg", q


def test_generated_columns_fill_and_enforce(catalog, spark):
    """r9 Delta parity: GENERATED ALWAYS AS columns are filled on
    append when omitted, enforced (null-safe) when present, declared
    only on empty tables, and partitionable - the generated-date
    pattern that makes event_date pruning trustworthy."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.genc",
        spark.createDataFrame(
            [], "id long, ts timestamp, event_date string"
        ).schema,
        [],
    )
    out = catalog.sql(
        "ALTER TABLE gold.genc ADD COLUMN id2 bigint "
        "GENERATED ALWAYS AS (id * 2)"
    ).first()
    assert out["operation"] == "alter add generated column"
    t = catalog.load_table("gold.genc")
    t.set_generated_column("event_date", "date_format(ts, 'yyyy-MM-dd')")
    # append WITHOUT the generated columns: both fill
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00"), (2, "2024-03-02 11:00:00")],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp"))
    t.append(df)
    got = {
        (r["id"], r["event_date"], r["id2"])
        for r in t.to_df().collect()
    }
    assert got == {
        (1, "2024-03-01", 2),
        (2, "2024-03-02", 4),
    }
    # append WITH a wrong value for a generated column: refused
    bad = spark.createDataFrame(
        [(3, "2024-03-03 09:00:00", "1999-01-01", 6)],
        "id long, ts string, event_date string, id2 long",
    ).select(
        "id", F.col("ts").cast("timestamp"), "event_date", "id2"
    )
    with _pytest.raises(ValueError, match="generated column"):
        t.append(bad)
    # UPDATE that breaks the invariant is refused too (enforcement
    # rides _validate_constraints, every write path)
    with _pytest.raises(ValueError, match="generated column"):
        catalog.sql("UPDATE gold.genc SET id = 99 WHERE id = 1")
    # consistent UPDATE (both sides) passes
    catalog.sql(
        "UPDATE gold.genc SET id = 99, id2 = 198 WHERE id = 1"
    )
    assert (99, "2024-03-01", 198) in {
        (r["id"], r["event_date"], r["id2"])
        for r in catalog.load_table("gold.genc").to_df().collect()
    }
    # declaring on a NON-empty table raises
    with _pytest.raises(ValueError, match="empty"):
        catalog.sql(
            "ALTER TABLE gold.genc ADD COLUMN id3 bigint "
            "GENERATED ALWAYS AS (id * 3)"
        )
    # a generated PARTITION column: filled before the partition write
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    t2 = catalog.create_table(
        "gold.genp",
        spark.createDataFrame([], "id long, ts timestamp, d string").schema,
        [PartitionField("d")],
    )
    t2.set_generated_column("d", "date_format(ts, 'yyyy-MM-dd')")
    t2.append(df.withColumnRenamed("id2", "x").select("id", "ts"))
    parts = {
        e["partition"]["d"] for e in t2.snapshot().manifest
    }
    assert parts == {"2024-03-01", "2024-03-02"}


def test_generated_columns_evolution_and_overwrite(catalog, spark):
    """r9 review hardening: every write door fills (overwrite, insert
    merges), schema evolution maintains the generated.* properties
    (drop retires, rename migrates, source references refuse), a bad
    GENERATED DDL leaves no dangling column, and generated-on-generated
    is rejected at declaration."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        drop_column,
        merge_into,
        overwrite_partitions,
        rename_column,
    )

    t = catalog.create_table(
        "gold.genev",
        spark.createDataFrame([], "id long, v long, dbl long").schema,
        [],
    )
    t.set_generated_column("dbl", "v * 2")
    # overwrite door fills the omitted generated column
    overwrite_partitions(
        t, spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    )
    assert {(r["id"], r["dbl"]) for r in t.to_df().collect()} == {
        (1, 20),
        (2, 40),
    }
    # insert merge fills too
    merge_into(
        t,
        spark.createDataFrame([(3, 30)], "id long, v long"),
        key="id",
    )
    assert (3, 60) in {(r["id"], r["dbl"]) for r in t.to_df().collect()}
    # generated-on-generated: rejected at declaration (fresh empty
    # table so the empty-table gate doesn't mask the chain gate)
    tg = catalog.create_table(
        "gold.genchain",
        spark.createDataFrame([], "a long, b long, c long").schema,
        [],
    )
    tg.set_generated_column("b", "a * 2")
    with _pytest.raises(ValueError, match="another generated column"):
        tg.set_generated_column("c", "b + 1")
    # renaming/dropping a SOURCE of the expression refuses
    with _pytest.raises(ValueError, match="referenced by generated"):
        rename_column(t, "v", "w")
    with _pytest.raises(ValueError, match="referenced by generated"):
        drop_column(t, "v")
    # renaming the generated column itself migrates the property
    rename_column(t, "dbl", "twice")
    t = catalog.load_table("gold.genev")
    assert t.generated_columns() == {"twice": "v * 2"}
    t.append(spark.createDataFrame([(4, 40)], "id long, v long"))
    assert (4, 80) in {
        (r["id"], r["twice"]) for r in t.to_df().collect()
    }
    # dropping the generated column retires the property; appends work
    drop_column(t, "twice")
    t = catalog.load_table("gold.genev")
    assert t.generated_columns() == {}
    t.append(spark.createDataFrame([(5, 50)], "id long, v long"))
    # a rejected GENERATED DDL leaves no dangling column
    t2 = catalog.create_table(
        "gold.genddl",
        spark.createDataFrame([], "id long").schema,
        [],
    )
    with _pytest.raises(ValueError, match="invalid generation"):
        catalog.sql(
            "ALTER TABLE gold.genddl ADD COLUMN c bigint "
            "GENERATED ALWAYS AS (nosuch * 2)"
        )
    assert [f.name for f in catalog.load_table("gold.genddl").schema.fields] == ["id"]


def test_sql_alter_partition_field(catalog, spark):
    """r9 Iceberg parity: ALTER TABLE ... ADD/DROP PARTITION FIELD
    evolves the spec metadata-only - old files keep their layout,
    future appends write the new one, and pruning stays correct across
    the boundary (the hidden-partitioning contract)."""
    import pytest as _pytest

    t = catalog.create_table("gold.pevo", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10, start="2020-06-01 00:00:00").coalesce(1))
    out = catalog.sql(
        "ALTER TABLE gold.pevo ADD PARTITION FIELD years(DateTime)"
    ).first()
    assert out["operation"] == "alter add partition field"
    t = catalog.load_table("gold.pevo")
    assert [p.field_name for p in t.partition_spec] == ["DateTime_year"]
    t.append(tick_df(spark, n=10, start="2021-06-01 00:00:00").coalesce(1))
    parts = {
        e["partition"].get("DateTime_year")
        for e in t.snapshot().manifest
    }
    assert parts == {None, "2021"}  # old file unpartitioned, new laid out
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_pevo").first()["n"]
        == 20
    )
    # DROP accepts the field name or the transform spelling
    catalog.sql("ALTER TABLE gold.pevo DROP PARTITION FIELD DateTime_year")
    assert catalog.load_table("gold.pevo").partition_spec == []
    catalog.sql("ALTER TABLE gold.pevo ADD PARTITION FIELD years(DateTime)")
    catalog.sql(
        "ALTER TABLE gold.pevo DROP PARTITION FIELD years(DateTime)"
    )
    assert catalog.load_table("gold.pevo").partition_spec == []
    with _pytest.raises(ValueError, match="no partition field"):
        catalog.sql("ALTER TABLE gold.pevo DROP PARTITION FIELD nope")
    with _pytest.raises(ValueError, match="not a table column"):
        catalog.sql("ALTER TABLE gold.pevo ADD PARTITION FIELD days(zzz)")


def test_join_cdc_analysis_failure_declines_and_restores(catalog, spark):
    """r9 review: when a signed term's projection fails ANALYSIS the
    term returns NotImplemented (caller full-refreshes) and the
    swapped temp view is restored to the table's public view either
    way - no changelog leak to subsequent readers."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import mv as mvmod

    f = catalog.create_table(
        "gold.cdcaf",
        spark.createDataFrame([], "fk long, v long").schema,
    )
    d = catalog.create_table(
        "gold.cdcad",
        spark.createDataFrame([], "k long, seg string").schema,
    )
    d.append(spark.createDataFrame([(1, "A")], "k long, seg string"))
    f.append(spark.createDataFrame([(1, 5)], "fk long, v long"))
    mv = catalog.create_materialized_view(
        "gold.cdcamv",
        "SELECT seg, COUNT(*) AS n FROM gold_cdcaf "
        "JOIN gold_cdcad ON gold_cdcaf.fk = gold_cdcad.k GROUP BY seg",
    )
    catalog.sql("DELETE FROM gold.cdcaf WHERE v = 99")  # no-op delete
    f2 = catalog.load_table("gold.cdcaf")
    ch = f2.scan_changelog(1, f2.current_version())
    # a doctored aggregate argument that cannot analyze: decline, not
    # crash
    ctx = mvmod._Ctx.of(mv, dict(mv.properties()))
    ctx.agg_args = {"n": "nosuch_col"}
    term = mvmod._Term(
        "gold.cdcaf", f2.current_version(), ch, False, {}, {}
    )
    assert mvmod._signed_term(catalog, ctx, term) is NotImplemented
    # the fact's public view is restored (not the changelog binding)
    cols = spark.sql("SELECT * FROM gold_cdcaf").columns
    assert "_change_type" not in cols and cols == ["fk", "v"]


def test_join_cdc_mv_dim_restore_keeps_view_semantics(catalog, spark):
    """r9 review: a join-MV whose DIM is itself an (agg) MV must
    restore the dim's STRIPPED public view after a dim-CDC refresh -
    a raw scan() restore would expose hidden __mv_* state to plain
    spark.sql readers until the next register_views()."""
    b = catalog.create_table(
        "gold.mvdb",
        spark.createDataFrame([], "k long, x long").schema,
    )
    b.append(
        spark.createDataFrame(
            [(1, 5), (1, 7), (2, 9)], "k long, x long"
        )
    )
    # the dim: a CDC-ready single-table agg MV (stores __mv_rows etc.)
    dim_mv = catalog.create_materialized_view(
        "gold.mvdim",
        "SELECT k, COUNT(*) AS nk, SUM(x) AS sx FROM gold_mvdb GROUP BY k",
    )
    assert "__mv_rows" in {fl.name for fl in dim_mv.schema.fields}
    f = catalog.create_table(
        "gold.mvdf",
        spark.createDataFrame([], "fk long, v long").schema,
    )
    f.append(
        spark.createDataFrame([(1, 10), (2, 20)], "fk long, v long")
    )
    join_mv = catalog.create_materialized_view(
        "gold.mvjoin",
        "SELECT nk, COUNT(*) AS n, SUM(v) AS sv FROM gold_mvdf "
        "JOIN gold_mvdim ON gold_mvdf.fk = gold_mvdim.k GROUP BY nk",
    )
    assert join_mv.properties().get("mv.refresh_mode") == "join_agg"
    # move the dim MV (base DML -> its own CDC refresh), then refresh
    # the join MV: the single-moved-dim path runs and must restore the
    # dim's stripped view
    catalog.sql("DELETE FROM gold.mvdb WHERE x = 7")
    catalog.refresh_materialized_view("gold.mvdim")
    catalog.refresh_materialized_view("gold.mvjoin")
    cols = spark.sql("SELECT * FROM gold_mvdim").columns
    assert not [c for c in cols if c.startswith("__mv_")], cols
    # and the join MV's contents are right (whatever refresh path ran)
    got = {
        (r["nk"], r["n"], r["sv"])
        for r in catalog.sql(
            "SELECT nk, n, sv FROM gold_mvjoin"
        ).collect()
    }
    catalog.register_views()
    want = {
        tuple(r)
        for r in spark.sql(
            "SELECT nk, COUNT(*) AS n, SUM(v) AS sv FROM gold_mvdf "
            "JOIN gold_mvdim ON gold_mvdf.fk = gold_mvdim.k GROUP BY nk"
        ).collect()
    }
    assert got == want


def test_sql_optimize_where_across_spec_evolution(catalog, spark):
    """r9 review: OPTIMIZE WHERE must work when small files span TWO
    partition specs (rows get the union of columns, NULL for fields a
    spec never wrote), must validate the predicate even when no
    candidates exist, and `field IS NULL` selects pre-evolution files."""
    import pytest as _pytest

    t = catalog.create_table("gold.pmix", TICK_SCHEMA, [])
    # two pre-evolution (unpartitioned) fragments
    for i in range(2):
        t.append(
            tick_df(spark, n=10, start=f"2019-0{i+1}-01 00:00:00").coalesce(1)
        )
    catalog.sql("ALTER TABLE gold.pmix ADD PARTITION FIELD years(DateTime)")
    t = catalog.load_table("gold.pmix")
    for _ in range(2):
        t.append(
            tick_df(spark, n=10, start="2022-01-01 00:00:00").coalesce(1)
        )
    # predicate over the evolved field: only 2022's fragments compact
    out = catalog.sql(
        "OPTIMIZE gold.pmix WHERE DateTime_year = '2022'"
    ).first()
    assert out["compacted_files"] == 2
    # pre-evolution files are addressable via IS NULL
    out = catalog.sql(
        "OPTIMIZE gold.pmix WHERE DateTime_year IS NULL"
    ).first()
    assert out["compacted_files"] == 2
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_pmix").first()["n"]
        == 40
    )
    # an invalid predicate raises even with NO remaining candidates
    with _pytest.raises(ValueError, match="partition columns"):
        catalog.sql("OPTIMIZE gold.pmix WHERE nosuch = 1")


def test_sql_drop_partition_field_parameter_match(catalog, spark):
    """r9 review: DROP PARTITION FIELD bucket(4, col) must NOT silently
    drop a bucket(8, col) field - parameters are part of the identity."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    t = catalog.create_table(
        "gold.pbkt",
        TICK_SCHEMA,
        [PartitionField("Bid", "bucket", n_buckets=8)],
    )
    with _pytest.raises(ValueError, match="no partition field"):
        catalog.sql(
            "ALTER TABLE gold.pbkt DROP PARTITION FIELD bucket(4, Bid)"
        )
    catalog.sql(
        "ALTER TABLE gold.pbkt DROP PARTITION FIELD bucket(8, Bid)"
    )
    assert catalog.load_table("gold.pbkt").partition_spec == []


def test_restore_reconciles_generated_properties(catalog, spark):
    """r9 review: RESTORE to a version predating a generated-column
    declaration drops the now-orphaned generated.* property so appends
    keep working (properties are unversioned; the snapshot is not)."""
    t = catalog.create_table(
        "gold.genres",
        spark.createDataFrame([], "id long").schema,
        [],
    )
    v_before = t.current_version()  # schema without id2
    catalog.sql(
        "ALTER TABLE gold.genres ADD COLUMN id2 bigint "
        "GENERATED ALWAYS AS (id * 2)"
    )
    t = catalog.load_table("gold.genres")
    assert t.generated_columns() == {"id2": "id * 2"}
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.restore_to(v_before)
    t = catalog.load_table("gold.genres")
    assert t.generated_columns() == {}  # orphan reconciled away
    t.append(spark.createDataFrame([(2,)], "id long"))  # must not raise
    assert t.to_df().count() == 1


def test_merge_with_schema_evolution(catalog, spark):
    """r9 Delta parity: MERGE WITH SCHEMA EVOLUTION adds new source
    columns (existing rows read null) and widens legally-promotable
    types; append(merge_schema=True) is the write-option twin; without
    the flag the writer validation still refuses."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.msev",
        spark.createDataFrame([], "k long, v integer").schema,
        [],
    )
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v integer")
    )
    src = spark.createDataFrame(
        [(2, 99, "b2"), (3, 30, "c1")], "k long, v long, tag string"
    )
    # without evolution, extra source columns are ignored (the merge
    # aligns to the table's schema - pre-existing contract): no tag
    # column appears
    catalog.sql(
        "MERGE INTO gold.msev USING (SELECT 9 AS k, CAST(1 AS INT)"
        " AS v, 'x' AS tag) s ON gold.msev.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t = catalog.load_table("gold.msev")
    assert "tag" not in {f.name for f in t.schema.fields}
    catalog.sql("DELETE FROM gold.msev WHERE k = 9")
    src.createOrReplaceTempView("msev_src")
    out = catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.msev USING msev_src "
        "ON gold.msev.k = msev_src.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert out["operation"] == "merge"
    t = catalog.load_table("gold.msev")
    types = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert types == {"k": "bigint", "v": "bigint", "tag": "string"}
    got = {(r["k"], r["v"], r["tag"]) for r in t.to_df().collect()}
    assert got == {(1, 10, None), (2, 99, "b2"), (3, 30, "c1")}
    # append write-option twin
    t.append(
        spark.createDataFrame(
            [(4, 40, "d", True)], "k long, v long, tag string, extra boolean"
        ),
        merge_schema=True,
    )
    t = catalog.load_table("gold.msev")
    assert "extra" in {f.name for f in t.schema.fields}
    assert t.to_df().filter("extra").count() == 1


def test_merge_column_level_set(catalog, spark):
    """r10 (VERDICT r9 #4): MERGE ... WHEN MATCHED THEN UPDATE SET
    col = expr (column-level assignments, not row-replace): assigned
    columns recompute from expressions over BOTH sides, unassigned
    columns carry through, assignments read the ORIGINAL row
    (simultaneous - SET a=b, b=a swaps), results cast to the column
    type, and the matched condition gates per row."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.clset",
        spark.createDataFrame(
            [], "k long, a long, b long, note string"
        ).schema,
        [],
    )
    t.append(
        spark.createDataFrame(
            [(1, 10, 100, "x"), (2, 20, 200, "y"), (3, 30, 300, "z")],
            "k long, a long, b long, note string",
        )
    )
    spark.createDataFrame(
        [(1, 5), (2, 7), (9, 9)], "k long, delta long"
    ).createOrReplaceTempView("clset_src")
    # assigned: a += s.delta; unassigned b/note carry; source-only key 9
    # inserts with NULLs for columns the source lacks
    catalog.sql(
        "MERGE INTO gold.clset USING clset_src s ON gold.clset.k = s.k "
        "WHEN MATCHED THEN UPDATE SET a = gold.clset.a + s.delta "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        (r["k"], r["a"], r["b"], r["note"])
        for r in catalog.load_table("gold.clset").to_df().collect()
    }
    assert got == {
        (1, 15, 100, "x"),
        (2, 27, 200, "y"),
        (3, 30, 300, "z"),
        (9, None, None, None),
    }
    # simultaneous assignment: swap a and b on one row
    catalog.sql(
        "MERGE INTO gold.clset USING (SELECT 1 AS k) s "
        "ON gold.clset.k = s.k "
        "WHEN MATCHED THEN UPDATE SET a = gold.clset.b, "
        "b = gold.clset.a"
    )
    r1 = (
        catalog.load_table("gold.clset")
        .to_df()
        .filter("k = 1")
        .first()
    )
    assert (r1["a"], r1["b"]) == (100, 15)
    # matched condition gates per row
    catalog.sql(
        "MERGE INTO gold.clset USING (SELECT 2 AS k UNION ALL "
        "SELECT 3 AS k) s ON gold.clset.k = s.k "
        "WHEN MATCHED AND b > 250 THEN UPDATE SET note = 'big'"
    )
    notes = {
        r["k"]: r["note"]
        for r in catalog.load_table("gold.clset").to_df().collect()
    }
    assert notes[3] == "big" and notes[2] == "y"
    # SET on a key column refuses
    with _pytest.raises(ValueError, match="key column"):
        catalog.sql(
            "MERGE INTO gold.clset USING (SELECT 2 AS k) s "
            "ON gold.clset.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = 99"
        )


def test_merge_column_set_schema_evolution(catalog, spark):
    """r10 (VERDICT r9 #4): a column-level SET naming a column the
    table lacks refuses without evolution and, under MERGE WITH SCHEMA
    EVOLUTION, adds it (typed from the assignment expression) then
    merges - existing rows read NULL."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.clsev",
        spark.createDataFrame([], "k long, v long").schema,
        [],
    )
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    )
    spark.createDataFrame(
        [(1, "hot")], "k long, tag string"
    ).createOrReplaceTempView("clsev_src")
    with _pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        catalog.sql(
            "MERGE INTO gold.clsev USING clsev_src s "
            "ON gold.clsev.k = s.k "
            "WHEN MATCHED THEN UPDATE SET tag = upper(s.tag)"
        )
    assert "tag" not in {
        f.name for f in catalog.load_table("gold.clsev").schema.fields
    }
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.clsev USING clsev_src s "
        "ON gold.clsev.k = s.k "
        "WHEN MATCHED THEN UPDATE SET tag = upper(s.tag), v = s.k + 100"
    )
    t = catalog.load_table("gold.clsev")
    types = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert types["tag"] == "string"
    got = {(r["k"], r["v"], r["tag"]) for r in t.to_df().collect()}
    assert got == {(1, 101, "HOT"), (2, 20, None)}


def test_merge_column_set_review_edges(catalog, spark):
    """r10 review findings on the column-level SET door: (a) a string
    literal containing an alias-dot token is NOT rewritten; (b) CASE
    WHEN inside an assignment expression parses (only clause-starting
    'WHEN [NOT] MATCHED' ends the SET list); (c) generated columns
    RECOMPUTE when a SET touches their dependency, and INSERT * fills
    them from their expression instead of poisoning with NULL."""
    t = catalog.create_table(
        "gold.cledge",
        spark.createDataFrame([], "k long, v long, note string").schema,
        [],
    )
    t.append(
        spark.createDataFrame(
            [(1, 5, "a"), (2, -3, "b")], "k long, v long, note string"
        )
    )
    spark.createDataFrame(
        [(1,), (2,)], "k long"
    ).createOrReplaceTempView("cledge_src")
    catalog.sql(
        "MERGE INTO gold.cledge USING cledge_src s "
        "ON gold.cledge.k = s.k "
        "WHEN MATCHED THEN UPDATE SET "
        "note = 'contact s.smith', "
        "v = CASE WHEN gold.cledge.v > 0 THEN gold.cledge.v ELSE 0 END"
    )
    got = {
        (r["k"], r["v"], r["note"])
        for r in catalog.load_table("gold.cledge").to_df().collect()
    }
    assert got == {(1, 5, "contact s.smith"), (2, 0, "contact s.smith")}
    # generated column recomputes from its dependency
    g = catalog.create_table(
        "gold.clgen",
        spark.createDataFrame([], "k long, ts timestamp, d date").schema,
        [],
    )
    g.set_generated_column("d", "to_date(ts)")
    g.append(
        spark.createDataFrame(
            [(1, "2024-03-01 10:00:00")], "k long, ts string"
        ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    spark.createDataFrame(
        [(1, "2024-06-15 09:00:00"), (2, "2024-07-04 12:00:00")],
        "k long, ts string",
    ).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts"
    ).createOrReplaceTempView("clgen_src")
    catalog.sql(
        "MERGE INTO gold.clgen USING clgen_src s ON gold.clgen.k = s.k "
        "WHEN MATCHED THEN UPDATE SET ts = s.ts "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        (r["k"], str(r["d"]))
        for r in catalog.load_table("gold.clgen").to_df().collect()
    }
    assert got == {(1, "2024-06-15"), (2, "2024-07-04")}


def test_merge_column_set_evolution_review_edges(catalog, spark):
    """r10 review findings on column-level SET + evolution: (a) a CHECK
    violation refuses BEFORE the first schema commit (no stranded
    column); (b) INSERT * under evolution unions the FULL source
    schema in (a non-SET source column is added and populated, the
    row-replace door's semantics)."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.clsev2",
        spark.createDataFrame([], "k long, v long").schema,
        [],
    )
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.add_constraint("v_pos", "v > 0")
    spark.createDataFrame(
        [(1, "hot", 77)], "k long, tag string, z long"
    ).createOrReplaceTempView("clsev2_src")
    with _pytest.raises(ValueError, match="v_pos"):
        catalog.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO gold.clsev2 "
            "USING clsev2_src s ON gold.clsev2.k = s.k "
            "WHEN MATCHED THEN UPDATE SET tag = s.tag, v = -1 "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    assert {
        f.name for f in catalog.load_table("gold.clsev2").schema.fields
    } == {"k", "v"}  # nothing stranded
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.clsev2 "
        "USING clsev2_src s ON gold.clsev2.k = s.k "
        "WHEN MATCHED THEN UPDATE SET tag = s.tag "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t = catalog.load_table("gold.clsev2")
    # z (never a SET target) evolved in via INSERT * union semantics
    assert {f.name for f in t.schema.fields} == {"k", "v", "tag", "z"}
    got = {
        (r["k"], r["v"], r["tag"], r["z"]) for r in t.to_df().collect()
    }
    assert got == {(1, 10, "hot", None)}


def test_mv_two_dim_cdc_resumes_after_partial_failure(catalog, spark):
    """r10 review finding: the two-moved-dims composition pins each dim
    IMMEDIATELY after its term commits - a failure between terms leaves
    a state the next refresh resumes as a single-moved-dim CDC refresh,
    never a double-apply of the committed term."""
    import json as _json

    f, d1, d2 = _star_fixture(catalog, spark, "pf")
    catalog.create_materialized_view("gold.smvpf", _STAR_Q.format(s="pf"))
    catalog.sql("UPDATE gold.sdim1pf SET seg = 'C' WHERE k = 2")
    catalog.sql("UPDATE gold.sdim2pf SET reg = 'EU2' WHERE r = 10")
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import mv as mvmod

    real = mvmod._signed_term
    calls = {"n": 0}

    def failing(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between terms")
        return real(*a, **kw)

    mvmod._signed_term = failing
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected"):
            catalog.refresh_materialized_view("gold.smvpf")
    finally:
        mvmod._signed_term = real
    # term 1 (dim1) committed AND pinned; dim2 still at its old pin
    vs = _json.loads(
        catalog.load_table("gold.smvpf").properties()[
            "mv.join_dim_versions"
        ]
    )
    assert vs["gold.sdim1pf"] == str(d1.current_version())
    assert vs["gold.sdim2pf"] != str(d2.current_version())
    # the resumed refresh is a single-moved-dim CDC merge, and the view
    # equals the recompute (no double-apply of term 1)
    snap = catalog.refresh_materialized_view("gold.smvpf")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    catalog.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_smvpf").collect()
    }
    assert got == _star_expected(catalog, spark, "pf")


def test_merge_evolution_constraint_fails_before_schema_commit(
    catalog, spark
):
    """ADVICE r9: evolution commits schema changes BEFORE the merge, so
    a merge failing afterwards would strand an evolved schema. On the
    fast path (update+insert, no conditions) the CHECK gate is
    decidable from the source alone and must fire BEFORE the first
    schema commit - the refused merge leaves the schema untouched."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        merge_into,
    )

    t = catalog.create_table(
        "gold.msevgate",
        spark.createDataFrame([], "k long, v long").schema,
        [],
    )
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.add_constraint("v_pos", "v > 0")
    bad = spark.createDataFrame(
        [(2, -5, "oops")], "k long, v long, tag string"
    )
    with _pytest.raises(ValueError, match="v_pos"):
        merge_into(t, bad, key="k", with_schema_evolution=True)
    t = catalog.load_table("gold.msevgate")
    assert "tag" not in {f.name for f in t.schema.fields}  # not evolved
    # a clean source still evolves and merges
    good = spark.createDataFrame(
        [(2, 5, "ok")], "k long, v long, tag string"
    )
    merge_into(t, good, key="k", with_schema_evolution=True)
    t = catalog.load_table("gold.msevgate")
    assert "tag" in {f.name for f in t.schema.fields}


def test_sql_identity_column_ddl(catalog, spark):
    """r9: ALTER TABLE ... ADD COLUMN rid bigint GENERATED ALWAYS AS
    IDENTITY (START WITH 5 INCREMENT BY 5) declares the allocator;
    appends fill it, INSERT INTO via SQL works without the column."""
    t = catalog.create_table(
        "gold.idddl",
        spark.createDataFrame([], "v string").schema,
        [],
    )
    out = catalog.sql(
        "ALTER TABLE gold.idddl ADD COLUMN rid bigint "
        "GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 5)"
    ).first()
    assert out["operation"] == "alter add identity column"
    t = catalog.load_table("gold.idddl")
    t.append(spark.createDataFrame([("a",), ("b",)], "v string"))
    assert {r["rid"] for r in t.to_df().collect()} == {5, 10}


def test_replace_where(catalog, spark):
    """r10 Delta parity: INSERT INTO t REPLACE WHERE <pred> SELECT ... -
    ONE atomic commit drops the predicate's rows and inserts the new
    ones; rows NOT matching the predicate survive untouched, files
    outside the predicate carry by reference, and an inserted row
    violating the predicate refuses the whole statement."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.rwh",
        spark.createDataFrame([], "day string, k long, v long").schema,
        [],
    )
    t.append(
        spark.createDataFrame(
            [("2024-01-01", 1, 10), ("2024-01-01", 2, 20)],
            "day string, k long, v long",
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [("2024-01-02", 3, 30)], "day string, k long, v long"
        ).coalesce(1)
    )
    cold = {
        e["path"]
        for e in t.snapshot().data_entries
    }
    out = catalog.sql(
        "INSERT INTO gold.rwh REPLACE WHERE day = '2024-01-01' "
        "SELECT '2024-01-01', 9, CAST(99 AS BIGINT)"
    ).first()
    assert out["operation"] == "replace where"
    got = {
        (r["day"], r["k"], r["v"])
        for r in catalog.load_table("gold.rwh").to_df().collect()
    }
    assert got == {("2024-01-01", 9, 99), ("2024-01-02", 3, 30)}
    # the day-02 file carried by reference (never rewritten)
    after = {e["path"] for e in catalog.load_table("gold.rwh").snapshot().data_entries}
    assert len(cold & after) == 1  # exactly the untouched day-02 file
    # an inserted row OUTSIDE the predicate refuses atomically
    v = catalog.load_table("gold.rwh").current_version()
    with _pytest.raises(ValueError, match="satisfy the predicate"):
        catalog.sql(
            "INSERT INTO gold.rwh REPLACE WHERE day = '2024-01-02' "
            "SELECT '2024-09-09', 5, CAST(5 AS BIGINT)"
        )
    assert catalog.load_table("gold.rwh").current_version() == v
    # NULL-predicate rows (three-valued logic) survive the replace
    t = catalog.load_table("gold.rwh")
    t.append(
        spark.createDataFrame(
            [(None, 7, 70)], "day string, k long, v long"
        )
    )
    catalog.sql(
        "INSERT INTO gold.rwh REPLACE WHERE day = '2024-01-01' "
        "SELECT '2024-01-01', 8, CAST(88 AS BIGINT)"
    )
    got = {
        (r["day"], r["k"])
        for r in catalog.load_table("gold.rwh").to_df().collect()
    }
    assert got == {("2024-01-01", 8), ("2024-01-02", 3), (None, 7)}


def test_mv_minmax_cdc_group_recompute(catalog, spark):
    """r10: MIN/MAX aggregate MVs refresh under base DML by
    RECOMPUTING only the touched groups (retraction of a group's
    current min/max falls to the runner-up; a group losing its last
    row leaves the view; untouched groups never re-aggregate) - the
    commit is a merge stamped group_recompute, never a full refresh."""
    b = catalog.create_table(
        "gold.mmbase",
        spark.createDataFrame([], "cat string, v long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", 5), ("a", 3), ("a", 9), ("b", 7), ("c", 2), ("c", 4)],
            "cat string, v long",
        )
    )
    q = (
        "SELECT cat, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi "
        "FROM gold_mmbase GROUP BY cat"
    )
    catalog.create_materialized_view("gold.mmv", q)

    def rows():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_mmv").collect()
        }

    assert rows() == {("a", 3, 3, 9), ("b", 1, 7, 7), ("c", 2, 2, 4)}
    # retract a's min AND b's only row in one refresh window
    catalog.sql("DELETE FROM gold.mmbase WHERE v = 3")
    catalog.sql("DELETE FROM gold.mmbase WHERE v = 7")
    snap = catalog.refresh_materialized_view("gold.mmv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    assert snap.summary.get("group_recompute") is True
    assert rows() == {("a", 2, 5, 9), ("c", 2, 2, 4)}
    # an UPDATE moving c's max recomputes c only; a append-new-group
    # in the same window merges in too
    catalog.sql("UPDATE gold.mmbase SET v = 1 WHERE v = 4")
    b.append(spark.createDataFrame([("d", 8)], "cat string, v long"))
    snap = catalog.refresh_materialized_view("gold.mmv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("group_recompute") is True
    assert rows() == {("a", 2, 5, 9), ("c", 2, 1, 2), ("d", 1, 8, 8)}


def test_mv_cdc_null_group_key_falls_back_to_full(
    catalog, spark, monkeypatch
):
    """An UPDATE that sets a group key to NULL sends the NULL group
    down both changelog routes: the signed route (COUNT/SUM with the
    invertible state) and the touched-group recompute (MIN/MAX). Each
    sees the NULL key in the checkpoint probe's observed metrics and
    falls back to the full refresh, which stays exact."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import mv as mvmod

    b = catalog.create_table(
        "gold.nkbase", spark.createDataFrame([], "cat string, v long").schema
    )
    b.append(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "cat string, v long"
        )
    )
    qs = {
        "gold.nksigned": "SELECT cat, COUNT(*) AS n, SUM(v) AS s "
        "FROM gold_nkbase GROUP BY cat",
        "gold.nkrecompute": "SELECT cat, MIN(v) AS lo, MAX(v) AS hi "
        "FROM gold_nkbase GROUP BY cat",
    }
    for ident, q in qs.items():
        catalog.create_materialized_view(ident, q)
    names = {
        ident: {f.name for f in catalog.load_table(ident).schema.fields}
        for ident in qs
    }
    assert "__mv_rows" in names["gold.nksigned"]
    assert "__mv_rows" not in names["gold.nkrecompute"]
    catalog.sql("UPDATE gold.nkbase SET cat = NULL WHERE v = 2")
    real = mvmod._checkpoint_group_probe
    for ident, q in qs.items():
        seen = []

        def spy(df, group_cols):
            out = real(df, group_cols)
            seen.append(out[2])
            return out

        with monkeypatch.context() as m:
            m.setattr(mvmod, "_checkpoint_group_probe", spy)
            snap = catalog.refresh_materialized_view(ident)
        assert seen and all(seen), (ident, seen)  # the probe saw NULL
        assert snap.operation == "overwrite", ident
        assert not snap.summary.get("cdc_refresh"), ident
        catalog.register_views()
        got = {
            tuple(r)
            for r in spark.sql(
                f"SELECT * FROM {catalog.view_name(ident)}"
            ).collect()
        }
        assert got == {tuple(r) for r in spark.sql(q).collect()}, ident


def test_mv_avg_cdc_group_recompute(catalog, spark):
    """r10: AVG MVs refresh under base DML through the touched-group
    recompute tier - the visible value AND the stored sum/count
    partials recompute from the base with creation's exact
    expressions (bit-identical to full refresh by construction),
    and later APPEND refreshes keep combining the refreshed
    partials."""
    b = catalog.create_table(
        "gold.avgbase",
        spark.createDataFrame([], "cat string, v long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", 2), ("a", 4), ("b", 10)], "cat string, v long"
        )
    )
    catalog.create_materialized_view(
        "gold.avgmv",
        "SELECT cat, COUNT(*) AS n, AVG(v) AS m "
        "FROM gold_avgbase GROUP BY cat",
    )

    def rows():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql("SELECT * FROM gold_avgmv").collect()
        }

    assert rows() == {("a", 2, 3.0), ("b", 1, 10.0)}
    catalog.sql("DELETE FROM gold.avgbase WHERE v = 4")
    snap = catalog.refresh_materialized_view("gold.avgmv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("group_recompute") is True
    assert rows() == {("a", 1, 2.0), ("b", 1, 10.0)}
    # an APPEND after the recompute merges partials on top of the
    # refreshed state (the stored sum/count must have been refreshed
    # too, or this would average against stale partials)
    b.append(spark.createDataFrame([("a", 8)], "cat string, v long"))
    snap = catalog.refresh_materialized_view("gold.avgmv")
    assert snap is not None and snap.operation == "merge"
    assert rows() == {("a", 2, 5.0), ("b", 1, 10.0)}


def test_sql_merge_not_matched_condition(catalog, spark):
    """r10: WHEN NOT MATCHED AND <cond over source columns> THEN
    INSERT * - unmatched source rows failing the condition drop,
    across all three merge doors (row-replace, column-level SET,
    multi-clause)."""
    t = catalog.create_table(
        "gold.nmc", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    spark.createDataFrame(
        [(1, 100), (2, 5), (3, 50)], "k long, v long"
    ).createOrReplaceTempView("nmcsrc")
    # row-replace door
    catalog.sql(
        "MERGE INTO gold.nmc USING nmcsrc s ON gold.nmc.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.v >= 10 THEN INSERT *"
    )
    got = {
        (r["k"], r["v"])
        for r in catalog.load_table("gold.nmc").to_df().collect()
    }
    assert got == {(1, 100), (3, 50)}  # k=2 failed the gate
    # column-level door
    catalog.sql(
        "MERGE INTO gold.nmc USING nmcsrc s ON gold.nmc.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = gold.nmc.v + 1 "
        "WHEN NOT MATCHED AND s.v < 10 THEN INSERT *"
    )
    got = {
        (r["k"], r["v"])
        for r in catalog.load_table("gold.nmc").to_df().collect()
    }
    assert got == {(1, 101), (3, 51), (2, 5)}
    # multi-clause door
    catalog.sql("DELETE FROM gold.nmc WHERE k = 2")
    spark.createDataFrame(
        [(1, 7), (3, 200), (9, 3), (8, 30)], "k long, v long"
    ).createOrReplaceTempView("nmcsrc2")
    catalog.sql(
        "MERGE INTO gold.nmc USING nmcsrc2 s ON gold.nmc.k = s.k "
        "WHEN MATCHED AND gold.nmc.v > 100 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.v >= 10 THEN INSERT *"
    )
    got = {
        (r["k"], r["v"])
        for r in catalog.load_table("gold.nmc").to_df().collect()
    }
    # k=1 (v=101 > 100) deleted; k=3 replaced with 200; k=9 fails the
    # insert gate; k=8 inserts
    assert got == {(3, 200), (8, 30)}


def test_merge_multi_clause_evolution_star_edges(catalog, spark):
    """r10 review: (a) multi-clause MERGE WITH SCHEMA EVOLUTION with an
    UPDATE SET * clause unions the full source schema in, matching the
    single-clause row-replace door; (b) composing UPDATE SET * with an
    evolving SET target the source lacks refuses BEFORE any schema
    commit (the statement could never succeed - nothing strands); (c)
    a merge condition's string literal containing '<alias>.' keeps its
    bytes through alias stripping."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.mcse", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(
        spark.createDataFrame(
            [(1, 500), (2, 10)], "k long, v long"
        )
    )
    spark.createDataFrame(
        [(1, 0, "x"), (2, 7, "y")], "k long, v long, extra string"
    ).createOrReplaceTempView("mcsesrc")
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.mcse USING mcsesrc s "
        "ON gold.mcse.k = s.k "
        "WHEN MATCHED AND gold.mcse.v > 100 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    t = catalog.load_table("gold.mcse")
    assert {f.name for f in t.schema.fields} == {"k", "v", "extra"}
    assert {
        (r["k"], r["v"], r["extra"]) for r in t.to_df().collect()
    } == {(2, 7, "y")}
    # (b) star + evolving SET target the source lacks: refuse, strand
    # nothing
    v0 = t.current_version()
    with _pytest.raises(ValueError, match="source lacks"):
        catalog.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO gold.mcse USING mcsesrc s "
            "ON gold.mcse.k = s.k "
            "WHEN MATCHED AND gold.mcse.v > 100 THEN UPDATE SET * "
            "WHEN MATCHED THEN UPDATE SET tag = 'seen'"
        )
    t = catalog.load_table("gold.mcse")
    assert "tag" not in {f.name for f in t.schema.fields}
    assert t.current_version() == v0
    # (c) a string literal containing the source alias keeps its bytes
    catalog.sql(
        "MERGE INTO gold.mcse USING mcsesrc s ON gold.mcse.k = s.k "
        "WHEN NOT MATCHED AND s.extra = 's.x' THEN INSERT *"
    )
    assert catalog.load_table("gold.mcse").to_df().count() == 1
    spark.createDataFrame(
        [(9, 1, "s.x")], "k long, v long, extra string"
    ).createOrReplaceTempView("mcsesrc2")
    catalog.sql(
        "MERGE INTO gold.mcse USING mcsesrc2 s ON gold.mcse.k = s.k "
        "WHEN NOT MATCHED AND s.extra = 's.x' THEN INSERT *"
    )
    got = {
        (r["k"], r["extra"])
        for r in catalog.load_table("gold.mcse").to_df().collect()
    }
    assert got == {(2, "y"), (9, "s.x")}


def test_merge_multi_clause_schema_evolution(catalog, spark):
    """r10: the multi-clause matrix composes with MERGE WITH SCHEMA
    EVOLUTION - a SET target the table lacks is added (typed from its
    expression) AFTER the CHECK gate passes against the pre-evolution
    schema, and a failing merge strands nothing."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.mcev", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(
        spark.createDataFrame(
            [(1, 500), (2, 10), (3, 20)], "k long, v long"
        )
    )
    t.add_constraint("v_pos", "v > 0")
    spark.createDataFrame(
        [(1, 0), (2, 0), (9, 7)], "k long, v long"
    ).createOrReplaceTempView("mcevsrc")
    # without evolution: unknown SET target refuses
    with _pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        catalog.sql(
            "MERGE INTO gold.mcev USING mcevsrc s ON gold.mcev.k = s.k "
            "WHEN MATCHED AND gold.mcev.v > 100 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET tag = 'seen'"
        )
    # a constraint-violating multi-clause evolution merge strands nothing
    with _pytest.raises(ValueError, match="v_pos"):
        catalog.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO gold.mcev USING mcevsrc s "
            "ON gold.mcev.k = s.k "
            "WHEN MATCHED AND gold.mcev.v > 100 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET tag = 'seen', v = -5"
        )
    assert {
        f.name for f in catalog.load_table("gold.mcev").schema.fields
    } == {"k", "v"}
    # the clean merge evolves and applies first-match-wins per row
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.mcev USING mcevsrc s "
        "ON gold.mcev.k = s.k "
        "WHEN MATCHED AND gold.mcev.v > 100 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET tag = 'seen' "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    t = catalog.load_table("gold.mcev")
    got = {
        (r["k"], r["v"], r["tag"]) for r in t.to_df().collect()
    }
    # k=1 (v=500) deleted; k=2 tagged, v kept; k=3 unmatched-by-source
    # untouched; k=9 inserted (tag NULL - not a source column)
    assert got == {(2, 10, "seen"), (3, 20, None), (9, 7, None)}


def test_mv_three_dim_cdc_composition(catalog, spark):
    """r10: THREE dims of a 4-table star moved in one refresh window
    compose telescopically (three changelog-merge terms, pins per
    term), and the view equals the recompute; a 4th moved side would
    full-refresh (gate pinned by the fact+dim case elsewhere)."""
    import json as _json

    f = catalog.create_table(
        "gold.t3f",
        spark.createDataFrame([], "a long, b long, c long, v long").schema,
    )
    d1 = catalog.create_table(
        "gold.t3d1", spark.createDataFrame([], "k long, s1 string").schema
    )
    d2 = catalog.create_table(
        "gold.t3d2", spark.createDataFrame([], "r long, s2 string").schema
    )
    d3 = catalog.create_table(
        "gold.t3d3", spark.createDataFrame([], "q long, s3 string").schema
    )
    d1.append(
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "k long, s1 string"
        )
    )
    d2.append(
        spark.createDataFrame(
            [(10, "X"), (20, "Y")], "r long, s2 string"
        )
    )
    d3.append(
        spark.createDataFrame(
            [(5, "P"), (6, "Q")], "q long, s3 string"
        )
    )
    f.append(
        spark.createDataFrame(
            [
                (1, 10, 5, 100),
                (2, 20, 6, 200),
                (1, 20, 5, 300),
                (2, 10, 6, 400),
            ],
            "a long, b long, c long, v long",
        )
    )
    q = (
        "SELECT s1, s2, s3, COUNT(*) AS n, SUM(v) AS sv "
        "FROM gold_t3f "
        "JOIN gold_t3d1 ON gold_t3f.a = gold_t3d1.k "
        "JOIN gold_t3d2 ON gold_t3f.b = gold_t3d2.r "
        "JOIN gold_t3d3 ON gold_t3f.c = gold_t3d3.q "
        "GROUP BY s1, s2, s3"
    )
    mv = catalog.create_materialized_view("gold.t3mv", q)
    assert mv.properties().get("mv.refresh_mode") == "join_agg"
    # ALL THREE dims move before one refresh
    catalog.sql("UPDATE gold.t3d1 SET s1 = 'A2' WHERE k = 1")
    catalog.sql("UPDATE gold.t3d2 SET s2 = 'Y2' WHERE r = 20")
    catalog.sql("DELETE FROM gold.t3d3 WHERE q = 6")
    snap = catalog.refresh_materialized_view("gold.t3mv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    catalog.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM gold_t3mv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want
    # all three pins advanced
    vs = _json.loads(
        catalog.load_table("gold.t3mv").properties()[
            "mv.join_dim_versions"
        ]
    )
    assert vs["gold.t3d1"] == str(d1.current_version())
    assert vs["gold.t3d2"] == str(d2.current_version())
    assert vs["gold.t3d3"] == str(d3.current_version())


def test_merge_insert_column_list(catalog, spark):
    """r11: WHEN NOT MATCHED THEN INSERT (a, b) VALUES (e1, e2) -
    explicit-column-list inserts. Unlisted target columns fill with
    typed NULLs; VALUES expressions range over source columns; the
    clause composes with a condition and with WHEN MATCHED clauses."""
    t = catalog.create_table(
        "gold.icl",
        spark.createDataFrame(
            [], "k long, v long, tag string, extra long"
        ).schema,
    )
    t.append(
        spark.createDataFrame(
            [(1, 10, "old", 7)], "k long, v long, tag string, extra long"
        )
    )
    spark.createDataFrame(
        [(1, 100, "s"), (2, 200, "s"), (3, 5, "s")],
        "k long, v long, note string",
    ).createOrReplaceTempView("iclsrc")

    # insert-only (zero WHEN MATCHED clauses): matched key 1 keeps the
    # table version; unmatched keys build rows from the VALUES exprs
    catalog.sql(
        "MERGE INTO gold.icl USING iclsrc s ON gold.icl.k = s.k "
        "WHEN NOT MATCHED AND s.v >= 100 THEN "
        "INSERT (k, v, tag) VALUES (s.k, s.v * 2, upper(s.note))"
    )
    got = sorted(
        (r["k"], r["v"], r["tag"], r["extra"])
        for r in catalog.load_table("gold.icl").to_df().collect()
    )
    # k=1 matched (kept); k=2 inserted with v doubled, extra NULL;
    # k=3 failed the insert condition (dropped)
    assert got == [(1, 10, "old", 7), (2, 400, "S", None)]

    # composes with a conditioned WHEN MATCHED clause in one commit
    catalog.sql(
        "MERGE INTO gold.icl USING iclsrc s ON gold.icl.k = s.k "
        "WHEN MATCHED AND gold.icl.v < 50 THEN UPDATE SET tag = 'bumped' "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    got = sorted(
        (r["k"], r["v"], r["tag"], r["extra"])
        for r in catalog.load_table("gold.icl").to_df().collect()
    )
    assert got == [
        (1, 10, "bumped", 7),
        (2, 400, "S", None),
        (3, 5, None, None),
    ]


def test_merge_insert_column_list_errors(catalog, spark):
    """Column-list INSERT refusals: arity mismatch, duplicate targets,
    unknown columns without evolution, a transformed key expression
    (the key model requires identity mapping), and BY SOURCE DELETE."""
    import pytest

    t = catalog.create_table(
        "gold.icle", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    spark.createDataFrame(
        [(2, 20)], "k long, v long"
    ).createOrReplaceTempView("iclesrc")
    head = "MERGE INTO gold.icle USING iclesrc s ON gold.icle.k = s.k "
    with pytest.raises(ValueError, match="VALUES has"):
        catalog.sql(
            head + "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
        )
    with pytest.raises(ValueError, match="duplicate INSERT column"):
        catalog.sql(
            head
            + "WHEN NOT MATCHED THEN INSERT (k, k) VALUES (s.k, s.k)"
        )
    with pytest.raises(ValueError, match="not a table column"):
        catalog.sql(
            head
            + "WHEN NOT MATCHED THEN INSERT (k, w) VALUES (s.k, s.v)"
        )
    # a transformed key could collide with an existing table key and
    # silently drop or double-apply through the merge key model
    with pytest.raises(ValueError, match="bare source column"):
        catalog.sql(
            head
            + "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1, s.v)"
        )
    with pytest.raises(ValueError, match="key column"):
        catalog.sql(
            head + "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)"
        )
    with pytest.raises(ValueError, match="BY SOURCE"):
        catalog.sql(
            head
            + "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v) "
            + "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    # nothing committed by the refusals
    assert catalog.load_table("gold.icle").to_df().count() == 1


def test_merge_insert_column_list_generated_and_evolution(catalog, spark):
    """Column-list INSERT recomputes MISSING generated columns from the
    BUILT row (not the raw source), and under MERGE WITH SCHEMA
    EVOLUTION evolves ONLY the named insert targets - never the full
    source schema (Delta parity)."""
    t = catalog.create_table(
        "gold.iclg",
        spark.createDataFrame([], "k long, v long, vdouble long").schema,
    )
    t.set_generated_column("vdouble", "v * 2")
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    spark.createDataFrame(
        [(1, 50, "drop", 1), (2, 30, "keep", 2)],
        "k long, v long, junk string, grade long",
    ).createOrReplaceTempView("iclgsrc")
    catalog.sql(
        "MERGE INTO gold.iclg USING iclgsrc s ON gold.iclg.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v + 1)"
    )
    got = sorted(
        (r["k"], r["v"], r["vdouble"])
        for r in catalog.load_table("gold.iclg").to_df().collect()
    )
    # the generated column derives from the BUILT v (31), not source 30
    assert got == [(1, 10, 20), (2, 31, 62)]

    # evolution adds ONLY the named target 'grade'; 'junk' stays out
    catalog.sql("DELETE FROM gold.iclg WHERE k = 2")
    catalog.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO gold.iclg USING iclgsrc s "
        "ON gold.iclg.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v, grade) "
        "VALUES (s.k, s.v, s.grade * 10)"
    )
    cols = [f.name for f in catalog.load_table("gold.iclg").schema.fields]
    assert "grade" in cols and "junk" not in cols
    got = sorted(
        (r["k"], r["v"], r["vdouble"], r["grade"])
        for r in catalog.load_table("gold.iclg").to_df().collect()
    )
    assert got == [(1, 10, 20, None), (2, 30, 60, 20)]


def test_merge_insert_column_list_qualified_source(catalog, spark):
    """r11 review: VALUES expressions naming the source by its FULL
    dotted identifier must strip the longest qualifier first - the
    bare table name is a suffix of the dotted one, and stripping it
    first would corrupt 'ns.tbl.col' into 'ns.col'."""
    t = catalog.create_table(
        "gold.qsrc_t", spark.createDataFrame([], "k long, v long").schema
    )
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    s = catalog.create_table(
        "gold.qsrc_s", spark.createDataFrame([], "k long, v long").schema
    )
    s.append(spark.createDataFrame([(1, 99), (2, 20)], "k long, v long"))
    catalog.sql(
        "MERGE INTO gold.qsrc_t USING gold.qsrc_s "
        "ON gold.qsrc_t.k = gold.qsrc_s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) "
        "VALUES (gold.qsrc_s.k, gold.qsrc_s.v + 1)"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.qsrc_t").to_df().collect()
    )
    assert got == [(1, 10), (2, 21)]


def test_mv_pin_crash_recovery_no_double_apply(catalog, spark):
    """r11 review finding: every incremental MV commit carries its
    intended post-commit pins (mv_pins) in the snapshot summary; a
    crash BETWEEN the commit and the property write must not re-apply
    the committed delta on the next refresh. Simulated by rewinding
    the pin properties to their pre-refresh values while the commit
    (and its intent) stands - exactly the crash state."""
    import json as _json

    # ---- join tier: fact + dim moved, telescoping terms
    f = catalog.create_table(
        "gold.pcr_f",
        spark.createDataFrame([], "fk long, v long").schema,
    )
    d = catalog.create_table(
        "gold.pcr_d",
        spark.createDataFrame([], "k long, seg string").schema,
    )
    d.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 2)) for i in range(4)], "k long, seg string"
        )
    )
    f.append(
        spark.createDataFrame(
            [(i % 4, i * 10) for i in range(8)], "fk long, v long"
        )
    )
    q = (
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM gold_pcr_f "
        "JOIN gold_pcr_d ON gold_pcr_f.fk = gold_pcr_d.k GROUP BY seg"
    )
    catalog.create_materialized_view("gold.pcr_mv", q)
    mv = catalog.load_table("gold.pcr_mv")
    before = {
        k: v
        for k, v in mv.properties().items()
        if k.startswith("mv.base_") or k.startswith("mv.join_dim")
    }
    # fact and dim both move -> CDC terms commit, pins advance
    f.append(spark.createDataFrame([(0, 7), (1, 9)], "fk long, v long"))
    catalog.sql("UPDATE gold.pcr_d SET seg = 'Z' WHERE k = 2")
    snap = catalog.refresh_materialized_view("gold.pcr_mv")
    assert snap.summary.get("cdc_refresh") is True
    assert snap.summary.get("mv_pins")  # the commit carries its intent
    catalog.register_views()
    want = {tuple(r) for r in spark.sql(q).collect()}
    got = {tuple(r) for r in spark.sql("SELECT * FROM gold_pcr_mv").collect()}
    assert got == want
    # CRASH SIMULATION: the property write never happened
    mv = catalog.load_table("gold.pcr_mv")
    mv.set_properties(**before)
    # the next refresh completes the pin write instead of re-applying
    snap2 = catalog.refresh_materialized_view("gold.pcr_mv")
    assert snap2 is None  # recovery + nothing moved -> no commit
    got = {tuple(r) for r in spark.sql("SELECT * FROM gold_pcr_mv").collect()}
    assert got == want  # NOT doubled
    props = catalog.load_table("gold.pcr_mv").properties()
    assert props["mv.base_version"] == str(f.current_version())
    assert _json.loads(props["mv.join_dim_versions"])["gold.pcr_d"] == str(
        d.current_version()
    )

    # ---- single-table agg tier: CDC refresh then rewound base pin
    b = catalog.create_table(
        "gold.pcr_b",
        spark.createDataFrame([], "cat string, v long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 5)], "cat string, v long"
        )
    )
    q2 = "SELECT cat, COUNT(*) AS n, SUM(v) AS sv FROM gold_pcr_b GROUP BY cat"
    catalog.create_materialized_view("gold.pcr_amv", q2)
    base_pin = {
        k: v
        for k, v in catalog.load_table("gold.pcr_amv").properties().items()
        if k.startswith("mv.base_")
    }
    catalog.sql("DELETE FROM gold.pcr_b WHERE v = 2")
    snap = catalog.refresh_materialized_view("gold.pcr_amv")
    assert snap.summary.get("mv_pins")
    catalog.register_views()
    want2 = {tuple(r) for r in spark.sql(q2).collect()}
    catalog.load_table("gold.pcr_amv").set_properties(**base_pin)
    assert catalog.refresh_materialized_view("gold.pcr_amv") is None
    got2 = {
        tuple(r) for r in spark.sql("SELECT * FROM gold_pcr_amv").collect()
    }
    assert got2 == want2


def test_merge_by_source_conditioned_delete(catalog, spark):
    """r11 Delta-matrix cell: WHEN NOT MATCHED BY SOURCE AND <cond over
    target> THEN DELETE - unmatched target rows failing the condition
    (or evaluating NULL) survive the sync; out-of-key-range files with
    NO condition matches carry forward by reference instead of being
    dropped wholesale."""
    import pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        merge_into,
    )

    t = catalog.create_table(
        "gold.bsc",
        spark.createDataFrame([], "k long, v long, flag long").schema,
    )
    # three files in distinct key ranges: [1-2], [10-11], [20-21]
    t.append(
        spark.createDataFrame(
            [(1, 10, 1), (2, 20, None)], "k long, v long, flag long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(10, 100, 1), (11, 110, 0)], "k long, v long, flag long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(20, 200, 0), (21, 210, 0)], "k long, v long, flag long"
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(1, 99, 1)], "k long, v long, flag long"
    ).createOrReplaceTempView("bscsrc")
    catalog.sql(
        "MERGE INTO gold.bsc USING bscsrc s ON gold.bsc.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND gold.bsc.flag = 1 THEN DELETE"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.bsc").to_df().collect()
    )
    # k=1 matched (replaced); k=10 unmatched with flag=1 (deleted);
    # k=2 flag NULL survives; k=11/20/21 flag=0 survive
    assert got == [(1, 99), (2, 20), (11, 110), (20, 200), (21, 210)]
    summary = catalog.load_table("gold.bsc").snapshot().summary
    # the [20-21] file has no flag=1 rows and is out of the source key
    # range: it must carry forward by reference, not rewrite or drop
    assert summary["carried_files"] >= 1
    assert summary["dropped_files"] == 0

    # engine-level gates
    t2 = catalog.load_table("gold.bsc")
    src = spark.createDataFrame([(1, 1, 1)], "k long, v long, flag long")
    with pytest.raises(ValueError, match="requires"):
        merge_into(
            t2, src, key="k",
            when_not_matched_by_source="keep",
            by_source_condition="flag = 1",
        )
    with pytest.raises(ValueError, match="deterministic"):
        merge_into(
            t2, src, key="k",
            when_not_matched_by_source="delete",
            by_source_condition="rand() > 0.5",
        )


def test_merge_multi_not_matched_clauses(catalog, spark):
    """r11: several WHEN NOT MATCHED clauses evaluate first-match-wins
    per UNMATCHED source row (the insert side of the Delta matrix) -
    a conditioned column-list insert, a conditioned INSERT *, and an
    unconditional column-list fallback compose in ONE commit; rows
    firing no clause drop; composes with WHEN MATCHED clauses."""
    t = catalog.create_table(
        "gold.mnm",
        spark.createDataFrame([], "k long, v long, tag string").schema,
    )
    t.append(
        spark.createDataFrame([(1, 10, "old")], "k long, v long, tag string")
    )
    spark.createDataFrame(
        [(1, 100, "a"), (2, 200, "b"), (3, 30, "c"), (4, 4, "d")],
        "k long, v long, tag string",
    ).createOrReplaceTempView("mnmsrc")
    catalog.sql(
        "MERGE INTO gold.mnm USING mnmsrc s ON gold.mnm.k = s.k "
        "WHEN MATCHED THEN UPDATE SET tag = 'hit' "
        "WHEN NOT MATCHED AND s.v >= 100 THEN "
        "INSERT (k, v) VALUES (s.k, s.v * 10) "
        "WHEN NOT MATCHED AND s.v >= 10 THEN INSERT * "
        "WHEN NOT MATCHED AND s.v >= 5 THEN "
        "INSERT (k, tag) VALUES (s.k, upper(s.tag))"
    )
    got = sorted(
        (r["k"], r["v"], r["tag"])
        for r in catalog.load_table("gold.mnm").to_df().collect()
    )
    # k=1 matched (tag set); k=2 fires clause 1 (v*10, tag NULL);
    # k=3 fires clause 2 (INSERT *); k=4 (v=4) fires NO clause: drops
    assert got == [
        (1, 10, "hit"),
        (2, 2000, None),
        (3, 30, "c"),
    ]
    # first-match-wins: k=2 must NOT also fire clause 2/3 (exactly one
    # row per unmatched key)
    assert catalog.load_table("gold.mnm").to_df().count() == 3


def test_merge_by_source_update_conditioned(catalog, spark):
    """r11 Delta-matrix cell: WHEN NOT MATCHED BY SOURCE AND <cond over
    target> THEN UPDATE SET - unmatched target rows passing the
    condition take the assignments (simultaneous, against the ORIGINAL
    row), cond-failing/NULL rows survive untouched, and out-of-key-range
    files with NO condition matches carry forward by reference."""
    t = catalog.create_table(
        "gold.bsu",
        spark.createDataFrame([], "k long, v long, flag long").schema,
    )
    # three files in distinct key ranges: [1-2], [10-11], [20-21]
    t.append(
        spark.createDataFrame(
            [(1, 10, 1), (2, 20, None)], "k long, v long, flag long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(10, 100, 1), (11, 110, 0)], "k long, v long, flag long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(20, 200, 0), (21, 210, 0)], "k long, v long, flag long"
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(1, 99, 1)], "k long, v long, flag long"
    ).createOrReplaceTempView("bsusrc")
    catalog.sql(
        "MERGE INTO gold.bsu USING bsusrc s ON gold.bsu.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND gold.bsu.flag = 1 "
        "THEN UPDATE SET v = gold.bsu.v + 1000, flag = flag - 1"
    )
    got = sorted(
        (r["k"], r["v"], r["flag"])
        for r in catalog.load_table("gold.bsu").to_df().collect()
    )
    # k=1 matched (replaced); k=10 unmatched flag=1 (v+1000, flag->0);
    # k=2 flag NULL survives; k=11/20/21 flag=0 survive unchanged
    assert got == [
        (1, 99, 1),
        (2, 20, None),
        (10, 1100, 0),
        (11, 110, 0),
        (20, 200, 0),
        (21, 210, 0),
    ]
    summary = catalog.load_table("gold.bsu").snapshot().summary
    assert summary.get("by_source_update") is True
    # the [20-21] file has no flag=1 rows and is out of the source key
    # range: it carries forward by reference, nothing drops
    assert summary["carried_files"] >= 1
    assert summary["dropped_files"] == 0


def test_merge_by_source_update_unconditioned(catalog, spark):
    """Unconditioned by-source UPDATE touches EVERY unmatched row,
    including rows in files entirely outside the source key range (the
    documented full-rewrite cost) - and composes with INSERT."""
    t = catalog.create_table(
        "gold.bsu2",
        spark.createDataFrame([], "k long, v long").schema,
    )
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(50, 500)], "k long, v long").coalesce(1)
    )
    spark.createDataFrame(
        [(1, 11), (3, 33)], "k long, v long"
    ).createOrReplaceTempView("bsu2src")
    catalog.sql(
        "MERGE INTO gold.bsu2 USING bsu2src s ON gold.bsu2.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -v"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.bsu2").to_df().collect()
    )
    # k=1 replaced, k=3 inserted, k=2 and k=50 (out-of-range file)
    # by-source updated
    assert got == [(1, 11), (2, -20), (3, 33), (50, -500)]
    summary = catalog.load_table("gold.bsu2").snapshot().summary
    assert summary["dropped_files"] == 0
    assert summary["carried_files"] == 0  # every file held updates


def test_merge_by_source_update_generated_and_checks(catalog, spark):
    """By-source assignments recompute unassigned generated columns
    from the ASSIGNED row, and a CHECK-violating assignment refuses
    with nothing committed."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.bsu3",
        spark.createDataFrame([], "k long, v long, v2 long").schema,
    )
    catalog.sql(
        "ALTER TABLE gold.bsu3 ADD COLUMN vdub bigint "
        "GENERATED ALWAYS AS (v * 2)"
    )
    t = catalog.load_table("gold.bsu3")
    t.append(
        spark.createDataFrame([(1, 10, 0), (2, 20, 0)], "k long, v long, v2 long")
    )
    spark.createDataFrame([(1, 99, 0)], "k long, v long, v2 long").createOrReplaceTempView(
        "bsu3src"
    )
    catalog.sql(
        "MERGE INTO gold.bsu3 USING bsu3src s ON gold.bsu3.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v + 5"
    )
    got = {
        (r["k"], r["v"], r["vdub"])
        for r in catalog.load_table("gold.bsu3").to_df().collect()
    }
    # k=2 by-source updated: vdub recomputed from the NEW v
    assert got == {(1, 99, 198), (2, 25, 50)}

    t = catalog.load_table("gold.bsu3")
    t.add_constraint("v_small", "v < 100")
    before = t.snapshot().version
    with _pytest.raises(ValueError, match="v_small"):
        catalog.sql(
            "MERGE INTO gold.bsu3 USING bsu3src s ON gold.bsu3.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v + 1000"
        )
    assert catalog.load_table("gold.bsu3").snapshot().version == before


def test_merge_by_source_update_refusals(catalog, spark):
    """The loud-refusal matrix for the by-source UPDATE arm: UPDATE
    SET * (no source row), key-column SET, source-column references,
    multi-clause combination, matched-condition + column-SET door,
    non-deterministic assignments, schema evolution, and by_source_sets
    without the mode."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        merge_into,
    )

    t = catalog.create_table(
        "gold.bsu4",
        spark.createDataFrame([], "k long, v long").schema,
    )
    t.append(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    spark.createDataFrame([(1, 99)], "k long, v long").createOrReplaceTempView(
        "bsu4src"
    )
    head = (
        "MERGE INTO gold.bsu4 USING bsu4src s ON gold.bsu4.k = s.k "
    )
    with _pytest.raises(ValueError, match="UPDATE SET \\*"):
        catalog.sql(
            head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )
    with _pytest.raises(ValueError, match="key column"):
        catalog.sql(
            head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = k + 1"
        )
    with _pytest.raises(ValueError, match="TARGET columns"):
        catalog.sql(
            head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v"
        )
    with _pytest.raises(ValueError, match="cannot combine"):
        catalog.sql(
            head
            + "WHEN MATCHED AND gold.bsu4.v > 0 THEN UPDATE SET v = 1 "
            + "WHEN MATCHED THEN DELETE "
            + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -v"
        )
    with _pytest.raises(ValueError, match="cannot combine"):
        catalog.sql(
            head
            + "WHEN MATCHED AND gold.bsu4.v > 0 THEN UPDATE SET v = 1 "
            + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -v"
        )
    with _pytest.raises(ValueError, match="evolution"):
        catalog.sql(
            head.replace("MERGE INTO", "MERGE WITH SCHEMA EVOLUTION INTO")
            + "WHEN MATCHED THEN UPDATE SET * "
            + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -v"
        )
    src = spark.createDataFrame([(1, 99)], "k long, v long")
    with _pytest.raises(ValueError, match="deterministic"):
        merge_into(
            t, src, key="k",
            when_not_matched_by_source="update",
            by_source_sets=[("v", "CAST(rand() * 10 AS LONG)")],
        )
    with _pytest.raises(ValueError, match="by_source_sets"):
        merge_into(
            t, src, key="k", when_not_matched_by_source="update"
        )
    with _pytest.raises(ValueError, match="by_source_sets"):
        merge_into(
            t, src, key="k", by_source_sets=[("v", "v + 1")]
        )
    # a string literal containing 's.' must NOT trip the source-
    # qualifier refusal (quote-aware parse)
    catalog.sql(
        head
        + "WHEN NOT MATCHED BY SOURCE AND v = 20 "
        + "THEN UPDATE SET v = length('s.literal') + v"
    )
    got = {
        (r["k"], r["v"])
        for r in catalog.load_table("gold.bsu4").to_df().collect()
    }
    assert got == {(1, 10), (2, 29)}


def test_merge_multi_by_source_clauses(catalog, spark):
    """r11: several WHEN NOT MATCHED BY SOURCE clauses evaluate
    first-match-wins per UNMATCHED target row - a conditioned DELETE,
    a conditioned UPDATE SET, and an unconditional UPDATE fallback
    compose in ONE commit; matched rows row-replace; only the last
    clause may omit its condition."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.mbs",
        spark.createDataFrame([], "k long, v long, flag long").schema,
    )
    t.append(
        spark.createDataFrame(
            [
                (1, 10, 0),   # matched: replaced
                (2, 20, 1),   # clause 1: deleted
                (3, 300, 0),  # clause 2: v -= 100 (NOT also clause 3)
                (4, 40, 0),   # clause 3 fallback: flag = 9
                (5, 50, None),  # clause 3 fallback (NULL flag != 1)
            ],
            "k long, v long, flag long",
        )
    )
    spark.createDataFrame(
        [(1, 11, 7)], "k long, v long, flag long"
    ).createOrReplaceTempView("mbssrc")
    catalog.sql(
        "MERGE INTO gold.mbs USING mbssrc s ON gold.mbs.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND gold.mbs.flag = 1 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND gold.mbs.v > 100 "
        "THEN UPDATE SET v = v - 100 "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET flag = 9"
    )
    got = sorted(
        (r["k"], r["v"], r["flag"])
        for r in catalog.load_table("gold.mbs").to_df().collect()
    )
    assert got == [
        (1, 11, 7),
        (3, 200, 0),  # first-match-wins: clause 2 fired, NOT clause 3
        (4, 40, 9),
        (5, 50, 9),
    ]
    summary = catalog.load_table("gold.mbs").snapshot().summary
    assert summary.get("sync") is True  # a delete arm ran
    assert summary.get("by_source_update") is True
    assert summary["dropped_files"] == 0  # rows dropped via rewrite

    # only the LAST clause may omit AND <condition>
    with _pytest.raises(ValueError, match="LAST"):
        catalog.sql(
            "MERGE INTO gold.mbs USING mbssrc s ON gold.mbs.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE AND gold.mbs.flag = 1 "
            "THEN UPDATE SET flag = 0"
        )


def test_merge_multi_by_source_file_pruning(catalog, spark):
    """All-conditioned by-source clause stacks prune out-of-range
    files to those matching ANY clause condition; clean files carry
    by reference."""
    t = catalog.create_table(
        "gold.mbs2",
        spark.createDataFrame([], "k long, v long").schema,
    )
    # three files: in-range [1-2], hit out-of-range [10-11], clean [20-21]
    t.append(
        spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(10, 100), (11, 7)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(20, 5), (21, 6)], "k long, v long")
        .coalesce(1)
    )
    spark.createDataFrame([(1, 99)], "k long, v long").createOrReplaceTempView(
        "mbs2src"
    )
    catalog.sql(
        "MERGE INTO gold.mbs2 USING mbs2src s ON gold.mbs2.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND gold.mbs2.v >= 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND gold.mbs2.v = 7 "
        "THEN UPDATE SET v = 70"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.mbs2").to_df().collect()
    )
    assert got == [(1, 99), (2, 2), (11, 70), (20, 5), (21, 6)]
    summary = catalog.load_table("gold.mbs2").snapshot().summary
    # the [20-21] file matches NO clause condition: carried by reference
    assert summary["carried_files"] >= 1
    assert summary["dropped_files"] == 0


def test_merge_by_source_conditioned_on_mor_tombstoned_table(
    catalog, spark
):
    """Review r11: the by-source file-pruning probe must read via
    _read_data, not scan() - _metadata does not resolve through the
    delete-applying joins scan() builds on a MoR-tombstoned table, so
    a conditioned by-source MERGE right after a merge-on-read DELETE
    used to crash with AnalysisException."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
    )

    t = catalog.create_table(
        "gold.bsmor",
        spark.createDataFrame([], "k long, v long").schema,
    )
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(10, 100), (11, 110)], "k long, v long")
        .coalesce(1)
    )
    # merge-on-read DELETE leaves tombstone entries pending
    delete_where(
        t, F.col("k") == 11, mode="merge-on-read", positional=True
    )
    assert catalog.load_table("gold.bsmor").snapshot().delete_entries
    spark.createDataFrame([(1, 99)], "k long, v long").createOrReplaceTempView(
        "bsmorsrc"
    )
    catalog.sql(
        "MERGE INTO gold.bsmor USING bsmorsrc s ON gold.bsmor.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND gold.bsmor.v >= 100 "
        "THEN UPDATE SET v = v + 1"
    )
    got = sorted(
        (r["k"], r["v"])
        for r in catalog.load_table("gold.bsmor").to_df().collect()
    )
    # k=11 was tombstoned before the merge and must NOT resurrect
    assert got == [(1, 99), (2, 20), (10, 101)]


def test_mv_approx_distinct_sketch_tier(catalog, spark):
    """r11: APPROX_COUNT_DISTINCT MVs store a mergeable DataSketches
    HLL per group - an append refreshes by UNIONING the delta's sketch
    into the stored one (O(delta), commit operation 'merge'), the
    visible column is always the sketch estimate (one estimator on
    every path), and base DML declines to a correct full refresh
    (sketches are not invertible)."""
    b = catalog.create_table(
        "gold.adx",
        spark.createDataFrame([], "cat string, uid long, v long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", i % 7, i) for i in range(50)]
            + [("b", i % 3, i) for i in range(20)]
            + [("c", None, 1), ("c", None, 2)],  # all-NULL group
            "cat string, uid long, v long",
        )
    )
    q = (
        "SELECT cat, COUNT(*) AS n, APPROX_COUNT_DISTINCT(uid) AS du, "
        "SUM(v) AS sv FROM gold_adx GROUP BY cat"
    )
    catalog.create_materialized_view("gold.adx_mv", q)
    catalog.register_views()
    got = {
        r["cat"]: (r["n"], r["du"], r["sv"])
        for r in spark.sql("SELECT * FROM gold_adx_mv").collect()
    }
    # at these cardinalities the HLL is exact; the all-NULL group
    # estimates 0 (matching APPROX_COUNT_DISTINCT's answer)
    assert got == {"a": (50, 7, 1225), "b": (20, 3, 190), "c": (2, 0, 3)}
    # the sketch is materialized as hidden state
    t = catalog.load_table("gold.adx_mv")
    assert "__mv_hll_du" in {f.name for f in t.schema.fields}

    # append: new group + overlapping-and-new uids -> sketch UNION
    b.append(
        spark.createDataFrame(
            [("a", 100 + i, i) for i in range(5)]
            + [("a", 0, 1), ("d", 9, 9)],
            "cat string, uid long, v long",
        )
    )
    snap = catalog.refresh_materialized_view("gold.adx_mv")
    assert snap.operation == "merge"  # incremental, not a rebuild
    catalog.register_views()
    got = {
        r["cat"]: (r["n"], r["du"], r["sv"])
        for r in spark.sql("SELECT * FROM gold_adx_mv").collect()
    }
    assert got["a"] == (56, 12, 1236)  # 7 old + 5 new uids, 0 repeats
    assert got["d"] == (1, 1, 9)  # new group inserts
    assert got["b"] == (20, 3, 190)  # untouched group unchanged

    # DML in the range: sketches are not invertible, but the
    # TOUCHED-GROUP recompute tier rebuilds only the changed groups'
    # sketches from the base - O(changed groups), never the view
    catalog.sql("DELETE FROM gold.adx WHERE uid = 0 AND cat = 'a'")
    snap = catalog.refresh_materialized_view("gold.adx_mv")
    assert snap.summary.get("group_recompute") is True
    catalog.register_views()
    got = {
        r["cat"]: r["du"]
        for r in spark.sql("SELECT * FROM gold_adx_mv").collect()
    }
    assert got["a"] == 11  # uid 0 gone
    assert got["b"] == 3  # untouched group kept its sketch
    # the recomputed sketch keeps MERGING on later appends
    b.append(
        spark.createDataFrame(
            [("a", 777, 1)], "cat string, uid long, v long"
        )
    )
    snap = catalog.refresh_materialized_view("gold.adx_mv")
    assert snap.operation == "merge"
    catalog.register_views()
    assert {
        r["cat"]: r["du"]
        for r in spark.sql("SELECT * FROM gold_adx_mv").collect()
    }["a"] == 12

    # no refresh work -> no commit
    assert catalog.refresh_materialized_view("gold.adx_mv") is None


def test_mv_approx_distinct_global_and_having(catalog, spark):
    """The sketch tier composes with the global (no GROUP BY) one-row
    tier and with HAVING (filter on the stored estimate in the view
    projection); a DISTINCT inside the approx call refuses agg mode
    (falls back to a plain stored query - full refresh on REFRESH)."""
    b = catalog.create_table(
        "gold.adg",
        spark.createDataFrame([], "cat string, uid long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", i % 5) for i in range(20)] + [("b", 99)],
            "cat string, uid long",
        )
    )
    catalog.create_materialized_view(
        "gold.adg_mv",
        "SELECT COUNT(*) AS n, APPROX_COUNT_DISTINCT(uid) AS du "
        "FROM gold_adg",
    )
    catalog.register_views()
    assert spark.sql("SELECT * FROM gold_adg_mv").collect()[0][
        "du"
    ] == 6
    b.append(spark.createDataFrame([("c", 500)], "cat string, uid long"))
    snap = catalog.refresh_materialized_view("gold.adg_mv")
    assert snap is not None
    catalog.register_views()
    row = spark.sql("SELECT * FROM gold_adg_mv").collect()[0]
    assert (row["n"], row["du"]) == (22, 7)

    catalog.create_materialized_view(
        "gold.adh_mv",
        "SELECT cat, APPROX_COUNT_DISTINCT(uid) AS du FROM gold_adg "
        "GROUP BY cat HAVING du > 1",
    )
    catalog.register_views()
    got = {
        r["cat"]: r["du"]
        for r in spark.sql("SELECT * FROM gold_adh_mv").collect()
    }
    assert got == {"a": 5}  # b/c fall below the HAVING threshold


def test_mv_join_approx_distinct_sketch_tier(catalog, spark):
    """r11 (late): the sketch tier composes with the JOIN-MV star. The
    store query materializes a mergeable HLL per group alongside the
    visible SKETCH estimate (one estimator on every path - pre-fix,
    creation used Spark's HLL++ and the first fact append CRASHED with
    KeyError __mv_hll_*), fact appends refresh by sketch UNION
    ('merge' commit, O(delta), never a star re-scan), and sketches are
    NOT invertible so no CDC state is stored: fact DML and moved dims
    take the touched-group recompute (r11 late) or a correct full
    refresh - either way re-running the store query, still the sketch
    estimator."""
    f = catalog.create_table(
        "gold.jfact",
        spark.createDataFrame(
            [], "k long, u string, v long"
        ).schema,
    )
    f.append(
        spark.createDataFrame(
            [(i % 3, f"u{i % 11}", i) for i in range(40)],
            "k long, u string, v long",
        )
    )
    d = catalog.create_table(
        "gold.jdim",
        spark.createDataFrame([], "k long, lbl string").schema,
    )
    d.append(
        spark.createDataFrame(
            [(0, "x"), (1, "y"), (2, "y")], "k long, lbl string"
        )
    )
    catalog.register_views()
    catalog.create_materialized_view(
        "gold.jad_mv",
        "SELECT lbl, COUNT(*) AS n, APPROX_COUNT_DISTINCT(u) AS du "
        "FROM gold_jfact JOIN gold_jdim ON gold_jfact.k = gold_jdim.k "
        "GROUP BY lbl",
    )
    t = catalog.load_table("gold.jad_mv")
    names = {fld.name for fld in t.schema.fields}
    assert "__mv_hll_du" in names  # sketch state materialized
    assert "__mv_rows" not in names  # sketches gate the CDC tier off

    def readback():
        catalog.register_views()
        return {
            r["lbl"]: (r["n"], r["du"])
            for r in spark.sql("SELECT * FROM gold_jad_mv").collect()
        }

    # k%3==0 -> 14 rows (u0..u9,u10 subset), exact at this cardinality
    exact = {
        "x": (14, len({f"u{i % 11}" for i in range(40) if i % 3 == 0})),
        "y": (26, len({f"u{i % 11}" for i in range(40) if i % 3 != 0})),
    }
    assert readback() == exact

    # fact append: new uids in one group -> sketch UNION, merge commit
    f.append(
        spark.createDataFrame(
            [(0, "zz1", 1), (0, "u0", 2), (2, "zz2", 3)],
            "k long, u string, v long",
        )
    )
    snap = catalog.refresh_materialized_view("gold.jad_mv")
    assert snap.operation == "merge"  # incremental, not a rebuild
    got = readback()
    assert got["x"] == (16, exact["x"][1] + 1)  # zz1 new, u0 repeat
    assert got["y"] == (27, exact["y"][1] + 1)

    # visible column == DataSketches estimate of the stored sketch
    # (the one-estimator invariant, checked against the raw state)
    raw = catalog.load_table("gold.jad_mv").to_df().selectExpr(
        "du",
        "CAST(HLL_SKETCH_ESTIMATE(__mv_hll_du) AS BIGINT) AS est",
    )
    assert all(r["du"] == r["est"] for r in raw.collect())

    # a moved dim cannot union or subtract a sketch: the touched-
    # group recompute tier rebuilds only affected groups (r11 late),
    # still correct and still the sketch estimator
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import dml

    dml.update_where(
        catalog.load_table("gold.jdim"),
        F.col("k") == 2,
        {"lbl": F.lit("x")},
    )
    snap = catalog.refresh_materialized_view("gold.jad_mv")
    assert snap.summary.get("group_recompute") is True
    got = readback()
    # k in {0,2} now both 'x': 14+13+3 appended rows = 30 rows
    assert got["x"][0] == 30 and got["y"][0] == 13
    # and the refreshed MV keeps MERGING on later fact appends
    f.append(
        spark.createDataFrame(
            [(1, "zz3", 5)], "k long, u string, v long"
        )
    )
    snap = catalog.refresh_materialized_view("gold.jad_mv")
    assert snap.operation == "merge"
    assert readback()["y"] == (14, got["y"][1] + 1)

    # up to date -> no commit
    assert catalog.refresh_materialized_view("gold.jad_mv") is None


def test_mv_approx_percentile_kll_tier(catalog, spark):
    """r11 (late): APPROX_PERCENTILE MVs store a mergeable KLL sketch
    per group (__mv_kll_*) and the visible column is ALWAYS the KLL
    quantile (one estimator on every path). Appends refresh by sketch
    MERGE ('merge' commit, O(delta)); base DML takes the touched-group
    recompute tier (sketches are not invertible, but a per-group
    rebuild equals full refresh by construction); an all-NULL group
    reads NULL - the KLL agg returns a non-NULL EMPTY buffer whose
    GET_QUANTILE throws, so every estimate guards on GET_N first."""
    b = catalog.create_table(
        "gold.kp",
        spark.createDataFrame([], "k string, x double").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", float(i)) for i in range(1, 101)]
            + [("b", 5.0), ("b", 15.0), ("c", None)],
            "k string, x double",
        )
    )
    catalog.register_views()
    catalog.create_materialized_view(
        "gold.kp_mv",
        "SELECT k, COUNT(*) AS n, APPROX_PERCENTILE(x, 0.5) AS p50 "
        "FROM gold_kp GROUP BY k",
    )
    t = catalog.load_table("gold.kp_mv")
    assert "__mv_kll_p50" in {f.name for f in t.schema.fields}

    def readback():
        catalog.register_views()
        return {
            r["k"]: (r["n"], r["p50"])
            for r in spark.sql("SELECT * FROM gold_kp_mv").collect()
        }

    # exact at these sizes; the all-NULL group reads NULL
    assert readback() == {"a": (100, 50.0), "b": (2, 5.0), "c": (1, None)}

    # append: sketch MERGE, not a rebuild; NULL group stays NULL
    b.append(
        spark.createDataFrame(
            [("b", 25.0), ("d", 7.0), ("c", None)],
            "k string, x double",
        )
    )
    snap = catalog.refresh_materialized_view("gold.kp_mv")
    assert snap.operation == "merge"
    got = readback()
    assert got["b"] == (3, 15.0) and got["d"] == (1, 7.0)
    assert got["c"] == (2, None)

    # DML: touched-group recompute (O(changed groups), never the view)
    catalog.sql("DELETE FROM gold.kp WHERE k = 'b' AND x = 25.0")
    snap = catalog.refresh_materialized_view("gold.kp_mv")
    assert snap.summary.get("group_recompute") is True
    got = readback()
    assert got["b"] == (2, 5.0)
    assert got["a"] == (100, 50.0)  # untouched group kept its sketch

    # the recomputed sketch keeps MERGING on later appends
    b.append(
        spark.createDataFrame([("b", 30.0)], "k string, x double")
    )
    snap = catalog.refresh_materialized_view("gold.kp_mv")
    assert snap.operation == "merge"
    assert readback()["b"] == (3, 15.0)

    # up to date -> no commit
    assert catalog.refresh_materialized_view("gold.kp_mv") is None


def test_mv_approx_percentile_families_and_gates(catalog, spark):
    """Integral columns ride the BIGINT KLL family with the native
    visible type preserved; the 3-arg accuracy form, a non-literal
    percentile (scalar or array element), and DECIMAL values are
    outside the tier and decline to a plain full-refresh MV;
    percentile composes with an HLL distinct sketch in the same MV
    (both merge on append). Literal-array percentiles ride the tier
    since r12 (test_mv_approx_percentile_array_form)."""
    b = catalog.create_table(
        "gold.kf",
        spark.createDataFrame([], "k int, v int, u string").schema,
    )
    b.append(
        spark.createDataFrame(
            [(1, 10, "x"), (1, 20, "y"), (1, 30, "x"), (2, 7, "z")],
            "k int, v int, u string",
        )
    )
    catalog.register_views()
    mv = catalog.create_materialized_view(
        "gold.kf_mv",
        "SELECT k, APPROX_PERCENTILE(v, 0.5) AS med, "
        "APPROX_COUNT_DISTINCT(u) AS du FROM gold_kf GROUP BY k",
    )
    names = {f.name: f.dataType.simpleString() for f in mv.schema.fields}
    assert names["med"] == "int"  # native type preserved over BIGINT KLL
    assert "__mv_kll_med" in names and "__mv_hll_du" in names
    catalog.register_views()
    got = {
        r["k"]: (r["med"], r["du"])
        for r in spark.sql("SELECT * FROM gold_kf_mv").collect()
    }
    assert got == {1: (20, 2), 2: (7, 1)}
    b.append(
        spark.createDataFrame(
            [(1, 40, "w"), (2, 9, "z")], "k int, v int, u string"
        )
    )
    snap = catalog.refresh_materialized_view("gold.kf_mv")
    assert snap.operation == "merge"  # both sketches merged in one pass
    catalog.register_views()
    got = {
        r["k"]: (r["med"], r["du"])
        for r in spark.sql("SELECT * FROM gold_kf_mv").collect()
    }
    assert got == {1: (20, 3), 2: (7, 1)}

    for i, bad in enumerate(
        (
            "APPROX_PERCENTILE(v, 0.5, 100) AS med",  # accuracy arg
            "APPROX_PERCENTILE(CAST(v AS DECIMAL(10,2)), 0.5) AS med",
            "APPROX_PERCENTILE(v, 0.25 + 0.25) AS med",  # non-literal p
            # array of NON-literals stays out (r12 lifted the literal
            # array gate; a computed element still can't be stored)
            "APPROX_PERCENTILE(v, array(0.25, 0.25 + 0.25)) AS med",
        )
    ):
        ident = f"gold.kf_bad{i}"
        p = catalog.create_materialized_view(
            ident, f"SELECT k, {bad} FROM gold_kf GROUP BY k"
        )
        assert p.properties().get("mv.refresh_mode") is None, bad

    # PERCENTILE_APPROX is Spark's other spelling of the same
    # aggregate - it rides the same KLL tier (canonical op tag)
    syn = catalog.create_materialized_view(
        "gold.kf_syn",
        "SELECT k, PERCENTILE_APPROX(v, 0.5) AS med FROM gold_kf "
        "GROUP BY k",
    )
    assert syn.properties().get("mv.refresh_mode") == "agg"
    assert "__mv_kll_med" in {f.name for f in syn.schema.fields}
    b.append(
        spark.createDataFrame(
            [(2, 11, "q")], "k int, v int, u string"
        )
    )
    snap = catalog.refresh_materialized_view("gold.kf_syn")
    assert snap.operation == "merge"
    catalog.register_views()
    assert {
        r["k"]: r["med"]
        for r in spark.sql("SELECT * FROM gold_kf_syn").collect()
    } == {1: 20, 2: 9}


def test_mv_join_approx_percentile_sketch_tier(catalog, spark):
    """The KLL tier composes with the JOIN-MV star: fact appends merge
    the delta's sketches against pinned dims; a moved dim declines to
    a correct full refresh that re-runs the store query - still the
    KLL estimator."""
    f = catalog.create_table(
        "gold.kjf",
        spark.createDataFrame([], "k long, x double").schema,
    )
    f.append(
        spark.createDataFrame(
            [(1, 10.0), (1, 20.0), (1, 30.0), (2, 7.0)],
            "k long, x double",
        )
    )
    d = catalog.create_table(
        "gold.kjd",
        spark.createDataFrame([], "k long, grp string").schema,
    )
    d.append(
        spark.createDataFrame([(1, "g1"), (2, "g2")], "k long, grp string")
    )
    catalog.register_views()
    mv = catalog.create_materialized_view(
        "gold.kj_mv",
        "SELECT grp, APPROX_PERCENTILE(x, 0.5) AS p50 FROM gold_kjf "
        "JOIN gold_kjd ON gold_kjf.k = gold_kjd.k GROUP BY grp",
    )
    assert mv.properties().get("mv.refresh_mode") == "join_agg"
    assert "__mv_kll_p50" in {fl.name for fl in mv.schema.fields}

    def readback():
        catalog.register_views()
        return {
            r["grp"]: r["p50"]
            for r in spark.sql("SELECT * FROM gold_kj_mv").collect()
        }

    assert readback() == {"g1": 20.0, "g2": 7.0}
    f.append(
        spark.createDataFrame([(1, 5.0), (2, 100.0)], "k long, x double")
    )
    snap = catalog.refresh_materialized_view("gold.kj_mv")
    assert snap.operation == "merge"
    assert readback() == {"g1": 10.0, "g2": 7.0}

    # moved dim: sketches are not invertible, so the touched-group
    # recompute tier rebuilds only affected groups (r11 late)
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import dml

    dml.update_where(
        catalog.load_table("gold.kjd"),
        F.col("k") == 2,
        {"grp": F.lit("g1")},
    )
    snap = catalog.refresh_materialized_view("gold.kj_mv")
    assert snap.summary.get("group_recompute") is True
    got = readback()
    assert set(got) == {"g1"} and got["g1"] == 10.0  # all 6 values


def test_mv_approx_percentile_having_and_expr_keys(catalog, spark):
    """The KLL tier composes with HAVING (the predicate rewrites to
    the visible alias and filters the view over the KLL estimate -
    below-threshold groups keep accumulating hidden sketches and
    reappear when later appends push them back over) and with
    expression group keys."""
    b = catalog.create_table(
        "gold.kh",
        spark.createDataFrame([], "k string, x double").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", 5.0), ("a", 50.0), ("a", 70.0), ("b", 1.0), ("b", 2.0)],
            "k string, x double",
        )
    )
    catalog.register_views()
    catalog.create_materialized_view(
        "gold.kh_mv",
        "SELECT k, APPROX_PERCENTILE(x, 0.5) AS p50 FROM gold_kh "
        "GROUP BY k HAVING APPROX_PERCENTILE(x, 0.5) > 10",
    )

    def readback():
        catalog.register_views()
        return {
            r["k"]: r["p50"]
            for r in spark.sql("SELECT * FROM gold_kh_mv").collect()
        }

    assert readback() == {"a": 50.0}  # b is below the threshold
    # appends push b's median over the threshold: it REAPPEARS (the
    # hidden sketch kept accumulating), and the commit is a merge
    b.append(
        spark.createDataFrame(
            [("b", 90.0), ("b", 95.0), ("b", 99.0)], "k string, x double"
        )
    )
    snap = catalog.refresh_materialized_view("gold.kh_mv")
    assert snap.operation == "merge"
    assert readback() == {"a": 50.0, "b": 90.0}

    # expression group key + sketch: upper(k) aliased and grouped
    catalog.create_materialized_view(
        "gold.ke_mv",
        "SELECT upper(k) AS ku, APPROX_PERCENTILE(x, 0.5) AS p50 "
        "FROM gold_kh GROUP BY ku",
    )
    mv = catalog.load_table("gold.ke_mv")
    assert mv.properties().get("mv.refresh_mode") == "agg"
    b.append(spark.createDataFrame([("a", 60.0)], "k string, x double"))
    snap = catalog.refresh_materialized_view("gold.ke_mv")
    assert snap.operation == "merge"
    catalog.register_views()
    got = {
        r["ku"]: r["p50"]
        for r in spark.sql("SELECT * FROM gold_ke_mv").collect()
    }
    assert got["A"] == 50.0 and got["B"] == 90.0


def test_mv_approx_percentile_array_form(catalog, spark):
    """r12 (VERDICT r11 #4): ``APPROX_PERCENTILE(x, array(p1, p2))``
    rides the KLL tier - the MV stores ONE sketch per group and the
    visible column is the guarded ARRAY of its quantile estimates
    (all-NULL group -> NULL array, matching Spark's native answer).
    Appends refresh by sketch MERGE; DML takes the touched-group
    recompute; the integral family keeps the native array<int> type."""
    b = catalog.create_table(
        "gold.ka",
        spark.createDataFrame([], "k string, x double").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", float(i)) for i in range(1, 101)]
            + [("b", 5.0), ("b", 15.0), ("c", None)],
            "k string, x double",
        )
    )
    catalog.register_views()
    mv = catalog.create_materialized_view(
        "gold.ka_mv",
        "SELECT k, COUNT(*) AS n, "
        "APPROX_PERCENTILE(x, array(0.25, 0.5, 0.75)) AS qs "
        "FROM gold_ka GROUP BY k",
    )
    assert mv.properties().get("mv.refresh_mode") == "agg"
    names = {f.name: f.dataType.simpleString() for f in mv.schema.fields}
    assert "__mv_kll_qs" in names  # ONE sketch answers all three
    assert names["qs"].startswith("array<double")

    def readback():
        catalog.register_views()
        return {
            r["k"]: (r["n"], list(r["qs"]) if r["qs"] is not None else None)
            for r in spark.sql("SELECT * FROM gold_ka_mv").collect()
        }

    # exact at these sizes; the all-NULL group reads a NULL array
    assert readback() == {
        "a": (100, [25.0, 50.0, 75.0]),
        "b": (2, [5.0, 5.0, 15.0]),
        "c": (1, None),
    }

    # append: ONE sketch MERGE answers every requested quantile
    b.append(
        spark.createDataFrame(
            [("b", 25.0), ("d", 7.0), ("c", None)],
            "k string, x double",
        )
    )
    snap = catalog.refresh_materialized_view("gold.ka_mv")
    assert snap.operation == "merge"
    got = readback()
    assert got["b"] == (3, [5.0, 15.0, 25.0])
    assert got["d"] == (1, [7.0, 7.0, 7.0])
    assert got["c"] == (2, None)

    # DML: touched-group recompute keeps the array estimator spelling
    catalog.sql("DELETE FROM gold.ka WHERE k = 'b' AND x = 25.0")
    snap = catalog.refresh_materialized_view("gold.ka_mv")
    assert snap.summary.get("group_recompute") is True
    got = readback()
    assert got["b"] == (2, [5.0, 5.0, 15.0])
    assert got["a"] == (100, [25.0, 50.0, 75.0])  # untouched

    # the recomputed sketch keeps MERGING on later appends
    b.append(spark.createDataFrame([("b", 30.0)], "k string, x double"))
    snap = catalog.refresh_materialized_view("gold.ka_mv")
    assert snap.operation == "merge"
    assert readback()["b"] == (3, [5.0, 15.0, 30.0])

    # integral family: native array<int> visible type preserved
    bi = catalog.create_table(
        "gold.kai",
        spark.createDataFrame([], "k int, v int").schema,
    )
    bi.append(
        spark.createDataFrame(
            [(1, 10), (1, 20), (1, 30), (2, 7)], "k int, v int"
        )
    )
    catalog.register_views()
    mvi = catalog.create_materialized_view(
        "gold.kai_mv",
        "SELECT k, APPROX_PERCENTILE(v, array(0.5, 1.0)) AS qs "
        "FROM gold_kai GROUP BY k",
    )
    ni = {f.name: f.dataType.simpleString() for f in mvi.schema.fields}
    assert ni["qs"].startswith("array<int") and "__mv_kll_qs" in ni
    bi.append(spark.createDataFrame([(2, 9)], "k int, v int"))
    snap = catalog.refresh_materialized_view("gold.kai_mv")
    assert snap.operation == "merge"
    catalog.register_views()
    assert {
        r["k"]: list(r["qs"])
        for r in spark.sql("SELECT * FROM gold_kai_mv").collect()
    } == {1: [20, 30], 2: [7, 9]}


def test_mv_having_group_recompute_under_dml(catalog, spark):
    """r11 (late): HAVING MVs ride the touched-group recompute tier
    under DML - the table stores the UNFILTERED aggregate at the user
    grain (exactly what the per-group rebuild reproduces), the
    predicate filters only the view, so a group dipping below the
    threshold keeps its stored row, disappears from the view, and
    REAPPEARS when later appends push it back over. Pre-r11 any DML on
    a MIN/MAX HAVING MV forced a full overwrite."""
    b = catalog.create_table(
        "gold.hgr",
        spark.createDataFrame([], "k string, v long").schema,
    )
    b.append(
        spark.createDataFrame(
            [("a", 10), ("a", 90), ("b", 5), ("b", 50), ("c", 7)],
            "k string, v long",
        )
    )
    catalog.register_views()
    catalog.create_materialized_view(
        "gold.hgr_mv",
        "SELECT k, MAX(v) AS hi FROM gold_hgr GROUP BY k "
        "HAVING MAX(v) > 20",
    )

    def readback():
        catalog.register_views()
        return {
            r["k"]: r["hi"]
            for r in spark.sql("SELECT * FROM gold_hgr_mv").collect()
        }

    assert readback() == {"a": 90, "b": 50}  # c is under the threshold

    # DML retracting a maximum: only the touched group recomputes,
    # and it DIPS BELOW the threshold (stored row stays, view filters)
    catalog.sql("DELETE FROM gold.hgr WHERE v = 50")
    snap = catalog.refresh_materialized_view("gold.hgr_mv")
    assert snap.summary.get("group_recompute") is True
    assert readback() == {"a": 90}
    stored = {
        r["k"]: r["hi"]
        for r in catalog.load_table("gold.hgr_mv").to_df().collect()
    }
    assert stored == {"a": 90, "b": 5, "c": 7}  # unfiltered state kept

    # later appends push b back over the threshold: it reappears via
    # the ordinary merge path
    b.append(spark.createDataFrame([("b", 77)], "k string, v long"))
    snap = catalog.refresh_materialized_view("gold.hgr_mv")
    assert snap.operation == "merge"
    assert readback() == {"a": 90, "b": 77}

    # a group losing its LAST row leaves the stored table entirely
    catalog.sql("DELETE FROM gold.hgr WHERE k = 'c'")
    snap = catalog.refresh_materialized_view("gold.hgr_mv")
    assert snap.summary.get("group_recompute") is True
    assert "c" not in {
        r["k"]
        for r in catalog.load_table("gold.hgr_mv").to_df().collect()
    }


def test_mv_join_group_recompute_under_dml(catalog, spark):
    """r11 (late): join-star MVs whose aggregates signed CDC cannot
    model (MIN/MAX, sketches, pre-CDC state-less MVs) refresh under
    DML by TOUCHED-GROUP recompute instead of a full star rebuild -
    the moved side's changelog (delete AND insert images) joins the
    pinned sides to find affected groups, the store query re-runs
    restricted to them (an IN-subquery semi-join inside the star),
    and groups with no surviving rows leave the view in the same
    commit. Write amplification O(touched), never O(view)."""
    f = catalog.create_table(
        "gold.grf",
        spark.createDataFrame([], "k long, v long, u string").schema,
    )
    f.append(
        spark.createDataFrame(
            [(1, 10, "a"), (1, 30, "b"), (2, 7, "a"), (3, 99, "c")],
            "k long, v long, u string",
        )
    )
    d = catalog.create_table(
        "gold.grd",
        spark.createDataFrame([], "k long, grp string").schema,
    )
    d.append(
        spark.createDataFrame(
            [(1, "g1"), (2, "g2"), (3, "g3")], "k long, grp string"
        )
    )
    catalog.register_views()
    # MIN/MAX: no CDC state is stored (not invertible)
    catalog.create_materialized_view(
        "gold.gr_mv",
        "SELECT grp, MIN(v) AS lo, MAX(v) AS hi, "
        "APPROX_COUNT_DISTINCT(u) AS du "
        "FROM gold_grf JOIN gold_grd ON gold_grf.k = gold_grd.k "
        "GROUP BY grp",
    )
    t = catalog.load_table("gold.gr_mv")
    assert "__mv_rows" not in {fl.name for fl in t.schema.fields}

    def readback():
        catalog.register_views()
        return {
            r["grp"]: (r["lo"], r["hi"], r["du"])
            for r in spark.sql("SELECT * FROM gold_gr_mv").collect()
        }

    assert readback() == {
        "g1": (10, 30, 2),
        "g2": (7, 7, 1),
        "g3": (99, 99, 1),
    }

    # fact DML: delete the g1 minimum -> only g1 recomputes
    catalog.sql("DELETE FROM gold.grf WHERE v = 10")
    snap = catalog.refresh_materialized_view("gold.gr_mv")
    assert snap.summary.get("group_recompute") is True
    assert readback() == {
        "g1": (30, 30, 1),
        "g2": (7, 7, 1),
        "g3": (99, 99, 1),
    }

    # fact DML wiping a group: g3 must LEAVE the view
    catalog.sql("DELETE FROM gold.grf WHERE v = 99")
    snap = catalog.refresh_materialized_view("gold.gr_mv")
    assert snap.summary.get("group_recompute") is True
    assert readback() == {"g1": (30, 30, 1), "g2": (7, 7, 1)}

    # moved dim: k=2 hops from g2 to g1 - BOTH groups recompute (the
    # delete image touches g2, the insert image g1); g2 leaves
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import dml

    dml.update_where(
        catalog.load_table("gold.grd"),
        F.col("k") == 2,
        {"grp": F.lit("g1")},
    )
    snap = catalog.refresh_materialized_view("gold.gr_mv")
    assert snap.summary.get("group_recompute") is True
    assert readback() == {"g1": (7, 30, 2)}

    # appends afterwards keep the ordinary merge path
    f.append(
        spark.createDataFrame(
            [(3, 50, "z")], "k long, v long, u string"
        )
    )
    snap = catalog.refresh_materialized_view("gold.gr_mv")
    assert snap.operation == "merge"
    assert snap.summary.get("group_recompute") is None
    assert readback() == {"g1": (7, 30, 2), "g3": (50, 50, 1)}

    # up to date -> no commit
    assert catalog.refresh_materialized_view("gold.gr_mv") is None


def test_mv_approx_incompatible_arg_declines_to_plain(catalog, spark):
    """review r11: HLL_SKETCH_AGG accepts only INT/BIGINT/STRING/
    BINARY, and the two-arg rsd form APPROX_COUNT_DISTINCT(x, 0.05)
    rewrites to a struct argument - both used to CRASH MV creation
    with AnalysisException once the sketch rewrite was attempted. The
    store query is now validated before the MV commits to it; on
    failure the MV declines agg/join_agg mode entirely and stays a
    plain full-refresh MV with the NATIVE estimator on every path."""
    b = catalog.create_table(
        "gold.inc_f",
        spark.createDataFrame([], "k long, x double").schema,
    )
    b.append(
        spark.createDataFrame(
            [(1, 2.5), (2, 3.5), (1, 2.5)], "k long, x double"
        )
    )
    d = catalog.create_table(
        "gold.inc_d",
        spark.createDataFrame([], "k long, lbl string").schema,
    )
    d.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, lbl string")
    )
    catalog.register_views()

    # DOUBLE argument, single-table and join tiers
    mv1 = catalog.create_materialized_view(
        "gold.inc_m1",
        "SELECT k, APPROX_COUNT_DISTINCT(x) AS dx FROM gold_inc_f "
        "GROUP BY k",
    )
    assert mv1.properties().get("mv.refresh_mode") is None
    assert "mv.store_query" not in mv1.properties()
    mv2 = catalog.create_materialized_view(
        "gold.inc_m2",
        "SELECT lbl, APPROX_COUNT_DISTINCT(x) AS dx FROM gold_inc_f "
        "JOIN gold_inc_d ON gold_inc_f.k = gold_inc_d.k GROUP BY lbl",
    )
    assert mv2.properties().get("mv.refresh_mode") is None

    # rsd two-arg form, both tiers
    mv3 = catalog.create_materialized_view(
        "gold.inc_m3",
        "SELECT k, APPROX_COUNT_DISTINCT(x, 0.05) AS dx "
        "FROM gold_inc_f GROUP BY k",
    )
    assert mv3.properties().get("mv.refresh_mode") is None
    mv4 = catalog.create_materialized_view(
        "gold.inc_m4",
        "SELECT lbl, APPROX_COUNT_DISTINCT(x, 0.05) AS dx "
        "FROM gold_inc_f JOIN gold_inc_d ON gold_inc_f.k = "
        "gold_inc_d.k GROUP BY lbl",
    )
    assert mv4.properties().get("mv.refresh_mode") is None

    # the plain MVs still refresh correctly (full re-run)
    b.append(spark.createDataFrame([(1, 9.9)], "k long, x double"))
    catalog.refresh_materialized_view("gold.inc_m1")
    catalog.refresh_materialized_view("gold.inc_m2")
    catalog.register_views()
    assert {
        r["k"]: r["dx"]
        for r in spark.sql("SELECT * FROM gold_inc_m1").collect()
    } == {1: 2, 2: 1}
    assert {
        r["lbl"]: r["dx"]
        for r in spark.sql("SELECT * FROM gold_inc_m2").collect()
    } == {"a": 2, "b": 1}


def test_call_apply_retention_procedure(catalog, spark):
    """r12: CALL system.apply_retention('t') drives the declarative
    row-TTL from the table's own properties; the summary row reports
    whether anything changed, and a malformed policy raises with the
    property named (no CALL-surface leniency)."""
    import pytest as _pytest

    t = catalog.create_table(
        "gold.callret",
        spark.createDataFrame([], "k long, ts timestamp").schema,
    )
    t.append(
        spark.sql(
            "SELECT id AS k, timestampadd(DAY, CAST(id AS INT), "
            "TIMESTAMP '2024-01-01 00:00:00') AS ts FROM range(40)"
        )
    )
    t.set_properties(**{
        "retention.column": "ts",
        "retention.cutoff": "TIMESTAMP '2024-01-11 00:00:00'",
    })
    res = catalog.sql(
        "CALL system.apply_retention('gold.callret')"
    ).first()
    assert res["changed"] == 1
    assert t.to_df().count() == 30
    # quiesced second call reports changed = 0
    res = catalog.sql(
        "CALL system.apply_retention('gold.callret')"
    ).first()
    assert res["changed"] == 0
    # malformed policy surfaces the property name through the verb
    t.set_properties(**{"retention.sql-mode": "nope"})
    with _pytest.raises(ValueError, match="sql-mode"):
        catalog.sql("CALL system.apply_retention('gold.callret')")


def test_sql_transaction_two_table_atomic_ingest(catalog, spark):
    """r13 (VERDICT r12 #4): BEGIN / INSERT INTO x2 / COMMIT drives a
    two-table atomic ingest through pure SQL - rows invisible until
    COMMIT, then both tables visible, no record left behind."""
    catalog.create_table(
        "gold.txd", spark.createDataFrame([], "k long, v long").schema
    )
    catalog.create_table(
        "gold.txa", spark.createDataFrame([], "run string, n long").schema
    )
    b = catalog.sql("BEGIN TRANSACTION").first()
    assert b["operation"] == "begin transaction" and b["txn_id"]
    r1 = catalog.sql(
        "INSERT INTO gold.txd SELECT * FROM VALUES (1, 10), (2, 20)"
    ).first()
    assert r1["operation"] == "insert staged"
    assert r1["txn_id"] == b["txn_id"] and r1["staged_id"]
    catalog.sql("INSERT INTO gold.txa SELECT 'batch1', 2")
    # staged, not visible - through SQL and the table API alike
    assert catalog.sql("SELECT COUNT(*) n FROM gold_txd").first()["n"] == 0
    c = catalog.sql("COMMIT").first()
    assert c["operation"] == "commit transaction"
    assert c["txn_id"] == b["txn_id"]
    assert c["staged_appends"] == 2 and c["tables_published"] == 2
    assert catalog.sql("SELECT COUNT(*) n FROM gold_txd").first()["n"] == 2
    assert catalog.sql("SELECT COUNT(*) n FROM gold_txa").first()["n"] == 1
    import os

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.transactions import (
        _txn_dir,
    )

    assert os.listdir(_txn_dir(catalog)) == []
    # COMMIT with nothing open is an error, as is a nested BEGIN
    with pytest.raises(ValueError, match="without an open"):
        catalog.sql("COMMIT")
    catalog.sql("BEGIN")
    with pytest.raises(ValueError, match="already open"):
        catalog.sql("BEGIN TRANSACTION")
    rb = catalog.sql("ROLLBACK").first()
    assert rb["operation"] == "rollback transaction"


def test_sql_transaction_rollback_and_dml_guard(catalog, spark):
    """ROLLBACK discards every staged INSERT; row-mutating verbs with
    no staged form refuse to run inside an open transaction (they
    would silently autocommit outside it). UPDATE/DELETE ... WHERE
    stage transactionally since r14, but never on a table that already
    carries a staged append (statements compute against the
    pre-transaction snapshot, so mixing would break read-your-writes)."""
    catalog.create_table(
        "gold.txg", spark.createDataFrame([], "k long, v long").schema
    )
    catalog.sql("INSERT INTO gold.txg SELECT 0, 0")  # autocommit
    catalog.sql("BEGIN")
    catalog.sql("INSERT INTO gold.txg SELECT 1, 11")
    # r14: row-DML on a table with a staged append in THIS transaction
    # refuses (one statement per table, no append/replace mixing)
    for stmt in (
        "DELETE FROM gold.txg WHERE k = 0",
        "UPDATE gold.txg SET v = 5 WHERE k = 0",
    ):
        with pytest.raises(ValueError, match="cannot mix with appends"):
            catalog.sql(stmt)
    for stmt in (
        "DELETE FROM gold.txg",  # no WHERE = truncate: no staged form
        "TRUNCATE TABLE gold.txg",
        "INSERT OVERWRITE gold.txg SELECT 9, 9",
        "OPTIMIZE gold.txg",
        # review r13: CALL procedures mutate tables (or, for
        # recover_transactions, would roll back the caller's OWN open
        # transaction) - blocked like any other autocommit write
        "CALL system.apply_retention('gold.txg')",
        "CALL system.recover_transactions()",
    ):
        with pytest.raises(ValueError, match="open transaction"):
            catalog.sql(stmt)
    # reads still work mid-transaction (and see only committed rows)
    assert catalog.sql("SELECT COUNT(*) n FROM gold_txg").first()["n"] == 1
    catalog.sql("ROLLBACK")
    t = catalog.load_table("gold.txg")
    assert t.to_df().count() == 1 and t.list_staged() == []
    # after ROLLBACK, autocommit DML works again
    catalog.sql("DELETE FROM gold.txg WHERE k = 0")
    assert t.to_df().count() == 0


def test_sql_call_recover_transactions(catalog, spark):
    """CALL system.recover_transactions([grace_ms]) - the SQL twin of
    the recovery API: completes a crashed committed transaction (roll
    forward) and reports per-transaction outcomes as rows."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.transactions import (
        _write_record,
        backdate_for_recovery,
    )

    catalog.create_table(
        "gold.txr", spark.createDataFrame([], "k long, v long").schema
    )
    # no transactions: zero rows, stable schema
    empty = catalog.sql("CALL system.recover_transactions()")
    assert empty.count() == 0
    assert empty.columns == ["txn_id", "outcome"]
    # crash AFTER the commit point: the CALL must roll it forward
    txn = catalog.transaction()
    txn.append("gold.txr", spark.createDataFrame([(1, 10)], "k long, v long"))
    _write_record(catalog, txn._record("committed"))
    rows = catalog.sql("CALL system.recover_transactions()").collect()
    assert [(r["txn_id"], r["outcome"]) for r in rows] == [
        (txn.txn_id, "rolled_forward")
    ]
    assert catalog.load_table("gold.txr").to_df().count() == 1
    # crash BEFORE the commit point: stale pending rolls back via the
    # explicit grace_ms argument (backdated - see backdate_for_recovery)
    t2 = catalog.transaction()
    t2.append("gold.txr", spark.createDataFrame([(2, 20)], "k long, v long"))
    backdate_for_recovery(catalog, t2.txn_id)
    rows = catalog.sql("CALL system.recover_transactions(0)").collect()
    assert [(r["txn_id"], r["outcome"]) for r in rows] == [
        (t2.txn_id, "rolled_back")
    ]
    assert catalog.load_table("gold.txr").to_df().count() == 1
    with pytest.raises(ValueError, match="grace_ms"):
        catalog.sql("CALL system.recover_transactions('gold.txr')")
    # review r13: negative grace would make every LIVE record stale
    with pytest.raises(ValueError, match="non-negative"):
        catalog.sql("CALL system.recover_transactions(-60000)")


def test_sql_rollback_retryable_after_transient_failure(
    catalog, spark, monkeypatch
):
    """review r13: COMMIT/ROLLBACK clear the SQL handle only on
    SUCCESS - a transient failure must leave the verb retryable
    instead of orphaning a still-pending transaction with no handle."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        LakehouseTable,
    )

    catalog.create_table(
        "gold.txf", spark.createDataFrame([], "k long, v long").schema
    )
    catalog.sql("BEGIN")
    catalog.sql("INSERT INTO gold.txf SELECT 1, 1")
    real = LakehouseTable.abort_staged
    monkeypatch.setattr(
        LakehouseTable,
        "abort_staged",
        lambda self, sid: (_ for _ in ()).throw(OSError("transient")),
    )
    with pytest.raises(OSError, match="transient"):
        catalog.sql("ROLLBACK")
    monkeypatch.setattr(LakehouseTable, "abort_staged", real)
    rb = catalog.sql("ROLLBACK").first()  # retry succeeds
    assert rb["operation"] == "rollback transaction"
    t = catalog.load_table("gold.txf")
    assert t.to_df().count() == 0 and t.list_staged() == []


def test_mv_four_dim_cdc_composition(catalog, spark):
    """r13: the telescoping tier is LINEAR in the number of moved dims
    (K terms, one per dim), so the r10 three-dim cap is gone - FOUR
    dims of a 5-table star move in one refresh window and the refresh
    composes four changelog-merge terms, equaling the recompute."""
    import json as _json

    f = catalog.create_table(
        "gold.t4f",
        spark.createDataFrame(
            [], "a long, b long, c long, d long, v long"
        ).schema,
    )
    dims = []
    for i, (key, col) in enumerate(
        [("k", "s1"), ("r", "s2"), ("q", "s3"), ("p", "s4")]
    ):
        dt = catalog.create_table(
            f"gold.t4d{i + 1}",
            spark.createDataFrame([], f"{key} long, {col} string").schema,
        )
        dt.append(
            spark.createDataFrame(
                [(1 + i * 10, "A"), (2 + i * 10, "B")],
                f"{key} long, {col} string",
            )
        )
        dims.append(dt)
    f.append(
        spark.createDataFrame(
            [
                (1, 11, 21, 31, 100),
                (2, 12, 22, 32, 200),
                (1, 12, 21, 32, 300),
                (2, 11, 22, 31, 400),
            ],
            "a long, b long, c long, d long, v long",
        )
    )
    q = (
        "SELECT s1, s2, s3, s4, COUNT(*) AS n, SUM(v) AS sv "
        "FROM gold_t4f "
        "JOIN gold_t4d1 ON gold_t4f.a = gold_t4d1.k "
        "JOIN gold_t4d2 ON gold_t4f.b = gold_t4d2.r "
        "JOIN gold_t4d3 ON gold_t4f.c = gold_t4d3.q "
        "JOIN gold_t4d4 ON gold_t4f.d = gold_t4d4.p "
        "GROUP BY s1, s2, s3, s4"
    )
    mv = catalog.create_materialized_view("gold.t4mv", q)
    assert mv.properties().get("mv.refresh_mode") == "join_agg"
    # ALL FOUR dims move before one refresh (update/update/delete/insert)
    catalog.sql("UPDATE gold.t4d1 SET s1 = 'A2' WHERE k = 1")
    catalog.sql("UPDATE gold.t4d2 SET s2 = 'B2' WHERE r = 12")
    catalog.sql("DELETE FROM gold.t4d3 WHERE q = 22")
    dims[3].append(
        spark.createDataFrame([(33, "C")], "p long, s4 string")
    )
    snap = catalog.refresh_materialized_view("gold.t4mv")
    assert snap is not None and snap.operation == "merge"
    assert snap.summary.get("cdc_refresh") is True
    catalog.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM gold_t4mv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want
    # all four pins advanced
    vs = _json.loads(
        catalog.load_table("gold.t4mv").properties()[
            "mv.join_dim_versions"
        ]
    )
    for i, dt in enumerate(dims):
        assert vs[f"gold.t4d{i + 1}"] == str(dt.current_version())


def test_sql_show_transactions(catalog, spark):
    """r13: SHOW TRANSACTIONS lists the coordinator log read-only -
    pending records (including the session's own open transaction),
    crashed committed ones, and nothing once all are resolved."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.transactions import (
        _write_record,
    )

    catalog.create_table(
        "gold.txs", spark.createDataFrame([], "k long, v long").schema
    )
    assert catalog.sql("SHOW TRANSACTIONS").count() == 0
    catalog.sql("BEGIN")
    catalog.sql("INSERT INTO gold.txs SELECT 1, 1")
    rows = catalog.sql("SHOW TRANSACTIONS").collect()
    assert len(rows) == 1
    assert rows[0]["state"] == "pending"
    assert rows[0]["tables"] == "gold.txs"
    assert rows[0]["age_ms"] >= 0
    catalog.sql("COMMIT")
    assert catalog.sql("SHOW TRANSACTIONS").count() == 0
    # a crashed committed record shows up until recovery resolves it
    txn = catalog.transaction()
    txn.append("gold.txs", spark.createDataFrame([(2, 2)], "k long, v long"))
    _write_record(catalog, txn._record("committed"))
    rows = catalog.sql("SHOW TRANSACTIONS").collect()
    assert [(r["state"], r["tables"]) for r in rows] == [
        ("committed", "gold.txs")
    ]
    catalog.sql("CALL system.recover_transactions()")
    assert catalog.sql("SHOW TRANSACTIONS").count() == 0


def test_mv_refresh_estimate_manifest_only(catalog, spark, monkeypatch):
    """r14 (VERDICT r13 #2): the refresh cost chooser prices full vs
    incremental from MANIFEST stats alone - prove it by making every
    data-reading path explode for the duration of the estimate."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import mv as mvmod
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        LakehouseTable,
    )

    f, d = _join_fixture(catalog, spark, suffix="ce")
    mv = catalog.create_materialized_view(
        "gold.cemv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM gold_factce "
        "JOIN gold_dimce ON gold_factce.fk = gold_dimce.k GROUP BY seg",
    )
    assert mv.properties().get("mv.refresh_mode") == "join_agg"

    def boom(*a, **k):  # any data read during an estimate is a bug
        raise AssertionError("estimate read data")

    with monkeypatch.context() as m:
        m.setattr(LakehouseTable, "scan", boom)
        m.setattr(LakehouseTable, "_read_data", boom)
        m.setattr(LakehouseTable, "to_df", boom)
        # nothing moved: noop regardless of costs
        assert catalog.mv_refresh_estimate("gold.cemv")["choice"] == "noop"
    f.append(spark.createDataFrame([(1, 7), (2, 9)], "fk long, v long"))
    with monkeypatch.context() as m:
        m.setattr(LakehouseTable, "scan", boom)
        m.setattr(LakehouseTable, "_read_data", boom)
        m.setattr(LakehouseTable, "to_df", boom)
        # default per-term overhead (500k row-equivalents) dwarfs this
        # tiny star: full refresh is the cheaper plan
        est = catalog.mv_refresh_estimate("gold.cemv")
        assert est["choice"] == "full"
        assert est["reason"] == "star-smaller-than-delta-cost"
        assert est["terms"] == 1
        assert est["changelog_rows"] == 2  # priced off the manifest
        # with the fixed floor zeroed, the 2-row delta beats
        # re-reading the 9-row star
        m.setattr(mvmod, "_MV_TERM_OVERHEAD_ROWS", 0)
        est = catalog.mv_refresh_estimate("gold.cemv")
        assert est["choice"] == "incremental"
        assert est["incremental_rows"] == 2 < est["full_rows"] == 9
    # a CoW rewrite of the whole fact prices as removed+added rows -
    # bigger than the star, so full wins even with zero overhead
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        update_where,
    )

    update_where(f, F.col("v") >= 0, {"v": F.col("v") + 1})
    with monkeypatch.context() as m:
        m.setattr(mvmod, "_MV_TERM_OVERHEAD_ROWS", 0)
        est = catalog.mv_refresh_estimate("gold.cemv")
    assert est["choice"] == "full"
    assert est["changelog_rows"] > est["full_rows"]
    # not a join MV -> loud refusal
    with pytest.raises(ValueError, match="join-aggregate"):
        catalog.mv_refresh_estimate("gold.factce")


def test_mv_refresh_cost_based_picks_the_cheaper_plan(
    catalog, spark, monkeypatch
):
    """With mv.refresh.cost-based=true the refresh itself honors the
    estimate: a small star under the default per-term floor takes the
    FULL overwrite path; zeroing the floor flips the same shape back
    to the incremental MERGE. Values match the recompute either way."""
    f, d = _join_fixture(catalog, spark, suffix="cb")
    mv = catalog.create_materialized_view(
        "gold.cbmv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM gold_factcb "
        "JOIN gold_dimcb ON gold_factcb.fk = gold_dimcb.k GROUP BY seg",
    )
    mv.set_properties(**{"mv.refresh.cost-based": "true"})

    def expected():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql(
                "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM "
                "gold_factcb JOIN gold_dimcb ON gold_factcb.fk = "
                "gold_dimcb.k GROUP BY seg"
            ).collect()
        }

    def via_view():
        catalog.register_views()
        return {
            tuple(r)
            for r in spark.sql(
                "SELECT seg, n, sv FROM gold_cbmv"
            ).collect()
        }

    # small star + default floor: the chooser forces the full path
    f.append(spark.createDataFrame([(3, 100)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.cbmv")
    assert snap.operation == "overwrite"  # full refresh, not a merge
    assert via_view() == expected()
    # an up-to-date MV stays a no-op under the chooser
    assert catalog.refresh_materialized_view("gold.cbmv") is None
    # floor zeroed: the same delta shape now refreshes incrementally
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import mv as mvmod

    monkeypatch.setattr(mvmod, "_MV_TERM_OVERHEAD_ROWS", 0)
    f.append(spark.createDataFrame([(2, 50)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.cbmv")
    assert snap.operation == "merge"  # incremental wins on the stats
    assert via_view() == expected()
    # a moved dim under zero floor: changelog(1 row) x matches stays
    # below the star, so the dim-CDC arm runs (merge), not a rebuild
    d.append(spark.createDataFrame([(4, "C")], "k long, seg string"))
    f.append(spark.createDataFrame([(4, 1)], "fk long, v long"))
    snap = catalog.refresh_materialized_view("gold.cbmv")
    assert snap is not None and snap.operation in ("merge", "overwrite")
    assert via_view() == expected()


def test_changelog_estimate_prices_from_manifests(catalog, spark):
    """table.changelog_estimate: append = added rows; CoW = removed +
    added rows (upper bound on the symmetric difference); expired
    ranges report available=False instead of raising."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (  # noqa: E501
        expire_snapshots,
    )

    t = catalog.create_table("gold.ce2", TICK_SCHEMA, [])
    v0 = t.current_version()
    t.append(tick_df(spark, n=10))
    v1 = t.current_version()
    est = t.changelog_estimate(v0, v1)
    assert est == {
        "available": True,
        "rows": 10,
        "bytes": est["bytes"],
        "commits": 1,
    }
    assert est["bytes"] > 0
    t.append(tick_df(spark, n=4, start="2024-02-01 00:00:00"))
    assert t.changelog_estimate(v0)["rows"] == 14
    # CoW delete rewrites the touched file: removed + added rows
    v2 = t.current_version()
    delete_where(t, F.col("Bid") < 1.0908)  # rewrites one file
    est = t.changelog_estimate(v2)
    assert est["available"] and est["rows"] >= 4
    # property commits are content-preserving: zero contribution
    v3 = t.current_version()
    t.set_properties(note="x")
    assert t.changelog_estimate(v3)["rows"] == 0
    expire_snapshots(
        t, older_than_ms=10**18, retain_last=1, orphan_grace_secs=0.0
    )
    assert t.changelog_estimate(v0)["available"] is False


def test_txn_guard_refuses_ddl_on_participants(catalog, spark):
    """ADVICE r13 (medium): DROP TABLE on a table with staged appends
    inside the open transaction let COMMIT publish the OTHER table and
    then die on NoSuchTableError - half-published, from the very
    surface that advertises all-or-nothing. DROP/ALTER/CLONE-into now
    refuse on participants; non-participants stay autocommit DDL."""
    catalog.create_namespace("gold")
    for n in ("ga", "gb", "gc"):
        catalog.create_table(
            f"gold.{n}",
            spark.createDataFrame([], "k long, v long").schema,
        )
    catalog.sql("BEGIN")
    catalog.sql("INSERT INTO gold.ga SELECT 1, 1")
    catalog.sql("INSERT INTO gold.gb SELECT 2, 2")
    with pytest.raises(ValueError, match="participant"):
        catalog.sql("DROP TABLE gold.gb")
    with pytest.raises(ValueError, match="participant"):
        catalog.sql("DROP TABLE GOLD.GB")  # case-insensitive match
    with pytest.raises(ValueError, match="participant"):
        catalog.sql("ALTER TABLE gold.ga ADD COLUMN w long")
    with pytest.raises(ValueError, match="participant"):
        catalog.sql("CREATE TABLE gold.gb SHALLOW CLONE gold.gc")
    # non-participant DDL stays autocommit, as documented
    catalog.sql("DROP TABLE gold.gc")
    res = catalog.sql("COMMIT").first()
    assert res["tables_published"] == 2
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_ga").first()["n"] == 1
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_gb").first()["n"] == 1
    # with the transaction resolved the same DDL goes through
    catalog.sql("DROP TABLE gold.gb")


def test_sql_begin_check_and_set_is_atomic(catalog, spark):
    """ADVICE r13: two threads racing BEGIN through one catalog handle
    must serialize - exactly one wins, the loser gets the loud
    'already open' error, and the winner's transaction still commits."""
    import threading

    catalog.create_table(
        "gold.race", spark.createDataFrame([], "k long, v long").schema
    )
    for _ in range(5):
        results: list = [None, None]
        barrier = threading.Barrier(2)

        def begin(i):
            barrier.wait()
            try:
                catalog.sql("BEGIN")
                results[i] = "ok"
            except ValueError as e:
                results[i] = str(e)

        ts = [
            threading.Thread(target=begin, args=(i,)) for i in range(2)
        ]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        assert sorted(r == "ok" for r in results) == [False, True]
        loser = next(r for r in results if r != "ok")
        assert "already open" in loser
        catalog.sql("INSERT INTO gold.race SELECT 1, 1")
        catalog.sql("COMMIT")
    assert (
        catalog.sql("SELECT COUNT(*) AS n FROM gold_race").first()["n"]
        == 5
    )


def test_sql_txn_update_insert_atomic(catalog, spark):
    """r14 (VERDICT r13 #4): UPDATE + INSERT across two tables driven
    entirely through SQL land atomically - staged rewrites invisible
    mid-transaction, COMMIT publishes both, ROLLBACK leaves both
    pristine."""
    catalog.create_namespace("gold")
    a = catalog.create_table(
        "gold.dmla", spark.createDataFrame([], "k long, v long").schema
    )
    b = catalog.create_table(
        "gold.dmlb", spark.createDataFrame([], "run string, n long").schema
    )
    a.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1)
    )
    catalog.sql("BEGIN")
    res = catalog.sql("UPDATE gold.dmla SET v = v + 1 WHERE k >= 2").first()
    assert res["operation"] == "update staged"
    catalog.sql("INSERT INTO gold.dmlb SELECT 'u', 2")
    # invisible mid-transaction
    assert catalog.sql(
        "SELECT SUM(v) AS s FROM gold_dmla"
    ).first()["s"] == 60
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_dmlb").first()["n"] == 0
    catalog.sql("COMMIT")
    assert catalog.sql(
        "SELECT SUM(v) AS s FROM gold_dmla"
    ).first()["s"] == 62
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_dmlb").first()["n"] == 1
    # DELETE + ROLLBACK: both pristine, no staged residue
    v_a = a.current_version()
    catalog.sql("BEGIN")
    res = catalog.sql("DELETE FROM gold.dmla WHERE k = 1").first()
    assert res["operation"] == "delete staged"
    catalog.sql("INSERT INTO gold.dmlb SELECT 'd', 1")
    catalog.sql("ROLLBACK")
    assert a.current_version() == v_a
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_dmla").first()["n"] == 3
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_dmlb").first()["n"] == 1
    assert a.list_staged() == [] and b.list_staged() == []
    # one row-DML statement per table: a second UPDATE on dmla refuses
    catalog.sql("BEGIN")
    catalog.sql("UPDATE gold.dmla SET v = 0 WHERE k = 1")
    with pytest.raises(ValueError, match="at most one"):
        catalog.sql("DELETE FROM gold.dmla WHERE k = 2")
    catalog.sql("ROLLBACK")


def test_mv_refresh_estimate_ignores_content_preserving_commits(
    catalog, spark
):
    """review r14: an empty dim append / property commit advances the
    version without changing content - the refresh re-pins and no-ops,
    so the estimate must say 'noop', not charge a per-term floor and
    claim a full rewrite is coming."""
    f, d = _join_fixture(catalog, spark, suffix="cp")
    catalog.create_materialized_view(
        "gold.cpmv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM gold_factcp "
        "JOIN gold_dimcp ON gold_factcp.fk = gold_dimcp.k GROUP BY seg",
    )
    # empty append: version moves, zero content
    d.append(spark.createDataFrame([], "k long, seg string"))
    est = catalog.mv_refresh_estimate("gold.cpmv")
    assert est["choice"] == "noop" and est["terms"] == 0
    # an empty fact advance is a near-no-op merge, never a full rewrite
    f.append(spark.createDataFrame([], "fk long, v long"))
    est = catalog.mv_refresh_estimate("gold.cpmv")
    assert est["choice"] == "noop"
    # a REAL dim change still counts
    d.append(spark.createDataFrame([(9, "C")], "k long, seg string"))
    est = catalog.mv_refresh_estimate("gold.cpmv")
    assert est["choice"] in ("full", "incremental") and est["terms"] >= 1


def test_sql_txn_merge_stages_atomically(catalog, spark):
    """r14: SQL MERGE inside BEGIN..COMMIT stages the compiled clause
    matrix - invisible mid-transaction, atomic with the audit INSERT,
    and WITH SCHEMA EVOLUTION refuses (its metadata commits precede
    the merge)."""
    catalog.create_namespace("gold")
    a = catalog.create_table(
        "gold.mga", spark.createDataFrame([], "k long, v long").schema
    )
    b = catalog.create_table(
        "gold.mgb", spark.createDataFrame([], "run string, n long").schema
    )
    a.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1)
    )
    spark.createDataFrame(
        [(2, 200), (9, 90)], "k long, v long"
    ).createOrReplaceTempView("mg_src")
    catalog.sql("BEGIN")
    res = catalog.sql(
        "MERGE INTO gold.mga USING mg_src s ON gold.mga.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert res["operation"] == "merge staged"
    catalog.sql("INSERT INTO gold.mgb SELECT 'm', 2")
    # invisible mid-transaction
    assert catalog.sql("SELECT SUM(v) AS s FROM gold_mga").first()["s"] == 60
    catalog.sql("COMMIT")
    assert {
        (r["k"], r["v"]) for r in catalog.sql(
            "SELECT k, v FROM gold_mga"
        ).collect()
    } == {(1, 10), (2, 200), (3, 30), (9, 90)}
    assert catalog.sql("SELECT COUNT(*) AS n FROM gold_mgb").first()["n"] == 1
    # multi-clause matrix stages too, and ROLLBACK discards it
    v = a.current_version()
    catalog.sql("BEGIN")
    res = catalog.sql(
        "MERGE INTO gold.mga USING mg_src s ON gold.mga.k = s.k "
        "WHEN MATCHED AND gold.mga.v > 100 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v + 1"
    ).first()
    assert res["operation"] == "merge staged"
    catalog.sql("ROLLBACK")
    assert a.current_version() == v and a.list_staged() == []
    # schema evolution refuses inside the transaction, loudly
    catalog.sql("BEGIN")
    with pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        catalog.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO gold.mga USING mg_src s "
            "ON gold.mga.k = s.k WHEN MATCHED THEN UPDATE SET *"
        )
    # MERGE on a table already carrying a staged append still refuses
    catalog.sql("INSERT INTO gold.mga SELECT 50, 500")
    with pytest.raises(ValueError, match="cannot mix with appends"):
        catalog.sql(
            "MERGE INTO gold.mga USING mg_src s ON gold.mga.k = s.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    catalog.sql("ROLLBACK")
