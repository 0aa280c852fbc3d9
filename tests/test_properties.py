"""Property-based tests (SURVEY.md §5.2.4): dedup-append invariants under
random overlapping batches.

Invariant (the reference's core contract): after ``ingest(A); ingest(B)``
the table key set equals keys(A) | keys(B), every key appears exactly
once per occurrence in its first batch, and re-ingesting any batch never
grows the table.
"""

from __future__ import annotations

import datetime as dt

import pytest

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
    dedup_against_table,
)

from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("DateTime", TimestampType()),
        StructField("Bid", DoubleType()),
        StructField("Ask", DoubleType()),
    ]
)

BASE = dt.datetime(2024, 1, 1)

keys_strategy = st.lists(
    st.integers(min_value=0, max_value=50), min_size=1, max_size=40
)


def make_df(spark, keys):
    rows = [
        (BASE + dt.timedelta(seconds=int(k)), 1.0 + k * 0.01, 2.0 + k * 0.01)
        for k in keys
    ]
    return spark.createDataFrame(rows, SCHEMA)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=keys_strategy, b=keys_strategy)
@pytest.mark.slow
def test_dedup_append_union_semantics(spark, tmp_path_factory, a, b):
    wh = tmp_path_factory.mktemp("wh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("gold")
    t = cat.create_table("gold.prop", SCHEMA)

    df_a = make_df(spark, a)
    clean_a = dedup_against_table(df_a, t, key="DateTime")
    if clean_a.count():
        t.append(clean_a)
    n_after_a = t.to_df().count()
    # empty table: everything in A lands (incl. intra-batch dupes - J1
    # only dedups against committed data)
    assert n_after_a == len(a)

    df_b = make_df(spark, b)
    clean_b = dedup_against_table(df_b, t, key="DateTime")
    n_new = clean_b.count()
    if n_new:
        t.append(clean_b)

    keys_a, keys_b = set(a), set(b)
    # B contributes exactly its occurrences of keys not already committed
    expected_new = sum(1 for k in b if k not in keys_a)
    assert n_new == expected_new

    final = t.to_df()
    assert final.count() == len(a) + expected_new
    final_keys = {
        int((r["DateTime"] - BASE).total_seconds()) for r in final.collect()
    }
    assert final_keys == keys_a | keys_b

    # re-ingesting either batch is a no-op now
    again = dedup_against_table(make_df(spark, a + b), t, key="DateTime")
    assert again.count() == 0


def test_dedup_append_union_fixed_case(spark, tmp_path_factory):
    # A's intra-batch duplicate lands twice, so the anti-join's build side
    # repeats key 1; B repeats keys both committed (3) and new (5)
    test_dedup_append_union_semantics.hypothesis.inner_test(
        spark, tmp_path_factory, a=[1, 1, 2, 3], b=[2, 3, 3, 4, 5, 5]
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(min_value=0, max_value=90),
    width=st.integers(min_value=1, max_value=60),
    n_batches=st.integers(min_value=1, max_value=3),
)
@pytest.mark.slow
def test_mor_delete_equivalent_to_cow(spark, tmp_path_factory, lo, width, n_batches):
    """DELETE equivalence: for any value-range predicate, merge-on-read
    position deletes, merge-on-read equality deletes, and copy-on-write
    must leave exactly the same logical table - before AND after
    materialize_deletes."""
    from pyspark.sql import functions as F

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import delete_where
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        materialize_deletes,
    )

    tmp = tmp_path_factory.mktemp("morprop")
    cat = LakehouseCatalog(spark, str(tmp / "wh"))
    cat.create_namespace("gold")

    def build(name):
        df0 = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 25).cast("double").alias("v")
        )
        t = cat.create_table(f"gold.{name}", df0.schema)
        rows = 100 // n_batches
        for i in range(n_batches):
            t.append(df0.filter((F.col("k") >= i * rows) &
                                ((F.col("k") < (i + 1) * rows) | (i == n_batches - 1))))
        return t

    pred_cols = (lambda: (F.col("k") >= lo) & (F.col("k") < lo + width))

    t_cow = build(f"cow_{lo}_{width}_{n_batches}")
    t_pos = build(f"pos_{lo}_{width}_{n_batches}")
    t_eq = build(f"eq_{lo}_{width}_{n_batches}")
    delete_where(t_cow, pred_cols())
    delete_where(t_pos, pred_cols(), mode="merge-on-read", positional=True)
    delete_where(t_eq, pred_cols(), mode="merge-on-read", equality_cols=["k"])

    def rows(t):
        return sorted((r["k"], r["v"]) for r in t.to_df().collect())

    expected = rows(t_cow)
    assert rows(t_pos) == expected
    assert rows(t_eq) == expected

    materialize_deletes(t_pos)
    materialize_deletes(t_eq)
    assert not t_pos.snapshot().delete_entries
    assert not t_eq.snapshot().delete_entries
    assert rows(t_pos) == expected
    assert rows(t_eq) == expected


def test_mor_delete_fixed_case(spark, tmp_path_factory):
    # keys 30..74 cross the boundary between the first two of three
    # batches (0..32, 33..65, 66..99), so the delete spans three files
    test_mor_delete_equivalent_to_cow.hypothesis.inner_test(
        spark, tmp_path_factory, lo=30, width=45, n_batches=3
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tbl_keys=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=20,
        unique=True,
    ),
    src_keys=st.lists(
        st.integers(min_value=0, max_value=30), min_size=0, max_size=20,
        unique=True,
    ),
    # ignore-mode + condition is rejected up front by merge_into, so the
    # strategy never draws it
    matched=st.sampled_from(
        [
            (when, cond)
            for when in ("update", "ignore", "delete")
            for cond in (None, 2, 3)
            if when != "ignore" or cond is None
        ]
    ),
    when_not_matched=st.sampled_from(["insert", "ignore"]),
    sync=st.booleans(),
)
@pytest.mark.slow
def test_merge_matrix_matches_set_model(
    spark, tmp_path_factory, tbl_keys, src_keys, matched, when_not_matched, sync,
):
    """Every MERGE clause combination agrees with the plain set-algebra
    model computed in Python: matched rows follow when_matched (gated by
    the condition over the TABLE row), new keys follow when_not_matched,
    table-only keys follow when_not_matched_by_source. ``matched`` is
    the ``(when_matched, condition modulus)`` pair."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import merge_into

    when_matched, cond_mod = matched
    wh = tmp_path_factory.mktemp("merge_prop")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("gold")
    df = spark.createDataFrame(
        [(k, float(k) * 10) for k in tbl_keys], "k long, v double"
    )
    t = cat.create_table("gold.m", df.schema)
    t.append(df)
    src = spark.createDataFrame(
        [(k, -1.0) for k in src_keys], "k long, v double"
    ) if src_keys else spark.createDataFrame([], "k long, v double")

    merge_into(
        t, src, key="k",
        when_matched=when_matched,
        matched_condition=(
            None if cond_mod is None
            else f"k % {cond_mod} = 0"
        ),
        when_not_matched=when_not_matched,
        when_not_matched_by_source="delete" if sync else "keep",
    )

    # the set model
    expected: dict[int, float] = {}
    tset, sset = set(tbl_keys), set(src_keys)
    for k in tset:
        matched = k in sset
        if not matched:
            if not sync:
                expected[k] = float(k) * 10
            continue
        fires = (cond_mod is None or k % cond_mod == 0)
        if when_matched == "update" and fires:
            expected[k] = -1.0
        elif when_matched == "delete" and fires:
            pass  # deleted
        else:  # ignore, or condition failed
            expected[k] = float(k) * 10
    if when_not_matched == "insert":
        for k in sset - tset:
            expected[k] = -1.0

    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == expected


@settings(
    max_examples=14,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    transform=st.sampled_from(
        ["identity", "years", "months", "days", "hours"]
    ),
    lo_day=st.integers(min_value=0, max_value=40),
    width_days=st.integers(min_value=0, max_value=40),
    date_bounds=st.booleans(),
)
@pytest.mark.slow
def test_scan_where_equals_full_scan_filter(
    spark, tmp_path_factory, transform, lo_day, width_days, date_bounds
):
    """The hidden-partitioning contract, property-form: for ANY time
    transform and ANY bound range (datetime or date-typed), the pruned
    scan returns exactly the rows of an unpruned filter. This is the
    invariant the hours/date-bound pruning bugs violated."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    wh = tmp_path_factory.mktemp("swp")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("gold")
    spec = [] if transform == "identity" else [PartitionField("DateTime", transform)]
    t = cat.create_table("gold.p", SCHEMA, spec)
    # 90 days of sparse data, 4 rows/day at 0:00/6:00/12:00/18:00
    rows = [
        (BASE + _dt.timedelta(days=d, hours=h), 1.0 + d, 2.0 + d)
        for d in range(0, 90, 3)
        for h in (0, 6, 12, 18)
    ]
    t.append(spark.createDataFrame(rows, SCHEMA))

    lo_dt = BASE + _dt.timedelta(days=lo_day)
    hi_dt = lo_dt + _dt.timedelta(days=width_days)
    lo = lo_dt.date() if date_bounds else lo_dt
    hi = hi_dt.date() if date_bounds else hi_dt

    got = t.scan_where("DateTime", lo, hi).count()
    want = (
        t.to_df()
        .filter(
            (F.col("DateTime") >= F.lit(lo))
            & (F.col("DateTime") <= F.lit(hi))
        )
        .count()
    )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    days=st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=5,
        unique=True,
    ),
    target=st.integers(min_value=0, max_value=9),
    n_new=st.integers(min_value=0, max_value=6),
)
@pytest.mark.slow
def test_overwrite_partitions_set_model(
    spark, tmp_path_factory, days, target, n_new
):
    """Dynamic overwrite == set algebra: rows of untouched days survive
    exactly; the target day's rows are exactly the backfill frame (or
    unchanged when the backfill is empty - overwrite touches nothing)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        overwrite_partitions,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        PartitionField,
    )

    wh = tmp_path_factory.mktemp("ow_prop")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.ow", SCHEMA, [PartitionField("DateTime", "days")]
    )
    rows = [
        (BASE + _dt.timedelta(days=d, hours=h), float(d), 0.0)
        for d in days
        for h in range(3)
    ]
    t.append(spark.createDataFrame(rows, SCHEMA))

    backfill = [
        (BASE + _dt.timedelta(days=target, minutes=i), -1.0, -1.0)
        for i in range(n_new)
    ]
    snap = overwrite_partitions(
        t, spark.createDataFrame(backfill, SCHEMA)
    )

    got = sorted(
        (r["DateTime"], r["Bid"]) for r in t.to_df().collect()
    )
    if n_new == 0:
        assert snap is None
        expected = sorted((ts, b) for ts, b, _ in rows)
    else:
        expected = sorted(
            [(ts, b) for ts, b, _ in rows if ts.date() != (BASE + _dt.timedelta(days=target)).date()]
            + [(ts, b) for ts, b, _ in backfill]
        )
    assert got == expected


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "mor_update", "cow_delete"]),
            st.integers(min_value=0, max_value=49),
        ),
        min_size=1,
        max_size=5,
    )
)
@pytest.mark.slow
def test_cdc_replication_converges(spark, tmp_path_factory, ops):
    """For ANY sequence of appends / MoR updates / CoW deletes on the
    source, tailing the image-paired changelog and apply_changes-ing
    into a replica converges to exactly the source's rows."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        apply_changes,
        delete_where,
        update_where,
    )

    wh = tmp_path_factory.mktemp("whcdc")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("cdc")
    df = spark.range(20).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    src = cat.create_table("cdc.src", df.schema)
    src.append(df)
    replica = cat.create_table("cdc.rep", df.schema)
    replica.append(src.to_df())
    cursor = src.current_version()

    nxt = 100
    for op, arg in ops:
        if op == "append":
            src.append(
                spark.range(nxt, nxt + 3).select(
                    F.col("id").alias("k"), F.lit("new").alias("s")
                )
            )
            nxt += 3
        elif op == "mor_update":
            update_where(
                src,
                F.col("k") % 7 == arg % 7,
                {"s": F.lit(f"u{arg}")},
                mode="merge-on-read",
            )
        else:
            delete_where(src, F.col("k") % 11 == arg % 11)

    cdc = src.scan_changelog_with_images(cursor, key="k")
    apply_changes(replica, cdc, key="k")
    a = sorted(tuple(r) for r in src.to_df().collect())
    b = sorted(tuple(r) for r in replica.to_df().collect())
    assert a == b


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=4,
    ),
    del_mod=st.integers(min_value=2, max_value=5),
)
@pytest.mark.slow
def test_metadata_agg_matches_scan(spark, tmp_path_factory, batches, del_mod):
    """metadata_agg either equals the real aggregate exactly or refuses
    (None) - it never returns a wrong number, including after MoR
    deletes and their materialization."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        materialize_deletes,
    )

    wh = tmp_path_factory.mktemp("whma")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("m")
    t = cat.create_table(
        "m.t", spark.createDataFrame([], "k long, v double").schema
    )
    i = 0
    for b in batches:
        t.append(
            spark.createDataFrame(
                [(i * 10_000 + j, float(x)) for j, x in enumerate(b)],
                "k long, v double",
            ).coalesce(1)
        )
        i += 1

    def check():
        got = t.metadata_agg(
            {"n": ("count", "*"), "lo": ("min", "v"), "hi": ("max", "v")}
        )
        if got is None:
            return
        real = t.to_df().agg(
            F.count("*").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        ).first()
        assert tuple(got.first()) == tuple(real)

    check()
    delete_where(
        t, F.col("k") % del_mod == 0, mode="merge-on-read", positional=True
    )
    assert t.metadata_agg({"n": ("count", "*")}) is None  # must refuse
    materialize_deletes(t)
    check()


def test_metadata_agg_fixed_case(spark, tmp_path_factory):
    # two files; k % 3 == 0 deletes rows from both, and the second
    # file's min and max are its extreme values
    test_metadata_agg_matches_scan.hypothesis.inner_test(
        spark, tmp_path_factory, batches=[[-5, 3, 0], [7, -1000, 1000]], del_mod=3
    )


# --- incremental aggregate-MV refresh == full recompute ---------------------

_mv_batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_mv_batches)
@pytest.mark.slow
def test_mv_agg_refresh_equals_full_recompute(
    spark, tmp_path_factory, batches
):
    """Whatever append sequence arrives (including NULL group keys,
    which force the full-refresh fallback, and empty batches), after
    each refresh the aggregate MV equals the query run fresh over the
    base."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    wh = tmp_path_factory.mktemp("mvwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    schema = "cat string, v long"
    t = cat.create_table("g.base", spark.createDataFrame([], schema).schema)
    t.append(spark.createDataFrame([("a", 1)], schema))
    q = (
        "SELECT cat, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS lo, "
        "MAX(v) AS hi, AVG(v) AS m FROM g_base GROUP BY cat"
    )
    cat.create_materialized_view("g.mv", q)
    cols = ("n", "s", "lo", "hi", "m")
    for batch in batches:
        if batch:
            t.append(spark.createDataFrame(batch, schema))
        cat.refresh_materialized_view("g.mv")
        got = {
            r["cat"]: tuple(r[c] for c in cols)
            for r in cat.load_table("g.mv").to_df().collect()
        }
        want = {
            r["cat"]: tuple(r[c] for c in cols)
            for r in cat.sql(q).collect()
        }
        assert got == want, f"diverged after batch {batch}"


# -- join-MV maintenance property (r8) -----------------------------------

_JOIN_OPS = st.lists(
    st.sampled_from(
        ["fact_append", "dim_append", "fact_delete", "dim_update",
         "refresh", "empty_dim_append"]
    ),
    min_size=1,
    max_size=7,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_JOIN_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_join_mv_always_equals_recompute(
    spark, tmp_path_factory, ops, seed
):
    """THE join-MV contract: under ANY interleaving of fact appends,
    dim appends, fact DML, dim DML, content-preserving commits and
    refreshes, the view after a final refresh equals the full GROUP BY
    over the current join - whichever path (merge / full / no-op) each
    refresh happened to take."""
    import random

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp("jwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    fschema = "fk long, v long"
    dschema = "k long, seg string"
    f = cat.create_table("g.pf", spark.createDataFrame([], fschema).schema)
    d = cat.create_table("g.pd", spark.createDataFrame([], dschema).schema)
    d.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 3)) for i in range(5)], dschema
        )
    )
    f.append(
        spark.createDataFrame(
            [(rng.randrange(7), rng.randrange(100)) for _ in range(6)],
            fschema,
        )
    )
    cat.create_materialized_view(
        "g.pmv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo "
        "FROM g_pf JOIN g_pd ON g_pf.fk = g_pd.k GROUP BY seg",
    )
    for op in ops:
        if op == "fact_append":
            f.append(
                spark.createDataFrame(
                    [
                        (rng.randrange(7), rng.randrange(100))
                        for _ in range(rng.randrange(1, 4))
                    ],
                    fschema,
                )
            )
        elif op == "dim_append":
            d.append(
                spark.createDataFrame(
                    [(5 + rng.randrange(3), chr(68 + rng.randrange(2)))],
                    dschema,
                )
            )
        elif op == "empty_dim_append":
            d.append(spark.createDataFrame([], dschema))
        elif op == "fact_delete":
            cat.sql(f"DELETE FROM g.pf WHERE v % 10 = {rng.randrange(10)}")
        elif op == "dim_update":
            cat.sql(
                f"UPDATE g.pd SET seg = 'Z' WHERE k = {rng.randrange(5)}"
            )
        else:
            cat.refresh_materialized_view("g.pmv")
    cat.refresh_materialized_view("g.pmv")
    cat.register_views()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM g_pmv").collect()
    }
    want = {
        tuple(r)
        for r in spark.sql(
            "SELECT seg, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS lo "
            "FROM g_pf JOIN g_pd ON g_pf.fk = g_pd.k GROUP BY seg"
        ).collect()
    }
    assert got == want, (ops, seed)


_MULTI_JOIN_OPS = st.lists(
    st.sampled_from(
        ["fact_append", "dim1_append", "dim2_update", "fact_delete",
         "refresh", "empty_dim2_append"]
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MULTI_JOIN_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_multidim_join_mv_always_equals_recompute(
    spark, tmp_path_factory, ops, seed
):
    """r9 extension of the join-MV contract to fact JOIN dim1 JOIN
    dim2: under ANY interleaving of fact appends, dim appends/DML on
    EITHER dim, content-preserving commits and refreshes, the view
    after a final refresh equals the full GROUP BY over the current
    3-way join."""
    import random

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp("mjwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    fschema = "fk long, rk long, v long"
    f = cat.create_table("g.mf", spark.createDataFrame([], fschema).schema)
    d1 = cat.create_table(
        "g.md1", spark.createDataFrame([], "k long, seg string").schema
    )
    d2 = cat.create_table(
        "g.md2", spark.createDataFrame([], "r long, reg string").schema
    )
    d1.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 3)) for i in range(5)], "k long, seg string"
        )
    )
    d2.append(
        spark.createDataFrame(
            [(i, chr(80 + i % 2)) for i in range(3)], "r long, reg string"
        )
    )
    f.append(
        spark.createDataFrame(
            [
                (rng.randrange(7), rng.randrange(4), rng.randrange(100))
                for _ in range(6)
            ],
            fschema,
        )
    )
    q = (
        "SELECT seg, reg, COUNT(*) AS n, SUM(v) AS sv, MAX(v) AS hi "
        "FROM g_mf JOIN g_md1 ON g_mf.fk = g_md1.k "
        "JOIN g_md2 ON g_mf.rk = g_md2.r GROUP BY seg, reg"
    )
    cat.create_materialized_view("g.mmv", q)
    for op in ops:
        if op == "fact_append":
            f.append(
                spark.createDataFrame(
                    [
                        (
                            rng.randrange(7),
                            rng.randrange(4),
                            rng.randrange(100),
                        )
                        for _ in range(rng.randrange(1, 4))
                    ],
                    fschema,
                )
            )
        elif op == "dim1_append":
            d1.append(
                spark.createDataFrame(
                    [(5 + rng.randrange(3), "X")], "k long, seg string"
                )
            )
        elif op == "empty_dim2_append":
            d2.append(spark.createDataFrame([], "r long, reg string"))
        elif op == "fact_delete":
            cat.sql(f"DELETE FROM g.mf WHERE v % 10 = {rng.randrange(10)}")
        elif op == "dim2_update":
            cat.sql(
                f"UPDATE g.md2 SET reg = 'Z' WHERE r = {rng.randrange(3)}"
            )
        else:
            cat.refresh_materialized_view("g.mmv")
    cat.refresh_materialized_view("g.mmv")
    cat.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM g_mmv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want, (ops, seed)


_CDC_JOIN_OPS = st.lists(
    st.sampled_from(
        ["fact_append", "fact_delete", "dim1_update", "dim2_update",
         "dim1_delete", "refresh"]
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_CDC_JOIN_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_multidim_join_mv_cdc_always_equals_recompute(
    spark, tmp_path_factory, ops, seed
):
    """r9 join-CDC tier contract: a COUNT/integral-SUM star MV (the
    hidden __mv_rows/__mv_nn state materializes at creation) must equal
    the full GROUP BY after ANY interleaving of fact appends/deletes
    and dim updates/deletes - single-moved-dim and fact-DML windows
    refresh from the SIGNED changelog, everything else falls back, and
    both must land on the same rows. The nullable w column exercises
    COUNT(col) and the NULL-vs-0 sum edge (__mv_nn reaching 0)."""
    import random

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp("cjwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    fschema = "fk long, rk long, v long, w long"

    def frows(n):
        return [
            (
                rng.randrange(7),
                rng.randrange(4),
                rng.randrange(100),
                None if rng.random() < 0.3 else rng.randrange(50),
            )
            for _ in range(n)
        ]

    f = cat.create_table("g.cf", spark.createDataFrame([], fschema).schema)
    d1 = cat.create_table(
        "g.cd1", spark.createDataFrame([], "k long, seg string").schema
    )
    d2 = cat.create_table(
        "g.cd2", spark.createDataFrame([], "r long, reg string").schema
    )
    d1.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 3)) for i in range(5)], "k long, seg string"
        )
    )
    d2.append(
        spark.createDataFrame(
            [(i, chr(80 + i % 2)) for i in range(3)], "r long, reg string"
        )
    )
    f.append(spark.createDataFrame(frows(6), fschema))
    q = (
        "SELECT seg, reg, COUNT(*) AS n, COUNT(w) AS nw, "
        "SUM(v) AS sv, SUM(w) AS sw "
        "FROM g_cf JOIN g_cd1 ON g_cf.fk = g_cd1.k "
        "JOIN g_cd2 ON g_cf.rk = g_cd2.r GROUP BY seg, reg"
    )
    mv = cat.create_materialized_view("g.cmv", q)
    # the CDC state must have materialized (all aggs invertible)
    assert "__mv_rows" in {fl.name for fl in mv.schema.fields}
    for op in ops:
        if op == "fact_append":
            f.append(
                spark.createDataFrame(frows(rng.randrange(1, 4)), fschema)
            )
        elif op == "fact_delete":
            cat.sql(f"DELETE FROM g.cf WHERE v % 10 = {rng.randrange(10)}")
        elif op == "dim1_update":
            cat.sql(
                f"UPDATE g.cd1 SET seg = 'Z' WHERE k = {rng.randrange(5)}"
            )
        elif op == "dim2_update":
            cat.sql(
                f"UPDATE g.cd2 SET reg = 'Y' WHERE r = {rng.randrange(3)}"
            )
        elif op == "dim1_delete":
            cat.sql(
                f"DELETE FROM g.cd1 WHERE k = {rng.randrange(5)}"
            )
        else:
            cat.refresh_materialized_view("g.cmv")
    cat.refresh_materialized_view("g.cmv")
    cat.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM g_cmv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want, (ops, seed)


# -- MIN/MAX CDC group-recompute property (r10) ---------------------------

_MM_OPS = st.lists(
    st.sampled_from(["append", "delete", "update", "refresh"]),
    min_size=1,
    max_size=6,
)


def _run_single_table_mv_op_soup(
    spark, tmp_path_factory, ops, seed, base, mv, q_fmt
):
    """Shared Hypothesis driver for single-table agg-MV contracts: a
    base table of (cat, v, nullable w) rows takes a random interleaving
    of appends/deletes/updates/refreshes, and the MV's VIEW must equal
    the query re-run from scratch. ``q_fmt`` receives the base view
    name; ``base``/``mv`` are dotted idents (unique per test so
    Hypothesis examples never collide)."""
    import random

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp(mv.split(".")[-1])
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    schema = "cat string, v long, w long"

    def rows(n):
        return [
            (
                chr(97 + rng.randrange(4)),
                rng.randrange(100),
                None if rng.random() < 0.3 else rng.randrange(50),
            )
            for _ in range(n)
        ]

    t = cat.create_table(base, spark.createDataFrame([], schema).schema)
    t.append(spark.createDataFrame(rows(6), schema))
    q = q_fmt.format(base=cat.view_name(base))
    cat.create_materialized_view(mv, q)
    for op in ops:
        if op == "append":
            t.append(
                spark.createDataFrame(rows(rng.randrange(1, 4)), schema)
            )
        elif op == "delete":
            cat.sql(f"DELETE FROM {base} WHERE v % 10 = {rng.randrange(10)}")
        elif op == "update":
            cat.sql(
                f"UPDATE {base} SET v = v + 7, w = NULL "
                f"WHERE v % 7 = {rng.randrange(7)}"
            )
        else:
            cat.refresh_materialized_view(mv)
    cat.refresh_materialized_view(mv)
    cat.register_views()
    got = {
        tuple(r)
        for r in spark.sql(
            f"SELECT * FROM {cat.view_name(mv)}"
        ).collect()
    }
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want, (ops, seed)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MM_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_mv_minmax_cdc_always_equals_recompute(
    spark, tmp_path_factory, ops, seed
):
    """r10 group-recompute tier contract: a MIN/MAX (+COUNT/SUM,
    nullable column) aggregate MV equals the full GROUP BY after ANY
    interleaving of appends, deletes, updates and refreshes - DML
    windows refresh by recomputing only the touched groups, and every
    unprovable case falls back to full refresh."""
    _run_single_table_mv_op_soup(
        spark,
        tmp_path_factory,
        ops,
        seed,
        "g.mmb",
        "g.mmmv",
        "SELECT cat, COUNT(*) AS n, COUNT(w) AS nw, SUM(v) AS sv, "
        "MIN(v) AS lo, MAX(w) AS hi, AVG(w) AS m "
        "FROM {base} GROUP BY cat",
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MM_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_mv_having_recompute_always_equals_view(
    spark, tmp_path_factory, ops, seed
):
    """r11 HAVING + group-recompute contract: a MIN/MAX HAVING MV's
    VIEW equals the HAVING'd full GROUP BY after ANY interleaving of
    appends, deletes, updates and refreshes - the stored row is the
    UNFILTERED aggregate, DML recomputes only touched groups, and
    groups crossing the threshold in either direction appear/disappear
    exactly as a full recompute would have them."""
    _run_single_table_mv_op_soup(
        spark,
        tmp_path_factory,
        ops,
        seed,
        "g.hvb",
        "g.hvmv",
        "SELECT cat, COUNT(*) AS n, MIN(v) AS lo, MAX(w) AS hi "
        "FROM {base} GROUP BY cat HAVING MAX(w) > 20",
    )


# -- fact+dim moved together CDC (r11) ------------------------------------

_FD_FACT_OPS = st.sampled_from(["fact_append", "fact_delete", "fact_both"])
_FD_DIM_OPS = st.sampled_from(
    ["dim1_update", "dim2_update", "dim1_delete", "both_dims"]
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fact_op=_FD_FACT_OPS,
    dim_op=_FD_DIM_OPS,
    seed=st.integers(min_value=0, max_value=10_000),
)
@pytest.mark.slow
def test_fact_and_dim_moved_cdc_always_equals_recompute(
    spark, tmp_path_factory, fact_op, dim_op, seed
):
    """r11 (VERDICT r10 #5): the FACT and one-to-two dims mutate in the
    SAME refresh window - the telescoping composition appends a
    fact-changelog term last (dim terms bind the PINNED fact, the fact
    term joins the NEW dims). Every example asserts the refresh was
    merge-only with cdc_refresh=True AND equals the full recompute."""
    import random

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp("fdwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    fschema = "fk long, rk long, v long, w long"

    def frows(n):
        return [
            (
                rng.randrange(7),
                rng.randrange(4),
                rng.randrange(100),
                None if rng.random() < 0.3 else rng.randrange(50),
            )
            for _ in range(n)
        ]

    f = cat.create_table("g.ff", spark.createDataFrame([], fschema).schema)
    d1 = cat.create_table(
        "g.fd1", spark.createDataFrame([], "k long, seg string").schema
    )
    d2 = cat.create_table(
        "g.fd2", spark.createDataFrame([], "r long, reg string").schema
    )
    d1.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 3)) for i in range(5)], "k long, seg string"
        )
    )
    d2.append(
        spark.createDataFrame(
            [(i, chr(80 + i % 2)) for i in range(3)], "r long, reg string"
        )
    )
    f.append(spark.createDataFrame(frows(8), fschema))
    q = (
        "SELECT seg, reg, COUNT(*) AS n, COUNT(w) AS nw, "
        "SUM(v) AS sv, SUM(w) AS sw "
        "FROM g_ff JOIN g_fd1 ON g_ff.fk = g_fd1.k "
        "JOIN g_fd2 ON g_ff.rk = g_fd2.r GROUP BY seg, reg"
    )
    mv = cat.create_materialized_view("g.fmv", q)
    assert "__mv_rows" in {fl.name for fl in mv.schema.fields}
    # mutate the FACT ...
    if fact_op in ("fact_append", "fact_both"):
        f.append(spark.createDataFrame(frows(rng.randrange(1, 4)), fschema))
    if fact_op in ("fact_delete", "fact_both"):
        cat.sql(f"DELETE FROM g.ff WHERE v % 10 = {rng.randrange(10)}")
    # ... AND one-to-two dims in the SAME window
    if dim_op in ("dim1_update", "both_dims"):
        cat.sql(f"UPDATE g.fd1 SET seg = 'Z' WHERE k = {rng.randrange(5)}")
    if dim_op == "dim1_delete":
        cat.sql(f"DELETE FROM g.fd1 WHERE k = {rng.randrange(5)}")
    if dim_op in ("dim2_update", "both_dims"):
        cat.sql(f"UPDATE g.fd2 SET reg = 'Y' WHERE r = {rng.randrange(3)}")
    snap = cat.refresh_materialized_view("g.fmv")
    # the CDC path: merge commits per term, or - when a term's
    # changelog joins ZERO fact rows - an empty-delta echo of the
    # current snapshot. NEVER the full-refresh overwrite/truncate.
    assert snap is not None, (fact_op, dim_op)
    assert snap.operation not in ("overwrite", "truncate"), (
        fact_op,
        dim_op,
        snap.operation,
    )
    if snap.operation == "merge":
        assert snap.summary.get("cdc_refresh") is True, (fact_op, dim_op)
    cat.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM g_fmv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want, (fact_op, dim_op, seed)
    # pins advanced on every side
    props = cat.load_table("g.fmv").properties()
    assert props["mv.base_version"] == str(f.current_version())
    vs = __import__("json").loads(props["mv.join_dim_versions"])
    assert vs["g.fd1"] == str(d1.current_version())
    assert vs["g.fd2"] == str(d2.current_version())


# --- array-percentile KLL MV == full recompute (r12) ------------------------

_kll_ops = st.lists(
    st.one_of(
        st.lists(  # an append batch
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.integers(min_value=-50, max_value=50),
            ),
            min_size=0,
            max_size=6,
        ),
        st.sampled_from(["del_even", "del_neg"]),  # DML -> recompute
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_kll_ops)
@pytest.mark.slow
def test_mv_array_percentile_always_equals_recompute(
    spark, tmp_path_factory, ops
):
    """r12: the ARRAY-of-percentiles KLL tier under ANY interleaving of
    appends (sketch merges) and deletes (touched-group recomputes)
    equals the user query run fresh. At these sizes KLL is exact, so
    the stored-sketch path and Spark's native approx_percentile agree
    element-for-element - any divergence is a maintenance bug, not
    estimator noise."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )

    wh = tmp_path_factory.mktemp("kllmvwh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    schema = "cat string, v long"
    t = cat.create_table("g.kb", spark.createDataFrame([], schema).schema)
    t.append(spark.createDataFrame([("a", 1), ("b", -3)], schema))
    q = (
        "SELECT cat, COUNT(*) AS n, "
        "APPROX_PERCENTILE(v, array(0.1, 0.5, 0.9)) AS qs "
        "FROM g_kb GROUP BY cat"
    )
    mv = cat.create_materialized_view("g.kmv", q)
    assert mv.properties().get("mv.refresh_mode") == "agg"

    def canon(rows):
        return {
            r["cat"]: (
                r["n"],
                None if r["qs"] is None else tuple(r["qs"]),
            )
            for r in rows
        }

    for op in ops:
        if op == "del_even":
            cat.sql("DELETE FROM g.kb WHERE v % 2 = 0")
        elif op == "del_neg":
            cat.sql("DELETE FROM g.kb WHERE v < 0")
        elif op:
            t.append(spark.createDataFrame(op, schema))
        cat.refresh_materialized_view("g.kmv")
        got = canon(cat.load_table("g.kmv").to_df().collect())
        want = canon(cat.sql(q).collect())
        assert got == want, f"diverged after {op}"


# -- K-dim telescoping CDC property (r13: the 3-dim cap removed) ----------

_WIDE_CDC_OPS = st.lists(
    st.sampled_from(
        ["fact_append", "d1", "d2", "d3", "d4", "d_delete", "refresh"]
    ),
    min_size=1,
    max_size=7,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_WIDE_CDC_OPS, seed=st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_four_dim_join_mv_cdc_always_equals_recompute(
    spark, tmp_path_factory, ops, seed
):
    """r13: the telescoping tier is K-dim general (the r10 cap at 3 is
    gone), so a 5-table star must equal the full GROUP BY after ANY
    interleaving of fact appends and updates/deletes across all FOUR
    dims - whether a window refreshes incrementally (K terms) or falls
    back, both land on the same rows."""
    import random

    rng = random.Random(seed)
    wh = tmp_path_factory.mktemp("w4wh")
    cat = LakehouseCatalog(spark, str(wh))
    cat.create_namespace("g")
    fschema = "a long, b long, c long, d long, v long"

    def frows(n):
        return [
            (
                rng.randrange(4),
                rng.randrange(3),
                rng.randrange(3),
                rng.randrange(3),
                rng.randrange(100),
            )
            for _ in range(n)
        ]

    f = cat.create_table("g.w4f", spark.createDataFrame([], fschema).schema)
    dims = []
    for i, key in enumerate(["k", "r", "q", "p"]):
        t = cat.create_table(
            f"g.w4d{i + 1}",
            spark.createDataFrame([], f"{key} long, s{i + 1} string").schema,
        )
        t.append(
            spark.createDataFrame(
                [(j, chr(65 + j + i)) for j in range(4)],
                f"{key} long, s{i + 1} string",
            )
        )
        dims.append(t)
    f.append(spark.createDataFrame(frows(8), fschema))
    q = (
        "SELECT s1, s2, s3, s4, COUNT(*) AS n, SUM(v) AS sv "
        "FROM g_w4f "
        "JOIN g_w4d1 ON g_w4f.a = g_w4d1.k "
        "JOIN g_w4d2 ON g_w4f.b = g_w4d2.r "
        "JOIN g_w4d3 ON g_w4f.c = g_w4d3.q "
        "JOIN g_w4d4 ON g_w4f.d = g_w4d4.p "
        "GROUP BY s1, s2, s3, s4"
    )
    cat.create_materialized_view("g.w4mv", q)
    for op in ops:
        if op == "fact_append":
            f.append(
                spark.createDataFrame(frows(rng.randrange(1, 3)), fschema)
            )
        elif op in ("d1", "d2", "d3", "d4"):
            i = int(op[1])
            key = ["k", "r", "q", "p"][i - 1]
            cat.sql(
                f"UPDATE g.w4d{i} SET s{i} = 'Z{rng.randrange(3)}' "
                f"WHERE {key} = {rng.randrange(4)}"
            )
        elif op == "d_delete":
            i = rng.randrange(1, 5)
            key = ["k", "r", "q", "p"][i - 1]
            cat.sql(f"DELETE FROM g.w4d{i} WHERE {key} = 3")
        else:
            cat.refresh_materialized_view("g.w4mv")
    cat.refresh_materialized_view("g.w4mv")
    cat.register_views()
    got = {tuple(r) for r in spark.sql("SELECT * FROM g_w4mv").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want, (ops, seed)


# -- one fixed, cheap case of each MV family in the default lane ---------
#
# Each family above runs its Hypothesis sweep only under ``-m slow``;
# these call the same test body with one fixed op list, chosen so the
# interesting refresh routes (append merge, signed CDC terms, touched-
# group recompute, NULL-key full-refresh fallback) all run by default.


def test_mv_agg_refresh_fixed_case(spark, tmp_path_factory):
    test_mv_agg_refresh_equals_full_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        batches=[[("a", 3), ("b", -1)], [(None, 5), ("a", 2)], []],
    )


def test_join_mv_fixed_case(spark, tmp_path_factory):
    test_join_mv_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=["fact_append", "refresh", "dim_update", "refresh",
             "fact_delete", "empty_dim_append"],
        seed=1,
    )


def test_multidim_join_mv_fixed_case(spark, tmp_path_factory):
    test_multidim_join_mv_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=["fact_append", "refresh", "dim2_update", "empty_dim2_append",
             "fact_delete"],
        seed=2,
    )


def test_multidim_join_mv_cdc_fixed_case(spark, tmp_path_factory):
    test_multidim_join_mv_cdc_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=["dim1_update", "refresh", "fact_delete", "dim2_update",
             "dim1_delete"],
        seed=3,
    )


def test_mv_minmax_cdc_fixed_case(spark, tmp_path_factory):
    test_mv_minmax_cdc_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=["append", "delete", "refresh", "update"],
        seed=4,
    )


def test_mv_having_recompute_fixed_case(spark, tmp_path_factory):
    test_mv_having_recompute_always_equals_view.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=["update", "refresh", "delete", "append"],
        seed=5,
    )


def test_fact_and_dim_moved_cdc_fixed_case(spark, tmp_path_factory):
    test_fact_and_dim_moved_cdc_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        fact_op="fact_both",
        dim_op="both_dims",
        seed=6,
    )


def test_mv_array_percentile_fixed_case(spark, tmp_path_factory):
    test_mv_array_percentile_always_equals_recompute.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=[[("a", 4), ("c", -7)], "del_even", [], "del_neg"],
    )


# -- one fixed case of each write-path family in the default lane --------
#
# MERGE against the set model and CDC replication convergence run their
# Hypothesis sweeps only under ``-m slow``; these call the same bodies
# with one fixed input each.


def test_merge_matrix_fixed_case(spark, tmp_path_factory):
    # matched rows under a condition, new keys inserted, table-only keys
    # deleted by source
    test_merge_matrix_matches_set_model.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        tbl_keys=[0, 1, 2, 3, 4, 6],
        src_keys=[2, 3, 4, 5, 7],
        matched=("update", 2),
        when_not_matched="insert",
        sync=True,
    )


def test_cdc_replication_fixed_case(spark, tmp_path_factory):
    test_cdc_replication_converges.hypothesis.inner_test(
        spark,
        tmp_path_factory,
        ops=[("append", 0), ("mor_update", 3), ("cow_delete", 5),
             ("mor_update", 10), ("append", 1)],
    )
