"""``mutate``: a read-write mix over an orders-customer-nation star.

The star feeds a materialized view (MV) that joins all three tables,
and a copy of the customer dimension is kept as an SCD2 table (one row
per version of each customer, the current one flagged). Each round:

1. ``merge``: a MERGE upsert into the orders fact table;
2. ``scd2``: an ``apply_changes_scd2`` batch over ~10% of customers;
3. ``txn_commit``: one transaction appending to two tables;
4. ``maintain``: ``compact`` then ``expire_snapshots`` on the fact
   table, keeping the snapshots the MV's next refresh reads;
5. ``read_after_write``: eight range counts over the orders just merged;
6. ``dim_update``: an UPDATE of the nation dimension;
7. ``mv_refresh``: a change-data-capture (CDC) refresh of the MV, which
   sees the same kinds of change (fact MERGE and compaction, dimension
   UPDATE) in every round.

Every round makes new snapshots, so the scan memo misses; the read
after the write shows a write-side change that slows reads. After every
round the MV must equal a recompute of its SQL, the SCD2 table must hold
one current row per key, and the fact table must match a model of the
merges. An untimed warm-up round runs before the loop: the set-ups
never merge, update or refresh, so without it every timed call of the
first round would be the first of its kind in the JVM. Its writes are
checked by the first timed round.

The traced run also replays the job-count self-check (``selfcheck``)
and one pass of the headline queries (``lakebench/headline.py``).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lakebench.common import Run, live_bytes, rowset, timed_setups, warm_up
from lakebench.gen import star_tables

SF = 0.02
MV_SQL = (
    "SELECT n_name, COUNT(*) AS n_orders, SUM(o_custkey) AS sum_cust "
    "FROM m_orders "
    "JOIN m_customer ON m_orders.o_custkey = m_customer.c_custkey "
    "JOIN m_nation ON m_customer.c_nationkey = m_nation.n_nationkey "
    "GROUP BY n_name"
)
TXN_ROWS = 2_000
READS = 8  # read-after-write slices per round


class Mutate:
    name = "mutate"
    cycle = 2  # two identical rounds: each median is over two warm samples

    def __init__(self, run: Run):
        self.run = run
        self.rng = np.random.default_rng([run.seed, 5])
        star = star_tables(run.seed, SF)
        self.inputs = run.path("star")
        os.makedirs(self.inputs, exist_ok=True)
        cols = {
            "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
            "customer": ["c_custkey", "c_nationkey", "c_acctbal"],
            "nation": ["n_nationkey", "n_name"],
        }
        for name, keep in cols.items():
            path = f"{self.inputs}/{name}.parquet"
            pq.write_table(star[name].select(keep), path)
            run.input_bytes += os.path.getsize(path)
        o = star["orders"]
        # the set model of the fact table: key -> (custkey, price in cents)
        self.orders = dict(
            zip(
                o.column("o_orderkey").to_pylist(),
                zip(
                    o.column("o_custkey").to_pylist(),
                    np.rint(o.column("o_totalprice").to_numpy() * 100).astype(np.int64).tolist(),
                ),
            )
        )
        c = star["customer"]
        self.n_cust = c.num_rows
        self.customers = dict(
            zip(c.column("c_custkey").to_pylist(), c.column("c_nationkey").to_pylist())
        )
        self.next_key = max(self.orders) + 1
        self.txn_rows = 0
        self.rounds_done = 0

    def _input(self, name: str, table: pa.Table) -> str:
        path = f"{self.inputs}/{name}.parquet"
        pq.write_table(table, path)
        self.run.input_bytes += os.path.getsize(path)
        return path

    def _build(self, warehouse: str):
        from pyspark.sql import functions as F

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
            LakehouseCatalog,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
            apply_changes_scd2,
            scd2_target_schema,
        )

        spark = self.run.spark
        cat = LakehouseCatalog(spark, warehouse)
        cat.create_namespace("m")
        for name in ("orders", "customer", "nation"):
            df = spark.read.parquet(f"{self.inputs}/{name}.parquet")
            cat.create_table(f"m.{name}", df.schema).append(df)
        cat.create_materialized_view("m.star_mv", MV_SQL)
        seed = spark.read.parquet(f"{self.inputs}/customer.parquet").select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(1).cast("long").alias("_change_version"),
        )
        scd = cat.create_table("m.scd_customer", scd2_target_schema(seed))
        apply_changes_scd2(scd, seed, key="c_custkey")
        cat.create_table("m.txn_facts", spark.read.parquet(f"{self.inputs}/orders.parquet").schema)
        cat.create_table(
            "m.txn_ops",
            spark.createDataFrame([("r", 0)], "run string, n long").schema,
        )
        return cat

    def setup(self) -> None:
        """Three timed set-ups, then one untimed warm-up round on the
        kept warehouse, so that no timed call is the first of its kind."""
        self.catalog = timed_setups(self.run, 3, self._build)
        self.run.open_warehouse(self.catalog.warehouse)
        warm_up(self.run, self.round)

    def _fingerprint(self, df):
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)),
            F.sum("o_custkey"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        ).collect()[0]
        return (r[0], r[1], r[2])

    def _model_fingerprint(self):
        cust = sum(c for c, _ in self.orders.values())
        cents = sum(p for _, p in self.orders.values())
        return (len(self.orders), cust, cents)

    def round(self, _n: int) -> None:
        from pyspark.sql import functions as F

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
            apply_changes_scd2,
            merge_into,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
            compact,
            expire_snapshots,
        )

        run, cat, spark, rng = self.run, self.catalog, self.run.spark, self.rng
        r = self.rounds_done  # the warm-up round is round 0
        self.rounds_done += 1
        # every check below is of cumulative state, so the first timed
        # round also checks what the warm-up round wrote
        check = r > 0

        # MERGE: ~2% of orders re-priced and re-assigned, ~1% new orders
        keys = list(self.orders)
        upd = rng.choice(keys, max(len(keys) // 50, 1), replace=False)
        new = np.arange(self.next_key, self.next_key + max(len(keys) // 100, 1))
        self.next_key = int(new[-1]) + 1
        mkeys = np.concatenate([upd, new]).astype(np.int64)
        mcust = rng.integers(0, self.n_cust, len(mkeys)).astype(np.int64)
        mcents = rng.integers(100_000, 50_000_000, len(mkeys)).astype(np.int64)
        path = self._input(
            f"merge_{r:04d}",
            pa.table({"o_orderkey": mkeys, "o_custkey": mcust, "o_totalprice": mcents / 100.0}),
        )
        orders_t = cat.load_table("m.orders")
        before = {e["path"] for e in orders_t.snapshot().data_entries}
        run.call("merge", merge_into, orders_t, spark.read.parquet(path), key="o_orderkey")
        written = sum(
            int(e["rows"])
            for e in cat.load_table("m.orders").snapshot().data_entries
            if e["path"] not in before
        )
        run.extra["merge_rows_written"] = run.extra.get("merge_rows_written", 0) + written
        run.extra["merge_source_rows"] = run.extra.get("merge_source_rows", 0) + len(mkeys)
        for k, c, p in zip(mkeys.tolist(), mcust.tolist(), mcents.tolist()):
            self.orders[k] = (c, p)
        if check:
            run.verify(
                self._fingerprint(cat.load_table("m.orders").to_df()) == self._model_fingerprint(),
                f"round {r} MERGE result differs from the set model",
            )

        # SCD2: ~10% of customers move nation
        ckeys = rng.choice(self.n_cust, max(self.n_cust // 10, 1), replace=False).astype(np.int64)
        cnat = rng.integers(0, 25, len(ckeys)).astype(np.int32)
        path = self._input(
            f"scd2_{r:04d}",
            pa.table(
                {
                    "c_custkey": ckeys,
                    "c_nationkey": cnat,
                    "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ckeys)), 2),
                    "_change_type": ["update_postimage"] * len(ckeys),
                    "_change_version": np.full(len(ckeys), r + 2, dtype=np.int64),
                }
            ),
        )
        scd = cat.load_table("m.scd_customer")
        run.call("scd2", apply_changes_scd2, scd, spark.read.parquet(path), key="c_custkey")
        self.customers.update(zip(ckeys.tolist(), cnat.tolist()))
        if check:
            cur = (
                cat.load_table("m.scd_customer")
                .to_df()
                .filter(F.col("__is_current"))
                .agg(
                    F.count(F.lit(1)),
                    F.countDistinct("c_custkey"),
                    F.sum(F.col("c_custkey") * 31 + F.col("c_nationkey")),
                )
                .collect()[0]
            )
            want = sum(k * 31 + n for k, n in self.customers.items())
            run.verify(
                tuple(cur) == (self.n_cust, self.n_cust, want),
                f"round {r} SCD2 current rows {tuple(cur)}",
            )

        # two tables, one transaction
        lo = int(rng.integers(0, 10**9))
        path = self._input(
            f"txn_{r:04d}",
            pa.table(
                {
                    "o_orderkey": np.arange(lo, lo + TXN_ROWS, dtype=np.int64),
                    "o_custkey": rng.integers(0, self.n_cust, TXN_ROWS).astype(np.int64),
                    "o_totalprice": np.round(rng.uniform(1000, 500_000, TXN_ROWS), 2),
                }
            ),
        )
        facts = spark.read.parquet(path)
        audit = spark.createDataFrame([(f"round-{r}", TXN_ROWS)], "run string, n long")

        def commit():
            with cat.transaction() as txn:
                txn.append("m.txn_facts", facts)
                txn.append("m.txn_ops", audit)

        run.call("txn_commit", commit)
        self.txn_rows += TXN_ROWS
        if check:
            got = (
                cat.load_table("m.txn_facts").to_df().count(),
                cat.load_table("m.txn_ops").to_df().count(),
            )
            run.verify(got == (self.txn_rows, r + 1), f"round {r} transaction rows {got}")

        def maintain():
            t = cat.load_table("m.orders")
            compact(t)
            expire_snapshots(
                t,
                older_than_ms=int(time.time() * 1000),
                retain_last=3,
                orphan_grace_secs=0,
            )

        run.call("maintain", maintain)

        # read back, in READS slices, a key range that the MERGE just wrote into
        lo = int(new[0]) - len(keys) // 10
        step = (int(new[-1]) - lo) // READS + 1
        for a in range(lo, lo + READS * step, step):
            got = run.call(
                "read_after_write",
                lambda a=a: cat.load_table("m.orders").scan_where("o_orderkey", a, a + step - 1).count(),
            )
            want = sum(1 for k in self.orders if a <= k < a + step)
            run.verify(got == want, f"round {r} read of [{a}, {a + step}) counted {got}, model {want}")

        run.call(
            "dim_update",
            cat.sql,
            f"UPDATE m.nation SET n_name = concat('R{r}_', n_name) "
            f"WHERE n_nationkey % 5 = {r % 5}",
        )
        snap = run.call("mv_refresh", cat.refresh_materialized_view, "m.star_mv")
        run.extra["cdc_refreshes"] = run.extra.get("cdc_refreshes", 0) + bool(
            snap.summary.get("cdc_refresh")
        )
        if check:
            recompute = cat.sql(MV_SQL)
            mv = cat.load_table("m.star_mv").to_df().select(*recompute.columns)
            run.verify(
                rowset(mv.columns, mv.collect()) == rowset(mv.columns, recompute.collect()),
                f"round {r} MV differs from a recompute",
            )

    def finish(self) -> None:
        run = self.run
        run.final_check(
            self._fingerprint(self.catalog.load_table("m.orders").to_df())
            == self._model_fingerprint(),
            "orders differ from the set model at the end",
        )
        run.extra["live_bytes"] = live_bytes(self.catalog)

    def selfcheck(self, tracer) -> None:
        """Replay, untimed, the four operation shapes whose job counts
        the repository recorded in plans/r15/mv_merge_scd2_jobs_final.txt
        (12, 24, 17 and 7 jobs at sf0.1 on 32 cores): a single-dimension
        and a two-dimension CDC refresh of the star MV, an SCD2 batch
        over 10% of customers, and a row-replace MERGE over a third of
        the orders. Each is one span; its tagged jobs are the count."""
        from pyspark.sql import functions as F

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
            LakehouseCatalog,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
            apply_changes_scd2,
            scd2_target_schema,
        )

        spark = self.run.spark
        cat = LakehouseCatalog(spark, self.run.path("selfcheck"))
        cat.create_namespace("bench")
        orders = spark.read.parquet(f"{self.inputs}/orders.parquet")
        cust = spark.read.parquet(f"{self.inputs}/customer.parquet")
        nation = spark.read.parquet(f"{self.inputs}/nation.parquet")
        for name, df in (
            ("sorders", orders),
            ("scustomer", cust.select("c_custkey", "c_nationkey")),
            ("snation", nation),
        ):
            cat.create_table(f"bench.{name}", df.schema).append(df)
        cat.create_materialized_view(
            "bench.star_mv",
            MV_SQL.replace("m_orders", "bench_sorders")
            .replace("m_customer", "bench_scustomer")
            .replace("m_nation", "bench_snation"),
        )

        def jobs(name, fn, *args, **kwargs):
            with tracer.span(f"selfcheck.{name}") as s:
                fn(*args, **kwargs)
            self.run.extra[f"selfcheck.{name}"] = len(s.jobs)

        cat.sql("UPDATE bench.snation SET n_name = concat('Z_', n_name) WHERE n_nationkey % 5 = 0")
        jobs("mv_cdc_1dim_jobs", cat.refresh_materialized_view, "bench.star_mv")
        cat.sql(
            "UPDATE bench.scustomer SET c_nationkey = (c_nationkey + 1) % 25 "
            "WHERE c_custkey % 11 = 0"
        )
        cat.sql("UPDATE bench.snation SET n_name = concat('Y_', n_name) WHERE n_nationkey % 5 = 1")
        jobs("mv_cdc_2dim_jobs", cat.refresh_materialized_view, "bench.star_mv")
        seed = cust.select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(1).cast("long").alias("_change_version"),
        )
        scd = cat.create_table("bench.scd_customer", scd2_target_schema(seed))
        apply_changes_scd2(scd, seed, key="c_custkey")
        batch = cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            ((F.col("c_nationkey") + 1) % 25).alias("c_nationkey"),
            (F.col("c_acctbal") + 1).alias("c_acctbal"),
            F.lit("update_postimage").alias("_change_type"),
            F.lit(2).cast("long").alias("_change_version"),
        )
        jobs("scd2_jobs", apply_changes_scd2, scd, batch, key="c_custkey")
        orders.select(
            "o_orderkey", (F.col("o_custkey") + 1).alias("o_custkey"), "o_totalprice"
        ).filter(F.col("o_orderkey") % 3 == 0).createOrReplaceTempView("bench_merge_src")
        jobs(
            "merge_jobs",
            cat.sql,
            "MERGE INTO bench.sorders USING bench_merge_src s "
            "ON bench.sorders.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET *",
        )

    def main_op(self) -> str:
        return "mv_refresh"

    def short_op(self) -> str:
        return "read_after_write"
