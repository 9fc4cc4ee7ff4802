"""``medallion_cdc``: the medallion flow, one change batch at a time.

Set-up lands customer, part and order source files and carries them
through bronze stream ingest, silver cleanse and the catalog into gold:
an SCD1 customer dim and an SCD2 part dim, both versioned tables, and an
order fact.  Parts pass a declarative pipeline with expectations.

One operation is one seeded change batch - customer and part updates,
inserts and deletes plus new orders - timed from landing its files to the
last gold commit.  Each batch's gold versions are checked afterwards
against a DuckDB replay of every batch so far.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.functions import hashing
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import silver
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
    facts,
    merge,
    pipeline,
    scd,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    catalog,
    versioned,
    writers,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import bronze

import gen
from common import Op, Workload, same_rows

ENTITIES = ("customer", "part", "orders")
CUST_ATTRS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
PART_ATTRS = ["p_name", "p_brand", "p_size", "p_retailprice"]
PART_RULES = {"size_ok": "p_size > 0", "name_set": "p_name IS NOT NULL"}


def batch_ts(b: int) -> str:
    """Commit clock of batch ``b`` (batch 0 is the initial load)."""
    return f"2024-01-{1 + b // 24:02d} {b % 24:02d}:00:00"


class ChangeFeed:
    """Seeded source of change batches over the live key sets."""

    def __init__(self, seed: int, scale: float):
        self.rng = np.random.default_rng([seed, 3])
        s = gen.sizes(scale)
        self.cust = gen.customers(self.rng, np.arange(s["customer"]))
        self.part = gen.parts(self.rng, np.arange(s["part"]))
        self.live_cust = np.arange(s["customer"])
        self.live_part = np.arange(s["part"])
        self.next_cust, self.next_part = s["customer"], s["part"]
        self.orders = gen.orders(self.rng, np.arange(s["orders"] // 10), self.live_cust)
        self.next_order = s["orders"] // 10
        self.n_cust = max(4, s["customer"] // 100)
        self.n_part = max(4, s["part"] // 100)
        self.n_orders = max(10, s["orders"] // 200)

    def initial(self) -> dict[str, pa.Table]:
        return {
            "customer": _tag(self.cust, "I", 0),
            "part": _tag(self.part, "I", 0),
            "orders": _tag(self.orders, "I", 0),
        }

    def _changes(self, base: pa.Table, key: str, live: np.ndarray, n: int,
                 make, next_key: int) -> tuple[pa.Table, np.ndarray, int]:
        """n updates, n/2 inserts and n/4 deletes of one entity."""
        picked = self.rng.choice(live, n + n // 4, replace=False)
        upd, dele = picked[:n], picked[n:]
        ins = np.arange(next_key, next_key + n // 2)
        rows_by_key = {k: i for i, k in enumerate(base[key].to_pylist())}
        old = base.take([rows_by_key[k] for k in dele])
        out = pa.concat_tables([
            _tag(make(upd), "U"), _tag(make(ins), "I"), _tag(old, "D"),
        ])
        live = np.setdiff1d(np.union1d(live, ins), dele)
        return out, live, next_key + n // 2

    def next_batch(self, b: int) -> dict[str, pa.Table]:
        rng = self.rng
        cust, self.live_cust, self.next_cust = self._changes(
            self.cust, "c_custkey", self.live_cust, self.n_cust,
            lambda k: gen.customers(rng, k), self.next_cust)
        part, self.live_part, self.next_part = self._changes(
            self.part, "p_partkey", self.live_part, self.n_part,
            lambda k: gen.parts(rng, k), self.next_part)
        # a few inserts that break the silver expectations and are dropped
        bad = gen.parts(rng, np.arange(self.next_part, self.next_part + 2))
        bad = bad.set_column(4, "p_size", pa.array([0, 3], pa.int32()))
        bad = bad.set_column(1, "p_name", pa.array([bad["p_name"][0].as_py(), None]))
        self.next_part += 2
        part = pa.concat_tables([part, _tag(bad, "I")])
        self.cust = _latest(self.cust, cust, "c_custkey")
        self.part = _latest(self.part, part, "p_partkey")
        keys = np.arange(self.next_order, self.next_order + self.n_orders)
        self.next_order += self.n_orders
        orders = gen.orders(rng, keys, self.live_cust)
        return {
            "customer": _stamp(cust, b),
            "part": _stamp(part, b),
            "orders": _tag(orders, "I", b),
        }


def _tag(t: pa.Table, op: str, batch: int | None = None) -> pa.Table:
    t = t.append_column("op", pa.array([op] * t.num_rows, pa.string()))
    return t if batch is None else _stamp(t, batch)


def _stamp(t: pa.Table, batch: int) -> pa.Table:
    return t.append_column("batch", pa.array([batch] * t.num_rows, pa.int64()))


def _latest(base: pa.Table, changes: pa.Table, key: str) -> pa.Table:
    """Newest row image per key (deleted keys keep their last image)."""
    cols = base.column_names
    rows = {r[key]: r for r in base.to_pylist()}
    for r in changes.select(cols).to_pylist():
        rows[r[key]] = r
    return pa.Table.from_pylist(list(rows.values()), schema=base.schema)


class MedallionCDC(Workload):
    min_passes = 2

    def __init__(self, spark, tracer, seed: int, scale: float):
        super().__init__()
        self.spark, self.tracer = spark, tracer
        self.seed, self.scale = seed, scale
        self.landed_bytes = 0
        self.rep = 0

    # -- set-up ---------------------------------------------------------------

    def prepare(self, root: str) -> None:
        """Fresh tables under ``root``: initial load through bronze, silver
        and gold."""
        self.root, self.rep = root, self.rep + 1
        self.feed = ChangeFeed(self.seed, self.scale)
        self.batch = 0
        self.events: dict[str, list[pa.Table]] = {e: [] for e in ENTITIES}
        self.silver_schema = f"silver_r{self.rep}"
        self.gold = {n: os.path.join(root, "gold", n)
                     for n in ("customer_dim", "part_dim", "order_fact")}
        catalog.create_schema(self.spark, self.silver_schema)
        refined = self._land_and_refine(self.feed.initial(), 0)
        cust = scd.scd1_initial(
            refined["customer"], ["c_custkey"], CUST_ATTRS, "customer_skey",
            now=batch_ts(0), skey=F.col("c_custkey"))
        versioned.overwrite_versioned(
            cust, self.gold["customer_dim"], now=0.0, snapshot_mode="manifest")
        part = scd.scd2_initial(refined["part"], ["p_partkey"], PART_ATTRS, now=batch_ts(0))
        versioned.overwrite_versioned(
            part, self.gold["part_dim"], now=0.0, snapshot_mode="manifest")
        versioned.overwrite_versioned(
            self._fact(refined["orders"], 0), self.gold["order_fact"], now=0.0,
            snapshot_mode="manifest")

    def warm(self) -> None:
        self._apply(self._next_batch())

    def counters(self) -> dict[str, int]:
        """Bytes landed so far, and rows the bronze streams have written."""
        rows = 0
        for ent in ENTITIES:
            bronze_dir = os.path.join(self.root, "bronze", ent)
            for f in os.listdir(bronze_dir) if os.path.isdir(bronze_dir) else ():
                if f.endswith(".parquet"):
                    rows += pq.read_metadata(os.path.join(bronze_dir, f)).num_rows
        return {"landed_bytes": self.landed_bytes, "rows_in": rows}

    # -- the flow ---------------------------------------------------------------

    def _land_and_refine(self, batch: dict[str, pa.Table], b: int) -> dict:
        """Land one batch's files, ingest them to bronze and refine them
        to silver frames."""
        spark = self.spark
        for ent, table in batch.items():
            src = os.path.join(self.root, "source", ent)
            os.makedirs(src, exist_ok=True)
            path = os.path.join(src, f"b{b:05d}.parquet")
            pq.write_table(table, path)
            self.landed_bytes += os.path.getsize(path)
            self.events[ent].append(table)
        out = {}
        for ent in ENTITIES:
            bronze_dir = os.path.join(self.root, "bronze", ent)
            bronze.ingest(spark, os.path.join(self.root, "source", ent), bronze_dir,
                          os.path.join(self.root, "checkpoint", ent))
            out[ent] = spark.read.parquet(bronze_dir).filter(F.col("batch") == b)
        # silver customers: cleanse, land through the catalog
        cust = silver.clean_columns(
            out["customer"], keep=["c_custkey", *CUST_ATTRS, "op", "batch"])
        loc = os.path.join(self.root, "silver", "customer")
        writers.overwrite_path(cust, loc)
        name = f"{self.silver_schema}.customer_changes"
        catalog.register_external_table(spark, name, loc)
        spark.catalog.refreshTable(name)
        out["customer"] = spark.table(name)
        # silver parts: a declarative pipeline with expectations
        p = pipeline.Pipeline("silver_parts")
        p.table(lambda spark: out["part"], name="bronze_parts")
        p.view(lambda bronze_parts: silver.clean_columns(
            bronze_parts, keep=["p_partkey", *PART_ATTRS, "op", "batch"]),
            name="silver_parts", expect=PART_RULES, expect_all_or_drop=PART_RULES)
        run = p.run(spark)
        self.rejected = sum(run.expectation_reports["silver_parts"].violations.values())
        out["part"] = run.outputs["silver_parts"]
        out["orders"] = silver.project(
            silver.clean_columns(out["orders"]),
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        return out

    def _fact(self, orders, b: int):
        dim = versioned.read_current(self.spark, self.gold["customer_dim"]).select(
            F.col("c_custkey").alias("o_custkey"), "customer_skey")
        return facts.build_fact(orders, [(dim, "o_custkey")], now=batch_ts(b))

    def _next_batch(self) -> tuple[int, dict[str, pa.Table]]:
        self.batch += 1
        return self.batch, self.feed.next_batch(self.batch)

    def _apply(self, batch: tuple[int, dict[str, pa.Table]]) -> dict[str, int]:
        """Land one change batch and carry it to gold; returns the gold
        version each table committed."""
        b, tables = batch
        refined = self._land_and_refine(tables, b)
        src = hashing.change_hash(refined["customer"], CUST_ATTRS, out=scd.HASH_COL)
        ts = F.lit(batch_ts(b)).cast("timestamp")
        cust_v = merge.merge_versioned(
            self.spark, self.gold["customer_dim"], src, ["c_custkey"], now=float(b),
            update_condition=merge.t(scd.HASH_COL) != merge.s(scd.HASH_COL),
            update_set={**{c: merge.s(c) for c in (*CUST_ATTRS, scd.HASH_COL)},
                        "updated_date": ts, "change_type": F.lit("U")},
            insert_values={**{c: merge.s(c) for c in ("c_custkey", *CUST_ATTRS, scd.HASH_COL)},
                           "customer_skey": merge.s("c_custkey"), "created_date": ts,
                           "updated_date": ts, "change_type": F.lit("I")},
            delete_condition=merge.s("op") == "D",
            insert_condition=merge.s("op") != "D",
        )
        feed = refined["part"]
        part_v = versioned.transact(
            self.spark, self.gold["part_dim"],
            lambda snap: scd.apply_changes(
                snap, feed, ["p_partkey"], "batch", stored_as_scd_type=2,
                track_history_column_list=PART_ATTRS, now=batch_ts(b),
                apply_as_deletes="op = 'D'"),
            now=float(b), operation="MERGE")
        fact_v = versioned.append_versioned(
            self._fact(refined["orders"], b), self.gold["order_fact"], now=float(b))
        return {"batch": b, "customer_dim": cust_v, "part_dim": part_v,
                "order_fact": fact_v, "rejected": self.rejected}

    # -- one pass -----------------------------------------------------------------

    def ops(self, pass_no: int) -> list[Op]:
        """One change batch, generated before timing."""
        batch = self._next_batch()
        return [Op(f"batch{batch[0]}", lambda: self._apply(batch), self._check,
                   key="change_batch")]

    def _check(self, out: dict) -> bool:
        """Gold at the versions one batch committed against the replay, and
        the pipeline rejected exactly the two invalid part rows."""
        actual = self.read_gold(out)
        expected = self.replay(out["batch"])
        return out["rejected"] == 2 and all(same_rows(actual[n], t) for n, t in expected.items())

    def read_gold(self, versions: dict[str, int]) -> dict[str, pa.Table]:
        out = {}
        for n in self.gold:
            t = versioned.read_version(self.spark, self.gold[n], versions[n]).toArrow()
            if n == "order_fact" and t["customer_skey"].null_count:
                t = t.slice(0, 0)  # an unresolved dim key fails the check
            out[n] = t.drop_columns([c for c in ("hash_value",) if c in t.column_names])
        return out

    def replay(self, b: int) -> dict[str, pa.Table]:
        """Expected gold after batch ``b``, replayed in DuckDB from the
        landed events."""
        con = duckdb.connect()
        try:
            for ent in ENTITIES:
                ev = pa.concat_tables(self.events[ent][:b + 1], promote_options="default")
                con.register(f"{ent}_ev", ev)
            con.execute("CREATE MACRO bts(b) AS TIMESTAMP '2024-01-01' + b * INTERVAL 1 HOUR")
            cust = con.execute(f"""
                WITH ev AS (SELECT * FROM customer_ev WHERE batch <= {b}),
                first AS (SELECT c_custkey, min(batch) AS b0 FROM ev GROUP BY c_custkey),
                last AS (SELECT * FROM ev QUALIFY row_number() OVER (
                           PARTITION BY c_custkey ORDER BY batch DESC) = 1)
                SELECT l.c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                       l.c_custkey AS customer_skey,
                       bts(f.b0) AS created_date, bts(l.batch) AS updated_date,
                       CASE WHEN l.batch = f.b0 THEN 'I' ELSE 'U' END AS change_type
                FROM last l JOIN first f USING (c_custkey) WHERE l.op <> 'D'
            """).arrow()
            part = con.execute(f"""
                WITH ev AS (SELECT * FROM part_ev WHERE batch <= {b}
                            AND p_size > 0 AND p_name IS NOT NULL),
                x AS (SELECT *, lead(batch) OVER (
                        PARTITION BY p_partkey ORDER BY batch) AS nb FROM ev)
                SELECT p_partkey, p_name, p_brand, p_size, p_retailprice,
                       bts(batch) AS effective_start_date,
                       CASE WHEN nb IS NULL THEN NULL ELSE bts(nb) END AS effective_end_date,
                       nb IS NULL AS is_current
                FROM x WHERE op <> 'D'
            """).arrow()
            fact = con.execute(f"""
                SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                       o_custkey AS customer_skey,
                       bts(batch) AS created_dt, bts(batch) AS updated_dt
                FROM orders_ev WHERE batch <= {b}
            """).arrow()
        finally:
            con.close()
        return {"customer_dim": cust, "part_dim": part, "order_fact": fact}
