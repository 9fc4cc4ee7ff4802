"""``analytics_mix``: read-only queries in a seeded order.

One pass runs every lane in ``LANES`` once plus three reads of a versioned
gold table (current, as of a seeded version, change feed between two
seeded versions), in an order drawn from the seed.  One operation is one
query forced to its Arrow result; nothing commits in the timed region.

Lanes are checked against their ``workload.ORACLE`` SQL in DuckDB over the
same input files; versioned reads against the table states the set-up
committed, which the benchmark keeps as Arrow tables.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import workload
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import versioned

import gen
from common import Op, Workload, canonical_rows

#: Read-only registered lanes with a DuckDB oracle: aggregates, windows,
#: joins, grouping sets, event-time windows and the salted skew aggregate.
LANES = (
    "customer_segment_count",
    "lineitem_pricing_summary",
    "orders_grouping_sets",
    "orders_year_windows",
    "customer_set_ops",
    "fact_enrichment_join",
    "events_hourly_windows",
    "events_sliding_windows",
    "lineitem_skew_salted_agg",
)
TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events"]
#: Commits the set-up makes on the versioned gold table after creating it.
VERSIONS = 12
KEY = "p_partkey"


class AnalyticsMix(Workload):
    min_passes = 2

    def __init__(self, spark, tracer, seed: int, scale: float):
        super().__init__()
        self.spark, self.tracer = spark, tracer
        self.seed = seed
        self.tables = gen.star_schema(seed, scale, TABLES)
        self._expected_rows: dict[tuple, object] = {}

    # -- set-up -------------------------------------------------------------

    def prepare(self, root: str) -> None:
        """Land the inputs under ``root`` and commit the versioned gold
        table with ``VERSIONS`` further versions."""
        self.data = os.path.join(root, "input")
        self._expected_rows = {}
        gen.write_tables(self.tables, self.data)
        self.gold = os.path.join(root, "gold", "part_dim")
        rng = np.random.default_rng([self.seed, 7])
        part = self.tables["part"].select([KEY, "p_name", "p_brand", "p_retailprice"])
        versioned.overwrite_versioned(
            self.spark.createDataFrame(part), self.gold, now=1.0,
            snapshot_mode="manifest",
        )
        self.states = [part]
        next_key = int(pc.max(part[KEY]).as_py()) + 1
        for v in range(1, VERSIONS + 1):
            cur = self.states[-1]
            if v % 3:
                # append a batch of new parts
                n = max(10, cur.num_rows // 50)
                new = gen.parts(rng, np.arange(next_key, next_key + n)).select(cur.column_names)
                next_key += n
                versioned.append_versioned(
                    self.spark.createDataFrame(new), self.gold, now=float(v + 1))
                self.states.append(pa.concat_tables([cur, new]))
            else:
                # reprice one residue class of keys
                m, r = 16, int(rng.integers(0, 16))
                versioned.update_where(
                    self.spark, self.gold, f"{KEY} % {m} = {r}",
                    {"p_retailprice": f"p_retailprice + {v}.0"}, now=float(v + 1),
                )
                hit = pc.equal(pc.bit_wise_and(cur[KEY], m - 1), r)
                old = cur["p_retailprice"]
                price = pc.if_else(hit, pc.add(old, float(v)), old)
                self.states.append(cur.set_column(3, "p_retailprice", price))

    def warm(self) -> None:
        for op in self.ops(0):
            op.run()

    # -- one pass -----------------------------------------------------------

    def ops(self, pass_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, 11, pass_no])
        ops = [self._lane(name) for name in LANES]
        v_old = int(rng.integers(0, VERSIONS - 2))
        v_new = int(rng.integers(v_old + 1, VERSIONS + 1))
        ops += [self._current(), self._as_of(v_old), self._changes(v_old, v_new)]
        return [ops[i] for i in rng.permutation(len(ops))]

    def _force(self, name: str, build):
        """Build a frame, plan it and force it to an Arrow table; in traced
        runs each phase gets its own ``workload`` span."""
        t = self.tracer
        with t.span(f"workload.{name}"):
            with t.span("workload.build"):
                df = build()
            with t.span("workload.plan"):
                df._jdf.queryExecution().executedPlan()
            with t.span("workload.exec"):
                return df.toArrow()

    def _matches(self, out: pa.Table, key: tuple, expected) -> bool:
        """``out`` has the canonical rows of ``expected()``, which is
        computed and canonicalized once per ``key``."""
        if key not in self._expected_rows:
            self._expected_rows[key] = canonical_rows(expected())
        return canonical_rows(out) == self._expected_rows[key]

    def _lane(self, name: str) -> Op:
        fn = workload.QUERIES[name]
        return Op(name, lambda: self._force(name, lambda: fn(self.spark, self.data)),
                  lambda out: self._matches(out, ("lane", name), lambda: self._oracle(name)))

    def _oracle(self, name: str) -> pa.Table:
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return con.execute(workload.ORACLE[name]).arrow()
        finally:
            con.close()

    def _read(self, label: str, build) -> object:
        """Versioned reads are ``sources`` calls forced to their result."""
        with self.tracer.span(f"sources.read.{label}"):
            return build().toArrow()

    def _current(self) -> Op:
        return Op(
            "versioned_current",
            lambda: self._read("current", lambda: versioned.read_current(self.spark, self.gold)),
            lambda out: self._matches(out, ("version", VERSIONS), lambda: self.states[-1]),
        )

    def _as_of(self, version: int) -> Op:
        return Op(
            "versioned_as_of",
            lambda: self._read("as_of", lambda: versioned.read_version(
                self.spark, self.gold, version)),
            lambda out: self._matches(out, ("version", version),
                                      lambda: self.states[version]),
        )

    def _changes(self, v_old: int, v_new: int) -> Op:
        return Op(
            "versioned_changes",
            lambda: self._read("changes", lambda: versioned.table_changes(
                self.spark, self.gold, [KEY], v_old, v_new)),
            lambda out: self._matches(out, ("changes", v_old, v_new), lambda: change_feed(
                self.states[v_old], self.states[v_new], v_new)),
        )

    def live_bytes(self) -> float:
        return float(versioned.table_detail(self.gold)["size_bytes"])


def change_feed(old: pa.Table, new: pa.Table, version: int) -> pa.Table:
    """Net change feed between two states keyed by ``KEY``, in the shape
    ``versioned.table_changes`` returns."""
    o = {r[KEY]: r for r in old.to_pylist()}
    n = {r[KEY]: r for r in new.to_pylist()}
    rows = []
    for k in o.keys() | n.keys():
        a, b = o.get(k), n.get(k)
        if a is None:
            rows.append(dict(b, _change_type="insert"))
        elif b is None:
            rows.append(dict(a, _change_type="delete"))
        elif a != b:
            rows.append(dict(a, _change_type="update_preimage"))
            rows.append(dict(b, _change_type="update_postimage"))
    schema = new.schema.append(pa.field("_change_type", pa.string()))
    out = pa.Table.from_pylist(rows, schema=schema)
    return out.append_column("_commit_version", pa.array([version] * len(rows), pa.int64()))
