"""Catalog DDL surface (SURVEY §2.1 S12-S17) + the golden end-to-end
medallion lifecycle: source → bronze stream → silver cleanse → gold dims +
fact → catalog registration → post-write verification (the reference's
full notebook flow, minus Databricks)."""

from __future__ import annotations

import pytest

import shutil

from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    silver,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
    facts,
    scd,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    catalog,
    writers,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
    bronze,
)

SF = "/root/testdata/sf0.001"


#: The catalog harness is opt-in (pytest.ini ``slow``); the golden
#: medallion flow at sf0.001 stays in the default tier as its smoke test.
slow = pytest.mark.slow


@slow
def test_catalog_ddl_roundtrip(spark, tmp_path, storage_backend):
    from tests.conftest import assert_storage_layout

    df = spark.read.parquet(f"{SF}/region.parquet")
    loc = str(tmp_path / "region_tbl")
    writers.overwrite_path(df, loc)
    assert_storage_layout(loc, storage_backend)

    catalog.create_schema(spark, "bronze_t")
    catalog.register_external_table(spark, "bronze_t.region", loc)
    assert catalog.table_exists(spark, "bronze_t.region")
    assert not catalog.table_exists(spark, "bronze_t.nope")

    # S7: SQL scan through the catalog name.
    n = spark.sql("SELECT count(*) AS n FROM bronze_t.region").collect()[0]["n"]
    assert n == df.count()

    # S17: metadata inspection works in both delta/parquet modes.
    detail = catalog.describe_detail(spark, "bronze_t.region")
    assert detail.count() > 0

    catalog.drop_table(spark, "bronze_t.region")
    assert not catalog.table_exists(spark, "bronze_t.region")


@slow
def test_partitioned_overwrite_prunes(spark, tmp_path, storage_backend):
    from tests.conftest import assert_storage_layout

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        readers,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "year", F.year("o_orderdate")
    )
    loc = str(tmp_path / "orders_part")
    writers.overwrite_path(orders, loc, partition_by=["year"])
    assert_storage_layout(loc, storage_backend)
    back = readers.read_delta(spark, loc)  # format-matched path scan
    assert back.count() == orders.count()
    one_year = back.filter(F.col("year") == 1995)
    if storage_backend == "parquet":
        # partition pruning: the partition-key filter lands in
        # PartitionFilters, so the scan touches one directory (the delta
        # scan node renders pruning differently; row counts below cover it)
        plan = one_year._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "1995" in plan.split("PartitionFilters")[1][:200]
    assert one_year.count() == orders.filter(F.col("year") == 1995).count()
    # overwrite is atomic-swap (parquet) / transactional (delta): a second
    # overwrite fully replaces and leaves no stage/old dirs
    writers.overwrite_path(orders.limit(10), loc, partition_by=["year"])
    assert readers.read_delta(spark, loc).count() == 10
    leftovers = [p for p in tmp_path.iterdir() if "__stage" in p.name or "__old" in p.name]
    assert not leftovers


def test_medallion_end_to_end(spark, tmp_path, storage_backend):
    # --- source: one file dropped by an upstream producer
    src = tmp_path / "source" / "customer"
    src.mkdir(parents=True)
    shutil.copy(f"{SF}/customer.parquet", src / "part-000.parquet")

    # --- bronze: checkpointed streaming ingest with rescue column
    bdir, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    bronze.ingest(spark, str(src), bdir, ckpt)
    bronze_df = spark.read.parquet(bdir)
    assert "_rescued_data" in bronze_df.columns

    # --- silver: cleanse + derive (reference Silver_Customers flow)
    silver_df = silver.clean_columns(bronze_df)
    silver_df = silver.concat_columns(
        silver_df, "fullname", F.col("c_name"), F.lit(" "), F.col("c_mktsegment")
    )
    silver_loc = str(tmp_path / "silver" / "customers")
    writers.overwrite_path(silver_df, silver_loc)
    catalog.create_schema(spark, "silver_t")
    catalog.register_external_table(spark, "silver_t.customers", silver_loc)
    from tests.conftest import assert_storage_layout

    assert_storage_layout(silver_loc, storage_backend)

    # --- gold: SCD1 dim (initial load branch M4) + fact enrichment + upsert
    dim_src = spark.table("silver_t.customers").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dim = scd.scd1_initial(
        dim_src, ["c_custkey"], ["c_name", "c_mktsegment"], "customer_skey",
        now="2024-01-01 00:00:00", skey=F.col("c_custkey"),
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    fact = facts.build_fact(
        orders, [(dim.select("c_custkey", "customer_skey"), "c_custkey")],
        now="2024-01-01 00:00:00",
    )
    gold_loc = str(tmp_path / "gold" / "order_fact")
    writers.overwrite_path(fact, gold_loc)
    catalog.create_schema(spark, "gold_t")
    catalog.register_external_table(spark, "gold_t.order_fact", gold_loc)

    # --- post-write verification (reference Gold_*.py tail queries)
    out = spark.sql(
        "SELECT count(*) AS n, count(customer_skey) AS with_dim "
        "FROM gold_t.order_fact"
    ).collect()[0]
    assert out["n"] == orders.count()
    assert out["with_dim"] == out["n"]  # every order resolved its dim key
    for t in ("silver_t.customers", "gold_t.order_fact"):
        catalog.drop_table(spark, t)


@slow
def test_compact_path_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must shrink file count to the byte-derived target and
    keep row content byte-identical (layout-only operation)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        writers,
    )

    path = str(tmp_path / "frag")
    # 40 tiny appends -> 40+ small files (a streaming-sink shape)
    for i in range(40):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    import os

    before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert before >= 40
    rows_before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    written = writers.compact_path(spark, path, target_file_mb=128)
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert written == after == 1  # 400 tiny rows << 128 MB -> one file
    rows_after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before


@slow
def test_compact_path_preserves_hive_partitioning(spark, tmp_path):
    """Compacting a hive-partitioned directory WITHOUT an explicit
    partition_by must keep the key=value layout (directory pruning), not
    flatten the partition columns into the data files (ADVICE r6)."""
    import os

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        writers,
    )

    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(60)], "id long, pid int, s string"
    )
    # several appends per partition -> many small files under each pid=
    for _ in range(5):
        df.write.mode("append").partitionBy("pid").parquet(path)
    rows_before = sorted(
        (r["id"], r["pid"], r["s"])
        for r in spark.read.parquet(path).collect()
    )

    writers.compact_path(spark, path, target_file_mb=128)
    subdirs = sorted(d for d in os.listdir(path) if not d.startswith((".", "_")))
    assert subdirs == ["pid=0", "pid=1", "pid=2"], subdirs
    rows_after = sorted(
        (r["id"], r["pid"], r["s"])
        for r in spark.read.parquet(path).collect()
    )
    assert rows_after == rows_before
    # partition pruning still works: pid reaches the scan as a partition
    # filter (inputFiles() ignores pruning, so check the physical plan)
    plan = (
        spark.read.parquet(path)
        .filter("pid = 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "pid" in plan.split(
        "PartitionFilters"
    )[1][:120], plan
