"""Unit tests for the MERGE engine and SCD machinery — semantics + idempotence
(SURVEY.md §5: merge operators run twice must converge)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
    merge,
    scd,
)

T1 = "2024-01-01 00:00:00"
T2 = "2024-02-01 00:00:00"


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_merge_update_insert_noop(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
    )
    source = spark.createDataFrame(
        [(2, "B"), (3, "c"), (4, "d")], "k int, v string"
    )
    out = merge.merge_dataframes(
        target,
        source,
        ["k"],
        update_condition=merge.t("v") != merge.s("v"),
        update_set={"v": merge.s("v")},
        insert_values={"k": merge.s("k"), "v": merge.s("v"), "n": F.lit(0)},
    )
    assert _rows(out, "k", "v", "n") == [
        (1, "a", 10),   # untouched
        (2, "B", 20),   # updated (n kept)
        (3, "c", 30),   # matched, condition false → no-op
        (4, "d", 0),    # inserted
    ]


def test_merge_without_insert_clause_ignores_source_only(spark):
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(1, "A"), (9, "z")], "k int, v string")
    out = merge.merge_dataframes(
        target, source, ["k"], update_set={"v": merge.s("v")}
    )
    assert _rows(out, "k", "v") == [(1, "A")]


def test_merge_delete_condition(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(1, "DEL"), (2, "keep")], "k int, v string")
    out = merge.merge_dataframes(
        target,
        source,
        ["k"],
        delete_condition=merge.s("v") == F.lit("DEL"),
        update_set={"v": merge.s("v")},
    )
    assert _rows(out, "k", "v") == [(2, "keep")]


def test_merge_null_delete_condition_falls_through_to_update(spark):
    """SQL MERGE treats a NULL clause condition as 'not true': a matched row
    whose delete condition evaluates NULL must fall through to the UPDATE
    clause, not be dropped (ADVICE r3: ~(matched & NULL) is NULL and filter()
    would silently delete the row)."""
    target = spark.createDataFrame(
        [(1, "x", "old"), (2, None, "old"), (3, "y", "old")],
        "k int, flag string, v string",
    )
    source = spark.createDataFrame(
        [(1, "new1"), (2, "new2"), (3, "new3")], "k int, v string"
    )
    out = merge.merge_dataframes(
        target,
        source,
        ["k"],
        delete_condition=merge.t("flag") == F.lit("x"),
        update_set={"v": merge.s("v")},
    )
    # k=1: flag='x' → deleted.  k=2: flag NULL → condition NULL = not true →
    # UPDATE.  k=3: condition false → UPDATE.
    assert _rows(out, "k", "v") == [(2, "new2"), (3, "new3")]


def test_assert_unique_source_raises(spark):
    source = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    import pytest

    with pytest.raises(ValueError, match="duplicate keys"):
        merge.assert_unique_source(source, ["k"])


def test_scd1_merge_and_idempotence(spark):
    src0 = spark.createDataFrame(
        [(1, "ann", "NY"), (2, "bob", "LA")], "id int, name string, city string"
    )
    dim = scd.scd1_initial(src0, ["id"], ["name", "city"], "skey",
                           now=T1, skey=F.col("id"))
    src1 = spark.createDataFrame(
        [(1, "ann", "SF"), (3, "eve", "TX")], "id int, name string, city string"
    )
    dim1 = scd.scd1_merge(dim, src1, ["id"], ["name", "city"], "skey",
                          now=T2, skey=merge.s("id"))
    got = _rows(dim1, "id", "name", "city", "change_type")
    assert got == [(1, "ann", "SF", "U"), (2, "bob", "LA", "I"), (3, "eve", "TX", "I")]
    # run the same batch again → no-op (hashes equal)
    dim2 = scd.scd1_merge(dim1, src1, ["id"], ["name", "city"], "skey",
                          now="2024-03-01 00:00:00", skey=merge.s("id"))
    assert _rows(dim2, "id", "name", "city", "change_type", "updated_date") == _rows(
        dim1, "id", "name", "city", "change_type", "updated_date"
    )


def test_scd2_two_phase_and_idempotence(spark):
    src0 = spark.createDataFrame(
        [(1, 9.99), (2, 5.00)], "pid int, price double"
    )
    dim = scd.scd2_initial(src0, ["pid"], ["price"], now=T1)
    src1 = spark.createDataFrame(
        [(1, 12.49), (2, 5.00), (3, 1.25)], "pid int, price double"
    )
    dim1 = scd.scd2_merge(dim, src1, ["pid"], ["price"], now=T2)
    got = _rows(dim1, "pid", "price", "is_current")
    # pid 1: expired 9.99 + current 12.49; pid 2 unchanged; pid 3 new.
    assert got == [
        (1, 9.99, False), (1, 12.49, True), (2, 5.0, True), (3, 1.25, True),
    ]
    ends = {
        (r["pid"], r["is_current"]): r["effective_end_date"]
        for r in dim1.collect()
    }
    assert ends[(1, False)] is not None and ends[(1, True)] is None
    # same batch again → identical state
    dim2 = scd.scd2_merge(dim1, src1, ["pid"], ["price"], now="2024-03-01 00:00:00")
    assert _rows(dim2, "pid", "price", "is_current") == got


def test_apply_changes_dedupes_by_sequence(spark):
    feed = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "x", 1)],
        "id int, v string, seq int",
    )
    dim = scd.apply_changes(None, feed, ["id"], "seq", stored_as_scd_type=2, now=T1)
    assert _rows(dim, "id", "v", "is_current") == [(1, "new", True), (2, "x", True)]
    feed2 = spark.createDataFrame(
        [(1, "newer", 3), (1, "stale", 0)], "id int, v string, seq int"
    )
    dim2 = scd.apply_changes(dim, feed2, ["id"], "seq", stored_as_scd_type=2, now=T2)
    assert _rows(dim2, "id", "v", "is_current") == [
        (1, "new", False), (1, "newer", True), (2, "x", True),
    ]


def test_apply_changes_w5_pick_plans_no_window(spark):
    """VERDICT r13 ask #5: the latest-per-key pick inside apply_changes
    runs the max_by agg strategy by default since r14 — the physical
    plan must carry map-side partial_max_by and NO Window operator, so
    a whale key in the CDC feed collapses before the shuffle instead of
    serializing through one task's window sort."""
    feed = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "x", 1)],
        "id int, v string, seq int",
    )
    dim = scd.apply_changes(None, feed, ["id"], "seq", stored_as_scd_type=2, now=T1)
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert "Window" not in plan


@pytest.mark.parametrize("scd_type", [1, 2])
def test_apply_changes_merge_evaluates_feed_once(spark, scd_type):
    """Against a standing dimension the merge consumes the picked feed up
    to three times (expire join, insert join, delete keys); the pick must
    run exactly once, inside the call, and the merge plan must re-read
    its rows instead of re-aggregating.  The initial load stays lazy."""
    from tests.conftest import spark_jobs

    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def counted(seq):
        evaluated.add(1)
        return seq

    events = [(1, "a0", 1, "U"), (1, "a1", 2, "U"), (2, "b1", 1, "U"),
              (3, "gone", 1, "D"), (4, "d", 1, "U")]
    feed = spark.createDataFrame(
        events, "id int, v string, seq int, op string"
    ).withColumn("seq", counted("seq"))
    kw = dict(keys=["id"], sequence_by="seq", stored_as_scd_type=scd_type,
              track_history_column_list=["v"], apply_as_deletes="op = 'D'")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    target = (
        scd.scd1_initial(base, ["id"], ["v"], "dim_skey", now=T1, skey=F.col("id"))
        if scd_type == 1 else scd.scd2_initial(base, ["id"], ["v"], now=T1)
    )

    with spark_jobs(spark) as initial_jobs:
        scd.apply_changes(None, feed, now=T1, **kw)
    assert initial_jobs == []  # the initial load plans lazily

    with spark_jobs(spark) as merge_jobs:
        out = scd.apply_changes(target, feed, now=T2, **kw)
    assert merge_jobs and evaluated.value == len(events)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan
    got = _rows(out, "id", "v")
    assert evaluated.value == len(events)  # executing the merge re-ran nothing
    if scd_type == 1:
        assert got == [(1, "a1"), (2, "b1"), (4, "d")]
    else:
        assert got == [(1, "a"), (1, "a1"), (2, "b"), (2, "b1"), (3, "c"), (4, "d")]


def test_apply_changes_refuses_unknown_scd_type_before_any_job(spark):
    from tests.conftest import spark_jobs

    feed = spark.createDataFrame([(1, "a", 1)], "id int, v string, seq int")
    target = scd.scd2_initial(feed, ["id"], ["v"], now=T1)
    with spark_jobs(spark) as jobs:
        with pytest.raises(ValueError, match="unsupported SCD type"):
            scd.apply_changes(target, feed, ["id"], "seq", stored_as_scd_type=3)
    assert jobs == []


T3 = "2024-03-01 00:00:00"


def test_scd2_state_roundtrip_through_storage(spark, tmp_path, storage_backend):
    """The SCD2 lifecycle with its state PERSISTED between runs through
    the active storage backend (overwrite_path + format-matched read):
    the merge math must be backend-independent, and the written state
    must carry the backend's layout.  Parametrized over parquet/delta —
    the delta case skip-gates here and proves the lane the day an
    environment provides delta-spark."""
    from tests.conftest import assert_storage_layout

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        readers,
        writers,
    )

    loc = str(tmp_path / "dim")
    initial = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string"
    )
    writers.overwrite_path(
        scd.scd2_initial(initial, ["id"], ["v"], now=T1), loc
    )
    assert_storage_layout(loc, storage_backend)

    state = readers.read_delta(spark, loc)
    batch = spark.createDataFrame([(1, "a2"), (3, "c")], "id int, v string")
    writers.overwrite_path(
        scd.scd2_merge(
            state, batch, ["id"], ["v"], now=T2
        ).localCheckpoint(eager=True),  # break lineage: don't read files
        loc,                            # the overwrite is replacing
    )
    final = readers.read_delta(spark, loc)
    assert _rows(final, "id", "v", "is_current") == [
        (1, "a", False), (1, "a2", True), (2, "b", True), (3, "c", True),
    ]
    assert_storage_layout(loc, storage_backend)


def test_apply_changes_deletes_scd2(spark):
    """apply_as_deletes (DLT parity): a key whose newest event is a delete
    has its current row expired with NO successor; latest-wins applies
    before the delete split; a later upsert reinserts the key fresh; the
    whole fold is idempotent."""
    kw = dict(
        keys=["id"], sequence_by="seq", stored_as_scd_type=2,
        track_history_column_list=["v"], apply_as_deletes="op = 'D'",
    )
    feed = spark.createDataFrame(
        [(1, "a", 1, "U"), (2, "b", 1, "U"), (3, "c", 1, "U"),
         (4, "never-lands", 1, "D")],
        "id int, v string, seq int, op string",
    )
    dim = scd.apply_changes(None, feed, now=T1, **kw)
    # initial load: a key whose newest event is a delete never enters
    assert _rows(dim, "id", "v", "is_current") == [
        (1, "a", True), (2, "b", True), (3, "c", True),
    ]

    feed2 = spark.createDataFrame(
        [(1, "a", 2, "D"), (1, "a9", 3, "U"),   # delete superseded by upsert
         (2, "b2", 2, "U"),                     # plain change
         (3, "c", 2, "D")],                     # delete wins
        "id int, v string, seq int, op string",
    )
    dim2 = scd.apply_changes(dim, feed2, now=T2, **kw)
    assert _rows(dim2, "id", "v", "is_current") == [
        (1, "a", False), (1, "a9", True),
        (2, "b", False), (2, "b2", True),
        (3, "c", False),                        # expired, no successor
    ]
    ends = {
        (r["id"], r["v"]): r["effective_end_date"] for r in dim2.collect()
    }
    assert ends[(3, "c")] is not None and ends[(1, "a9")] is None

    # delete-then-reinsert across runs: id 3 comes back as a NEW current row
    feed3 = spark.createDataFrame(
        [(3, "c3", 4, "U")], "id int, v string, seq int, op string"
    )
    dim3 = scd.apply_changes(dim2, feed3, now=T3, **kw)
    assert _rows(dim3, "id", "v", "is_current") == [
        (1, "a", False), (1, "a9", True),
        (2, "b", False), (2, "b2", True),
        (3, "c", False), (3, "c3", True),
    ]
    starts = {
        (r["id"], r["v"]): r["effective_start_date"] for r in dim3.collect()
    }
    assert str(starts[(3, "c3")]).startswith("2024-03-01")

    # idempotence: the same feed folded again changes nothing
    dim4 = scd.apply_changes(dim3, feed3, now="2024-04-01 00:00:00", **kw)
    assert sorted(map(tuple, dim4.collect())) == sorted(
        map(tuple, dim3.collect())
    )


def test_apply_changes_deletes_scd1(spark):
    """Under SCD1 a delete removes the key's row from the dimension."""
    kw = dict(
        keys=["id"], sequence_by="seq", stored_as_scd_type=1,
        track_history_column_list=["v"], apply_as_deletes="op = 'D'",
    )
    feed = spark.createDataFrame(
        [(1, "a", 1, "U"), (2, "b", 1, "U")],
        "id int, v string, seq int, op string",
    )
    d = scd.apply_changes(None, feed, now=T1, **kw)
    feed2 = spark.createDataFrame(
        [(1, "ignored", 2, "D")], "id int, v string, seq int, op string"
    )
    d2 = scd.apply_changes(d, feed2, now=T2, **kw)
    assert _rows(d2, "id", "v") == [(2, "b")]
    # deleting an absent key is a no-op (idempotent)
    d3 = scd.apply_changes(d2, feed2, now=T3, **kw)
    assert _rows(d3, "id", "v") == [(2, "b")]


def test_merge_schema_evolution_appends_source_columns(spark):
    """Delta autoMerge parity: with schema_evolution=True a new source
    column is appended — updated rows take the source value, inserted rows
    carry it, untouched target rows backfill NULL; with the default
    (False) the output schema is exactly the target's."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
        merge as M,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B", "t2"), (4, "D", "t4")], "id long, v string, tier string"
    )
    out = M.merge_dataframes(
        target, source, keys=["id"],
        update_set={"v": M.s("v")},
        insert_values={"v": M.s("v")},
        schema_evolution=True,
    )
    assert out.columns == ["id", "v", "tier"]
    rows = {r["id"]: (r["v"], r["tier"]) for r in out.collect()}
    assert rows == {
        1: ("a", None),    # untouched target: NULL backfill
        2: ("B", "t2"),    # updated: source value
        3: ("c", None),
        4: ("D", "t4"),    # inserted: source value
    }
    # default: source-only columns dropped, schema unchanged
    flat = M.merge_dataframes(
        target, source, keys=["id"],
        update_set={"v": M.s("v")}, insert_values={"v": M.s("v")},
    )
    assert flat.columns == ["id", "v"]


def test_merge_schema_evolution_update_set_overrides_evolved_default(spark):
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
        merge as M,
    )

    target = spark.createDataFrame([(1, "a")], "id long, v string")
    source = spark.createDataFrame([(1, "A", 9)], "id long, v string, n int")
    out = M.merge_dataframes(
        target, source, keys=["id"],
        update_set={"v": M.s("v"), "n": F.lit(-1)},
        schema_evolution=True,
    )
    assert {tuple(r) for r in out.collect()} == {(1, "A", -1)}
