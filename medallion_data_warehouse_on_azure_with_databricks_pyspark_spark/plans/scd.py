"""Slowly-changing-dimension machinery (SURVEY.md §2.8 M1/M2/M4/M5).

SCD Type 1 mirrors ``/root/reference/Gold_Customers.py:30-97``: attribute
hash change-detection (F7), surrogate keys (F8), audit columns
(``created_date``/``updated_date``/``change_type``), initial-load vs merge
branch (M4).

SCD Type 2 implements the **corrected two-phase semantics**: the reference's
single MERGE (``/root/reference/Gold_Products_No_Delta_Live.py:69-95``) can
only expire a changed row — the replacement version is never inserted in the
same pass because the changed source row *matches* the current target row
(SURVEY §7.4.1; it also computes a latest-version ``rn`` it never filters,
``:74``).  Here: phase A expires, phase B inserts the new versions, one
output state.

Determinism hooks (SURVEY §7.4.2): ``now`` may be pinned to a literal
timestamp and ``skey`` to a deterministic expression so the whole dimension
state is oracle-checkable; production defaults are ``current_timestamp()``
and ``monotonically_increasing_id()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import change_hash
from ..operators.windows import latest_per_key
from .merge import merge_dataframes, s, t

HASH_COL = "hash_value"


def _now(now: Column | str | None) -> Column:
    if now is None:
        return F.current_timestamp()
    return F.lit(now).cast("timestamp") if isinstance(now, str) else now


def _skey(skey: Column | None) -> Column:
    return F.monotonically_increasing_id() if skey is None else skey


def prepare_source(source: DataFrame, attrs: list[str], keys: list[str]) -> DataFrame:
    """Attach the F7 change-detection hash over tracked attributes
    (``/root/reference/Gold_Customers.py:36-48``)."""
    return change_hash(source.select(*keys, *attrs), attrs, out=HASH_COL)


# ---------------------------------------------------------------------------
# SCD Type 1  (M1)
# ---------------------------------------------------------------------------

def scd1_initial(
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    skey_col: str,
    now: Column | str | None = None,
    skey: Column | None = None,
) -> DataFrame:
    """M4 initial load (``/root/reference/Gold_Customers.py:55-68``)."""
    ts = _now(now)
    return (
        prepare_source(source, attrs, keys)
        .withColumn(skey_col, _skey(skey))
        .withColumn("created_date", ts)
        .withColumn("updated_date", ts)
        .withColumn("change_type", F.lit("I"))
    )


def scd1_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    skey_col: str,
    now: Column | str | None = None,
    skey: Column | None = None,
) -> DataFrame:
    """M1: Type-1 upsert — overwrite attributes in place on hash change.

    Parity with ``/root/reference/Gold_Customers.py:75-97``: WHEN MATCHED AND
    ``t.hash != s.hash`` → UPDATE attrs/hash + ``updated_date=now``,
    ``change_type='U'``; WHEN NOT MATCHED → INSERT with fresh surrogate key +
    ``change_type='I'``.  (The reference merges ON a composite of key+names;
    we take any key list.)
    """
    src = prepare_source(source, attrs, keys)
    ts = _now(now)
    update_set: dict[str, Column] = {c: s(c) for c in (*attrs, HASH_COL)}
    update_set |= {"updated_date": ts, "change_type": F.lit("U")}
    insert_values: dict[str, Column] = {c: s(c) for c in (*keys, *attrs, HASH_COL)}
    insert_values |= {
        skey_col: _skey(skey),
        "created_date": ts,
        "updated_date": ts,
        "change_type": F.lit("I"),
    }
    return merge_dataframes(
        target,
        src,
        keys,
        update_condition=t(HASH_COL) != s(HASH_COL),
        update_set=update_set,
        insert_values=insert_values,
    )


# ---------------------------------------------------------------------------
# SCD Type 2  (M2, corrected two-phase)
# ---------------------------------------------------------------------------

def scd2_initial(
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    now: Column | str | None = None,
) -> DataFrame:
    """M4 initial load (``/root/reference/Gold_Products_No_Delta_Live.py:41-59``)."""
    ts = _now(now)
    return (
        prepare_source(source, attrs, keys)
        .withColumn("effective_start_date", ts)
        .withColumn("effective_end_date", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    now: Column | str | None = None,
) -> DataFrame:
    """M2 corrected: two-phase SCD Type 2.

    Phase A (the part the reference's single MERGE does,
    ``/root/reference/Gold_Products_No_Delta_Live.py:69-95``): current target
    rows whose hash changed are expired (``is_current=false``,
    ``effective_end_date=now``).  Phase B (the part it misses): the changed
    versions AND brand-new keys are appended as current rows.

    One shuffle for the expire-join (or zero with the broadcast source), one
    for the changed-key semi-join; history rows pass through untouched —
    at scale, pair with a storage layout partitioned on ``is_current`` so
    the history partition is never rewritten.
    """
    src = prepare_source(source, attrs, keys)
    ts = _now(now)
    current = target.filter(F.col("is_current"))
    history = target.filter(~F.col("is_current"))

    # Phase A: expire changed current rows (UPDATE-only merge → left join).
    expired_state = merge_dataframes(
        current,
        src,
        keys,
        update_condition=t(HASH_COL) != s(HASH_COL),
        update_set={
            "is_current": F.lit(False),
            "effective_end_date": ts,
        },
    )

    # Phase B: insert new versions — changed keys + never-seen keys.
    changed_or_new = src.alias("s").join(
        current.select(*keys, HASH_COL).alias("t"), keys, "left_outer"
    ).filter(
        F.col(f"t.{HASH_COL}").isNull() | (F.col(f"s.{HASH_COL}") != F.col(f"t.{HASH_COL}"))
    ).select("s.*")
    inserts = (
        changed_or_new
        .withColumn("effective_start_date", ts)
        .withColumn("effective_end_date", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )

    cols = target.columns
    return history.select(*cols).unionByName(
        expired_state.select(*cols)
    ).unionByName(inserts.select(*cols))


# ---------------------------------------------------------------------------
# Declarative CDC  (M5: DLT apply_changes parity)
# ---------------------------------------------------------------------------

def apply_changes(
    target: DataFrame | None,
    source: DataFrame,
    keys: list[str],
    sequence_by: str,
    stored_as_scd_type: int = 2,
    track_history_column_list: list[str] | None = None,
    skey_col: str = "dim_skey",
    now: Column | str | None = None,
    skey: Column | None = None,
    apply_as_deletes: Column | str | None = None,
) -> DataFrame:
    """M5: ``dlt.apply_changes`` equivalent
    (``/root/reference/Gold_Products.py:98-105``).

    Deduplicates the change feed to the latest row per key by ``sequence_by``
    (the W5-corrected pick — the reference computes but never applies this
    filter), then routes to SCD1 or two-phase SCD2.  ``target=None`` means
    initial load.  Since r14 the pick runs the ``max_by`` agg strategy
    (``operators/windows.py::latest_per_key`` default): a whale key in
    the CDC feed collapses map-side before the shuffle instead of
    serializing through one task's window sort — the plan carries no
    Window operator (pinned in ``tests/test_merge_scd.py``).  Note the
    DIRECT scd1_merge/scd2_merge entry points (the ``scd1_customer_dim``
    / ``scd2_part_dim`` driver lanes) take a key-unique source by
    contract and never route through this pick at all.

    Against a standing ``target`` the picked feed is evaluated ONCE,
    inside this call, into a driver-local relation: the merge consumes
    it up to three times (expire join, insert join, delete keys), and a
    lazy feed would re-run the pick for each.  The feed is broadcast by
    the merge anyway, so it already fits on the driver, and nothing
    outlives the returned frame.  The initial load (``target=None``)
    consumes the feed once and stays lazy.

    ``apply_as_deletes`` (DLT parity — the reference's API surface accepts
    it at ``Gold_Products.py:98-105`` but leaves it unused) marks change
    rows matching the predicate as DELETE events.  Latest-wins per key
    applies first, so a key whose newest event is a delete is deleted and
    a delete followed by a newer upsert is a reinsert.  A deleted key's
    current SCD2 row is expired (``is_current=false``,
    ``effective_end_date=now``) with NO successor inserted — history rows
    are kept; under SCD1 the key's row is removed from the dimension.
    A later upsert re-creates the key as a brand-new current row.
    """
    if stored_as_scd_type not in (1, 2):
        raise ValueError(f"unsupported SCD type: {stored_as_scd_type}")
    attrs = track_history_column_list or [
        c
        for c in source.columns
        if c not in keys and c != sequence_by
    ]
    latest = latest_per_key(source, keys, sequence_by)
    if target is not None:
        # one partition, as adaptive execution coalesces a small aggregate:
        # the inserts land in one file, each broadcast is a one-task job
        latest = source.sparkSession.createDataFrame(
            latest.toArrow(), latest.schema
        ).coalesce(1)
    deletes = None
    if apply_as_deletes is not None:
        cond = (
            F.expr(apply_as_deletes)
            if isinstance(apply_as_deletes, str)
            else apply_as_deletes
        )
        deletes = latest.filter(cond).select(*keys)
        latest = latest.filter(~cond)
    if stored_as_scd_type == 1:
        if target is None:
            out = scd1_initial(latest, keys, attrs, skey_col, now=now, skey=skey)
        else:
            out = scd1_merge(
                target, latest, keys, attrs, skey_col, now=now, skey=skey
            )
        if deletes is not None:
            out = out.join(deletes, keys, "left_anti")
        return out
    if target is None:
        # initial load: keys whose newest event is a delete never enter
        return scd2_initial(latest, keys, attrs, now=now)
    out = scd2_merge(target, latest, keys, attrs, now=now)
    if deletes is not None:
        out = _scd2_expire_deleted(out, deletes, keys, now=now)
    return out


def _scd2_expire_deleted(
    state: DataFrame,
    deleted_keys: DataFrame,
    keys: list[str],
    now: Column | str | None = None,
) -> DataFrame:
    """Expire the current SCD2 row of every key in ``deleted_keys``
    (no successor row) — history and unrelated keys pass through
    untouched.  One join against the (small, per-batch) delete-key set."""
    ts = _now(now)
    d = deleted_keys.withColumn("__del", F.lit(True))
    hit = F.coalesce(F.col("__del"), F.lit(False)) & F.col("is_current")
    return (
        state.join(F.broadcast(d), keys, "left_outer")
        .withColumn(
            "effective_end_date",
            F.when(hit, ts).otherwise(F.col("effective_end_date")),
        )
        .withColumn(
            "is_current", F.when(hit, F.lit(False)).otherwise(F.col("is_current"))
        )
        .drop("__del")
    )
