"""SparkSession construction tuned for the medallion engine.

The reference relies on an ambient Databricks session with zero tuning
(SURVEY.md §4: no ``.conf``/``.config(`` call in any of its 11 files).  We
instead centralize a session builder with scale-aware defaults:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  at 100 TB the static partition count is always wrong for some stage.
* Arrow enabled for the Pandas-UDF extension operators.
* UTC session timezone so timestamp-derived columns (``year`` etc.) are
  deterministic regardless of host timezone.
* DataFrame call-site capture off: it costs Py4J round trips on every
  Column call and only adds the Python call site to analysis errors.
* delta-spark extension wired in *if importable*; otherwise the engine's
  parquet-based merge fallback (plans/merge.py) provides MERGE semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every engine session.  Each is safe to override.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark cannot
    # represent (µs max); read as epoch-nanos long and convert explicitly
    # (workload.load_events).  Runtime-settable, so driver-owned sessions
    # can flip it too.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ~10 MB auto-broadcast is Spark's default; keep explicit so the intent
    # (dim tables broadcast, fact tables shuffle) is visible in one place.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # InferFiltersFromGenerate synthesizes a `size(arr) > 0` filter under
    # every explode and pushes it below repartition exchanges — for this
    # engine's text pipelines that re-evaluates the whole shingle/band
    # expression tree on the UN-spread scan partition (and the arrays are
    # non-empty by construction: shingles yield ≥1 gram, band arrays are
    # fixed-length), so the inferred filter is pure recompute with zero
    # pruning value.  Excluding it: decontamination 3.6 → 1.0 s, n-gram
    # Jaccard 5.2 → 2.1 s at sf0.1 local[32]; measured flat-or-better on
    # every other headline query (A/B in-process, best-of-two).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # PySpark 4.x defaults this on: every Column/DataFrame call then walks
    # the Python stack and makes ~10 extra Py4J round trips to record its
    # call site, which only decorates analysis-error messages (the error
    # itself, naming the column, is raised either way).  One medallion
    # change batch (perfbench medallion_cdc, 4 vCPUs) made 5,800 Py4J
    # round trips with it on and 2,500 with it off, 0.5-0.7 s of driver
    # time.  A static conf: ``extra_conf`` overrides it when the session
    # is built.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def delta_available() -> bool:
    """True if the delta-spark package is importable in this environment."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_spark(
    app_name: str = "medallion-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a real cluster pass ``None`` with a configured
    ``spark-submit`` and the ambient master wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if delta_available():
        conf["spark.sql.extensions"] = "io.delta.sql.DeltaSparkSessionExtension"
        conf["spark.sql.catalog.spark_catalog"] = (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
