"""A fixed plain-PySpark job that measures how fast the host runs Spark
right now.

On a shared host the time of every Spark job rises and falls with the load
other machines put on it, by tens of percent over minutes.  The runner
times this job between passes and reports the operations also as
multiples of it (unit ``x_ref``): an operation's time is divided by the
mean of the two runs that bracket its pass, its CPU by the median CPU of
all the run's reference runs (one run's CPU carries JIT bursts).  The
host's speed cancels; the engine's cost does not, because the job calls
no engine code.  It is made of the kinds of steps the workloads'
operations are made of: small parquet writes with their commits, a
file-stream query run to completion, and reads forced through two
exchanges to Arrow.
"""

from __future__ import annotations

import os
import shutil
import time

import proc

#: rows of each of the ``FILES`` parquet files the job writes
ROWS = 25_000
FILES = 2
KEYS, GROUPS = 1009, 7
#: untimed runs after the workload's set-up, before the first pass
WARM_RUNS = 3


def run_once(spark, path: str) -> tuple[float, float]:
    """(seconds, process-tree CPU seconds) of one run of the job: write
    ``FILES`` parquet files, stream the first through an ``availableNow``
    file-stream query into a sink, then read the others and the sink
    back and force an aggregate joined to another aggregate to Arrow."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    paths = [os.path.join(path, f"part{i}") for i in range(FILES)]
    sink, checkpoint = os.path.join(path, "sink"), os.path.join(path, "checkpoint")
    for d in (sink, checkpoint):
        shutil.rmtree(d, ignore_errors=True)
    cpu0 = proc.cpu_snapshot()
    t0 = time.perf_counter()
    for i, p in enumerate(paths):
        spark.range(i * ROWS, (i + 1) * ROWS, 1, n).selectExpr(
            f"id % {KEYS} AS k", f"id % {GROUPS} AS g", "(id * 7919) % 1000 AS v",
        ).write.mode("overwrite").parquet(p)
    schema = spark.read.parquet(paths[0]).schema
    spark.readStream.schema(schema).parquet(paths[0]).writeStream.format("parquet") \
        .option("checkpointLocation", checkpoint).trigger(availableNow=True) \
        .start(sink).awaitTermination()
    df = spark.read.parquet(*paths[1:], sink)
    out = df.groupBy("k", "g").agg(F.sum("v").alias("s")).join(
        df.groupBy("k").count(), "k").toArrow()
    wall = time.perf_counter() - t0
    cpu = sum(proc.cpu_delta(cpu0, proc.cpu_snapshot()).values())
    if out.num_rows != KEYS * GROUPS:
        raise RuntimeError(f"reference job returned {out.num_rows} rows")
    return wall, cpu
