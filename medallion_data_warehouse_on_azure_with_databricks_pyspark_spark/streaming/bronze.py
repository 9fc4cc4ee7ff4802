"""Bronze layer: checkpointed incremental file ingest (SURVEY.md §2.1 S1/S2,
§2.9 ST1-ST4).

Open-source parity for the reference's Auto Loader flow
(``/root/reference/Bronze_Layer.py:20-37``)::

    spark.readStream.format("cloudFiles")
        .option("cloudFiles.format", "parquet")
        .option("cloudFiles.schemaLocation", checkpoint).load(src)
    ...writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", checkpoint).trigger(once=True).start(dst)

OSS Spark's file-stream source provides the same incremental discovery +
exactly-once file-listing log, but requires a schema up front.  We replicate
Auto Loader's behavior with a one-time **schema capture**: batch-sample the
source once, pin the inferred schema as JSON at a ``schemaLocation``
directory we manage, and stream with the pinned schema thereafter
(SURVEY.md §7.4.3).

``_rescued_data`` (Auto Loader parity, ``Bronze_Layer.py:20-23``): at every
stream build we diff the column names in the landed files' parquet footers
against the pin, on the driver and without a Spark job; only when some
file carries a column outside the pin does Spark infer the source's
*current* schema (footer metadata only — no data scan) for the drifted
columns' types.  Columns that appeared after the pin are read alongside
the pinned columns and folded into the ``_rescued_data`` JSON string per
row (NULL when the row carries no drifted fields), then dropped — so
downstream silver ``drop('_rescued_data')`` behaves identically whether or
not the source has drifted, and drifted data is *captured*, not silently
lost.  The pin itself never moves (the declared bronze schema is stable);
promote a rescued field by deleting the pin and re-capturing.  Type
*changes* of pinned columns are out of scope for parquet sources (the
column reader enforces the pinned type; a genuinely incompatible file fails
the batch rather than corrupting rows — the same hard-fail Auto Loader
gives without schema evolution mode).

Run-once semantics: the reference's ``trigger(once=True)`` is deprecated
upstream; ``availableNow=True`` is the recommended equivalent — same
batchified-stream model, but it respects rate limits across multiple
micro-batches, which is the behavior you want when a backfill drops 100 TB
of files into the source prefix at once (pair with ``maxFilesPerTrigger``).
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.silver import RESCUE_COLUMN

SCHEMA_FILE = "_captured_schema.json"


def capture_schema(
    spark: SparkSession, source_dir: str, schema_location: str, fmt: str = "parquet"
) -> T.StructType:
    """ST1 support: pin the source schema (Auto Loader ``schemaLocation``
    parity, ``/root/reference/Bronze_Layer.py:22``).

    First call batch-samples the source and writes the schema JSON; later
    calls read the pin — the stream's schema never drifts under it.  At
    scale this also skips per-start footer inference over huge prefixes.
    """
    os.makedirs(schema_location, exist_ok=True)
    pin = os.path.join(schema_location, SCHEMA_FILE)
    if os.path.exists(pin):
        with open(pin) as fh:
            return T.StructType.fromJson(json.load(fh))
    schema = spark.read.format(fmt).load(source_dir).schema
    with open(pin, "w") as fh:
        json.dump(schema.jsonValue(), fh)
    return schema


def _spark_skips(name: str) -> bool:
    """Spark's file-listing rule: ``_``/``.`` names are hidden (except
    partition directories like ``_k=v`` and the parquet summary files), as
    are in-flight ``._COPYING_`` uploads."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    summary = name.startswith(("_metadata", "_common_metadata"))
    return (hidden and not summary) or name.endswith("._COPYING_")


def _landed_columns(source_dir: str) -> set[str] | None:
    """Top-level column names across every file Spark would read under a
    local parquet ``source_dir`` (footer metadata via pyarrow, partition
    columns from ``k=v`` directories), or None for a non-local path."""
    url = urlparse(source_dir)
    if url.scheme not in ("", "file"):
        return None
    root = url.path if url.scheme else source_dir
    names: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not _spark_skips(d)]
        rel = os.path.relpath(dirpath, root)
        names |= {d.split("=", 1)[0] for d in rel.split(os.sep) if "=" in d}
        for f in filenames:
            if not _spark_skips(f):
                names.update(pq.read_schema(os.path.join(dirpath, f)).names)
    return names


def drifted_fields(
    spark: SparkSession, source_dir: str, pinned: T.StructType, fmt: str = "parquet"
) -> list[T.StructField]:
    """Fields present in the source's *current* schema but not in the pin.

    For a local parquet source the driver first diffs every landed file's
    footer column names against the pin (pyarrow, no Spark job); a
    drift-free source returns ``[]`` right there.  Only when some file
    carries a name outside the pin (or the source is not local parquet)
    does Spark infer the current schema, for the drifted fields' types —
    footer metadata only, with ``mergeSchema`` unioning footers across
    files (without it parquet inference reads a single footer and would
    miss the drift).
    """
    pinned_names = {f.name for f in pinned.fields}
    if fmt == "parquet":
        landed = _landed_columns(source_dir)
        if landed is not None and landed <= pinned_names:
            return []
    reader = spark.read.format(fmt)
    if fmt == "parquet":
        reader = reader.option("mergeSchema", "true")
    current = reader.load(source_dir).schema
    return [f for f in current.fields if f.name not in pinned_names]


def read_stream(
    spark: SparkSession,
    source_dir: str,
    schema_location: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    add_rescue: bool = True,
) -> DataFrame:
    """S1: incremental-discovery file source with pinned schema + rescue col.

    Drifted (post-pin) source columns are captured into ``_rescued_data`` as
    a JSON object per row — Auto Loader parity
    (``/root/reference/Bronze_Layer.py:20-23``) — never silently dropped.
    """
    schema = capture_schema(spark, source_dir, schema_location, fmt)
    extras = drifted_fields(spark, source_dir, schema, fmt) if add_rescue else []
    read_schema = T.StructType(list(schema.fields) + extras)
    reader = spark.readStream.format(fmt).schema(read_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(source_dir)
    if add_rescue:
        if extras:
            names = [f.name for f in extras]
            any_set = F.lit(False)
            for n in names:
                any_set = any_set | F.col(n).isNotNull()
            df = df.withColumn(
                RESCUE_COLUMN,
                F.when(any_set, F.to_json(F.struct(*[F.col(n) for n in names])))
                .otherwise(F.lit(None).cast("string")),
            ).drop(*names)
        else:
            df = df.withColumn(RESCUE_COLUMN, F.lit(None).cast("string"))
    return df


def write_stream(
    df: DataFrame,
    bronze_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """S2/ST2-ST4: append file sink with checkpointed exactly-once semantics
    (``/root/reference/Bronze_Layer.py:32-37``)."""
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", bronze_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest(
    spark: SparkSession,
    source_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """X1-parameterized run-once ingest — the whole ``Bronze_Layer`` notebook
    as one function call (``/root/reference/Bronze_Layer.py:7-37``; widget
    params become arguments).  Blocks until the available data is committed;
    re-running ingests only files the checkpoint hasn't seen (ST2)."""
    schema_location = os.path.join(checkpoint_dir, "_schema")
    df = read_stream(
        spark, source_dir, schema_location, fmt=fmt,
        max_files_per_trigger=max_files_per_trigger,
    )
    query = write_stream(df, bronze_dir, checkpoint_dir, fmt=fmt)
    query.awaitTermination()


def ingest_datasets(
    spark: SparkSession, datasets: list[dict], base_source: str, base_bronze: str,
    base_checkpoint: str,
) -> None:
    """X2: dataset fan-out (``/root/reference/parameters.py:2-19``) — each
    entry ``{"folder_name": ...}`` ingested source→bronze under its folder."""
    for item in datasets:
        folder = item["folder_name"]
        ingest(
            spark,
            os.path.join(base_source, folder),
            os.path.join(base_bronze, folder),
            os.path.join(base_checkpoint, folder),
        )
