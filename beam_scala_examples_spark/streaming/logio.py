"""Batch_id-partitioned contribution logs: the one writer and the one
reader every streaming sink uses for them.

The log discipline, stated once here for all sinks:

 - **Write.** Each ``foreachBatch`` call writes its partial under its
   own ``batch_id`` partition with dynamic partition overwrite
   (:func:`write_log_partition`); serving re-aggregates the whole log.
 - **Replay.** Structured Streaming replays at most the latest
   uncommitted batch, with the same rows and the same ``batch_id``.
   The replay's write replaces exactly its own partition, so the log is
   exactly-once under at-least-once delivery.  A sink that derives its
   partial from earlier batches (a registry anti join, a sum of emitted
   deltas, a tripwire) reads the log with ``exclude_batch`` set to its
   own ``batch_id``: anti-joining against a log that already holds your
   own contribution would rewrite an empty partial and silently lose
   rows.  Such a sink materializes the partial (``localCheckpoint``)
   before it overwrites the path the partial was read from.
 - **Empty prefix.** A batch whose partial is empty (no purchase
   events, no hit, no image) still creates the log directory but
   leaves no parquet files in it, and a schema-INFERRING read of a
   file-less directory fails with ``UNABLE_TO_INFER_SCHEMA``.  The
   writer therefore returns the log's schema (partial schema +
   ``batch_id`` as ``bigint``); the sink keeps it and reads with that
   EXPLICIT schema, so a file-less log is the empty relation and every
   downstream aggregate degrades to NULL/empty exactly as the batch
   query would over an empty corpus.  No row-count probe: counting the
   partial would cost one extra job per batch.
 - **First batch.** Before anything is logged the path does not exist
   (and a sink built over an existing log has no schema yet, so its
   read infers one).  :func:`read_log` returns ``None`` for exactly
   these two conditions, ``PATH_NOT_FOUND`` and
   ``UNABLE_TO_INFER_SCHEMA``, meaning "nothing logged yet"; every
   other analysis error propagates.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NOTHING_LOGGED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def write_log_partition(
    df: DataFrame, batch_id: int, path: str
) -> T.StructType:
    """Write one batch's partial under its ``batch_id`` partition
    (dynamic overwrite — replay re-derives exactly its own partition)
    and return the log schema for :func:`read_log`."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )
    return T.StructType(
        list(df.schema.fields)
        + [T.StructField("batch_id", T.LongType())]
    )


def read_log(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """Read the contribution log, without partition ``exclude_batch``
    when it is given; ``None`` when nothing is logged yet.  With the
    ``schema`` :func:`write_log_partition` returned the read is
    inference-free and a file-less log is the empty relation."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        log = reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_LOGGED:
            return None
        raise
    if exclude_batch is not None:
        log = log.filter(F.col("batch_id") != int(exclude_batch))
    return log
