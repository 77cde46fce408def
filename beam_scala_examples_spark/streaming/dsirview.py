"""Ingest-time DSIR: the streaming twin of
``queries/classify.py::sample_dsir_weights`` / ``sample_dsir_resample``.

DSIR's model state is two bucket LMs — pure additive counts — and each
document's feature vector is its own (doc_id, bucket, count) rows, so
the whole operator fits the house contribution-log discipline: per
batch, append the batch's bucket-count partial and its slim doc
registry (doc_id, source, map-only quality label) under the batch's
``batch_id`` partition; serving merges the logs with plain sums and
runs the SAME weight computation the batch query uses
(:func:`~..queries.classify.dsir_weights_from_counts`), so served
weights are equal by construction once the ingest covers the corpus.

The important property for 100 TB: the importance weights of EVERY
ingested document are re-servable at any point of the stream under the
model-so-far — reweighting the corpus after more target data arrives
is a metadata-only pass over the logs, never a re-tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..queries.classify import (
    _DSIR_GUMBEL_SPARK,
    DSIR_SAMPLE_K,
    dsir_bucket_counts,
    dsir_doc_registry,
    dsir_weights_from_counts,
)
from .logio import read_log, write_log_partition


class DsirIngestSink:
    """foreachBatch sink maintaining the DSIR bucket-count and doc
    registry logs over (doc_id, text, source) micro-batches."""

    def __init__(self, base_path: str):
        self.counts_path = f"{base_path}/dsir_counts"
        self.reg_path = f"{base_path}/dsir_reg"
        self._counts_schema: T.StructType | None = None
        self._reg_schema: T.StructType | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._counts_schema = write_log_partition(
            dsir_bucket_counts(batch_df), batch_id, self.counts_path
        )
        self._reg_schema = write_log_partition(
            dsir_doc_registry(batch_df), batch_id, self.reg_path
        )

    def weights(self, spark: SparkSession) -> DataFrame:
        """Importance weights of every ingested doc under the
        model-so-far — equals the batch ``sample_dsir_weights`` over
        the same corpus."""
        bbc = (
            read_log(spark, self.counts_path, self._counts_schema)
            .groupBy("doc_id", "b")
            .agg(F.sum("c").alias("c"))
        )
        reg = read_log(spark, self.reg_path, self._reg_schema).select(
            "doc_id", "source", "label"
        )
        return dsir_weights_from_counts(
            bbc, reg, cache_key=f"sink:{self.counts_path}"
        )

    def resample(self, spark: SparkSession) -> DataFrame:
        """Gumbel-top-K selection over the served weights — equals the
        batch ``sample_dsir_resample`` (same md5 draws)."""
        key = F.col("dsir_logratio") + F.expr(_DSIR_GUMBEL_SPARK)
        return (
            self.weights(spark)
            .select("doc_id", "source", "dsir_logratio", key.alias("gkey"))
            .orderBy(F.desc("gkey"), "doc_id")
            .limit(DSIR_SAMPLE_K)
            .select("doc_id", "source", "dsir_logratio")
        )
