"""Ingest-time Naive Bayes training: the streaming twin of
``queries/classify.py::text_quality_nb_classify``.

NB training IS an additive sketch — the model is two count relations,
``(label, f, cnt)`` and ``(label, n_docs, n_feats)``, and the partials
over disjoint micro-batches sum to the partials over their union.  So
the :mod:`.logio` contribution-log discipline applies verbatim: each
batch logs its own map-side-combined partials, and serving is one
sum-merge plus the shared sparse scorer
(:func:`~..queries.classify.nb_classify_from_model`).

This is the 100 TB classifier-training story: the "training pass" over
the corpus is a streaming aggregation with bounded state (vocab ×
labels), never a collected dataset, and the model is queryable between
batches at any point of the ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..queries.classify import nb_classify_from_model, nb_partials
from .logio import read_log, write_log_partition


class NbIngestSink:
    """foreachBatch sink maintaining the NB model's contribution logs
    over (doc_id, text) micro-batches; labels are derived per batch by
    the map-only quality rule (no corpus state needed to label)."""

    def __init__(self, base_path: str):
        self.counts_path = f"{base_path}/nb_counts"
        self.cls_path = f"{base_path}/nb_cls"
        self._counts_schema: T.StructType | None = None
        self._cls_schema: T.StructType | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        counts, cls = nb_partials(batch_df)
        self._counts_schema = write_log_partition(
            counts, batch_id, self.counts_path
        )
        self._cls_schema = write_log_partition(cls, batch_id, self.cls_path)

    def model(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        """The merged model: plain sums over the logs — identical to
        the batch partials over every ingested doc."""
        counts = (
            read_log(spark, self.counts_path, self._counts_schema)
            .groupBy("label", "f")
            .agg(F.sum("cnt").alias("cnt"))
        )
        cls = (
            read_log(spark, self.cls_path, self._cls_schema)
            .groupBy("label")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_feats").alias("n_feats"),
            )
        )
        return counts, cls

    def classify(
        self, spark: SparkSession, eval_docs: DataFrame
    ) -> DataFrame:
        """Score an eval relation against the model-so-far with the
        SAME sparse scorer the batch query uses — served predictions
        are pinned equal to the batch classifier once the ingest covers
        the batch train split."""
        counts, cls = self.model(spark)
        return nb_classify_from_model(counts, cls, eval_docs)
