"""Streaming int8 scalar-quantization index ingest: incremental
maintenance of the SQ8 index (``queries/llmdata.py::sim_sq8_topk`` is
the batch twin) over an arriving embedding stream.

The honest structural difference from the sign-bit sink
(:class:`~.bqview.BqIngestSink`): SQ8's "codebook" — the per-dim
min/max — DRIFTS as vectors arrive, so codes quantized at ingest time
against the then-current stats would disagree with the batch build.
But min/max are MERGEABLE aggregates: each batch logs its per-dim
partial (mn, mx) alongside the raw vectors, and serving merges the
partials into the global stats and quantizes from the logged vectors —
exactly the batch relation, no retrain gate needed (contrast
``ivfretrain.DriftRetrainIvfSink``, whose k-means codebook is NOT
mergeable and needs the PCA-drift trigger).  At scale the serve-time
quantization is one narrow pass; the stats merge is EMB_DIM rows per
batch.

Equal to the batch ``sim_sq8_topk`` once the same vectors are in,
because serving calls the batch stats merge and serve;
replay-idempotent by the dynamic-overwrite contract; empty-prefix-safe
via :mod:`.logio`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.llmdata import _sq8_minmax, _sq8_stats, _sq8_topk
from .logio import read_log, write_log_partition


class Sq8IngestSink:
    """foreachBatch sink maintaining the scalar-quantization index over
    (vec_id, embedding) micro-batches."""

    def __init__(self, log_path: str):
        self.vec_path = f"{log_path}/vectors"
        self.stats_path = f"{log_path}/stats"
        self._vec_schema = None
        self._stats_schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            "vec_id", "embedding", F.expr(ann.NORM).alias("nrm")
        )
        self._vec_schema = write_log_partition(
            rows, batch_id, self.vec_path
        )
        # the batch's min/max PARTIAL per dim — mergeable, EMB_DIM rows
        self._stats_schema = write_log_partition(
            _sq8_minmax(batch_df), batch_id, self.stats_path
        )

    def topk_view(self, spark: SparkSession) -> DataFrame:
        """The batch ``sim_sq8_topk`` relation served from the log: the
        logged partials merge into the global stats (``_sq8_stats``,
        exact because min/max merge exactly) and the logged vectors go
        through the batch serve (``_sq8_topk``)."""
        stats = _sq8_stats(
            read_log(spark, self.stats_path, self._stats_schema)
        )
        vecs = read_log(spark, self.vec_path, self._vec_schema)
        return _sq8_topk(vecs, stats)
