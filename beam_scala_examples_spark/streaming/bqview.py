"""Streaming binary-quantization index ingest: incremental maintenance
of the sign-bit index (``queries/llmdata.py::sim_bq_topk`` is the batch
twin) over an arriving embedding stream.

Each arrival is signed ONCE (63 sign bits -> one int64) and appended,
with the vector, under its ``batch_id`` partition — the log IS the
index, exactly the :class:`~.ivfview.IvfIngestSink` posture with the
coarse quantizer replaced by the quantizer-free sign signature (no
training step at all, which is binary quantization's operational
selling point: nothing to retrain under drift).

Serving runs the batch serve function itself over the log: whole-corpus
Hamming ranking on the slim (vec_id, sig) projection — at scale the
16-byte column scan is the entire fast path — then exact-cosine re-rank
of the shortlist from the logged vectors.  Equal to the batch
``sim_bq_topk`` once the same vectors are in, because it is the same
code; replay-idempotent by the dynamic-overwrite contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.llmdata import _bq_index, _bq_topk
from .logio import read_log, write_log_partition


class BqIngestSink:
    """foreachBatch sink maintaining the sign-bit vector index over
    (vec_id, embedding) micro-batches."""

    def __init__(self, log_path: str):
        self.log_path = log_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = _bq_index(
            batch_df.select(
                "vec_id", "embedding", F.expr(ann.NORM).alias("nrm")
            )
        )
        self._schema = write_log_partition(rows, batch_id, self.log_path)

    def topk_view(self, spark: SparkSession) -> DataFrame:
        """The batch ``sim_bq_topk`` relation served from the log: the
        logged index handed to the batch serve (``_bq_topk``)."""
        return _bq_topk(read_log(spark, self.log_path, self._schema))
