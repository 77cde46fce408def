"""Streaming binary-quantization index ingest: incremental maintenance
of the sign-bit index (``queries/llmdata.py::sim_bq_topk`` is the batch
twin) over an arriving embedding stream.

Each arrival is signed ONCE (63 sign bits -> one int64) and appended,
with the vector, under its ``batch_id`` partition — the log IS the
index, exactly the :class:`~.ivfview.IvfIngestSink` posture with the
coarse quantizer replaced by the quantizer-free sign signature (no
training step at all, which is binary quantization's operational
selling point: nothing to retrain under drift).

Serving replays the batch pipeline over the log: whole-corpus Hamming
ranking on the slim (vec_id, sig) projection — at scale the 16-byte
column scan is the entire fast path — then exact-cosine re-rank of the
shortlist from the logged vectors.  Pinned EXACTLY equal to the batch
``sim_bq_topk`` once the same vectors are in; replay-idempotent by the
dynamic-overwrite contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.topk import top_k_per_key
from ..queries.llmdata import (
    _SPARK_BQ_SIG,
    _SPARK_DOT,
    BQ_SHORTLIST,
    N_QUERY_VECS,
    TOPK_NEIGHBORS,
)
from .logio import read_log, write_log_partition


class BqIngestSink:
    """foreachBatch sink maintaining the sign-bit vector index over
    (vec_id, embedding) micro-batches."""

    def __init__(self, log_path: str):
        self.log_path = log_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        norm = F.expr(_SPARK_DOT.format(a="embedding", b="embedding"))
        rows = batch_df.select(
            "vec_id",
            "embedding",
            F.expr(_SPARK_BQ_SIG.format(col="embedding")).alias("sig"),
            norm.alias("nrm"),
        )
        self._schema = write_log_partition(rows, batch_id, self.log_path)

    def topk_view(self, spark: SparkSession) -> DataFrame:
        """The batch ``sim_bq_topk`` relation served from the log."""
        base = read_log(spark, self.log_path, self._schema).select(
            "vec_id", "embedding", "sig", "nrm"
        )
        q = base.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("qid"),
            F.col("sig").alias("qsig"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnorm"),
        )
        ham = (
            base.select("vec_id", "sig")
            .join(F.broadcast(q.select("qid", "qsig")))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                "qid", "vec_id",
                F.expr("bit_count(sig ^ qsig)").alias("h"),
            )
        )
        short = top_k_per_key(
            ham, ["qid"], [F.asc("h"), F.asc("vec_id")], BQ_SHORTLIST
        ).select("qid", "vec_id")
        dot = F.expr(_SPARK_DOT.format(a="qe", b="embedding"))
        scored = (
            short.join(base.select("vec_id", "embedding", "nrm"), "vec_id")
            .join(F.broadcast(q.select("qid", "qe", "qnorm")), "qid")
            .select(
                "qid", "vec_id",
                (dot / F.sqrt(F.col("qnorm") * F.col("nrm"))).alias("cos"),
            )
        )
        return top_k_per_key(
            scored, ["qid"], [F.desc("cos"), F.asc("vec_id")],
            TOPK_NEIGHBORS,
        ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))
