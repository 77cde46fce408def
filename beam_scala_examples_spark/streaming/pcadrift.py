"""Streaming embedding-space drift monitoring: incremental maintenance
of the top principal component (``queries/clustering.py::
emb_pca_top_component``) over an arriving vector stream.

An embedding pipeline wants to know when the dominant direction of the
incoming vectors moves — new domain, encoder regression, corpus-wide
drift the ABTT correction (``emb_abtt_correct``) depends on.  The Gram
matrix, per-dimension sums, and row count are all ADDITIVE in exact
int64 over once-quantized components, so the ``SegmentRevenueViewSink``
/ ``LmDriftViewSink`` additive-view pattern applies: each micro-batch
writes its own O(DIM²) integer moment rows under its batch_id
(idempotent dynamic partition overwrite), and the serving view
re-aggregates the log into the covariance with the IDENTICAL IEEE
expression the batch query uses, then runs the same fixed-point power
iteration (``_pca_power`` is imported, not re-implemented) — so the
streamed eigenvector equals the one-shot batch computation bit for bit
(pinned by the batch-equality test).

Scale posture:
 - Per batch: one corpus-free pass over the BATCH (the DIM² pair
   fan-out of its own rows), reduced map-side to 64x64+64+1 integer
   rows — the contribution is corpus-size independent.
 - The log grows O(batches x DIM²) slim rows; serving re-aggregation
   touches the log only, never historical vectors.
 - The matvec chain runs over the checkpointed 4096-row covariance —
   driver traffic is one collected row count (the broadcast-scalar
   sanction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.clustering import PCA_C_DIV, PCA_Q, _pca_power
from .logio import read_log, write_log_partition


def _quantized(batch_df: DataFrame) -> DataFrame:
    """(vec_id, pos, qv): the identical once-quantized component
    relation ``_pca_cov`` builds (README determinism rule 3)."""
    return batch_df.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> cast(round(cast(x as double) * {PCA_Q}) as bigint))"
            )
        ).alias("pos", "qv"),
    )


def pca_moment_contrib(batch_df: DataFrame) -> DataFrame:
    """One batch's additive moment rows, role-encoded in one relation:
    (p1, p2 >= 0) Gram partials, (p1, -1) component sums, (-1, -1) the
    row count — all exact int64, so union-of-parts equals the one-shot
    aggregate in any order."""
    q = _quantized(batch_df)
    q1 = q.select(F.col("pos").alias("p1"), "vec_id", F.col("qv").alias("a"))
    q2 = q.select(F.col("pos").alias("p2"), "vec_id", F.col("qv").alias("b"))
    gram = (
        q1.join(q2, "vec_id")
        .groupBy("p1", "p2")
        .agg(F.sum(F.col("a") * F.col("b")).alias("g"))
    )
    sums = (
        q.groupBy("pos")
        .agg(F.sum("qv").alias("g"))
        .select(
            F.col("pos").alias("p1"),
            F.lit(-1).cast("int").alias("p2"),
            "g",
        )
    )
    cnt = batch_df.agg(F.count("*").alias("g")).select(
        F.lit(-1).cast("int").alias("p1"),
        F.lit(-1).cast("int").alias("p2"),
        "g",
    )
    return (
        gram.select(
            F.col("p1").cast("int"), F.col("p2").cast("int"), "g"
        )
        .unionByName(sums)
        .unionByName(cnt)
    )


class PcaDriftViewSink:
    """foreachBatch sink maintaining the streamed top principal
    component.  Per micro-batch: reduce the batch to its integer moment
    rows, write under batch_id (idempotent), re-derive the eigenvector
    from the re-aggregated log and write the serving view."""

    def __init__(self, log_path: str, out_path: str):
        self.log_path = log_path
        self.out_path = out_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._schema = write_log_partition(
            pca_moment_contrib(batch_df), batch_id, self.log_path
        )
        spark = batch_df.sparkSession
        self.serving_view(spark).write.mode("overwrite").parquet(
            self.out_path
        )

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """(dim, v_micro): the power-iteration eigenvector of the
        covariance re-aggregated from the log — the same ``_pca_power``
        chain over the same IEEE covariance expression as the batch
        query, so streamed == one-shot, bit for bit."""
        return pca_top_component_from_log(
            read_log(spark, self.log_path, self._schema)
        )


def pca_top_component_from_log(log: DataFrame) -> DataFrame:
    """(dim, v_micro) from an accumulated moment log — factored out of
    :class:`PcaDriftViewSink` (round 8) so the drift-triggered IVF
    retrain sink evaluates the identical eigenvector from its own
    moment log."""
    tot = log.groupBy("p1", "p2").agg(F.sum("g").alias("g"))
    n = int(
        tot.filter((F.col("p1") == -1) & (F.col("p2") == -1))
        .agg(F.sum("g").alias("n"))
        .collect()[0]["n"]
    )
    sums = tot.filter((F.col("p1") >= 0) & (F.col("p2") == -1))
    s1 = sums.select(F.col("p1"), F.col("g").alias("s1"))
    s2 = sums.select(F.col("p1").alias("p2"), F.col("g").alias("s2"))
    gram = tot.filter((F.col("p1") >= 0) & (F.col("p2") >= 0))
    cov = (
        gram.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .select(
            "p1",
            "p2",
            F.round(
                (
                    F.col("g") / n
                    - (F.col("s1") / n) * (F.col("s2") / n)
                )
                / PCA_C_DIV
                * 1e6
            )
            .cast("long")
            .alias("cq"),
        )
        .localCheckpoint()
    )
    return _pca_power(cov)
