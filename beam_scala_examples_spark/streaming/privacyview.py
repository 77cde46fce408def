"""Ingest-time privacy monitoring: incremental maintenance of the
k-anonymity audit (``queries/dq.py::dq_k_anonymity``) over an arriving
dimension stream.

A governance gate wants to know AT INGEST when a quasi-identifier group
slips below k — not after the next full-table audit.  Group sizes are
additive counts, so the ``SegmentRevenueViewSink`` additive-view
pattern applies verbatim: each micro-batch writes its own O(groups
touched) count rows under its batch_id (idempotent dynamic partition
overwrite), and the serving view re-aggregates the log into exactly the
batch audit — same group sizes, same below-k flags, same at-risk share
(batch-equality pinned).

Scale posture: per batch one hash aggregate on the QI tuple reduced to
O(groups-touched) slim rows; the log grows O(batches x groups); the
serving re-aggregation touches the log only, never historical rows.

The k-anonymity QI (nation, segment, band) already contains
l-diversity's sensitive attribute (segment) as a component, so the SAME
count log serves the l-diversity audit too: per (nation, band) group,
``sum(n)`` is the size and ``count(DISTINCT segment)`` over the log
rows is the diversity — no separate registry needed
(``l_diversity_view``, pinned equal to ``dq_l_diversity``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.dq import K_ANON_BAND, K_ANON_K, K_ANON_QI, L_DIV_L
from .logio import read_log, write_log_partition


class KAnonViewSink:
    """foreachBatch sink maintaining the streamed k-anonymity audit."""

    def __init__(self, log_path: str, out_path: str, k: int = K_ANON_K):
        self.log_path = log_path
        self.out_path = out_path
        self.k = int(k)
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = batch_df.groupBy(
            *K_ANON_QI, F.expr(K_ANON_BAND).alias("acct_band")
        ).agg(F.count("*").alias("n"))
        self._schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        self.serving_view(spark).write.mode("overwrite").parquet(
            self.out_path
        )

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """Re-aggregate the count log into the audit relation — the
        identical group-size/below-k/at-risk expressions as the batch
        ``dq_k_anonymity`` query, so streamed == one-shot exactly."""
        log = read_log(spark, self.log_path, self._schema)
        groups = log.groupBy(*K_ANON_QI, "acct_band").agg(
            F.sum("n").alias("group_size")
        )
        risk = groups.agg(
            F.sum("group_size").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("group_size") < self.k, F.col("group_size")
                ).otherwise(0)
            ).alias("n_at_risk"),
        )
        return groups.crossJoin(F.broadcast(risk)).select(
            *K_ANON_QI,
            "acct_band",
            "group_size",
            (F.col("group_size") < self.k).alias("below_k"),
            F.expr("(n_at_risk * 10000) div n_rows").alias("at_risk_bp"),
        )

    def l_diversity_view(
        self, spark: SparkSession, l: int = L_DIV_L
    ) -> DataFrame:
        """The l-diversity audit served from the SAME count log: per
        (nation, band) group, size = summed counts and diversity =
        distinct segments among the log's rows — identical expressions
        to the batch ``dq_l_diversity`` query, pinned equal."""
        log = read_log(spark, self.log_path, self._schema)
        groups = log.groupBy("c_nationkey", "acct_band").agg(
            F.sum("n").alias("group_size"),
            F.countDistinct("c_mktsegment").alias("l_distinct"),
        )
        risk = groups.agg(
            F.sum("group_size").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("l_distinct") < l, F.col("group_size")
                ).otherwise(0)
            ).alias("n_at_risk"),
        )
        return groups.crossJoin(F.broadcast(risk)).select(
            "c_nationkey",
            "acct_band",
            "group_size",
            "l_distinct",
            (F.col("l_distinct") < l).alias("below_l"),
            F.expr("(n_at_risk * 10000) div n_rows").alias("at_risk_bp"),
        )
