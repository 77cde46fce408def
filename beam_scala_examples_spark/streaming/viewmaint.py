"""Incremental materialized-view maintenance for an enriched additive
rollup: the streaming twin of ``queries/behavior.py::
events_segment_revenue`` (daily purchase revenue by customer market
segment), maintained per micro-batch with zero driver state.

This completes the view-maintenance family alongside ``cdc.py``
(latest-state: max_by contributions) and ``sketchview.py`` (mergeable
sketches): revenue is ADDITIVE, so each micro-batch contributes exact
partial sums and the serving view is one re-aggregation of the
contribution log — the textbook incremental-view-maintenance shape for
SUM/COUNT rollups.

Scale posture:
 - The dimension join is the stream-static enrichment, hint-free per
   the broadcast policy (``enrich.py`` rationale: customer grows with
   SF) — AQE broadcasts it while it fits, so no shuffle of the event
   side and no state store in the common case.
 - Each batch's contribution is O(segments × days touched), not
   O(events); the log is bounded by batches × touched groups and
   re-compacts to O(segments × days).  With Delta/Iceberg the
   overwrite becomes a MERGE adding deltas to matched groups.
 - Contributions are EXACT integer cents, so maintenance is
   order/replay-independent: union-of-parts == one-shot aggregate,
   bit for bit (the mergeable-state payoff, here for plain SUM).
 - The log follows :mod:`.logio`: exactly-once under replay, and a
   batch with no purchase serves the view so far, not an error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.agg import cents
from .logio import read_log, write_log_partition


class SegmentRevenueViewSink:
    """foreachBatch sink maintaining the (segment, day) revenue view.

    Per micro-batch: enrich with the customer dim (hint-free join),
    reduce to exact-cents partial sums per (segment, day), write under
    batch_id (idempotent), then re-aggregate the log into the serving
    view.
    """

    def __init__(self, dim: DataFrame, log_path: str, out_path: str):
        self.dim = dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        self.log_path = log_path
        self.out_path = out_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = (
            batch_df.filter(F.col("event_type") == "purchase")
            .join(self.dim, "user_id", "left")
            .groupBy("segment", F.date_trunc("day", "ts").alias("day"))
            .agg(
                F.count("*").alias("n_purchases"),
                F.sum(cents("value")).alias("rev_cents"),
            )
        )
        self._schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        serving = self.serving_view(spark)
        serving.write.mode("overwrite").parquet(self.out_path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """Re-aggregate the contribution log: exact-cents addition, so
        the result equals the one-shot batch rollup bit for bit."""
        log = read_log(spark, self.log_path, self._schema)
        return (
            log.groupBy("segment", "day")
            .agg(
                F.sum("n_purchases").alias("n_purchases"),
                F.sum("rev_cents").alias("rev_cents"),
            )
            .select(
                "segment",
                "day",
                "n_purchases",
                F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            )
        )
