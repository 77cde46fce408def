"""Streaming sketch maintenance: incrementally-updated DataSketches
views (HLL reach, KLL quantiles) in the same distributed foreachBatch
shape as ``cdc.LatestStateSink`` — this is the operational payoff of
*mergeable* sketch state (``operators/sketches.py``): each micro-batch
sketches only its own rows with the batch constructor, and the serving
view merges the per-batch parts, never a rescan of history.  (The
count-min view is ``cmsview.CmsIngestSink``.)

Because HLL union is exact over sketch state (register-wise max), the
streamed view is bit-identical to sketching the full table in one batch
pass — the invariant the test pins.  State per (group, batch) is a
fixed-size binary (4 KiB at lgk=12), so the log grows O(groups x
batches) regardless of event volume; periodic major compaction folds
the log into one row per group with the same union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import HLL_LGK, hll_reach, hll_rollup, kll_summary
from .logio import read_log, write_log_partition


class ReachViewSink:
    """foreachBatch sink maintaining per-(day, event_type) distinct-user
    reach.  Batch replay replaces the batch's own log partition
    (dynamic partition overwrite), so the view is exactly-once."""

    def __init__(self, log_path: str, out_path: str, lgk: int = HLL_LGK):
        self.log_path = log_path
        self.out_path = out_path
        self.lgk = lgk

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        groups = ["day", "event_type"]
        contrib = hll_reach(
            batch_df.select(
                F.date_trunc("day", "ts").alias("day"), "event_type", "user_id"
            ),
            groups, "user_id", self.lgk,
        ).drop("reach_est")
        schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        view = hll_rollup(read_log(spark, self.log_path, schema), groups)
        view.write.mode("overwrite").parquet(self.out_path)


KLL_VIEW_K = 200
KLL_VIEW_PROBS = (0.5, 0.9, 0.99)


class LatencyQuantilesViewSink:
    """foreachBatch sink maintaining per-event-type value quantiles via
    KLL sketches — the third mergeable-sketch view beside HLL reach and
    the CMS counters.  Each batch sketches only its own rows
    (``kll_sketch_agg_double``); the serving view merges the per-batch
    sketch parts (``kll_merge_agg_double``).

    Contract difference from the HLL/CMS views: KLL merge preserves the
    rank-error GUARANTEE (~0.8% at k=200), not bit-equality with a
    one-shot sketch — so the test pins (a) the merged sketch's n equals
    the exact row count (nothing lost or double-counted through the
    log, the replay-idempotency witness) and (b) every served quantile
    sits within the rank band of the exact percentile, not exact
    equality.  State per (type, batch) is O(k log n) bytes."""

    def __init__(self, log_path: str, out_path: str, k: int = KLL_VIEW_K):
        self.log_path = log_path
        self.out_path = out_path
        self.k = k

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = (
            batch_df.groupBy("event_type")
            .agg(
                F.kll_sketch_agg_double("value", F.lit(self.k)).alias(
                    "kll"
                )
            )
        )
        schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        merged = F.kll_merge_agg_double("kll")
        view = (
            read_log(spark, self.log_path, schema)
            .groupBy("event_type")
            .agg(*kll_summary(merged, KLL_VIEW_PROBS))
        )
        view.write.mode("overwrite").parquet(self.out_path)
