"""Streaming sketch maintenance: an incrementally-updated distinct-reach
view (HLL) in the same distributed foreachBatch shape as
``cdc.LatestStateSink`` — this is the operational payoff of *mergeable*
sketch state (``operators/sketches.py``): each micro-batch sketches only
its own rows, and the serving view is a register-wise union of the
per-batch parts, never a rescan of history.

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

from ..operators.sketches import HLL_LGK
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
        contrib = (
            batch_df.groupBy(
                F.date_trunc("day", "ts").alias("day"), "event_type"
            )
            .agg(
                F.hll_sketch_agg("user_id", F.lit(self.lgk)).alias(
                    "reach_sketch"
                )
            )
        )
        schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        merged = F.hll_union_agg(F.col("reach_sketch"), F.lit(True))
        view = (
            read_log(spark, self.log_path, schema)
            .groupBy("day", "event_type")
            .agg(
                merged.alias("reach_sketch"),
                F.hll_sketch_estimate(merged).cast("long").alias("reach_est"),
            )
        )
        view.write.mode("overwrite").parquet(self.out_path)


CMS_VIEW_DEPTH = 3
CMS_VIEW_WIDTH = 64


def _cms_increments(df: DataFrame, key_expr: str,
                    depth: int, width: int) -> DataFrame:
    """(r, b) increment rows for a count-min sketch over ``key_expr`` —
    depth disjoint md5 slices, the portable hash family shared with
    ``queries/llmdata.py::text_heavy_hitters``."""
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    F.expr(
                        f"cast(conv(substr(md5({key_expr}), {1 + 8 * i}, 8),"
                        f" 16, 10) as bigint) % {width}"
                    ).alias("b"),
                )
                for i in range(depth)
            ]
        )
    )
    return df.select(rb.alias("rb")).select("rb.r", "rb.b")


class TopTalkersViewSink:
    """foreachBatch sink maintaining a count-min sketch of per-user
    event counts (the "top talkers" serving view).  CMS merge is exact
    counter ADDITION, so the streamed view — per-batch partial counters
    summed across the log — is BIT-IDENTICAL to sketching the whole
    table in one pass, the same union-of-parts invariant as the HLL
    reach view but over integer counters instead of registers.

    Scale/replay posture matches ``ReachViewSink``: each batch writes
    its own O(depth x width) counter partition (dynamic partition
    overwrite => replay-idempotent), the serving view is one bounded
    aggregation of the log, and a major compaction would fold the log
    into a single partition with the identical sum."""

    def __init__(self, log_path: str, out_path: str,
                 depth: int = CMS_VIEW_DEPTH, width: int = CMS_VIEW_WIDTH):
        self.log_path = log_path
        self.out_path = out_path
        self.depth = depth
        self.width = width

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = (
            _cms_increments(
                batch_df, "cast(user_id as string)", self.depth, self.width
            )
            .groupBy("r", "b")
            .agg(F.count("*").alias("cnt"))
        )
        schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        view = (
            read_log(spark, self.log_path, schema)
            .groupBy("r", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
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
        qcols = [
            F.kll_sketch_get_quantile_double(merged, F.lit(p)).alias(
                f"q{str(p).replace('0.', '')}"
            )
            for p in KLL_VIEW_PROBS
        ]
        view = (
            read_log(spark, self.log_path, schema)
            .groupBy("event_type")
            .agg(
                *qcols,
                F.kll_sketch_get_n_double(merged).alias("n"),
            )
        )
        view.write.mode("overwrite").parquet(self.out_path)
