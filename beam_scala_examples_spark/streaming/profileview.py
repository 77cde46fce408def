"""Ingest-time column profiling at sketch cost: the streaming twin of
``queries/dq.py::dq_profile_events_sketch`` — the ingest-health report
(null rates, sketched cardinalities per column) maintained
incrementally over an arriving event stream instead of recomputed
corpus-wide per audit.

Three batch_id-partitioned contribution logs (the house discipline):

 - ``profile_stats``: one additive row per batch — row count and
   per-column null counts (a conditional aggregate over batch rows
   only);
 - ``profile_regs``: the batch's per-column HLL partial registers over
   the stacked (column_name, value) pairs (the batch query's own
   :func:`~..queries.dq.profile_pairs` + register constructor) —
   registers merge with a plain max, so appends never read earlier
   batches (the ``HllIngestSink`` property, per column);
 - ``profile_vbins`` (round 7): the batch's log-bin value counters
   (:func:`~..queries.dq.vbin_partial_counts` over ``value``) —
   counters merge by plain ADDITION, so appends never read earlier
   batches either; serving derives the same p50/p90/p99 bin bounds
   the batch profiler reports.

Serving re-aggregates the logs into the identical report relation the
batch query returns — pinned EXACTLY equal once the corpus has
arrived, and replay-idempotent (a replayed batch re-derives exactly
its own partials from its own rows).

Scale: per batch one conditional aggregate + one map-side-combined
register aggregate, O(columns × HLL_M) slim rows max; serving is
O(log) re-aggregation, never a raw-event rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_partial_registers
from ..queries.dq import (
    PROFILE_COLUMNS,
    profile_pairs,
    profile_value_quantiles,
    vbin_partial_counts,
)
from .logio import read_log, write_log_partition


class ProfileSketchSink:
    """foreachBatch sink maintaining the sketched column profile over
    micro-batches carrying the events schema."""

    def __init__(self, base_path: str):
        self.stats_path = f"{base_path}/profile_stats"
        self.regs_path = f"{base_path}/profile_regs"
        self.vbins_path = f"{base_path}/profile_vbins"
        self._schemas: dict[str, object] = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in PROFILE_COLUMNS:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                    f"null_{c}"
                )
            )
        stats = batch_df.agg(*aggs)
        regs = hll_partial_registers(
            profile_pairs(batch_df), id_col="val",
            group_cols=("column_name",),
        )
        vbins = vbin_partial_counts(batch_df, "value")
        for df, path in ((stats, self.stats_path), (regs, self.regs_path),
                         (vbins, self.vbins_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The sketched profile report — identical integer expressions
        to the batch ``dq_profile_events_sketch``, over the logs."""
        stats = read_log(
            spark, self.stats_path, self._schemas.get(self.stats_path)
        ).agg(
            F.sum("n_rows").alias("n_rows"),
            *[
                F.sum(f"null_{c}").alias(f"null_{c}")
                for c in PROFILE_COLUMNS
            ],
        )
        merged = (
            read_log(
                spark, self.regs_path, self._schemas.get(self.regs_path)
            )
            .groupBy("column_name", "register")
            .agg(F.max("max_rank").alias("max_rank"))
        )
        sketch = merged.groupBy("column_name").agg(
            F.count("*").alias("hll_registers"),
            F.sum("max_rank").alias("hll_sum_rank"),
        )
        rows = stats.select(
            "n_rows",
            F.expr(
                "stack({n}, {args}) AS (column_name, n_null)".format(
                    n=len(PROFILE_COLUMNS),
                    args=", ".join(
                        f"'{c}', null_{c}" for c in PROFILE_COLUMNS
                    ),
                )
            ),
        ).select(
            "column_name",
            "n_rows",
            "n_null",
            F.expr("(n_null * 10000) div n_rows").alias("null_bp"),
        )
        vq = profile_value_quantiles(
            read_log(
                spark, self.vbins_path, self._schemas.get(self.vbins_path)
            )
            .groupBy("sign", "vbin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        return (
            rows.join(sketch, "column_name", "left")
            .join(vq, "column_name", "left")
            .select(
                "column_name", "n_rows", "n_null", "null_bp",
                F.coalesce("hll_registers", F.lit(0)).alias(
                    "hll_registers"
                ),
                F.coalesce("hll_sum_rank", F.lit(0)).alias(
                    "hll_sum_rank"
                ),
                "p50_lo", "p90_lo", "p99_lo",
            )
        )
