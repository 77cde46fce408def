"""Ingest-time HyperLogLog: the streaming member for the round-5
sketch rung (``queries/dq.py::dq_hll_registers`` is the batch twin) —
and the sink where the house pattern is at its purest, because the
sketch is DESIGNED for it: registers merge with a plain max, so the
batch_id-partitioned log of per-batch partial registers IS the sketch,
and serving is one O(registers-in-log) max-aggregate.  No anti joins,
no tripwire reads — appends never need to see earlier batches at all.

Per batch: one map-side-combined aggregate of the batch's rows to at
most ``HLL_M`` slim (register, max_rank) rows, logged under the
batch's partition by the :mod:`.logio` discipline, so the served
registers are replay-idempotent.  The served view is pinned EXACTLY
equal to the batch registers over the same corpus, which also pins the
derived cardinality estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_partial_registers
from .logio import read_log, write_log_partition


class HllIngestSink:
    """foreachBatch sink maintaining the distinct-user HLL register log
    over micro-batches carrying a ``user_id`` column.

    ``group_cols`` (round 6) generalizes the log to GROUPED sketches —
    per-source / per-day registers, the production shape — with zero
    change to the merge law: registers still combine with a plain max,
    now keyed by (group..., register).  Register construction is the
    batch queries' own :func:`~..operators.sketches.hll_partial_registers`
    (hash staged once per row), so the served view is pinned equal to
    ``dq_hll_registers`` / ``dq_hll_by_type`` by construction."""

    def __init__(self, log_path: str, group_cols: tuple[str, ...] = (),
                 id_col: str = "user_id"):
        self.log_path = log_path
        self.group_cols = tuple(group_cols)
        self.id_col = id_col
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = hll_partial_registers(
            batch_df, id_col=self.id_col, group_cols=self.group_cols
        )
        self._schema = write_log_partition(partial, batch_id, self.log_path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The merged sketch: max over every batch's partial registers
        — identical to building the registers over the full corpus."""
        return (
            read_log(spark, self.log_path, self._schema)
            .groupBy(*self.group_cols, "register")
            .agg(F.max("max_rank").alias("max_rank"))
        )

    def overlap_view(self, spark: SparkSession) -> DataFrame:
        """Round-8 sketch set algebra, served from the log: pairwise
        per-group side/union register summaries (the inclusion-
        exclusion inputs) over the merged registers — equals the batch
        ``dq_hll_overlap`` once the ingest covers the corpus.  Requires
        ``group_cols == ("event_type",)`` (the grouped sketch)."""
        from ..queries.dq import hll_overlap_from_regs

        if self.group_cols != ("event_type",):
            raise ValueError(
                "overlap_view needs the event_type-grouped sketch"
            )
        return hll_overlap_from_regs(self.serving_view(spark))
