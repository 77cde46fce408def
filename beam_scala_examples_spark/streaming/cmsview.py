"""Ingest-time count-min sketch: the streaming member for the round-7
grouped CMS rung (``queries/dq.py::dq_cms_user_by_day`` is the batch
twin) — the additive sibling of :class:`~.hllview.HllIngestSink`.
Where HLL registers merge with max, CMS counters merge with PLAIN
ADDITION, so the batch_id-partitioned log of per-batch partial
counters IS the sketch and serving is one sum-aggregate.  Appends
never read earlier batches at all.

Per batch: one map-side-combined aggregate of the batch's rows to at
most ``groups × depth × width`` slim (group..., r, b, cnt) rows,
appended under the batch's partition with dynamic overwrite — a
replayed batch re-derives exactly its own partial from its own rows,
so the served counters are replay-idempotent by construction.  The
served view is pinned EXACTLY equal to the batch counters over the
same corpus, which also pins every downstream estimate (per-day heavy
hitters, the range top-talker rollup).  With no group columns it is the
"top talkers" view: one counter block over the whole stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_partial_counters
from .logio import read_log, write_log_partition


class CmsIngestSink:
    """foreachBatch sink maintaining a grouped count-min counter log
    over micro-batches carrying ``item_col`` (plus any group columns,
    e.g. a caller-derived day)."""

    def __init__(self, log_path: str, item_col: str = "user_id",
                 group_cols: tuple[str, ...] = (),
                 depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
        self.log_path = log_path
        self.item_col = item_col
        self.group_cols = tuple(group_cols)
        self.depth = depth
        self.width = width
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = cms_partial_counters(
            batch_df, self.item_col, group_cols=self.group_cols,
            depth=self.depth, width=self.width,
        )
        self._schema = write_log_partition(partial, batch_id, self.log_path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The merged sketch: sum over every batch's partial counters —
        identical to building the counters over the full corpus."""
        return (
            read_log(spark, self.log_path, self._schema)
            .groupBy(*self.group_cols, "r", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
