"""Streaming Matryoshka (MRL) prefix-budget index ingest: incremental
maintenance of the structured-MRL serving relations
(``queries/llmdata.py::sim_matryoshka_recall_structured`` is the batch
twin) over an arriving embedding stream.

Where this sits on the streaming-index ladder the repo documents:

* k-means codebook (``ivfretrain.DriftRetrainIvfSink``) — NOT
  mergeable; needs a drift-triggered retrain gate;
* SQ8 min/max stats (``sq8view.Sq8IngestSink``) — mergeable PARTIALS,
  merged at serve time;
* MRL prefix norms (this sink) — **per-row** state: every vector's
  per-budget prefix norm is a pure function of that vector alone, so
  the ingest needs NO global statistics at all — the simplest rung,
  and the reason MRL serving composes with any arrival order trivially.

Scale design (the actual point of the twin): the structured vector is
stored SEGMENTED by budget — dims 1-8, 9-16, 17-32, 33-64 as separate
parquet columns — so serving at budget d reads ONLY the segment
columns that d needs (parquet column pruning, plan-tested); at 100 TB
the IO of a budget-8 query is ~1/8 of the full-dimension scan instead
of "scan everything, slice in memory".  This is the production MRL
serving trick (progressive column groups) expressed Spark-first.

The per-dim decay structuring reuses the exact shared double literals
of the batch query (``llmdata._SPARK_MRL_EMB``), so served rankings
are bit-comparable with the batch build.  Pinned EXACTLY equal to the
batch relations once the same vectors are in; replay-idempotent by the
dynamic-overwrite contract; empty-prefix-safe via :mod:`.logio`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.llmdata import (
    EMB_DIM,
    MRL_DIMS,
    N_QUERY_VECS,
    TOPK_NEIGHBORS,
    mrl_frontier,
    mrl_structured,
)
from .logio import read_log, write_log_partition

# Segment boundaries: segment i holds dims (MRL_DIMS[i-1], MRL_DIMS[i]]
# — the increment each budget adds over the previous one.
_SEG_BOUNDS = [
    (1 if i == 0 else MRL_DIMS[i - 1] + 1, d) for i, d in enumerate(MRL_DIMS)
]


class MrlIngestSink:
    """foreachBatch sink maintaining the segmented Matryoshka index
    over (vec_id, embedding) micro-batches."""

    def __init__(self, log_path: str):
        self.vec_path = f"{log_path}/vectors"
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # guarded build (round-11 ADVICE): a wrong-dim arrival fails the
        # micro-batch loudly instead of logging null-padded segments
        structured = mrl_structured(
            batch_df.select("vec_id", "embedding")
        )
        cols = [F.col("vec_id")]
        for i, (lo, hi) in enumerate(_SEG_BOUNDS):
            cols.append(
                F.expr(f"slice(embedding, {lo}, {hi - lo + 1})").alias(
                    f"seg{i}"
                )
            )
        # per-budget prefix norms, one per MRL_DIMS entry — per-row
        # state, no global aggregate anywhere in this sink
        cols.append(
            F.array(*[
                F.expr(ann.DOT.format(
                    a=f"slice(embedding, 1, {d})",
                    b=f"slice(embedding, 1, {d})",
                ))
                for d in MRL_DIMS
            ]).alias("pnorms")
        )
        self._schema = write_log_partition(
            structured.select(*cols), batch_id, self.vec_path
        )

    def _budget_relation(self, spark: SparkSession, d: int) -> DataFrame:
        """(vec_id, embedding, nrm): the budget-``d`` prefix as an
        ``ann`` corpus, reading ONLY the segment columns the budget
        needs (parquet prunes the rest)."""
        idx = MRL_DIMS.index(d)
        segs = [f"seg{i}" for i in range(idx + 1)]
        emb = segs[0] if len(segs) == 1 else "concat({})".format(
            ", ".join(segs)
        )
        return (
            read_log(spark, self.vec_path, self._schema)
            .select(
                "vec_id",
                F.expr(emb).alias("embedding"),
                F.element_at("pnorms", idx + 1).alias("nrm"),
            )
            .filter(F.col("nrm") > 0)
        )

    def topk_view(self, spark: SparkSession, d: int) -> DataFrame:
        """The batch prefix-budget top-k relation (llmdata
        ``_prefix_topk``) served from the log at budget ``d``."""
        base = self._budget_relation(spark, d)
        q = ann.query_frame(base, F.col("vec_id") < N_QUERY_VECS)
        return ann.top_cosine(ann.exact_scan(base, q), TOPK_NEIGHBORS).select(
            "qid", "vec_id"
        )

    def recall_view(self, spark: SparkSession) -> DataFrame:
        """The full prefix-budget recall frontier — the batch
        ``sim_matryoshka_recall_structured`` relation served from the
        log through the same ``mrl_frontier`` (truth = the
        full-dimension budget over the same log; an empty log reads 0
        truth rows per budget)."""
        return mrl_frontier(
            self.topk_view(spark, EMB_DIM),
            lambda d: self.topk_view(spark, d),
        )
