"""Ingest-time semantic watch: radius search against a fixed watch set,
applied to every arriving embedding batch — the streaming twin of the
batch ``sim_range_search`` (``queries/llmdata.py``).

The use case is the embedding-space contamination tripwire: register a
watch set (benchmark items, known-bad content, canary documents) and be
alerted AT INGEST when anything arrives within cosine ``tau`` of a
watched vector — instead of discovering it in the next corpus-wide
audit.  The text-space analogue is ``text_contamination``/
``text_bloom_screen``; this is the same governance gate for vectors.

Semantics: the watch set is FROZEN at sink construction (watch sets are
curated, not streamed); per batch, one narrow pass scores arrivals
against the broadcast watch matrix through the batch query's own serve
(``ann.exact_scan`` and the radius tail ``llmdata._within_radius``),
and rows with cos >= tau land in a batch_id-partitioned hit log.
Because the hit predicate is a pure per-row function of (arrival,
watch set), the accumulated log over any batching of the corpus equals
the batch ``sim_range_search`` relation exactly (pinned), and replays
rewrite only their own partition.

Scale posture: per batch O(batch x |watch|) fold work, all map-side
(watch set broadcast as literals via a bounded createDataFrame — the
codebook sanction); the log carries HITS only, which the radius keeps
small.  No state beyond the log; no registry read at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.llmdata import SIM_RANGE_TAU, _within_radius
from .logio import read_log, write_log_partition


class RangeWatchSink:
    """foreachBatch sink logging arrivals within ``tau`` of a watch set.

    ``watch`` is a list of (watch_id, vector) pairs — e.g. the first
    N_QUERY_VECS corpus vectors when pinning against the batch query.
    """

    def __init__(self, hits_path: str, watch, tau: float = SIM_RANGE_TAU):
        self.hits_path = hits_path
        self.watch = [(int(i), [float(x) for x in v]) for i, v in watch]
        self.tau = float(tau)
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        qnorm = F.expr(ann.DOT.format(a="qe", b="qe")).alias("qnorm")
        wdf = batch_df.sparkSession.createDataFrame(
            self.watch, "qid bigint, qe array<double>"
        ).select("qid", "qe", qnorm)
        arrivals = batch_df.select(
            "vec_id", "embedding", F.expr(ann.NORM).alias("nrm")
        )
        hits = _within_radius(ann.exact_scan(arrivals, wdf), self.tau)
        self._schema = write_log_partition(hits, batch_id, self.hits_path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """All hits so far: (qid, vec_id, cosine) — equal to the batch
        radius search over everything ingested."""
        return read_log(spark, self.hits_path, self._schema).select(
            "qid", "vec_id", "cosine"
        )
