"""Ingest-time streaming deduplication: the streaming member of the
dedup family (``queries/llmdata.py::dedup_exact`` is the batch twin).

A training-data ingest pipeline must decide *at arrival time* whether a
document is new — re-running batch dedup over the whole corpus per drop
is O(corpus) every time.  This sink maintains a content registry
(``content md5 -> keeper doc_id``) incrementally: each micro-batch only
anti-joins its own fingerprints against the registry and appends the
genuinely-new ones.

Scale posture:
 - Per batch the work is O(batch) fingerprints + one anti join against
   the registry keyed on the fingerprint — never a corpus rescan.  The
   registry is O(distinct contents) slim rows (fingerprint + id); with
   Delta/Iceberg the append becomes a MERGE on the fingerprint key.
 - Replay safety: a batch's candidates are computed against the
   registry EXCLUDING its own batch_id partition, then dynamic
   partition overwrite replaces that partition — a replayed batch
   re-derives exactly the rows it owned, so the registry is idempotent
   under at-least-once delivery (the subtle failure: anti-joining
   against a log that already contains your own contribution would
   yield an empty rewrite and silently lose entries).
 - First-seen-wins semantics: with arrival in id order the registry
   equals batch ``dedup_exact``'s min-id keeper mapping exactly
   (pinned); out-of-order arrival keeps first-seen — the honest
   streaming semantics, documented rather than hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .logio import read_log, write_log_partition


class IngestDedupSink:
    """foreachBatch sink maintaining the exact-dup content registry."""

    def __init__(self, log_path: str, out_path: str):
        self.log_path = log_path
        self.out_path = out_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cand = (
            batch_df.select(
                F.md5("text").alias("fp"), F.col("doc_id")
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_doc_id"))
        )
        seen = read_log(
            spark, self.log_path, self._schema, exclude_batch=batch_id
        )
        if seen is not None:
            # Materialize the candidates BEFORE overwriting log_path:
            # the anti join reads the same path the write below replaces,
            # and the read-then-overwrite-same-path pattern is rejected
            # by some committers ("Cannot overwrite a path that is also
            # being read from") and can race the file listing (ADVICE
            # r02).  localCheckpoint severs the lineage to the parquet
            # scan, so the write never references its own target.
            cand = cand.join(
                seen.select("fp"), "fp", "left_anti"
            ).localCheckpoint(eager=True)
        self._schema = write_log_partition(cand, batch_id, self.log_path)
        self.serving_view(spark).write.mode("overwrite").parquet(
            self.out_path
        )

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The registry: (fp, keep_doc_id).  min() collapses the
        impossible-but-cheap case of one fingerprint landing in two
        batch partitions (e.g. a replay raced a schedule change)."""
        log = read_log(spark, self.log_path, self._schema)
        return log.groupBy("fp").agg(
            F.min("keep_doc_id").alias("keep_doc_id")
        )
