"""Ingest-time winnowing registry: the streaming member for the
round-5 MOSS rungs (``queries/llmdata.py::text_winnow_fingerprints`` /
``text_winnow_pairs`` are the batch twins), completing the dedup sink
family for the newest pair-generation method the way
``LineDedupIngestSink`` did for line dedup.

One batch_id-partitioned additive log (the house registry discipline):

 - ``winnow_prints``: (doc_id, fp) — each arriving document's DISTINCT
   winnowed fingerprints, the (doc_id, fp) set of the batch twin's
   ``winnow_print_positions`` over the micro-batch (same k-gram hash,
   same window min), O(batch × density) slim rows appended per batch.

Per-batch work is O(batch) selection + one join against the log's
EARLIER partitions to stamp an arrival-time tripwire: for every
arriving document, ``flags`` records how many of its prints were
already present in the corpus-so-far and against how many distinct
prior documents — the "this upload looks like a copy" signal an ingest
pipeline acts on immediately, before any batch job runs.  The stamp is
order-dependent by design (it answers "known at arrival?"), the same
honest semantics ``IngestDedupSink`` documents for first-seen.

The serving view recomputes the full MOSS pair table from the log —
print-keyed self-join, Σ|owners|² bounded by the winnowing density —
and is pinned EXACTLY equal to batch ``text_winnow_pairs`` once the
corpus has arrived.  Replay safety: the log partitions by batch_id with
dynamic partition overwrite and the tripwire join reads only earlier
partitions, so a replayed batch re-derives exactly the rows and flags
it owned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llmdata import (
    winnow_pairs_from_prints,
    winnow_print_positions,
    winnow_regions_from_prints,
)
from .logio import read_log, write_log_partition


class WinnowIngestSink:
    """foreachBatch sink maintaining the winnowed-print log and the
    arrival-time copy tripwire over (doc_id, text) micro-batches."""

    def __init__(self, base_path: str):
        self.prints_path = f"{base_path}/winnow_prints"
        self.flags_path = f"{base_path}/winnow_flags"
        # round-6: positioned prints (doc_id, fp, pos) — the extra log
        # that lets the sink serve aligned COPY REGIONS, not just pair
        # counts; same slim-int64 shape, same append discipline
        self.prints_pos_path = f"{base_path}/winnow_prints_pos"
        self._schemas: dict = {}

    def _log(self, spark: SparkSession, path: str, exclude_batch=None):
        return read_log(
            spark, path, self._schemas.get(path), exclude_batch=exclude_batch
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one selection per batch: the leftmost window minimum carries
        # the minimum's value, so the positioned prints' (doc_id, fp)
        # set is the distinct winnowed-print set
        pos = winnow_print_positions(batch_df.select("doc_id", "text"))
        prints = pos.select("doc_id", "fp").distinct()

        # arrival-time tripwire vs the corpus-so-far (earlier batches
        # only — a replay re-derives the identical flags)
        # Flags anchor on the ARRIVING doc_ids (not on the prints): a
        # document shorter than one k-gram yields no prints at all, but
        # its arrival must still stamp a (n_prints=0) flags row so
        # consumers can tell "no prints" from "never arrived" — the same
        # contract the batch twin ``text_winnow_fingerprints`` honors
        # with its n_selected=0 rows.
        arriving = batch_df.select("doc_id").distinct()
        counts = prints.groupBy("doc_id").agg(
            F.count("*").alias("n_prints")
        )
        seen = self._log(spark, self.prints_path, exclude_batch=batch_id)
        if seen is not None:
            hits = prints.join(
                seen.select(F.col("fp"), F.col("doc_id").alias("prior_doc")),
                "fp",
            ).groupBy("doc_id").agg(
                # distinct prints known (a print held by several prior
                # docs is still ONE known print of this doc)
                F.countDistinct("fp").alias("known_prints"),
                F.countDistinct("prior_doc").alias("prior_docs"),
            )
            flags = (
                arriving.join(counts, "doc_id", "left")
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("n_prints", F.lit(0)).alias("n_prints"),
                    F.coalesce("known_prints", F.lit(0)).alias(
                        "known_prints"
                    ),
                    F.coalesce("prior_docs", F.lit(0)).alias("prior_docs"),
                )
                # reads the path the prints write below replaces
                .localCheckpoint(eager=True)
            )
        else:
            flags = arriving.join(counts, "doc_id", "left").select(
                "doc_id",
                F.coalesce("n_prints", F.lit(0)).alias("n_prints"),
                F.lit(0).cast("long").alias("known_prints"),
                F.lit(0).cast("long").alias("prior_docs"),
            )
        for df, path in ((prints, self.prints_path),
                         (flags, self.flags_path),
                         (pos, self.prints_pos_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def flags(self, spark: SparkSession) -> DataFrame:
        """Arrival-time stamps: (doc_id, n_prints, known_prints,
        prior_docs) — order-dependent by design (corpus-so-far)."""
        return self._log(spark, self.flags_path).drop("batch_id")

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The MOSS pair table served from the log: the batch
        ``text_winnow_pairs``'s own match step over the logged prints,
        so the two are equal once the corpus has arrived."""
        return winnow_pairs_from_prints(self._log(spark, self.prints_path))

    def regions_view(self, spark: SparkSession) -> DataFrame:
        """Aligned copy regions served from the positioned-print log —
        pinned equal to batch ``text_winnow_regions`` once the corpus
        has arrived (round 6: the full MOSS report from the sink, the
        same match/island pass the batch query runs, over accumulated
        slim int64 triples instead of raw text)."""
        pos = (
            self._log(spark, self.prints_pos_path)
            .drop("batch_id")
            .distinct()
        )
        return winnow_regions_from_prints(pos)
