"""Ingest-time NEAR-duplicate detection: the MinHash-LSH member of the
streaming dedup family (``dedupview.py`` is the exact-hash twin;
``queries/llmdata.py::dedup_lsh_novelty`` is this sink's batch twin).

A training-data pipeline wants near-dup decisions AT ARRIVAL TIME —
"have we already ingested something like this?" — without re-running
corpus-wide LSH per drop.  The sink maintains a bucket registry
(``(band, bucket) -> earliest doc_id seen``) incrementally: each
micro-batch computes its own banded MinHash signatures
(``minhash_buckets``, the identical expression pipeline the batch path
uses), consults the registry, and appends its own bucket minima.

Semantics: first-seen-wins over arrival order — a document is a dup iff
ANY of its band buckets was produced by an earlier document (earlier
batch, or a smaller doc_id within the same batch); ``dup_of`` is the
earliest such document.  With id-ordered arrival this equals the batch
``dedup_lsh_novelty`` relation exactly (pinned); out-of-order arrival
keeps first-seen — the honest streaming semantics, stated rather than
hidden.

Scale posture:
 - Per batch: O(batch) shingle/minhash work + one join against the
   registry keyed on (band, bucket).  The registry is O(distinct
   buckets) slim rows; the per-batch contribution is one row per
   bucket TOUCHED by the batch — never a corpus rescan.
 - Replay safety (the dedupview discipline): decisions and registry
   contributions both partition by batch_id with dynamic partition
   overwrite, and the registry read EXCLUDES the current batch's own
   partition, so a replayed batch re-derives exactly the rows it owned.
 - With Delta/Iceberg the registry append becomes a MERGE on
   (band, bucket) keeping the min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pairs import self_pairs
from ..queries.llmdata import minhash_buckets
from .logio import read_log, write_log_partition


class NearDupIngestSink:
    """foreachBatch sink maintaining the LSH bucket registry and the
    per-document near-dup decision log."""

    def __init__(self, registry_path: str, decisions_path: str):
        self.registry_path = registry_path
        self.decisions_path = decisions_path
        self._schemas: dict = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_buckets(batch_df.select("doc_id", "text"))
        bmin = sigs.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("batch_min")
        )
        enriched = sigs.join(bmin, ["band", "bucket"])
        reg = read_log(
            spark, self.registry_path, self._schemas.get(self.registry_path),
            exclude_batch=batch_id,
        )
        if reg is not None:
            prior_doc = reg.groupBy("band", "bucket").agg(
                F.min("first_doc").alias("prior_doc")
            )
            enriched = enriched.join(prior_doc, ["band", "bucket"], "left")
        else:
            enriched = enriched.withColumn(
                "prior_doc", F.lit(None).cast("long")
            )
        # earliest earlier doc sharing this bucket: a smaller id within
        # the batch, or the registry's minimum — both guarded < doc_id
        # so out-of-order arrival can only keep first-seen, never point
        # a doc at a LATER one.
        prior = F.least(
            F.when(F.col("batch_min") < F.col("doc_id"), F.col("batch_min")),
            F.when(F.col("prior_doc") < F.col("doc_id"), F.col("prior_doc")),
        )
        decisions = (
            enriched.select("doc_id", prior.alias("prior"))
            .groupBy("doc_id")
            .agg(F.min("prior").alias("dup_of"))
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )
        # Registry contribution: this batch's bucket minima.  Computed
        # from batch data only (never reads registry_path), so there is
        # no read-then-overwrite-same-path hazard here.
        first = bmin.select(
            "band", "bucket", F.col("batch_min").alias("first_doc")
        )
        for df, path in ((decisions, self.decisions_path),
                         (first, self.registry_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """All near-dup decisions so far: (doc_id, is_dup, dup_of) —
        each document decided exactly once, at arrival."""
        return read_log(
            spark, self.decisions_path, self._schemas.get(self.decisions_path)
        ).select("doc_id", "is_dup", "dup_of")


class NearDupVoteIngestSink:
    """The r-of-b vote variant of ``NearDupIngestSink``: a document is a
    dup only if >= ``vote_r`` of its band buckets collide with the SAME
    earlier document (batch twin:
    ``queries/llmdata.py::dedup_lsh_novelty_vote``, equality pinned).

    The any-band OR sink needs only bucket minima as state; a vote needs
    per-(doc, earlier-doc) band COUNTS, so the registry here stores full
    band membership — (band, bucket, doc_id), O(docs x bands) slim rows,
    the same size as the batch signature relation the LSH pipeline
    materializes anyway.  Per batch: one equi-join of the batch's
    signatures against the registry on (band, bucket) — Σ(batch-side
    bucket x registry-side bucket) pairs, never a corpus rescan — plus
    the in-batch self-join, both the sanctioned Σ|bucket|² candidate
    shape.  Assumes each doc_id arrives in exactly one micro-batch (the
    house arrival contract; replays overwrite their own partition).

    Replay safety: decisions and registry contributions both partition
    by batch_id with dynamic partition overwrite; the registry read
    excludes the current batch's own partition."""

    def __init__(
        self, registry_path: str, decisions_path: str, vote_r: int = 2
    ):
        self.registry_path = registry_path
        self.decisions_path = decisions_path
        self.vote_r = int(vote_r)
        self._schemas: dict = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_buckets(batch_df.select("doc_id", "text"))
        # in-batch pairs: earlier = smaller doc_id within this batch
        intra = self_pairs(sigs, ["band", "bucket"], "doc_id").select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.doc_id").alias("earlier"),
        )
        reg = read_log(
            spark, self.registry_path, self._schemas.get(self.registry_path),
            exclude_batch=batch_id,
        )
        if reg is not None:
            # guarded < doc_id: out-of-order arrival keeps first-seen,
            # never points a doc at a LATER one
            earlier = reg.select(
                "band", "bucket", F.col("doc_id").alias("earlier")
            )
            cross = (
                sigs.join(earlier, ["band", "bucket"])
                .filter(F.col("earlier") < F.col("doc_id"))
                .select("doc_id", "earlier")
            )
            pairs = intra.unionByName(cross)
        else:
            pairs = intra
        # one row per (doc, earlier, band) by construction on both
        # sides, so count(*) counts agreeing bands
        cand = (
            pairs.groupBy("doc_id", "earlier")
            .agg(F.count("*").alias("nb"))
            .filter(F.col("nb") >= self.vote_r)
            .groupBy("doc_id")
            .agg(F.min("earlier").alias("dup_of"))
        )
        decisions = (
            sigs.select("doc_id")
            .distinct()
            .join(cand, "doc_id", "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )
        # Registry contribution: this batch's full band membership.
        # Computed from batch data only (never reads registry_path), so
        # no read-then-overwrite-same-path hazard.
        for df, path in ((decisions, self.decisions_path),
                         (sigs, self.registry_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """All vote-thresholded near-dup decisions so far."""
        return read_log(
            spark, self.decisions_path, self._schemas.get(self.decisions_path)
        ).select("doc_id", "is_dup", "dup_of")
