"""Ingest-time PERCEPTUAL image near-dup detection: the pHash member
of the streaming dedup family (``neardupview.py`` is the MinHash-LSH
text twin; ``queries/llmdata.py::multimodal_phash_novelty`` is this
sink's batch twin).

A multimodal pipeline wants "have we already ingested an image that
LOOKS like this?" at arrival time.  The sink maintains a band-bucket
registry (``(band, 16-bit bucket) -> earliest img_id``) over the
63-bit pHash: each micro-batch renders its documents' images (the
identical constructed corpus the batch queries use — originals plus the
salted variants), hashes the parsed BMP rasters, applies the
``PHASH_MIN_BITS`` entropy gate (flat rasters abstain), consults the
registry, and appends its own bucket minima.

Semantics: first-seen-wins over arrival order — an image is a dup iff
ANY of its bands was produced by an earlier image (earlier batch, or a
smaller img_id within the same batch).  With id-ordered arrival this
equals the batch ``multimodal_phash_novelty`` relation exactly
(pinned); out-of-order arrival keeps first-seen, stated not hidden.

Scale posture (the NearDupIngestSink discipline verbatim): per batch
O(batch) render/hash work (two narrow Arrow passes) + one join against
the registry keyed on (band, bucket); registry is O(distinct buckets)
slim rows, contribution is one row per bucket touched; decisions and
registry partition by batch_id with dynamic overwrite and the registry
read excludes the current batch's own partition, so replay re-derives
exactly the rows it owned.  With Delta/Iceberg the append becomes a
MERGE on (band, bucket) keeping the min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    attach_bmp_payload_keyed,
    phash_bmp_metadata,
)
from ..queries.llmdata import _phash_image_corpus, phash_bands
from .logio import read_log, write_log_partition


class PhashIngestSink:
    """foreachBatch sink maintaining the pHash bucket registry and the
    per-image near-dup decision log over (doc_id, text) micro-batches."""

    def __init__(self, registry_path: str, decisions_path: str):
        self.registry_path = registry_path
        self.decisions_path = decisions_path
        self._schemas: dict = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        imgs = _phash_image_corpus(batch_df.select("doc_id", "text"))
        hashes = phash_bmp_metadata(attach_bmp_payload_keyed(imgs))
        # Decisions are per ARRIVING image (gate-failers abstain ->
        # never dup), so anchor on the full corpus member like the
        # batch twin does.
        bands = phash_bands(hashes)
        bmin = bands.groupBy("band", "bucket").agg(
            F.min("img_id").alias("batch_min")
        )
        enriched = bands.join(bmin, ["band", "bucket"])
        reg = read_log(
            spark, self.registry_path, self._schemas.get(self.registry_path),
            exclude_batch=batch_id,
        )
        if reg is not None:
            prior_img = reg.groupBy("band", "bucket").agg(
                F.min("first_img").alias("prior_img")
            )
            enriched = enriched.join(prior_img, ["band", "bucket"], "left")
        else:
            enriched = enriched.withColumn(
                "prior_img", F.lit(None).cast("long")
            )
        prior = F.least(
            F.when(
                F.col("batch_min") < F.col("img_id"), F.col("batch_min")
            ),
            F.when(
                F.col("prior_img") < F.col("img_id"), F.col("prior_img")
            ),
        )
        dup = (
            enriched.select("img_id", prior.alias("prior"))
            .groupBy("img_id")
            .agg(F.min("prior").alias("dup_of"))
        )
        decisions = (
            hashes.select("img_id")
            .join(dup, "img_id", "left")
            .select(
                "img_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )
        first = bmin.select(
            "band", "bucket", F.col("batch_min").alias("first_img")
        )
        for df, path in ((decisions, self.decisions_path),
                         (first, self.registry_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """All image near-dup decisions so far: (img_id, is_dup,
        dup_of) — each image decided exactly once, at arrival."""
        return read_log(
            spark, self.decisions_path, self._schemas.get(self.decisions_path)
        ).select("img_id", "is_dup", "dup_of")
