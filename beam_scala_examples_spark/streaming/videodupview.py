"""Ingest-time video near-dup detection: the video member of the
streaming dedup family (``phashview.py`` is the image twin;
``queries/llmdata.py::multimodal_video_pairs`` is this sink's batch
twin).

A multimodal pipeline signs each arriving video ONCE — render, parse,
scene-segment, keyframe-hash (the expensive half) — and appends the
slim (vid_id, sig, plane_px) rows to a batch_id-partitioned signature
registry.  Pair detection then runs over signatures only: serving
recomputes the Jaccard-verified pair relation (and is pinned EXACTLY
equal to the batch ``multimodal_video_pairs`` over the same corpus),
so the per-arrival cost is one signing pass and the quadratic term
stays the bucket-bounded Σ|bucket|² self-join, on slim rows, on
demand.

Scale posture (the house registry discipline): contribution is
O(batch scenes) rows under the batch's own partition with dynamic
overwrite — replay re-derives exactly its own rows (pinned); the
registry read for serving is one parquet scan of int64 rows.  With
Delta/Iceberg the append becomes a plain INSERT; an incremental
serving variant would join only the NEW batch's signatures against the
registry (first-seen semantics like ``PhashIngestSink``) — the full
recompute here keeps the strong batch-equality pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    attach_y4m_payload_keyed,
    scene_keyframes_y4m_metadata,
)
from ..queries.llmdata import _video_corpus, video_pairs_from_scenes
from .logio import read_log, write_log_partition


class VideoSigIngestSink:
    """foreachBatch sink maintaining the per-scene keyframe signature
    registry over (doc_id, text) micro-batches."""

    def __init__(self, registry_path: str):
        self.registry_path = registry_path
        self._log_schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        vids = _video_corpus(batch_df.select("doc_id", "text"))
        sigs = scene_keyframes_y4m_metadata(
            attach_y4m_payload_keyed(vids)
        )
        self._log_schema = write_log_partition(
            sigs, batch_id, self.registry_path
        )

    def signatures(self, spark: SparkSession) -> DataFrame:
        """The accumulated signature registry (vid_id, scene_idx,
        scene_len, plane_px, sig)."""
        return read_log(
            spark, self.registry_path, self._log_schema
        ).drop("batch_id")

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """The Jaccard-verified near-dup pair relation over every video
        ingested so far: the batch ``multimodal_video_pairs``'s own
        function, over the registry."""
        return video_pairs_from_scenes(self.signatures(spark))
