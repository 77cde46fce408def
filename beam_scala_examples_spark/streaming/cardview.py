"""Ingest-time dataset card: incremental maintenance of
``queries/llmdata.py::data_dataset_card`` over an arriving document
stream — the ROADMAP's "incremental dataset card" composition.

A data team wants the corpus card (counts, dedup rates, quality rates)
to be CURRENT at ingest, not recomputed corpus-wide per publication.
Every card member is either additive or registry-expressible, so the
house pattern (batch_id-partitioned contribution logs + dynamic
partition overwrite + serve-by-reaggregation) covers the whole card:

 - ``n_docs`` / ``total_tokens`` / gopher keep count: per-doc pure
   functions -> one additive stats row per batch;
 - ``n_sources`` / ``n_langs``: per-batch (source, lang) counts ->
   distinct over the log;
 - exact-dup rate: per-batch distinct text fingerprints (the
   ``IngestDedupSink`` registry idea reduced to the fingerprint set) ->
   ``count - countDistinct`` over the log;
 - near-dup rate: a COMPOSED :class:`NearDupIngestSink` — the card sink
   drives the real registry sink per batch and serves its decision log;
 - chunk-dup rate: per-batch distinct (doc_id, chunk_md5) pairs ->
   owners >= 2 recomputed over the log (``dedup_chunk_dups``'s exact
   aggregate, applied to the accumulated chunk registry);
 - copy-region members + the round-7 coverage gate
   (``copy_heavy_doc_bp``): positioned winnow prints + per-doc token
   counts logged per batch -> regions and the interval-union coverage
   recomputed over the accumulated logs at serving time.

Served card == batch ``data_dataset_card`` EXACTLY when the stream
delivers each doc once in doc_id order (the house arrival contract; the
near-dup member inherits ``NearDupIngestSink``'s stated first-seen
semantics under out-of-order arrival).

Scale posture: per batch — O(batch) narrow work (tokens, gopher,
chunks, fingerprints) plus the near-dup sink's registry join; log sizes
are O(batches) stats rows, O(batches x sources x langs), O(docs)
fingerprints, O(chunks) pairs, O(buckets) registry rows.  Serving
re-aggregates logs only, never historical raw documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llmdata import (
    COPY_COVERAGE_MAX_BP,
    _SPARK_TOKS,
    chunk_relation,
    gopher_verdicts,
    winnow_coverage_from_regions,
    winnow_print_positions,
    winnow_regions_from_prints,
)
from .hllview import HllIngestSink
from .logio import read_log, write_log_partition
from .neardupview import NearDupIngestSink


class DatasetCardSink:
    """foreachBatch sink maintaining the streamed dataset card."""

    def __init__(self, base_path: str):
        self.stats_path = f"{base_path}/card_stats"
        self.sourcelang_path = f"{base_path}/card_sourcelang"
        self.texthash_path = f"{base_path}/card_texthash"
        self.chunks_path = f"{base_path}/card_chunks"
        self.winnow_path = f"{base_path}/card_winnow_prints"
        self.doctokens_path = f"{base_path}/card_doctokens"
        self.neardup = NearDupIngestSink(
            f"{base_path}/card_nd_registry", f"{base_path}/card_nd_decisions"
        )
        # Round-6: per-source distinct-text HLL registers — a composed
        # grouped HllIngestSink over the text hash (registers merge with
        # max, so the log appends without reading earlier batches).
        self.src_hll = HllIngestSink(
            f"{base_path}/card_src_hll", group_cols=("source",),
            id_col="text",
        )
        self._schemas: dict = {}

    def _write(self, df: DataFrame, batch_id: int, path: str) -> None:
        self._schemas[path] = write_log_partition(df, batch_id, path)

    def _log(self, spark: SparkSession, path: str) -> DataFrame:
        return read_log(spark, path, self._schemas.get(path))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # The Arrow-free members are all recomputed from batch rows only,
        # so each contribution is replay-idempotent by construction.
        keep = gopher_verdicts(batch_df).agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep")
        )
        stats = batch_df.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.expr(_SPARK_TOKS))).cast("long").alias(
                "total_tokens"
            ),
        ).crossJoin(keep)
        self._write(stats, batch_id, self.stats_path)

        self._write(
            batch_df.groupBy("source", "lang").agg(
                F.count("*").alias("n")
            ),
            batch_id,
            self.sourcelang_path,
        )
        self._write(
            batch_df.select(F.md5("text").alias("fp")).distinct(),
            batch_id,
            self.texthash_path,
        )
        self._write(
            chunk_relation(batch_df).select("doc_id", "chunk_md5").distinct(),
            batch_id,
            self.chunks_path,
        )
        # Round-6: positioned winnow prints (slim int64 triples) — the
        # copy-region members recompute regions from the accumulated
        # log at serving time, exactly like the chunk-dup member.
        self._write(
            winnow_print_positions(batch_df.select("doc_id", "text")),
            batch_id,
            self.winnow_path,
        )
        # Round-7: per-doc token counts (slim pairs, pure per-row
        # function) — the coverage-gate member joins them against the
        # regions recomputed from the prints log at serving time.
        self._write(
            batch_df.select(
                "doc_id",
                F.size(F.expr(_SPARK_TOKS)).cast("long").alias("n_tokens"),
            ),
            batch_id,
            self.doctokens_path,
        )
        # Composed registry sinks: near-dup decisions at arrival time,
        # per-source text-cardinality registers.
        self.neardup(batch_df.select("doc_id", "text"), batch_id)
        self.src_hll(batch_df.select("source", "text"), batch_id)

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """Re-aggregate the logs into the (metric, value) card — the
        identical integer expressions as the batch ``data_dataset_card``
        query, so streamed == one-shot exactly."""
        stats = self._log(spark, self.stats_path).agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("n_keep").alias("n_keep"),
        )
        sl = self._log(spark, self.sourcelang_path).agg(
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
        )
        fp = self._log(spark, self.texthash_path).agg(
            F.countDistinct("fp").alias("n_distinct_texts")
        )
        nd = self.neardup.serving_view(spark).agg(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup")
        )
        ch = self._log(spark, self.chunks_path)
        owners = ch.groupBy("chunk_md5").agg(
            F.countDistinct("doc_id").alias("n_owner_docs")
        )
        chunkdup = (
            ch.join(owners, "chunk_md5")
            .filter(F.col("n_owner_docs") >= 2)
            .agg(F.countDistinct("doc_id").alias("n_cd"))
        )
        regions = winnow_regions_from_prints(
            self._log(spark, self.winnow_path).drop("batch_id").distinct()
        )
        region_stats = regions.agg(
            F.countDistinct("doc_a", "doc_b").alias("n_pairs"),
            F.coalesce(F.sum("length_tokens"), F.lit(0)).alias("n_tokens"),
        )
        region_docs = regions.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d")
        ).agg(F.countDistinct("d").alias("n_region_docs"))
        cov_heavy = (
            winnow_coverage_from_regions(
                regions,
                self._log(spark, self.doctokens_path).select(
                    "doc_id", "n_tokens"
                ),
            )
            .filter(F.col("coverage_bp") > COPY_COVERAGE_MAX_BP)
            .agg(F.count("*").alias("n_heavy"))
        )
        src_regs = (
            self.src_hll.serving_view(spark)
            .groupBy("source")
            .agg(F.count("*").alias("value"))
            .select(
                F.concat(
                    F.lit("hll_text_registers_"), F.col("source")
                ).alias("metric"),
                F.col("value").cast("long").alias("value"),
            )
        )
        base = (
            stats.crossJoin(sl).crossJoin(fp).crossJoin(nd)
            .crossJoin(chunkdup).crossJoin(region_stats)
            .crossJoin(region_docs).crossJoin(cov_heavy)
            .localCheckpoint()
        )
        rows = [
            base.select(F.lit("n_docs").alias("metric"),
                        F.col("n_docs").cast("long").alias("value")),
            base.select(F.lit("n_sources").alias("metric"),
                        F.col("n_sources").cast("long").alias("value")),
            base.select(F.lit("n_langs").alias("metric"),
                        F.col("n_langs").cast("long").alias("value")),
            base.select(F.lit("total_tokens").alias("metric"),
                        F.col("total_tokens").alias("value")),
            base.select(
                F.lit("exact_dup_bp").alias("metric"),
                F.expr(
                    "((n_docs - n_distinct_texts) * 10000) div n_docs"
                ).alias("value"),
            ),
            base.select(
                F.lit("near_dup_bp").alias("metric"),
                F.expr("(n_dup * 10000) div n_docs").alias("value"),
            ),
            base.select(
                F.lit("gopher_keep_bp").alias("metric"),
                F.expr("(n_keep * 10000) div n_docs").alias("value"),
            ),
            base.select(
                F.lit("chunk_dup_doc_bp").alias("metric"),
                F.expr("(n_cd * 10000) div n_docs").alias("value"),
            ),
            src_regs,
            base.select(
                F.lit("copy_region_pairs").alias("metric"),
                F.col("n_pairs").cast("long").alias("value"),
            ),
            base.select(
                F.lit("copy_region_tokens").alias("metric"),
                F.col("n_tokens").cast("long").alias("value"),
            ),
            base.select(
                F.lit("copy_region_doc_bp").alias("metric"),
                F.expr(
                    "(n_region_docs * 10000) div n_docs"
                ).alias("value"),
            ),
            base.select(
                F.lit("copy_heavy_doc_bp").alias("metric"),
                F.expr("(n_heavy * 10000) div n_docs").alias("value"),
            ),
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out
