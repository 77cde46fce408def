"""Ingest-time streaming LINE dedup: the streaming member for the
round-4 line-granularity rung (``queries/llmdata.py::text_line_dedup``
is the batch twin), completing the dedup sink family the way
``IvfIngestSink`` completed the ANN ladder.

Line-level dup status is GLOBAL — a line becomes duplicated
retroactively when a second document arrives carrying it — so the sink
maintains two batch_id-partitioned logs (the house registry
discipline):

 - ``line_registry``: (line_md5, keep_doc_id) FIRST-SEEN rows only,
   appended via an anti join against the registry excluding the
   batch's own partition (the ``IngestDedupSink`` discipline) — the
   O(distinct lines) answer to "who owns this line";
 - ``line_contrib``: (doc_id, line_md5, occ) per batch — each arriving
   document's line fingerprints with their within-doc multiplicity,
   one slim additive append of O(batch) rows.

Per-batch work is O(batch) + one anti join keyed on the fingerprint —
never a corpus rescan; line TEXT never persists (md5 only) and never
shuffles.  The serving view recomputes per-doc dup shares from the
contrib log: because every document arrives exactly ONCE (the ingest
contract, same as ``IngestDedupSink``) the log holds one row per
(doc, line), so distinct-owner counts are plain ``count(*)`` per
fingerprint — an O(log-rows) aggregate of slim integer/md5 rows, the
same asymptotics as the batch query itself.  With Delta/Iceberg both
appends become MERGEs on their keys.

Replay safety: both logs partition by batch_id with dynamic partition
overwrite, and every read used to derive a batch's contribution
excludes the batch's own partition — a replayed batch re-derives
exactly the rows it owned (the anti-join-against-own-contribution trap
is the documented failure mode this avoids).

The streaming corpus construction rides ``structured_relation`` — the
same per-row deterministic codegen the batch ``text_structured`` build
uses — so the served table is pinned EXACTLY equal to
``text_line_dedup`` once the full corpus has arrived (equality test in
``tests/test_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llmdata import structured_relation
from .logio import read_log, write_log_partition


class LineDedupIngestSink:
    """foreachBatch sink maintaining the line-dedup registry + per-doc
    contribution log over (doc_id, text) micro-batches."""

    def __init__(self, base_path: str):
        self.registry_path = f"{base_path}/line_registry"
        self.contrib_path = f"{base_path}/line_contrib"
        self._schemas: dict = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        lines = structured_relation(batch_df).select(
            "doc_id",
            F.explode(F.expr("split(struct_text, chr(10))")).alias("line"),
        ).select("doc_id", F.md5("line").alias("line_md5"))
        contrib = lines.groupBy("doc_id", "line_md5").agg(
            F.count("*").alias("occ")
        )

        # first-seen registry rows: this batch's min-doc owner for each
        # fingerprint the registry has never seen
        new = contrib.groupBy("line_md5").agg(
            F.min("doc_id").alias("keep_doc_id")
        )
        seen = read_log(
            spark, self.registry_path, self._schemas.get(self.registry_path),
            exclude_batch=batch_id,
        )
        if seen is not None:
            # materialize BEFORE overwriting the path the anti join
            # reads (same-path read-then-overwrite caveat, ADVICE r02)
            new = new.join(
                seen.select("line_md5"), "line_md5", "left_anti"
            ).localCheckpoint(eager=True)
        for df, path in ((new, self.registry_path),
                         (contrib, self.contrib_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)

    def registry_view(self, spark: SparkSession) -> DataFrame:
        """(line_md5, keep_doc_id): who owns each line.  min() collapses
        the impossible-but-cheap case of one fingerprint landing in two
        batch partitions (a replay racing a schedule change)."""
        log = read_log(
            spark, self.registry_path, self._schemas.get(self.registry_path)
        )
        return log.groupBy("line_md5").agg(
            F.min("keep_doc_id").alias("keep_doc_id")
        )

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """Per-doc dup shares, the ``text_line_dedup`` table: (doc_id,
        n_lines, n_dup_lines, dup_bp) — owners from the contrib log
        (one row per (doc, line) under the arrive-once contract), then
        the same join-back + per-doc aggregate as the batch twin."""
        contrib = read_log(
            spark, self.contrib_path, self._schemas.get(self.contrib_path)
        )
        owners = contrib.groupBy("line_md5").agg(
            F.count("*").alias("n_docs")
        )
        return (
            contrib.join(owners, "line_md5")
            .groupBy("doc_id")
            .agg(
                F.sum("occ").alias("n_lines"),
                F.sum(
                    F.when(F.col("n_docs") >= 2, F.col("occ")).otherwise(0)
                ).alias("n_dup_lines"),
            )
            .select(
                "doc_id",
                "n_lines",
                "n_dup_lines",
                F.expr("(n_dup_lines * 10000) div n_lines").alias("dup_bp"),
            )
        )
