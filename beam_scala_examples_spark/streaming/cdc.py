"""Streaming CDC compaction: the latest-state upsert view maintained
incrementally — the streaming twin of ``queries/behavior.py::
events_latest_state`` (batch oracle): fully distributed foreachBatch,
zero driver state, idempotent under batch replay.

At 100 TB-scale ingest this is the standard log->table maintenance loop:
each micro-batch contributes its per-key latest rows to a compaction log
(partitioned by batch_id so a replayed batch replaces itself), and the
log re-compacts to the serving view.  The log stays O(keys x batches
since last major compaction), not O(events); with Delta/Iceberg the
overwrite tail becomes a MERGE keyed on user_id and only changed keys
rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .logio import read_log, write_log_partition


def _latest_per_user(df: DataFrame, ev_id: str, ev_type: str, ts: str) -> DataFrame:
    """Per-user latest row by the total order (ts, event_id) — max_by
    over a struct key, one HashAggregate with map-side partial combine
    (never a per-user sort)."""
    pick = F.max_by(
        F.struct(
            F.col(ev_id).alias("last_event_id"),
            F.col(ev_type).alias("last_type"),
            F.col(ts).alias("last_ts"),
        ),
        F.struct(F.col(ts), F.col(ev_id)),
    ).alias("s")
    return df.groupBy("user_id").agg(pick).select(
        "user_id", "s.last_event_id", "s.last_type", "s.last_ts"
    )


class LatestStateSink:
    """foreachBatch sink maintaining the CDC upsert view.

    Per micro-batch:

    1. reduce the batch to one candidate row per user (its latest) and
       log it under ``batch_id`` (:mod:`.logio`: a replay replaces its
       own partition, so the log is exactly-once);
    2. re-compact the whole log to the per-user latest and overwrite
       the serving view (the lakehouse-MERGE stand-in).
    """

    def __init__(self, log_path: str, out_path: str):
        self.log_path = log_path
        self.out_path = out_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = _latest_per_user(batch_df, "event_id", "event_type", "ts")
        schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        compacted = _latest_per_user(
            read_log(spark, self.log_path, schema),
            "last_event_id",
            "last_type",
            "last_ts",
        )
        compacted.write.mode("overwrite").parquet(self.out_path)


class QuarantineSink:
    """Dead-letter routing: per micro-batch, rows failing the DQ row
    rules land in a quarantine table (with the failed rule name), clean
    rows in the main table — both :mod:`.logio` batch_id logs, so a
    replayed batch replaces itself on BOTH sides (the two writes stay
    consistent under retry).

    The rule predicates are the same strings `queries/dq.py` evaluates
    batch-side, so the stream gate and the audit report cannot drift.
    At scale this is the standard ingest quarantine: the main table
    only ever sees validated rows, and the quarantine table carries
    enough context (rule, full row) to replay after a fix."""

    def __init__(self, rules: list[tuple[str, str]], main_path: str,
                 quarantine_path: str):
        self.rules = rules          # [(rule_name, good-row predicate)]
        self.main_path = main_path
        self.quarantine_path = quarantine_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        failed = F.array_compact(
            F.array(
                *[
                    F.when(~F.expr(pred), F.lit(name))
                    for name, pred in self.rules
                ]
            )
        )
        tagged = batch_df.withColumn("failed_rules", failed)
        bad = tagged.filter(F.size("failed_rules") > 0)
        good = tagged.filter(F.size("failed_rules") == 0).drop("failed_rules")
        for df, path in ((good, self.main_path), (bad, self.quarantine_path)):
            write_log_partition(df, batch_id, path)
