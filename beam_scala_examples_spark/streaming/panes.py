"""Pane-timing emulation (SURVEY §2.7 X6/X7; ``cookbook/TriggerExample.scala:342-361``).

Spark has no ``PaneInfo``; the engine derives Beam-style timing labels
from the semantics of the output mode:

 - **update mode** emissions are speculative refinements while the
   watermark is below the window end — Beam's EARLY panes (Spark evicts
   window state once the watermark passes, so a native update stream
   cannot re-fire a closed window);
 - **append mode** emits each window exactly once, when the watermark
   passes its end — Beam's ON_TIME pane;
 - a re-emission of an already-finalized (window, key) — possible only in
   engine-assisted refinement pipelines (e.g. a foreachBatch MERGE sink) —
   is labeled LATE via the finalized-pane dedup set.

This is precisely the X4 approximation documented in SURVEY §7.4: Beam's
late-firing panes beyond the watermark have no native Spark equivalent.

The per-batch watermark (from ``lastProgress``, one batch behind by
construction) is recorded as pane metadata, mirroring PaneInfo's
processing-time fields.

Scale note: labels are constants per batch/mode, so in a production sink
the timing column is a literal; the only state is the finalized-pane set,
which in a real deployment is the MERGE key of the target table rather
than driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .logio import read_log, write_log_partition


class PaneSink:
    """Production-shape pane sink — :class:`PaneTagger`'s scale note made
    real: the timing label is a per-batch literal column, the finalized
    set is the sink table's own keys, and nothing is collected to the
    driver.

    - ``update`` mode: every emission is a speculative refinement →
      ``timing = EARLY`` literal, appended with its ``batch_id``.
    - ``append`` mode: a pane whose (window, key) is absent from the
      sink table is ON_TIME; one already present (engine-assisted
      refinement / failure replay beyond the idempotent partition) is
      LATE — derived by a left join against the sink's distinct keys,
      the DataFrame form of a MERGE's matched/not-matched branches.

    Writes are partitioned by ``batch_id`` with dynamic partition
    overwrite, so replaying a batch replaces its own partition
    (exactly-once), like the compaction log in
    ``streaming/cdc.py``; the finalized-set read excludes the
    current batch's partition so a replay cannot relabel its own panes
    LATE.  (Structured Streaming only ever replays the latest
    uncommitted batch, which is exactly the case this covers.)
    """

    def __init__(self, path: str, win_end_col: str, key_cols: tuple[str, ...],
                 mode: str = "update"):
        if mode not in ("update", "append"):
            raise ValueError(f"mode must be update|append, got {mode!r}")
        self.path = path
        self.win_end_col = win_end_col
        self.key_cols = key_cols
        self.mode = mode
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.mode == "update":
            tagged = batch_df.withColumn("timing", F.lit("EARLY"))
        else:
            keys = [self.win_end_col, *self.key_cols]
            # exclude the current batch's own partition: on failure
            # replay the batch's previous write must not relabel its
            # own ON_TIME panes as LATE
            existing = read_log(
                batch_df.sparkSession, self.path, self._schema,
                exclude_batch=batch_id,
            )
            if existing is None:
                tagged = batch_df.withColumn("timing", F.lit("ON_TIME"))
            else:
                # no broadcast hint: the finalized-key set grows with
                # windows x keys — Catalyst/AQE picks the strategy
                seen = (
                    existing.select(*keys)
                    .distinct()
                    .withColumn("__seen", F.lit(True))
                )
                tagged = (
                    batch_df.join(seen, on=keys, how="left")
                    .withColumn(
                        "timing",
                        F.when(F.col("__seen"), F.lit("LATE"))
                        .otherwise(F.lit("ON_TIME")),
                    )
                    .drop("__seen")
                )
        self._schema = write_log_partition(tagged, batch_id, self.path)


class PaneTagger:
    """foreachBatch sink collecting panes with Beam-style timing labels.

    ``mode`` must match the query's output mode ("update" or "append").
    Attach the running query with ``attach()`` after ``start()`` so the
    per-batch watermark can be recorded as metadata.
    """

    def __init__(self, win_end_col: str, key_cols: tuple[str, ...],
                 mode: str = "update"):
        if mode not in ("update", "append"):
            raise ValueError(f"mode must be update|append, got {mode!r}")
        self.win_end_col = win_end_col
        self.key_cols = key_cols
        self.mode = mode
        self.query = None
        self._finalized: set = set()
        self._batch_keys: dict[int, set] = {}
        self.panes: list[dict] = []

    def attach(self, query) -> "PaneTagger":
        self.query = query
        return self

    def _watermark(self) -> str | None:
        if self.query is not None and self.query.lastProgress:
            return (self.query.lastProgress.get("eventTime") or {}).get("watermark")
        return None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        wm = self._watermark()
        if batch_id in self._batch_keys:
            # failure replay of this batch: forget its previous panes so
            # it cannot relabel its own ON_TIME output LATE — the
            # driver-dict analogue of PaneSink's batch-partition
            # exclusion (same replay shape, same answer)
            self._finalized -= self._batch_keys[batch_id]
            self.panes = [
                p for p in self.panes if p["processing_batch"] != batch_id
            ]
        self._batch_keys[batch_id] = set()
        for row in batch_df.collect():
            d = row.asDict()
            pane_key = (d[self.win_end_col], *(d[k] for k in self.key_cols))
            if self.mode == "update":
                d["timing"] = "EARLY"
            elif pane_key in self._finalized:
                d["timing"] = "LATE"
            else:
                d["timing"] = "ON_TIME"
                self._finalized.add(pane_key)
                self._batch_keys[batch_id].add(pane_key)
            d["processing_batch"] = batch_id
            d["watermark"] = wm
            self.panes.append(d)


class DeltaPaneSink:
    """Discarding-mode pane emission (X8, ``TriggerExample.scala:178,
    210,245,291``): converts Spark's update-mode ACCUMULATING
    refinements into Beam-style per-pane DELTAS — each firing emits
    only the increment since the key's previous emission, so the sink's
    output IS the reference's discarding pane table (260|6 then 60|1,
    30|1, 20|1, 60|1 for the worked regime-2 example) instead of the
    running totals Spark natively re-emits.

    Log-as-state (the ``IngestDedupSink`` discipline): the emitted
    deltas are partitioned by ``batch_id``; a key's last-emitted value
    is the SUM of its deltas in the log EXCLUDING the current batch's
    partition, so a replayed batch re-derives exactly the delta it
    owned and dynamic partition overwrite replaces it — idempotent
    under at-least-once delivery, with no mutable state table to
    corrupt.  Sum-of-deltas over the log always equals the latest
    accumulated value (pinned in tests).

    Scale: per batch, one aggregate over the log keyed on the pane key
    (O(panes emitted), not O(events) — update-mode batches carry
    pre-aggregated rows) and one left join against the batch's rows.
    With Delta/Iceberg the log append becomes a MERGE on
    (key, batch_id).  The batch rows are localCheckpoint-materialized
    before the write because the join reads the same path the write
    replaces (the dedupview lesson)."""

    def __init__(self, path: str, key_cols: tuple[str, ...],
                 value_cols: tuple[str, ...]):
        self.path = path
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        emitted = read_log(
            spark, self.path, self._schema, exclude_batch=batch_id
        )
        out = batch_df.select(*self.key_cols, *self.value_cols)
        if emitted is not None:
            prev = emitted.groupBy(*self.key_cols).agg(
                *[F.sum(c).alias(f"__prev_{c}") for c in self.value_cols]
            )
            out = (
                out.join(prev, self.key_cols, "left")
                .select(
                    *self.key_cols,
                    *[
                        (
                            F.col(c)
                            - F.coalesce(F.col(f"__prev_{c}"), F.lit(0))
                        ).alias(c)
                        for c in self.value_cols
                    ],
                )
                .localCheckpoint(eager=True)
            )
        self._schema = write_log_partition(out, batch_id, self.path)

    def panes(self, spark) -> DataFrame:
        """The discarding pane table: one row per (key, firing) with the
        pane's delta values, ordered by batch_id within a key."""
        return read_log(spark, self.path, self._schema)


def compact_delta_log(sink: DeltaPaneSink, spark, upto_batch: int) -> None:
    """Roll the DeltaPaneSink's history up to ``upto_batch`` into one
    base partition (``batch_id = -1``) — the log-structured-view
    compaction that bounds the per-batch re-aggregation cost for
    long-running streams: after compaction the log holds one row per
    key (the summed base) plus only the recent delta partitions, and
    every sink read (the emitted sums, ``panes``) keeps working
    unchanged because both only ever SUM over partitions.  The base's
    schema becomes the sink's log schema (a SUM may widen a value
    column).

    Safety contract: compact only batches the stream has COMMITTED
    (Structured Streaming replays at most the latest uncommitted batch,
    so ``upto_batch`` must be strictly below it); like
    ``io.compact_table`` this is the plain-parquet local-FS form —
    writers quiesced, and with Delta/Iceberg it becomes a MERGE +
    partition drop in one commit.  The base is materialized via
    localCheckpoint before any partition is touched (the write reads
    the same path it modifies)."""
    import shutil as _shutil

    base = (
        sink.panes(spark)
        .filter(F.col("batch_id") <= upto_batch)
        .groupBy(*sink.key_cols)
        .agg(*[F.sum(c).alias(c) for c in sink.value_cols])
        .localCheckpoint(eager=True)
    )
    sink._schema = write_log_partition(base, -1, sink.path)
    import os as _os

    for entry in _os.listdir(sink.path):
        if not entry.startswith("batch_id="):
            continue
        bid = int(entry.split("=", 1)[1])
        if 0 <= bid <= upto_batch:
            _shutil.rmtree(_os.path.join(sink.path, entry))


class SequentialPaneSink:
    """Batch-quantized ``AfterEach.inOrder`` emulation (X7,
    ``TriggerExample.scala:272-295``): Beam's sequential trigger — early
    processing-time firings until the watermark passes the window end,
    one ON_TIME firing at passage, then THROTTLED late firings — over
    Spark update-mode accumulating refinements.

    Mechanism (log-as-state, the house registry discipline):

     - every update-mode refinement is STAGED first (batch_id-partitioned
       ``staged`` log, stamped with its processing time from an
       injectable ``clock``);
     - at each batch, dueness is evaluated over what was staged BEFORE
       this batch (processing-time timers fire between arrivals in Beam;
       the batch boundary is where the emulation quantizes them):
       phase 1 (watermark below window end) fires a pane when
       ``early_delay_s`` has elapsed since the pane's first staged
       refinement; watermark passage fires the pending refinement as the
       single ON_TIME pane (the ``orFinally``); after that, phase 2
       fires pending refinements only once ``late_delay_s`` has elapsed
       since the pane's first one — so several late arrivals batch into
       ONE LATE pane, the behavior that distinguishes X7 from the X4
       composite;
     - a firing emits the pane's LATEST staged (accumulated) value and
       is logged to the batch_id-partitioned ``panes`` log with its
       timing label; "consumed" is derived, not stored: pending =
       staged rows with ``batch_id >= `` the key's last emission batch.

    Watermark: with ``event_time_col`` set (the preferred, data-driven
    mode) each staged refinement also carries that column's value (the
    pane's max event time, one extra ``max`` in the caller's aggregate)
    and the Beam-style watermark for batch b is DERIVED from the log:
    ``max`` staged event time over batches < b, minus
    ``watermark_skew_s`` — a global source watermark exactly as Beam
    computes one, advancing only as data arrives and lagging one batch
    behind the data that moved it (Beam's own watermark advances
    between bundles; the batch boundary is where this emulation
    quantizes that).  Because it is read from the same
    excludes-own-partition log as dueness, a replayed batch re-derives
    the identical watermark.  ``watermark_fn(batch_id)`` remains as an
    escape hatch for pipelines that track a domain watermark
    externally, and ``attach(query)`` falls back to Spark's own
    ``lastProgress`` watermark (useful only when allowed lateness is
    small — the reference's 1-day lateness keeps Spark's watermark far
    behind the Beam one, which is why the derived form is the default).

    Replay safety: both logs partition by batch_id with dynamic
    partition overwrite and every read for batch b excludes partition b
    (staged) / uses only earlier partitions, so a replayed batch
    re-derives exactly the emissions it owned — deterministic when
    ``clock`` is injected (tests); with the wall-clock default a replay
    may time differently, the same caveat Beam's own processing-time
    triggers carry.

    Approximation stated plainly: triggers are evaluated at batch
    boundaries, so a pane due between batches fires at the next batch
    with everything staged by then.  Beam makes no atomicity promise for
    processing-time triggers either; the quantization is the documented
    gap.  With this sink the reference's literal sequential pane table
    (EARLY 80|2, 100|3, 260|6; ON_TIME 320|7; LATE 430|10) is
    reproduced in one run — see the regime-4 sequential test.

    Scale: per batch, one aggregate over each log keyed on the pane key
    (O(panes), not O(events) — update batches carry pre-aggregated
    rows) and one write per log; with Delta/Iceberg both appends become
    MERGEs.
    """

    def __init__(
        self,
        base_path: str,
        win_end_col: str,
        key_cols: tuple[str, ...],
        value_cols: tuple[str, ...],
        *,
        early_delay_s: float = 60.0,
        late_delay_s: float = 300.0,
        event_time_col: str | None = None,
        watermark_skew_s: float = 0.0,
        clock=None,
        watermark_fn=None,
    ):
        import time as _time

        self.staged_path = f"{base_path}/seq_staged"
        self.panes_path = f"{base_path}/seq_panes"
        self.win_end_col = win_end_col
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        self.early_delay_s = float(early_delay_s)
        self.late_delay_s = float(late_delay_s)
        # Beam's watermark is decoupled from Spark's: the reference's
        # 1-day allowed lateness keeps Spark's own watermark (and state
        # eviction) far behind while the BEAM watermark passes the
        # window end.  ``event_time_col`` derives it from the staged
        # log (see class docstring); ``watermark_fn(batch_id) ->
        # timestamp-string | None`` overrides for externally-tracked
        # domain watermarks; ``attach`` falls back to Spark's own.
        self.event_time_col = event_time_col
        self.watermark_skew_s = float(watermark_skew_s)
        self.clock = clock if clock is not None else (
            lambda _bid: _time.time()
        )
        self.watermark_fn = watermark_fn
        self.query = None
        self._schemas: dict = {}

    def attach(self, query) -> "SequentialPaneSink":
        """Attach the running query so the per-batch watermark can be
        read from ``lastProgress`` (one batch behind by construction —
        the same lag PaneTagger documents)."""
        self.query = query
        return self

    def _watermark(self, batch_id: int, staged: DataFrame | None) -> str | None:
        if self.watermark_fn is not None:
            return self.watermark_fn(batch_id)
        if self.event_time_col is not None:
            # Data-driven: max staged event time over batches STRICTLY
            # EARLIER than this one, minus the allowed skew.  ``staged``
            # excludes the current partition; the extra ``batch_id <``
            # filter makes the strictly-earlier guarantee structural, so
            # a replayed batch re-derives the ORIGINAL run's watermark
            # even when later partitions already exist in the log.  One
            # tiny aggregate over the pane-keyed log, O(panes).
            if staged is None or "__max_ev" not in staged.columns:
                return None
            mx = (
                staged.filter(F.col("batch_id") < batch_id)
                .agg(F.max("__max_ev").alias("m"))
                .collect()[0]
                .m
            )
            if mx is None:
                return None
            from datetime import timedelta

            return (mx - timedelta(seconds=self.watermark_skew_s)).isoformat()
        if self.query is not None and self.query.lastProgress:
            return (self.query.lastProgress.get("eventTime") or {}).get(
                "watermark"
            )
        return None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        now = float(self.clock(bid))
        keys = [self.win_end_col, *self.key_cols]

        # 1. dueness over what was staged BEFORE this batch
        staged, emitted = (
            read_log(spark, path, self._schemas.get(path), exclude_batch=bid)
            for path in (self.staged_path, self.panes_path)
        )
        wm = self._watermark(bid, staged)
        emissions = None
        if staged is not None:
            if emitted is not None:
                state = emitted.groupBy(*keys).agg(
                    F.max("batch_id").alias("__last_emit"),
                    F.max(
                        F.when(F.col("timing") != "EARLY", True)
                    ).alias("__has_on_time"),
                )
                pend = staged.join(state, keys, "left").filter(
                    F.col("batch_id")
                    >= F.coalesce(F.col("__last_emit"), F.lit(-1))
                )
            else:
                pend = (
                    staged.withColumn("__last_emit", F.lit(None))
                    .withColumn("__has_on_time", F.lit(None))
                )
            pending = pend.groupBy(*keys).agg(
                F.min("staged_at").alias("__first_at"),
                F.max_by(
                    F.struct(*self.value_cols), F.col("batch_id")
                ).alias("__latest"),
                F.coalesce(F.max("__has_on_time"), F.lit(False)).alias(
                    "__has_on_time"
                ),
            )
            wm_passed = (
                (F.col(self.win_end_col) <= F.lit(wm).cast("timestamp"))
                if wm is not None
                else F.lit(False)
            )
            timing = (
                F.when(
                    wm_passed & ~F.col("__has_on_time"), F.lit("ON_TIME")
                )
                .when(
                    wm_passed
                    & F.col("__has_on_time")
                    & (F.lit(now) >= F.col("__first_at") + self.late_delay_s),
                    F.lit("LATE"),
                )
                .when(
                    ~wm_passed
                    & (
                        F.lit(now)
                        >= F.col("__first_at") + self.early_delay_s
                    ),
                    F.lit("EARLY"),
                )
                .otherwise(F.lit(None))
            )
            emissions = (
                pending.withColumn("timing", timing)
                .filter(F.col("timing").isNotNull())
                .select(
                    *keys,
                    *[
                        F.col("__latest").getField(c).alias(c)
                        for c in self.value_cols
                    ],
                    "timing",
                )
                .localCheckpoint(eager=True)  # reads the path it rewrites
            )
            if not emissions.take(1):
                emissions = None
        if emissions is not None:
            self._schemas[self.panes_path] = write_log_partition(
                emissions, bid, self.panes_path
            )

        # 2. stage this batch's refinements for the NEXT firing
        extra = (
            [F.col(self.event_time_col).alias("__max_ev")]
            if self.event_time_col is not None
            else []
        )
        contrib = batch_df.select(*keys, *self.value_cols, *extra).withColumn(
            "staged_at", F.lit(now)
        )
        self._schemas[self.staged_path] = write_log_partition(
            contrib, bid, self.staged_path
        )

    def panes(self, spark) -> DataFrame:
        """Emitted panes with timing labels, ordered by batch_id within
        a key — the sequential-trigger pane table."""
        return read_log(
            spark, self.panes_path, self._schemas.get(self.panes_path)
        )
