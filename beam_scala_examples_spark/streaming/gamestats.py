"""Streaming GameStats (SURVEY §2.12 Q14; ``complete/game/GameStats.scala:68-305``).

Branch 1 — spam-filtered team scores: Beam computes per-window user sums,
derives a spammer map as a side input, and anti-joins it against the raw
events of the same window. Side inputs over windowed aggregates have no
streaming-native Spark equivalent (SURVEY §7.4), so the engine stages the
two-phase computation inside ``foreachBatch``: each micro-batch folds
into a versioned snapshot of per-(window, team, user) cents that also
carries each user's total, the spam limit comes back from an
``observe`` on the snapshot write, and the filtered windowed totals are
an ordinary batch aggregate of the snapshot — semantics equal to the
batch ``q14_spam_filtered_team_score`` on the same bounded data.

Branch 2 — mean session length per fixed window: chained stateful
operators (session_window agg -> time-window agg), supported natively on
Spark >= 3.5 with one watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..operators.agg import cents
from ..operators.windows import epoch_us
from .leaderboard import ALLOWED_LATENESS


def session_mean(events: DataFrame, gap: str = "3600 seconds",
                 out_window: str = "1 day",
                 lateness: str = ALLOWED_LATENESS) -> DataFrame:
    """Per-user sessions (gap-merged), then mean session minutes per fixed
    window of session end — two chained event-time aggregations
    (``GameStats.scala:147-177``).

    Boundary caveat: the re-window keys on ``window_time(sw)`` = session
    end − 1µs (Spark's watermark-tag rules forbid windowing on ``sw.end``
    itself), while the batch twin / DuckDB oracle window on ``s_end``.  A
    session ending *exactly* on an ``out_window`` boundary therefore lands
    in the preceding window here and the following window in the batch
    form.  The fixtures avoid that measure-zero alignment; at scale,
    either accept the 1µs convention or shift the batch twin to
    ``s_end − 1µs``.
    """
    sess = (
        events.withWatermark("ts", lateness)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    # window_time(sw) (= sw.end - 1µs) keeps the event-time watermark tag
    # across the chained aggregation; selecting sw.end would strip it.
    dur_us = epoch_us("sw.end") - epoch_us("sw.start")
    return (
        sess.select(
            F.window(F.window_time("sw"), out_window).alias("win"),
            dur_us.alias("dur_us"),
        )
        # group by the window *struct* — projecting win.start here would
        # strip the event-time tag and break append mode
        .groupBy("win")
        .agg(
            F.round(F.sum("dur_us") / (60_000_000.0 * F.count("*")), 4)
            .alias("mean_session_min")
        )
        .select(F.col("win.start").alias("win_start"), "mean_session_min")
    )


class SpamFilteredTeamScoresSink:
    """Production-shape streaming Q14 branch 1: fully distributed
    foreachBatch — the driver receives two scalars per call
    (``GameStats.scala:84-140``).

    State is one compacted snapshot per batch, versioned by ``batch_id``
    under ``<contrib_path>/snap-<batch_id>``: one row per (win_start,
    team, user_id) ever seen, with its score ``cents`` and the user's
    total ``user_cents``.  Per micro-batch:

    1. snapshot *b* = fold(newest snapshot with a lower id, batch *b*):
       the union is repartitioned once by ``user_id``, which serves both
       the (win_start, team, user_id) sum and the per-user window sum.
       An ``observe`` on the snapshot write returns the total cents and
       the user count, so the spam limit (user total > 2.5 x mean) needs
       no further job;
    2. snapshot *b* is read back, spammers' rows are dropped, and the
       windowed team totals overwrite the output table — each batch
       refines all panes, Beam's accumulating-mode side-input semantics.

    Only the predecessor and snapshot *b* are kept; every other snapshot
    is deleted.  Structured Streaming replays only the newest batch, so a
    replay of *b* finds the same predecessor and rewrites ``snap-b``
    from it — the sink is idempotent (exactly-once), and its state is
    O(windows x teams x users) rows whatever the run length.  The
    full-table overwrite stands in for a lakehouse MERGE keyed on
    (win_start, team).  The driver-dict twin below remains as the test
    oracle.
    """

    def __init__(self, contrib_path: str, out_path: str, window: str = "1 hour"):
        self.contrib_path = contrib_path
        self.out_path = out_path
        self.window = window

    def _snapshots(self, spark):
        """(FileSystem, {batch_id: Path}) of the snapshots on disk."""
        sc = spark.sparkContext
        pattern = sc._jvm.org.apache.hadoop.fs.Path(f"{self.contrib_path}/snap-*")
        fs = pattern.getFileSystem(sc._jsc.hadoopConfiguration())
        return fs, {
            int(st.getPath().getName()[len("snap-"):]): st.getPath()
            for st in fs.globStatus(pattern) or []
        }

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, snaps = self._snapshots(spark)
        prev = max((b for b in snaps if b < batch_id), default=None)
        rows = batch_df.select(
            F.window("ts", self.window).start.alias("win_start"),
            F.col("event_type").alias("team"),
            "user_id",
            cents("value").alias("cents"),
        )
        if prev is not None:
            rows = rows.unionByName(
                spark.read.schema(rows.schema).parquet(snaps[prev].toString()))
        by_user = Window.partitionBy("user_id")
        key = F.struct("win_start", "team")
        snap = (
            rows.repartition("user_id")
            .groupBy("win_start", "team", "user_id")
            .agg(F.sum("cents").alias("cents"))
            .select(
                "*",
                F.sum("cents").over(by_user).alias("user_cents"),
                (key == F.min(key).over(by_user)).alias("first_of_user"),
            )
        )
        # observe() rejects DISTINCT, so users are counted by the flag on
        # each user's first row
        obs = Observation()
        snap = snap.observe(
            obs,
            F.sum("cents").alias("cents"),
            F.count_if("first_of_user").alias("users"),
        ).drop("first_of_user")
        snap_path = f"{self.contrib_path}/snap-{int(batch_id)}"
        snap.write.mode("overwrite").parquet(snap_path)

        totals = obs.get
        state = spark.read.schema(snap.schema).parquet(snap_path)
        if totals["users"]:
            # the oracle's float operations, in its order: 2.5 x (sum / n)
            limit = 2.5 * (totals["cents"] / totals["users"])
            state = state.filter(~(F.col("user_cents") > limit))
        (
            state.groupBy("win_start", "team")
            .agg(F.round(F.sum("cents") / 100.0, 2).alias("total_score"))
            .write.mode("overwrite").parquet(self.out_path)
        )
        for b, path in snaps.items():
            if b not in (prev, batch_id):
                fs.delete(path, True)


class SpamFilteredTeamScores:
    """foreachBatch two-phase spam filter + windowed team totals —
    driver-dict TEST ORACLE for :class:`SpamFilteredTeamScoresSink`.

    Driver-side accumulation keeps exact user totals (integer cents) and
    per-(window, team) sums; each batch's emissions refine previous panes
    (update-mode semantics). ``result()`` returns the final refined state,
    which tests pin against the batch query.  Not the production path:
    state grows O(users + windows x teams x users) on the driver.
    """

    def __init__(self):
        self.user_cents: dict = {}
        self.win_team: dict = {}

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            "user_id",
            "event_type",
            F.window("ts", "1 hour").start.alias("win_start"),
            cents("value").alias("cents"),
        ).collect()
        for r in rows:
            self.user_cents[r.user_id] = self.user_cents.get(r.user_id, 0) + r.cents
            key = (r.win_start, r.event_type, r.user_id)
            self.win_team[key] = self.win_team.get(key, 0) + r.cents

    def result(self) -> list[tuple]:
        """Final spam-filtered (win_start, team, total_score) rows."""
        if not self.user_cents:
            return []
        mean = sum(self.user_cents.values()) / len(self.user_cents)
        spammers = {u for u, c in self.user_cents.items() if c > 2.5 * mean}
        agg: dict = {}
        for (win_start, team, user), cents in self.win_team.items():
            if user in spammers:
                continue
            agg[(win_start, team)] = agg.get((win_start, team), 0) + cents
        return [
            (win_start, team, round(cents / 100.0, 2))
            for (win_start, team), cents in sorted(agg.items())
        ]
