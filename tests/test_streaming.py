"""Streaming semantics tests (SURVEY §5 strategy: batch-equivalence on
bounded input + incremental feeds with controlled late data).

Each test replays the sf0.001 ``events`` fixture (or a crafted mini
stream) through the chunked file source, runs the streaming twin with
availableNow, and pins the final state against the DuckDB oracle of the
matching batch query.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time

import pytest

from pyspark.sql import functions as F

from beam_scala_examples_spark.streaming import cdc, gamestats, leaderboard, stateful
from beam_scala_examples_spark.streaming.panes import PaneSink, PaneTagger
from beam_scala_examples_spark.streaming.sources import (
    read_event_stream,
    write_arrival_chunks,
)
from beam_scala_examples_spark.queries import behavior, game

from .oracle_harness import duck_connect
from .test_plans import plan_str


@pytest.fixture(scope="module")
def event_rows(sf_dir):
    """All fixture events in ts order (arrival order = event-time order)."""
    con = duck_connect(sf_dir)
    rows = con.sql(
        "SELECT event_id, ts::VARCHAR AS ts, user_id, event_type, value "
        "FROM events ORDER BY ts, event_id"
    ).fetchall()
    con.close()
    return [
        dict(zip(("event_id", "ts", "user_id", "event_type", "value"), r))
        for r in rows
    ]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bese-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(df, mode, sink_fn, tmpdir):
    """Run a streaming query with availableNow into a foreachBatch sink."""
    q = (
        df.writeStream.outputMode(mode)
        .foreachBatch(sink_fn)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if isinstance(sink_fn, PaneTagger):
        sink_fn.attach(q)
    q.awaitTermination(300)
    return q


def _feed(spark, rows, tmpdir, chunk_size=200):
    write_arrival_chunks(rows, chunk_size, f"{tmpdir}/feed")
    return read_event_stream(spark, f"{tmpdir}/feed")


def _q13_team_oracle(sf_dir):
    con = duck_connect(sf_dir)
    expected = {
        (r[0], r[1]): r[2]
        for r in con.sql(game.ORACLE["q13_leaderboard_team"]).fetchall()
    }
    con.close()
    return expected


def test_leaderboard_team_final_state_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """X4: update-mode windowed totals with watermark — final refined state
    equals the batch q13 answer when lateness covers all late data."""
    stream = _feed(spark, event_rows, tmpdir)
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[(r.win_start, r.team)] = r.total_score

    _run_stream(leaderboard.team_scores(stream), "update", sink, tmpdir)
    assert final == _q13_team_oracle(sf_dir)


def test_stateful_stream_runs_one_state_partition(spark, sf_dir, event_rows, tmpdir):
    """The session's streaming width: a stateful query on a get_spark
    session keeps one state store per stateful operator (each store
    pays a task, a load and a commit per micro-batch), whatever the
    batch width, and its final state still equals the batch twin."""
    stream = _feed(spark, event_rows, tmpdir)
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[(r.win_start, r.team)] = r.total_score

    q = _run_stream(leaderboard.team_scores(stream), "update", sink, tmpdir)

    widths = [
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    ]
    assert widths and set(widths) == {1}
    assert final == _q13_team_oracle(sf_dir)


def test_user_scores_final_state_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """X5: global-window running user totals in update mode — the last
    emission per user equals the batch q11 total."""
    stream = _feed(spark, event_rows, tmpdir)
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[r.user_id] = r.total_score

    _run_stream(leaderboard.user_scores(stream), "update", sink, tmpdir)

    con = duck_connect(sf_dir)
    expected = {r[0]: r[1] for r in con.sql(game.ORACLE["q11_user_score"]).fetchall()}
    con.close()
    assert final == expected


def test_stateful_threshold_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """ST1: applyInPandasWithState threshold crossings replayed over the
    bounded stream equal the batch q15 answer (same event order)."""
    stream = _feed(spark, event_rows, tmpdir, chunk_size=250)
    emissions: list = []

    def sink(batch_df, _bid):
        emissions.extend(
            (r.team, r.event_id, r.total) for r in batch_df.collect()
        )

    _run_stream(stateful.threshold_crossings(stream), "append", sink, tmpdir)

    con = duck_connect(sf_dir)
    expected = {
        (r[0], r[1], r[2])
        for r in con.sql(game.ORACLE["q15_threshold_crossings"]).fetchall()
    }
    con.close()
    assert set(emissions) == expected
    assert len(emissions) == len(expected)  # each crossing fires exactly once


def test_session_mean_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """W3+W7 chained stateful ops: streaming session windows re-windowed
    into fixed windows equal the batch q14_session_mean answer. A
    far-future sentinel event advances the watermark so every real window
    closes; its own (excluded) window is the only difference."""
    sentinel = dict(event_rows[-1])
    sentinel["event_id"] = 10_000_000
    sentinel["ts"] = "2025-06-01 00:00:00"
    stream = _feed(spark, event_rows + [sentinel], tmpdir)
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[r.win_start] = r.mean_session_min

    _run_stream(
        gamestats.session_mean(stream, lateness="0 seconds"), "append", sink, tmpdir
    )

    con = duck_connect(sf_dir)
    expected = {
        r[0]: r[1] for r in con.sql(game.ORACLE["q14_session_mean"]).fetchall()
    }
    con.close()
    # drop the sentinel's own window if present
    final.pop(max(final), None) if final and max(final) not in expected else None
    assert final == expected


def test_spam_filter_foreachbatch_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """J5/N1: two-phase spam filter staged in foreachBatch equals the
    batch q14 anti-join result."""
    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = gamestats.SpamFilteredTeamScores()
    _run_stream(stream, "append", sink, tmpdir)

    con = duck_connect(sf_dir)
    expected = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(game.ORACLE["q14_spam_filtered_team_score"]).fetchall()
    )
    con.close()
    assert sink.result() == expected


def test_spam_filter_distributed_sink_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """J5/N1 production shape: the fully distributed foreachBatch sink
    (versioned snapshot fold + observed spam limit + filtered windowed
    overwrite — zero driver state, no collect) writes a final parquet
    table equal to the batch q14 oracle."""
    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = gamestats.SpamFilteredTeamScoresSink(
        f"{tmpdir}/contrib", f"{tmpdir}/spam_filtered"
    )
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        (r.win_start, r.team, r.total_score)
        for r in spark.read.parquet(f"{tmpdir}/spam_filtered").collect()
    )
    con = duck_connect(sf_dir)
    expected = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(game.ORACLE["q14_spam_filtered_team_score"]).fetchall()
    )
    con.close()
    assert got == expected


def _event_batch(spark, rows):
    """One micro-batch DataFrame of fixture event rows."""
    return spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
         for r in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))


def _spam_out(spark, tmpdir):
    return sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/spam_filtered").collect()
    )


def test_spam_filter_sink_batch_replay_idempotent(spark, event_rows, tmpdir):
    """Exactly-once: re-invoking the sink with the same batch_id (the
    failure-replay path) must not double-count — the batch's snapshot is
    rewritten from the same predecessor, not folded in twice.  Replayed
    both as the first batch (no predecessor) and as batch 1 after
    batches 0 and 1 (predecessor snapshot 0)."""
    for n_batches in (1, 2):
        path = f"{tmpdir}/run{n_batches}"
        sink = gamestats.SpamFilteredTeamScoresSink(
            f"{path}/contrib", f"{path}/spam_filtered"
        )
        oracle = gamestats.SpamFilteredTeamScores()
        for bid in range(n_batches):
            batch = _event_batch(spark, event_rows[300 * bid:300 * (bid + 1)])
            sink(batch, bid)
            oracle(batch, bid)
        once = _spam_out(spark, path)
        sink(batch, n_batches - 1)  # replay
        assert _spam_out(spark, path) == once
        assert once == oracle.result()


def test_spam_filter_sink_state_stays_bounded(spark, event_rows, tmpdir):
    """The sink keeps only the newest snapshot and its predecessor, so its
    state does not grow with the number of batches, and the output still
    equals the driver-dict oracle."""
    contrib = f"{tmpdir}/contrib"
    sink = gamestats.SpamFilteredTeamScoresSink(contrib, f"{tmpdir}/spam_filtered")
    oracle = gamestats.SpamFilteredTeamScores()
    per = -(-len(event_rows) // 8)
    for bid in range(8):
        batch = _event_batch(spark, event_rows[per * bid:per * (bid + 1)])
        sink(batch, bid)
        oracle(batch, bid)
    kept = [e for e in os.listdir(contrib) if not e.startswith((".", "_"))]
    assert len(kept) <= 2 and all(e.startswith("snap-") for e in kept), kept
    assert _spam_out(spark, tmpdir) == oracle.result()


def test_spam_filter_sink_runs_few_jobs(spark, event_rows, tmpdir):
    """Cost guard: one sink call on a 600-row batch with a predecessor
    snapshot runs at most 5 Spark jobs (a snapshot fold and an output
    overwrite, each a shuffle stage plus its result stage)."""
    sink = gamestats.SpamFilteredTeamScoresSink(
        f"{tmpdir}/contrib", f"{tmpdir}/spam_filtered"
    )
    sink(_event_batch(spark, event_rows[:400]), 0)
    batch = _event_batch(spark, event_rows[400:1000])
    assert batch.count() == 600
    sc = spark.sparkContext
    group = f"spam-sink-{os.path.basename(tmpdir)}"
    sc.setJobGroup(group, "one spam sink call")
    try:
        sink(batch, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_pane_timing_early_and_ontime(spark, tmpdir):
    """X6: pane-timing labels. Update mode yields EARLY refinements while
    the watermark is below window end; append mode yields the single
    ON_TIME pane once the watermark passes it. (Beam LATE panes beyond the
    watermark are not expressible natively — SURVEY §7.4.)"""
    rows = [
        # window A = [00:00, 00:10)
        {"event_id": 1, "ts": "2024-01-01 00:05:00", "user_id": 1,
         "event_type": "A", "value": 10.0},
        # refinement for A while watermark still below A's end
        {"event_id": 2, "ts": "2024-01-01 00:08:00", "user_id": 1,
         "event_type": "A", "value": 1.0},
        # advance watermark past A's end (lateness 60 min)
        {"event_id": 3, "ts": "2024-01-01 02:00:00", "user_id": 1,
         "event_type": "B", "value": 5.0},
        {"event_id": 4, "ts": "2024-01-01 04:00:00", "user_id": 1,
         "event_type": "B", "value": 5.0},
    ]
    write_arrival_chunks(rows, 1, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")

    def agg(df):
        return (
            df.withWatermark("ts", "60 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
            .agg(F.sum("value").alias("total"))
            .select(
                F.col("win.end").alias("win_end"),
                F.col("event_type").alias("team"),
                "total",
            )
        )

    early = PaneTagger("win_end", ("team",), mode="update")
    _run_stream(agg(stream), "update", early, f"{tmpdir}/u")
    a_panes = [p for p in early.panes if p["team"] == "A"]
    assert [p["timing"] for p in a_panes] == ["EARLY", "EARLY"]
    assert [p["total"] for p in a_panes] == [10.0, 11.0]

    ontime = PaneTagger("win_end", ("team",), mode="append")
    _run_stream(agg(stream), "append", ontime, f"{tmpdir}/a")
    a_final = [p for p in ontime.panes if p["team"] == "A"]
    assert [(p["timing"], p["total"]) for p in a_final] == [("ON_TIME", 11.0)]

    # Production sink variant (PaneSink): literal timing column, sink
    # table as the finalized set, no driver collection — same labels.
    esink = PaneSink(f"{tmpdir}/panes_u", "win_end", ("team",), mode="update")
    _run_stream(agg(stream), "update", esink, f"{tmpdir}/u2")
    urows = spark.read.parquet(f"{tmpdir}/panes_u").filter("team = 'A'")
    assert sorted((r.timing, r.total) for r in urows.collect()) == [
        ("EARLY", 10.0), ("EARLY", 11.0)
    ]

    asink = PaneSink(f"{tmpdir}/panes_a", "win_end", ("team",), mode="append")
    _run_stream(agg(stream), "append", asink, f"{tmpdir}/a2")
    arows = spark.read.parquet(f"{tmpdir}/panes_a").filter("team = 'A'")
    assert [(r.timing, r.total) for r in arows.collect()] == [("ON_TIME", 11.0)]


def test_pane_tagger_replay_keeps_labels(spark):
    """The driver-dict PaneTagger must answer the latest-batch replay
    exactly like PaneSink: no LATE relabel, no duplicate pane records."""
    tagger = PaneTagger("win_end", ("team",), mode="append")
    mk = lambda total: spark.createDataFrame(
        [("2024-01-01 00:10:00", "A", total)],
        "win_end string, team string, total double",
    ).withColumn("win_end", F.to_timestamp("win_end"))
    tagger(mk(11.0), 0)
    tagger(mk(11.0), 0)  # failure replay of the latest batch
    assert [(p["timing"], p["total"]) for p in tagger.panes] == [
        ("ON_TIME", 11.0)
    ]
    tagger(mk(12.0), 1)
    assert [(p["timing"], p["total"]) for p in tagger.panes] == [
        ("ON_TIME", 11.0), ("LATE", 12.0)
    ]


def test_pane_sink_labels_reemission_late(spark, tmpdir):
    """X6 LATE: a (window, key) re-emitted after its pane is finalized in
    the sink table gets the LATE label via the sink-key join (the MERGE
    matched-branch), entirely on the executors."""
    sink = PaneSink(f"{tmpdir}/panes", "win_end", ("team",), mode="append")
    mk = lambda total: spark.createDataFrame(
        [("2024-01-01 00:10:00", "A", total)], "win_end string, team string, total double"
    ).withColumn("win_end", F.to_timestamp("win_end"))
    sink(mk(11.0), 0)
    # replaying the latest batch (Structured Streaming's only replay
    # shape: failure before the commit) must NOT relabel its own pane
    # LATE against its previously written partition
    sink(mk(11.0), 0)
    assert sorted(
        (r.batch_id, r.timing, r.total)
        for r in spark.read.parquet(f"{tmpdir}/panes").collect()
    ) == [(0, "ON_TIME", 11.0)]
    sink(mk(12.0), 1)   # refinement of a finalized pane -> LATE
    rows = sorted(
        (r.batch_id, r.timing, r.total)
        for r in spark.read.parquet(f"{tmpdir}/panes").collect()
    )
    assert rows == [(0, "ON_TIME", 11.0), (1, "LATE", 12.0)]
    # replaying batch 1 replaces its own partition and keeps its label
    sink(mk(12.0), 1)
    assert sorted(
        (r.batch_id, r.timing, r.total)
        for r in spark.read.parquet(f"{tmpdir}/panes").collect()
    ) == rows


def test_late_data_dropped_at_zero_lateness(spark, tmpdir):
    """X1: watermark-driven default trigger with allowedLateness=0 — a row
    arriving after the watermark passed its window end is dropped, never
    refining the emitted pane (append mode = fire-once-at-watermark)."""
    rows = [
        # window A = [00:00, 00:10)
        {"event_id": 1, "ts": "2024-01-01 00:05:00", "user_id": 1,
         "event_type": "A", "value": 10.0},
        # advance the watermark far past A's end
        {"event_id": 2, "ts": "2024-01-01 02:00:00", "user_id": 1,
         "event_type": "A", "value": 5.0},
        # filler batch: Spark filters late rows with the PREVIOUS batch's
        # committed watermark, so the advance must be one batch old before
        # the late row arrives
        {"event_id": 3, "ts": "2024-01-01 02:30:00", "user_id": 1,
         "event_type": "C", "value": 2.0},
        # LATE: inside window A, behind the committed watermark -> dropped
        {"event_id": 4, "ts": "2024-01-01 00:06:00", "user_id": 1,
         "event_type": "A", "value": 99.0},
        # close the 02:00 window
        {"event_id": 5, "ts": "2024-01-01 04:00:00", "user_id": 1,
         "event_type": "A", "value": 1.0},
    ]
    write_arrival_chunks(rows, 1, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    emitted: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            emitted[r.win_start.isoformat()] = r.total_score

    _run_stream(
        leaderboard.team_scores(stream, window="10 minutes",
                                lateness="0 seconds"),
        "append", sink, tmpdir,
    )
    # pane A fired once at the watermark with ONLY the on-time row
    assert emitted["2024-01-01T00:00:00"] == 10.0
    assert emitted["2024-01-01T02:00:00"] == 5.0


def test_late_data_refires_within_allowed_lateness(spark, tmpdir):
    """X2: allowedLateness > 0 — a late row whose window the watermark has
    not yet expired re-fires that window with the refined total (update
    mode re-emits the row; Beam emits a late pane)."""
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:05:00", "user_id": 1,
         "event_type": "A", "value": 10.0},
        # max event time -> 02:00; watermark = 00:00 (2h lateness), so
        # window A = [00:00, 00:10) is still live
        {"event_id": 2, "ts": "2024-01-01 02:00:00", "user_id": 1,
         "event_type": "A", "value": 5.0},
        # LATE but within lateness: refines window A
        {"event_id": 3, "ts": "2024-01-01 00:06:00", "user_id": 1,
         "event_type": "A", "value": 90.0},
    ]
    write_arrival_chunks(rows, 1, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    fires: list = []

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            fires.append((r.win_start.isoformat(), r.total_score))

    _run_stream(
        leaderboard.team_scores(stream, window="10 minutes",
                                lateness="2 hours"),
        "update", sink, tmpdir,
    )
    a_fires = [v for w, v in fires if w == "2024-01-01T00:00:00"]
    # first the on-time pane, then the late re-fire with the refined total
    assert a_fires[0] == 10.0
    assert a_fires[-1] == 100.0
    assert len(a_fires) >= 2


def test_streaming_word_extract_matches_batch(spark, tmpdir):
    """Q6 streaming twin: the stateless lines->words->uppercase pipeline
    over a text file stream equals its batch run on the same files."""
    import os

    from beam_scala_examples_spark.operators.text import tokenize

    feed = f"{tmpdir}/feed"
    os.makedirs(feed)
    lines = ["To be or not to be", "that is the question", ""]
    for i, chunk in enumerate([lines[:1], lines[1:]]):
        with open(f"{feed}/part_{i:03d}.txt", "w") as f:
            f.write("\n".join(chunk) + "\n")

    stream = spark.readStream.format("text").option(
        "maxFilesPerTrigger", 1
    ).load(feed)
    upper = tokenize(stream, "value").select(F.upper("word").alias("word_upper"))
    seen: list = []

    def sink(batch_df, _bid):
        seen.extend(r.word_upper for r in batch_df.collect())

    _run_stream(upper, "append", sink, tmpdir)

    batch = tokenize(spark.read.text(feed), "value").select(
        F.upper("word").alias("word_upper")
    )
    assert sorted(seen) == sorted(r.word_upper for r in batch.collect())


def test_stream_static_left_count_join(spark, sf_dir, event_rows, tmpdir):
    """Stream-static LEFT join (J1's shape with an unbounded probe side
    and unmatched rows kept): per-batch the static side broadcasts;
    final per-nation event counts equal the batch join.  (Named apart
    from test_stream_static_enrichment_join below — that one is the
    inner-join exact-cents variant; an earlier revision gave both the
    same name and pytest silently ran only the second.)"""
    static_dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    stream = _feed(spark, event_rows, tmpdir, chunk_size=400)
    enriched = (
        stream.join(F.broadcast(static_dim), "user_id", "left")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[r.c_nationkey] = r.n

    _run_stream(enriched, "update", sink, tmpdir)

    batch = {
        r["c_nationkey"]: r["n"]
        for r in (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .join(F.broadcast(static_dim), "user_id", "left")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert final == batch


def test_stateful_threshold_tws_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """ST1 via the Spark 4 transformWithState API: same emissions as the
    batch q15 oracle and as the applyInPandasWithState form.

    transformWithState's python state server speaks protobuf; skip where
    the container lacks it (the applyInPandasWithState twin above covers
    the semantics either way)."""
    pytest.importorskip("google.protobuf")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = _feed(spark, event_rows, tmpdir, chunk_size=250)
        emissions: list = []

        def sink(batch_df, _bid):
            emissions.extend(
                (r.team, r.event_id, r.total) for r in batch_df.collect()
            )

        _run_stream(
            stateful.threshold_crossings_tws(stream), "append", sink, tmpdir
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    con = duck_connect(sf_dir)
    expected = {
        (r[0], r[1], r[2])
        for r in con.sql(game.ORACLE["q15_threshold_crossings"]).fetchall()
    }
    con.close()
    assert set(emissions) == expected
    assert len(emissions) == len(expected)


def test_stateful_threshold_survives_arrow_chunking(spark, sf_dir, event_rows, tmpdir):
    """The crossing fold must sort the WHOLE micro-batch, not each Arrow
    chunk: with a tiny arrow batch size and arrival order != event-time
    order, a per-chunk sort folds events out of global order and emits
    wrong crossings."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "20")
    try:
        by_event_id = sorted(event_rows, key=lambda r: r["event_id"])
        stream = _feed(spark, by_event_id, tmpdir, chunk_size=len(by_event_id))
        emissions: list = []

        def sink(batch_df, _bid):
            emissions.extend(
                (r.team, r.event_id, r.total) for r in batch_df.collect()
            )

        _run_stream(stateful.threshold_crossings(stream), "append", sink, tmpdir)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    con = duck_connect(sf_dir)
    expected = {
        (r[0], r[1], r[2])
        for r in con.sql(game.ORACLE["q15_threshold_crossings"]).fetchall()
    }
    con.close()
    assert set(emissions) == expected


def test_processing_time_trigger_periodic_firing(spark, tmpdir):
    """X3/X5: a processing-time trigger fires periodically over a live
    source; the running totals converge to the batch answer. (All other
    tests use availableNow for determinism; this one pins the periodic
    trigger mechanism itself.)"""
    import time as _time

    rows = [
        {"event_id": i, "ts": f"2024-01-01 00:{i:02d}:00", "user_id": i % 3,
         "event_type": "A", "value": float(i)}
        for i in range(12)
    ]
    write_arrival_chunks(rows, 3, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[r.user_id] = r.total_score

    q = (
        leaderboard.user_scores(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = [p for p in q.recentProgress if p["numInputRows"] == 0]
            if len(done) >= 2 and len(final) == 3:
                break
            _time.sleep(0.5)
    finally:
        q.stop()

    expected = {u: round(sum(float(i) for i in range(12) if i % 3 == u), 2)
                for u in range(3)}
    assert final == expected


def test_streaming_dedup_within_watermark(spark, tmpdir):
    """Streaming exact dedup: duplicate events (same event_id) replayed
    within the watermark are emitted once — dropDuplicatesWithinWatermark
    is the streaming twin of the batch dedup_exact/distinct family."""
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "user_id": 1,
         "event_type": "A", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:02:00", "user_id": 1,
         "event_type": "A", "value": 2.0},
        # duplicate delivery of event 1 in a later micro-batch
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "user_id": 1,
         "event_type": "A", "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01 00:03:00", "user_id": 1,
         "event_type": "A", "value": 3.0},
    ]
    write_arrival_chunks(rows, 1, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    seen: list = []

    def sink(batch_df, _bid):
        seen.extend(r.event_id for r in batch_df.collect())

    _run_stream(deduped, "append", sink, tmpdir)
    assert sorted(seen) == [1, 2, 3]


def test_calendar_month_streaming_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """W4 streamed: F.window cannot express variable-length calendar
    months, but grouping on date_trunc('month', ts) in update mode keeps
    running month totals — final state equals the batch calendar-month
    aggregation."""
    stream = _feed(spark, event_rows, tmpdir, chunk_size=400)
    agg = (
        stream.groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(F.count("*").alias("n"))
    )
    final: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            final[r.month] = r.n

    _run_stream(agg, "update", sink, tmpdir)

    from beam_scala_examples_spark.tables import load

    batch = {
        r["month"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == batch


def test_streaming_windowed_file_write(spark, sf_dir, event_rows, tmpdir):
    """S5 streamed: one file set per window via foreachBatch + the
    windowed-file writer — the streaming twin of WriteOneFilePerWindow."""
    import glob
    import os

    from beam_scala_examples_spark import io as bio

    # two micro-batches: dynamic partition overwrite must keep batch 1's
    # windows when batch 2 writes different ones
    stream = _feed(spark, event_rows[:400], tmpdir, chunk_size=200)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    out = f"{tmpdir}/winfiles"

    def sink(batch_df, _bid):
        # no count() guard: an empty dynamic-overwrite write touches no
        # partitions, and a count here would recompute the whole agg
        bio.write_windowed_files(batch_df, out, "win_start")

    _run_stream(agg, "update", sink, tmpdir)

    dirs = sorted(
        os.path.basename(d) for d in glob.glob(f"{out}/window_start=*")
    )
    assert dirs, "no per-window directories written"
    # every window of the full input must survive the multi-batch run
    # (dynamic overwrite: batch 2 must not wipe batch 1's windows)
    from beam_scala_examples_spark.tables import load

    expected_windows = {
        r["w"]
        for r in load(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(400)
        .select(F.window("ts", "1 hour").getField("start").alias("w"))
        .distinct()
        .collect()
    }
    got_windows = {
        r["win_start"]
        for r in spark.read.parquet(out).select("win_start").distinct().collect()
    }
    assert got_windows == expected_windows


def test_stream_static_enrichment_join(spark, sf_dir, event_rows, tmpdir):
    """Stream-static join: the event stream enriches each micro-batch
    against a static dimension snapshot (customer -> nation) — the
    Structured Streaming capability behind dim-table enrichment at
    ingest. Final per-nation purchase totals must equal the equivalent
    batch join (exact cents; users map onto custkeys by id)."""
    from beam_scala_examples_spark.operators.agg import cents
    from beam_scala_examples_spark.tables import load

    stream = _feed(spark, event_rows, tmpdir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(cust, "user_id")  # static side: re-read per micro-batch
        .groupBy("c_nationkey")
        .agg(F.sum(cents("value")).alias("total_cents"))
    )
    state: dict[int, int] = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():  # test sink only: final-state capture
            state[r.c_nationkey] = r.total_cents

    _run_stream(enriched, "update", sink, tmpdir)

    batch = (
        spark.createDataFrame(
            [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
             for r in event_rows],
            schema="event_id long, ts string, user_id long, event_type string, value double",
        )
        .filter(F.col("event_type") == "purchase")
        .join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(F.sum(cents("value")).alias("total_cents"))
    )
    expect = {r.c_nationkey: r.total_cents for r in batch.collect()}
    assert state == expect


def test_stream_stream_interval_join(spark, sf_dir, event_rows, tmpdir):
    """Stream-stream interval self-join (streaming/joins.py): clicks
    within 1 hour before each purchase, correlated across two watermarked
    views of one unbounded stream.  Inner joins emit eagerly, so the
    bounded replay's full output must equal the batch twin
    (events_clicks_before_purchase) row for row — same oracle, per the
    engine's twin rule."""
    from beam_scala_examples_spark.queries.temporal import (
        events_clicks_before_purchase,
    )
    from beam_scala_examples_spark.streaming.joins import (
        clicks_before_purchases,
    )

    stream = _feed(spark, event_rows, tmpdir, chunk_size=500)
    joined = clicks_before_purchases(stream)
    got: list[tuple] = []

    def sink(batch_df, _bid):
        got.extend(
            (r.event_id, r.click_event_id, r.gap_us)
            for r in batch_df.collect()
        )

    _run_stream(joined, "append", sink, tmpdir)

    expect = [
        (r.event_id, r.click_event_id, r.gap_us)
        for r in events_clicks_before_purchase(spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(expect)
    assert len(got) == len(set(got))  # eager emit must not duplicate pairs


def test_stream_stream_outer_interval_join(spark, sf_dir, event_rows, tmpdir):
    """LEFT OUTER stream-stream join: click-less purchases must surface
    with null click columns — but only after the watermark proves no
    match can arrive, so the replay appends a far-future sentinel click
    to flush the tail.  Final output (sentinel rows dropped) must equal
    the batch twin events_purchase_attribution."""
    from beam_scala_examples_spark.queries.temporal import (
        events_purchase_attribution,
    )
    from beam_scala_examples_spark.streaming.joins import (
        clicks_before_purchases,
    )

    from beam_scala_examples_spark.streaming.sources import (
        write_arrival_groups,
    )

    # Two sentinel chunks, each its own micro-batch, each advancing BOTH
    # sides: the join's global watermark is the MIN of the click-side and
    # purchase-side watermarks (Spark's multipleWatermarkPolicy default),
    # so a click-only sentinel leaves the purchase watermark — and the
    # tail purchase's null row — stuck.  And the watermark only advances
    # at a batch boundary with eviction running in the batch AFTER, so
    # two sentinel batches are needed, not one.
    sentinels = []
    for n, ts in enumerate(("2025-06-01 00:00:00", "2025-06-01 01:00:00")):
        group = []
        for k, etype in enumerate(("click", "purchase")):
            s = dict(event_rows[-1])
            s["event_id"] = 10_000_000 + 2 * n + k
            s["event_type"] = etype
            s["user_id"] = -1 - k  # matches nothing real
            s["ts"] = ts
            group.append(s)
        sentinels.append(group)
    groups = [
        event_rows[i : i + 500] for i in range(0, len(event_rows), 500)
    ] + sentinels
    write_arrival_groups(groups, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    joined = clicks_before_purchases(stream, how="left_outer")
    got: list[tuple] = []

    def sink(batch_df, _bid):
        got.extend(
            (r.event_id, r.click_event_id, r.gap_us)
            for r in batch_df.collect()
            if r.event_id < 10_000_000  # sentinels' own rows
        )

    _run_stream(joined, "append", sink, tmpdir)

    expect = [
        (r.event_id, r.click_event_id, r.gap_us)
        for r in events_purchase_attribution(spark, sf_dir).collect()
    ]
    assert sorted(got, key=repr) == sorted(expect, key=repr)


def test_cdc_latest_state_sink_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Streaming CDC compaction: the distributed foreachBatch upsert view
    (contribution log + re-compaction, zero driver state) converges to
    the batch events_latest_state oracle after the bounded replay."""
    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = cdc.LatestStateSink(f"{tmpdir}/cdc_log", f"{tmpdir}/cdc_out")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        (r.user_id, r.last_event_id, r.last_type, r.last_ts)
        for r in spark.read.parquet(f"{tmpdir}/cdc_out").collect()
    )
    con = duck_connect(sf_dir)
    expected = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.sql(behavior.ORACLE["events_latest_state"]).fetchall()
    )
    con.close()
    assert got == expected


def test_cdc_latest_state_replay_idempotent(spark, event_rows, tmpdir):
    """Replaying a batch (same batch_id) must leave the serving view
    unchanged — the log partition is replaced, not appended."""
    rows = event_rows[:600]
    sink = cdc.LatestStateSink(f"{tmpdir}/cdc_log", f"{tmpdir}/cdc_out")
    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
         for r in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(batch, 0)
    once = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/cdc_out").collect()
    )
    sink(batch, 0)  # replay
    twice = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/cdc_out").collect()
    )
    assert once == twice


def test_streaming_reach_view_equals_batch_sketch(spark, sf_dir, event_rows, tmpdir):
    """Mergeable-sketch maintenance: the streamed per-(day, type) HLL
    reach view (per-batch sketch parts + register-wise union) must be
    BIT-IDENTICAL in estimate to sketching the full table in one batch
    pass — the union-of-parts == sketch-of-whole invariant, end-to-end
    through the foreachBatch log."""
    from beam_scala_examples_spark.operators.sketches import hll_reach
    from beam_scala_examples_spark.streaming.sketchview import ReachViewSink
    from beam_scala_examples_spark.tables import load

    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = ReachViewSink(f"{tmpdir}/reach_log", f"{tmpdir}/reach_out")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        (r.day, r.event_type, r.reach_est)
        for r in spark.read.parquet(f"{tmpdir}/reach_out").collect()
    )
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type", "user_id"
    )
    expected = sorted(
        (r.day, r.event_type, r.reach_est)
        for r in hll_reach(ev, ["day", "event_type"], "user_id").collect()
    )
    assert got == expected


def test_quarantine_sink_routes_and_matches_batch_rules(spark, sf_dir, event_rows, tmpdir):
    """DQ dead-letter routing: the streamed quarantine split must agree
    exactly with evaluating the same rule predicates in one batch pass —
    same rows on each side, rule names attached to the quarantined."""
    from beam_scala_examples_spark.queries.dq import ROW_RULES
    from beam_scala_examples_spark.streaming.cdc import QuarantineSink
    from beam_scala_examples_spark.tables import load

    rules = [(r, p) for t, r, p in ROW_RULES if t == "events"]
    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = QuarantineSink(rules, f"{tmpdir}/dq_main", f"{tmpdir}/dq_quar")
    _run_stream(stream, "append", sink, tmpdir)

    main_ids = {r.event_id for r in spark.read.parquet(f"{tmpdir}/dq_main").collect()}
    try:
        quar = spark.read.parquet(f"{tmpdir}/dq_quar").collect()
    except Exception:
        quar = []  # no violations in the fixture -> no quarantine files
    quar_ids = {r.event_id for r in quar}

    ev = load(spark, sf_dir, "events")
    ok = F.lit(True)
    for _, pred in rules:
        ok = ok & F.expr(pred)
    expected_good = {r.event_id for r in ev.filter(ok).collect()}
    expected_bad = {r.event_id for r in ev.filter(~ok).collect()}
    assert main_ids == expected_good
    assert quar_ids == expected_bad
    assert main_ids.isdisjoint(quar_ids)


def _append_chunks(rows, chunk_size, feed):
    """New chunks that arrive while a query is down: names continue the
    sequence, mtimes strictly later than write_arrival_chunks' files."""
    base = time.time()
    for n, i in enumerate(range(0, len(rows), chunk_size)):
        path = os.path.join(feed, f"chunk_1{n:04d}.json")
        with open(path, "w") as f:
            for r in rows[i : i + chunk_size]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (base + n, base + n))


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, event_rows, tmpdir):
    """Recovery contract: a query restarted on the SAME checkpoint after
    new chunks arrive must process only the unseen files — already-
    consumed batches are not re-read (the source offset log), the
    replay-idempotent sink absorbs any boundary overlap, and the final
    serving view still equals the batch oracle over all rows."""
    half = len(event_rows) // 2
    feed = f"{tmpdir}/feed"
    write_arrival_chunks(event_rows[:half], 300, feed)
    sink = cdc.LatestStateSink(f"{tmpdir}/cdc_log", f"{tmpdir}/cdc_out")
    _run_stream(read_event_stream(spark, feed), "append", sink, tmpdir)
    n_batches_run1 = (
        spark.read.parquet(f"{tmpdir}/cdc_log")
        .select("batch_id").distinct().count()
    )

    _append_chunks(event_rows[half:], 300, feed)

    # restart on the same checkpoint
    _run_stream(read_event_stream(spark, feed), "append", sink, tmpdir)

    log = spark.read.parquet(f"{tmpdir}/cdc_log")
    n_batches_run2 = log.select("batch_id").distinct().count()
    assert n_batches_run2 > n_batches_run1  # resumed, with NEW batch ids

    got = sorted(
        (r.user_id, r.last_event_id, r.last_type, r.last_ts)
        for r in spark.read.parquet(f"{tmpdir}/cdc_out").collect()
    )
    con = duck_connect(sf_dir)
    expected = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.sql(behavior.ORACLE["events_latest_state"]).fetchall()
    )
    con.close()
    assert got == expected


def test_checkpoint_manager_is_filesystem_based(spark, tmpdir):
    """Checkpoint files go through Spark's FileSystem-API manager, which
    renames without forking readlink.  Resolved the way a stream
    resolves it, so a moved or renamed class fails here, loudly."""
    from beam_scala_examples_spark.session import CHECKPOINT_FILE_MANAGER

    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file:{tmpdir}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER
    assert (
        manager.getClass().getSimpleName()
        == "FileSystemBasedCheckpointFileManager"
    )


def test_stateful_replay_onto_existing_state_delta(
    spark, sf_dir, event_rows, tmpdir
):
    """Crash after a state commit but before the commit log: the last
    data batch of a team-scores stream re-runs onto the state delta its
    first run wrote (the FileSystem manager keeps an existing file) and
    emits the same rows; a fresh query then loads that state from files
    and ends at the batch oracle."""
    half = len(event_rows) // 2
    feed, ckpt = f"{tmpdir}/feed", f"{tmpdir}/ckpt"
    write_arrival_chunks(event_rows[:half], 300, feed)
    emitted: dict = {}
    final: dict = {}

    def sink(batch_df, bid):
        rows = batch_df.collect()
        emitted.setdefault(bid, []).append(sorted(map(tuple, rows)))
        for r in rows:
            final[(r.win_start, r.team)] = r.total_score

    def run():
        stream = read_event_stream(spark, feed)
        return _run_stream(leaderboard.team_scores(stream), "update", sink, tmpdir)

    q = run()
    last = max(p["batchId"] for p in q.recentProgress if p["numInputRows"])
    newest = max(int(n) for n in os.listdir(f"{ckpt}/offsets") if n.isdigit())
    assert newest > last  # a no-data (watermark) batch closed run 1
    assert os.path.exists(f"{ckpt}/state/0/0/{last + 1}.delta")
    for log, bid in (("offsets", newest), ("commits", newest), ("commits", last)):
        for name in (str(bid), f".{bid}.crc"):
            os.remove(f"{ckpt}/{log}/{name}")

    q = run()
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [last]
    assert emitted[last][1] == emitted[last][0]

    _append_chunks(event_rows[half:], 300, feed)
    run()
    assert final == _q13_team_oracle(sf_dir)


def test_foreach_batch_body_plans_follow_the_stream(spark, event_rows, tmpdir):
    """Spark turns AQE off only for a stream that holds a stateful
    operator.  A stateless stream's foreachBatch body (the spam sink's
    shape) plans its shuffles with AQE on at the batch width (4 on the
    fixture session); a stateful stream's body plans with AQE off at the
    streaming width, spark.sql.shuffle.partitions (1)."""
    write_arrival_chunks(event_rows[:400], 200, f"{tmpdir}/feed")
    seen: dict = {}

    def probe(name, key):
        def sink(batch_df, _bid):
            aqe = batch_df.sparkSession.conf.get("spark.sql.adaptive.enabled")
            plan = plan_str(batch_df.groupBy(key).count())
            width = re.search(rf"hashpartitioning\({key}#\d+, (\d+)\)", plan)
            seen.setdefault(name, set()).add(
                (aqe, "AdaptiveSparkPlan" in plan, width and int(width[1]))
            )
            batch_df.collect()  # a stateful batch commits its state only when run

        return sink

    events = read_event_stream(spark, f"{tmpdir}/feed")
    _run_stream(events, "append", probe("stateless", "event_type"), f"{tmpdir}/a")
    _run_stream(
        leaderboard.team_scores(read_event_stream(spark, f"{tmpdir}/feed")),
        "update", probe("stateful", "team"), f"{tmpdir}/b",
    )
    assert seen == {
        "stateless": {("true", True, 4)},
        "stateful": {("false", False, 1)},
    }


def test_streaming_sessions_match_batch(spark, sf_dir, event_rows, tmpdir):
    """W3 on the events log: append-mode session_window sessions emitted
    as the watermark closes them equal the batch gaps-and-islands
    answer. A far-future sentinel (its own user) flushes the last open
    sessions; its session is excluded from the compare."""
    from beam_scala_examples_spark.streaming import sessions as ssx

    sentinel = dict(event_rows[-1])
    sentinel["event_id"] = 10_000_001
    sentinel["user_id"] = 99_999_999
    sentinel["ts"] = "2025-06-01 00:00:00"
    stream = _feed(spark, event_rows + [sentinel], tmpdir, chunk_size=500)
    got: list[tuple] = []

    def sink(batch_df, _bid):
        got.extend(
            (r.user_id, r.session_start_us, r.n_events, r.duration_us)
            for r in batch_df.collect()
        )

    _run_stream(ssx.user_sessions(stream), "append", sink, tmpdir)

    con = duck_connect(sf_dir)
    expected = sorted(
        tuple(r) for r in con.sql(behavior.ORACLE["events_sessions"]).fetchall()
    )
    con.close()
    got = sorted(t for t in got if t[0] != 99_999_999)
    assert got == expected


def test_progress_recorder_captures_batches(spark, sf_dir, event_rows, tmpdir):
    """Observability: the listener records one row per micro-batch with
    the fed row count and a state-rows gauge for the stateful agg."""
    from beam_scala_examples_spark.streaming.observability import (
        ProgressRecorder,
    )

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        stream = _feed(spark, event_rows[:600], tmpdir, chunk_size=200)
        totals = stream.groupBy("user_id").count()
        _run_stream(totals, "update", lambda df, bid: df.count(), tmpdir)
        # listener events are delivered asynchronously
        import time as _t

        for _ in range(60):
            if sum(b["num_input_rows"] for b in rec.batches) >= 600:
                break
            _t.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
    assert sum(b["num_input_rows"] for b in rec.batches) == 600
    assert any((b["state_rows"] or 0) > 0 for b in rec.batches)
    assert all(b["duration_ms"] is not None for b in rec.batches if b["num_input_rows"])


def test_streaming_sessions_drop_late_after_eviction(spark, tmpdir):
    """W3 + X1 on sessions, the exact eviction semantics: each batch
    MERGES its input into session state first, then evicts/emits
    sessions whose end precedes the watermark.  So a late event landing
    in the batch where the watermark first passes its session's end
    still merges (batch-2 emission below includes nothing for user 1
    until its eviction batch), while a late event arriving AFTER the
    state was evicted is dropped outright — no re-fire, no fragment
    session (SURVEY §7.4; streaming/sessions.py docstring)."""
    from beam_scala_examples_spark.streaming import sessions as ssx
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_groups,
    )

    def row(eid, ts, uid):
        return {
            "event_id": eid, "ts": ts, "user_id": uid,
            "event_type": "click", "value": 1.0,
        }

    groups = [
        [row(1, "2024-01-01 10:00:00", 1), row(2, "2024-01-01 10:05:00", 1)],
        [row(3, "2024-01-01 13:00:00", 2)],  # watermark -> 13:00 next batch
        [row(6, "2024-01-01 13:30:00", 2)],  # user 1's session evicted here
        [row(4, "2024-01-01 10:10:00", 1)],  # late, after eviction: dropped
        [row(5, "2024-01-01 23:00:00", 3)],  # flush user 2
    ]
    write_arrival_groups(groups, f"{tmpdir}/feed")
    stream = read_event_stream(spark, f"{tmpdir}/feed")

    got: list[tuple] = []

    def sink(batch_df, _bid):
        got.extend(
            (r.user_id, r.n_events, r.duration_us) for r in batch_df.collect()
        )

    _run_stream(ssx.user_sessions(stream), "append", sink, tmpdir)

    by_user = {u: (n, d) for u, n, d in got}
    # user 1: the 2 on-time events only — the late event neither
    # re-fired the session nor produced a fragment
    assert by_user[1] == (2, 300_000_000)
    # user 2: both events merged into one session (within the gap)
    assert by_user[2] == (2, 1_800_000_000)
    # user 3's flush session is still open at stream end (nothing
    # advanced the watermark past it) — append mode emits nothing for it
    assert len(got) == 2


def test_streaming_cms_view_equals_batch_sketch(spark, sf_dir, event_rows, tmpdir):
    """CMS maintenance: per-batch partial counters summed across the
    foreachBatch log must equal sketching the full table in one batch
    pass, counter for counter (CMS merge is exact addition) — and every
    per-user estimate read off the maintained view must upper-bound the
    user's true event count (the sketch's one-sided guarantee survives
    incremental maintenance)."""
    from beam_scala_examples_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_partial_counters,
    )
    from beam_scala_examples_spark.streaming.cmsview import CmsIngestSink
    from beam_scala_examples_spark.tables import load

    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = CmsIngestSink(f"{tmpdir}/cms_log", item_col="user_id")
    _run_stream(stream, "append", sink, tmpdir)

    view = sink.serving_view(spark).collect()
    got = sorted((r.r, r.b, r.cnt) for r in view)
    ev = load(spark, sf_dir, "events")
    expected = sorted(
        (r.r, r.b, r.cnt)
        for r in cms_partial_counters(ev, "user_id").collect()
    )
    assert got == expected

    sketch = {(r.r, r.b): r.cnt for r in view}
    truth = ev.groupBy("user_id").count().collect()
    import hashlib

    for row in truth:
        est = min(
            sketch.get(
                (
                    i,
                    int(
                        hashlib.md5(str(row.user_id).encode())
                        .hexdigest()[8 * i: 8 * i + 8],
                        16,
                    )
                    % CMS_WIDTH,
                ),
                0,
            )
            for i in range(CMS_DEPTH)
        )
        assert est >= row["count"], row


def test_streaming_kll_view_n_exact_and_quantiles_in_band(
    spark, sf_dir, event_rows, tmpdir
):
    """KLL quantile maintenance: the merged view must account for every
    row exactly once through the batch_id-partitioned log (merged n ==
    exact count per type — the replay/idempotency witness), and every
    served quantile must sit within the sketch's normalized rank error
    of the exact percentile (3x the ~0.8%-at-k=200 bound, same band as
    the batch KLL test)."""
    from beam_scala_examples_spark.streaming.sketchview import (
        KLL_VIEW_PROBS,
        LatencyQuantilesViewSink,
    )
    from beam_scala_examples_spark.tables import load

    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = LatencyQuantilesViewSink(f"{tmpdir}/kll_log", f"{tmpdir}/kll_out")
    _run_stream(stream, "append", sink, tmpdir)

    view = {
        r.event_type: r
        for r in spark.read.parquet(f"{tmpdir}/kll_out").collect()
    }
    ev = load(spark, sf_dir, "events")
    eps = 3 * 0.008  # 3x normalized rank error at k=200
    for t, vals in (
        (r.event_type, r.vals)
        for r in ev.groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vals"))
        .collect()
    ):
        row = view[t]
        assert int(row.n) == len(vals), t
        for p in KLL_VIEW_PROBS:
            est = row[f"q{str(p).replace('0.', '')}"]
            lo = vals[max(0, int((p - eps) * len(vals)) - 1)]
            hi = vals[min(len(vals) - 1, int((p + eps) * len(vals)))]
            assert lo <= est <= hi, (t, p, est, lo, hi)


def test_stream_static_enrichment_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Stream-static dimension join (streaming/enrich.py): every event
    enriched with the customer dimension via a broadcast left join — no
    state store, no shuffle added to the streaming plan.  The bounded
    replay's full output must equal the same join run as a batch query
    (stream-static inner/left joins are stateless, so equality is exact,
    not just final-state)."""
    from beam_scala_examples_spark.streaming.enrich import enrich_events
    from beam_scala_examples_spark.tables import load

    dim = load(spark, sf_dir, "customer")
    stream = _feed(spark, event_rows, tmpdir, chunk_size=500)
    got: list[tuple] = []

    def sink(batch_df, _bid):
        got.extend(
            (r.event_id, r.mktsegment, r.nationkey)
            for r in batch_df.collect()
        )

    _run_stream(enrich_events(stream, dim), "append", sink, tmpdir)

    batch_events = load(spark, sf_dir, "events")
    expect = [
        (r.event_id, r.mktsegment, r.nationkey)
        for r in enrich_events(batch_events, dim).collect()
    ]
    assert sorted(got, key=str) == sorted(expect, key=str)
    # the replay must cover every event exactly once (left join drops none)
    assert len(got) == len(event_rows)


def test_segment_revenue_view_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Incremental join-view maintenance (streaming/viewmaint.py): the
    per-batch exact-cents contributions re-aggregate to the SAME
    (segment, day) revenue rollup the batch twin computes in one shot —
    additive maintenance, zero driver state."""
    from beam_scala_examples_spark.streaming.viewmaint import (
        SegmentRevenueViewSink,
    )
    from beam_scala_examples_spark.tables import load

    dim = load(spark, sf_dir, "customer")
    stream = _feed(spark, event_rows, tmpdir, chunk_size=300)
    sink = SegmentRevenueViewSink(
        dim, f"{tmpdir}/segrev_log", f"{tmpdir}/segrev_out"
    )
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        (r.segment, r.day, r.n_purchases, r.revenue)
        for r in spark.read.parquet(f"{tmpdir}/segrev_out").collect()
    )
    expect = sorted(
        (r.segment, r.day, r.n_purchases, r.revenue)
        for r in behavior.events_segment_revenue(spark, sf_dir).collect()
    )
    assert got == expect


def test_segment_revenue_view_replay_idempotent(spark, sf_dir, event_rows, tmpdir):
    """Replaying a micro-batch (same batch_id) must leave the serving
    view unchanged — the contribution partition is replaced, never
    double-counted (additive views are the ones double-counting would
    silently corrupt)."""
    from beam_scala_examples_spark.streaming.viewmaint import (
        SegmentRevenueViewSink,
    )
    from beam_scala_examples_spark.tables import load

    dim = load(spark, sf_dir, "customer")
    sink = SegmentRevenueViewSink(
        dim, f"{tmpdir}/segrev_log", f"{tmpdir}/segrev_out"
    )
    rows = event_rows[:600]
    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
         for r in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(batch, 0)
    once = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/segrev_out").collect()
    )
    sink(batch, 0)  # replay
    twice = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/segrev_out").collect()
    )
    assert once == twice


def _segment_revenue_empty_first(spark, sf_dir, event_rows, tmpdir):
    """Click events only, then everything else: the first partial has
    no purchase, so its log partition holds no file."""
    from beam_scala_examples_spark.streaming.viewmaint import (
        SegmentRevenueViewSink,
    )
    from beam_scala_examples_spark.tables import load

    sink = SegmentRevenueViewSink(
        load(spark, sf_dir, "customer"),
        f"{tmpdir}/segrev_log", f"{tmpdir}/segrev_out",
    )
    mk = lambda rs: spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
         for r in rs],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    head, tail = event_rows[:600], event_rows[600:]
    clicks = [r for r in head if r["event_type"] == "click"]
    rest = [r for r in head if r["event_type"] != "click"] + tail
    serve = lambda: sink.serving_view(spark).select(
        "segment", "day", "n_purchases", "revenue"
    )
    expect = behavior.events_segment_revenue(spark, sf_dir).select(
        "segment", "day", "n_purchases", "revenue"
    )
    return sink, serve, [mk(clicks), mk(rest)], expect


def _range_watch_empty_first(spark, sf_dir, event_rows, tmpdir):
    """Vectors within the radius of no watched vector, then the rest:
    the first partial holds no hit."""
    from beam_scala_examples_spark.queries.llmdata import (
        N_QUERY_VECS,
        sim_range_search,
    )
    from beam_scala_examples_spark.streaming.rangewatch import RangeWatchSink

    rows = _vec_rows(spark, sf_dir)
    watch = [
        (r.vec_id, list(r.embedding)) for r in rows if r.vec_id < N_QUERY_VECS
    ]
    sink = RangeWatchSink(f"{tmpdir}/watch_hits", watch)
    expect = sim_range_search(spark, sf_dir)
    hit = {r.vec_id for r in expect.select("vec_id").collect()}
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    missed = [r for r in rows if r.vec_id not in hit]
    rest = [r for r in rows if r.vec_id in hit]
    return sink, lambda: sink.serving_view(spark), [mk(missed), mk(rest)], expect


@pytest.mark.parametrize(
    "case", [_segment_revenue_empty_first, _range_watch_empty_first],
    ids=["segment_revenue", "range_watch"],
)
def test_sink_serves_empty_first_partial(
    spark, sf_dir, event_rows, tmpdir, case
):
    """A non-empty first micro-batch whose partial is empty writes a
    file-less log partition.  The sink must serve the empty view from it
    (logio's explicit-schema read), not fail schema inference and kill
    the stream; later batches then serve the batch twin exactly."""
    sink, serve, batches, expect = case(spark, sf_dir, event_rows, tmpdir)
    assert not batches[0].isEmpty()
    sink(batches[0], 0)
    assert serve().count() == 0
    for b, df in enumerate(batches[1:], start=1):
        sink(df, b)
    got = sorted(tuple(r) for r in serve().collect())
    assert got == sorted(tuple(r) for r in expect.collect())
    assert len(got) > 0


def _doc_rows(sf_dir):
    con = duck_connect(sf_dir)
    rows = con.sql(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    con.close()
    return [{"doc_id": r[0], "text": r[1]} for r in rows]


def test_ingest_dedup_registry_matches_batch(spark, sf_dir, tmpdir):
    """Streaming ingest-time dedup (streaming/dedupview.py): feeding the
    corpus in doc_id order, the incrementally-built content registry
    must equal the batch dedup_exact keeper mapping exactly — no corpus
    rescan ever happened, only per-batch anti joins."""
    from beam_scala_examples_spark.queries.llmdata import dedup_exact
    from beam_scala_examples_spark.streaming.dedupview import IngestDedupSink
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream, write_arrival_chunks,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(rows, 100, f"{tmpdir}/docfeed")
    stream = read_event_stream(
        spark, f"{tmpdir}/docfeed", schema="doc_id long, text string"
    )
    sink = IngestDedupSink(f"{tmpdir}/dedup_log", f"{tmpdir}/dedup_out")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        (r.fp, r.keep_doc_id)
        for r in spark.read.parquet(f"{tmpdir}/dedup_out").collect()
    )
    expect = sorted(
        (r.fp, r.keep_doc_id)
        for r in dedup_exact(spark, sf_dir)
        .select(F.md5("text").alias("fp"), "keep_doc_id")
        .collect()
    )
    assert got == expect


def test_ingest_dedup_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch must neither lose registry entries (the
    anti-join-against-own-contribution trap) nor duplicate them."""
    from beam_scala_examples_spark.streaming.dedupview import IngestDedupSink

    rows = _doc_rows(sf_dir)[:200]
    sink = IngestDedupSink(f"{tmpdir}/dedup_log", f"{tmpdir}/dedup_out")
    b0 = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows[:100]],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows[100:]],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)
    once = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/dedup_out").collect()
    )
    sink(b1, 1)  # replay the last batch
    twice = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/dedup_out").collect()
    )
    assert once == twice and len(once) > 0


def test_stream_static_enrichment_refreshes_dim(spark, tmpdir):
    """The dimension-refresh contract (streaming/enrich.py docstring): a
    dim DataFrame built ONCE snapshots its file listing — overwriting
    the path mid-query breaks, NOT refreshes (verified separately) —
    but a FRESH spark.read per micro-batch inside foreachBatch picks up
    an atomic re-write on the next trigger."""
    from beam_scala_examples_spark.streaming.enrich import enrich_events
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream, write_arrival_chunks,
    )

    dim_path = f"{tmpdir}/dim"
    spark.createDataFrame(
        [(0, "OLD", 1)], "c_custkey long, c_mktsegment string, c_nationkey long"
    ).write.mode("overwrite").parquet(dim_path)
    rows = [
        {"event_id": i, "ts": f"2024-01-01 00:00:{i:02d}", "user_id": 0,
         "event_type": "click", "value": 1.0}
        for i in range(4)
    ]
    write_arrival_chunks(rows, 2, f"{tmpdir}/feed")  # 2 chunks -> 2 batches
    stream = read_event_stream(spark, f"{tmpdir}/feed")
    seen: dict[int, set] = {}

    def sink(batch_df, batch_id):
        fresh_dim = batch_df.sparkSession.read.parquet(dim_path)
        out = enrich_events(batch_df, fresh_dim)
        seen[batch_id] = {(r.event_id, r.mktsegment) for r in out.collect()}
        if batch_id == 0:
            batch_df.sparkSession.createDataFrame(
                [(0, "NEW", 1)],
                "c_custkey long, c_mktsegment string, c_nationkey long",
            ).write.mode("overwrite").parquet(dim_path)

    _run_stream(stream, "append", sink, tmpdir)

    assert {s for _, s in seen[0]} == {"OLD"}
    assert {s for _, s in seen[1]} == {"NEW"}  # re-write picked up


def _doc_rows_with_source(sf_dir):
    con = duck_connect(sf_dir)
    rows = con.sql(
        "SELECT doc_id, text, source FROM documents ORDER BY doc_id"
    ).fetchall()
    con.close()
    return [{"doc_id": r[0], "text": r[1], "source": r[2]} for r in rows]


def test_lm_drift_view_matches_batch(spark, sf_dir, tmpdir):
    """Streaming LM-drift view (streaming/lmdrift.py): per-batch exact
    micro-nat surprisal/OOV moments re-aggregate to the SAME per-source
    drift report the batch twin computes in one shot.  The model is
    trained on a SLICE of the corpus (the fixture's 31-token global
    vocabulary needs a single-doc model to leave anything out) so the
    stream carries genuine OOV tokens — the OOV path is exercised, not
    just the happy join."""
    from beam_scala_examples_spark.streaming.lmdrift import (
        LmDriftViewSink,
        drift_report,
        lm_drift_aggregate,
        lm_unigram_model,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )
    from beam_scala_examples_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    vocab, lnn = lm_unigram_model(docs.filter(F.col("doc_id") == 0))
    rows = _doc_rows_with_source(sf_dir)
    write_arrival_chunks(rows, 120, f"{tmpdir}/lmfeed")
    stream = read_event_stream(
        spark,
        f"{tmpdir}/lmfeed",
        schema="doc_id long, text string, source string",
    )
    sink = LmDriftViewSink(
        vocab, lnn, f"{tmpdir}/lmdrift_log", f"{tmpdir}/lmdrift_out"
    )
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/lmdrift_out").collect()
    )
    expect = sorted(
        tuple(r)
        for r in drift_report(lm_drift_aggregate(docs, vocab, lnn)).collect()
    )
    assert got == expect
    # the drift timeline exists: one contribution row set per batch
    log = spark.read.parquet(f"{tmpdir}/lmdrift_log")
    assert log.select("batch_id").distinct().count() >= 2
    # OOV genuinely exercised (half-corpus model)
    assert any(r[3] > 0 for r in got)  # oov_rate column


def test_lm_drift_view_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch (same batch_id) leaves the drift view
    unchanged — its contribution partition is replaced, never
    double-counted."""
    from beam_scala_examples_spark.streaming.lmdrift import (
        LmDriftViewSink,
        lm_unigram_model,
    )
    from beam_scala_examples_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    vocab, lnn = lm_unigram_model(docs)
    sink = LmDriftViewSink(
        vocab, lnn, f"{tmpdir}/lmdrift_log", f"{tmpdir}/lmdrift_out"
    )
    rows = _doc_rows_with_source(sf_dir)[:200]
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in rows],
        "doc_id long, text string, source string",
    )
    sink(batch, 0)
    once = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/lmdrift_out").collect()
    )
    sink(batch, 0)  # replay
    twice = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/lmdrift_out").collect()
    )
    assert once == twice


def test_neardup_registry_matches_batch(spark, sf_dir, tmpdir):
    """Streaming ingest-time NEAR-dup detection (streaming/neardupview.py):
    feeding the corpus in doc_id order, the incrementally-decided
    (doc_id, is_dup, dup_of) relation must equal the batch
    dedup_lsh_novelty first-seen semantics exactly — per batch the sink
    touched only its own signatures plus one registry join, never the
    corpus."""
    from beam_scala_examples_spark.queries.llmdata import dedup_lsh_novelty
    from beam_scala_examples_spark.streaming.neardupview import (
        NearDupIngestSink,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(rows, 100, f"{tmpdir}/ndfeed")
    stream = read_event_stream(
        spark, f"{tmpdir}/ndfeed", schema="doc_id long, text string"
    )
    sink = NearDupIngestSink(f"{tmpdir}/nd_registry", f"{tmpdir}/nd_decisions")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dedup_lsh_novelty(spark, sf_dir).collect()
    )
    assert got == expect
    # sanity: the fixture contains real near-dup clusters
    assert any(r[1] for r in got)
    # intra-batch priors are exercised (chunk 100 > cluster spacing)
    assert spark.read.parquet(f"{tmpdir}/nd_decisions").select(
        "batch_id"
    ).distinct().count() >= 2


def test_neardup_registry_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the decisions and
    registry rows it owned (registry read excludes the batch's own
    partition — the anti-join-own-contribution trap again)."""
    from beam_scala_examples_spark.streaming.neardupview import (
        NearDupIngestSink,
    )

    rows = _doc_rows(sf_dir)
    sink = NearDupIngestSink(f"{tmpdir}/nd_registry", f"{tmpdir}/nd_decisions")
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:200]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    reg_once = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/nd_registry").collect()
    )
    sink(mk(rows[100:200]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    reg_twice = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/nd_registry").collect()
    )
    assert once == twice
    assert reg_once == reg_twice


def test_neardup_vote_registry_matches_batch(spark, sf_dir, tmpdir):
    """The r-of-b vote sink (full-membership registry) fed in doc_id
    order must equal the batch dedup_lsh_novelty_vote relation exactly,
    and its dup set must be a subset of the any-band OR sink's (the
    vote can only RAISE the collision bar)."""
    from beam_scala_examples_spark.queries.llmdata import (
        LSH_VOTE_R,
        dedup_lsh_novelty,
        dedup_lsh_novelty_vote,
    )
    from beam_scala_examples_spark.streaming.neardupview import (
        NearDupVoteIngestSink,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(rows, 100, f"{tmpdir}/ndvfeed")
    stream = read_event_stream(
        spark, f"{tmpdir}/ndvfeed", schema="doc_id long, text string"
    )
    sink = NearDupVoteIngestSink(
        f"{tmpdir}/ndv_registry", f"{tmpdir}/ndv_decisions", vote_r=LSH_VOTE_R
    )
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dedup_lsh_novelty_vote(spark, sf_dir).collect()
    )
    assert got == expect
    vote_dups = {r[0] for r in got if r[1]}
    or_dups = {
        r[0] for r in dedup_lsh_novelty(spark, sf_dir).collect() if r[1]
    }
    assert vote_dups <= or_dups
    # the fixture exercises both: real near-dup clusters survive the
    # vote, and the higher bar drops at least one single-band collision
    assert vote_dups
    assert vote_dups < or_dups


def test_kanon_view_matches_batch(spark, sf_dir, tmpdir):
    """Streamed k-anonymity maintenance (streaming/privacyview.py):
    after feeding the customer dimension in 4 chunks, the serving
    audit must equal dq_k_anonymity's one-shot relation exactly (group
    sizes are additive integers)."""
    from beam_scala_examples_spark.queries.dq import dq_k_anonymity
    from beam_scala_examples_spark.streaming.privacyview import KAnonViewSink
    from beam_scala_examples_spark.tables import load

    cust = load(spark, sf_dir, "customer")
    rows = cust.collect()
    cols = cust.columns
    mk = lambda rs: spark.createDataFrame(rs, cust.schema)
    sink = KAnonViewSink(f"{tmpdir}/ka_log", f"{tmpdir}/ka_out")
    chunk = max(1, len(rows) // 4)
    for i, lo in enumerate(range(0, len(rows), chunk)):
        sink(mk(rows[lo : lo + chunk]), i)
    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/ka_out").collect()
    )
    expect = sorted(
        tuple(r) for r in dq_k_anonymity(spark, sf_dir).collect()
    )
    assert got == expect

    # replay idempotency: re-running the last batch changes nothing
    last = (len(rows) - 1) // chunk
    sink(mk(rows[last * chunk :]), last)
    again = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/ka_out").collect()
    )
    assert again == got

    # the SAME count log serves the l-diversity audit (the sensitive
    # attribute is a component of the k-anonymity QI)
    from beam_scala_examples_spark.queries.dq import dq_l_diversity

    lgot = sorted(
        tuple(r) for r in sink.l_diversity_view(spark).collect()
    )
    lexpect = sorted(
        tuple(r) for r in dq_l_diversity(spark, sf_dir).collect()
    )
    assert lgot == lexpect


def test_pca_drift_view_matches_batch(spark, sf_dir, tmpdir):
    """Streamed top-component maintenance (streaming/pcadrift.py): after
    feeding the embedding corpus in 4 chunks, the serving eigenvector
    must equal emb_pca_top_component's one-shot computation bit for bit
    (the moments are exact int64 and the covariance/power expressions
    are shared code, so this is equality, not approximation)."""
    from beam_scala_examples_spark.queries.clustering import (
        emb_pca_top_component,
    )
    from beam_scala_examples_spark.streaming.pcadrift import PcaDriftViewSink
    from beam_scala_examples_spark.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    mk = lambda rs: spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in rs],
        "vec_id long, embedding array<float>",
    )
    sink = PcaDriftViewSink(f"{tmpdir}/pca_log", f"{tmpdir}/pca_out")
    chunk = max(1, len(rows) // 4)
    for i, lo in enumerate(range(0, len(rows), chunk)):
        sink(mk(rows[lo : lo + chunk]), i)

    got = sorted(
        (r.dim, r.v_micro)
        for r in spark.read.parquet(f"{tmpdir}/pca_out").collect()
    )
    expect = sorted(
        (r.dim, r.v_micro)
        for r in emb_pca_top_component(spark, sf_dir).collect()
    )
    assert got == expect


def test_pca_drift_view_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying the last micro-batch leaves the moment log and the
    serving view unchanged (batch_id-partitioned overwrite)."""
    from beam_scala_examples_spark.streaming.pcadrift import PcaDriftViewSink
    from beam_scala_examples_spark.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    mk = lambda rs: spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in rs],
        "vec_id long, embedding array<float>",
    )
    sink = PcaDriftViewSink(f"{tmpdir}/pcar_log", f"{tmpdir}/pcar_out")
    half = len(rows) // 2
    sink(mk(rows[:half]), 0)
    sink(mk(rows[half:]), 1)
    once = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/pcar_out").collect()
    )
    log_once = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/pcar_log").collect()
    )
    sink(mk(rows[half:]), 1)  # replay
    twice = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/pcar_out").collect()
    )
    log_twice = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdir}/pcar_log").collect()
    )
    assert once == twice
    assert log_once == log_twice


def test_neardup_vote_out_of_order_keeps_first_seen(spark, sf_dir, tmpdir):
    """Feeding batches in REVERSE id order: the `earlier < doc_id` guard
    means a document can only ever be attributed to a SMALLER id — no
    decision may point forward, and re-running the same corpus in
    id order yields a superset of dups (late-arriving small ids can't
    retroactively mark earlier-arrived large ids, the stated streaming
    semantics)."""
    from beam_scala_examples_spark.streaming.neardupview import (
        NearDupVoteIngestSink,
    )

    rows = _doc_rows(sf_dir)[:200]
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink = NearDupVoteIngestSink(
        f"{tmpdir}/ndo_registry", f"{tmpdir}/ndo_decisions"
    )
    sink(mk(rows[100:200]), 0)  # later ids arrive first
    sink(mk(rows[:100]), 1)
    got = {r.doc_id: r for r in sink.serving_view(spark).collect()}
    assert len(got) == 200
    for r in got.values():
        if r.is_dup:
            assert r.dup_of < r.doc_id

    inorder = NearDupVoteIngestSink(
        f"{tmpdir}/ndi_registry", f"{tmpdir}/ndi_decisions"
    )
    inorder(mk(rows[:100]), 0)
    inorder(mk(rows[100:200]), 1)
    in_dups = {
        r.doc_id for r in inorder.serving_view(spark).collect() if r.is_dup
    }
    ooo_dups = {r.doc_id for r in got.values() if r.is_dup}
    assert ooo_dups <= in_dups


def test_neardup_vote_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the decisions and
    registry rows it owned (registry read excludes the batch's own
    partition)."""
    from beam_scala_examples_spark.streaming.neardupview import (
        NearDupVoteIngestSink,
    )

    rows = _doc_rows(sf_dir)
    sink = NearDupVoteIngestSink(
        f"{tmpdir}/ndv_registry", f"{tmpdir}/ndv_decisions"
    )
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:200]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    reg_once = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/ndv_registry").collect()
    )
    sink(mk(rows[100:200]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    reg_twice = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{tmpdir}/ndv_registry").collect()
    )
    assert once == twice
    assert reg_once == reg_twice


def _full_doc_rows(sf_dir):
    con = duck_connect(sf_dir)
    rows = con.sql(
        "SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def test_dataset_card_sink_matches_batch(spark, sf_dir, tmpdir):
    """Streaming dataset card (streaming/cardview.py): feeding the
    corpus in doc_id order through the composed contribution logs, the
    served (metric, value) card must equal the batch data_dataset_card
    exactly — every rate recomputed from logs, never from historical
    raw documents."""
    from beam_scala_examples_spark.queries.llmdata import data_dataset_card
    from beam_scala_examples_spark.streaming.cardview import DatasetCardSink
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = [
        {"doc_id": r[0], "text": r[1], "lang": r[2], "source": r[3]}
        for r in _full_doc_rows(sf_dir)
    ]
    write_arrival_chunks(rows, 100, f"{tmpdir}/cardfeed")
    stream = read_event_stream(
        spark,
        f"{tmpdir}/cardfeed",
        schema="doc_id long, text string, lang string, source string",
    )
    sink = DatasetCardSink(str(tmpdir))
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in data_dataset_card(spark, sf_dir).collect()
    )
    assert got == expect
    # the feed really was incremental
    assert spark.read.parquet(f"{tmpdir}/card_stats").select(
        "batch_id"
    ).distinct().count() >= 2


def test_dataset_card_sink_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the contribution rows
    it owned across ALL the contribution logs, so the served card is
    unchanged."""
    from beam_scala_examples_spark.streaming.cardview import DatasetCardSink

    rows = _full_doc_rows(sf_dir)
    sink = DatasetCardSink(str(tmpdir))
    mk = lambda rs: spark.createDataFrame(
        list(rs), "doc_id long, text string, lang string, source string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:200]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    sink(mk(rows[100:200]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert once == twice


def _vec_rows(spark, sf_dir):
    from beam_scala_examples_spark.tables import load

    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )


def _trained_cents(spark, sf_dir):
    from beam_scala_examples_spark.queries.clustering import (
        _kmeans_train,
        _trained,
    )
    from beam_scala_examples_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _trained("kmeans", spark, sf_dir, _kmeans_train, emb)


def test_ivf_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Streaming trained-IVF ingest (streaming/ivfview.py): feeding the
    embeddings in chunks through the frozen-quantizer sink, both the
    accumulated cell assignment and the served top-k must equal the
    batch sim_ivf_trained_topk pipeline exactly."""
    from beam_scala_examples_spark.queries.clustering import (
        _assign,
        sim_ivf_trained_topk,
    )
    from beam_scala_examples_spark.streaming.ivfview import IvfIngestSink
    from beam_scala_examples_spark.tables import load

    cents = _trained_cents(spark, sf_dir)
    sink = IvfIngestSink(f"{tmpdir}/ivf_postings", cents)
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    third = len(rows) // 3
    sink(mk(rows[:third]), 0)
    sink(mk(rows[third : 2 * third]), 1)
    sink(mk(rows[2 * third :]), 2)

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    expect_assign = sorted(
        (r.vec_id, r.cluster)
        for r in _assign(emb, cents).select("vec_id", "cluster").collect()
    )
    got_assign = sorted(
        tuple(r) for r in sink.assignment_view(spark).collect()
    )
    assert got_assign == expect_assign

    expect_topk = sorted(
        tuple(r) for r in sim_ivf_trained_topk(spark, sf_dir).collect()
    )
    got_topk = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert got_topk == expect_topk
    # the log really is cluster-partitioned (inverted-list pruning)
    assert spark.read.parquet(f"{tmpdir}/ivf_postings").select(
        "cluster"
    ).distinct().count() >= 2


def test_ivf_ingest_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the postings rows it
    owned, so assignment and top-k views are unchanged."""
    from beam_scala_examples_spark.streaming.ivfview import IvfIngestSink

    cents = _trained_cents(spark, sf_dir)
    sink = IvfIngestSink(f"{tmpdir}/ivf_postings", cents)
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    sink(mk(rows[:200]), 0)
    sink(mk(rows[200:]), 1)
    once = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    sink(mk(rows[200:]), 1)  # replay
    twice = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert once == twice


def test_range_watch_matches_batch(spark, sf_dir, tmpdir):
    """Streaming semantic watch (streaming/rangewatch.py): feeding the
    embeddings in chunks against a frozen watch set (the batch query's
    query vectors), the accumulated hit log must equal the batch
    sim_range_search relation exactly."""
    from beam_scala_examples_spark.queries.llmdata import (
        N_QUERY_VECS,
        sim_range_search,
    )
    from beam_scala_examples_spark.streaming.rangewatch import RangeWatchSink
    from beam_scala_examples_spark.tables import load

    watch = [
        (r.vec_id, list(r.embedding))
        for r in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .orderBy("vec_id")
        .collect()
    ]
    sink = RangeWatchSink(f"{tmpdir}/watch_hits", watch)
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    third = len(rows) // 3
    sink(mk(rows[:third]), 0)
    sink(mk(rows[third : 2 * third]), 1)
    sink(mk(rows[2 * third :]), 2)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in sim_range_search(spark, sf_dir).collect()
    )
    assert got == expect
    assert len(got) > 0  # the radius is non-empty on this corpus


def test_range_watch_replay_idempotent(spark, sf_dir, tmpdir):
    from beam_scala_examples_spark.queries.llmdata import N_QUERY_VECS
    from beam_scala_examples_spark.streaming.rangewatch import RangeWatchSink
    from beam_scala_examples_spark.tables import load

    watch = [
        (r.vec_id, list(r.embedding))
        for r in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERY_VECS)
        .collect()
    ]
    sink = RangeWatchSink(f"{tmpdir}/watch_hits", watch)
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    sink(mk(rows[:200]), 0)
    sink(mk(rows[200:]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    sink(mk(rows[200:]), 1)  # replay
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert once == twice


def test_line_dedup_sink_matches_batch(spark, sf_dir, tmpdir):
    """Streaming line dedup (streaming/linedupview.py): feeding the
    corpus in doc_id order, the served per-doc dup shares must equal
    the batch text_line_dedup exactly, and the first-seen line registry
    must equal the batch min-owner mapping — only per-batch anti joins
    and additive contribution appends ever ran."""
    from beam_scala_examples_spark.queries.llmdata import (
        text_line_dedup,
        text_structured,
    )
    from beam_scala_examples_spark.streaming.linedupview import (
        LineDedupIngestSink,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(rows, 100, f"{tmpdir}/linefeed")
    stream = read_event_stream(
        spark, f"{tmpdir}/linefeed", schema="doc_id long, text string"
    )
    sink = LineDedupIngestSink(str(tmpdir))
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in text_line_dedup(spark, sf_dir).collect()
    )
    assert got == expect
    # the feed really was incremental
    assert spark.read.parquet(f"{tmpdir}/line_contrib").select(
        "batch_id"
    ).distinct().count() >= 2
    # registry == batch first-owner mapping (min doc_id per line)
    got_reg = sorted(
        tuple(r) for r in sink.registry_view(spark).collect()
    )
    st = text_structured(spark, sf_dir)
    expect_reg = sorted(
        tuple(r)
        for r in st.select(
            "doc_id",
            F.explode(F.expr("split(struct_text, chr(10))")).alias("line"),
        )
        .select("doc_id", F.md5("line").alias("line_md5"))
        .groupBy("line_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .collect()
    )
    assert got_reg == expect_reg


def test_line_dedup_sink_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the registry and
    contribution rows it owned, so both served views are unchanged."""
    from beam_scala_examples_spark.streaming.linedupview import (
        LineDedupIngestSink,
    )

    rows = _doc_rows(sf_dir)[:200]
    sink = LineDedupIngestSink(str(tmpdir))
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    once_reg = sorted(tuple(r) for r in sink.registry_view(spark).collect())
    sink(mk(rows[100:]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    twice_reg = sorted(tuple(r) for r in sink.registry_view(spark).collect())
    assert once == twice and len(once) > 0
    assert once_reg == twice_reg


def test_winnow_sink_matches_batch(spark, sf_dir, tmpdir):
    """Streaming winnowing registry (streaming/winnowview.py): feeding
    the corpus in doc_id order, the served MOSS pair table must equal
    batch text_winnow_pairs exactly; arrival-time flags must be
    consistent (known prints bounded by the doc's print count, and a
    doc flagged against prior docs must have known prints)."""
    from beam_scala_examples_spark.queries.llmdata import text_winnow_pairs
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )
    from beam_scala_examples_spark.streaming.winnowview import (
        WinnowIngestSink,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(rows, 100, f"{tmpdir}/winnowfeed")
    stream = read_event_stream(
        spark, f"{tmpdir}/winnowfeed", schema="doc_id long, text string"
    )
    sink = WinnowIngestSink(str(tmpdir))
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in text_winnow_pairs(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    assert spark.read.parquet(f"{tmpdir}/winnow_prints").select(
        "batch_id"
    ).distinct().count() >= 2
    for r in sink.flags(spark).collect():
        assert 0 <= r.known_prints <= r.n_prints
        assert (r.prior_docs > 0) == (r.known_prints > 0)


def test_winnow_sink_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying a micro-batch re-derives exactly the print rows and
    arrival flags it owned, so both served views are unchanged."""
    from beam_scala_examples_spark.streaming.winnowview import (
        WinnowIngestSink,
    )

    rows = _doc_rows(sf_dir)[:200]
    sink = WinnowIngestSink(str(tmpdir))
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    once_f = sorted(tuple(r) for r in sink.flags(spark).collect())
    sink(mk(rows[100:]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    twice_f = sorted(tuple(r) for r in sink.flags(spark).collect())
    assert once == twice
    assert once_f == twice_f


def test_hll_sink_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Streaming HLL (streaming/hllview.py): max-merging every batch's
    partial registers must equal the batch registers over the full
    corpus exactly (the sketch's mergeability, exercised end to end),
    and replaying a batch must change nothing."""
    from beam_scala_examples_spark.queries.dq import dq_hll_registers
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink

    stream = _feed(spark, event_rows, tmpdir)
    sink = HllIngestSink(f"{tmpdir}/hll_log")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_hll_registers(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    assert spark.read.parquet(f"{tmpdir}/hll_log").select(
        "batch_id"
    ).distinct().count() >= 2


def test_hll_sink_replay_idempotent(spark, event_rows, tmpdir):
    """A replayed micro-batch (same rows, same batch_id) re-derives
    exactly its own partial registers, so the merged sketch is
    unchanged — the house replay contract."""
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink

    sink = HllIngestSink(f"{tmpdir}/hll_log")
    mk = lambda rs: spark.createDataFrame(
        [(r["user_id"],) for r in rs], "user_id long"
    )
    sink(mk(event_rows[:300]), 0)
    sink(mk(event_rows[300:600]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    sink(mk(event_rows[300:600]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert once == twice and len(once) > 0


def test_hll_sink_grouped_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Round-6 grouped sketch: an HllIngestSink keyed on event_type
    must serve registers exactly equal to the batch dq_hll_by_type —
    the per-group merge law is the same plain max, now per group."""
    from beam_scala_examples_spark.queries.dq import dq_hll_by_type
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink

    stream = _feed(spark, event_rows, tmpdir)
    sink = HllIngestSink(f"{tmpdir}/hll_log", group_cols=("event_type",))
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_hll_by_type(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0


def test_hll_sink_grouped_replay_idempotent(spark, event_rows, tmpdir):
    """Replaying a batch of a GROUPED HLL log changes nothing."""
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink

    sink = HllIngestSink(f"{tmpdir}/hll_log", group_cols=("event_type",))
    mk = lambda rs: spark.createDataFrame(
        [(r["user_id"], r["event_type"]) for r in rs],
        "user_id long, event_type string",
    )
    sink(mk(event_rows[:300]), 0)
    sink(mk(event_rows[300:600]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    sink(mk(event_rows[300:600]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert once == twice and len(once) > 0


def test_winnow_sink_flags_zero_print_docs(spark, tmpdir):
    """ADVICE r5: a document shorter than one k-gram yields no prints,
    but its arrival must still stamp a flags row (n_prints=0) so
    consumers can tell 'no prints' from 'never arrived'."""
    from beam_scala_examples_spark.streaming.winnowview import (
        WinnowIngestSink,
    )

    sink = WinnowIngestSink(str(tmpdir))
    long_text = " ".join(f"tok{i}" for i in range(30))
    batch = spark.createDataFrame(
        [(1, long_text), (2, "too short")],  # doc 2: 2 tokens < K_WINNOW
        "doc_id long, text string",
    )
    sink(batch, 0)
    flags = {r.doc_id: r for r in sink.flags(spark).collect()}
    assert set(flags) == {1, 2}
    assert flags[2].n_prints == 0
    assert flags[2].known_prints == 0 and flags[2].prior_docs == 0
    assert flags[1].n_prints > 0
    # and on a later batch (the seen-join path) the same contract holds
    batch2 = spark.createDataFrame(
        [(3, "x y"), (4, long_text)], "doc_id long, text string"
    )
    sink(batch2, 1)
    flags = {r.doc_id: r for r in sink.flags(spark).collect()}
    assert flags[3].n_prints == 0
    assert flags[4].known_prints == flags[4].n_prints  # full copy of doc 1
    assert flags[4].prior_docs == 1


def test_phash_sink_matches_batch(spark, sf_dir, tmpdir):
    """Streaming pHash registry (streaming/phashview.py): with
    id-ordered arrival the served decisions equal the batch
    multimodal_phash_novelty relation exactly."""
    from beam_scala_examples_spark.queries.llmdata import (
        multimodal_phash_novelty,
    )
    from beam_scala_examples_spark.streaming.phashview import PhashIngestSink

    rows = _doc_rows(sf_dir)
    sink = PhashIngestSink(f"{tmpdir}/reg", f"{tmpdir}/dec")
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    half = len(rows) // 2
    sink(mk(rows[:half]), 0)
    sink(mk(rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in multimodal_phash_novelty(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    assert any(r[1] for r in got)  # some image flagged dup at arrival


def test_phash_sink_replay_idempotent(spark, sf_dir, tmpdir):
    """Replaying the latest micro-batch re-derives exactly its own
    decisions and registry rows — served view unchanged."""
    from beam_scala_examples_spark.streaming.phashview import PhashIngestSink

    rows = _doc_rows(sf_dir)[:200]
    sink = PhashIngestSink(f"{tmpdir}/reg", f"{tmpdir}/dec")
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    sink(mk(rows[:100]), 0)
    sink(mk(rows[100:]), 1)
    once = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    sink(mk(rows[100:]), 1)  # replay the latest batch
    twice = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert once == twice and len(once) > 0


def test_profile_sketch_sink_matches_batch(spark, sf_dir, tmpdir):
    """Streaming sketched profile (streaming/profileview.py): additive
    null/count stats + per-column max-merged registers over two
    micro-batches equal the batch dq_profile_events_sketch exactly
    (order-independent by construction), and replay changes nothing."""
    from beam_scala_examples_spark.queries.dq import (
        dq_profile_events_sketch,
    )
    from beam_scala_examples_spark.streaming.profileview import (
        ProfileSketchSink,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as SF

    ev = load(spark, sf_dir, "events")
    sink = ProfileSketchSink(str(tmpdir))
    sink(ev.filter(SF.col("event_id") % 2 == 0), 0)
    sink(ev.filter(SF.col("event_id") % 2 == 1), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r)
        for r in dq_profile_events_sketch(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    sink(ev.filter(SF.col("event_id") % 2 == 1), 1)  # replay
    again = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert again == expect


def test_winnow_sink_regions_match_batch(spark, sf_dir, tmpdir):
    """Round-6: the sink's positioned-print log serves the full MOSS
    copy-region report, pinned equal to batch text_winnow_regions."""
    from beam_scala_examples_spark.queries.llmdata import (
        text_winnow_regions,
    )
    from beam_scala_examples_spark.streaming.winnowview import (
        WinnowIngestSink,
    )

    rows = _doc_rows(sf_dir)
    sink = WinnowIngestSink(str(tmpdir))
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    half = len(rows) // 2
    sink(mk(rows[:half]), 0)
    sink(mk(rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.regions_view(spark).collect())
    expect = sorted(
        tuple(r) for r in text_winnow_regions(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0


def test_hll_sink_by_day_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Per-day grouped HLL log (the time-axis production shape): a
    caller-derived day column groups the registers; the served view
    equals batch dq_hll_by_day exactly, and the cumulative curve built
    from the served rows equals dq_hll_cumulative — the date-range
    serving pattern works straight off the streamed log."""
    import pyspark.sql.functions as SF

    from beam_scala_examples_spark.queries.dq import (
        dq_hll_by_day,
        dq_hll_cumulative,
    )
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink
    from pyspark.sql.window import Window

    sink = HllIngestSink(f"{tmpdir}/hll_day_log", group_cols=("day",))
    mk = lambda rs: spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in rs], "user_id long, ts string"
    ).select("user_id", SF.date_trunc("day", SF.to_timestamp("ts")).alias("day"))
    half = len(event_rows) // 2
    sink(mk(event_rows[:half]), 0)
    sink(mk(event_rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_hll_by_day(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    # cumulative curve straight off the served per-day registers
    daily = sink.serving_view(spark)
    days = daily.select("day").distinct()
    regs = daily.select("register").distinct()
    w = (
        Window.partitionBy("register").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        days.crossJoin(regs)
        .join(daily, ["day", "register"], "left")
        .withColumn("cum_rank", SF.max("max_rank").over(w))
        .filter(SF.col("cum_rank").isNotNull())
        .select("day", "register", SF.col("cum_rank").alias("max_rank"))
    )
    got_cum = sorted(tuple(r) for r in cum.collect())
    expect_cum = sorted(
        tuple(r) for r in dq_hll_cumulative(spark, sf_dir).collect()
    )
    assert got_cum == expect_cum


def test_scene_cut_sink_matches_batch_and_replays(spark, sf_dir, tmpdir):
    """Round-7: the scene-cut ingest log over two micro-batches equals
    batch multimodal_scene_cuts exactly; replaying the latest batch
    changes nothing (dynamic partition overwrite re-derives its own
    rows); the novelty view counts only cut-bearing videos per batch."""
    from beam_scala_examples_spark.queries.llmdata import (
        multimodal_scene_cuts,
    )
    from beam_scala_examples_spark.streaming.scenecutview import (
        SceneCutIngestSink,
    )

    rows = _doc_rows(sf_dir)
    sink = SceneCutIngestSink(f"{tmpdir}/cuts")
    mk = lambda rs: spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rs], "doc_id long, text string"
    )
    half = len(rows) // 2
    sink(mk(rows[:half]), 0)
    sink(mk(rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in multimodal_scene_cuts(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    sink(mk(rows[half:]), 1)  # replay
    again = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert again == expect
    novelty = {
        r.batch_id: (r.n_cut_videos, r.total_cuts)
        for r in sink.newly_cut_view(spark).collect()
    }
    by_doc = {t[0]: t[6] for t in expect}  # doc_id -> n_cuts
    for b, rs in ((0, rows[:half]), (1, rows[half:])):
        cut = [r for r in rs if by_doc[r["doc_id"]] > 0]
        if cut:
            assert novelty[b] == (
                len(cut), sum(by_doc[r["doc_id"]] for r in cut)
            )
        else:
            assert b not in novelty


def test_cms_sink_by_day_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Round-7 grouped CMS ingest: the additive counter log over two
    micro-batches serves per-day counters equal to batch
    dq_cms_user_by_day exactly; the range top-talker rollup built from
    the served rows equals dq_heavy_users_rollup; replay changes
    nothing (a replayed batch re-derives its own partial)."""
    import pyspark.sql.functions as SF

    from beam_scala_examples_spark.queries.dq import (
        CMS_ROLLUP_TOPK,
        dq_cms_user_by_day,
        dq_heavy_users_rollup,
    )
    from beam_scala_examples_spark.streaming.cmsview import CmsIngestSink
    from pyspark.sql.window import Window

    sink = CmsIngestSink(f"{tmpdir}/cms_day_log", group_cols=("day",))
    mk = lambda rs: spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in rs], "user_id long, ts string"
    ).select(
        "user_id", SF.date_trunc("day", SF.to_timestamp("ts")).alias("day")
    )
    half = len(event_rows) // 2
    sink(mk(event_rows[:half]), 0)
    sink(mk(event_rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_cms_user_by_day(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    sink(mk(event_rows[half:]), 1)  # replay the latest batch
    again = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert again == expect
    # range top-talkers straight off the served per-day counters
    merged = (
        sink.serving_view(spark)
        .groupBy("r", "b")
        .agg(SF.sum("cnt").alias("cnt"))
    )
    users = spark.createDataFrame(
        sorted({(r["user_id"],) for r in event_rows}), "user_id long"
    ).withColumn("__s", SF.expr("md5(cast(user_id as string))"))
    from beam_scala_examples_spark.queries.dq import (
        CMS_DAY_DEPTH,
        CMS_DAY_WIDTH,
    )

    probes = users.select(
        "user_id",
        SF.explode(SF.array(*[
            SF.struct(
                SF.lit(i).cast("long").alias("r"),
                SF.expr(
                    f"cast(conv(substr(__s, {1 + 8 * i}, 8), 16, 10)"
                    f" as bigint) % {CMS_DAY_WIDTH}"
                ).alias("b"),
            )
            for i in range(CMS_DAY_DEPTH)
        ])).alias("p"),
    ).select("user_id", "p.r", "p.b")
    w = Window.orderBy(SF.desc("est_count"), SF.asc("user_id"))
    served_top = sorted(
        (r.user_id, r.est_count, r.rank)
        for r in probes.join(merged, ["r", "b"])
        .groupBy("user_id")
        .agg(SF.min("cnt").alias("est_count"))
        .withColumn("rank", SF.row_number().over(w))
        .filter(SF.col("rank") <= CMS_ROLLUP_TOPK)
        .select("user_id", "est_count", SF.col("rank").cast("long").alias("rank"))
        .collect()
    )
    batch_top = sorted(
        (r.user_id, r.est_count, r.rank)
        for r in dq_heavy_users_rollup(spark, sf_dir).collect()
    )
    assert served_top == batch_top


def test_vbin_sink_by_day_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Round-7 grouped value-bin ingest: the additive bin log over two
    micro-batches serves per-day counters equal to batch
    dq_value_bins_by_day exactly; the cumulative percentile curve built
    from the served rows equals dq_value_quantiles_cumulative; replay
    changes nothing."""
    import pyspark.sql.functions as SF

    from beam_scala_examples_spark.queries.dq import (
        dq_value_bins_by_day,
        dq_value_quantiles_cumulative,
        vbin_quantile_bounds,
    )
    from beam_scala_examples_spark.streaming.vbinview import VbinIngestSink
    from pyspark.sql.window import Window

    sink = VbinIngestSink(f"{tmpdir}/vbin_day_log", group_cols=("day",))
    mk = lambda rs: spark.createDataFrame(
        [(r["value"], r["ts"]) for r in rs], "value double, ts string"
    ).select(
        "value", SF.date_trunc("day", SF.to_timestamp("ts")).alias("day")
    )
    half = len(event_rows) // 2
    sink(mk(event_rows[:half]), 0)
    sink(mk(event_rows[half:]), 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_value_bins_by_day(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    sink(mk(event_rows[half:]), 1)  # replay the latest batch
    again = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert again == expect
    # cumulative percentile curve straight off the served per-day bins
    daily = sink.serving_view(spark)
    days = daily.select("day").distinct()
    keys = daily.select("sign", "vbin").distinct()
    w = (
        Window.partitionBy("sign", "vbin").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        days.crossJoin(keys)
        .join(daily, ["day", "sign", "vbin"], "left")
        .withColumn("ccnt", SF.sum("cnt").over(w))
        .filter(SF.col("ccnt").isNotNull())
        .select("day", "sign", "vbin", SF.col("ccnt").alias("cnt"))
    )
    served_curve = sorted(
        tuple(r)
        for r in vbin_quantile_bounds(cum, ("day",)).collect()
    )
    batch_curve = sorted(
        tuple(r)
        for r in dq_value_quantiles_cumulative(spark, sf_dir).collect()
    )
    assert served_curve == batch_curve


def test_scene_cut_sink_via_real_stream(spark, sf_dir, tmpdir):
    """The scene-cut sink driven end-to-end by an actual writeStream
    (availableNow file stream, foreachBatch) rather than direct sink
    calls — the served stats still equal batch multimodal_scene_cuts
    exactly."""
    from beam_scala_examples_spark.queries.llmdata import (
        multimodal_scene_cuts,
    )
    from beam_scala_examples_spark.streaming.scenecutview import (
        SceneCutIngestSink,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(
        [{"doc_id": r["doc_id"], "text": r["text"]} for r in rows],
        200,
        f"{tmpdir}/scenefeed",
    )
    stream = read_event_stream(
        spark, f"{tmpdir}/scenefeed", schema="doc_id long, text string"
    )
    sink = SceneCutIngestSink(f"{tmpdir}/cuts")
    _run_stream(stream, "append", sink, tmpdir)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in multimodal_scene_cuts(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0


def test_vbin_and_profile_sinks_survive_all_null_batches(
    spark, tmpdir
):
    """Round-8 empty-partial hardening (ADVICE r07): a stream whose
    batches so far carried only NULL values writes file-less vbin log
    partitions; serving must return the empty/NULL-percentile relation
    (explicit-schema read via streaming.logio), not fail parquet schema
    inference — and once real values arrive the served counters are
    exactly the non-null binning."""
    import pyspark.sql.functions as SF

    from beam_scala_examples_spark.queries.dq import vbin_partial_counts
    from beam_scala_examples_spark.streaming.profileview import (
        ProfileSketchSink,
    )
    from beam_scala_examples_spark.streaming.vbinview import VbinIngestSink

    null_batch = spark.createDataFrame(
        [(None,), (None,), (float("nan"),)], "value double"
    )
    sink = VbinIngestSink(f"{tmpdir}/vbin_null_log")
    sink(null_batch, 0)
    assert sink.serving_view(spark).count() == 0  # empty, no error
    real = spark.createDataFrame(
        [(1.5,), (2.5,), (None,), (-3.25,)], "value double"
    )
    sink(real, 1)
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in vbin_partial_counts(real, "value").collect()
    )
    assert got == expect and len(got) > 0

    # the profile sink's vbins leg has the same degenerate corner; the
    # report must serve NULL percentile bounds, not raise
    ev_schema = (
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp_ntz, props string"
    )
    psink = ProfileSketchSink(f"{tmpdir}/profile_null")
    psink(
        spark.createDataFrame(
            [
                (1, 10, "click", None, None, None),
                (2, 11, "view", None, None, None),
            ],
            ev_schema,
        ),
        0,
    )
    report = psink.serving_view(spark)
    rows = {r.column_name: r for r in report.collect()}
    assert rows["value"].n_null == 2
    assert rows["value"].p50_lo is None


def test_video_sig_sink_pairs_match_batch(spark, sf_dir, tmpdir):
    """Round-8 video near-dup ingest: the signature registry built over
    a real availableNow writeStream serves the identical Jaccard-
    verified pair relation to batch multimodal_video_pairs; replaying
    the latest batch changes nothing (dynamic-overwrite idempotency);
    and the registry rows themselves equal batch
    multimodal_video_scenes."""
    from beam_scala_examples_spark.queries.llmdata import (
        multimodal_video_pairs,
        multimodal_video_scenes,
    )
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )
    from beam_scala_examples_spark.streaming.videodupview import (
        VideoSigIngestSink,
    )

    rows = _doc_rows(sf_dir)
    write_arrival_chunks(
        [{"doc_id": r["doc_id"], "text": r["text"]} for r in rows],
        200,
        f"{tmpdir}/vidfeed",
    )
    stream = read_event_stream(
        spark, f"{tmpdir}/vidfeed", schema="doc_id long, text string"
    )
    sink = VideoSigIngestSink(f"{tmpdir}/vidsigs")
    _run_stream(stream, "append", sink, tmpdir)
    got_sigs = sorted(
        tuple(r) for r in sink.signatures(spark).collect()
    )
    expect_sigs = sorted(
        tuple(r)
        for r in multimodal_video_scenes(spark, sf_dir).collect()
    )
    assert got_sigs == expect_sigs and len(got_sigs) > 0
    got = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    expect = sorted(
        tuple(r) for r in multimodal_video_pairs(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    # replay the last chunk as a direct sink call — idempotent
    last = [r for r in rows if r["doc_id"] >= rows[-200]["doc_id"]]
    replay = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in last],
        "doc_id long, text string",
    )
    n_batches = (len(rows) + 199) // 200
    sink(replay, n_batches - 1)
    again = sorted(tuple(r) for r in sink.serving_view(spark).collect())
    assert again == expect


def test_drift_triggered_ivf_retrain(spark, sf_dir, tmpdir):
    """Round-8 drift-triggered retrain (verdict item 8): ingesting the
    fixture embeddings trains codebook v0; a same-distribution second
    batch measures low drift and does NOT retrain; a DRIFTED batch (a
    new population with a dominant synthetic axis) pushes the
    accumulated top-PC past the threshold and retrains into a new
    version; the versioned recall guard holds (recall-after-retrain >=
    recall-before on the drifted corpus, both against the exact
    brute-force top-k); and replaying the retraining batch re-derives
    the identical registry, decision, and recall."""
    from beam_scala_examples_spark.streaming.ivfretrain import (
        DriftRetrainIvfSink,
    )
    from beam_scala_examples_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.orderBy("vec_id").collect()
    base = [(int(r.vec_id), [float(v) for v in r.embedding]) for r in rows]
    schema = "vec_id long, embedding array<double>"
    n = len(base)

    sink = DriftRetrainIvfSink(f"{tmpdir}/ivfretrain")
    sink(spark.createDataFrame(base, schema), 0)
    assert sink.active_version(spark) == 0      # cold start trains v0
    # a SMALL same-distribution batch (re-keyed copies): the
    # accumulated top PC barely moves -> no retrain
    sink(
        spark.createDataFrame(
            [(n + i, vec) for i, (_, vec) in enumerate(base[:50])],
            schema,
        ),
        1,
    )
    assert sink.active_version(spark) == 0      # same distribution: no retrain

    # drifted population: dominant alternating axis on dim 0 (the
    # +/-2 amplitude dominates the fixture's per-dim variance while
    # staying inside the fixed-point covariance scale)
    drifted = [
        (n + 50 + i, [(2.0 if i % 2 == 0 else -2.0)] + vec[1:])
        for i, (_, vec) in enumerate(base)
    ]
    last = spark.createDataFrame(drifted, schema)
    sink(last, 2)
    assert sink.active_version(spark) == 2      # drift fired a retrain

    dlog = {
        int(r.batch_id): (int(r.drift_micro), bool(r.retrained))
        for r in spark.read.parquet(sink.drift_log_path).collect()
    }
    assert dlog[0][1] and dlog[2][1] and not dlog[1][1]
    assert dlog[1][0] <= 50_000 < dlog[2][0]

    # the retrain guard: under drift the query workload follows the
    # data — recall is pinned on queries FROM the drifted population
    # (measured 0.68 -> 1.00 on this fixture), and the mixed workload
    # must not collapse either
    q_drift = [n + 50 + i for i in range(5)]
    before = sink.recall_micro(spark, version=0, query_ids=q_drift)
    after = sink.recall_micro(spark, version=2, query_ids=q_drift)
    assert after >= before, (before, after)
    assert after > 0
    q_mixed = list(range(5)) + q_drift
    before_m = sink.recall_micro(spark, version=0, query_ids=q_mixed)
    after_m = sink.recall_micro(spark, version=2, query_ids=q_mixed)
    assert after_m >= before_m - 100_000, (before_m, after_m)

    # replay the retraining batch: registry, decision, recall unchanged
    cb_once = sorted(
        (int(r.version), int(r.cluster), tuple(r.centroid))
        for r in spark.read.parquet(sink.codebooks_path).collect()
    )
    sink(last, 2)
    cb_twice = sorted(
        (int(r.version), int(r.cluster), tuple(r.centroid))
        for r in spark.read.parquet(sink.codebooks_path).collect()
    )
    assert cb_once == cb_twice
    assert sink.recall_micro(spark, version=2, query_ids=q_drift) == after


def test_hll_sink_overlap_view_matches_batch(spark, sf_dir, event_rows, tmpdir):
    """Round-8 sketch set algebra, served from the ingest log: the
    grouped sink's pairwise overlap view (register max-merge + the
    shared hll_overlap_from_regs algebra) must equal the batch
    dq_hll_overlap exactly."""
    from beam_scala_examples_spark.queries.dq import dq_hll_overlap
    from beam_scala_examples_spark.streaming.hllview import HllIngestSink

    stream = _feed(spark, event_rows, tmpdir)
    sink = HllIngestSink(f"{tmpdir}/hll_log", group_cols=("event_type",))
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.overlap_view(spark).collect())
    expect = sorted(
        tuple(r) for r in dq_hll_overlap(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0


def test_bq_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Streaming binary-quantization ingest (streaming/bqview.py): each
    arrival signed once into the signature log; the served Hamming
    shortlist + exact re-rank must equal the batch sim_bq_topk exactly
    (no quantizer to train — the sign index has zero build step)."""
    from beam_scala_examples_spark.queries.llmdata import sim_bq_topk
    from beam_scala_examples_spark.streaming.bqview import BqIngestSink

    sink = BqIngestSink(f"{tmpdir}/bq_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    third = len(rows) // 3
    sink(mk(rows[:third]), 0)
    sink(mk(rows[third : 2 * third]), 1)
    sink(mk(rows[2 * third :]), 2)

    expect = sorted(tuple(r) for r in sim_bq_topk(spark, sf_dir).collect())
    got = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert got == expect and len(got) > 0


def test_bq_ingest_replay_idempotent(spark, sf_dir, tmpdir):
    from beam_scala_examples_spark.streaming.bqview import BqIngestSink

    sink = BqIngestSink(f"{tmpdir}/bq_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    sink(mk(rows[:200]), 0)
    sink(mk(rows[200:]), 1)
    once = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    sink(mk(rows[200:]), 1)  # replay
    twice = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert once == twice


def test_bq_ingest_empty_prefix_serves_empty(spark, tmpdir):
    """An all-empty ingest prefix serves the EMPTY top-k relation
    (logio's explicit-schema read — round-9 ADVICE fix), not a parquet
    schema-inference error."""
    from beam_scala_examples_spark.streaming.bqview import BqIngestSink

    sink = BqIngestSink(f"{tmpdir}/bq_log")
    sink(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        0,
    )
    assert sink.topk_view(spark).count() == 0


def test_sq8_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Streaming SQ8 ingest (streaming/sq8view.py): per-batch min/max
    PARTIALS merge into the exact global stats (min/max are mergeable,
    unlike a k-means codebook), so the served quantize+rank+rerank
    equals the batch sim_sq8_topk exactly."""
    from beam_scala_examples_spark.queries.llmdata import sim_sq8_topk
    from beam_scala_examples_spark.streaming.sq8view import Sq8IngestSink

    sink = Sq8IngestSink(f"{tmpdir}/sq8_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    third = len(rows) // 3
    sink(mk(rows[:third]), 0)
    sink(mk(rows[third : 2 * third]), 1)
    sink(mk(rows[2 * third :]), 2)

    expect = sorted(tuple(r) for r in sim_sq8_topk(spark, sf_dir).collect())
    got = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert got == expect and len(got) > 0


def test_sq8_ingest_replay_idempotent(spark, sf_dir, tmpdir):
    from beam_scala_examples_spark.streaming.sq8view import Sq8IngestSink

    sink = Sq8IngestSink(f"{tmpdir}/sq8_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    sink(mk(rows[:200]), 0)
    sink(mk(rows[200:]), 1)
    once = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    sink(mk(rows[200:]), 1)  # replay
    twice = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    assert once == twice


def test_sq8_ingest_empty_prefix_serves_empty(spark, tmpdir):
    from beam_scala_examples_spark.streaming.sq8view import Sq8IngestSink

    sink = Sq8IngestSink(f"{tmpdir}/sq8_log")
    sink(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        0,
    )
    assert sink.topk_view(spark).count() == 0


def test_mrl_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Streaming MRL ingest (streaming/mrlview.py): the index state is
    PER-ROW (each vector's prefix norms are functions of that vector
    alone — no global stats, no retrain gate, the simplest rung of the
    repo's streaming-index ladder), so the served prefix-budget recall
    frontier equals the batch sim_matryoshka_recall_structured exactly,
    whatever the batch boundaries."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_matryoshka_recall_structured,
    )
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    sink = MrlIngestSink(f"{tmpdir}/mrl_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    third = len(rows) // 3
    sink(mk(rows[:third]), 0)
    sink(mk(rows[third : 2 * third]), 1)
    sink(mk(rows[2 * third :]), 2)

    expect = sorted(
        tuple(r)
        for r in sim_matryoshka_recall_structured(spark, sf_dir).collect()
    )
    got = sorted(tuple(r) for r in sink.recall_view(spark).collect())
    assert got == expect and len(got) == 4


def test_mrl_ingest_replay_idempotent(spark, sf_dir, tmpdir):
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    sink = MrlIngestSink(f"{tmpdir}/mrl_log")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    sink(mk(rows[:200]), 0)
    sink(mk(rows[200:]), 1)
    once = sorted(tuple(r) for r in sink.topk_view(spark, 16).collect())
    sink(mk(rows[200:]), 1)  # replay
    twice = sorted(tuple(r) for r in sink.topk_view(spark, 16).collect())
    assert once == twice and len(once) > 0


def test_mrl_ingest_empty_prefix_serves_empty(spark, tmpdir):
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    sink = MrlIngestSink(f"{tmpdir}/mrl_log")
    sink(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        0,
    )
    assert sink.topk_view(spark, 8).count() == 0
    frontier = sink.recall_view(spark).collect()
    assert len(frontier) == 4
    assert all(r.truth_rows == 0 for r in frontier)


def test_mrl_wrong_dim_embedding_fails_loudly(spark, tmpdir):
    """Round-11 (round-10 ADVICE): the structured-MRL build uses
    zip_with against a fixed EMB_DIM weight array, and zip_with
    null-pads the shorter side — a short embedding row must raise at
    the build site, never flow through as a null-contaminated vector."""
    from beam_scala_examples_spark.queries.llmdata import (
        EMB_DIM,
        mrl_structured,
    )
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    bad = spark.createDataFrame(
        [(1, [0.5] * (EMB_DIM - 1))], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="MRL structuring expects"):
        mrl_structured(bad).collect()
    sink = MrlIngestSink(f"{tmpdir}/mrl_bad")
    with pytest.raises(Exception, match="MRL structuring expects"):
        sink(bad, 0)
    # a full-dim row still structures cleanly (no false trips)
    good = spark.createDataFrame(
        [(1, [0.5] * EMB_DIM)], "vec_id long, embedding array<float>"
    )
    out = mrl_structured(good).collect()
    assert len(out) == 1 and len(out[0].embedding) == EMB_DIM
    assert all(v is not None for v in out[0].embedding)


def test_mrl_budget_scan_prunes_segments(spark, sf_dir, tmpdir):
    """The scale claim of the segmented MRL layout: serving budget 16
    must read ONLY seg0/seg1 (+ pnorms) from the log — the higher
    segments are pruned at the parquet scan, so serve IO is
    proportional to the dim budget."""
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    sink = MrlIngestSink(f"{tmpdir}/mrl_log")
    rows = _vec_rows(spark, sf_dir)
    sink(
        spark.createDataFrame(
            rows[:100], "vec_id long, embedding array<float>"
        ),
        0,
    )
    plan = (
        sink.topk_view(spark, 16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert scans, "no parquet scan in the budget-16 serve plan"
    for ln in scans:
        assert "seg2" not in ln and "seg3" not in ln, (
            f"budget-16 serve reads pruned segments: {ln}"
        )


@pytest.mark.parametrize(
    "cuts",
    [
        (1,),              # one singleton batch, rest in one chunk
        (7, 7),            # tiny uneven prefix batches
        (0, 250),          # an EMPTY batch in the stream
    ],
)
def test_mrl_ingest_chunking_invariant(spark, sf_dir, tmpdir, cuts):
    """Arrival chunking must not change the served MRL frontier — the
    per-row index state composes under ANY batch boundaries, including
    singleton and empty batches (the same invariant the pane sinks pin
    via Hypothesis; here the state is stateless-per-row so three
    adversarial chunkings pin it)."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_matryoshka_recall_structured,
    )
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink

    sink = MrlIngestSink(f"{tmpdir}/mrl_log_{'_'.join(map(str, cuts))}")
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    pos, bid = 0, 0
    for c in cuts:
        sink(mk(rows[pos : pos + c]), bid)
        pos += c
        bid += 1
    sink(mk(rows[pos:]), bid)

    expect = sorted(
        tuple(r)
        for r in sim_matryoshka_recall_structured(spark, sf_dir).collect()
    )
    got = sorted(tuple(r) for r in sink.recall_view(spark).collect())
    assert got == expect


def test_ivf_ingest_filtered_serve_matches_batch(spark, sf_dir, tmpdir):
    """Hybrid search served from the streaming postings log: passing
    the metadata-allowed id relation into topk_view applies the
    predicate inside the probed cells (semi join before scoring),
    and the served result equals the batch sim_filtered_ivf_topk
    exactly — the predicate composes with the log at serve time, no
    re-ingest needed when the filter changes."""
    from beam_scala_examples_spark.queries.clustering import (
        _allowed_vecs,
        sim_filtered_ivf_topk,
    )
    from beam_scala_examples_spark.streaming.ivfview import IvfIngestSink

    cents = _trained_cents(spark, sf_dir)
    sink = IvfIngestSink(f"{tmpdir}/ivf_postings_filt", cents)
    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    half = len(rows) // 2
    sink(mk(rows[:half]), 0)
    sink(mk(rows[half:]), 1)

    expect = sorted(
        tuple(r) for r in sim_filtered_ivf_topk(spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r)
        for r in sink.topk_view(
            spark, allowed=_allowed_vecs(spark, sf_dir)
        ).collect()
    )
    assert got == expect and len(got) > 0


def test_graph_ingest_real_stream_matches_batch(spark, sf_dir, tmpdir):
    """Round-11 streaming twin of the graph-ANN rung
    (streaming/graphview.py): ingest is per-row substrate (embedding +
    norm), serving ASSEMBLES the bounded-degree graph from the log and
    runs the identical batch search core — so after a real
    availableNow writeStream the served top-k AND the scored-node cost
    relation equal batch sim_graph_topk / sim_graph_cost exactly."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_graph_cost,
        sim_graph_topk,
    )
    from beam_scala_examples_spark.streaming.graphview import GraphIngestSink
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _vec_rows(spark, sf_dir)
    write_arrival_chunks(
        [
            {"vec_id": r.vec_id, "embedding": [float(v) for v in r.embedding]}
            for r in rows
        ],
        200,
        f"{tmpdir}/graphfeed",
    )
    stream = read_event_stream(
        spark, f"{tmpdir}/graphfeed",
        schema="vec_id long, embedding array<float>",
    )
    sink = GraphIngestSink(f"{tmpdir}/graph_log")
    _run_stream(stream, "append", sink, tmpdir)

    got = sorted(tuple(r) for r in sink.topk_view(spark).collect())
    expect = sorted(tuple(r) for r in sim_graph_topk(spark, sf_dir).collect())
    assert got == expect and len(got) > 0
    got_cost = sorted(tuple(r) for r in sink.cost_view(spark).collect())
    expect_cost = sorted(
        tuple(r) for r in sim_graph_cost(spark, sf_dir).collect()
    )
    assert got_cost == expect_cost


def test_graph_ingest_replay_and_chunking_invariant(spark, sf_dir, tmpdir):
    """The order-invariance the serve-time-assembly design buys: any
    arrival chunking (and replaying a batch) serves the identical
    graph search — the trade vs arrival-order-dependent NSW insertion,
    stated in the module docstring, held as a test."""
    from beam_scala_examples_spark.streaming.graphview import GraphIngestSink

    rows = _vec_rows(spark, sf_dir)
    mk = lambda rs: spark.createDataFrame(
        rs, "vec_id long, embedding array<float>"
    )
    one = GraphIngestSink(f"{tmpdir}/graph_one")
    one(mk(rows), 0)
    whole = sorted(tuple(r) for r in one.topk_view(spark).collect())

    parts = GraphIngestSink(f"{tmpdir}/graph_parts")
    third = len(rows) // 3
    parts(mk(rows[:third]), 0)
    parts(mk(rows[third : 2 * third]), 1)
    parts(mk(rows[2 * third :]), 2)
    chunked = sorted(tuple(r) for r in parts.topk_view(spark).collect())
    assert chunked == whole and len(whole) > 0

    parts(mk(rows[2 * third :]), 2)  # replay
    again = sorted(tuple(r) for r in parts.topk_view(spark).collect())
    assert again == whole


def test_graph_ingest_empty_prefix_serves_empty(spark, tmpdir):
    from beam_scala_examples_spark.streaming.graphview import GraphIngestSink

    sink = GraphIngestSink(f"{tmpdir}/graph_empty")
    sink(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        0,
    )
    assert sink.topk_view(spark).count() == 0
    assert sink.cost_view(spark).count() == 0


def test_ivf_auto_router_matches_batch(spark, sf_dir, tmpdir):
    """Round-11 (verdict item 4): the hybrid-search auto router served
    from the LIVE postings log.  After a real availableNow writeStream
    ingests the corpus, auto_topk_view must produce identical
    (lang, plan, qid, vec_id, cosine) rows to the batch router
    sim_filtered_auto_topk — same stats-derived nprobe/K crossover,
    evaluated against the log's own ingested-vector counts — and both
    branches (brute and ivf) must actually fire."""
    from beam_scala_examples_spark.queries.clustering import (
        SEL_LANGS,
        sim_filtered_auto_topk,
    )
    from beam_scala_examples_spark.streaming.ivfview import IvfIngestSink
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )
    from beam_scala_examples_spark.tables import load

    cents = _trained_cents(spark, sf_dir)
    rows = _vec_rows(spark, sf_dir)
    write_arrival_chunks(
        [
            {"vec_id": r.vec_id, "embedding": [float(v) for v in r.embedding]}
            for r in rows
        ],
        200,
        f"{tmpdir}/autofeed",
    )
    stream = read_event_stream(
        spark, f"{tmpdir}/autofeed",
        schema="vec_id long, embedding array<float>",
    )
    sink = IvfIngestSink(f"{tmpdir}/ivf_auto_postings", cents)
    _run_stream(stream, "append", sink, tmpdir)

    preds = [
        (
            lang,
            load(spark, sf_dir, "documents")
            .filter(F.col("lang") == lang)
            .select(F.col("doc_id").alias("vec_id")),
        )
        for lang in SEL_LANGS
    ]
    got = sorted(
        tuple(r) for r in sink.auto_topk_view(spark, preds).collect()
    )
    expect = sorted(
        tuple(r) for r in sim_filtered_auto_topk(spark, sf_dir).collect()
    )
    assert got == expect and len(got) > 0
    plans = {(r[0], r[1]) for r in got}
    assert {p for _, p in plans} == {"brute", "ivf"}, (
        f"both router branches must fire, got {plans}"
    )


def test_mrl_ingest_real_stream_matches_batch(spark, sf_dir, tmpdir):
    """The MRL sink driven end-to-end by an actual availableNow
    writeStream over a file-stream feed (one chunk per micro-batch):
    the served recall frontier equals the batch
    sim_matryoshka_recall_structured exactly."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_matryoshka_recall_structured,
    )
    from beam_scala_examples_spark.streaming.mrlview import MrlIngestSink
    from beam_scala_examples_spark.streaming.sources import (
        read_event_stream,
        write_arrival_chunks,
    )

    rows = _vec_rows(spark, sf_dir)
    write_arrival_chunks(
        [
            {"vec_id": r.vec_id, "embedding": [float(v) for v in r.embedding]}
            for r in rows
        ],
        200,
        f"{tmpdir}/mrlfeed",
    )
    stream = read_event_stream(
        spark, f"{tmpdir}/mrlfeed",
        schema="vec_id long, embedding array<float>",
    )
    sink = MrlIngestSink(f"{tmpdir}/mrl_stream_log")
    _run_stream(stream, "append", sink, tmpdir)

    expect = sorted(
        tuple(r)
        for r in sim_matryoshka_recall_structured(spark, sf_dir).collect()
    )
    got = sorted(tuple(r) for r in sink.recall_view(spark).collect())
    assert got == expect and len(got) == 4
