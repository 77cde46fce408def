"""The open-loop streaming workload: ``stream_game``.

A seeded generator shaped like the reference's game-event injector
(rolling teams, robots clicking at about twice a member's rate, uniform
scores) writes one arrival file every ``FILE_EVERY_S`` seconds at a fixed
event rate, on a wall-clock schedule that does not wait for the engine.
Each event carries ``created_ms``, the time it was due.  Three pipelines
read the feed concurrently, as LeaderBoard and GameStats do:

* ``team``: ``leaderboard.team_scores`` in update mode with a watermark;
* ``threshold``: ``stateful.threshold_crossings`` (keyed state through
  ``applyInPandasWithState``), append mode;
* ``spam``: ``gamestats.SpamFilteredTeamScoresSink``, a ``foreachBatch``
  sink that writes parquet.

Emit latency of a micro-batch is its emission time (progress
``timestamp`` + ``durationMs.triggerExecution``) minus the newest
``created_ms`` in it, taken by an ``observe()`` on the source.  The
feed's first ``LEAD_IN_S`` seconds are a lead-in whose micro-batches and
files the metrics leave out; the measured part lasts ``--seconds``.  After the
feed, every pipeline's final output is checked against the DuckDB
oracle of its batch twin over the same events.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from beam_scala_examples_spark.queries import game
from beam_scala_examples_spark.session import memo_snapshot
from beam_scala_examples_spark.streaming import gamestats, leaderboard, stateful
from beam_scala_examples_spark.streaming.sources import EVENT_SCHEMA, read_event_stream

from tests.oracle_harness import canonicalize

import check
import engine as eng

RATE = 2000                 # events per second
FILE_EVERY_S = 0.5
EVENTS_PER_FILE = int(RATE * FILE_EVERY_S)
WARM_FILES, WARM_EVENTS_PER_FILE = 4, 250
REPLAY_FILES_PER_TRIGGER = 4
# The feed runs this long before the measured part: its micro-batches are
# not counted, because the first few of the slowest pipeline (the spam
# sink) differ in size from run to run until its batches settle into a
# steady cycle of 3-5 s.
LEAD_IN_S = 8.0
# The traced run's replays (tracing overhead, one-core baseline) read the
# feed's first REPLAY_FILES files, so its length does not grow with the
# run's measuring time.
REPLAY_FILES = 16
SCHEMA = EVENT_SCHEMA + ", created_ms long"
EVENT_TIME_BASE = datetime(2024, 1, 1, 10, 0, 0)
PIPELINES = ("team", "threshold", "spam")
DRAIN_TIMEOUT_S = 60.0
STARTUP_TIMEOUT_S = 60.0

# Injector population (mirrors the fixture injector's constants).
MAX_SCORE, N_LIVE_TEAMS, N_ROBOTS = 20, 15, 20
BASE_MEMBERS, MEMBERS_SPAN, ROBOT_ONE_IN = 5, 10, 3
TEAM_TTL_MIN_S, TEAM_TTL_SPAN_S = 20 * 60, 20 * 60
USER_ID_BASE = 1000


class Injector:
    """Seeded game events in arrival order; event time advances with the
    schedule (``i / RATE`` seconds after ``EVENT_TIME_BASE``), so arrival
    order equals (ts, event_id) order and no event is late."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_user = USER_ID_BASE
        self.team_no = 0
        self.teams = [self._team(0.0) for _ in range(N_LIVE_TEAMS)]

    def _team(self, now_s: float) -> dict:
        rng = self.rng
        n = BASE_MEMBERS + rng.randrange(MEMBERS_SPAN)
        team = {
            "name": f"team{self.team_no:03d}",
            "expires": now_s + TEAM_TTL_MIN_S + rng.randrange(TEAM_TTL_SPAN_S),
            "robot": 1 + rng.randrange(N_ROBOTS) if rng.randrange(ROBOT_ONE_IN) == 0 else None,
            "members": list(range(self.next_user, self.next_user + n)),
        }
        self.team_no += 1
        self.next_user += n
        return team

    def events(self, first_id: int, n: int) -> list[tuple]:
        """(event_id, ts string, user_id, team, value) for ids first_id.."""
        out = []
        rng = self.rng
        for i in range(first_id, first_id + n):
            now_s = i / RATE
            k = rng.randrange(len(self.teams))
            team = self.teams[k]
            if team["expires"] <= now_s:
                team = self.teams[k] = self._team(now_s)
            members = team["members"]
            if team["robot"] is not None and rng.randrange(len(members) // 2) == 0:
                user = team["robot"]
            else:
                user = rng.choice(members)
            ts = EVENT_TIME_BASE + timedelta(milliseconds=(1000 * i) // RATE)
            out.append((i, ts.isoformat(sep=" ", timespec="milliseconds"),
                        user, team["name"], float(rng.randrange(MAX_SCORE))))
        return out


def _line_prefix(e: tuple) -> str:
    return (f'{{"event_id": {e[0]}, "ts": "{e[1]}", "user_id": {e[2]}, '
            f'"event_type": "{e[3]}", "value": {e[4]}, "created_ms": ')


def plan_files(seed: int, n_files: int, per_file: int) -> tuple[list, list]:
    """All events of a feed and, per arrival file, its JSON lines without
    the ``created_ms`` value, which is stamped when the file is written."""
    inj = Injector(seed)
    events, files = [], []
    for k in range(n_files):
        batch = inj.events(k * per_file, per_file)
        events.extend(batch)
        files.append([_line_prefix(e) for e in batch])
    return events, files


def _write_file(feed_dir: str, k: int, prefixes: list[str], t_first: float) -> None:
    """Write arrival file ``k`` atomically (hidden temp name, then rename:
    the file source skips names starting with a dot)."""
    base_ms = t_first * 1000.0
    body = "".join(
        f"{p}{int(base_ms + 1000.0 * j / RATE)}}}\n" for j, p in enumerate(prefixes)
    )
    tmp = os.path.join(feed_dir, f".chunk_{k:05d}.tmp")
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, os.path.join(feed_dir, f"chunk_{k:05d}.json"))


class Feed(threading.Thread):
    """The open-loop generator: file ``k`` holds the events due in
    ``[t0 + k*FILE_EVERY_S, t0 + (k+1)*FILE_EVERY_S)`` and is written when
    the last of them is due, whatever the engine is doing."""

    def __init__(self, feed_dir: str, files: list[list[str]], t0: float):
        super().__init__(name="perfbench-feed", daemon=True)
        self.feed_dir, self.files, self.t0 = feed_dir, files, t0
        self.late_ms: list[float] = []
        self.written_at: list[float] = []

    def run(self) -> None:
        for k, prefixes in enumerate(self.files):
            due = self.t0 + (k + 1) * FILE_EVERY_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            _write_file(self.feed_dir, k, prefixes, self.t0 + k * FILE_EVERY_S)
            now = time.time()
            self.written_at.append(now)
            self.late_ms.append(1e3 * (now - due))


class Progress(StreamingQueryListener):
    """Keeps every progress event as a dict, per query id."""

    def __init__(self):
        self.by_query: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.by_query[p["id"]].append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self, query_id: str) -> list[dict]:
        with self._lock:
            return list(self.by_query.get(query_id, ()))


class TimedSink:
    """Wraps a foreachBatch sink and records each call's wall interval."""

    def __init__(self, sink):
        self.sink = sink
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        self.sink(batch_df, batch_id)
        self.calls.append((batch_id, t0, time.time()))


class Pipelines:
    """The three concurrent queries over one feed directory, each with
    its own checkpoint and output directories under ``root``."""

    def __init__(self, spark, feed_dir: str, root: str, timed_sink: bool,
                 available_now: bool = False, files_per_trigger: int = 100000):
        self.team_final: dict = {}
        self.crossings: list[tuple] = []
        self.spam_out = f"{root}/spam_out"
        self.spam_contrib = f"{root}/spam_contrib"
        spam = gamestats.SpamFilteredTeamScoresSink(self.spam_contrib, self.spam_out)
        self.spam_sink = TimedSink(spam) if timed_sink else spam

        def source():
            return read_event_stream(spark, feed_dir, schema=SCHEMA,
                                     max_files_per_trigger=files_per_trigger).observe(
                "feed", F.max("created_ms").alias("newest_ms"))

        def team_sink(df, _bid):
            for r in df.collect():
                self.team_final[(r.win_start, r.team)] = r.total_score

        def threshold_sink(df, _bid):
            self.crossings.extend((r.team, r.event_id, r.total) for r in df.collect())

        plans = {
            "team": (leaderboard.team_scores(source()), "update", team_sink),
            "threshold": (stateful.threshold_crossings(source(), game.Q15_THRESHOLD),
                          "append", threshold_sink),
            "spam": (source(), "append", self.spam_sink),
        }
        self.queries = {}
        for name, (df, mode, sink) in plans.items():
            w = (df.writeStream.queryName(f"{name}_{os.path.basename(root)}")
                 .outputMode(mode).foreachBatch(sink)
                 .option("checkpointLocation", f"{root}/ckpt_{name}"))
            if available_now:
                w = w.trigger(availableNow=True)
            self.queries[name] = w.start()

    def wait_ready(self, timeout: float) -> None:
        """Block until every query has initialised its source and waits
        for data."""
        deadline = time.time() + timeout
        for name, q in self.queries.items():
            while "Waiting" not in q.status["message"] or q.status["isTriggerActive"]:
                if q.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"{name} did not start: {q.status} {q.exception()}")
                time.sleep(0.02)

    def await_all(self, timeout: float) -> None:
        deadline = time.time() + timeout
        for q in self.queries.values():
            q.awaitTermination(max(1.0, deadline - time.time()))

    def stop(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — a query that already died is counted by the checks
                pass


def _start_ms(p: dict) -> float:
    """Trigger start of a progress event, epoch milliseconds."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (ts - datetime(1970, 1, 1)).total_seconds() * 1e3


def _emission_ms(p: dict) -> float:
    return _start_ms(p) + p["durationMs"]["triggerExecution"]


def _data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _commit_times(progress: list[dict], n_files: int) -> list[float]:
    """Epoch seconds by which a pipeline had committed each arrival file,
    in arrival order (the source reads files oldest first); shorter than
    ``n_files`` while files are outstanding."""
    out: list[float] = []
    seen = 0
    for p in progress:
        seen += p.get("numInputRows", 0)
        while len(out) < n_files and seen >= (len(out) + 1) * EVENTS_PER_FILE:
            out.append(_emission_ms(p) / 1e3)
    return out


def _replay(run, feed_dir: str, root: str) -> float:
    """Wall time to run the three pipelines over every file already in
    ``feed_dir`` with availableNow, on the live session."""
    t0 = time.perf_counter()
    pipes = Pipelines(run.engine.spark, feed_dir, root, timed_sink=False,
                      available_now=True, files_per_trigger=REPLAY_FILES_PER_TRIGGER)
    pipes.await_all(300)
    return time.perf_counter() - t0


def run_workload(run) -> dict:
    n_lead = math.ceil(LEAD_IN_S / FILE_EVERY_S)
    n_files = n_lead + max(1, math.ceil(run.seconds / FILE_EVERY_S))
    events, files = plan_files(run.seed, n_files, EVENTS_PER_FILE)
    _, warm_files = plan_files(run.seed + 1, WARM_FILES, WARM_EVENTS_PER_FILE)
    warm_feed = f"{run.run_dir}/warm_feed"
    os.makedirs(warm_feed)
    for k, prefixes in enumerate(warm_files):
        _write_file(warm_feed, k, prefixes, time.time())

    # --- set-up: session starts, warm replay, live stream start-up -----
    starts = []
    for t0, t1 in run.engine.start_repeatedly():
        run.tracer.add("session.start", t0, t1)
        starts.append(t1 - t0)
    spark = run.engine.spark
    listener = Progress()
    spark.streams.addListener(listener)
    with run.tracer.span("session.warm"):
        t0 = time.perf_counter()
        Pipelines(spark, warm_feed, f"{run.run_dir}/warm", timed_sink=False,
                  available_now=True).await_all(120)
        warm_s = time.perf_counter() - t0
    feed_dir = f"{run.run_dir}/feed"
    os.makedirs(feed_dir)
    sc = spark.sparkContext
    with run.tracer.span("stream.start"):
        t0 = time.perf_counter()
        if run.tracer.enabled:
            sc.setJobGroup("stream.start", "live pipelines start")
        pipes = Pipelines(spark, feed_dir, f"{run.run_dir}/live", timed_sink=run.tracer.enabled)
        build_s = time.perf_counter() - t0
        pipes.wait_ready(STARTUP_TIMEOUT_S)
        startup_s = time.perf_counter() - t0
    build_jobs = run.engine.jobs_in_group("stream.start") if run.tracer.enabled else 0
    if run.tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # --- the open-loop feed: lead-in, then the measured part -------------
    feed = Feed(feed_dir, files, time.time() + 0.2)
    measured_from_ms = 1e3 * (feed.t0 + n_lead * FILE_EVERY_S)
    t_feed0 = time.time()
    feed.start()
    feed.join()
    total = len(events)
    ids = {name: str(q.id) for name, q in pipes.queries.items()}
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        done = {name: _commit_times(listener.batches(qid), n_files)
                for name, qid in ids.items()}
        behind = [name for name, t in done.items() if len(t) < n_files]
        if not behind or time.time() > deadline or any(
                pipes.queries[name].exception() is not None for name in behind):
            break
        time.sleep(0.05)
    t_end = time.time()
    # Commit lag of an arrival file in a pipeline: from the file's write
    # until the pipeline has committed it.  Its mean over the pipelines and
    # the measured files is the backlog signal: it grows when the engine
    # falls behind the fixed rate, and averaging over the files makes it
    # independent of where the micro-batch boundaries fall.  Each pipeline
    # counts alike: the spam sink's lag alone follows its 3-5 s batch
    # cycle and spread 0.15 of its median over ten seeds.  The last
    # file's lag in the slowest pipeline is the drain.
    n_done = min(len(t) for t in done.values())
    pipe_lags = {name: [t[k] - feed.written_at[k] for k in range(n_done)]
                 for name, t in done.items()}
    lags = [max(lag[k] for lag in pipe_lags.values()) for k in range(n_done)]
    drained = not behind
    held = run.engine.held_mb()
    peak_rss = run.engine.peak_rss_mb()
    live_status = {n: (q.isActive, str(q.exception()) if q.exception() else None)
                   for n, q in pipes.queries.items()}
    run_ids = [str(q.runId) for q in pipes.queries.values()]
    pipes.stop()

    # --- checks, outside the timed region ---------------------------------
    failures = []
    progress = {name: listener.batches(qid) for name, qid in ids.items()}
    for name in PIPELINES:
        got_rows = sum(p.get("numInputRows", 0) for p in progress[name])
        if live_status[name][1] is not None:
            failures.append({"pipeline": name, "error": live_status[name][1][:300]})
        elif got_rows != total:
            failures.append({"pipeline": name, "error": f"read {got_rows} of {total} events"})
    failures += check_outputs(run, events, pipes)

    lat, waits = [], []
    for name in PIPELINES:
        for p in _data_batches(progress[name]):
            newest = (p.get("observedMetrics") or {}).get("feed", {}).get("newest_ms")
            if newest is not None and newest >= measured_from_ms:
                lat.append(_emission_ms(p) - newest)
                waits.append(_start_ms(p) - newest)
    # Without samples, the metrics read the time from the feed's start to
    # the end of the wait (and failed > 0).
    stalled_s = t_end - t_feed0
    if not lat:
        failures.append({"pipeline": "all", "error": "no observed micro-batch after the lead-in"})
        lat = [1e3 * stalled_s]
    tail_p, tail_v, n = eng.tail(lat)
    backlog = ([x for lag in pipe_lags.values() for x in lag[n_lead:]]
               if drained else [stalled_s])
    out = {
        "attempted": len(PIPELINES),
        "failed": len({f["pipeline"] for f in failures}),
        "e2e": {
            "setup_s": eng.median(starts) + warm_s + startup_s,
            "pass_s": statistics.fmean(backlog),
            "latency_ms": eng.median(lat),
            "latency_tail_ms": tail_v,
            "mem_mb": held["total"],
        },
        "detail": {
            "params": {"loop": "open", "rate_events_per_s": RATE,
                       "file_every_s": FILE_EVERY_S, "files": n_files,
                       "lead_in_files": n_lead,
                       "events": total, "pipelines": list(PIPELINES)},
            "latency_tail_percentile": tail_p, "latency_samples": n,
            "drain_s": lags[-1] if drained else None,
            "commit_lag_s": lags,
            "commit_lag_mean_s": {name: statistics.fmean(lag[n_lead:]) if drained else None
                                  for name, lag in pipe_lags.items()},
            "queue_wait_ms_p50": eng.median(waits),
            "held_mb": held, "peak_rss_mb": peak_rss,
            "gen_late_ms_max": max(feed.late_ms),
            "session_starts_s": starts, "warm_s": warm_s, "startup_s": startup_s,
            "failures": failures,
        },
    }
    if run.tracer.enabled:
        out["layers"] = traced_layers(
            run, progress, feed, pipes, run_ids, feed_dir,
            {"start_s": eng.median(starts), "warm_s": warm_s, "build_s": build_s,
             "build_jobs": build_jobs, "feed_s": t_end - t_feed0})
    return out


def check_outputs(run, events: list[tuple], pipes: Pipelines) -> list[dict]:
    """Final outputs against the DuckDB oracles of the batch twins."""
    odir = f"{run.run_dir}/oracle"
    os.makedirs(odir)
    table = pa.table({
        "event_id": pa.array([e[0] for e in events], pa.int64()),
        "ts": pa.array([datetime.fromisoformat(e[1]) for e in events], pa.timestamp("us")),
        "user_id": pa.array([e[2] for e in events], pa.int64()),
        "event_type": [e[3] for e in events],
        "value": pa.array([e[4] for e in events], pa.float64()),
    })
    pq.write_table(table, f"{odir}/events.parquet")
    oracle = check.Oracle(odir, run.run_dir)
    got = {
        "team": lambda: canonicalize(
            [(w, t, s) for (w, t), s in pipes.team_final.items()],
            ["win_start", "team", "total_score"]),
        "threshold": lambda: canonicalize(pipes.crossings, ["team", "event_id", "total"]),
        "spam": lambda: check.arrow_canonical(
            run.engine.spark.read.parquet(pipes.spam_out).toArrow()),
    }
    twins = {"team": "q13_leaderboard_team", "threshold": "q15_threshold_crossings",
             "spam": "q14_spam_filtered_team_score"}
    failures = []
    for name, twin in twins.items():
        try:
            ok = oracle.matches(twin, game.ORACLE[twin], got[name]())
            error = f"final output differs from {twin}"
        except Exception as exc:  # noqa: BLE001 — e.g. a sink that wrote nothing
            ok, error = False, f"{type(exc).__name__}: {exc}"[:300]
        if not ok:
            failures.append({"pipeline": name, "error": error})
    oracle.close()
    return failures


def traced_layers(run, progress, feed, pipes, run_ids, feed_dir, su) -> dict:
    spark = run.engine.spark
    cores = len(os.sched_getaffinity(0))
    batches = [p for name in PIPELINES for p in _data_batches(progress[name])]

    def dur(p, k):
        return p["durationMs"].get(k, 0)

    # Micro-batch spans with their phases laid end to end in execution order.
    for name in PIPELINES:
        for p in progress[name]:
            t0 = _start_ms(p) / 1e3
            tid = f"{name}:{p['batchId']}"
            idx = run.tracer.add("microbatch", t0, t0 + dur(p, "triggerExecution") / 1e3,
                                 tid, parent=-1, pipeline=name, rows=p.get("numInputRows", 0))
            t = t0
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                          "addBatch", "commitOffsets"):
                d = dur(p, phase) / 1e3
                run.tracer.add(f"microbatch.{phase}", t, t + d, tid, parent=idx)
                t += d
    if isinstance(pipes.spam_sink, TimedSink):
        for bid, t0, t1 in pipes.spam_sink.calls:
            run.tracer.add("spam.sink", t0, t1, f"spam:{bid}", parent=-1)

    detail: dict = {}
    state_rows = state_mem = 0
    for name in PIPELINES:
        data = _data_batches(progress[name])
        last = progress[name][-1] if progress[name] else {}
        ops = last.get("stateOperators") or []
        rows = sum(o.get("numRowsTotal", 0) for o in ops)
        mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
        state_rows += rows
        state_mem += mem
        pre = f"stream.{name}."
        detail[pre + "batches"] = len(data)
        detail[pre + "rows_per_batch"] = eng.median([p["numInputRows"] for p in data])
        detail[pre + "trigger_ms_p50"] = eng.median([dur(p, "triggerExecution") for p in data])
        for key, phase in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                           ("get_batch_ms", "getBatch"), ("wal_commit_ms", "walCommit")):
            detail[pre + key] = eng.median([dur(p, phase) for p in data])
        detail[pre + "state_rows"] = rows
        detail[pre + "state_mem_bytes"] = mem
        detail[pre + "state_commit_ms"] = eng.median(
            [sum(o.get("commitTimeMs", 0) for o in (p.get("stateOperators") or [])) for p in data])
    if isinstance(pipes.spam_sink, TimedSink):
        detail["stream.spam.sink_ms"] = eng.median(
            [1e3 * (t1 - t0) for _, t0, t1 in pipes.spam_sink.calls])
    contrib_files = sum(
        1 for _, _, fs in os.walk(pipes.spam_contrib) for f in fs if f.endswith(".parquet"))

    by_group = eng.stage_totals_by_group(run.engine)
    engine_tot = dict.fromkeys(eng.STAGE_FIELDS, 0.0)
    for rid in run_ids:
        for k, v in by_group.get(rid, {}).items():
            engine_tot[k] += v
    exec_jobs = sum(run.engine.jobs_in_group(rid) for rid in run_ids)

    t0 = time.perf_counter()
    with run.tracer.span("tables.scan", "feed"):
        spark.read.schema(SCHEMA).json(feed_dir).write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0

    # Replays of the start of the recorded feed: traced session, untraced,
    # one core.
    replay_feed = f"{run.run_dir}/replay_feed"
    os.makedirs(replay_feed)
    for name in sorted(os.listdir(feed_dir))[:REPLAY_FILES]:
        shutil.copy(os.path.join(feed_dir, name), replay_feed)
    replay = {"traced": _replay(run, replay_feed, f"{run.run_dir}/replay_t")}
    run.engine.start(cpus=cores, ui=False)
    replay["untraced"] = _replay(run, replay_feed, f"{run.run_dir}/replay_u")
    run.engine.start(cpus=1)
    replay["one_core"] = _replay(run, replay_feed, f"{run.run_dir}/replay_1")

    layers = {
        "session.start_s": su["start_s"],
        "session.warm_s": su["warm_s"],
        "tables.scan_s": scan_s,
        "queries.ops": len(batches),
        "queries.build_s": su["build_s"],
        "queries.exec_s": sum(dur(p, "triggerExecution") for p in batches) / 1e3,
        "queries.build_jobs": su["build_jobs"],
        "queries.exec_jobs": exec_jobs,
        "queries.plan_ms_p50": eng.median([dur(p, "queryPlanning") for p in batches]),
        "queries.exec_ms_p50": eng.median([dur(p, "addBatch") for p in batches]),
        "memo.built": sum(memo_snapshot().values()),
        "gen.events": len(feed.files) * EVENTS_PER_FILE,
        "gen.late_ms_max": max(feed.late_ms),
        "stream.rows_per_batch": eng.median([p["numInputRows"] for p in batches]),
        "stream.state_rows": state_rows,
        "stream.state_mem_bytes": state_mem,
        "stream.spam.contrib_files": contrib_files,
        "trace.overhead_frac": replay["traced"] / replay["untraced"] - 1.0,
        "engine.speedup_1to4": replay["one_core"] / replay["untraced"],
        "engine.busy_share": engine_tot["executor_run_s"] / (su["feed_s"] * cores),
    }
    layers.update({f"engine.{k}": v for k, v in engine_tot.items()})
    detail.update({f"trace.replay_{k}_s": v for k, v in replay.items()})
    return {"metrics": layers, "detail": detail}
