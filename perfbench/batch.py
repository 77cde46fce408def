"""The closed-loop batch workload: ``llmdata``.

One client runs the query mix in passes, a seeded permutation per pass,
for a number of passes set by the run's measuring time.  A query is its
DataFrame build (``QUERIES[name](spark, dir)``) followed by its execute
(``toArrow()``, the sink that hands the result to the caller).  Session
memos are cleared before every pass, and the pass refuses to start if
``memo_snapshot()`` still lists one, so each pass is one complete job.
Every result is checked against its DuckDB oracle after the timed loop.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections import defaultdict

from beam_scala_examples_spark import tables
from beam_scala_examples_spark.queries import ORACLE, QUERIES
from beam_scala_examples_spark.session import clear_session_memos, memo_snapshot

import check
import engine as eng
import gen

# Shingling/explode, LSH bucket self-joins, driver-looped iterative jobs
# (connected components, Lloyd iterations), session memos and the k-means
# pandas_udf kernel (emb_kmeans trains and assigns through
# clustering._assign).  No two queries share a memo, so a query's cost
# does not depend on where the seed puts it in the pass.
MIX = ("dedup_minhash_pairs", "dedup_components", "emb_kmeans", "text_quality_score")
SIZES = gen.Sizes.at(0.001, documents=500, embeddings=500)
FACT_TABLES = ("documents", "embeddings")
# Nominal seconds of one pass: the run makes max(1, seconds // this)
# timed passes, a count fixed by the arguments, so every run measures
# the same number of passes.  The first pass after the warm pass is still
# JIT-compiling and runs 10-30% slower than the next ones, so the metrics
# are medians over the passes, not one pass's figures.
PASS_NOMINAL_S = 6


def module_of(query: str) -> str:
    return QUERIES[query].__module__.rsplit(".", 1)[-1]


def warm_pass(run, mix, table_dir: str) -> None:
    """Each query of the mix once, untimed: loads the engine's classes,
    compiles the generated code, starts Python workers and lets adaptive
    execution see the real input sizes."""
    spark = run.engine.spark
    for q in mix:
        QUERIES[q](spark, table_dir).toArrow()
    clear_session_memos()


def setup(run, mix, table_dir: str) -> dict[str, float]:
    """Session start (median of several) plus the warm pass."""
    starts = []
    for t0, t1 in run.engine.start_repeatedly():
        run.tracer.add("session.start", t0, t1)
        starts.append(t1 - t0)
    with run.tracer.span("session.warm"):
        t0 = time.perf_counter()
        warm_pass(run, mix, table_dir)
        warm = time.perf_counter() - t0
    return {"start_s": eng.median(starts), "starts": starts, "warm_s": warm}


def scan_tables(run, names, table_dir: str) -> float:
    """``tables.load`` then a noop write, per fact table the mix reads."""
    spark = run.engine.spark
    t0 = time.perf_counter()
    for name in names:
        with run.tracer.span("tables.scan", name):
            tables.load(spark, table_dir, name).write.format("noop").mode(
                "overwrite").save()
    return time.perf_counter() - t0


def one_pass(run, mix, table_dir: str, pass_no: int,
             results: list) -> tuple[float, int]:
    """Run the mix once in the given order; append one record per query
    to ``results``; return (wall seconds, memos built)."""
    clear_session_memos()
    left = memo_snapshot()
    if left:
        raise RuntimeError(f"session memos survived clear_session_memos(): {left}")
    spark = run.engine.spark
    sc = spark.sparkContext
    traced = run.tracer.enabled
    prev_end = None
    with run.tracer.span("pass", f"p{pass_no}"):
        t_pass = time.perf_counter()
        for q in mix:
            rec = {"query": q, "pass": pass_no, "module": module_of(q)}
            tid = f"p{pass_no}:{q}"
            t0 = time.perf_counter()
            if prev_end is not None:
                rec["gap_s"] = t0 - prev_end
            with run.tracer.span("query", tid, module=rec["module"]):
                try:
                    group = f"{tid}:build"
                    with run.tracer.span("build", tid):
                        if traced:
                            sc.setJobGroup(group, q)
                        df = QUERIES[q](spark, table_dir)
                    t1 = time.perf_counter()
                    if traced:
                        rec["build_jobs"] = run.engine.jobs_in_group(group)
                        group = f"{tid}:exec"
                        sc.setJobGroup(group, q)
                    with run.tracer.span("exec", tid):
                        table = df.toArrow()
                    t2 = time.perf_counter()
                    if traced:
                        rec["exec_jobs"] = run.engine.jobs_in_group(group)
                    rec.update(build_s=t1 - t0, exec_s=t2 - t1, table=table)
                except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    t2 = time.perf_counter()
            prev_end = t2
            results.append(rec)
        wall = time.perf_counter() - t_pass
    built = sum(memo_snapshot().values())
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, built


def run_workload(run) -> dict:
    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    data_dir = gen.write_tables(f"{run.run_dir}/data", run.seed, SIZES)
    gen_s = time.perf_counter() - t0

    su = setup(run, MIX, data_dir)
    scan_s = scan_tables(run, FACT_TABLES, data_dir) if run.tracer.enabled else None

    results: list[dict] = []
    passes: list[dict] = []
    n_passes = max(1, run.seconds // PASS_NOMINAL_S)
    t_loop = time.perf_counter()
    for pass_no in range(n_passes):
        order = list(MIX)
        rng.shuffle(order)
        wall, built = one_pass(run, order, data_dir, pass_no, results)
        passes.append({"order": order, "wall_s": wall, "memo_built": built})
    loop_s = time.perf_counter() - t_loop
    # Before the checks, so the oracle and canonical forms are not counted.
    held = run.engine.held_mb()
    peak_rss = run.engine.peak_rss_mb()
    clear_session_memos()

    # Correctness, outside the timed region.
    oracle = check.Oracle(data_dir, run.run_dir)
    failures = []
    for rec in results:
        table = rec.pop("table", None)
        if table is not None:
            q = rec["query"]
            if not oracle.matches(q, ORACLE[q], check.arrow_canonical(table)):
                rec["error"] = "result differs from the DuckDB oracle"
        if "error" in rec:
            failures.append({k: rec[k] for k in ("query", "pass", "error")})
    oracle.close()

    # Query wall time (build + execute), each query type's median over
    # the passes.  The mix is a few query types of very different cost,
    # so a median over the pooled samples is one type's figure; the
    # geometric mean of the per-type medians weighs each type alike, and
    # the tail is the slowest type's median.  If no query completed, both
    # read the timed loop's wall time (and failed > 0).
    per_query: dict = defaultdict(list)
    for r in results:
        if "build_s" in r:
            per_query[r["query"]].append(1e3 * (r["build_s"] + r["exec_s"]))
    query_ms = {q: eng.median(v) for q, v in sorted(per_query.items())}
    slowest = max(query_ms, key=query_ms.get, default=None)
    typical = list(query_ms.values()) or [1e3 * loop_s]
    out = {
        "attempted": len(results),
        "failed": len(failures),
        "e2e": {
            "setup_s": su["start_s"] + su["warm_s"],
            "pass_s": eng.median([p["wall_s"] for p in passes]),
            "latency_ms": math.exp(statistics.fmean(math.log(x) for x in typical)),
            "latency_tail_ms": query_ms.get(slowest, 1e3 * loop_s),
            "mem_mb": held["total"],
        },
        "detail": {
            "params": {"mix": list(MIX), "sizes": SIZES.as_dict(),
                       "loop": "closed", "clients": 1, "timed_passes": n_passes},
            "latency_samples": sum(map(len, per_query.values())),
            "latency_tail_query": slowest,
            "query_ms_median": query_ms,
            "passes": passes, "loop_s": loop_s, "gen_s": gen_s,
            "held_mb": held, "peak_rss_mb": peak_rss,
            "session_starts_s": su["starts"], "failures": failures,
        },
    }
    if run.tracer.enabled:
        out["layers"] = traced_layers(run, results, passes, su, scan_s)
    return out


def traced_layers(run, results, passes, su, scan_s) -> dict:
    """Per-layer numbers of the traced run, per pass where per-pass."""
    n_pass = len(passes)
    ok = [r for r in results if "build_s" in r]
    by_group = eng.stage_totals_by_group(run.engine)
    engine_tot = dict.fromkeys(eng.STAGE_FIELDS, 0.0)
    per_module: dict = defaultdict(lambda: defaultdict(float))
    for r in ok:
        m = per_module[r["module"]]
        m["build_s"] += r["build_s"] / n_pass
        m["exec_s"] += r["exec_s"] / n_pass
        m["build_jobs"] += r.get("build_jobs", 0) / n_pass
        m["exec_jobs"] += r.get("exec_jobs", 0) / n_pass
        for phase in ("build", "exec"):
            for k, v in by_group.get(f"p{r['pass']}:{r['query']}:{phase}", {}).items():
                engine_tot[k] += v / n_pass
                m[f"{phase}.{k}"] += v / n_pass
    build_s = sum(r["build_s"] for r in ok) / n_pass
    exec_s = sum(r["exec_s"] for r in ok) / n_pass
    cores = len(os.sched_getaffinity(0))
    traced_pass = eng.median([p["wall_s"] for p in passes])

    # Untraced pass (tracing and UI off) for the tracing overhead, then
    # the same pass on one core for the single-thread baseline.
    mix = passes[0]["order"]
    data_dir = f"{run.run_dir}/data"
    base = {}
    run.tracer.enabled = False
    for label, cpus in (("untraced", cores), ("one_core", 1)):
        run.engine.start(cpus=cpus, ui=False)
        base[label], _ = one_pass(run, mix, data_dir, len(passes), [])
    run.tracer.enabled = True

    layers = {
        "session.start_s": su["start_s"],
        "session.warm_s": su["warm_s"],
        "tables.scan_s": scan_s,
        "queries.ops": len(ok) / n_pass,
        "queries.build_s": build_s,
        "queries.exec_s": exec_s,
        "queries.build_jobs": sum(r.get("build_jobs", 0) for r in ok) / n_pass,
        "queries.exec_jobs": sum(r.get("exec_jobs", 0) for r in ok) / n_pass,
        "queries.plan_ms_p50": 1e3 * eng.median([r["build_s"] for r in ok]),
        "queries.exec_ms_p50": 1e3 * eng.median([r["exec_s"] for r in ok]),
        "memo.built": eng.median([p["memo_built"] for p in passes]),
        "gen.events": len(results),
        "gen.late_ms_max": 1e3 * max((r.get("gap_s", 0.0) for r in results), default=0.0),
        "stream.rows_per_batch": 0,
        "stream.state_rows": 0,
        "stream.state_mem_bytes": 0,
        "stream.spam.contrib_files": 0,
        "trace.overhead_frac": traced_pass / base["untraced"] - 1.0,
        "engine.speedup_1to4": base["one_core"] / base["untraced"],
        "engine.busy_share": engine_tot["executor_run_s"] / (exec_s * cores),
    }
    layers.update({f"engine.{k}": v for k, v in engine_tot.items()})
    detail = {f"queries.{mod}.{k}": v for mod, m in per_module.items() for k, v in m.items()}
    detail["trace.untraced_pass_s"] = base["untraced"]
    detail["trace.one_core_pass_s"] = base["one_core"]
    detail["trace.traced_pass_s"] = traced_pass
    return {"metrics": layers, "detail": detail}
