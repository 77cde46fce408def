"""The repository's benchmark.

    python3 perfbench/run.py --workload llmdata --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads: ``llmdata`` (closed loop,
one client, a batch query mix over seeded tables) and ``stream_game``
(open loop, a seeded game-event feed at a fixed rate through three
concurrent streaming pipelines).  The engine
runs at ``local[<cores>]`` in this process; every file the run writes
lives in a temporary directory under ``perfbench/`` that is removed at
the end.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run turns on
the Spark UI, job groups and spans and reports the per-layer ones, and
writes its spans and breakdown to ``perfbench/out/``.  The line before
the result holds the run's evidence: host census, seed, resolved
parameters and the per-module breakdown.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("llmdata", "stream_game")

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_ms": "ms",
    "latency_tail_ms": "ms",
    "mem_mb": "MiB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "tables.scan_s": "s",
    "queries.ops": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    "queries.plan_ms_p50": "ms",
    "queries.exec_ms_p50": "ms",
    "memo.built": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_read_bytes": "bytes",
    "engine.shuffle_write_bytes": "bytes",
    "engine.input_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.gc_s": "s",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.busy_share": "ratio",
    "engine.speedup_1to4": "ratio",
    "stream.rows_per_batch": "count",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.spam.contrib_files": "count",
    "gen.events": "count",
    "gen.late_ms_max": "ms",
    "trace.overhead_frac": "ratio",
}


class Run:
    """What one benchmark run hands to a workload."""

    def __init__(self, seed: int, seconds: int, run_dir: str, engine, tracer):
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.engine = engine
        self.tracer = tracer


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, run_dir: str, trace: bool) -> None:
    """Settings the engine reads at session start."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "PYTHONWARNINGS": "ignore::FutureWarning",
        # Python workers import the package from any working directory.
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    tempfile.tempdir = None
    sys.path[:0] = [root, HERE]


def _finite(x) -> float:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError("metric is not a finite number")
    return x


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "beam_scala_examples_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout "
              "(beam_scala_examples_spark/ not found)", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    # A terminated run still stops the JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    engine = None
    try:
        _environment(root, run_dir, trace)
        import engine as eng
        import spans

        before = eng.host_evidence()
        engine = eng.Engine(run_dir, trace)
        tracer = spans.Tracer(trace)
        run = Run(args.seed, args.seconds, run_dir, engine, tracer)
        if args.workload == "stream_game":
            import stream as workload
        else:
            import batch as workload
        out = workload.run_workload(run)
        after = eng.host_evidence()
    finally:
        if engine is not None:
            engine.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    evidence = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host_before": before, "host_after": after,
        **out["detail"],
    }
    if trace:
        layers = out["layers"]
        metrics = {k: {"value": _finite(layers["metrics"][k]), "unit": u}
                   for k, u in LAYER_UNITS.items()}
        evidence["layers"] = layers["detail"]
        evidence["self_s"] = tracer.self_times()
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        stem = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-trace.json", "w") as f:
            json.dump({"evidence": evidence, "metrics": metrics}, f, indent=1)
    else:
        metrics = {k: {"value": _finite(out["e2e"][k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"evidence": evidence}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
