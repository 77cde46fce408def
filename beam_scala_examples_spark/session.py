"""SparkSession factory and the session-memo registry.

Scale posture: these defaults are chosen for a real multi-executor
cluster, and only the master/parallelism knobs shrink for local test
runs.  AQE is on so skewed shuffles re-plan at runtime (the engine-side
replacement for the reference's hand-rolled hot-key fanout,
``complete/AutoComplete.scala:249-254``); timezone is pinned to UTC
(``complete/game/utils/GameConstants.scala:34``).

Shuffles have two widths, one per conf:

- **Batch width** -- ``spark.sql.adaptive.coalescePartitions
  .initialPartitionNum``.  With AQE and coalescing on, this is the
  partition count every batch shuffle starts at before AQE coalesces it;
  ``spark.sql.shuffle.partitions`` is only its fallback.  The
  ``foreachBatch`` bodies of a stateless stream (the spam sink's) are
  batch plans too: they run with AQE on, at this width.
- **Streaming width** -- ``spark.sql.shuffle.partitions``.  Spark runs a
  stream that holds a stateful operator with AQE off, its
  ``foreachBatch`` bodies included, so this is the state partition count
  of every stateful operator, fixed in the checkpoint's offset log when a
  query first starts.  Each state partition pays a task, a state-store
  load and a delta-file commit on every micro-batch, so it is sized to
  the stream's keys and rate, not to the cores: 1 here.

Streaming checkpoint files (offset, commit and source logs, state
deltas) are written through ``CHECKPOINT_FILE_MANAGER``, Spark's
FileSystem-API checkpoint manager.  Without libhadoop, Hadoop's local
file system forks a ``chmod`` for every file it creates, and the default
FileContext manager's rename forks four ``readlink`` more (the file and
its ``.crc``): five processes per checkpoint file, where this manager
needs one.  Its rename onto an existing file keeps that file, so a
replayed batch keeps the state delta its first run wrote; a replay reads
the same offsets and so writes the same state.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing"
    ".FileSystemBasedCheckpointFileManager"
)

# The runtime SQL confs every engine session carries: ``get_spark``
# builds with them and the driver contract's ``_configure`` re-applies
# them to a session handed over bare.  The batch width
# (``BATCH_WIDTH_CONF``) is set beside them, from the session's cores.
SQL_CONFS = {
    # Determinism / correctness
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: skew joins, coalesced shuffle partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The streaming width (module docstring).
    "spark.sql.shuffle.partitions": "1",
    # Checkpoint files go through the FileSystem API (module docstring).
    "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
    # Python<->JVM boundary is always Arrow-batched, never pickled rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
    # rejects by default; read as long and convert in tables.load()
    # (floor-to-micros — the same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Scan hygiene: pushdown + pruning verified in tests/test_plans.py.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime row-level filtering: when a selective small side feeds a
    # shuffle join, inject a bloom filter on the fact side before the
    # exchange (semi-join reduction without a hand-rolled sketch).
    # Inert at fixture scale (thresholds keep it off for broadcastable
    # sides); the injection itself is pinned by
    # tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_join.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}
BATCH_WIDTH_CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def get_spark(
    app_name: str = "beam-scala-examples-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a cluster, ``master``/parallelism come from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` to match the driver harness,
    and to the host's usable cores when it is unset.  ``shuffle_partitions``
    (else ``$SPARK_GRAFT_SHUFFLE``, else the cores) is the batch width; the
    streaming width is 1.  ``extra_conf`` overrides either width and the
    checkpoint manager.
    """
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    confs = {
        **SQL_CONFS,
        BATCH_WIDTH_CONF: str(shuffle_partitions),
        **(extra_conf or {}),
    }
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The session-memo registry: every derived relation the engine reuses
# across queries lives here, so one clear and one snapshot see them all.
# memo() entries are keyed by (tag, applicationId, sf_dir) -- a stopped
# session's relation is never served to a new one, and one sf_dir's
# relation never serves another; hold() entries are keyed by tag alone.
# Tags read "group/name"; memo_snapshot() counts entries per group.
_MEMOS: dict[tuple, object] = {}


def _release(value) -> None:
    for v in value if isinstance(value, list) else [value]:
        if isinstance(v, DataFrame):
            try:
                v.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped -- nothing to release


def memo(tag: str, spark: SparkSession, sf_dir: str, build: Callable):
    """The value stored under (tag, application, sf_dir), built by
    ``build()`` on the first call.  Every memoized build is
    deterministic, so a rebuild after a clear is bit-identical."""
    key = (tag, spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    if key not in _MEMOS:
        _MEMOS[key] = build()
    return _MEMOS[key]


def hold(tag: str, build: Callable):
    """Unpersist the value held under ``tag``, then hold and return
    ``build()`` -- for relations a query persists per call rather than
    per corpus.  The release comes first: a new persist of the same plan
    would share the old cache entry, and releasing that would drop both."""
    _release(_MEMOS.pop((tag,), None))
    _MEMOS[(tag,)] = build()
    return _MEMOS[(tag,)]


def clear_session_memos(tags=None) -> int:
    """Unpersist and forget every memo (or those whose tag is in
    ``tags``); returns the number of entries removed."""
    hits = [k for k in _MEMOS if tags is None or k[0] in tags]
    for k in hits:
        _release(_MEMOS.pop(k))
    return len(hits)


def memo_snapshot() -> dict[str, int]:
    """Entry count per memo group, for groups that hold any entry."""
    return dict(Counter(k[0].split("/", 1)[0] for k in _MEMOS))
