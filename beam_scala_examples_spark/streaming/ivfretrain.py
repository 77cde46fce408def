"""Drift-triggered IVF retraining (round 8, verdict item 8): wires the
two existing streaming pieces together — :class:`~.ivfview.IvfIngestSink`
serves a FROZEN trained quantizer, :class:`~.pcadrift.PcaDriftViewSink`
measures embedding drift — into the maintenance loop a production
vector index actually runs: ingest vectors, watch the dominant
direction of the accumulated corpus, and when it moves past a threshold
RETRAIN the coarse quantizer on the accumulated log, versioning each
codebook in a registry.

State (all batch_id/version-partitioned, the house log discipline):

 - ``vectors``: (vec_id, embedding) per batch — the accumulated corpus
   (the retrainer's training set; also what serving scores against);
 - ``pca_log``: the batch's additive integer PCA moment rows
   (:func:`~.pcadrift.pca_moment_contrib` — identical constructor);
 - ``codebooks``: (version, cluster, centroid) — one partition per
   retrain, version = the batch_id that triggered it;
 - ``pc_snapshots``: (version, dim, v_micro) — the top principal
   component AT train time, the reference the drift test compares
   against;
 - ``drift_log``: (batch_id, version, drift_micro, retrained) — the
   per-batch decision, observable and testable.

Drift metric: ``1e6 − |cos(v_now, v_ref)|·1e6`` over the integer-micro
eigenvectors (both from the same deterministic fixed-point power
iteration), so the decision is exact integer arithmetic and a REPLAYED
batch — whose moment/vector logs re-derive identically and whose
dueness reads exclude nothing it doesn't own — re-derives the identical
decision, codebook (Lloyd from lowest-vec_id init is deterministic),
and version number (the batch_id).  Replay-idempotent end to end.

Scale posture: per batch one narrow moment pass + two O(K·DIM) driver
aggregates (the power iteration and, on retrain, the Lloyd loop — both
the bounded-collect sanction); the retrain reads the accumulated vector
log once per trigger, the same cost as the index rebuild it is.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.clustering import IVF_TR_NPROBE, _assign, _kmeans_train
from ..queries.llmdata import N_QUERY_VECS, TOPK_NEIGHBORS
from .logio import read_log, write_log_partition
from .pcadrift import pca_moment_contrib, pca_top_component_from_log

# Retrain when the accumulated top PC has rotated by more than ~18°
# (|cos| < 0.95) away from the active codebook's training-time PC.
DRIFT_RETRAIN_MICRO = 50_000


def _cos_micro(a: dict[int, int], b: dict[int, int]) -> int:
    """|cos| in micro units between two integer-micro eigenvectors."""
    dot = sum(v * b.get(d, 0) for d, v in a.items())
    na = math.isqrt(sum(v * v for v in a.values()))
    nb = math.isqrt(sum(v * v for v in b.values()))
    if na == 0 or nb == 0:
        return 0
    return abs(dot) * 1_000_000 // (na * nb)


class DriftRetrainIvfSink:
    """foreachBatch sink over (vec_id, embedding) micro-batches that
    maintains a VERSIONED trained-IVF quantizer, retraining when the
    accumulated embedding drift exceeds ``drift_retrain_micro``."""

    def __init__(
        self, base_path: str,
        drift_retrain_micro: int = DRIFT_RETRAIN_MICRO,
    ):
        self.vectors_path = f"{base_path}/vectors"
        self.pca_log_path = f"{base_path}/pca_log"
        self.codebooks_path = f"{base_path}/codebooks"
        self.snapshots_path = f"{base_path}/pc_snapshots"
        self.drift_log_path = f"{base_path}/drift_log"
        self.drift_retrain_micro = int(drift_retrain_micro)
        self._schemas: dict = {}

    # -- log plumbing -------------------------------------------------
    def _write_version(self, df: DataFrame, version: int, path: str):
        """The version-keyed registries (codebooks, PC snapshots): one
        partition per retrain, replaced by a replayed retrain."""
        (
            df.withColumn("version", F.lit(int(version)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("version")
            .parquet(path)
        )

    def _vectors(self, spark: SparkSession) -> DataFrame:
        return read_log(
            spark, self.vectors_path, self._schemas.get(self.vectors_path)
        ).select("vec_id", "embedding")

    # -- serving ------------------------------------------------------
    def active_version(self, spark: SparkSession) -> int | None:
        # no retrain yet: the registry path does not exist
        reg = read_log(spark, self.codebooks_path, None)
        if reg is None:
            return None
        row = reg.agg(F.max("version").alias("v")).collect()[0]
        return None if row.v is None else int(row.v)

    def centroids(
        self, spark: SparkSession, version: int | None = None
    ) -> list[tuple[int, list[float]]]:
        if version is None:
            version = self.active_version(spark)
        rows = (
            spark.read.parquet(self.codebooks_path)
            .filter(F.col("version") == int(version))
            .orderBy("cluster")
            .collect()
        )
        return [(int(r.cluster), list(r.centroid)) for r in rows]

    def _snapshot(self, spark: SparkSession, version: int) -> dict:
        rows = (
            spark.read.parquet(self.snapshots_path)
            .filter(F.col("version") == int(version))
            .collect()
        )
        return {int(r.dim): int(r.v_micro) for r in rows}

    def _current_pc(self, spark: SparkSession) -> dict:
        log = read_log(
            spark, self.pca_log_path, self._schemas.get(self.pca_log_path)
        )
        rows = pca_top_component_from_log(log).collect()
        return {int(r.dim): int(r.v_micro) for r in rows}

    # -- ingest -------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vecs = batch_df.select("vec_id", "embedding")
        for df, path in ((vecs, self.vectors_path),
                         (pca_moment_contrib(vecs), self.pca_log_path)):
            self._schemas[path] = write_log_partition(df, batch_id, path)
        pc_now = self._current_pc(spark)
        active = self.active_version(spark)
        if active is None:
            drift = 1_000_000
        else:
            drift = 1_000_000 - _cos_micro(
                pc_now, self._snapshot(spark, active)
            )
        retrain = drift > self.drift_retrain_micro
        if retrain:
            corpus = self._vectors(spark).localCheckpoint()
            cents = _kmeans_train(corpus)
            cdf = spark.createDataFrame(
                [(cid, vec) for cid, vec in cents],
                "cluster bigint, centroid array<double>",
            )
            self._write_version(cdf, batch_id, self.codebooks_path)
            pdf = spark.createDataFrame(
                [(d, v) for d, v in sorted(pc_now.items())],
                "dim bigint, v_micro bigint",
            )
            self._write_version(pdf, batch_id, self.snapshots_path)
        decision = spark.createDataFrame(
            [(
                -1 if active is None else active,
                int(drift),
                bool(retrain),
            )],
            "version bigint, drift_micro bigint, retrained boolean",
        )
        write_log_partition(decision, batch_id, self.drift_log_path)

    # -- retrieval + recall -------------------------------------------
    def topk_view(
        self, spark: SparkSession, version: int | None = None,
        query_ids: list[int] | None = None,
    ) -> DataFrame:
        """The trained-IVF probe top-k over the accumulated corpus with
        the given (default: active) codebook version — the same
        ``ann.ivf_scan`` the frozen ``IvfIngestSink.topk_view`` serves,
        but against a VERSIONED quantizer.  ``query_ids`` selects the
        query workload (default: the house ``vec_id < N_QUERY_VECS``
        set) — under drift the workload follows the data, which is what
        makes the retrain guard measurable."""
        cents = self.centroids(spark, version)
        log = (
            _assign(self._vectors(spark), cents)
            .localCheckpoint(eager=False)
            .withColumn("nrm", F.expr(ann.NORM))
        )
        return ann.top_cosine(
            ann.ivf_scan(log, _queries(log, query_ids), cents, IVF_TR_NPROBE),
            TOPK_NEIGHBORS,
        ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))

    def recall_micro(
        self, spark: SparkSession, version: int | None = None,
        query_ids: list[int] | None = None,
    ) -> int:
        """Measured recall (micro units) of the versioned probe top-k
        against the exact brute-force cosine top-k over the SAME
        accumulated corpus and the SAME query workload — the number
        the retrain guard pins (with drifted queries: the workload a
        drifted corpus actually serves)."""
        base = (
            self._vectors(spark)
            .withColumn("nrm", F.expr(ann.NORM))
            .localCheckpoint(eager=False)
        )
        exact = ann.top_cosine(
            ann.exact_scan(base, _queries(base, query_ids)), TOPK_NEIGHBORS
        )
        r = ann.recall_frontier(
            exact, self.topk_view(spark, version, query_ids)
        ).collect()[0]
        return r.hits * 1_000_000 // r.truth_rows if r.truth_rows else 0


def _queries(base: DataFrame, query_ids: list[int] | None) -> DataFrame:
    """The query frame over ``base``: ``query_ids``, else the house
    ``vec_id < N_QUERY_VECS`` set."""
    return ann.query_frame(
        base,
        F.col("vec_id") < N_QUERY_VECS
        if query_ids is None
        else F.col("vec_id").isin([int(q) for q in query_ids]),
    )
