"""Streaming vector-index ingest: incremental maintenance of the
trained-IVF inverted file (``queries/clustering.py::sim_ivf_trained_topk``
is the batch twin) over an arriving embedding stream.

Production vector search trains the coarse quantizer ONCE (the index
build) and then ingests vectors forever: each arrival is assigned to
its nearest trained cell and appended to that cell's postings list.
This sink is that ingest path in the house registry pattern:

 - the trained centroids (``_kmeans_train``'s exact fixed-point Lloyd
   cells, via the session memo) are broadcast into every micro-batch;
 - per batch, the SAME Arrow assignment kernel the batch queries use
   (``clustering._assign``) maps arriving vectors to cells — one narrow
   pass, no shuffle, no corpus rescan;
 - postings rows ``(vec_id, cluster, embedding, nrm)`` land in a log
   partitioned by ``(batch_id, cluster)``: batch_id gives replay
   idempotency (dynamic partition overwrite), cluster gives PARTITION
   PRUNING at query time — a probe of nprobe cells reads only those
   directories, the physical analogue of scanning only the probed
   inverted lists.

Serving: ``assignment_view`` is the accumulated (vec_id, cluster)
relation, and ``topk_view`` runs the batch query's own serve
(``operators/ann.py``) over the log — both pinned EXACTLY equal to
their batch twins (assignment is a pure per-row function of the frozen
centroids, so batching cannot change it; probe, cosine and top-k are
the same code).  ``auto_topk_view`` (round 11) is the
hybrid-search router over the LIVE log: per predicate it reads the
log's own ingested/allowed vector counts and serves from
``brute_topk_view`` (exact, no cell restriction) or the probed index
by the same stats-derived nprobe/K crossover as the batch
``clustering.sim_filtered_auto_topk``.

Scale posture: per batch O(batch x K) kernel work; the log is O(vectors)
— it IS the index; serving never touches historical raw arrivals beyond
the probed cell partitions.  With Delta/Iceberg the postings append
becomes a MERGE on vec_id (re-ingest upserts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann
from ..queries.clustering import IVF_TR_NPROBE, _assign
from ..queries.llmdata import N_QUERY_VECS, TOPK_NEIGHBORS


class IvfIngestSink:
    """foreachBatch sink maintaining trained-IVF postings lists."""

    def __init__(self, postings_path: str, centroids):
        self.postings_path = postings_path
        self.centroids = list(centroids)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        postings = _assign(
            batch_df.select("vec_id", "embedding"), self.centroids
        ).select(
            "vec_id", "cluster", "embedding", F.expr(ann.NORM).alias("nrm")
        )
        (
            postings.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cluster")
            .parquet(self.postings_path)
        )

    def _log(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.postings_path)

    def _corpus(self, spark: SparkSession):
        """(postings, queries): the log as an ``ann`` corpus and the
        house query frame over it."""
        log = self._log(spark).select("vec_id", "cluster", "embedding", "nrm")
        return log, ann.query_frame(log, F.col("vec_id") < N_QUERY_VECS)

    def assignment_view(self, spark: SparkSession) -> DataFrame:
        """(vec_id, cluster): the accumulated cell assignment — equal to
        the batch ``_assign`` relation over all ingested vectors."""
        return self._log(spark).select("vec_id", "cluster")

    def topk_view(
        self, spark: SparkSession, allowed: DataFrame | None = None
    ) -> DataFrame:
        """The batch ``sim_ivf_trained_topk`` relation served from the
        postings log through the same ``ann.ivf_scan`` — identical probe
        ranking, exact-cosine scoring inside the probed cells and top-k
        order, so streamed == batch exactly once the same vectors are
        in.  The cluster equi-join against the (batch_id,
        cluster)-partitioned log is where the inverted-list pruning
        pays off at scale.

        ``allowed`` (round 10): an optional slim (vec_id) relation —
        the hybrid-search predicate.  Applied to the postings as a
        semi join BEFORE scoring, exactly like the batch
        ``clustering.sim_filtered_ivf_topk`` (in-filter, never a
        post-filter on a finished top-k); queries stay unfiltered."""
        log, q = self._corpus(spark)
        if allowed is not None:
            log = log.join(allowed.select("vec_id"), "vec_id", "semi")
        return ann.top_cosine(
            ann.ivf_scan(log, q, self.centroids, IVF_TR_NPROBE),
            TOPK_NEIGHBORS,
        ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))

    def brute_topk_view(
        self, spark: SparkSession, allowed: DataFrame
    ) -> DataFrame:
        """Exact filtered top-k served from the postings log with NO
        cell restriction — every allowed posting scored (the brute leg
        of the auto router; equal to the batch
        ``clustering._filtered_truth_for`` once the same vectors are
        in: both run ``ann.exact_scan``).  The log's stored ``nrm`` is
        reused, so the brute scan reads postings only — never the raw
        arrival stream."""
        log, q = self._corpus(spark)
        log = log.join(allowed.select("vec_id"), "vec_id", "semi")
        return ann.top_cosine(ann.exact_scan(log, q), TOPK_NEIGHBORS).select(
            "qid", "vec_id", F.round("cos", 6).alias("cosine")
        )

    def auto_topk_view(
        self, spark: SparkSession, predicates
    ) -> DataFrame:
        """The hybrid-search auto ROUTER over the LIVE postings log
        (round-11, verdict item 4 — the batch twin is
        ``clustering.sim_filtered_auto_topk``): for each ``(tag,
        allowed)`` predicate, read two stats scalars from the log —
        vectors ingested and allowed vectors ingested — and serve from
        brute-force when ``allowed_in_log <= auto_brute_max(in_log)``
        (the same stats-derived nprobe/K crossover as batch, evaluated
        against what has actually ARRIVED, so mid-ingest the router
        answers from live index stats, not a stale batch census), else
        from the probed index.  Output rows are tagged (lang, plan,
        qid, vec_id, cosine), identical to the batch router once the
        same vectors are in."""
        from ..queries.clustering import auto_brute_max

        log = self._log(spark)
        in_log = log.select("vec_id").distinct().count()
        legs = []
        for tag, allowed in predicates:
            n = (
                log.join(allowed.select("vec_id"), "vec_id", "semi")
                .select("vec_id").distinct().count()
            )
            if n <= auto_brute_max(in_log):
                plan, topk = "brute", self.brute_topk_view(spark, allowed)
            else:
                plan, topk = "ivf", self.topk_view(spark, allowed=allowed)
            legs.append(
                topk.select(
                    F.lit(tag).alias("lang"),
                    F.lit(plan).alias("plan"),
                    "qid", "vec_id", "cosine",
                )
            )
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return out
