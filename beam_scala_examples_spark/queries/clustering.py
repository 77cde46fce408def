"""K-means clustering over the embeddings table.

Beyond the reference's surface (beam-scala-examples has no iterative
ML operator); this is the document-clustering step of a training-data
pipeline (dedup QA, domain discovery, stratified sampling all consume
cluster labels).

Algorithm (Lloyd's, deterministic end to end):
 - init: the ``KM_K`` rows with the smallest vec_ids, cluster ids
   assigned in vec_id order;
 - assign: per-row argmin of squared L2 distance against the centroid
   set, ties broken by lowest cluster id.  Centroids ride along as a
   closure matrix inside an Arrow-vectorized kernel (MLlib-style
   broadcast of collected centers) so assignment is a narrow map — no
   join fan-out, no shuffle;
 - recompute: element-wise mean per cluster, from fixed-point partial
   sums taken inside the same Arrow kernel that assigns
   (``_lloyd_step``): one ``mapInPandas`` pass yields one
   (cluster, count, sums) row per live cluster per partition, and the
   driver adds them up — one job per iteration, no shuffle.  Clusters
   that lose all members drop out (both engines derive the live set
   the same way).

Determinism rule (README rule 3): double summation is order-dependent,
so the recompute sums exact fixed-point longs — each member dim is
quantized once as ``round(x * 2^20)`` (identical in both engines, same
convention as ``emb_quantize_int8``) and the mean divides two exact
integers.  Long sums are associative, so every centroid coordinate is
bit-identical across partitionings and engines, and the per-iteration
driver collect carries the exact state the DuckDB oracle's unrolled CTE
chain reproduces.

Scale posture: per iteration — one narrow pass over the corpus
(numpy-vectorized over Arrow batches) that assigns and sums; driver
traffic is O(K x DIM x partitions) longs per iteration, independent of
corpus size.  This is the same loop structure Spark MLlib's KMeans uses
at cluster scale (its per-partition ``mapPartitions`` sums, then a
driver-side reduce).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..operators import ann
from ..operators.pairs import self_pairs
from ..operators.topk import top_k_per_key
from ..session import hold, memo
from ..tables import load
from .llmdata import EMB_DIM, N_QUERY_VECS, TOPK_NEIGHBORS

KM_K = 10
KM_ITERS = 3
KM_SCALE = 1 << 20  # fixed-point quantum for the exact centroid sums


def _nearest_kernel(books: list[list[tuple[int, list[float]]]], sub: int):
    """(cid_arrs, nearest) for M codebooks of ``(id, codeword)`` pairs,
    codebook m over dims ``[m * sub, (m + 1) * sub)``: the codeword ids
    per codebook, and ``nearest(x)``, the (n, M) row positions of each
    float64 row's nearest codeword in each codebook.  A closure, so the
    Arrow kernels that call it ship it to the workers by value.

    Exactness (README rule 3): the squared L2 distance accumulates one
    dimension per step in index order — ``acc += (x_d - c_d)^2`` is a
    single IEEE double add per element — which is bit-identical to the
    oracle's left-to-right ``list_sum(list_transform(...))`` fold.
    numpy argmin returns the first minimum, i.e. the lowest codeword id
    (codebooks are kept sorted by id), matching the oracle's
    ``ORDER BY dist, cluster`` tie-break."""
    cid_arrs = [np.array([cid for cid, _ in b], dtype=np.int64) for b in books]
    cmats = [np.array([c for _, c in b], dtype=np.float64) for b in books]

    def nearest(x: np.ndarray) -> np.ndarray:
        n = x.shape[0]
        out = np.zeros((n, len(cmats)), dtype=np.int64)
        for m, cmat in enumerate(cmats):
            acc = np.zeros((n, cmat.shape[0]))
            for d in range(sub):
                diff = x[:, m * sub + d : m * sub + d + 1] - cmat[None, :, d]
                acc += diff * diff
            out[:, m] = np.argmin(acc, axis=1)
        return out

    return cid_arrs, nearest


def _with_codes(emb: DataFrame, name: str, dtype, codes) -> DataFrame:
    """(vec_id, ``name``, embedding): ``codes(x)`` of each Arrow batch's
    float64 embedding matrix, added inside one ``mapInPandas`` — a
    narrow map with no join fan-out.  The kernel hands back the rows it
    was given, so unlike a ``pandas_udf`` (ArrowEvalPython) the JVM
    keeps no queue of input rows to zip the results onto: that queue
    takes one Tungsten page per task, which the Python worker's monitor
    thread pins for up to 2 s after the task ends."""
    src = emb.select("vec_id", "embedding")
    schema = StructType([
        src.schema["vec_id"], StructField(name, dtype), src.schema["embedding"]
    ])

    def add(batches):
        for pdf in batches:
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            pdf.insert(1, name, codes(x))
            yield pdf

    return src.mapInPandas(add, schema)


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, cluster, embedding): argmin of squared L2 distance, ties
    to the lowest cluster id (``_nearest_kernel`` with one codebook).

    Arrow-vectorized kernel (the sanctioned Python path for iterative
    numeric ops): centroids ride into the closure as a (K, DIM) float64
    matrix, so the pass is a narrow map with no join fan-out and no
    giant Catalyst literal tree (a K x DIM expression form spends more
    time in analysis/codegen than in evaluation)."""
    dim = len(centroids[0][1]) if centroids else 0
    (cids,), nearest = _nearest_kernel([centroids], dim)
    return _with_codes(
        emb, "cluster", LongType(), lambda x: cids[nearest(x)[:, 0]]
    )


def _lloyd_partials(
    emb: DataFrame, books: list[list[tuple[int, list[float]]]], sub: int
) -> DataFrame:
    """(m, cluster, cnt, s): one Lloyd step's fixed-point partial sums,
    one row per live codeword per partition — the assignment
    (``_nearest_kernel``) and the per-codeword sums run inside one Arrow kernel
    (``mapInPandas``), a narrow pass over the corpus with no shuffle.
    ``s`` sums the member dims as ``round(x * 2^20)`` longs, quantized
    by Spark (HALF_UP, identical to the oracle's ``round``).  The sums
    are int64 per partition, so a partition holds at most
    2^63 / (max|x| * 2^20) rows — the same bound Spark's own
    ``sum(long)`` has."""
    cid_arrs, nearest = _nearest_kernel(books, sub)

    def step(batches):
        cnt = [np.zeros(len(c), dtype=np.int64) for c in cid_arrs]
        tot = [np.zeros((len(c), sub), dtype=np.int64) for c in cid_arrs]
        for pdf in batches:
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            pos = nearest(x)
            for m in range(len(cid_arrs)):
                cnt[m] += np.bincount(pos[:, m], minlength=len(cnt[m]))
                np.add.at(tot[m], pos[:, m], q[:, m * sub : (m + 1) * sub])
        rows = [
            (m, int(cid_arrs[m][k]), int(cnt[m][k]), tot[m][k])
            for m in range(len(cid_arrs))
            for k in np.flatnonzero(cnt[m])
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["m", "cluster", "cnt", "s"])

    q = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * KM_SCALE, 0).cast("long"),
    )
    return emb.select("embedding", q.alias("q")).mapInPandas(
        step, "m long, cluster long, cnt long, s array<long>"
    )


def _lloyd_step(
    emb: DataFrame, books: list[list[tuple[int, list[float]]]], sub: int
) -> list[list[tuple[int, list[float]]]]:
    """The M codebooks after one Lloyd step: one Spark job, the
    per-partition partials of ``_lloyd_partials`` summed on the driver
    as exact Python ints.  Each new coordinate is an exact long divided
    by an exact double — the identical IEEE op the oracle's unrolled
    SQL performs — and a codeword that loses all members drops out."""
    acc: dict[tuple[int, int], tuple[int, list[int]]] = {}
    for r in _lloyd_partials(emb, books, sub).collect():
        n, s = acc.get((r.m, r.cluster), (0, [0] * sub))
        acc[(r.m, r.cluster)] = (n + r.cnt, [a + b for a, b in zip(s, r.s)])
    nxt: list[dict[int, list[float]]] = [{} for _ in books]
    for (m, cid), (n, s) in acc.items():
        nxt[m][cid] = [v / (n * float(KM_SCALE)) for v in s]
    return [sorted(b.items()) for b in nxt]


def _trained(kind: str, spark: SparkSession, sf_dir: str, trainer,
             emb: DataFrame):
    """The codebook ``trainer(emb)`` fits on the sf_dir embeddings, a
    session memo: every call site trains on the identical relation, so
    twins of the same rung (sim_*_topk / sim_*_recall) and composite
    reports share one deterministic training — an index is trained once
    and queried many times.  Plain Python lists, no Spark state."""
    return memo(
        f"trained_codebooks/{kind}", spark, sf_dir, lambda: trainer(emb)
    )


def _kmeans_train(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Centroids after ``KM_ITERS`` Lloyd iterations over a persisted
    (vec_id, embedding) relation — factored out so the trained-IVF
    retrieval path (``sim_ivf_trained_topk``) reuses the exact same
    quantizer ``emb_kmeans`` ships.  One job for the init, then one per
    iteration (``_lloyd_step`` with a single codebook)."""
    init = emb.orderBy("vec_id").limit(KM_K).collect()
    centroids = [
        (cid, [float(v) for v in row.embedding])
        for cid, row in enumerate(init)
    ]
    for _ in range(KM_ITERS):
        (centroids,) = _lloyd_step(emb, [centroids], EMB_DIM)
    return centroids


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slim (vec_id, embedding) corpus, repartitioned and persisted
    as a session memo: every trainer / assigner / outlier pass serves
    from one copy, and Lloyd alone scans it ITERS+1 times from what
    may be a single parquet file.  Safe under README rule 3: every
    recompute sums exact fixed-point longs, bit-identical across
    partitionings."""
    return memo(
        "kmeans_corpora/corpus", spark, sf_dir,
        lambda: (
            load(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(spark.sparkContext.defaultParallelism, "vec_id")
            .persist()
        ),
    )


def _km_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, embedding) under the TRAINED kmeans codebook,
    a session memo: eight consumers (kmeans / outliers / balance /
    purity / the IVF and PRF rungs) share one Arrow assignment pass,
    the most variable leg in a query's time; downstream reads are pure
    JVM passes over the cached rows."""

    def build() -> DataFrame:
        emb = _emb_corpus(spark, sf_dir)
        cents = _trained("kmeans", spark, sf_dir, _kmeans_train, emb)
        return _assign(emb, cents).persist()

    return memo("kmeans_corpora/kmassign", spark, sf_dir, build)


def _ivf_stride_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, ce, cnorm): the deterministic stride coarse-quantizer
    centroid set shared by the stride-IVF rungs (every effective-stride
    vector, capped at IVF_MAX_CELLS — same derivation as
    ``sim_ivf_topk``'s inline version since round 2)."""
    from .llmdata import IVF_MAX_CELLS, IVF_STRIDE

    base, _ = _ann_base(spark, sf_dir)
    mx = base.agg(F.max("vec_id").alias("mx"))
    return (
        base.join(F.broadcast(mx))
        .withColumn(
            "stride",
            F.greatest(
                F.lit(IVF_STRIDE),
                F.ceil((F.col("mx") + 1) / float(IVF_MAX_CELLS)),
            ),
        )
        .filter(F.col("vec_id") % F.col("stride") == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cnorm"),
        )
    )


def _ivf_stride_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid) under the STRIDE coarse quantizer — the
    inverted-list index the stride-IVF rungs serve from, a session memo:
    the corpus x centroids argmax (a BroadcastNestedLoopJoin plus a wide
    aggregate) is index build, not serve work, shared by
    ``sim_ivf_topk``, ``sim_ivfpq_topk`` and their recall twins."""

    def build() -> DataFrame:
        base, _ = _ann_base(spark, sf_dir)
        cent = _ivf_stride_cents(spark, sf_dir)
        cdot = F.expr(ann.DOT.format(a="embedding", b="ce"))
        return (
            base.join(F.broadcast(cent))
            .select(
                "vec_id",
                "cid",
                (cdot / F.sqrt(F.col("nrm") * F.col("cnorm"))).alias(
                    "ccos"
                ),
            )
            .groupBy("vec_id")
            .agg(
                F.expr(
                    "max_by(cid, named_struct('c', ccos, 'tie', -cid))"
                ).alias("cid")
            )
            .persist()
        )

    return memo("kmeans_corpora/ivfstride", spark, sf_dir, build)


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, pqc): the exploded PQ code relation under the session
    codebooks, a session memo: the codes are the stored index (a
    production store encodes once at ingest), so every PQ rung
    (sim_pq_topk, sim_ivfpq_topk, both trained twins, the re-rank sweep
    and their recall twins) reads this slim 3-int relation instead of
    re-running the Arrow encode kernel."""

    def build() -> DataFrame:
        emb = _emb_corpus(spark, sf_dir)
        cents = _trained("pq", spark, sf_dir, _pq_train, emb)
        return (
            _pq_encode(emb, cents)
            .select("vec_id", F.posexplode("codes").alias("m", "pqc"))
            .persist()
        )

    return memo("kmeans_corpora/pqcodes", spark, sf_dir, build)


def _pq_adc(spark: SparkSession, sf_dir: str, codes: DataFrame) -> DataFrame:
    """(qid, vec_id, adc_cos): the session queries scored over ``codes``
    (the code index, or its probed-cell restriction) through the
    session PQ codebooks."""
    cents = _trained(
        "pq", spark, sf_dir, _pq_train, _emb_corpus(spark, sf_dir)
    )
    _, qdf = _ann_base(spark, sf_dir)
    return ann.adc_scan(codes, qdf, cents, KM_SCALE)


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster assignment after ``KM_ITERS`` Lloyd iterations."""
    return _km_assigned(spark, sf_dir).select("vec_id", "cluster")


QUERIES = {"emb_kmeans": emb_kmeans}


def _kmeans_ctes(p: str = "") -> list[str]:
    """Unrolled Lloyd iterations as a CTE chain (assignment via windowed
    argmin, recompute via the same fixed-point sums) — the shared
    prefix of the ``emb_kmeans`` and trained-IVF oracles; the final
    centroid set is ``{p}c{KM_ITERS}``.  ``p`` prefixes every CTE name
    so the chain can coexist with the PQ chain (which also names its
    codebooks ``c0..cN``) in one composed oracle."""
    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    parts = [
        f"""{p}emb AS (SELECT vec_id, embedding FROM embeddings),
        {p}c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
                   list_transform(embedding, x -> x::DOUBLE) AS c
            FROM {p}emb ORDER BY vec_id LIMIT {KM_K}
        )"""
    ]
    for t in range(KM_ITERS):
        parts.append(f"""{p}a{t} AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {dist}, c.cluster) AS rn
                FROM {p}emb e CROSS JOIN {p}c{t} c
            ) WHERE rn = 1
        )""")
        parts.append(f"""{p}c{t + 1} AS (
            SELECT cluster, list(sv ORDER BY i) AS c FROM (
                SELECT a.cluster, gs.i,
                       sum(round(e.embedding[gs.i]::DOUBLE * {KM_SCALE})::BIGINT)
                       / (count(*) * {KM_SCALE}.0) AS sv
                FROM {p}a{t} a
                JOIN {p}emb e USING (vec_id)
                CROSS JOIN generate_series(1, {EMB_DIM}) gs(i)
                GROUP BY a.cluster, gs.i
            ) GROUP BY cluster
        )""")
    return parts


def _oracle_kmeans() -> str:
    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    final = f"""
        SELECT vec_id, cluster::BIGINT AS cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    """
    return "WITH " + ",\n".join(_kmeans_ctes()) + final


ORACLE = {"emb_kmeans": _oracle_kmeans()}


SEMANTIC_THRESHOLD = 0.2  # same cosine bar as dedup_embedding_pairs


def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup: near-duplicate pairs restricted to
    vectors in the SAME k-means cluster — the composition of the
    clustering step with exact-cosine verification.  Versus the
    hyperplane-LSH candidate generator (``dedup_embedding_pairs``),
    cluster buckets are data-adaptive: they follow the corpus's density
    rather than fixed random cuts, the trade SemDeDup makes (recall
    bounded by co-clustering, no hash tables).

    Scale: candidate pairs are Σ|cluster|² — the k-means assignment IS
    the bucketer, so the join keys on the cluster id and never goes
    all-pairs; exact cosine then verifies inside each bucket, the same
    verify-after-candidates discipline as every other dedup path."""
    assign = emb_kmeans(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm = F.expr(ann.NORM)
    # The self-join references this subplan twice and AQE does not reuse
    # query stages across self-join aliases — persist the assigned base
    # so the (Arrow-kernel) final assignment pass runs once, not twice.
    base = hold("kmeans_corpora/sem_base", emb.join(assign, "vec_id").select(
        "vec_id", "cluster", "embedding", norm.alias("nrm")
    ).persist)
    return (
        self_pairs(base, "cluster", "vec_id")
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            ann.pair_cosine(),
        )
        .filter(F.col("cos") >= SEMANTIC_THRESHOLD)
        .select("v1", "v2", F.round("cos", 6).alias("cosine"))
    )


QUERIES["dedup_semantic_pairs"] = dedup_semantic_pairs


def _oracle_semantic_pairs() -> str:
    from .llmdata import _duck_dot

    return f"""
        WITH km AS ({_oracle_kmeans()}),
        base AS (
            SELECT e.vec_id, km.cluster, e.embedding,
                   {_duck_dot("e.embedding", "e.embedding")} AS nrm
            FROM embeddings e JOIN km USING (vec_id)
        ),
        p AS (
            SELECT a.vec_id AS v1, b.vec_id AS v2,
                   {_duck_dot("a.embedding", "b.embedding")}
                       / sqrt(a.nrm * b.nrm) AS cos
            FROM base a JOIN base b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        )
        SELECT v1, v2, round(cos, 6) AS cosine
        FROM p WHERE cos >= {SEMANTIC_THRESHOLD}
    """


ORACLE["dedup_semantic_pairs"] = _oracle_semantic_pairs()


def emb_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared L2 distance between per-label embedding
    centroids, in integer micro units — the class-separation report
    (which labels are embedding-space neighbors) consumed by labeling
    QA and by IVF/k-means parameter choices.

    Exactness: member coordinates quantize once to 2^20 fixed-point
    longs, per-(label, dim) sums are exact integers, each dimension's
    squared-mean-difference term is rounded once to micro units, and the
    final per-pair sum is integer — no order-dependent float
    accumulation anywhere (the k-means recompute discipline).  Scale:
    the (label, dim) aggregate is |labels| x DIM rows; the pair join is
    |labels|^2 — both trivially small at any corpus size; the corpus
    itself is read once, narrowly."""
    emb = load(spark, sf_dir, "embeddings")
    sums = (
        emb.select(
            "label",
            F.posexplode(
                F.expr(
                    f"transform(embedding,"
                    f" x -> cast(round(cast(x as double) * {KM_SCALE}) as bigint))"
                )
            ).alias("pos", "q"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"), F.count("*").alias("c"))
    )
    term = F.round(
        F.pow(
            (F.col("a.s") / F.col("a.c") - F.col("b.s") / F.col("b.c"))
            / KM_SCALE,
            2,
        )
        * 1e6
    ).cast("long")
    return (
        self_pairs(sums, "pos", "label")
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            term.alias("tm"),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum("tm").alias("dist_sq_micro"))
    )


QUERIES["emb_label_centroid_dist"] = emb_label_centroid_dist

ORACLE["emb_label_centroid_dist"] = f"""
    WITH sums AS (
        SELECT label, i AS pos,
               sum(round(embedding[i]::DOUBLE * {KM_SCALE})::BIGINT) AS s,
               count(*)::BIGINT AS c
        FROM embeddings, range(1, 65) t(i)
        GROUP BY 1, 2
    )
    SELECT a.label AS label_a, b.label AS label_b,
           sum(round(pow((a.s / a.c - b.s / b.c) / {KM_SCALE}, 2) * 1e6)
               ::BIGINT)::BIGINT AS dist_sq_micro
    FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
"""


def emb_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster occupancy report for the k-means assignment: per-cluster
    member count plus the global max/mean occupancy ratio in basis
    points — the balance diagnostic that decides IVF nprobe and
    flags degenerate clusterings (one giant cell = the ANN prune does
    nothing).  One aggregate over the assignment relation; the ratio
    repeats on every row (a 1-row broadcast join) so the report is
    self-contained."""
    assign = emb_kmeans(spark, sf_dir)
    # O(K) rows, referenced twice (stats + report): checkpoint so each
    # reference doesn't replay the final assignment pass
    counts = (
        assign.groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .localCheckpoint()
    )
    stats = counts.agg(
        F.sum("n_members").alias("total"),
        F.count("*").alias("n_clusters"),
        F.max("n_members").alias("max_members"),
    )
    return counts.crossJoin(F.broadcast(stats)).select(
        "cluster",
        "n_members",
        F.expr("(max_members * n_clusters * 10000) div total").alias(
            "skew_bp"
        ),
    )


QUERIES["emb_cluster_balance"] = emb_cluster_balance

ORACLE["emb_cluster_balance"] = f"""
    WITH assign AS ({ORACLE["emb_kmeans"]}),
    counts AS (
        SELECT cluster, count(*)::BIGINT AS n_members
        FROM assign GROUP BY 1
    ),
    stats AS (
        SELECT sum(n_members)::BIGINT AS total,
               count(*)::BIGINT AS n_clusters,
               max(n_members)::BIGINT AS max_members
        FROM counts
    )
    SELECT cluster, n_members,
           ((max_members * n_clusters * 10000) // total)::BIGINT AS skew_bp
    FROM counts CROSS JOIN stats
"""


PCA_ITERS = 3
PCA_Q = 1 << 20          # component quantum (shared with k-means)
PCA_C_DIV = float(1 << 40)  # returns q^2-scale covariance to x-units


def _pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64x64 micro-unit covariance relation (p1, p2, cq), built with
    exact int64 products of once-quantized components (the corpus is
    touched once; the pair fan-out is DIM² per row — at larger widths
    switch to a per-partition integer Gram kernel, same output).  The
    covariance in micro units derives from the Gram/mean integers with
    one identical IEEE expression per cell.

    ``localCheckpoint``ed: every consumer (power iteration matvecs,
    Rayleigh quotient, trace) references this relation several times,
    and without a materialization boundary each reference replays the
    full corpus Gram — the DIM²-row result is the natural cut point.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> cast(round(cast(x as double) * {PCA_Q}) as bigint))"
            )
        ).alias("pos", "qv"),
    )
    n = emb.count()
    sums = q.groupBy("pos").agg(F.sum("qv").alias("s"))
    q1 = q.select(F.col("pos").alias("p1"), "vec_id", F.col("qv").alias("q1"))
    q2 = q.select(F.col("pos").alias("p2"), "vec_id", F.col("qv").alias("q2"))
    gram = (
        q1.join(q2, "vec_id")
        .groupBy("p1", "p2")
        .agg(F.sum(F.col("q1") * F.col("q2")).alias("g"))
    )
    s1 = sums.select(F.col("pos").alias("p1"), F.col("s").alias("s1"))
    s2 = sums.select(F.col("pos").alias("p2"), F.col("s").alias("s2"))
    return (
        gram.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .select(
            "p1",
            "p2",
            F.round(
                (
                    F.col("g") / n
                    - (F.col("s1") / n) * (F.col("s2") / n)
                )
                / PCA_C_DIV
                * 1e6
            )
            .cast("long")
            .alias("cq"),
        )
        .localCheckpoint()
    )


def _pca_power(cov: DataFrame) -> DataFrame:
    """Power iteration over the checkpointed covariance: integer matvec
    (exact), L-infinity normalization by the signed pivot (largest |w|,
    ties to lowest dim) — ``(w * 1e6) div pivot`` — so every iterate is
    integer and the sign convention is canonical.  Returns 64 rows
    (dim, v_micro), pivot component = +1e6, ``localCheckpoint``ed for
    the same multi-reference reason as the covariance."""
    v = cov.select(F.col("p1").alias("pos")).distinct().withColumn(
        "vm", F.lit(1_000_000).cast("long")
    )
    for _ in range(PCA_ITERS):
        w = (
            cov.join(v.withColumnRenamed("pos", "p2"), "p2")
            .groupBy("p1")
            .agg(F.sum(F.col("cq") * F.col("vm")).alias("w"))
        )
        pivot = (
            w.orderBy(F.abs(F.col("w")).desc(), F.col("p1").asc())
            .limit(1)
            .select(F.col("w").alias("pivot"))
        )
        v = (
            w.crossJoin(F.broadcast(pivot))
            .select(
                F.col("p1").alias("pos"),
                F.expr("(w * 1000000) div pivot").alias("vm"),
            )
        )
    return v.select(
        F.col("pos").alias("dim"), F.col("vm").alias("v_micro")
    ).localCheckpoint()


def _pca_cov_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64x64 covariance relation, a session memo: four consumers
    (the top-component, projection, variance-explained and ABTT
    queries) share the corpus Gram, a DIM²-fanout self-join, and the
    covariance is a fitted model artifact like the kmeans/PQ codebooks
    (``_trained``).  localCheckpoint-backed, so no extra persist."""
    return memo(
        "kmeans_corpora/pcacov", spark, sf_dir,
        lambda: _pca_cov(spark, sf_dir),
    )


def _pca_v_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-point top eigenvector (dim, v_micro) over the memoized
    covariance — the other half of the fitted PCA artifact (see
    ``_pca_cov_memo``)."""
    return memo(
        "kmeans_corpora/pcav", spark, sf_dir,
        lambda: _pca_power(_pca_cov_memo(spark, sf_dir)),
    )


def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — the dominant direction used for whitening, ABTT
    ("all-but-the-top") embedding post-processing, and drift detection.

    Distributed part: the 64x64 Gram/covariance build (``_pca_cov``);
    the 3 power iterations then run on the checkpointed 64x64 relation
    (``_pca_power``).  Output: 64 rows (dim, v_micro), pivot component
    = +1e6.  Round 11: served from the session PCA artifact
    (``_pca_v_memo``) — the basis is fit once per corpus, the same
    build-vs-serve split as ``emb_kmeans`` over ``_km_assigned``.
    """
    return _pca_v_memo(spark, sf_dir)


QUERIES["emb_pca_top_component"] = emb_pca_top_component


def _pca_oracle() -> str:
    parts = [
        f"""q AS (
            SELECT vec_id, i - 1 AS pos,
                   round(embedding[i]::DOUBLE * {PCA_Q})::BIGINT AS qv
            FROM embeddings, range(1, 65) t(i)
        )""",
        "n AS (SELECT count(*)::BIGINT AS n FROM embeddings)",
        "sums AS (SELECT pos, sum(qv)::BIGINT AS s FROM q GROUP BY 1)",
        """gram AS (
            SELECT a.pos AS p1, b.pos AS p2, sum(a.qv * b.qv)::BIGINT AS g
            FROM q a JOIN q b ON a.vec_id = b.vec_id
            GROUP BY 1, 2
        )""",
        f"""cov AS (
            SELECT p1, p2,
                   round((g / n.n - (s1.s / n.n) * (s2.s / n.n))
                         / {PCA_C_DIV} * 1e6)::BIGINT AS cq
            FROM gram
            JOIN sums s1 ON gram.p1 = s1.pos
            JOIN sums s2 ON gram.p2 = s2.pos
            CROSS JOIN n
        )""",
        "v0 AS (SELECT DISTINCT p1 AS pos, 1000000::BIGINT AS vm FROM cov)",
    ]
    for t in range(PCA_ITERS):
        parts.append(f"""w{t} AS (
            SELECT p1, sum(cq * vm)::BIGINT AS w
            FROM cov JOIN v{t} ON cov.p2 = v{t}.pos
            GROUP BY 1
        )""")
        parts.append(f"""v{t + 1} AS (
            SELECT p1 AS pos,
                   ((w * 1000000) // (
                       SELECT w FROM w{t} ORDER BY abs(w) DESC, p1 ASC LIMIT 1
                   ))::BIGINT AS vm
            FROM w{t}
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT pos AS dim, vm AS v_micro FROM v{PCA_ITERS}"
    )


ORACLE["emb_pca_top_component"] = _pca_oracle()


def emb_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the top principal component (the
    score the ABTT post-processing subtracts and drift monitors chart):
    dot(q, v) over once-quantized components and the fixed-point
    eigenvector — exact int64 products, broadcast O(DIM) vector, one
    narrow pass over the corpus.  Round 11: the eigenvector comes from
    the session PCA memo (fit once per corpus, served here)."""
    v = _pca_v_memo(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> cast(round(cast(x as double) * {PCA_Q}) as bigint))"
            )
        ).alias("dim", "qv"),
    )
    return (
        q.join(F.broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qv") * F.col("v_micro")).alias("proj_fp"))
    )


QUERIES["emb_pca_projection"] = emb_pca_projection

ORACLE["emb_pca_projection"] = f"""
    WITH v AS ({ORACLE["emb_pca_top_component"]}),
    q AS (
        SELECT vec_id, i - 1 AS dim,
               round(embedding[i]::DOUBLE * {PCA_Q})::BIGINT AS qv
        FROM embeddings, range(1, 65) t(i)
    )
    SELECT vec_id, sum(qv * v_micro)::BIGINT AS proj_fp
    FROM q JOIN v USING (dim)
    GROUP BY 1
"""


def emb_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How dominant is the top principal direction: the Rayleigh
    quotient v^T C v / v^T v against the total variance trace(C), in
    basis points — the number that says whether ABTT/whitening is worth
    running on this corpus.

    All three scalars are integer sums over the micro-unit covariance
    relation and the fixed-point eigenvector (O(DIM²) rows); the two
    divisions happen once at the end with identical IEEE expressions.
    The covariance is built ONCE (checkpointed) and shared between the
    power iteration and the Rayleigh/trace sums — an earlier form
    rebuilt the corpus Gram twice.  Round 11: both artifacts come from
    the session PCA memo (fit once per corpus, served here).
    """
    cov = _pca_cov_memo(spark, sf_dir)
    v = _pca_v_memo(spark, sf_dir)
    v1 = v.select(F.col("dim").alias("p1"), F.col("v_micro").alias("v1"))
    v2 = v.select(F.col("dim").alias("p2"), F.col("v_micro").alias("v2"))
    rayleigh_num = (
        cov.join(F.broadcast(v1), "p1")
        .join(F.broadcast(v2), "p2")
        .agg(F.sum(F.col("cq") * F.col("v1") * F.col("v2")).alias("vcv"))
    )
    vv = v.agg(F.sum(F.col("v_micro") * F.col("v_micro")).alias("vv"))
    trace = cov.filter(F.col("p1") == F.col("p2")).agg(
        F.sum("cq").alias("tr")
    )
    return (
        rayleigh_num.crossJoin(vv)
        .crossJoin(trace)
        .select(
            F.round((F.col("vcv") / F.col("vv")) / F.col("tr") * 10000)
            .cast("long")
            .alias("top_var_bp"),
            "tr",
        )
    )


QUERIES["emb_variance_explained"] = emb_variance_explained

ORACLE["emb_variance_explained"] = f"""
    WITH v AS ({ORACLE["emb_pca_top_component"]}),
    q AS (
        SELECT vec_id, i - 1 AS pos,
               round(embedding[i]::DOUBLE * {PCA_Q})::BIGINT AS qv
        FROM embeddings, range(1, 65) t(i)
    ),
    n AS (SELECT count(*)::BIGINT AS n FROM embeddings),
    sums AS (SELECT pos, sum(qv)::BIGINT AS s FROM q GROUP BY 1),
    gram AS (
        SELECT a.pos AS p1, b.pos AS p2, sum(a.qv * b.qv)::BIGINT AS g
        FROM q a JOIN q b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    cov AS (
        SELECT p1, p2,
               round((g / n.n - (s1.s / n.n) * (s2.s / n.n))
                     / {PCA_C_DIV} * 1e6)::BIGINT AS cq
        FROM gram
        JOIN sums s1 ON gram.p1 = s1.pos
        JOIN sums s2 ON gram.p2 = s2.pos
        CROSS JOIN n
    ),
    ray AS (
        SELECT sum(cq * a.v_micro * b.v_micro)::BIGINT AS vcv
        FROM cov
        JOIN v a ON cov.p1 = a.dim
        JOIN v b ON cov.p2 = b.dim
    ),
    vv AS (SELECT sum(v_micro * v_micro)::BIGINT AS vv FROM v),
    tr AS (SELECT sum(cq)::BIGINT AS tr FROM cov WHERE p1 = p2)
    SELECT round((vcv / vv) / tr * 10000)::BIGINT AS top_var_bp, tr
    FROM ray CROSS JOIN vv CROSS JOIN tr
"""


def emb_abtt_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    2018): remove each vector's projection onto the dominant principal
    direction — the correction that makes similarity scores usable when
    one direction carries corpus-wide drift (the consumer of the
    artifacts ``emb_pca_top_component`` / ``emb_pca_projection`` /
    ``emb_variance_explained`` produce and price).  Output per vector:
    the projection in fixed-point and the md5 of the corrected
    quantized coordinates (the content address downstream stores pin).

    Determinism: corrected coordinate = qv − proj·v_i/‖v‖², where the
    numerator product would overflow int64 (proj ≲ 2³² × v_i ≲ 2²⁰), so
    the one float step is the documented ``* 1.0 *`` promotion, rounded
    ONCE and identically in both engines.  Scale: one corpus Gram
    (checkpointed, shared builders), then a map-only correction pass —
    the eigenvector and ‖v‖² broadcast, the per-vec projection rides
    the same (vec_id, dim) relation, and the md5 folds the coordinates
    per vec with one keyed aggregate.  Round 11: the basis comes from
    the session PCA memo (fit once per corpus, served here)."""
    v = _pca_v_memo(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> cast(round(cast(x as double) * {PCA_Q}) as bigint))"
            )
        ).alias("dim", "qv"),
    )
    qv_rel = q.join(F.broadcast(v), "dim")
    proj = qv_rel.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("v_micro")).alias("proj_fp")
    )
    vv = v.agg(F.sum(F.col("v_micro") * F.col("v_micro")).alias("vv"))
    corrected = (
        qv_rel.join(proj, "vec_id")
        .crossJoin(F.broadcast(vv))
        .select(
            "vec_id",
            "dim",
            F.round(
                F.col("qv")
                - F.col("proj_fp") * 1.0 * F.col("v_micro") / F.col("vv")
            )
            .cast("long")
            .alias("cqv"),
            "proj_fp",
        )
    )
    return (
        corrected.groupBy("vec_id")
        .agg(
            F.first("proj_fp").alias("proj_fp"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.expr(
                        "transform(array_sort(collect_list(struct(dim, cqv))),"
                        " s -> cast(s.cqv as string))"
                    ),
                )
            ).alias("abtt_md5"),
        )
        .select("vec_id", "proj_fp", "abtt_md5")
    )


QUERIES["emb_abtt_correct"] = emb_abtt_correct

ORACLE["emb_abtt_correct"] = f"""
    WITH v AS ({ORACLE["emb_pca_top_component"]}),
    q AS (
        SELECT vec_id, i - 1 AS dim,
               round(embedding[i]::DOUBLE * {PCA_Q})::BIGINT AS qv
        FROM embeddings, range(1, 65) t(i)
    ),
    qa AS (
        SELECT q.vec_id, q.dim, q.qv, v.v_micro
        FROM q JOIN v ON q.dim = v.dim
    ),
    proj AS (
        SELECT vec_id, sum(qv * v_micro)::BIGINT AS proj_fp
        FROM qa GROUP BY 1
    ),
    vv AS (SELECT sum(v_micro * v_micro)::BIGINT AS vv FROM v),
    corrected AS (
        SELECT qa.vec_id, qa.dim,
               round(qa.qv - p.proj_fp * 1.0 * qa.v_micro / vv.vv)::BIGINT
                   AS cqv,
               p.proj_fp
        FROM qa JOIN proj p ON qa.vec_id = p.vec_id CROSS JOIN vv
    )
    SELECT vec_id, any_value(proj_fp) AS proj_fp,
           md5(array_to_string(list(cqv::VARCHAR ORDER BY dim), ','))
               AS abtt_md5
    FROM corrected GROUP BY 1
"""


def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity against the ground-truth labels: per k-means
    cluster, its majority label and the majority fraction in exact
    basis points — the external-validity twin of the occupancy report
    (`emb_cluster_balance` says clusters are usable for ANN; this says
    they MEAN something).  Low purity across the board flags an
    embedding space whose clusters cut across labels — re-train before
    building SemDeDup-style semantic dedup on it.

    Determinism: the majority pick is a rank-1 window totally ordered
    by (count desc, label asc); purity is an integer `div` over exact
    counts.  Scale: one (cluster, label) aggregate over the assignment
    ⋈ labels join (both keyed on vec_id, single shuffle each), then a
    WindowGroupLimit rank over O(clusters × labels) rows."""
    assign = emb_kmeans(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    # O(clusters x labels) rows, referenced twice (sizes + majority
    # rank): checkpoint so each reference doesn't replay the assignment
    # ⋈ labels join
    votes = (
        assign.join(emb, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    sizes = votes.groupBy("cluster").agg(F.sum("c").alias("n_members"))
    w = Window.partitionBy("cluster").orderBy(F.desc("c"), F.asc("label"))
    top = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("cluster", F.col("label").alias("majority_label"), "c")
    )
    return top.join(sizes, "cluster").select(
        "cluster",
        "majority_label",
        "n_members",
        F.expr("(c * 10000) div n_members").alias("purity_bp"),
    )


QUERIES["emb_cluster_purity"] = emb_cluster_purity

ORACLE["emb_cluster_purity"] = f"""
    WITH assign AS ({ORACLE["emb_kmeans"]}),
    votes AS (
        SELECT a.cluster, e.label, count(*)::BIGINT AS c
        FROM assign a JOIN embeddings e USING (vec_id)
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT cluster, sum(c)::BIGINT AS n_members FROM votes GROUP BY 1
    ),
    top AS (
        SELECT cluster, label AS majority_label, c,
               row_number() OVER (
                   PARTITION BY cluster ORDER BY c DESC, label ASC
               ) AS rn
        FROM votes
    )
    SELECT cluster, majority_label, n_members,
           (c * 10000 // n_members)::BIGINT AS purity_bp
    FROM top JOIN sizes USING (cluster)
    WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Product quantization (PQ) retrieval — completes brute -> LSH -> IVF ->
# ADC -> PQ (the standard compressed-codebook ANN ladder).
# --------------------------------------------------------------------------

PQ_M = 16           # subspaces (EMB_DIM/PQ_M dims each)
PQ_K = 32           # codewords per subspace (5-bit codes)
PQ_ITERS = 2        # Lloyd iterations per subspace codebook
PQ_SUB = EMB_DIM // PQ_M
PQ_RERANK = 50      # PQ shortlist size re-ranked with exact cosine (10x k)


def _pq_encode(
    emb: DataFrame, cents: dict[int, list[tuple[int, list[float]]]]
) -> DataFrame:
    """(vec_id, codes, embedding): per subspace m, the id of the nearest
    codeword (squared L2 over that subspace's dims, ties to the lowest
    codeword id).  The same Arrow-vectorized ``_nearest_kernel`` as
    ``_assign`` — one narrow ``_with_codes`` pass — with M codebooks."""
    cid_arrs, nearest = _nearest_kernel(
        [cents[m] for m in range(PQ_M)], PQ_SUB
    )

    def codes(x: np.ndarray) -> list[np.ndarray]:
        pos = nearest(x)
        return list(
            np.stack([cid_arrs[m][pos[:, m]] for m in range(PQ_M)], axis=1)
        )

    return _with_codes(emb, "codes", ArrayType(LongType()), codes)


def _pq_train(emb: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """Per-subspace codebooks after ``PQ_ITERS`` Lloyd iterations, all M
    subspaces trained JOINTLY: each iteration is one ``_lloyd_step``
    over M codebooks — one narrow Arrow pass and one job, not M.  Init
    is a deterministic pseudo-random sample — the PQ_K smallest rows by
    (md5(vec_id), vec_id), a TakeOrdered, no global sort — sliced per
    subspace (first-K-by-id init seeds all codewords from one corner of
    the space and costs ~5 recall points); recompute uses the
    same exact-integer sums as ``emb_kmeans`` (round(x * 2^20) longs),
    so every codeword coordinate is bit-identical to the DuckDB
    oracle's unrolled CTE chain.  Driver traffic per iteration is
    O(M * PQ_K * PQ_SUB * partitions) longs — independent of corpus
    size.  (At real scale the trainer conventionally runs over a
    sample; the encode pass below is the full-corpus scan.)"""
    init = emb.orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    ).limit(PQ_K).collect()
    books = [
        [
            (
                cid,
                [float(v) for v in row.embedding[m * PQ_SUB : (m + 1) * PQ_SUB]],
            )
            for cid, row in enumerate(init)
        ]
        for m in range(PQ_M)
    ]
    for _ in range(PQ_ITERS):
        books = _lloyd_step(emb, books, PQ_SUB)
    return dict(enumerate(books))


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with exact re-rank: the corpus is stored
    as M codeword ids (M * 5 = 80 bits/vector here vs 64 floats — the
    memory end-state of the compression ladder), each query scores the
    WHOLE corpus through a lookup table of per-subspace partial dot
    products (the classic asymmetric-distance PQ scan — Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011),
    and the float vectors are read back ONLY for the PQ shortlist
    (PQ_RERANK = 10k rows per query), which an exact cosine pass
    re-ranks — the standard two-stage serving layout (IVFADC-style
    coarse scan + re-rank).

    cos(q, x) is approximated with x's PQ reconstruction:
    dot(q, x̂) = Σ_m LUT[m][code_m] and ‖x̂‖² = Σ_m ‖c_m‖², both
    accumulated as round(v * 2^20) longs so the M-term sums are exact
    integers (order-free under Spark's partial aggregation — the same
    determinism rule as every money sum in the engine).

    Scale: the LUT is O(queries * M * PQ_K) rows — broadcast; the
    corpus side scans ONLY the integer code column (the bandwidth win
    is the point), explodes to M slim rows/vector, and one
    partial-aggregated shuffle on (qid, vec_id) sums the M partials.
    The re-rank touches queries * PQ_RERANK float vectors via a
    broadcast semi-join against the corpus scan — independent of
    corpus size per query.  No float vector ever shuffles; training
    traffic is O(M * PQ_K * PQ_SUB)/iteration."""
    return _pq_serve(
        spark, sf_dir, _pq_adc(spark, sf_dir, _pq_codes(spark, sf_dir))
    )


def _pq_serve(spark: SparkSession, sf_dir: str, adc: DataFrame) -> DataFrame:
    """The PQ serve tail shared by every PQ top-k rung: the
    ``PQ_RERANK`` best rows of an ADC ranking ``adc`` (qid, vec_id,
    adc_cos) re-scored exactly, then the top-k.  The float vectors are
    read only for shortlist rows (queries x PQ_RERANK)."""
    base, qdf = _ann_base(spark, sf_dir)
    shortlist = top_k_per_key(
        adc, ["qid"], [F.desc("adc_cos"), F.asc("vec_id")], PQ_RERANK
    ).select("qid", "vec_id")
    return ann.top_cosine(
        ann.rerank_scan(base, qdf, shortlist), TOPK_NEIGHBORS
    ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of PQ retrieval vs the float ground truth — grades the
    compressed-codebook scan the way sim_lsh/ivf/adc_recall grade
    theirs (measured: mean recall@5 = 1.0 at sf0.01, 0.98 at sf0.001 —
    the number that prices the 80-bit storage choice; without the
    exact re-rank the raw PQ ordering alone scores ~0.56)."""
    from .llmdata import _ann_recall, sim_cosine_topk

    return _ann_recall(
        sim_cosine_topk(spark, sf_dir), sim_pq_topk(spark, sf_dir)
    )


QUERIES["sim_pq_topk"] = sim_pq_topk
QUERIES["sim_pq_recall"] = sim_pq_recall


def _pq_common_ctes() -> list[str]:
    """Shared CTE prefix of the PQ oracles: joint per-subspace Lloyd
    (same fixed-point discipline as ``_oracle_kmeans``), encode, query
    sub-vectors, LUT.  ``sim_pq_topk`` appends the full-corpus ADC
    ``scored`` stage; ``sim_ivfpq_topk`` appends the IVF-restricted
    one."""
    from .llmdata import N_QUERY_VECS, _duck_dot

    sub_dist = (
        f"list_sum(list_transform(generate_series(1, {PQ_SUB}),"
        " i -> (s.sv[i] - c.c[i]) * (s.sv[i] - c.c[i])))"
    )
    parts = [
        f"""sub AS (
            SELECT e.vec_id, t.m,
                   list_transform(
                       generate_series(t.m * {PQ_SUB} + 1,
                                       t.m * {PQ_SUB} + {PQ_SUB}),
                       i -> e.embedding[i]::DOUBLE) AS sv
            FROM embeddings e CROSS JOIN generate_series(0, {PQ_M - 1}) t(m)
        ),
        c0 AS (
            SELECT t.m, f.rn - 1 AS cluster,
                   list_transform(
                       generate_series(t.m * {PQ_SUB} + 1,
                                       t.m * {PQ_SUB} + {PQ_SUB}),
                       i -> f.embedding[i]::DOUBLE) AS c
            FROM (
                SELECT embedding,
                       row_number() OVER (
                           ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
                FROM embeddings
                ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {PQ_K}
            ) f CROSS JOIN generate_series(0, {PQ_M - 1}) t(m)
        )"""
    ]
    for t in range(PQ_ITERS):
        parts.append(f"""a{t} AS (
            SELECT vec_id, m, cluster FROM (
                SELECT s.vec_id, s.m, c.cluster,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY {sub_dist}, c.cluster) AS rn
                FROM sub s JOIN c{t} c ON s.m = c.m
            ) WHERE rn = 1
        )""")
        parts.append(f"""c{t + 1} AS (
            SELECT m, cluster, list(sv ORDER BY i) AS c FROM (
                SELECT a.m, a.cluster, gs.i,
                       sum(round(s.sv[gs.i] * {KM_SCALE})::BIGINT)
                       / (count(*) * {KM_SCALE}.0) AS sv
                FROM a{t} a
                JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
                CROSS JOIN generate_series(1, {PQ_SUB}) gs(i)
                GROUP BY a.m, a.cluster, gs.i
            ) GROUP BY m, cluster
        )""")
    t = PQ_ITERS
    parts.append(f"""codes AS (
        SELECT vec_id, m, cluster FROM (
            SELECT s.vec_id, s.m, c.cluster,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {sub_dist}, c.cluster) AS rn
            FROM sub s JOIN c{t} c ON s.m = c.m
        ) WHERE rn = 1
    )""")
    parts.append(f"""q AS (
        SELECT vec_id AS qid, embedding AS qe,
               {_duck_dot('embedding', 'embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    qsub AS (
        SELECT qid, t.m,
               list_transform(
                   generate_series(t.m * {PQ_SUB} + 1,
                                   t.m * {PQ_SUB} + {PQ_SUB}),
                   i -> qe[i]::DOUBLE) AS qsv
        FROM q CROSS JOIN generate_series(0, {PQ_M - 1}) t(m)
    ),
    lut AS (
        SELECT qs.qid, qs.m, c.cluster,
               round(list_sum(list_transform(generate_series(1, {PQ_SUB}),
                   i -> qs.qsv[i] * c.c[i])) * {KM_SCALE})::BIGINT AS dotl,
               round(list_sum(list_transform(generate_series(1, {PQ_SUB}),
                   i -> c.c[i] * c.c[i])) * {KM_SCALE})::BIGINT AS cnorml
        FROM qsub qs JOIN c{t} c ON qs.m = c.m
    )""")
    return parts


def _pq_tail() -> str:
    """Shared oracle tail after a ``scored(qid, vec_id, dl, nl)`` CTE:
    ADC-approximate ranking, shortlist, exact cosine re-rank, top-k."""
    from .llmdata import TOPK_NEIGHBORS, _duck_dot

    return f"""ranked AS (
        SELECT s.qid, s.vec_id,
               (s.dl / {KM_SCALE}.0)
                   / sqrt(q.qnorm * (s.nl / {KM_SCALE}.0)) AS cos
        FROM scored s JOIN q ON s.qid = q.qid
    ),
    short AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM ranked
        ) WHERE rn <= {PQ_RERANK}
    ),
    exact AS (
        SELECT s.qid, s.vec_id,
               {_duck_dot('q.qe', 'e.embedding')}
                   / sqrt(q.qnorm
                          * {_duck_dot('e.embedding', 'e.embedding')})
                   AS cos
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN q ON q.qid = s.qid
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM exact
    ) WHERE rn <= {TOPK_NEIGHBORS}"""


def _pq_oracle() -> str:
    scored = """scored AS (
        SELECT l.qid, a.vec_id,
               sum(l.dotl)::BIGINT AS dl, sum(l.cnorml)::BIGINT AS nl
        FROM codes a JOIN lut l ON a.m = l.m AND a.cluster = l.cluster
        WHERE a.vec_id <> l.qid
        GROUP BY l.qid, a.vec_id
    )"""
    return "WITH " + ",\n".join(
        _pq_common_ctes() + [scored, _pq_tail()]
    )


ORACLE["sim_pq_topk"] = _pq_oracle()


def _pq_recall_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS

    return f"""
        SELECT e.qid,
               round(count(a.vec_id) * 1.0 / {TOPK_NEIGHBORS}, 4)
                   AS recall_at_k
        FROM ({_LLM_ORACLE["sim_cosine_topk"]}) e
        LEFT JOIN ({ORACLE["sim_pq_topk"]}) a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid
    """


ORACLE["sim_pq_recall"] = _pq_recall_oracle()


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval — the full IVFADC serving composition (coarse
    inverted lists x compressed codes x exact re-rank): queries probe
    their ``IVF_NPROBE`` nearest coarse cells, ONLY vectors in probed
    cells are scored, and that scoring reads nothing but the PQ code
    column through the broadcast LUT; the float vectors surface only
    for the shortlist re-rank.  At 100 TB this is the shape that makes
    ANN serve from a fraction of the corpus (nprobe/ncells of the
    rows) at a fraction of the bytes (80-bit codes), which neither
    ``sim_ivf_topk`` (exact cosine inside cells — full float reads)
    nor ``sim_pq_topk`` (codes, but the whole corpus) achieves alone.
    Codes quantize the raw vectors (the IVFPQ-flat variant; classic
    IVFADC quantizes residuals — a finer codebook at the cost of an
    assignment-coupled trainer).

    Plan shape: the coarse centroid set and the query probe set are
    both bounded (<= IVF_MAX_CELLS, queries x nprobe) and broadcast;
    codes join the cell assignment on vec_id (two slim integer
    relations co-keyed on the same persisted scan), the probe
    restriction and the LUT are broadcast hash joins, and one
    partial-aggregated shuffle on (qid, vec_id) sums the exact-int
    partials.  No float vector ever shuffles."""
    from .llmdata import IVF_NPROBE

    _, qdf = _ann_base(spark, sf_dir)
    # the stride coarse quantizer and the PQ codes, both served from the
    # persisted session index (identical to sim_ivf_topk / sim_pq_topk)
    qdot = F.expr(ann.DOT.format(a="qe", b="ce"))
    probes = top_k_per_key(
        qdf.join(F.broadcast(_ivf_stride_cents(spark, sf_dir))).select(
            "qid",
            "cid",
            (qdot / F.sqrt(F.col("qnorm") * F.col("cnorm"))).alias("qcos"),
        ),
        ["qid"],
        [F.desc("qcos"), F.asc("cid")],
        IVF_NPROBE,
    ).select("qid", "cid")
    codes = (
        _pq_codes(spark, sf_dir)
        .join(_ivf_stride_assigned(spark, sf_dir), "vec_id")
        .join(F.broadcast(probes), "cid")
    )
    return _pq_serve(spark, sf_dir, _pq_adc(spark, sf_dir, codes))


def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF-PQ composition vs the float ground truth —
    the number that prices probing nprobe/ncells of the corpus AND
    reading only 80-bit codes.  Measured at sf0.01: recall@5 = 0.30,
    PER-QUERY IDENTICAL to ``sim_ivf_recall`` (exact cosine inside the
    same cells) — i.e. the PQ compression + exact re-rank costs ZERO
    recall on top of the IVF cell restriction; widen ``IVF_NPROBE``
    to buy recall, not code width."""
    from .llmdata import _ann_recall, sim_cosine_topk

    return _ann_recall(
        sim_cosine_topk(spark, sf_dir), sim_ivfpq_topk(spark, sf_dir)
    )


QUERIES["sim_ivfpq_topk"] = sim_ivfpq_topk
QUERIES["sim_ivfpq_recall"] = sim_ivfpq_recall


def _ivfpq_oracle() -> str:
    from .llmdata import (
        IVF_MAX_CELLS,
        IVF_NPROBE,
        IVF_STRIDE,
        _duck_dot,
    )

    ivf = f"""ibase AS (
        SELECT vec_id, embedding,
               {_duck_dot('embedding', 'embedding')} AS nrm
        FROM embeddings
    ),
    icent AS (
        SELECT vec_id AS cid, embedding AS ce, nrm AS cnorm
        FROM ibase
        WHERE vec_id % greatest({IVF_STRIDE},
              ceil((SELECT max(vec_id) + 1 FROM ibase)
                   / {IVF_MAX_CELLS}.0)::BIGINT) = 0
    ),
    iac AS (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY {_duck_dot('b.embedding', 'c.ce')}
                            / sqrt(b.nrm * c.cnorm) DESC, c.cid ASC) AS rk
        FROM ibase b CROSS JOIN icent c
    ),
    iassign AS (SELECT vec_id, cid FROM iac WHERE rk = 1),
    qp AS (
        SELECT q.qid, c.cid,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY {_duck_dot('q.qe', 'c.ce')}
                            / sqrt(q.qnorm * c.cnorm) DESC, c.cid ASC) AS rk
        FROM q CROSS JOIN icent c
    ),
    probe AS (SELECT qid, cid FROM qp WHERE rk <= {IVF_NPROBE})"""
    scored = """scored AS (
        SELECT l.qid, a.vec_id,
               sum(l.dotl)::BIGINT AS dl, sum(l.cnorml)::BIGINT AS nl
        FROM codes a
        JOIN iassign ia ON ia.vec_id = a.vec_id
        JOIN probe p ON p.cid = ia.cid
        JOIN lut l ON a.m = l.m AND a.cluster = l.cluster
                   AND l.qid = p.qid
        WHERE a.vec_id <> p.qid
        GROUP BY l.qid, a.vec_id
    )"""
    return "WITH " + ",\n".join(
        _pq_common_ctes() + [ivf, scored, _pq_tail()]
    )


ORACLE["sim_ivfpq_topk"] = _ivfpq_oracle()


def _ivfpq_recall_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS

    return f"""
        SELECT e.qid,
               round(count(a.vec_id) * 1.0 / {TOPK_NEIGHBORS}, 4)
                   AS recall_at_k
        FROM ({_LLM_ORACLE["sim_cosine_topk"]}) e
        LEFT JOIN ({ORACLE["sim_ivfpq_topk"]}) a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid
    """


ORACLE["sim_ivfpq_recall"] = _ivfpq_recall_oracle()


IVF_TR_NPROBE = 2   # probed cells per query (of the KM_K trained cells)


def _ann_base(spark: SparkSession, sf_dir: str):
    """(corpus, queries): the session corpus as an ``ann`` corpus
    (vec_id, embedding, nrm) and its query frame."""
    base = _emb_corpus(spark, sf_dir).select(
        "vec_id", "embedding", F.expr(ann.NORM).alias("nrm")
    )
    return base, ann.query_frame(base, F.col("vec_id") < N_QUERY_VECS)


def _ivf_cells(spark: SparkSession, sf_dir: str):
    """(centroids, cells): the trained k-means codebook and the corpus
    assigned to it, (vec_id, cluster, embedding, nrm) — what every
    trained-cell IVF rung hands ``ann.ivf_scan``."""
    cents = _trained(
        "kmeans", spark, sf_dir, _kmeans_train, _emb_corpus(spark, sf_dir)
    )
    cells = _km_assigned(spark, sf_dir).select(
        "vec_id", "cluster", "embedding", F.expr(ann.NORM).alias("nrm")
    )
    return cents, cells


def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: the inverted lists are the
    ``emb_kmeans`` Lloyd cells instead of ``sim_ivf_topk``'s
    deterministic stride sample — cells aligned with the data's actual
    cluster structure more than double recall at the SAME scan
    fraction (measured at sf0.01: recall@5 = 0.84 probing 2 of 10
    cells ≈ 20% of rows, vs 0.30 for the stride quantizer probing 2 of
    16 ≈ 12%, and 0.52 even when the stride form probes 25%).  This is
    why production IVF systems train the coarse quantizer.

    Plan shape: identical to ``sim_ivf_topk`` — centroids are bounded
    (KM_K rows) and broadcast into the probe join; corpus assignment
    is the k-means Arrow kernel (one narrow pass); candidates =
    assignment ⋈ broadcast probes on the cell id, exact cosine only
    inside probed cells (``ann.ivf_scan``), top-k rides
    WindowGroupLimit.  Training cost is emb_kmeans' loop (O(K x DIM)
    driver rows per iteration)."""
    _, q = _ann_base(spark, sf_dir)
    cents, cells = _ivf_cells(spark, sf_dir)
    return ann.top_cosine(
        ann.ivf_scan(cells, q, cents, IVF_TR_NPROBE), TOPK_NEIGHBORS
    ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))


def sim_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of trained-cell IVF vs the float ground truth — the
    measured payoff of training the coarse quantizer (0.84 vs the
    stride quantizer's 0.30 at comparable scan fractions, sf0.01)."""
    from .llmdata import _ann_recall, sim_cosine_topk

    return _ann_recall(
        sim_cosine_topk(spark, sf_dir), sim_ivf_trained_topk(spark, sf_dir)
    )


QUERIES["sim_ivf_trained_topk"] = sim_ivf_trained_topk
QUERIES["sim_ivf_trained_recall"] = sim_ivf_trained_recall


def _ivf_trained_oracle() -> str:
    from .llmdata import N_QUERY_VECS, TOPK_NEIGHBORS, _duck_dot

    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    tail = f"""assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe,
               {_duck_dot('embedding', 'embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    probe AS (
        SELECT qid, cluster FROM (
            SELECT q.qid, c.cluster,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {qdist}, c.cluster) AS rn
            FROM q CROSS JOIN c{KM_ITERS} c
        ) WHERE rn <= {IVF_TR_NPROBE}
    ),
    cand AS (
        SELECT q.qid, a.vec_id,
               {_duck_dot('q.qe', 'e.embedding')}
                   / sqrt(q.qnorm
                          * {_duck_dot('e.embedding', 'e.embedding')})
                   AS cos
        FROM assign a
        JOIN probe p ON p.cluster = a.cluster
        JOIN q ON q.qid = p.qid
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> q.qid
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM cand
    ) WHERE rn <= {TOPK_NEIGHBORS}"""
    return "WITH " + ",\n".join(_kmeans_ctes() + [tail])


ORACLE["sim_ivf_trained_topk"] = _ivf_trained_oracle()


def _ivf_trained_recall_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS

    return f"""
        SELECT e.qid,
               round(count(a.vec_id) * 1.0 / {TOPK_NEIGHBORS}, 4)
                   AS recall_at_k
        FROM ({_LLM_ORACLE["sim_cosine_topk"]}) e
        LEFT JOIN ({ORACLE["sim_ivf_trained_topk"]}) a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid
    """


ORACLE["sim_ivf_trained_recall"] = _ivf_trained_recall_oracle()


# --------------------------------------------------------------------------
# FILTERED trained-IVF (hybrid search) — round 10.  Production vector
# stores must compose a metadata predicate with ANN retrieval; the
# exact scan-based form gets this for free (``llmdata.
# sim_hard_negatives`` documents that engine property for a label
# predicate).  This rung does it on the APPROXIMATE path with a
# CROSS-TABLE predicate: candidates are restricted to embeddings whose
# document row passes ``documents.lang = FILTER_LANG``, and the
# restriction is applied INSIDE the probed cells, before any scoring —
# in-filter, not post-filter (post-filtering a top-k list under-fills
# it; dedicated ANN indexes famously struggle exactly here).
# --------------------------------------------------------------------------

FILTER_LANG = "en"   # the metadata predicate of the filtered rung


def _allowed_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_ids whose document passes the metadata predicate (the
    fixture maps vec_id 1:1 onto doc_id).  Slim one-column relation —
    the semi-join side; at scale the runtime bloom filter turns this
    into map-side row pruning before the probe join's exchange."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )


def _filtered_ivf_for(
    spark: SparkSession, sf_dir: str, allowed: DataFrame
) -> DataFrame:
    """Trained-cell IVF top-k restricted to ``allowed`` (vec_id) rows —
    the parametrized core of the filtered rung (round-10 selectivity
    sweep shares it across predicates)."""
    _, q = _ann_base(spark, sf_dir)
    cents, cells = _ivf_cells(spark, sf_dir)
    cells = cells.join(allowed.select("vec_id"), "vec_id", "semi")
    return ann.top_cosine(
        ann.ivf_scan(cells, q, cents, IVF_TR_NPROBE), TOPK_NEIGHBORS
    ).select("qid", "vec_id", F.round("cos", 6).alias("cosine"))


def _filtered_truth_for(
    spark: SparkSession, sf_dir: str, allowed: DataFrame
) -> DataFrame:
    """Exact FILTERED top-k with its cosine: brute-force over the
    allowed candidate set (queries unfiltered) — the filtered rung's
    truth, and the batch twin of ``IvfIngestSink.brute_topk_view``."""
    base, q = _ann_base(spark, sf_dir)
    base = base.join(allowed.select("vec_id"), "vec_id", "semi")
    return ann.top_cosine(ann.exact_scan(base, q), TOPK_NEIGHBORS).select(
        "qid", "vec_id", F.round("cos", 6).alias("cosine")
    )


def sim_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-cell IVF retrieval under a document-metadata predicate:
    probe the IVF_TR_NPROBE nearest trained cells per query, scan ONLY
    rows that are both in a probed cell AND allowed by the predicate,
    exact cosine on the survivors.

    Scale: the predicate enters as a semi join against a slim id
    relation BEFORE the exact-cosine scoring — the scan fraction is
    (probed cells) x (filter selectivity), strictly less work than the
    unfiltered rung, never a top-k list that comes back short.
    Queries are NOT filtered (the caller asks "nearest allowed docs to
    this query", whatever the query's own language)."""
    return _filtered_ivf_for(
        spark, sf_dir, _allowed_vecs(spark, sf_dir)
    )


def sim_filtered_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of filtered trained-IVF vs the exact FILTERED truth
    (brute-force cosine over the allowed set) — prices the in-cell
    filter: allowed neighbors living in unprobed cells are the only
    recall loss, exactly as in the unfiltered rung."""
    from .llmdata import _ann_recall

    allowed = _allowed_vecs(spark, sf_dir)
    return _ann_recall(
        _filtered_truth_for(spark, sf_dir, allowed),
        _filtered_ivf_for(spark, sf_dir, allowed),
    )


QUERIES["sim_filtered_ivf_topk"] = sim_filtered_ivf_topk
QUERIES["sim_filtered_ivf_recall"] = sim_filtered_ivf_recall

SEL_LANGS = ("en", "zh", "fr")   # ~44% / ~15% / ~13% selective


def sim_filtered_selectivity_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Selectivity frontier for hybrid search: mean recall@k of
    filtered trained-IVF vs its exact filtered truth at three
    predicate selectivities — the operational knob a vector store
    publishes for metadata-filtered retrieval (when the predicate gets
    very selective, brute-forcing the filtered set starts beating the
    index; this curve is the evidence).  Exact integer basis points;
    per leg the allowed-row count rides along so selectivity is read
    off the relation itself.

    Scale: the trained codebook and assignment are session memos
    shared across legs; each leg is one semi-joined cell scan +
    shortlist-bounded exact work, so the sweep costs |legs| filtered
    serves, never |legs| retrains.

    Round 11 (guide §2.4 — the leg-tagging restructure): the three
    predicates run as ONE lang-tagged search.  Every document carries
    exactly one lang, so joining the lang column into the corpus as a
    tag and partitioning every window by (lang, qid) computes per-leg
    results identical to three independent semi-joined serves while
    sharing one truth chain, one cell scan and one hit join."""
    base, q = _ann_base(spark, sf_dir)
    cents, cells = _ivf_cells(spark, sf_dir)
    allowed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(list(SEL_LANGS)))
        .select("lang", F.col("doc_id").alias("vec_id"))
    )
    truth = ann.top_cosine(
        ann.exact_scan(base.join(allowed, "vec_id"), q),
        TOPK_NEIGHBORS, ["lang"],
    )
    hit = ann.top_cosine(
        ann.ivf_scan(cells.join(allowed, "vec_id"), q, cents, IVF_TR_NPROBE),
        TOPK_NEIGHBORS, ["lang"],
    )
    acnt = allowed.groupBy("lang").agg(
        F.count("*").cast("long").alias("allowed_rows")
    )
    return (
        ann.recall_frontier(truth, hit, ["lang"])
        .join(F.broadcast(acnt), "lang")
        .select(
            "lang", "allowed_rows", "hits", "truth_rows", "mean_recall_bp"
        )
    )


QUERIES["sim_filtered_selectivity_sweep"] = sim_filtered_selectivity_sweep

# Round-11 (verdict item 5): the brute-vs-index crossover is DERIVED
# from the index's own cost model instead of a magic row constant.
# Serving costs per query:
#   brute  = allowed_rows                      (score every allowed row;
#                                               recall exactly 1)
#   index  ~ corpus_rows * IVF_TR_NPROBE/KM_K  (the in-cell scan budget
#            of an UNfiltered probe; the filtered scan is a subset)
#            + O(KM_K) centroid probe + the selectivity-driven recall
#            loss the frontier measures (recall falls as the predicate
#            sharpens: allowed neighbors concentrate in unprobed cells)
# Brute wins whenever the allowed set is no bigger than the index's own
# full-corpus scan budget — you buy exact recall for at most the IO an
# index probe would spend anyway.  The rule is therefore a FRACTION OF
# CORPUS (nprobe/K), read from table stats at plan time, so it scales
# with corpus size: at the fixture (500 vectors, nprobe 2 of 10 cells)
# it evaluates to 100 rows, keeping both branches exercised at both
# test SFs.
def auto_brute_max(corpus_rows: int) -> int:
    """Allowed-row count at or below which the router brute-forces the
    filtered set (see cost model above); integer-exact on both
    engines: allowed*K <= corpus*nprobe <=> allowed <= this."""
    return (corpus_rows * IVF_TR_NPROBE) // KM_K


def sim_filtered_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid-search ROUTER: for each predicate, serve filtered
    top-k from whichever plan the stats say is right — brute-force the
    filtered set when it is small (allowed <= auto_brute_max(corpus):
    exact recall for no more IO than an index probe would spend), probe
    the trained index when it is large (cost = probed-cells x
    selectivity).  Output is tagged with the chosen plan, so the
    routing decision is itself oracle-checked; across SEL_LANGS and
    both test SFs both branches are exercised.

    Round-11 (verdict item 5): the threshold is DERIVED at plan time
    from two table-stats scalars — corpus rows and allowed rows, each a
    bounded driver-side count on one pruned column (the same class of
    bounded action as the centroid collects) — so the routing decision
    scales with corpus size instead of riding a row constant; see the
    cost model at ``auto_brute_max``.

    Round 11 optimization (guide §2.4 — the selectivity sweep's
    leg-tagging applied here): the per-predicate stats are ONE
    groupBy(lang) count instead of |langs| scans, and the langs that
    route to the same plan run as ONE lang-tagged serve — every
    document carries exactly one lang, so an inner join through the
    lang column plus windows partitioned by (lang, qid) computes
    per-leg results identical to the independent serves.  The routing
    DECISION is unchanged and stays per predicate."""
    corpus_n = _emb_corpus(spark, sf_dir).count()
    docs = load(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.filter(F.col("lang").isin(list(SEL_LANGS)))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    limit = auto_brute_max(corpus_n)
    groups = {
        "brute": [l for l in SEL_LANGS if counts.get(l, 0) <= limit],
        "ivf": [l for l in SEL_LANGS if counts.get(l, 0) > limit],
    }
    base, q = _ann_base(spark, sf_dir)
    legs = []
    for plan, langs in groups.items():
        if not langs:
            continue
        allowed = docs.filter(F.col("lang").isin(langs)).select(
            "lang", F.col("doc_id").alias("vec_id")
        )
        if plan == "brute":
            scored = ann.exact_scan(base.join(allowed, "vec_id"), q)
        else:
            cents, cells = _ivf_cells(spark, sf_dir)
            scored = ann.ivf_scan(
                cells.join(allowed, "vec_id"), q, cents, IVF_TR_NPROBE
            )
        legs.append(
            ann.top_cosine(scored, TOPK_NEIGHBORS, ["lang"]).select(
                "lang", F.lit(plan).alias("plan"), "qid", "vec_id",
                F.round("cos", 6).alias("cosine"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


QUERIES["sim_filtered_auto_topk"] = sim_filtered_auto_topk


def _filtered_ivf_oracle(lang: str = FILTER_LANG, p: str = "") -> str:
    """Filtered trained-IVF top-k oracle, parametrized by predicate
    language and CTE-name prefix (the sweep embeds one self-contained
    prefixed copy per leg — the `_mrl_structured_rank_sql` discipline:
    every CTE single-referenced within its own scope, no cross-leg
    name collisions for the materialization audit)."""
    from .llmdata import N_QUERY_VECS, TOPK_NEIGHBORS, _duck_dot

    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    tail = f"""{p}assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM {p}emb e CROSS JOIN {p}c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    {p}allowed AS (
        SELECT doc_id AS vec_id FROM documents
        WHERE lang = '{lang}'
    ),
    {p}q AS (
        SELECT vec_id AS qid, embedding AS qe,
               {_duck_dot('embedding', 'embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    {p}probe AS (
        SELECT qid, cluster FROM (
            SELECT q.qid, c.cluster,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {qdist}, c.cluster) AS rn
            FROM {p}q q CROSS JOIN {p}c{KM_ITERS} c
        ) WHERE rn <= {IVF_TR_NPROBE}
    ),
    {p}cand AS (
        SELECT q.qid, a.vec_id,
               {_duck_dot('q.qe', 'e.embedding')}
                   / sqrt(q.qnorm
                          * {_duck_dot('e.embedding', 'e.embedding')})
                   AS cos
        FROM {p}assign a
        JOIN {p}allowed al ON al.vec_id = a.vec_id
        JOIN {p}probe pr ON pr.cluster = a.cluster
        JOIN {p}q q ON q.qid = pr.qid
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> q.qid
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM {p}cand
    ) WHERE rn <= {TOPK_NEIGHBORS}"""
    return "WITH " + ",\n".join(_kmeans_ctes(p) + [tail])


ORACLE["sim_filtered_ivf_topk"] = _filtered_ivf_oracle()


def _filtered_truth_sql(lang: str, p: str = "") -> str:
    """Exact filtered brute-force top-k as a self-contained subquery."""
    from .llmdata import N_QUERY_VECS, TOPK_NEIGHBORS, _duck_dot

    return f"""(
        WITH {p}fq AS (
            SELECT vec_id AS qid, embedding AS qe,
                   {_duck_dot('embedding', 'embedding')} AS qnorm
            FROM embeddings WHERE vec_id < {N_QUERY_VECS}
        ),
        {p}fc AS (
            SELECT e.vec_id, e.embedding,
                   {_duck_dot('e.embedding', 'e.embedding')} AS cnorm
            FROM embeddings e
            JOIN documents d ON d.doc_id = e.vec_id
            WHERE d.lang = '{lang}'
        ),
        {p}fpairs AS (
            SELECT qid, vec_id,
                   {_duck_dot('qe', 'embedding')}
                       / sqrt(qnorm * cnorm) AS cos
            FROM {p}fq, {p}fc WHERE vec_id <> qid
        )
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (
                PARTITION BY qid ORDER BY cos DESC, vec_id ASC
            ) AS rk FROM {p}fpairs
        ) WHERE rk <= {TOPK_NEIGHBORS}
    )"""


def _filtered_ivf_recall_oracle() -> str:
    from .llmdata import TOPK_NEIGHBORS

    return f"""
        SELECT e.qid,
               round(count(a.vec_id) * 1.0 / {TOPK_NEIGHBORS}, 4)
                   AS recall_at_k
        FROM {_filtered_truth_sql(FILTER_LANG)} e
        LEFT JOIN ({ORACLE["sim_filtered_ivf_topk"]}) a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid
    """


ORACLE["sim_filtered_ivf_recall"] = _filtered_ivf_recall_oracle()


def _filtered_sweep_leg_sql(lang: str, p: str) -> str:
    return f"""
    SELECT '{lang}' AS lang,
           (SELECT count(*) FROM documents
            WHERE lang = '{lang}')::BIGINT AS allowed_rows,
           count(a.vec_id)::BIGINT AS hits,
           count(*)::BIGINT AS truth_rows,
           ((count(a.vec_id) * 10000) // count(*))::BIGINT
               AS mean_recall_bp
    FROM {_filtered_truth_sql(lang, p + "t")} e
    LEFT JOIN ({_filtered_ivf_oracle(lang, p)}) a
      ON a.qid = e.qid AND a.vec_id = e.vec_id"""


ORACLE["sim_filtered_selectivity_sweep"] = "\nUNION ALL\n".join(
    _filtered_sweep_leg_sql(lang, f"l{i}_")
    for i, lang in enumerate(SEL_LANGS)
)


def _filtered_brute_sql(lang: str, p: str = "") -> str:
    """Exact filtered top-k WITH scores, self-contained subquery."""
    from .llmdata import N_QUERY_VECS, TOPK_NEIGHBORS, _duck_dot

    return f"""(
        WITH {p}fq AS (
            SELECT vec_id AS qid, embedding AS qe,
                   {_duck_dot('embedding', 'embedding')} AS qnorm
            FROM embeddings WHERE vec_id < {N_QUERY_VECS}
        ),
        {p}fc AS (
            SELECT e.vec_id, e.embedding,
                   {_duck_dot('e.embedding', 'e.embedding')} AS cnorm
            FROM embeddings e
            JOIN documents d ON d.doc_id = e.vec_id
            WHERE d.lang = '{lang}'
        ),
        {p}fpairs AS (
            SELECT qid, vec_id,
                   {_duck_dot('qe', 'embedding')}
                       / sqrt(qnorm * cnorm) AS cos
            FROM {p}fq, {p}fc WHERE vec_id <> qid
        )
        SELECT qid, vec_id, round(cos, 6) AS cosine FROM (
            SELECT qid, vec_id, cos, row_number() OVER (
                PARTITION BY qid ORDER BY cos DESC, vec_id ASC
            ) AS rk FROM {p}fpairs
        ) WHERE rk <= {TOPK_NEIGHBORS}
    )"""


def _filtered_auto_leg_sql(lang: str, i: int) -> str:
    # the same stats-derived rule as auto_brute_max, integer-exact:
    # allowed * KM_K <= corpus * IVF_TR_NPROBE  ->  brute
    allowed_n = f"(SELECT count(*) FROM documents WHERE lang = '{lang}')"
    corpus_n = "(SELECT count(*) FROM embeddings)"
    gate = f"{allowed_n} * {KM_K} <= {corpus_n} * {IVF_TR_NPROBE}"
    return f"""
    SELECT '{lang}' AS lang, 'brute' AS plan, qid, vec_id, cosine
    FROM {_filtered_brute_sql(lang, f"a{i}b")}
    WHERE {gate}
    UNION ALL
    SELECT '{lang}' AS lang, 'ivf' AS plan, qid, vec_id, cosine
    FROM ({_filtered_ivf_oracle(lang, f"a{i}_")})
    WHERE NOT ({gate})"""


ORACLE["sim_filtered_auto_topk"] = "\nUNION ALL\n".join(
    _filtered_auto_leg_sql(lang, i) for i, lang in enumerate(SEL_LANGS)
)


def _ivfpq_trained_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-cell ADC scan shared by ``sim_ivfpq_trained_topk``
    and ``sim_ivfpq_trained_rerank``: ``(qid, vec_id, adc_cos)`` for
    exactly the rows inside each query's ``IVF_TR_NPROBE`` nearest
    TRAINED cells — the cell restriction and the code scan, everything
    up to (but not including) the shortlist policy the two callers
    differ on."""
    _, qdf = _ann_base(spark, sf_dir)
    kcents, cells = _ivf_cells(spark, sf_dir)
    probes = ann.ivf_probes(qdf, kcents, IVF_TR_NPROBE).select(
        "qid", "cluster"
    )
    codes = (
        _pq_codes(spark, sf_dir)
        .join(cells.select("vec_id", "cluster"), "vec_id")
        .join(F.broadcast(probes), "cluster")
    )
    return _pq_adc(spark, sf_dir, codes)


def sim_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF-PQ end-state: TRAINED coarse cells
    (``emb_kmeans``' Lloyd quantizer — the recall half) composed with
    the PQ code scan (80-bit ADC through the broadcast LUT — the
    bandwidth half) and the exact re-rank.  ``sim_ivfpq_topk`` proved
    compression costs zero recall on top of the cell restriction;
    ``sim_ivf_trained_topk`` proved trained cells nearly triple the
    stride quantizer's recall at the same scan fraction; this is both
    at once — the shape a 100 TB vector store actually serves
    (measured at sf0.01: recall@5 = 0.84, identical per-query to the
    uncompressed trained-IVF scan).

    Plan shape: k-means centroids (KM_K rows) and PQ codebooks
    (M x PQ_K rows) both broadcast; the corpus contributes two slim
    integer relations off the same persisted scan — the cell
    assignment (Arrow kernel) and the code column — joined on vec_id;
    probe restriction and LUT are broadcast hash joins; one
    partial-aggregated shuffle on (qid, vec_id) sums the exact-int
    partials; float vectors surface only for the shortlist re-rank."""
    return _pq_serve(spark, sf_dir, _ivfpq_trained_scored(spark, sf_dir))


def sim_ivfpq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of trained-cell IVF-PQ vs the float ground truth — the
    number that certifies the full production composition (trained
    cells + 80-bit codes + re-rank) keeps the trained quantizer's
    recall while reading a fraction of the rows AND of the bytes."""
    from .llmdata import _ann_recall, sim_cosine_topk

    return _ann_recall(
        sim_cosine_topk(spark, sf_dir), sim_ivfpq_trained_topk(spark, sf_dir)
    )


QUERIES["sim_ivfpq_trained_topk"] = sim_ivfpq_trained_topk
QUERIES["sim_ivfpq_trained_recall"] = sim_ivfpq_trained_recall


def _ivfpq_trained_oracle() -> str:
    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    edist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    tail = [
        f"""tassign AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {edist}, c.cluster) AS rn
                FROM kemb e CROSS JOIN kc{KM_ITERS} c
            ) WHERE rn = 1
        )""",
        f"""probe AS (
            SELECT qid, cluster FROM (
                SELECT q.qid, c.cluster,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY {qdist}, c.cluster) AS rn
                FROM q CROSS JOIN kc{KM_ITERS} c
            ) WHERE rn <= {IVF_TR_NPROBE}
        )""",
        """scored AS (
            SELECT l.qid, a.vec_id,
                   sum(l.dotl)::BIGINT AS dl, sum(l.cnorml)::BIGINT AS nl
            FROM codes a
            JOIN tassign ta ON ta.vec_id = a.vec_id
            JOIN probe p ON p.cluster = ta.cluster
            JOIN lut l ON a.m = l.m AND a.cluster = l.cluster
                       AND l.qid = p.qid
            WHERE a.vec_id <> p.qid
            GROUP BY l.qid, a.vec_id
        )""",
        _pq_tail(),
    ]
    return "WITH " + ",\n".join(
        _kmeans_ctes("k") + _pq_common_ctes() + tail
    )


ORACLE["sim_ivfpq_trained_topk"] = _ivfpq_trained_oracle()


def _ivfpq_trained_recall_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS

    return f"""
        SELECT e.qid,
               round(count(a.vec_id) * 1.0 / {TOPK_NEIGHBORS}, 4)
                   AS recall_at_k
        FROM ({_LLM_ORACLE["sim_cosine_topk"]}) e
        LEFT JOIN ({ORACLE["sim_ivfpq_trained_topk"]}) a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid
    """


ORACLE["sim_ivfpq_trained_recall"] = _ivfpq_trained_recall_oracle()


IVF_SWEEP_NPROBES = (1, 2, 4)


def sim_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning curve, measured from data: for each probe
    budget in ``IVF_SWEEP_NPROBES``, the trained-cell IVF's mean
    recall@k against the float ground truth AND the exact number of
    candidate rows scanned — the recall-vs-scan-fraction frontier an
    operator reads before picking nprobe at 100 TB (the IVF analogue of
    ``dedup_minhash_band_sweep``'s banding curve).

    One assignment + one probe ranking feed ALL sweep points: the
    candidate relation carries the probe rank, each budget filters
    ``probe <= np`` and re-ranks — no per-budget recompute (candidates
    and the 50-row truth are checkpointed; both are bounded:
    queries x probed cells x cell size, queries x k)."""
    from .llmdata import sim_cosine_topk

    _, q = _ann_base(spark, sf_dir)
    cents, cells = _ivf_cells(spark, sf_dir)
    cand = ann.ivf_scan(
        cells, q, cents, max(IVF_SWEEP_NPROBES)
    ).localCheckpoint()
    truth = (
        sim_cosine_topk(spark, sf_dir)
        .select("qid", "vec_id")
        .localCheckpoint()
    )
    parts = []
    for np_ in IVF_SWEEP_NPROBES:
        sub = cand.filter(F.col("probe") <= np_)
        parts.append(
            ann.recall_frontier(truth, ann.top_cosine(sub, TOPK_NEIGHBORS))
            .crossJoin(sub.agg(F.count("*").alias("scanned_rows")))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                F.col("hits").alias("matches"),
                "truth_rows", "mean_recall_bp", "scanned_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["sim_ivf_probe_sweep"] = sim_ivf_probe_sweep


def _ivf_probe_sweep_oracle() -> str:
    from .llmdata import (
        N_QUERY_VECS,
        TOPK_NEIGHBORS,
        _duck_dot,
    )
    from .llmdata import ORACLE as _LLM_ORACLE

    edist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    max_np = max(IVF_SWEEP_NPROBES)
    parts = _kmeans_ctes() + [
        f"""assign AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {edist}, c.cluster) AS rn
                FROM emb e CROSS JOIN c{KM_ITERS} c
            ) WHERE rn = 1
        )""",
        f"""q AS (
            SELECT vec_id AS qid, embedding AS qe,
                   {_duck_dot('embedding', 'embedding')} AS qnorm
            FROM embeddings WHERE vec_id < {N_QUERY_VECS}
        )""",
        f"""pr AS (
            SELECT qid, cluster, rn FROM (
                SELECT q.qid, c.cluster,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY {qdist}, c.cluster) AS rn
                FROM q CROSS JOIN c{KM_ITERS} c
            ) WHERE rn <= {max_np}
        )""",
        f"""cand AS (
            SELECT q.qid, a.vec_id, p.rn,
                   {_duck_dot('q.qe', 'e.embedding')}
                       / sqrt(q.qnorm
                              * {_duck_dot('e.embedding', 'e.embedding')})
                       AS cos
            FROM assign a
            JOIN pr p ON p.cluster = a.cluster
            JOIN q ON q.qid = p.qid
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE a.vec_id <> q.qid
        )""",
        f"""truth AS (
            SELECT qid, vec_id FROM ({_LLM_ORACLE["sim_cosine_topk"]})
        )""",
        "nq AS (SELECT count(DISTINCT qid)::BIGINT AS nq FROM truth)",
    ]
    selects = []
    for np_ in IVF_SWEEP_NPROBES:
        parts.append(f"""t{np_} AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (
                           PARTITION BY qid
                           ORDER BY cos DESC, vec_id) AS rk
                FROM cand WHERE rn <= {np_}
            ) WHERE rk <= {TOPK_NEIGHBORS}
        )""")
        selects.append(f"""
            SELECT {np_}::BIGINT AS nprobe,
                   (SELECT count(*)
                    FROM truth JOIN t{np_} USING (qid, vec_id))::BIGINT
                       AS matches,
                   (SELECT nq * {TOPK_NEIGHBORS} FROM nq)::BIGINT
                       AS truth_rows,
                   ((SELECT count(*)
                     FROM truth JOIN t{np_} USING (qid, vec_id)) * 10000
                    // (SELECT nq * {TOPK_NEIGHBORS} FROM nq))::BIGINT
                       AS mean_recall_bp,
                   (SELECT count(*) FROM cand WHERE rn <= {np_})::BIGINT
                       AS scanned_rows
        """)
    return (
        "WITH " + ",\n".join(parts) + " UNION ALL ".join(selects)
    )


ORACLE["sim_ivf_probe_sweep"] = _ivf_probe_sweep_oracle()


EMB_OUTLIER_TOPN = 20


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding corpus QC: the ``EMB_OUTLIER_TOPN`` vectors farthest
    from their assigned k-means centroid (squared L2 in exact micro
    units) — the garbage/mislabeled-vector screen run before trusting
    the corpus for retrieval or semantic dedup (the per-vector twin of
    ``emb_cluster_balance``'s per-cell report).

    Determinism: the distance sums per-dim ``round(term * 1e6)`` longs
    (one rounding per dim, identical both sides — order-free integer
    addition); top-N totally ordered by (distance desc, vec_id).
    Scale: centroids broadcast (KM_K rows), one narrow corpus pass,
    top-N rides WindowGroupLimit/TakeOrdered."""
    emb = _emb_corpus(spark, sf_dir)
    cents = _trained("kmeans", spark, sf_dir, _kmeans_train, emb)
    assign = _km_assigned(spark, sf_dir).select("vec_id", "cluster", "embedding")
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "cluster bigint, c array<double>",
    )
    # exact integer micro-distance: per-dim squared diff rounded once
    d2_micro = F.expr(
        "aggregate(zip_with(embedding, c,"
        " (x, y) -> cast(round((cast(x as double) - y)"
        " * (cast(x as double) - y) * 1e6) as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    scored = assign.join(F.broadcast(cdf), "cluster").select(
        "vec_id", "cluster", d2_micro.alias("d2_micro")
    )

    return (
        top_k_per_key(
            scored.withColumn("g", F.lit(1)),
            ["g"],
            [F.desc("d2_micro"), F.asc("vec_id")],
            EMB_OUTLIER_TOPN,
        )
        .select("vec_id", "cluster", "d2_micro")
    )


QUERIES["emb_outliers"] = emb_outliers


def _emb_outliers_oracle() -> str:
    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    d2m = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> round((e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i]) * 1e6)::BIGINT))"
    )
    tail = f"""assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT a.vec_id, a.cluster, {d2m}::BIGINT AS d2_micro
        FROM assign a
        JOIN emb e ON e.vec_id = a.vec_id
        JOIN c{KM_ITERS} c ON c.cluster = a.cluster
    )
    SELECT vec_id, cluster, d2_micro FROM (
        SELECT vec_id, cluster, d2_micro,
               row_number() OVER (
                   ORDER BY d2_micro DESC, vec_id ASC) AS rk
        FROM scored
    ) WHERE rk <= {EMB_OUTLIER_TOPN}"""
    return "WITH " + ",\n".join(_kmeans_ctes() + [tail])


ORACLE["emb_outliers"] = _emb_outliers_oracle()


# --------------------------------------------------------------------------
# Round-4: the PQ re-rank budget frontier
# --------------------------------------------------------------------------
# Why it exists: sf0.01 measured PQ+re-rank recall@5 = 1.0, but at that
# scale the fixed PQ_RERANK=50 shortlist covered 10% of the corpus — at
# sf0.1 the same 50 rows are 1% and recall drops to ~0.88.  The "zero
# compression loss" result was partly shortlist coverage, not codebook
# quality.  Before reaching for OPQ rotations, the operator's first knob
# is the re-rank budget; this harness measures that frontier exactly the
# way sim_ivf_probe_sweep measures nprobe.

PQ_SWEEP_BUDGETS = (25, 50, 100, 200)


def sim_pq_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-rank tuning curve for PQ retrieval: for each shortlist
    budget, mean recall@k vs the float ground truth AND the number of
    float vectors actually re-ranked — the accuracy-vs-float-reads
    frontier that decides PQ_RERANK at scale (re-rank reads are the
    only full-width vector I/O in the serving path).

    One ADC scan feeds ALL sweep points: the PQ-approximate ranking is
    computed once with its per-query rank, the exact cosine is computed
    once for the max-budget shortlist (bounded: queries x max budget),
    and each budget merely filters rank <= B before the final top-k.
    Codebooks come from the session trainer memo — identical to every
    other PQ rung."""
    return _rerank_frontier(
        spark, sf_dir, _pq_adc(spark, sf_dir, _pq_codes(spark, sf_dir))
    )


def _rerank_frontier(
    spark: SparkSession, sf_dir: str, adc: DataFrame
) -> DataFrame:
    """(rerank_budget, matches, truth_rows, mean_recall_bp,
    reranked_rows) of an ADC ranking ``adc`` (qid, vec_id, adc_cos):
    the max-budget shortlist is re-scored exactly once (checkpointed,
    bounded: queries x max budget), and per ``PQ_SWEEP_BUDGETS`` budget
    B the top-k among the B best ADC rows meets the float truth.

    Round 11 (guide §2.4): the budgets run as ONE leg-tagged pipeline —
    a 4-row budget fan join, one window per (budget, qid), one truth
    join, one groupBy — instead of four independent window/semi-join/
    count subtrees.  Per budget the ranked subset and its truth matches
    are identical rows (the window partitions per leg)."""
    from .llmdata import sim_cosine_topk

    base, qdf = _ann_base(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("adc_cos"), F.asc("vec_id"))
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max(PQ_SWEEP_BUDGETS))
        .select("qid", "vec_id", "rn")
    )
    exact = ann.rerank_scan(base, qdf, shortlist).localCheckpoint()
    truth = (
        sim_cosine_topk(spark, sf_dir)
        .select("qid", "vec_id")
        .localCheckpoint()
    )
    legs = F.broadcast(
        spark.createDataFrame(
            [(b,) for b in PQ_SWEEP_BUDGETS], "rerank_budget long"
        )
    )
    fan = exact.join(legs, F.col("rn") <= F.col("rerank_budget"))
    reranked = fan.groupBy("rerank_budget").agg(
        F.count("*").alias("reranked_rows")
    )
    return (
        ann.recall_frontier(
            truth.crossJoin(legs),
            ann.top_cosine(fan, TOPK_NEIGHBORS, ["rerank_budget"]),
            ["rerank_budget"],
        )
        .join(reranked, "rerank_budget")
        .select(
            "rerank_budget", F.col("hits").alias("matches"), "truth_rows",
            "mean_recall_bp", "reranked_rows",
        )
    )


QUERIES["sim_pq_rerank_sweep"] = sim_pq_rerank_sweep


def _pq_rerank_sweep_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS, _duck_dot

    max_b = max(PQ_SWEEP_BUDGETS)
    scored = """scored AS (
        SELECT l.qid, a.vec_id,
               sum(l.dotl)::BIGINT AS dl, sum(l.cnorml)::BIGINT AS nl
        FROM codes a JOIN lut l ON a.m = l.m AND a.cluster = l.cluster
        WHERE a.vec_id <> l.qid
        GROUP BY l.qid, a.vec_id
    )"""
    shortlist = f"""short AS (
        SELECT qid, vec_id, rn FROM (
            SELECT s.qid, s.vec_id,
                   row_number() OVER (
                       PARTITION BY s.qid
                       ORDER BY (s.dl / {KM_SCALE}.0)
                           / sqrt(q.qnorm * (s.nl / {KM_SCALE}.0)) DESC,
                           s.vec_id) AS rn
            FROM scored s JOIN q ON s.qid = q.qid
        ) WHERE rn <= {max_b}
    )"""
    exact = f"""exact AS MATERIALIZED (
        SELECT s.qid, s.vec_id, s.rn,
               {_duck_dot('q.qe', 'e.embedding')}
                   / sqrt(q.qnorm
                          * {_duck_dot('e.embedding', 'e.embedding')})
                   AS cos
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN q ON q.qid = s.qid
    ),
    truth AS MATERIALIZED (
        SELECT qid, vec_id FROM ({_LLM_ORACLE["sim_cosine_topk"]})
    ),
    nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM truth)"""
    legs = []
    for b in PQ_SWEEP_BUDGETS:
        legs.append(f"""
        SELECT {b}::BIGINT AS rerank_budget,
               (SELECT count(*)::BIGINT FROM truth t
                JOIN (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id,
                                 row_number() OVER (
                                     PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rn2
                          FROM exact WHERE rn <= {b}
                      ) WHERE rn2 <= {TOPK_NEIGHBORS}) a
                  ON t.qid = a.qid AND t.vec_id = a.vec_id) AS matches,
               (SELECT n * {TOPK_NEIGHBORS} FROM nq) AS truth_rows,
               ((SELECT count(*)::BIGINT FROM truth t
                JOIN (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id,
                                 row_number() OVER (
                                     PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rn2
                          FROM exact WHERE rn <= {b}
                      ) WHERE rn2 <= {TOPK_NEIGHBORS}) a
                  ON t.qid = a.qid AND t.vec_id = a.vec_id) * 10000)
                 // (SELECT n * {TOPK_NEIGHBORS} FROM nq) AS mean_recall_bp,
               (SELECT count(*)::BIGINT FROM exact
                WHERE rn <= {b}) AS reranked_rows""")
    return (
        "WITH "
        + ",\n".join(_pq_common_ctes() + [scored, shortlist, exact])
        + " "
        + " UNION ALL ".join(legs)
    )


ORACLE["sim_pq_rerank_sweep"] = _pq_rerank_sweep_oracle()


def sim_ivfpq_trained_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-cell re-rank budget frontier for TRAINED IVF-PQ — the
    sweep that closes the last measured gap in the ANN ladder: at sf0.1
    the fixed PQ_RERANK=50 shortlist costs trained IVF-PQ ~2 recall
    points vs the uncompressed trained-IVF scan (0.92 vs 0.94) because
    the ADC approximation mis-orders candidates near the shortlist
    boundary.  The scan fraction is UNCHANGED (same IVF_TR_NPROBE
    probed cells — ``scanned_rows`` certifies it per run); only the
    float re-reads grow with the budget, so the frontier shows exactly
    which budget buys back the compression loss inside the probed
    cells.

    One cell-restricted ADC scan (``_ivfpq_trained_scored``, identical
    to ``sim_ivfpq_trained_topk``'s) feeds ALL sweep points: ADC
    ranking once with its per-query rank, exact cosine once for the
    max-budget shortlist, each budget filters ``rn <= B`` before the
    final top-k — the ``sim_pq_rerank_sweep`` machinery pointed at the
    probed-cell candidate set."""
    # materialized once: both the shortlist and the scanned_rows
    # certificate read it (bounded: queries x probed-cell rows)
    adc = _ivfpq_trained_scored(spark, sf_dir).localCheckpoint()
    frontier = _rerank_frontier(spark, sf_dir, adc)
    scanned = adc.agg(F.count("*").alias("scanned_rows"))
    return frontier.crossJoin(F.broadcast(scanned))


QUERIES["sim_ivfpq_trained_rerank"] = sim_ivfpq_trained_rerank


def _ivfpq_trained_rerank_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE
    from .llmdata import TOPK_NEIGHBORS, _duck_dot

    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    edist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    max_b = max(PQ_SWEEP_BUDGETS)
    mid = [
        f"""tassign AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {edist}, c.cluster) AS rn
                FROM kemb e CROSS JOIN kc{KM_ITERS} c
            ) WHERE rn = 1
        )""",
        f"""probe AS (
            SELECT qid, cluster FROM (
                SELECT q.qid, c.cluster,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY {qdist}, c.cluster) AS rn
                FROM q CROSS JOIN kc{KM_ITERS} c
            ) WHERE rn <= {IVF_TR_NPROBE}
        )""",
        """scored AS MATERIALIZED (
            SELECT l.qid, a.vec_id,
                   sum(l.dotl)::BIGINT AS dl, sum(l.cnorml)::BIGINT AS nl
            FROM codes a
            JOIN tassign ta ON ta.vec_id = a.vec_id
            JOIN probe p ON p.cluster = ta.cluster
            JOIN lut l ON a.m = l.m AND a.cluster = l.cluster
                       AND l.qid = p.qid
            WHERE a.vec_id <> p.qid
            GROUP BY l.qid, a.vec_id
        )""",
        f"""short AS (
            SELECT qid, vec_id, rn FROM (
                SELECT s.qid, s.vec_id,
                       row_number() OVER (
                           PARTITION BY s.qid
                           ORDER BY (s.dl / {KM_SCALE}.0)
                               / sqrt(q.qnorm * (s.nl / {KM_SCALE}.0)) DESC,
                               s.vec_id) AS rn
                FROM scored s JOIN q ON s.qid = q.qid
            ) WHERE rn <= {max_b}
        )""",
        f"""exact AS MATERIALIZED (
            SELECT s.qid, s.vec_id, s.rn,
                   {_duck_dot('q.qe', 'e.embedding')}
                       / sqrt(q.qnorm
                              * {_duck_dot('e.embedding', 'e.embedding')})
                       AS cos
            FROM short s
            JOIN embeddings e ON e.vec_id = s.vec_id
            JOIN q ON q.qid = s.qid
        ),
        truth AS MATERIALIZED (
            SELECT qid, vec_id FROM ({_LLM_ORACLE["sim_cosine_topk"]})
        ),
        nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM truth),
        scanned AS (SELECT count(*)::BIGINT AS n FROM scored)""",
    ]
    legs = []
    for b in PQ_SWEEP_BUDGETS:
        legs.append(f"""
        SELECT {b}::BIGINT AS rerank_budget,
               (SELECT count(*)::BIGINT FROM truth t
                JOIN (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id,
                                 row_number() OVER (
                                     PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rn2
                          FROM exact WHERE rn <= {b}
                      ) WHERE rn2 <= {TOPK_NEIGHBORS}) a
                  ON t.qid = a.qid AND t.vec_id = a.vec_id) AS matches,
               (SELECT n * {TOPK_NEIGHBORS} FROM nq) AS truth_rows,
               ((SELECT count(*)::BIGINT FROM truth t
                JOIN (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id,
                                 row_number() OVER (
                                     PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rn2
                          FROM exact WHERE rn <= {b}
                      ) WHERE rn2 <= {TOPK_NEIGHBORS}) a
                  ON t.qid = a.qid AND t.vec_id = a.vec_id) * 10000)
                 // (SELECT n * {TOPK_NEIGHBORS} FROM nq) AS mean_recall_bp,
               (SELECT count(*)::BIGINT FROM exact
                WHERE rn <= {b}) AS reranked_rows,
               (SELECT n FROM scanned) AS scanned_rows""")
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes("k") + _pq_common_ctes() + mid)
        + " "
        + " UNION ALL ".join(legs)
    )


ORACLE["sim_ivfpq_trained_rerank"] = _ivfpq_trained_rerank_oracle()


def sim_range_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF-pruned cosine radius search: the range twin of
    ``sim_ivf_trained_topk`` — exact cosine + SIM_RANGE_TAU threshold
    applied only inside each query's IVF_TR_NPROBE nearest trained
    cells.  Completes the range API with the production pruner: the
    sign-LSH variant covers only ~10-20% of the radius set on this
    corpus (``sim_range_recall``), while trained cells concentrate the
    radius neighbors the same way they concentrate the top-k ones
    (``sim_range_recall_ivf`` measures it).

    Plan shape: identical to the trained top-k — bounded centroids
    broadcast, one Arrow assignment pass, candidates = assignment ⋈
    broadcast probes — minus the rank: the radius predicate replaces
    top-k entirely, so nothing windows."""
    from .llmdata import _within_radius

    _, q = _ann_base(spark, sf_dir)
    cents, cells = _ivf_cells(spark, sf_dir)
    return _within_radius(ann.ivf_scan(cells, q, cents, IVF_TR_NPROBE))


def sim_range_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius coverage of the trained-IVF range search vs the exact
    radius set — the number that picks the pruner for range queries."""
    from .llmdata import sim_range_search

    truth = sim_range_search(spark, sf_dir).groupBy("qid").agg(
        F.count("*").alias("n_true")
    )
    found = sim_range_search_ivf(spark, sf_dir).groupBy("qid").agg(
        F.count("*").alias("n_found")
    )
    return truth.join(found, "qid", "left").select(
        "qid",
        "n_true",
        F.coalesce(F.col("n_found"), F.lit(0)).alias("n_found"),
        F.expr(
            "(coalesce(n_found, 0) * 10000) div n_true"
        ).alias("coverage_bp"),
    )


QUERIES["sim_range_search_ivf"] = sim_range_search_ivf
QUERIES["sim_range_recall_ivf"] = sim_range_recall_ivf


def _ivf_range_oracle() -> str:
    from .llmdata import N_QUERY_VECS, SIM_RANGE_TAU, _duck_dot

    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    qdist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (q.qe[i]::DOUBLE - c.c[i])"
        " * (q.qe[i]::DOUBLE - c.c[i])))"
    )
    tail = f"""assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe,
               {_duck_dot('embedding', 'embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    probe AS (
        SELECT qid, cluster FROM (
            SELECT q.qid, c.cluster,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {qdist}, c.cluster) AS rn
            FROM q CROSS JOIN c{KM_ITERS} c
        ) WHERE rn <= {IVF_TR_NPROBE}
    ),
    cand AS (
        SELECT q.qid, a.vec_id,
               {_duck_dot('q.qe', 'e.embedding')}
                   / sqrt(q.qnorm
                          * {_duck_dot('e.embedding', 'e.embedding')})
                   AS cos
        FROM assign a
        JOIN probe p ON p.cluster = a.cluster
        JOIN q ON q.qid = p.qid
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> q.qid
    )
    SELECT qid, vec_id, round(cos, 6) AS cosine
    FROM cand WHERE cos >= {SIM_RANGE_TAU}::DOUBLE"""
    return "WITH " + ",\n".join(_kmeans_ctes() + [tail])


ORACLE["sim_range_search_ivf"] = _ivf_range_oracle()


def _ivf_range_recall_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE

    return f"""
        WITH t AS (
            SELECT qid, count(*)::BIGINT AS n_true
            FROM ({_LLM_ORACLE["sim_range_search"]}) GROUP BY qid
        ),
        f AS (
            SELECT qid, count(*)::BIGINT AS n_found
            FROM ({ORACLE["sim_range_search_ivf"]}) GROUP BY qid
        )
        SELECT t.qid, t.n_true,
               coalesce(f.n_found, 0)::BIGINT AS n_found,
               (coalesce(f.n_found, 0) * 10000) // t.n_true AS coverage_bp
        FROM t LEFT JOIN f ON t.qid = f.qid
    """


ORACLE["sim_range_recall_ivf"] = _ivf_range_recall_oracle()


# Round-6: hybrid retrieval — reciprocal-rank fusion of two retrievers.
K_RRF = 60           # the standard RRF smoothing constant
RRF_SCALE = 10**9    # integer contributions: SCALE div (K + rank)
RRF_TOPK = 5


def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrievers
    over the same corpus — exact brute-force cosine and the trained-IVF
    index — the standard hybrid-search serving pattern (fuse rankings,
    not scores, so retrievers with incomparable score scales combine
    sanely).  Contribution of rank r in each list is the exact integer
    ``RRF_SCALE div (K_RRF + r)`` (the house integer-ratio discipline —
    float reciprocals would not hash across engines); per (query,
    candidate) the contributions sum, and the top ``RRF_TOPK`` fused
    candidates per query report with their list count.

    Ranks order by the ROUNDED cosine (both lists already round to 6
    dp) with vec_id tie-break, so ranking is bit-stable.  Scale: both
    input rankings are O(queries × k) relations the engine already
    serves; fusion is one union + one aggregate + one WindowGroupLimit
    top-k — nothing rescans the corpus."""
    def ranked(df):
        w = Window.partitionBy("qid").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return df.select(
            "qid", "vec_id", F.row_number().over(w).alias("r")
        ).select(
            "qid",
            "vec_id",
            F.expr(f"{RRF_SCALE} div ({K_RRF} + r)").alias("contrib"),
        )

    from .llmdata import sim_cosine_topk

    fused = (
        ranked(sim_cosine_topk(spark, sf_dir))
        .unionByName(ranked(sim_ivf_trained_topk(spark, sf_dir)))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum("contrib").alias("rrf_ppb"),
            F.count("*").alias("n_lists"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("rrf_ppb"), F.asc("vec_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RRF_TOPK)
        .select("qid", "vec_id", "rrf_ppb", "n_lists",
                F.col("rank").cast("long").alias("rank"))
    )


QUERIES["sim_rrf_fusion"] = sim_rrf_fusion


def _rrf_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE

    return f"""
        WITH ra AS (
            SELECT qid, vec_id,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id
                   ) AS r
            FROM ({_LLM_ORACLE["sim_cosine_topk"]})
        ),
        rb AS (
            SELECT qid, vec_id,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id
                   ) AS r
            FROM ({ORACLE["sim_ivf_trained_topk"]})
        ),
        contribs AS (
            SELECT qid, vec_id, {RRF_SCALE} // ({K_RRF} + r) AS contrib
            FROM ra
            UNION ALL
            SELECT qid, vec_id, {RRF_SCALE} // ({K_RRF} + r) FROM rb
        ),
        fused AS (
            SELECT qid, vec_id, sum(contrib)::BIGINT AS rrf_ppb,
                   count(*)::BIGINT AS n_lists
            FROM contribs GROUP BY 1, 2
        )
        SELECT qid, vec_id, rrf_ppb, n_lists, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY rrf_ppb DESC, vec_id
            )::BIGINT AS rank
            FROM fused
        ) WHERE rank <= {RRF_TOPK}
    """


ORACLE["sim_rrf_fusion"] = _rrf_oracle()


# Round-6: pseudo-relevance feedback (Rocchio-style query expansion).
PRF_FB = 3            # feedback depth: top-3 first-pass docs
PRF_SCALE = 10**6     # integer quantization of embedding coordinates
PRF_TOPK = 5


# The integer-quantized embedding: round(x · PRF_SCALE) per coordinate,
# exact int64 — shared by the Rocchio centroid, both PRF second passes,
# and the integer MIPS cell probe.
_PRF_IVEC = (
    f"transform(embedding, x ->"
    f" cast(round(cast(x as double) * {PRF_SCALE}, 0) as bigint))"
)


def _prf_centroid(
    spark: SparkSession, sf_dir: str, first: DataFrame | None = None
) -> DataFrame:
    """(qid, qv array<bigint>): the Rocchio expanded query — each
    query's top ``PRF_FB`` first-pass neighbors summed coordinate-wise
    after integer quantization (``round(x · 10⁶)`` — exact int64,
    order-independent, so the centroid hashes across engines where a
    float mean would not).  O(queries × dims) slim rows, built for
    BROADCAST into whichever second pass serves the expansion.

    ``first`` (round 12, guide §2.1): callers that already hold the
    first-pass ranking (e.g. a checkpointed relation shared with their
    own output) pass it in, so the centroid never re-derives the
    cosine-topk subtree inside the same plan."""
    from .llmdata import sim_cosine_topk

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if first is None:
        first = sim_cosine_topk(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    fb = (
        first.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= PRF_FB)
        .select("qid", "vec_id")
    )
    return (
        fb.join(emb, "vec_id")
        .select("qid", F.posexplode(F.expr(_PRF_IVEC)).alias("dim", "v"))
        .groupBy("qid", "dim")
        .agg(F.sum("v").alias("qv"))
        .groupBy("qid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, qv))),"
                " s -> s.qv)"
            ).alias("qv")
        )
    )


def sim_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback retrieval (Rocchio 1971 shape): run
    the exact first pass, take each query's top ``PRF_FB`` neighbors as
    implicit relevance feedback, form the EXPANDED query as their
    integer-quantized centroid (:func:`_prf_centroid`), and re-rank the
    corpus by the exact integer inner product against the expanded
    query.  The classic recall lever when the original query vector is
    noisy or off-manifold.

    This is the EXACT rung — the full-corpus ground truth the served
    form (:func:`sim_prf_expand_ivf`) is recall-measured against.

    Scale: the first pass is the engine's existing ranking; the
    centroid is O(queries × dims) and BROADCAST; the re-rank is the
    same map-side broadcast cross join as ``sim_cosine_topk`` — the
    corpus never shuffles, top-k rides WindowGroupLimit."""
    return _prf_rerank_exact(spark, sf_dir, _prf_centroid(spark, sf_dir))


def _prf_rerank_exact(
    spark: SparkSession, sf_dir: str, qcent: DataFrame
) -> DataFrame:
    """The exact PRF second pass given an expanded-query relation —
    split out (round 12, guide §2.1) so multi-leg consumers (shift,
    recall, probe sweep) build the Rocchio centroid ONCE per call and
    share it across their legs instead of re-deriving the cosine-topk
    + centroid chain inside every leg's subtree."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivec = F.expr(_PRF_IVEC)
    scored = (
        emb.select("vec_id", ivec.alias("iv"))
        .crossJoin(F.broadcast(qcent))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(iv, qv, (x, y) -> x * y),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("prf_score"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(
        F.desc("prf_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= PRF_TOPK)
        .select("qid", "vec_id", "prf_score",
                F.col("rank").cast("long").alias("rank"))
    )


QUERIES["sim_prf_expand"] = sim_prf_expand


def _prf_oracle() -> str:
    from .llmdata import EMB_DIM as _D
    from .llmdata import ORACLE as _LLM_ORACLE

    return f"""
        WITH fb AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY cosine DESC, vec_id
                ) AS r
                FROM ({_LLM_ORACLE["sim_cosine_topk"]})
            ) WHERE r <= {PRF_FB}
        ),
        dims AS (SELECT unnest(range(1, {_D} + 1)) AS dim),
        qcent AS (
            SELECT f.qid, d.dim,
                   sum(round(e.embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT)
                       ::BIGINT AS qv
            FROM fb f
            JOIN embeddings e ON e.vec_id = f.vec_id
            CROSS JOIN dims d
            GROUP BY 1, 2
        ),
        corpus AS (
            SELECT vec_id, d.dim,
                   round(embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT AS v
            FROM embeddings CROSS JOIN dims d
        ),
        scored AS (
            SELECT q.qid, c.vec_id,
                   sum(c.v * q.qv)::BIGINT AS prf_score
            FROM qcent q JOIN corpus c USING (dim)
            WHERE c.vec_id <> q.qid
            GROUP BY 1, 2
        )
        SELECT qid, vec_id, prf_score, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY prf_score DESC, vec_id
            )::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {PRF_TOPK}
    """


ORACLE["sim_prf_expand"] = _prf_oracle()


def sim_prf_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much PRF moved the ranking: per query, the overlap between
    the first-pass top-5 and the PRF-expanded top-5 (``n_common``) and
    the count of newly-surfaced candidates (``n_new``) — the standard
    before/after diagnostic a retrieval team reads before enabling
    query expansion (all-common means PRF is a no-op; all-new means the
    feedback set dragged the query off-topic).

    Exact integers over two rankings the engine already serves; one
    outer join + one aggregate.

    Round 12 (guide §2.1): the first-pass ranking is computed ONCE
    (checkpointed — O(queries × k) rows) and feeds both the overlap
    join and the Rocchio centroid, instead of the centroid re-deriving
    the whole cosine-topk subtree inside the PRF leg."""
    from .llmdata import sim_cosine_topk

    first0 = (
        sim_cosine_topk(spark, sf_dir)
        .select("qid", "vec_id", "cosine")
        .localCheckpoint()
    )
    first = first0.select("qid", "vec_id", F.lit(1).alias("in_first"))
    prf = _prf_rerank_exact(
        spark, sf_dir, _prf_centroid(spark, sf_dir, first=first0)
    ).select("qid", "vec_id", F.lit(1).alias("in_prf"))
    return (
        first.join(prf, ["qid", "vec_id"], "full")
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    F.col("in_first").isNotNull()
                    & F.col("in_prf").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("n_common"),
            F.sum(
                F.when(
                    F.col("in_first").isNull()
                    & F.col("in_prf").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("n_new"),
        )
    )


QUERIES["sim_prf_shift"] = sim_prf_shift


def _prf_shift_oracle() -> str:
    from .llmdata import ORACLE as _LLM_ORACLE

    return f"""
        WITH f AS (
            SELECT qid, vec_id FROM ({_LLM_ORACLE["sim_cosine_topk"]})
        ),
        p AS (
            SELECT qid, vec_id FROM ({ORACLE["sim_prf_expand"]})
        )
        SELECT coalesce(f.qid, p.qid) AS qid,
               sum(CASE WHEN f.qid IS NOT NULL AND p.qid IS NOT NULL
                   THEN 1 ELSE 0 END)::BIGINT AS n_common,
               sum(CASE WHEN f.qid IS NULL AND p.qid IS NOT NULL
                   THEN 1 ELSE 0 END)::BIGINT AS n_new
        FROM f FULL OUTER JOIN p
          ON f.qid = p.qid AND f.vec_id = p.vec_id
        GROUP BY 1
    """


ORACLE["sim_prf_shift"] = _prf_shift_oracle()


# Round-7: the PRF second pass SERVED through the trained IVF index
# (round-6 verdict #1 — the exact re-rank was the one serving path that
# wouldn't survive 100×).
PRF_IVF_NPROBE = 2    # probed cells (of the KM_K trained cells)


def sim_prf_expand_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`sim_prf_expand` served at scale: the same Rocchio
    expanded query (:func:`_prf_centroid`), but the second pass probes
    the TRAINED IVF index (``sim_ivf_trained_topk``'s Lloyd cells)
    instead of exact-scoring the corpus.  Because PRF ranks by inner
    product (not L2), cells are probed MIPS-style — ranked by the
    expanded query's inner product with each cell centroid — and the
    probe ranking is EXACT int64 (both the centroid and the cell means
    are quantized by ``round(x · 10⁶)``), so cell selection never rides
    float tie-breaks.  Only vectors assigned to the top
    ``PRF_IVF_NPROBE`` cells are scored, by the same integer inner
    product as the exact rung.

    Scale: centroids are bounded (KM_K rows) and broadcast; the corpus
    leg is the k-means assignment (one narrow Arrow pass, shared with
    every trained rung via ``_trained``) filtered to probed cells —
    the corpus is never fully scored; top-k rides WindowGroupLimit.
    Measured recall vs the exact PRF ranking: ``sim_prf_ivf_recall``
    (docs/SCALE.md)."""
    return _prf_serve_ivf(spark, sf_dir, _prf_centroid(spark, sf_dir))


def _prf_serve_ivf(
    spark: SparkSession, sf_dir: str, qcent: DataFrame
) -> DataFrame:
    """The IVF-served PRF second pass given an expanded-query relation
    (see :func:`_prf_rerank_exact` for why the centroid is a
    parameter)."""
    emb = _emb_corpus(spark, sf_dir)
    cents = _trained("kmeans", spark, sf_dir, _kmeans_train, emb)
    assign = _km_assigned(spark, sf_dir)  # (vec_id, cluster, embedding)
    # cell means quantized by the SAME fixed-scale rounding as the
    # query centroid — Spark round() (HALF_UP) == DuckDB round() (half
    # away from zero) on these non-negative products
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "cluster bigint, c array<double>",
    ).select(
        "cluster",
        F.expr(
            f"transform(c, x -> cast(round(x * {PRF_SCALE}, 0) as bigint))"
        ).alias("ci"),
    )
    pdot = F.expr(
        "aggregate(zip_with(qv, ci, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    wp = Window.partitionBy("qid").orderBy(
        F.desc("pscore"), F.asc("cluster")
    )
    probes = (
        qcent.crossJoin(F.broadcast(cdf))
        .select("qid", "qv", "cluster", pdot.alias("pscore"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= PRF_IVF_NPROBE)
        .select("qid", "qv", "cluster")
    )
    sdot = F.expr(
        "aggregate(zip_with(iv, qv, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    cand = (
        assign.select("vec_id", "cluster", F.expr(_PRF_IVEC).alias("iv"))
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sdot.alias("prf_score"))
    )
    wk = Window.partitionBy("qid").orderBy(
        F.desc("prf_score"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= PRF_TOPK)
        .select("qid", "vec_id", "prf_score",
                F.col("rank").cast("long").alias("rank"))
    )


QUERIES["sim_prf_expand_ivf"] = sim_prf_expand_ivf


def sim_prf_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF-served PRF second pass vs the exact PRF
    ranking — the measured cost of serving the expansion through the
    trained index instead of rescoring the corpus (the same harness
    shape as every other rung's ``*_recall`` twin).

    Round 12 (guide §2.1): both legs ride ONE Rocchio centroid
    (checkpointed — O(queries) slim rows) instead of each leg
    re-deriving the cosine-topk + centroid chain in its own subtree."""
    qc = _prf_centroid(spark, sf_dir).localCheckpoint()
    hits = _prf_serve_ivf(spark, sf_dir, qc).select(
        "qid", "vec_id", F.lit(1).alias("hit")
    )
    return (
        _prf_rerank_exact(spark, sf_dir, qc)
        .select("qid", "vec_id")
        .join(hits, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.round(F.count("hit") / float(PRF_TOPK), 4).alias(
                "recall_at_k"
            )
        )
    )


QUERIES["sim_prf_ivf_recall"] = sim_prf_ivf_recall


def _prf_ivf_oracle() -> str:
    from .llmdata import EMB_DIM as _D
    from .llmdata import ORACLE as _LLM_ORACLE

    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    tail = f"""fb AS MATERIALIZED (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (
                PARTITION BY qid ORDER BY cosine DESC, vec_id
            ) AS r
            FROM ({_LLM_ORACLE["sim_cosine_topk"]})
        ) WHERE r <= {PRF_FB}
    ),
    dims AS (SELECT unnest(range(1, {_D} + 1)) AS dim),
    qcent AS MATERIALIZED (
        SELECT f.qid, d.dim,
               sum(round(e.embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT)
                   ::BIGINT AS qv
        FROM fb f
        JOIN embeddings e ON e.vec_id = f.vec_id
        CROSS JOIN dims d
        GROUP BY 1, 2
    ),
    icent AS (
        SELECT c.cluster, d.dim,
               round(c.c[d.dim] * {PRF_SCALE})::BIGINT AS cv
        FROM c{KM_ITERS} c CROSS JOIN dims d
    ),
    pscore AS (
        SELECT q.qid, ic.cluster, sum(q.qv * ic.cv)::BIGINT AS ps
        FROM qcent q JOIN icent ic USING (dim)
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT qid, cluster FROM (
            SELECT qid, cluster, row_number() OVER (
                PARTITION BY qid ORDER BY ps DESC, cluster) AS rn
            FROM pscore
        ) WHERE rn <= {PRF_IVF_NPROBE}
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    corpus AS (
        SELECT vec_id, d.dim,
               round(embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT AS v
        FROM embeddings CROSS JOIN dims d
    ),
    cand AS (
        SELECT p.qid, a.vec_id, sum(cv.v * q.qv)::BIGINT AS prf_score
        FROM probe p
        JOIN assign a ON a.cluster = p.cluster
        JOIN qcent q ON q.qid = p.qid
        JOIN corpus cv ON cv.vec_id = a.vec_id AND cv.dim = q.dim
        WHERE a.vec_id <> p.qid
        GROUP BY 1, 2
    )
    SELECT qid, vec_id, prf_score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY prf_score DESC, vec_id
        )::BIGINT AS rank
        FROM cand
    ) WHERE rank <= {PRF_TOPK}"""
    return "WITH " + ",\n".join(_kmeans_ctes() + [tail])


ORACLE["sim_prf_expand_ivf"] = _prf_ivf_oracle()

ORACLE["sim_prf_ivf_recall"] = f"""
    SELECT e.qid,
           round(count(a.vec_id) * 1.0 / {PRF_TOPK}, 4) AS recall_at_k
    FROM ({ORACLE["sim_prf_expand"]}) e
    LEFT JOIN ({ORACLE["sim_prf_expand_ivf"]}) a
      ON e.qid = a.qid AND e.vec_id = a.vec_id
    GROUP BY e.qid
"""


PRF_SWEEP_NPROBES = (1, 2, 4)


def sim_prf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning curve for the IVF-SERVED PRF second pass: for
    each probe budget, mean recall@k against the EXACT PRF ranking and
    the exact candidate rows scanned — the recall-vs-scan frontier an
    operator reads before picking the serving nprobe (the PRF analogue
    of ``sim_ivf_probe_sweep``; every served rung in this engine ships
    its tuning curve).

    One centroid build + one integer MIPS probe ranking feed ALL sweep
    points: the candidate relation carries the probe rank, each budget
    filters ``rn <= np`` and re-ranks — no per-budget recompute
    (candidates and the truth are checkpointed, both bounded)."""
    emb = _emb_corpus(spark, sf_dir)
    cents = _trained("kmeans", spark, sf_dir, _kmeans_train, emb)
    assign = _km_assigned(spark, sf_dir)
    # round 12 (guide §2.1): ONE Rocchio centroid (checkpointed,
    # O(queries) rows) feeds the probe ranking, the candidate scan AND
    # the exact-truth leg below — previously the truth leg
    # (sim_prf_expand) re-derived the whole cosine-topk + centroid
    # chain in its own subtree, a second full first-pass per call.
    qcent = _prf_centroid(spark, sf_dir).localCheckpoint()
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "cluster bigint, c array<double>",
    ).select(
        "cluster",
        F.expr(
            f"transform(c, x -> cast(round(x * {PRF_SCALE}, 0) as bigint))"
        ).alias("ci"),
    )
    pdot = F.expr(
        "aggregate(zip_with(qv, ci, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    wp = Window.partitionBy("qid").orderBy(
        F.desc("pscore"), F.asc("cluster")
    )
    max_np = max(PRF_SWEEP_NPROBES)
    probes = (
        qcent.crossJoin(F.broadcast(cdf))
        .select("qid", "qv", "cluster", pdot.alias("pscore"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= max_np)
        .select("qid", "qv", "cluster", "rn")
    )
    sdot = F.expr(
        "aggregate(zip_with(iv, qv, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    cand = (
        assign.select("vec_id", "cluster", F.expr(_PRF_IVEC).alias("iv"))
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "rn", sdot.alias("prf_score"))
        .localCheckpoint()
    )
    truth = (
        _prf_rerank_exact(spark, sf_dir, qcent)
        .select("qid", "vec_id")
        .localCheckpoint()
    )
    parts = []
    for np_ in PRF_SWEEP_NPROBES:
        sub = cand.filter(F.col("rn") <= np_)
        topk = top_k_per_key(
            sub, ["qid"], [F.desc("prf_score"), F.asc("vec_id")], PRF_TOPK
        )
        parts.append(
            ann.recall_frontier(truth, topk)
            .crossJoin(sub.agg(F.count("*").alias("scanned_rows")))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                F.col("hits").alias("matches"),
                "truth_rows", "mean_recall_bp", "scanned_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["sim_prf_probe_sweep"] = sim_prf_probe_sweep


def _prf_probe_sweep_oracle() -> str:
    from .llmdata import EMB_DIM as _D

    dist = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        " i -> (e.embedding[i]::DOUBLE - c.c[i])"
        " * (e.embedding[i]::DOUBLE - c.c[i])))"
    )
    from .llmdata import COSINE_TOPK_CTES as _CTK
    from .llmdata import TOPK_NEIGHBORS as _TOPK

    max_np = max(PRF_SWEEP_NPROBES)
    # The ground-truth feedback CTE splices the FLAT cosine-topk chain
    # (llmdata.COSINE_TOPK_CTES) into this WITH list: a nested
    # `WITH ... ( {sim_cosine_topk} )` body cannot be MATERIALIZED
    # (DuckDB internal "Recursive CTE scan found without recursive CTE
    # node"), which is what kept `fb` outside the round-8 determinism
    # hardening; flat it materializes like every other at-risk CTE.
    tail = f"""{_CTK},
    fb AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (
                PARTITION BY qid ORDER BY cosine DESC, vec_id
            ) AS r
            FROM (SELECT qid, vec_id, round(cos, 6) AS cosine
                  FROM ctk_ranked WHERE rk <= {_TOPK})
        ) WHERE r <= {PRF_FB}
    ),
    dims AS (SELECT unnest(range(1, {_D} + 1)) AS dim),
    qcent AS (
        SELECT f.qid, d.dim,
               sum(round(e.embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT)
                   ::BIGINT AS qv
        FROM fb f
        JOIN embeddings e ON e.vec_id = f.vec_id
        CROSS JOIN dims d
        GROUP BY 1, 2
    ),
    icent AS (
        SELECT c.cluster, d.dim,
               round(c.c[d.dim] * {PRF_SCALE})::BIGINT AS cv
        FROM c{KM_ITERS} c CROSS JOIN dims d
    ),
    pscore AS (
        SELECT q.qid, ic.cluster, sum(q.qv * ic.cv)::BIGINT AS ps
        FROM qcent q JOIN icent ic USING (dim)
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT qid, cluster, rn FROM (
            SELECT qid, cluster, row_number() OVER (
                PARTITION BY qid ORDER BY ps DESC, cluster) AS rn
            FROM pscore
        ) WHERE rn <= {max_np}
    ),
    assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dist}, c.cluster) AS rn
            FROM emb e CROSS JOIN c{KM_ITERS} c
        ) WHERE rn = 1
    ),
    corpus AS (
        SELECT vec_id, d.dim,
               round(embedding[d.dim]::DOUBLE * {PRF_SCALE})::BIGINT AS v
        FROM embeddings CROSS JOIN dims d
    ),
    cand AS (
        SELECT p.qid, a.vec_id, p.rn,
               sum(cv.v * q.qv)::BIGINT AS prf_score
        FROM probe p
        JOIN assign a ON a.cluster = p.cluster
        JOIN qcent q ON q.qid = p.qid
        JOIN corpus cv ON cv.vec_id = a.vec_id AND cv.dim = q.dim
        WHERE a.vec_id <> p.qid
        GROUP BY 1, 2, 3
    ),
    truth AS (
        SELECT qid, vec_id FROM ({ORACLE["sim_prf_expand"]})
    )"""
    parts = []
    for np_ in PRF_SWEEP_NPROBES:
        parts.append(f"""
    SELECT {np_}::BIGINT AS nprobe, m.c AS matches, t.c AS truth_rows,
           (m.c * 10000) // t.c AS mean_recall_bp, s.c AS scanned_rows
    FROM (SELECT count(*)::BIGINT AS c FROM truth tt
          JOIN (
              SELECT qid, vec_id FROM (
                  SELECT qid, vec_id, row_number() OVER (
                      PARTITION BY qid
                      ORDER BY prf_score DESC, vec_id) AS r
                  FROM cand WHERE rn <= {np_}
              ) WHERE r <= {PRF_TOPK}
          ) a ON a.qid = tt.qid AND a.vec_id = tt.vec_id) m
    CROSS JOIN (SELECT count(*)::BIGINT AS c FROM truth) t
    CROSS JOIN (SELECT count(*)::BIGINT AS c FROM cand
                WHERE rn <= {np_}) s""")
    return (
        "WITH " + ",\n".join(_kmeans_ctes() + [tail])
        + "\n UNION ALL ".join(parts)
    )


ORACLE["sim_prf_probe_sweep"] = _prf_probe_sweep_oracle()
