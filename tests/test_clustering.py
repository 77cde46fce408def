"""K-means: partitioning-independence and plan shape.

Oracle parity at sf0.01 lives in the driver gate / ``test_parity.py``;
here we pin the property that makes the parity stable — the fixed-point
centroid sums make the final assignment identical under a different
partitioning — and that the assignment pass is narrow (literal
centroids, no join).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from beam_scala_examples_spark.queries import QUERIES
from beam_scala_examples_spark.queries.clustering import (
    KM_ITERS, KM_K, KM_SCALE, _assign, _emb_corpus, _kmeans_train,
    _lloyd_partials,
)
from beam_scala_examples_spark.queries.llmdata import EMB_DIM
from beam_scala_examples_spark.session import clear_session_memos
from tests.test_plans import plan_str


def test_kmeans_partitioning_independent(spark, sf_dir):
    base = {
        (r.vec_id, r.cluster)
        for r in QUERIES["emb_kmeans"](spark, sf_dir).collect()
    }
    # The batch width: with AQE on, shuffles start at initialPartitionNum.
    # The training and the assignment are session memos, so drop them
    # for the rerun to train at the other width.
    width = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev = spark.conf.get(width)
    memos = [
        "kmeans_corpora/corpus",
        "kmeans_corpora/kmassign",
        "trained_codebooks/kmeans",
    ]
    try:
        spark.conf.set(width, "7")
        clear_session_memos(memos)
        other = {
            (r.vec_id, r.cluster)
            for r in QUERIES["emb_kmeans"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set(width, prev)
        clear_session_memos(memos)
    assert base == other
    assert len({c for _, c in base}) <= KM_K


def test_kmeans_assignment_is_narrow(spark, sf_dir):
    """The final assignment plan must not contain any join operator —
    centroids ride in the kernel closure.  The only Exchange allowed is
    the one-time repartition *inside* the cached corpus relation (spreads
    a single parquet file across the cluster once); everything above the
    InMemoryTableScan must be a narrow Arrow-vectorized map — a
    MapInPandas, which keeps no queue of input rows on the JVM side as a
    pandas_udf (ArrowEvalPython) does."""
    p = plan_str(QUERIES["emb_kmeans"](spark, sf_dir))
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in p
    assert "MapInPandas" in p           # vectorized, not row-at-a-time
    assert "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    above_cache = p.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in above_cache  # assignment reads the cache
    assert "Exchange" not in above_cache  # narrow above the cached corpus


def test_lloyd_step_is_narrow(spark, sf_dir):
    """A Lloyd step assigns and sums inside one Arrow map over the
    cached corpus: no Exchange above the InMemoryRelation."""
    emb = _emb_corpus(spark, sf_dir)
    init = emb.orderBy("vec_id").limit(KM_K).collect()
    cents = [(cid, list(r.embedding)) for cid, r in enumerate(init)]
    p = plan_str(_lloyd_partials(emb, [cents], EMB_DIM))
    above_cache = p.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in above_cache
    assert "MapInPandas" in above_cache
    assert "Exchange" not in above_cache


def _posexplode_kmeans(emb):
    """The Lloyd recompute as a posexplode -> (cluster, dim) shuffle
    aggregate: the reference the in-kernel sums must equal."""
    init = emb.orderBy("vec_id").limit(KM_K).collect()
    cents = [(cid, [float(v) for v in r.embedding]) for cid, r in enumerate(init)]
    q = F.round(F.col("val").cast("double") * KM_SCALE, 0).cast("long")
    for _ in range(KM_ITERS):
        sums = (
            _assign(emb, cents)
            .select("cluster", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum(q).alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        nxt: dict[int, list[float]] = {}
        for r in sums:
            vec = nxt.setdefault(int(r.cluster), [0.0] * EMB_DIM)
            vec[int(r.dim)] = r.s / (r.cnt * float(KM_SCALE))
        cents = sorted(nxt.items())
    return cents


def test_kmeans_train_matches_shuffle_recompute(spark, sf_dir):
    """The in-kernel partial sums give the same centroids, bit for bit,
    as the shuffle aggregate of the same fixed-point longs."""
    emb = _emb_corpus(spark, sf_dir)
    got = _kmeans_train(emb)
    want = _posexplode_kmeans(emb)
    assert [c for c, _ in got] == [c for c, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == b  # float equality: exact, not approximate


def test_kmeans_train_job_count(spark, sf_dir, count_jobs):
    """Training on the materialized corpus runs the init plus one job
    per Lloyd iteration (7 jobs when each step was an assign, a shuffle
    aggregate and a collect)."""
    emb = _emb_corpus(spark, sf_dir)
    emb.count()
    _, jobs = count_jobs(lambda: _kmeans_train(emb))
    assert 0 < jobs <= KM_ITERS + 2, f"{jobs} jobs"


def test_bq_recall_beats_single_table_lsh(spark, sf_dir):
    """The sign-bit Hamming RANKING (sim_bq_topk) must recall more of
    the exact top-k than single-table bucket pruning (sim_lsh_recall's
    measured ~0.02): ranking the whole corpus by 63 sign bits cannot
    lose a neighbor to bucket membership, only to shortlist depth."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_bq_recall, sim_lsh_recall,
    )

    bq = [r.recall_at_k for r in sim_bq_recall(spark, sf_dir).collect()]
    lsh = [r.recall_at_k for r in sim_lsh_recall(spark, sf_dir).collect()]
    assert sum(bq) / len(bq) > sum(lsh) / len(lsh)
    assert sum(bq) / len(bq) >= 0.5


def test_matryoshka_frontier_monotone_with_exact_ceiling(spark, sf_dir):
    """The dimension-budget frontier must be non-decreasing in the
    budget and exactly 10000 bp at the full dimension (prefix-64 IS
    the ground-truth metric)."""
    from beam_scala_examples_spark.queries.llmdata import (
        EMB_DIM, sim_matryoshka_recall,
    )

    rows = sorted(
        (r.dim_budget, r.mean_recall_bp)
        for r in sim_matryoshka_recall(spark, sf_dir).collect()
    )
    vals = [v for _, v in rows]
    assert vals == sorted(vals)
    assert rows[-1] == (EMB_DIM, 10000)


def test_matryoshka_structured_frontier_beats_random_floor(spark, sf_dir):
    """On MRL-structured embeddings (deterministic leading-dim energy
    decay) the prefix budgets must be MATERIALLY informative — recall
    at every sub-full budget strictly above the random-embedding
    frontier at the same budget, climbing to exactly 10000 bp at the
    full dimension (round-9 verdict item 8: the random fixture's flat
    curve demonstrated the measurement, not the operator)."""
    from beam_scala_examples_spark.queries.llmdata import (
        EMB_DIM,
        sim_matryoshka_recall,
        sim_matryoshka_recall_structured,
    )

    structured = dict(
        (r.dim_budget, r.mean_recall_bp)
        for r in sim_matryoshka_recall_structured(spark, sf_dir).collect()
    )
    random_floor = dict(
        (r.dim_budget, r.mean_recall_bp)
        for r in sim_matryoshka_recall(spark, sf_dir).collect()
    )
    vals = [structured[d] for d in sorted(structured)]
    assert vals == sorted(vals), "frontier must be non-decreasing"
    assert structured[EMB_DIM] == 10000
    for d in sorted(structured)[:-1]:
        assert structured[d] >= random_floor[d] + 2000, (
            d, structured[d], random_floor[d]
        )


def test_bq_budget_frontier_monotone(spark, sf_dir):
    """Deeper Hamming shortlists can only add candidates, so the
    budget-sweep recall must be non-decreasing, and the largest budget
    must match or beat the registered sim_bq_topk's shortlist point."""
    from beam_scala_examples_spark.queries.llmdata import (
        BQ_SHORTLIST, sim_bq_budget_sweep,
    )

    rows = sorted(
        (r.shortlist, r.mean_recall_bp)
        for r in sim_bq_budget_sweep(spark, sf_dir).collect()
    )
    vals = [v for _, v in rows]
    assert vals == sorted(vals)
    at_default = dict(rows)[BQ_SHORTLIST]
    assert dict(rows)[max(dict(rows))] >= at_default


def test_quantization_ladder_fidelity_ordering(spark, sf_dir):
    """The quantization rungs must grade in their designed fidelity
    order: int8 scalar quantization (64 B/vec) >= 1-bit sign
    signatures (8 B/vec) >= single-table LSH bucket pruning, and SQ8
    must sit near the exact ceiling (it keeps 8 bits/dim of the
    geometry; measured 1.0 / 0.64 / 0.02 at sf0.01)."""
    from pyspark.sql import functions as F

    from beam_scala_examples_spark.queries.llmdata import (
        sim_bq_recall,
        sim_lsh_recall,
        sim_sq8_recall,
    )

    def mean(fn):
        return fn(spark, sf_dir).agg(F.avg("recall_at_k")).first()[0]

    sq8, bq, lsh = (
        mean(sim_sq8_recall), mean(sim_bq_recall), mean(sim_lsh_recall)
    )
    assert sq8 >= bq >= lsh
    assert sq8 >= 0.9


def test_sq_bits_frontier_monotone_with_exact_ceiling(spark, sf_dir):
    """The bit-budget frontier must be non-decreasing in bits/dim and
    reach the exact ceiling by 8 bits; together with the 1-bit BQ
    point it is the full storage/fidelity ladder (measured at sf0.01:
    1b 6400 < 2b 8000 < 3b 9800 < 4b/8b 10000 bp)."""
    from beam_scala_examples_spark.queries.llmdata import (
        sim_sq_bits_sweep,
    )

    rows = sorted(
        (r.bits, r.mean_recall_bp)
        for r in sim_sq_bits_sweep(spark, sf_dir).collect()
    )
    vals = [v for _, v in rows]
    assert vals == sorted(vals), "recall must not fall as bits grow"
    assert rows[-1][1] >= 9900


def test_filtered_selectivity_frontier_ordering(spark, sf_dir):
    """Hybrid-search selectivity frontier: the LEAST selective
    predicate (most allowed rows) must retain at least the recall of
    the MOST selective one — tighter predicates can only push allowed
    neighbors into unprobed cells, never pull them in.  Also pins the
    frontier's shape fields: full truth rows per leg (the truth is
    always top-k-deep on this fixture) and allowed_rows matching the
    documents lang counts."""
    from beam_scala_examples_spark.queries.clustering import (
        sim_filtered_selectivity_sweep,
    )
    from beam_scala_examples_spark.tables import load

    rows = {
        r.lang: r
        for r in sim_filtered_selectivity_sweep(spark, sf_dir).collect()
    }
    widest = max(rows.values(), key=lambda r: r.allowed_rows)
    narrowest = min(rows.values(), key=lambda r: r.allowed_rows)
    assert widest.mean_recall_bp >= narrowest.mean_recall_bp
    counts = {
        r["lang"]: r["n"]
        for r in load(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, r in rows.items():
        assert r.allowed_rows == counts[lang]
        assert 0 < r.mean_recall_bp <= 10000
