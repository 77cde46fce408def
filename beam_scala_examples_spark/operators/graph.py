"""Distributed connected components (duplicate-cluster resolution).

Min-label propagation with **pointer jumping**: each round first takes
the minimum label over graph neighbors (propagate), then shortcuts
``label(v) <- label(label(v))`` (jump).  Propagation alone needs
O(diameter) shuffle rounds — a 100-link near-dup chain would take 100
rounds at 100 TB; the jump step halves the remaining pointer depth each
round, bounding the loop at O(log diameter) rounds (the simple variant
of the large-star/small-star MapReduce scheme, Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond").  Labels are always doc
ids inside the same component (the min over a set of member ids is a
member id), so the jump's label-of-label lookup is a self-join on the
label relation, never on the corpus.

Per-round cost: one edge-label shuffle join + one label self-join, both
keyed on high-cardinality ids, and one checkpoint action.  The first
round needs no label join: every node starts as its own label, so its
propagate is ``least(doc_id, min(doc2))`` from one ``groupBy(doc1)``
over the edges, and that round's checkpoint also materializes the edge
layout (a lazy ``repartition("doc2").persist()`` that AQE sizes, about
1 MiB per partition).  Convergence costs no job of its own: the count
of labels that moved is an ``observe()`` on the round's checkpoint
action (``metrics.observe``, Beam's ``Metrics`` read from the running
pipeline).  Each round's labels are
``localCheckpoint``-ed: persist alone leaves the logical plan growing
~4× per round (the labels relation appears in the propagate join, the
least(), and the jump self-join), which overflows Catalyst's tree
walker after a handful of rounds — checkpointing truncates lineage to
the materialized result, the standard discipline for iterative Spark
algorithms (superseded rounds are dropped by the ContextCleaner once
unreferenced).  ``tests/test_properties.py`` pins the logarithmic round
count on a diameter-100 chain and the jobs per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..metrics import counter, observe


def edge_layout(edges: DataFrame, key: str) -> tuple[DataFrame, int]:
    """``edges`` hash-partitioned on ``key`` and persisted, with the
    width it got: about 50k rows per partition, capped at the session
    parallelism, so one iterative operator lays out a 100 TB graph wide
    and a graph of a few thousand edges narrow — its per-round stages
    then pay a handful of tasks, not one per core (measured at sf0.1:
    the pHash component resolve ran about 2x faster).  Its callers are
    ``pagerank_int`` and ``relational._pagerank_pairs``, whose edge
    lists are read once per iteration; ``connected_components`` lets
    its first round materialize its layout instead.

    The width probe counts a persisted staging copy, so the caller's
    edge pipeline is evaluated once, not once for the probe and again
    for the layout; the staging copy is released once the layout is
    materialized off it.  The caller unpersists the result."""
    staged = edges.persist()
    n_edges = staged.count()
    np_ = max(
        1,
        min(edges.sparkSession.sparkContext.defaultParallelism,
            n_edges // 50_000 + 1),
    )
    laid = staged.repartition(np_, key).persist()
    laid.count()  # materialize the layout from the staging cache
    staged.unpersist(blocking=False)
    return laid, np_


def connected_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """``pairs`` (doc1, doc2) = undirected duplicate edges.  Returns
    (labels, rounds): labels has one row per node appearing in any pair,
    ``component`` = minimum doc_id reachable from it.  The returned
    DataFrame is backed by a ``localCheckpoint`` — already materialized,
    cheap to re-consume; its storage (like each superseded round's) is
    released by the ContextCleaner once the DataFrame is unreferenced,
    NOT by ``unpersist()`` (a no-op on checkpointed frames) — callers
    manage lifetime by dropping references."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
    )
    # lazy: round 1's checkpoint materializes the layout, at the width
    # AQE coalesces it to
    edges = edges.repartition("doc2").persist()
    rounds = 0
    while True:
        rounds += 1
        if rounds == 1:
            # fused first round: every node starts as its own label, so
            # the neighbor minimum is min(doc2) and needs no label join
            # (the edges are symmetric: every node is some doc1)
            prop = edges.groupBy(F.col("doc1").alias("doc_id")).agg(
                F.least(F.col("doc_id"), F.min("doc2")).alias("component"),
                F.col("doc_id").alias("prev"),
            )
        else:
            neighbor_min = (
                edges.join(labels, edges.doc2 == labels.doc_id)
                .groupBy(F.col("doc1").alias("doc_id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            # carry the round-start label as `prev` so convergence is
            # counted on the round's own checkpoint, not an extra join
            prop = labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
                F.col("component").alias("prev"),
            )
        # read twice by the jump; lazy — materialized once, inside the
        # checkpoint below
        prop = prop.persist()
        # pointer jump: label(v) <- label(label(v)); the looked-up node
        # is always present (labels are member doc ids)
        parent = prop.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        jumped = prop.join(parent, prop.component == parent.p_id, "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("p_comp", "component")
            ).alias("component"),
            "prev",
        )
        obs = Observation()
        jumped = observe(
            jumped, obs, counter(F.col("component") != F.col("prev"), "changed")
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"]
        prop.unpersist(blocking=False)
        labels = jumped.select("doc_id", "component")
        if changed == 0:
            break
    edges.unpersist(blocking=False)
    return labels, rounds


def pagerank_int(
    edges: DataFrame,
    iters: int,
    scale: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
    prepartitioned: bool = False,
) -> DataFrame:
    """PageRank in exact integer fixed point (per-node normalization:
    every node starts with ``scale`` units; classic PR times N).

    ``edges`` is directed (src, dst) — pass both directions for an
    undirected graph.  Every arithmetic step is integer (contribution =
    rank DIV out-degree; damping = ``damp_num * sum DIV damp_den``), so
    the result is bit-identical across engines, partitionings and
    reruns — no float summation anywhere, the same determinism rule as
    the cents/k-means fixed-point paths.  Nodes are the edge sources
    (an undirected graph has deg >= 1 everywhere, so no dangling-mass
    term).

    Per iteration: the EDGE list never re-shuffles — it is hash-
    partitioned by src once and persisted (its in-memory partitioning
    satisfies the join's distribution requirement), so each round
    exchanges the O(nodes) per-source rank relation onto it, then sums
    contributions per dst with map-side partial combine.  Ranks are
    ``localCheckpoint``-ed per round (see module docstring for why).
    At 100 TB this is the iterate-on-the-small-side discipline: the
    O(edges) shuffle is paid once at setup; each round's network is the
    rank relation in plus the partially-combined contribution sums out
    — O(nodes × partitions), never the raw edge list.
    """
    # ``prepartitioned=True``: the caller hands in an edge list already
    # hash-partitioned by src and persisted (e.g. a session memo shared
    # across calls — round 9); its width and lifecycle belong to the
    # caller.
    e = edges if prepartitioned else edge_layout(edges, "src")[0]
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"))
    base = (scale * (damp_den - damp_num)) // damp_den
    ranks = nodes.withColumn(
        "rank", F.lit(scale).cast("long")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        # per-source outgoing contribution: O(nodes) rows, node-keyed
        per_src = (
            ranks.withColumnRenamed("node", "src")
            .join(deg, "src")
            .select("src", F.expr("rank DIV deg").alias("c"))
        )
        contribs = (
            e.join(per_src, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"{damp_num} * coalesce(s, 0L) DIV {damp_den}"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    if not prepartitioned:
        e.unpersist()
    return ranks
