"""The vector-retrieval core: the trained-cell IVF serve, the PQ
asymmetric-distance scan, the exact cosine scan and shortlist re-rank,
the top-k and the recall frontier, each written once.

Every ANN rung in ``queries/clustering.py`` and ``queries/llmdata.py``
composes these pieces, and every streaming index view either composes
them the same way (``streaming/ivfview.py``, ``ivfretrain.py``,
``mrlview.py``) or calls the function that serves its batch twin
(``bqview.py``, ``sq8view.py``, ``graphview.py``, ``rangewatch.py``),
so a streamed view equals its batch twin because both run this code.

Column contracts:

- a **corpus** is ``(vec_id, embedding, nrm)``, ``nrm`` the squared
  norm ``NORM``, plus ``cluster`` (the trained cell) for the IVF serve.
  Any other column is a tag: it rides through to the output, and a
  top-k or frontier may rank per tag (``legs``);
- the **queries** are ``(qid, qe, qnorm)`` (``query_frame``);
- a **scored** relation is ``(tags..., qid, vec_id, cos)`` with the
  house cosine ``DOT(qe, embedding) / sqrt(qnorm * nrm)``; a query is
  never its own neighbour;
- **PQ codes** are ``(vec_id, m, pqc)``, the codeword id per subspace,
  or ``(qid, vec_id, m, pqc)`` when already restricted per query (the
  probed cells); a **codebook** maps each subspace ``m`` to its
  ``(pqc, codeword)`` list.

The predicate is the caller's: a filtered serve restricts (semi join)
or tags (inner join) the corpus before the call, so nothing here
branches on who calls it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .topk import top_k_per_key

# Dot product of two array columns, a left-to-right double fold (the
# oracles' list_sum over the same order).
DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
NORM = DOT.format(a="embedding", b="embedding")

# Squared L2 from a query to a centroid, the metric the quantizer
# assigns with.
_L2 = (
    "aggregate(zip_with(qe, c,"
    " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
_CORPUS = ("vec_id", "cluster", "embedding", "nrm")

# The PQ lookup-table folds: a query's m-th sub-vector dotted with a
# codeword, and the codeword's squared norm (the oracles' list_sum over
# the same order).
_SUB_DOT = (
    "aggregate(zip_with(slice(qe, m * {sub} + 1, {sub}), c,"
    " (x, y) -> cast(x as double) * y),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
_C_NORM = (
    "aggregate(zip_with(c, c, (x, y) -> x * y),"
    " cast(0 as double), (acc, v) -> acc + v)"
)


def query_frame(base: DataFrame, pred: Column) -> DataFrame:
    """(qid, qe, qnorm): the rows of a corpus ``base`` that ``pred``
    selects, as queries."""
    return base.filter(pred).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnorm"),
    )


def ivf_probes(
    queries: DataFrame, centroids: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """(qid, qe, qnorm, cluster, probe): each query's ``nprobe`` nearest
    centroids by squared L2, ties to the lower cluster id; ``probe`` is
    the rank, 1 for the nearest."""
    cdf = queries.sparkSession.createDataFrame(
        [(cid, vec) for cid, vec in centroids],
        "cluster bigint, c array<double>",
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cluster"))
    return (
        queries.crossJoin(F.broadcast(cdf))
        .select("qid", "qe", "qnorm", "cluster", F.expr(_L2).alias("d2"))
        .withColumn("probe", F.row_number().over(w))
        .filter(F.col("probe") <= nprobe)
        .drop("d2")
    )


def cosine() -> Column:
    """``cos``: the house cosine of a (qe, qnorm) x (embedding, nrm) pair."""
    return (
        F.expr(DOT.format(a="qe", b="embedding"))
        / F.sqrt(F.col("qnorm") * F.col("nrm"))
    ).alias("cos")


def pair_cosine() -> Column:
    """``cos``: the house cosine of a self-pair row, (a.embedding, a.nrm)
    x (b.embedding, b.nrm)."""
    return (
        F.expr(DOT.format(a="a.embedding", b="b.embedding"))
        / F.sqrt(F.col("a.nrm") * F.col("b.nrm"))
    ).alias("cos")


def sign_bucket(dims: list[int]) -> Column:
    """Hyperplane-sign bucket of ``embedding``: bit ``j`` is set iff the
    1-based dimension ``dims[j]`` is positive."""
    return sum(
        (
            F.when(F.element_at("embedding", d) > 0, F.lit(1 << j))
            .otherwise(F.lit(0))
            for j, d in enumerate(dims)
        ),
        start=F.lit(0),
    ).cast("long")


def ivf_scan(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
) -> DataFrame:
    """(tags..., qid, vec_id, probe, cos): the trained-cell IVF serve.
    Only corpus rows inside one of the query's probed cells are scored;
    the probed centroid set is broadcast into the cell equi-join, so the
    corpus never shuffles for it."""
    tags = [c for c in corpus.columns if c not in _CORPUS]
    return (
        corpus.join(
            F.broadcast(ivf_probes(queries, centroids, nprobe)), "cluster"
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .select(*tags, "qid", "vec_id", "probe", cosine())
    )


def exact_scan(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """(tags..., qid, vec_id, cos): every corpus row scored against every
    query, the queries broadcast into one pass over the corpus."""
    tags = [c for c in corpus.columns if c not in _CORPUS]
    return (
        corpus.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(*tags, "qid", "vec_id", cosine())
    )


def rerank_scan(
    corpus: DataFrame, queries: DataFrame, cands: DataFrame
) -> DataFrame:
    """(tags..., qid, vec_id, cos): a ``(qid, vec_id, tags...)``
    candidate relation (a shortlist, LSH mates, a graph frontier)
    scored exactly, row for row as given — the candidates decide
    whether a query's own row is among them.  Only candidate rows
    reach the float vectors; tags such as a shortlist rank ride
    through.  The candidate join is the planner's choice: a shortlist
    or graph frontier is bounded by queries × budget and broadcasts
    at its size, but LSH mates grow with the corpus, so nothing forces
    them onto every executor.  The queries are bounded and broadcast."""
    tags = [c for c in cands.columns if c not in ("qid", "vec_id")]
    return (
        corpus.select("vec_id", "embedding", "nrm")
        .join(cands, "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(*tags, "qid", "vec_id", cosine())
    )


def adc_scan(
    codes: DataFrame,
    queries: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    scale: int,
) -> DataFrame:
    """(qid, vec_id, adc_cos): the PQ asymmetric-distance scan.  Per
    (query, subspace, codeword) the lookup table holds the partial dot
    and the codeword norm as ``round(v * scale)`` longs, so the M-term
    sums are exact integers whatever the partial-aggregation order;
    the table is broadcast into the code relation, which is all the
    corpus contributes (no float vector is read).  Codes that carry
    ``qid`` join on it too, so only the rows already restricted to a
    query are scored."""
    sub = len(codebook[0][0][1])
    cdf = queries.sparkSession.createDataFrame(
        [(m, cid, vec) for m, lst in codebook.items() for cid, vec in lst],
        "m int, pqc bigint, c array<double>",
    )
    lut = queries.crossJoin(cdf).select(
        "qid",
        "qnorm",
        "m",
        "pqc",
        F.round(F.expr(_SUB_DOT.format(sub=sub)) * scale, 0)
        .cast("long")
        .alias("dotl"),
        F.round(F.expr(_C_NORM) * scale, 0).cast("long").alias("cnorml"),
    )
    keys = [c for c in ("qid", "m", "pqc") if c in codes.columns]
    s = float(scale)
    return (
        codes.join(F.broadcast(lut), keys)
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "qnorm", "vec_id")
        .agg(F.sum("dotl").alias("dl"), F.sum("cnorml").alias("nl"))
        .select(
            "qid",
            "vec_id",
            ((F.col("dl") / s) / F.sqrt(F.col("qnorm") * (F.col("nl") / s)))
            .alias("adc_cos"),
        )
    )


def top_cosine(
    scored: DataFrame, k: int, legs: Sequence[str] = ()
) -> DataFrame:
    """The ``k`` highest-cosine rows per (legs..., qid), ties to the
    lower vec_id; the rank rides WindowGroupLimit."""
    return top_k_per_key(
        scored, [*legs, "qid"], [F.desc("cos"), F.asc("vec_id")], k
    )


def recall_frontier(
    truth: DataFrame, topk: DataFrame, legs: Sequence[str] = ()
) -> DataFrame:
    """(legs..., hits, truth_rows, mean_recall_bp): how many ``truth``
    (legs..., qid, vec_id) rows the leg-tagged ``topk`` found, and that
    share in integer basis points.  Without legs the result is one row,
    0 when the truth is empty."""
    keys = [*legs, "qid", "vec_id"]
    return (
        truth.join(topk.select(*keys, F.lit(1).alias("hit")), keys, "left")
        .groupBy(*legs)
        .agg(F.count("hit").alias("hits"), F.count("*").alias("truth_rows"))
        .withColumn(
            "mean_recall_bp",
            F.expr("if(truth_rows = 0, 0L, (hits * 10000) div truth_rows)"),
        )
    )
