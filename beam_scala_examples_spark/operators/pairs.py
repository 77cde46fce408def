"""The candidate-pair layer: the same-key self-join, the shared-element
overlap count and the Hamming banding, each written once.

Every near-duplicate rung in ``queries/llmdata.py``, the cluster and
label pair joins in ``queries/clustering.py`` and the co-purchase pairs
in ``queries/relational.py`` build their candidate pairs here, and the
streaming views either compose these pieces the same way
(``streaming/neardupview.py``, ``phashview.py``) or call the function
that serves their batch twin (``videodupview.py``, ``winnowview.py``).
So "same key, each unordered pair once, never a row with itself" has
one definition, and one join strategy.

Column contracts: ``on`` is a column name or a list of them (the
bucket key), ``id`` names the column a pair is made of; a relation may
carry any other column, which rides through ``self_pairs`` as ``a.<c>``
and ``b.<c>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def self_pairs(rel: DataFrame, on: str | list[str], id: str) -> DataFrame:
    """``rel`` joined with itself on ``on`` as aliases ``a`` and ``b``,
    keeping each unordered pair once: ``a.<id> < b.<id>``.  A caller
    that wants "earlier" semantics reads ``b`` as the later row and
    ``a`` as the earlier one.

    The cost is the sum over keys of |key|², never all pairs.  The
    ``b`` side is hinted SHUFFLE_HASH: both sides are the same
    relation, so sort-merge's two per-partition sorts buy nothing
    (measured about 20% faster on the shingle join); the
    per-partition hash build is rows / partitions, so size shuffle
    partitions to the corpus (sort-merge spills, a hash build does
    not)."""
    return (
        rel.alias("a")
        .join(rel.alias("b").hint("SHUFFLE_HASH"), on)
        .filter(F.col(f"a.{id}") < F.col(f"b.{id}"))
    )


def overlap_pairs(
    rel: DataFrame,
    on: str,
    id: str,
    names: tuple[str, str, str] = ("id1", "id2", "shared"),
) -> DataFrame:
    """(id1, id2, shared, n1, n2): for each unordered pair of ``id``
    values that share an ``on`` value, how many distinct ``on`` values
    they share and each side's own set size — the exact integers a
    Jaccard, containment or overlap-share verify is computed from.
    ``rel`` is read as the set of its (id, on) rows, so a duplicated
    row counts once.  ``names`` names the two id columns and the shared
    count; the set sizes are ``n1`` and ``n2``."""
    id1, id2, shared = names
    sets = rel.select(id, on).distinct()
    sizes = sets.groupBy(id).agg(F.count("*").alias("n"))
    counts = (
        self_pairs(sets, on, id)
        .groupBy(F.col(f"a.{id}").alias(id1), F.col(f"b.{id}").alias(id2))
        .agg(F.count("*").alias(shared))
    )
    n1 = sizes.select(F.col(id).alias(id1), F.col("n").alias("n1"))
    n2 = sizes.select(F.col(id).alias(id2), F.col("n").alias("n2"))
    return (
        counts.join(n1, id1).join(n2, id2).select(id1, id2, shared, "n1", "n2")
    )


def hamming_bands(
    rel: DataFrame, sig: str, n_bands: int, width: int
) -> DataFrame:
    """``rel`` with one row per (row, band): ``band`` in [0, n_bands)
    and ``bucket``, the band's ``width`` bits of the integer column
    ``sig``.  By pigeonhole, two signatures at most ``n_bands - 1``
    bits apart agree on at least one band, so a self-join on
    (band, bucket) finds every such pair (full recall) without
    comparing all pairs."""
    mask = (1 << width) - 1
    return rel.select(
        "*", F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band")
    ).withColumn("bucket", F.expr(f"shiftright({sig}, band * {width}) & {mask}"))
