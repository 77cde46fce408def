"""AutoComplete (SURVEY §2.12 Q5): top-K completions per prefix.

Reference: ``complete/AutoComplete.scala:54-435`` — hashtag extraction
(P9), all-prefix expansion (P11), ``Top.largestPerKey(10)`` with hot-key
fanout (T2) and a recursive variant (T3).

Spark-first: count words once, explode prefixes of the *aggregated*
dictionary (so prefix expansion multiplies the small word-count relation,
never the corpus), then a rank-per-prefix.  Spark's WindowGroupLimit
applies the top-K limit before the shuffle, which is the built-in
replacement for the reference's hand-rolled fanout (SURVEY §4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import all_prefixes, tokenize
from ..operators.topk import top_k_per_key
from ..session import hold
from ..tables import load

TOP_K = 3  # reference default is 10; fixture vocabulary is small


def q05_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per prefix (len >= 1): top-K words by (count desc, word desc) —
    the ordering of ``CompletionCandidate.compare``
    (``complete/AutoComplete.scala:341-345``)."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        tokenize(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    prefixed = all_prefixes(counts, "word")
    return top_k_per_key(
        prefixed,
        ["prefix"],
        [F.desc("cnt"), F.desc("word")],
        TOP_K,
    ).select("prefix", "word", "cnt")


def q05_autocomplete_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18 + P19: the reference partitions its top-K output in two by
    prefix length (``Partition.of(2, KeySizePartitionFn)``,
    ``complete/AutoComplete.scala:268-276,293``) and flattens the branches
    back (``:310,317``). Spark shape: two filters on one subplan +
    ``unionByName``; AQE stage reuse dedupes the shared top-K subtree."""
    base = q05_autocomplete(spark, sf_dir)
    small = base.filter(F.length("prefix") == 1).withColumn(
        "branch", F.lit("small")
    )
    large = base.filter(F.length("prefix") > 1).withColumn(
        "branch", F.lit("large")
    )
    return small.unionByName(large)


def q05_autocomplete_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — the reference's *recursive* top-K
    (``complete/AutoComplete.scala:263-321``, "cheaper but higher
    latency"), output identical to flat ``q05_autocomplete`` (same
    oracle).

    Invariant (``AutoComplete.scala:296-298``): if a candidate is in the
    top K for prefix ``a…b`` it must be in the top K for ``a…bX`` —so
    level L's candidate set is level L+1's *winners* (≤ K rows per
    (L+1)-prefix, each word under exactly one prefix) plus the words of
    length exactly L, instead of every word with length ≥ L.  The driver
    loops over prefix lengths (bounded by the longest token, not by data
    volume); each level is one small hash-shuffle + WindowGroupLimit
    top-K, persisted so lineage stays shallow.  At 100 TB the flat form's
    single wide shuffle usually wins (SURVEY §2.5 keeps it the default);
    this form trades 1 shuffle of |words|·|lens| rows for max_len
    shuffles of ≤ K·|prefixes_L| rows — the reference's documented
    latency/cost tradeoff, useful when the prefix fan-out dominates.
    """
    # the dictionary and every level stay persisted until the next call
    levels = hold(
        "minhash/autocomplete_levels", lambda: _recursive_levels(spark, sf_dir)
    )[1:]
    if not levels:
        return spark.createDataFrame([], "prefix string, word string, cnt long")
    return reduce(DataFrame.unionByName, levels)


def _recursive_levels(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The persisted word dictionary, then each level's persisted top-K
    from the longest prefix length down to 1."""
    docs = load(spark, sf_dir, "documents")
    # Round 11 (guide §2.1): every level's ``exact`` branch re-derived
    # the tokenize + groupBy dictionary from the corpus (max_len parquet
    # scans — 44 in the before-plan); the aggregated dictionary is
    # O(vocab) small, so pin it once per call.
    counts = (
        tokenize(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    max_len = counts.agg(F.max(F.length("word"))).first()[0] or 0

    persisted: list[DataFrame] = [counts]
    tops: DataFrame | None = None  # winners at level L+1
    for level_len in range(max_len, 0, -1):
        exact = counts.filter(F.length("word") == level_len)
        cand = exact if tops is None else tops.select("word", "cnt").unionByName(exact)
        level = (
            top_k_per_key(
                cand.select(
                    F.substring("word", 1, level_len).alias("prefix"), "word", "cnt"
                ),
                ["prefix"],
                [F.desc("cnt"), F.desc("word")],
                TOP_K,
            )
            .select("prefix", "word", "cnt")
            .persist()
        )
        persisted.append(level)
        tops = level
    return persisted


QUERIES = {
    "q05_autocomplete": q05_autocomplete,
    "q05_autocomplete_branches": q05_autocomplete_branches,
    "q05_autocomplete_recursive": q05_autocomplete_recursive,
}

ORACLE = {
    "q05_autocomplete": rf"""
        WITH words AS (
            SELECT unnest(regexp_split_to_array(text, '[^\p{{L}}]+')) AS word
            FROM documents
        ),
        counts AS (
            SELECT word, count(*)::BIGINT AS cnt FROM words
            WHERE word <> '' GROUP BY word
        ),
        lens AS (
            SELECT word, cnt, unnest(generate_series(1, len(word))) AS i
            FROM counts
        ),
        pref AS (SELECT substr(word, 1, i) AS prefix, word, cnt FROM lens),
        ranked AS (
            SELECT prefix, word, cnt,
                   row_number() OVER (PARTITION BY prefix
                                      ORDER BY cnt DESC, word DESC) AS rk
            FROM pref
        )
        SELECT prefix, word, cnt FROM ranked WHERE rk <= {TOP_K}
    """,
}

ORACLE["q05_autocomplete_recursive"] = ORACLE["q05_autocomplete"]

ORACLE["q05_autocomplete_branches"] = rf"""
        WITH words AS (
            SELECT unnest(regexp_split_to_array(text, '[^\p{{L}}]+')) AS word
            FROM documents
        ),
        counts AS (
            SELECT word, count(*)::BIGINT AS cnt FROM words
            WHERE word <> '' GROUP BY word
        ),
        lens AS (
            SELECT word, cnt, unnest(generate_series(1, len(word))) AS i
            FROM counts
        ),
        pref AS (SELECT substr(word, 1, i) AS prefix, word, cnt FROM lens),
        ranked AS (
            SELECT prefix, word, cnt,
                   row_number() OVER (PARTITION BY prefix
                                      ORDER BY cnt DESC, word DESC) AS rk
            FROM pref
        )
        SELECT prefix, word, cnt,
               CASE WHEN len(prefix) = 1 THEN 'small' ELSE 'large' END AS branch
        FROM ranked WHERE rk <= {TOP_K}
    """
