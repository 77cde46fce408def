"""Text operators: tokenizers and prefix expansion.

The reference keeps *different* tokenizers per pipeline (SURVEY §2.11-N6):
wordcount splits on ``[^\\p{L}]+`` (``common/ExampleUtils.java:75``),
TF-IDF on ``\\W+`` lowercased (``complete/TfIdf.scala:308,315``),
AutoComplete extracts ``#\\S+`` hashtags (``complete/AutoComplete.scala:353``).
Each stays JVM-side (explode + split), never a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tokenizer patterns (shared with the DuckDB oracle; RE2 and Java regex
# agree on these classes for the fixture alphabet).
WORD_SEP = r"[^\p{L}]+"      # wordcount family (ExampleUtils.java:75)
NONWORD_SEP = r"\W+"          # TF-IDF (TfIdf.scala:308)


def tokenize(df: DataFrame, col: str, *, pattern: str = WORD_SEP,
             lowercase: bool = False, out: str = "word") -> DataFrame:
    """line -> one row per non-empty token (P1, ``WordCount.scala:72-88``).

    explode(split(...)) keeps the whole pipeline inside whole-stage
    codegen; the empty-token filter mirrors ``MinimalWordCount.scala:43-45``.
    """
    c: Column = F.col(col)
    if lowercase:
        c = F.lower(c)
    return (
        df.select(F.explode(F.split(c, pattern)).alias(out))
        .filter(F.col(out) != "")
    )


def all_prefixes(df: DataFrame, col: str, *, min_prefix: int = 1,
                 out: str = "prefix") -> DataFrame:
    """word -> (prefix, word) for every prefix length >= min_prefix
    (P11, ``complete/AutoComplete.scala:324-333``).

    Pure JVM expression: sequence + transform + explode — a UDTF shape
    with no Python in the loop.
    """
    return df.withColumn(
        out,
        F.explode(
            F.expr(
                f"transform(sequence({min_prefix}, length({col})),"
                f" i -> substring({col}, 1, i))"
            )
        ),
    )
