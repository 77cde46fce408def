"""Streaming corpus-quality drift monitoring: the LM-score member of
the incremental-view family (``viewmaint.py`` maintains an enriched
additive rollup; this maintains the unigram-LM surprisal moments of
``queries/llmdata.py::text_lm_score`` at ingest time).

A training-data pipeline wants to know, per arriving batch, whether the
incoming text still looks like the reference corpus — mean surprisal
under a FIXED unigram LM drifting up means rarer/noisier tokens (or a
new domain); the out-of-vocabulary rate drifting up means the model no
longer covers the stream.  Both statistics are ADDITIVE in exact
integer micro-nats / counts, so the ``SegmentRevenueViewSink`` pattern
applies verbatim: each micro-batch writes one O(sources) contribution
row set under its batch_id (idempotent dynamic partition overwrite),
the serving view is one re-aggregation of the log, and the log itself
is the drift timeline (batch_id x source x moments).

Scale posture:
 - The model vocabulary is a corpus-sized relation, so the token ⋈
   vocab join is HINT-FREE (the q07 vocabulary lesson — never force-
   broadcast a data-dependent side); ``ln(N)`` is one collected long
   (bounded, the broadcast-scalar sanction).
 - Per batch the work is O(batch tokens) map + two partial-aggregated
   shuffles; the contribution is O(sources) slim rows, so the log is
   bounded by batches x sources and never replays the corpus.
 - All moments are exact int64 (micro-nat sums, token/OOV counts), so
   maintenance is order/replay-independent: union-of-parts equals the
   one-shot batch aggregate bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llmdata import _SPARK_TOKS
from .logio import read_log, write_log_partition

_TOKS_EXPR = _SPARK_TOKS


def lm_unigram_model(docs: DataFrame) -> tuple[DataFrame, int]:
    """Train the reference unigram LM: (vocab(w, lnc), lnn) with the
    identical micro-nat rounding ``text_lm_score`` uses (each log
    rounded ONCE to integer micro-nats; README determinism rule 3)."""
    toks = docs.select(F.explode(F.expr(_TOKS_EXPR)).alias("w"))
    vocab = toks.groupBy("w").agg(
        F.round(F.log(F.count("*")) * 1e6).cast("long").alias("lnc")
    )
    lnn = int(
        toks.agg(
            F.round(F.log(F.count("*")) * 1e6).cast("long").alias("lnn")
        ).collect()[0]["lnn"]
    )
    return vocab, lnn


def lm_drift_aggregate(
    docs: DataFrame, vocab: DataFrame, lnn: int
) -> DataFrame:
    """Per-source surprisal/OOV moments of ``docs`` under the FIXED
    model — the batch twin the streaming view must reproduce.  Left
    join: tokens outside the model vocabulary are counted as OOV (their
    own drift signal) and excluded from the surprisal mean, never
    silently scored."""
    toks = docs.select(
        "doc_id", "source", F.explode(F.expr(_TOKS_EXPR)).alias("w")
    )
    scored = toks.join(vocab, "w", "left")
    per_source = scored.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("lnc").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.sum(F.coalesce("lnc", F.lit(0))).alias("s_lnc"),
    )
    return per_source.withColumn("lnn", F.lit(int(lnn)))


def drift_report(moments: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens, oov_rate, mean_surprisal) from
    re-aggregated moments: one float divide per statistic at the very
    end, over exact integer sums."""
    matched = F.col("n_tokens") - F.col("n_oov")
    return moments.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 6).alias(
            "oov_rate"
        ),
        F.round(
            (matched * F.col("lnn") - F.col("s_lnc"))
            * 1.0
            / matched
            / 1e6,
            6,
        ).alias("mean_surprisal"),
    )


class LmDriftViewSink:
    """foreachBatch sink maintaining the per-source LM-drift view.

    Per micro-batch: score tokens against the fixed model (hint-free
    vocab join), reduce to O(sources) exact-integer moment rows, write
    under batch_id (idempotent), re-aggregate the log into the serving
    view.  The batch_id-partitioned log doubles as the drift timeline.
    """

    def __init__(
        self,
        vocab: DataFrame,
        lnn: int,
        log_path: str,
        out_path: str,
    ):
        self.vocab = vocab
        self.lnn = int(lnn)
        self.log_path = log_path
        self.out_path = out_path
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        contrib = lm_drift_aggregate(batch_df, self.vocab, self.lnn)
        self._schema = write_log_partition(contrib, batch_id, self.log_path)
        spark = batch_df.sparkSession
        self.serving_view(spark).write.mode("overwrite").parquet(
            self.out_path
        )

    def serving_view(self, spark: SparkSession) -> DataFrame:
        """Re-aggregate the contribution log: exact-integer addition,
        so the result equals the one-shot batch aggregate bit for
        bit."""
        log = read_log(spark, self.log_path, self._schema)
        moments = log.groupBy("source", "lnn").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_oov").alias("n_oov"),
            F.sum("s_lnc").alias("s_lnc"),
        )
        return drift_report(moments)
