"""Trained classifiers and importance resampling over ``documents`` —
the model-based selection stage of an LLM training-data pipeline
(beyond the reference surface, same first-class rules: DuckDB oracle
per query, exact integer math on the hashed surface).

Two rungs, both the standard scale-out pattern "expensive oracle labels
a slice, a cheap additive model applies to the whole corpus":

* **Multinomial Naive Bayes quality classifier** — the CCNet/GPT-3
  bootstrap: the rule filter (``text_quality_filter``) labels the train
  split, NB trains on token + length-bucket features, the held-out
  split is scored.  Training is ONE additive count aggregation (the
  model is mergeable like a sketch — see
  ``streaming/nbview.py::NbIngestSink`` for the ingest-time twin), and
  scoring is a sparse join: with Laplace add-1 smoothing the per-token
  weight is ``ln(c(w,label)+1)``, so absent (w,label) pairs contribute
  ``ln(1) = 0`` exactly and the score decomposes into
  ``prior + Σ_sparse ln(c+1) − m_d·ln(n_label + V)`` — no dense
  vocabulary × class expansion anywhere.

* **DSIR importance resampling** (Xie et al. 2023, "Data Selection via
  Importance Resampling"): hashed-bigram bucket LMs for the target
  (quality keepers) and raw distributions, per-doc log importance
  ratio, then Gumbel-top-K resampling — the deterministic md5-driven
  form of the paper's sampling step (an RNG would re-deal every run;
  the Gumbel key is the A-ES idiom ``sample_weighted_topk`` already
  uses, with learned log-weights instead of document length).

Cross-engine determinism: counts are exact int64; every ``ln`` is taken
on an exact integer and rounded once to integer micro-nats (the
``text_lm_bigram_score`` idiom); argmax ties break on the label's total
order.

Scale notes (100 TB posture): NB model relations are O(vocab × labels)
and the class-constant relation is O(labels) (broadcast); the only
corpus-sized shuffles are the (doc_id) label join and the (f) /
(bucket) model joins — all partial-aggregated map-side first.  DSIR's
bucket relations are O(DSIR_BUCKETS) and broadcast; the resample is a
TakeOrdered top-K, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.sketches import DUCK_H, DUCK_H60, SPARK_H, SPARK_H60
from ..session import hold, memo
from ..tables import load
from .llmdata import (
    _DUCK_TOKS,
    _SPARK_TOKS,
    PACK_CTX_TOKENS,
    QF_MAX_MEAN_TOKEN_LEN,
    QF_MAX_TOKENS,
    QF_MIN_STOPWORD_RATIO,
    QF_MIN_TOKENS,
    SPLIT_TRAIN_PCT,
    STOPWORDS,
    duck_split_bucket,
    duck_split_label,
    split_bucket,
)
from .llmdata import ORACLE as _LLM_ORACLE

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

NB_MU = 10**6            # micro-nat fixed point (house ln idiom)
NB_LEN_BUCKET = 8        # n_tokens div 8, capped at 16 buckets
NB_LEN_CAP = 16
DSIR_BUCKETS = 1024      # hashed-bigram feature space
DSIR_SAMPLE_K = 100


# --------------------------------------------------------------------------
# Shared constructors (batch queries AND the streaming NbIngestSink)
# --------------------------------------------------------------------------

# Features: word unigrams plus two pseudo-tokens a quality model needs
# (the rule filter thresholds length and token shape, which unigrams
# alone cannot see): a capped doc-length bucket and the floor of the
# mean token length.  All-integer constructions, identical in SQL.
_FEATS_SPARK = (
    "concat(__toks, array("
    f" concat('__len_', cast(least(size(__toks) div {NB_LEN_BUCKET},"
    f" {NB_LEN_CAP}) as string)),"
    " concat('__mlen_', cast(aggregate(__toks, cast(0 as bigint),"
    " (a, x) -> a + length(x)) div greatest(size(__toks), 1)"
    " as string))))"
)

_FEATS_DUCK = f"""
    ftk AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    feats AS (
        SELECT doc_id,
               unnest(list_concat(toks, [
                   '__len_' || (least(len(toks) // {NB_LEN_BUCKET},
                                      {NB_LEN_CAP}))::VARCHAR,
                   '__mlen_' || ((coalesce(list_sum(list_transform(
                         toks, x -> len(x)::BIGINT)), 0))::BIGINT
                       // greatest(len(toks), 1))::VARCHAR
               ])) AS f
        FROM ftk
    )
"""

_TRAIN_PRED_SPARK = f"{split_bucket()} < {SPLIT_TRAIN_PCT}"
_TRAIN_PRED_DUCK = f"{duck_split_bucket()} < {SPLIT_TRAIN_PCT}"


def nb_feature_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, f) feature-instance stream over a documents relation —
    one narrow explode, no shuffle."""
    return (
        docs.withColumn("__toks", F.expr(_SPARK_TOKS))
        .select("doc_id", F.explode(F.expr(_FEATS_SPARK)).alias("f"))
    )


def quality_label(docs: DataFrame) -> DataFrame:
    """(doc_id, label) with label ∈ {'keep','drop'} from the
    ``text_quality_filter`` rule set (llmdata.py:867) applied map-only
    to the given relation — same constants, same rounding, so the
    labels equal the registered filter's verdicts exactly.  Local twin
    rather than a call because the sink labels arbitrary micro-batches,
    not an sf_dir."""
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' +'), x -> x <> '')").alias("toks"),
    )
    n_tok = F.size("toks")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(toks, x -> x in ({stop_list})))")
    mean_len = F.round(
        F.expr(
            "aggregate(toks, cast(0 as double), (acc, x) -> acc + length(x))"
        )
        / F.greatest(n_tok, F.lit(1)),
        6,
    )
    stop_ratio = F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6)
    keep = (
        (n_tok >= QF_MIN_TOKENS)
        & (n_tok <= QF_MAX_TOKENS)
        & (mean_len <= QF_MAX_MEAN_TOKEN_LEN)
        & (stop_ratio >= QF_MIN_STOPWORD_RATIO)
    )
    return toks.select(
        "doc_id", F.when(keep, "keep").otherwise("drop").alias("label")
    )


def nb_partials(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ADDITIVE model partials over a documents relation:
    ``counts (label, f, cnt)`` and ``cls (label, n_docs, n_feats)``.
    Summing partials from disjoint doc sets equals the partials over
    their union — NB training is a mergeable sketch, which is the whole
    ingest-time story (``NbIngestSink``)."""
    lab = quality_label(docs)
    tf = nb_feature_instances(docs).join(lab, "doc_id")
    counts = tf.groupBy("label", "f").agg(F.count("*").alias("cnt"))
    cls = (
        lab.groupBy("label")
        .agg(F.count("*").alias("n_docs"))
        .join(
            tf.groupBy("label").agg(F.count("*").alias("n_feats")), "label"
        )
    )
    return counts, cls


def nb_classify_from_model(
    counts: DataFrame, cls: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """Score ``eval_docs`` (doc_id, text) against an NB model given as
    its (possibly log-merged) count relations; returns
    (doc_id, label_pred, margin_mu)."""
    return nb_scores_from_features(
        counts, cls,
        nb_feature_instances(eval_docs),
        eval_docs.select("doc_id"),
    )


def nb_scores_from_features(
    counts: DataFrame, cls: DataFrame,
    eval_feats: DataFrame, eval_ids: DataFrame,
) -> DataFrame:
    """The scorer core over an already-built (doc_id, f) eval feature
    stream — factored out so the streamed model card can serve
    predictions from its eval-feature LOG (the features were extracted
    at arrival; serving never re-reads document text).

    The add-1 trick makes the score sparse: absent (f,label) rows
    contribute ln(1)=0, so the dense part collapses to the two O(labels)
    class constants ``prior_mu`` / ``lden_mu`` and the per-doc in-vocab
    instance count ``m``."""
    tot = cls.agg(F.sum("n_docs").alias("n_total"))
    voc = counts.agg(F.countDistinct("f").alias("v"))
    consts = (
        cls.join(F.broadcast(tot))
        .join(F.broadcast(voc))
        .select(
            "label",
            F.round((F.log("n_docs") - F.log("n_total")) * NB_MU)
            .cast("long")
            .alias("prior_mu"),
            F.round(F.log(F.col("n_feats") + F.col("v")) * NB_MU)
            .cast("long")
            .alias("lden_mu"),
        )
    )
    w = counts.select(
        "label",
        "f",
        F.round(F.log(F.col("cnt") + 1) * NB_MU).cast("long").alias("lw_mu"),
    )
    vset = counts.select("f").distinct()
    ef = eval_feats.join(vset, "f")
    md = ef.groupBy("doc_id").agg(F.count("*").alias("m"))
    sparse = (
        ef.join(w, "f")
        .groupBy("doc_id", "label")
        .agg(F.sum("lw_mu").alias("s_mu"))
    )
    grid = (
        eval_ids.select("doc_id")
        .join(F.broadcast(consts))
        .join(sparse, ["doc_id", "label"], "left")
        .join(md, "doc_id", "left")
        .select(
            "doc_id",
            "label",
            (
                F.col("prior_mu")
                + F.coalesce(F.col("s_mu"), F.lit(0))
                - F.coalesce(F.col("m"), F.lit(0)) * F.col("lden_mu")
            ).alias("score_mu"),
        )
    )
    ww = Window.partitionBy("doc_id").orderBy(F.desc("score_mu"), "label")
    return (
        grid.withColumn("rk", F.row_number().over(ww))
        .withColumn("next_mu", F.lead("score_mu").over(ww))
        .filter("rk = 1")
        .select(
            "doc_id",
            F.col("label").alias("label_pred"),
            (
                F.col("score_mu")
                - F.coalesce(F.col("next_mu"), F.col("score_mu"))
            ).alias("margin_mu"),
        )
    )


# --------------------------------------------------------------------------
# NB quality classifier (batch queries)
# --------------------------------------------------------------------------

def text_quality_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bootstrap: rule-filter labels on the hash-train split (the
    ``data_split_assign`` buckets) train a multinomial NB, the held-out
    split is classified, and each eval doc carries its true (rule)
    label, the model's prediction, and the integer micro-nat margin.

    Measured at sf0.01: accuracy 0.951 vs the 0.885 majority baseline —
    the model recovers most rule drops from token evidence alone, the
    property that makes the cheap-model sweep over the other 99% of a
    100 TB corpus worth running.

    A session memo: four registered consumers (classify, confusion,
    calibration, the model-gated corpus build) share ONE training pass;
    the persisted relation is the slim eval-split prediction table."""

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        train = docs.filter(F.expr(_TRAIN_PRED_SPARK))
        eval_docs = docs.filter(~F.expr(_TRAIN_PRED_SPARK))
        counts, cls = nb_partials(train)
        preds = nb_classify_from_model(counts, cls, eval_docs)
        truth = quality_label(eval_docs).select(
            "doc_id", F.col("label").alias("label_true")
        )
        return (
            preds.join(truth, "doc_id")
            .select("doc_id", "label_true", "label_pred", "margin_mu")
            .persist()
        )

    return memo("nb_classifier/preds", spark, sf_dir, build)


QUERIES["text_quality_nb_classify"] = text_quality_nb_classify

# The model CTEs are multi-referenced but window/UNION-free (not the
# round-7 double-evaluation flake shape); `ranked` carries the window
# and is referenced once.
_NB_CLASSIFY_DUCK = f"""
    WITH qf AS ({_LLM_ORACLE["text_quality_filter"]}),
    lab AS (
        SELECT doc_id, CASE WHEN keep THEN 'keep' ELSE 'drop' END AS label
        FROM qf
    ),
    {_FEATS_DUCK.strip()},
    tr AS (SELECT doc_id FROM documents WHERE {_TRAIN_PRED_DUCK}),
    ev AS (SELECT doc_id FROM documents WHERE NOT ({_TRAIN_PRED_DUCK})),
    tf AS (
        SELECT f.doc_id, f.f, l.label
        FROM feats f JOIN tr USING (doc_id) JOIN lab l ON l.doc_id = f.doc_id
    ),
    cw AS (SELECT label, f, count(*)::BIGINT AS cnt FROM tf GROUP BY 1, 2),
    cls AS (
        SELECT label, count(*)::BIGINT AS n_docs
        FROM lab JOIN tr USING (doc_id) GROUP BY 1
    ),
    cft AS (SELECT label, count(*)::BIGINT AS n_feats FROM tf GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n_total FROM tr),
    voc AS (SELECT count(DISTINCT f)::BIGINT AS v FROM tf),
    consts AS (
        SELECT cls.label,
               round((ln(cls.n_docs) - ln(tot.n_total)) * {NB_MU})::BIGINT
                   AS prior_mu,
               round(ln(cft.n_feats + voc.v) * {NB_MU})::BIGINT AS lden_mu
        FROM cls JOIN cft USING (label), tot, voc
    ),
    w AS (
        SELECT label, f, round(ln(cnt + 1) * {NB_MU})::BIGINT AS lw_mu
        FROM cw
    ),
    vset AS (SELECT DISTINCT f FROM tf),
    ef AS (
        SELECT e.doc_id, e.f
        FROM feats e JOIN ev USING (doc_id) JOIN vset USING (f)
    ),
    md AS (SELECT doc_id, count(*)::BIGINT AS m FROM ef GROUP BY 1),
    sparse AS (
        SELECT ef.doc_id, w.label, sum(w.lw_mu)::BIGINT AS s_mu
        FROM ef JOIN w USING (f) GROUP BY 1, 2
    ),
    grid AS (
        SELECT ev.doc_id, c.label,
               c.prior_mu + coalesce(sp.s_mu, 0)
                   - coalesce(md.m, 0) * c.lden_mu AS score_mu
        FROM ev CROSS JOIN consts c
        LEFT JOIN sparse sp ON sp.doc_id = ev.doc_id AND sp.label = c.label
        LEFT JOIN md ON md.doc_id = ev.doc_id
    ),
    ranked AS (
        SELECT doc_id, label, score_mu,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score_mu DESC, label
               ) AS rk,
               lead(score_mu) OVER (
                   PARTITION BY doc_id ORDER BY score_mu DESC, label
               ) AS next_mu
        FROM grid
    )
    SELECT r.doc_id, l.label AS label_true, r.label AS label_pred,
           (r.score_mu - coalesce(r.next_mu, r.score_mu))::BIGINT
               AS margin_mu
    FROM ranked r JOIN lab l ON l.doc_id = r.doc_id
    WHERE r.rk = 1
"""

ORACLE["text_quality_nb_classify"] = _NB_CLASSIFY_DUCK


def text_quality_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB quality classifier on the held-out
    split — the audit relation behind the accuracy claim (and what a
    threshold sweep would read before trusting the cheap model with the
    other 99%)."""
    return (
        text_quality_nb_classify(spark, sf_dir)
        .groupBy("label_true", "label_pred")
        .agg(F.count("*").alias("n_docs"))
    )


QUERIES["text_quality_nb_confusion"] = text_quality_nb_confusion

ORACLE["text_quality_nb_confusion"] = f"""
    WITH clf AS ({_NB_CLASSIFY_DUCK})
    SELECT label_true, label_pred, count(*)::BIGINT AS n_docs
    FROM clf GROUP BY 1, 2
"""


NB_CAL_BUCKET_MU = 2 * NB_MU   # 2-nat confidence buckets
NB_CAL_CLAMP = 5


def text_quality_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the NB classifier: held-out docs bucketed
    by SIGNED keep-confidence (score(keep) − score(drop), which for two
    classes is ``±margin_mu``), with each bucket's observed keep rate —
    the calibration read a pipeline owner does before turning a score
    into a threshold (well-calibrated → keep_rate rises monotonically
    with the bucket).  Bucket = clamped floor(conf / 2 nats); exact
    integers until the one final rate division."""
    clf = text_quality_nb_classify(spark, sf_dir)
    conf = F.when(
        F.col("label_pred") == "keep", F.col("margin_mu")
    ).otherwise(-F.col("margin_mu"))
    bucket = F.greatest(
        F.least(
            F.floor(conf / float(NB_CAL_BUCKET_MU)), F.lit(NB_CAL_CLAMP)
        ),
        F.lit(-NB_CAL_CLAMP),
    )
    return (
        clf.select(
            bucket.cast("long").alias("conf_bucket"),
            (F.col("label_true") == "keep").cast("long").alias("is_keep"),
        )
        .groupBy("conf_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_keep").alias("n_keep_true"),
        )
        .select(
            "conf_bucket",
            "n_docs",
            "n_keep_true",
            F.round(F.col("n_keep_true") * 1.0 / F.col("n_docs"), 6).alias(
                "keep_rate"
            ),
        )
    )


QUERIES["text_quality_nb_calibration"] = text_quality_nb_calibration

ORACLE["text_quality_nb_calibration"] = f"""
    WITH clf AS ({_NB_CLASSIFY_DUCK}),
    conf AS (
        SELECT greatest(least(
                   floor((CASE WHEN label_pred = 'keep'
                               THEN margin_mu ELSE -margin_mu END)
                         / {float(NB_CAL_BUCKET_MU)}),
                   {NB_CAL_CLAMP}), -{NB_CAL_CLAMP})::BIGINT AS conf_bucket,
               (label_true = 'keep')::BIGINT AS is_keep
        FROM clf
    )
    SELECT conf_bucket, count(*)::BIGINT AS n_docs,
           sum(is_keep)::BIGINT AS n_keep_true,
           round(sum(is_keep) * 1.0 / count(*), 6) AS keep_rate
    FROM conf GROUP BY 1
"""


# --------------------------------------------------------------------------
# DSIR importance resampling
# --------------------------------------------------------------------------

def dsir_bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, b, c) hashed-bigram bucket COUNTS over a documents
    relation — DSIR's additive feature partial (summing partials from
    disjoint doc sets equals the partial over their union; the
    streaming ``DsirIngestSink`` logs exactly this relation per
    batch)."""
    return (
        docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    # element_at is 1-based on BOTH engines — the house
                    # convention for cross-engine array code (bracket
                    # indexing is 0-based in Spark, 1-based in DuckDB)
                    "CASE WHEN size(toks) >= 2 THEN"
                    " transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                    " ELSE array() END"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            (F.expr(SPARK_H.format(col="bg")) % DSIR_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )


def dsir_weights_from_counts(
    bbc: DataFrame, reg: DataFrame, cache_key="batch"
) -> DataFrame:
    """The shared DSIR weight computation: ``bbc`` is the (doc_id, b,
    c) bucket-count relation, ``reg`` the (doc_id, source, label) doc
    registry.  Builds the target (label = 'keep') and raw bucket LMs,
    then each doc's Laplace-smoothed log importance ratio — used by
    the batch query AND served from the streaming sink's merged logs,
    so the two are equal by construction.  ``bbc`` feeds three legs
    (raw LM, target LM, per-doc weights), so it is persisted and held
    per ``cache_key``: each consumer (the batch memo, each live
    ``DsirIngestSink``) replaces only its own previous relation."""
    bbc = hold(f"dsir_counts/{cache_key}", bbc.persist)
    keepers = reg.filter("label = 'keep'").select("doc_id")
    rcnt = bbc.groupBy("b").agg(F.sum("c").alias("r"))
    tcnt = (
        bbc.join(keepers, "doc_id", "semi")
        .groupBy("b")
        .agg(F.sum("c").alias("t"))
    )
    wts = rcnt.join(tcnt, "b", "left").select(
        "b",
        (
            F.round(F.log(F.coalesce(F.col("t"), F.lit(0)) + 1) * NB_MU)
            .cast("long")
            - F.round(F.log(F.col("r") + 1) * NB_MU).cast("long")
        ).alias("lw_mu"),
    )
    tot = rcnt.agg(
        F.coalesce(F.sum("r"), F.lit(0)).alias("nr")
    ).join(tcnt.agg(F.coalesce(F.sum("t"), F.lit(0)).alias("nt")))
    dd = tot.select(
        (
            F.round(F.log(F.col("nt") + DSIR_BUCKETS) * NB_MU).cast("long")
            - F.round(F.log(F.col("nr") + DSIR_BUCKETS) * NB_MU).cast("long")
        ).alias("dden_mu")
    )
    pd = (
        bbc.join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("m"),
            F.sum(F.col("c") * F.col("lw_mu")).alias("s_mu"),
        )
    )
    return (
        reg.select("doc_id", "source")
        .join(pd, "doc_id", "left")
        .join(F.broadcast(dd))
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("m"), F.lit(0)).alias("n_feats"),
            F.round(
                (
                    F.coalesce(F.col("s_mu"), F.lit(0))
                    - F.coalesce(F.col("m"), F.lit(0)) * F.col("dden_mu")
                )
                / 1e6,
                6,
            ).alias("dsir_logratio"),
        )
    )


def dsir_doc_registry(docs: DataFrame) -> DataFrame:
    """(doc_id, source, label) — the slim doc registry the weight
    computation joins (label via the map-only quality rule)."""
    return docs.select("doc_id", "source").join(
        quality_label(docs), "doc_id"
    )


def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per doc, the log-likelihood ratio of
    its hashed-bigram stream under the TARGET bucket LM (trained on the
    quality keepers — composing the rule filter as the target
    definition, the paper's "formal text" slice) vs the RAW bucket LM
    (the whole corpus).  Laplace add-1 on both, so absent target
    buckets contribute ln(1)=0 sparsely, exactly the NB decomposition.

    Scale: the bucket LMs are O(DSIR_BUCKETS) rows and broadcast; the
    corpus-sized legs are the bigram explode and ONE map-side-combined
    per-doc aggregate.

    A session memo like the classifier: the weight relation (O(docs)
    slim rows) feeds both the weights query and the resample."""

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        return dsir_weights_from_counts(
            dsir_bucket_counts(docs), dsir_doc_registry(docs)
        ).persist()

    return memo("dsir_weights/weights", spark, sf_dir, build)


QUERIES["sample_dsir_weights"] = sample_dsir_weights

_DSIR_WEIGHTS_DUCK = f"""
    WITH qf AS ({_LLM_ORACLE["text_quality_filter"]}),
    keepers AS (SELECT doc_id FROM qf WHERE keep),
    dtk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    dbg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i + 1]
               )) AS bg
        FROM dtk
    ),
    bb AS (
        SELECT doc_id,
               ({DUCK_H.format(col='bg')}) % {DSIR_BUCKETS} AS b
        FROM dbg
    ),
    rcnt AS (SELECT b, count(*)::BIGINT AS r FROM bb GROUP BY 1),
    tcnt AS (
        SELECT b, count(*)::BIGINT AS t
        FROM bb JOIN keepers USING (doc_id) GROUP BY 1
    ),
    wts AS (
        SELECT rcnt.b,
               round(ln(coalesce(t, 0) + 1) * {NB_MU})::BIGINT
                   - round(ln(r + 1) * {NB_MU})::BIGINT AS lw_mu
        FROM rcnt LEFT JOIN tcnt USING (b)
    ),
    tot AS (
        SELECT (SELECT coalesce(sum(t), 0) FROM tcnt)::BIGINT AS nt,
               (SELECT coalesce(sum(r), 0) FROM rcnt)::BIGINT AS nr
    ),
    dd AS (
        SELECT round(ln(nt + {DSIR_BUCKETS}) * {NB_MU})::BIGINT
                   - round(ln(nr + {DSIR_BUCKETS}) * {NB_MU})::BIGINT
                   AS dden_mu
        FROM tot
    ),
    pd AS (
        SELECT doc_id, count(*)::BIGINT AS m, sum(lw_mu)::BIGINT AS s_mu
        FROM bb JOIN wts USING (b) GROUP BY 1
    )
    SELECT d.doc_id, d.source,
           coalesce(pd.m, 0)::BIGINT AS n_feats,
           round((coalesce(pd.s_mu, 0) - coalesce(pd.m, 0) * dd.dden_mu)
                 / 1e6, 6) AS dsir_logratio
    FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id CROSS JOIN dd
"""

ORACLE["sample_dsir_weights"] = _DSIR_WEIGHTS_DUCK

# Gumbel key: u in (0,1) from a salted 60-bit md5 draw; -ln(-ln(u)) is
# standard Gumbel, so weight + gumbel top-K samples without replacement
# with inclusion odds ∝ exp(weight) — the Gumbel-top-k trick, the
# exp-space twin of sample_weighted_topk's A-ES key.
_DSIR_GUMBEL_SPARK = (
    "-ln(-ln(("
    + SPARK_H60.format(col="concat('dsir|', cast(doc_id as string))")
    + " + 0.5) / 1152921504606846976.0))"
)
_DSIR_GUMBEL_DUCK = (
    "-ln(-ln(("
    + DUCK_H60.format(col="'dsir|' || doc_id::VARCHAR")
    + " + 0.5) / 1152921504606846976.0))"
)


def sample_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection step: Gumbel-top-``DSIR_SAMPLE_K`` on the
    importance weights — a deterministic without-replacement sample
    whose inclusion odds are ∝ exp(log-ratio), i.e. the importance
    resample itself.  TakeOrdered (per-partition top-K + K-row driver
    merge); the corpus is never globally sorted."""
    w = sample_dsir_weights(spark, sf_dir)
    key = F.col("dsir_logratio") + F.expr(_DSIR_GUMBEL_SPARK)
    return (
        w.select("doc_id", "source", "dsir_logratio", key.alias("gkey"))
        .orderBy(F.desc("gkey"), "doc_id")
        .limit(DSIR_SAMPLE_K)
        .select("doc_id", "source", "dsir_logratio")
    )


QUERIES["sample_dsir_resample"] = sample_dsir_resample

ORACLE["sample_dsir_resample"] = f"""
    WITH w AS ({_DSIR_WEIGHTS_DUCK})
    SELECT doc_id, source, dsir_logratio FROM (
        SELECT doc_id, source, dsir_logratio,
               dsir_logratio + ({_DSIR_GUMBEL_DUCK}) AS gkey
        FROM w
    )
    ORDER BY gkey DESC, doc_id LIMIT {DSIR_SAMPLE_K}
"""


# --------------------------------------------------------------------------
# Model-gated corpus build (the classifier composed end-to-end)
# --------------------------------------------------------------------------

def data_corpus_build_modelgated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus pipeline with the trained model IN the loop: the
    held-out split must additionally pass the NB classifier's verdict
    (train-split docs are gated by the rule filter alone — they ARE the
    model's training labels).  This is the belt-and-suspenders
    composition a pipeline runs while ramping a learned gate: the delta
    vs ``data_corpus_build`` is exactly the set of docs the model would
    veto beyond the rules.

    Plan shape: one more (doc_id) semi join before the packing window
    (``llmdata._corpus_build_plan`` — bins shift when documents drop,
    so packing re-runs over the final survivors)."""
    from .llmdata import _corpus_build_plan

    docs = load(spark, sf_dir, "documents")
    train_ids = docs.filter(F.expr(_TRAIN_PRED_SPARK)).select("doc_id")
    nb_keep = (
        text_quality_nb_classify(spark, sf_dir)
        .filter("label_pred = 'keep'")
        .select("doc_id")
    )
    gate = train_ids.unionByName(nb_keep)
    return _corpus_build_plan(spark, sf_dir, extra_gates=(gate,))


QUERIES["data_corpus_build_modelgated"] = data_corpus_build_modelgated

ORACLE["data_corpus_build_modelgated"] = f"""
    WITH qf AS ({_LLM_ORACLE["text_quality_filter"]}),
    surv AS ({_LLM_ORACLE["dedup_survivors"]}),
    clf AS ({_NB_CLASSIFY_DUCK}),
    toksz AS (
        SELECT doc_id, len({_DUCK_TOKS})::INTEGER AS n_tokens FROM documents
    ),
    kept AS (
        SELECT d.doc_id, d.source,
               {duck_split_label('d.doc_id', 15)} AS split,
               t.n_tokens
        FROM documents d
        JOIN toksz t ON d.doc_id = t.doc_id
        WHERE d.doc_id IN (SELECT doc_id FROM qf WHERE keep)
          AND d.doc_id IN (SELECT doc_id FROM surv)
          AND ({duck_split_bucket('d.doc_id')}
                   < {SPLIT_TRAIN_PCT}
               OR d.doc_id IN
                   (SELECT doc_id FROM clf WHERE label_pred = 'keep'))
    ),
    packed AS (
        SELECT doc_id, source, split, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY split, source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM kept
    )
    SELECT doc_id, source, split, n_tokens,
           (cum_before // {PACK_CTX_TOKENS})::BIGINT AS bin,
           (cum_before % {PACK_CTX_TOKENS})::BIGINT AS bin_offset
    FROM packed
"""


NB_PR_THRESHOLDS = list(range(-4, 5))   # signed keep-confidence, nats


def text_quality_nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep of the NB classifier: for each signed
    keep-confidence threshold (in whole nats), the keep-class
    precision / recall / F1 against the rule truth — the table a
    pipeline owner reads to pick the gate's threshold (the reliability
    table says IF the score is trustworthy; this says WHERE to cut).

    Exactness: every metric is a ratio of exact integer counts (F1 via
    the 2TP/(2TP+FP+FN) identity — no float intermediate), rounded
    once; thresholds ride a 9-row broadcast so the prediction table is
    scanned once per aggregate, not per threshold."""
    clf = text_quality_nb_classify(spark, sf_dir)
    conf = F.when(
        F.col("label_pred") == "keep", F.col("margin_mu")
    ).otherwise(-F.col("margin_mu"))
    base = clf.select(
        conf.alias("conf_mu"),
        (F.col("label_true") == "keep").cast("long").alias("is_keep"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in NB_PR_THRESHOLDS], "threshold_nats long"
    )
    j = base.join(F.broadcast(thr)).select(
        "threshold_nats",
        (F.col("conf_mu") >= F.col("threshold_nats") * NB_MU)
        .cast("long")
        .alias("pred_keep"),
        "is_keep",
    )
    agg = j.groupBy("threshold_nats").agg(
        F.sum(F.col("pred_keep") * F.col("is_keep")).alias("tp"),
        F.sum(F.col("pred_keep") * (1 - F.col("is_keep"))).alias("fp"),
        F.sum((1 - F.col("pred_keep")) * F.col("is_keep")).alias("fn"),
    )
    return agg.select(
        "threshold_nats",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                2.0 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            ),
        ).alias("f1"),
    )


QUERIES["text_quality_nb_pr_curve"] = text_quality_nb_pr_curve

ORACLE["text_quality_nb_pr_curve"] = f"""
    WITH clf AS ({_NB_CLASSIFY_DUCK}),
    base AS (
        SELECT (CASE WHEN label_pred = 'keep'
                     THEN margin_mu ELSE -margin_mu END) AS conf_mu,
               (label_true = 'keep')::BIGINT AS is_keep
        FROM clf
    ),
    thr AS (
        SELECT unnest([{", ".join(str(t) for t in NB_PR_THRESHOLDS)}])
            ::BIGINT AS threshold_nats
    ),
    agg AS (
        SELECT threshold_nats,
               sum((conf_mu >= threshold_nats * {NB_MU})::BIGINT
                   * is_keep)::BIGINT AS tp,
               sum((conf_mu >= threshold_nats * {NB_MU})::BIGINT
                   * (1 - is_keep))::BIGINT AS fp,
               sum((1 - (conf_mu >= threshold_nats * {NB_MU})::BIGINT)
                   * is_keep)::BIGINT AS fn
        FROM base CROSS JOIN thr
        GROUP BY 1
    )
    SELECT threshold_nats, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN round(tp * 1.0 / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
                THEN round(tp * 1.0 / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM agg
"""


# --------------------------------------------------------------------------
# Model-aware dataset card
# --------------------------------------------------------------------------

def data_dataset_card_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card extended with the model-selection members: the
    NB classifier's veto rate on the held-out split (docs the cheap
    model would drop beyond the rules — the number a team watches while
    ramping a learned gate) and DSIR's target-likeness rate (docs whose
    importance log-ratio is >= 0, i.e. at least as likely under the
    target LM as under the raw corpus).  Same (metric, value) integer
    contract as ``data_dataset_card``; both new members ride the
    session-memoized model relations, so the card costs two O(1)-row
    aggregates beyond the base card."""
    from .llmdata import data_dataset_card

    card = data_dataset_card(spark, sf_dir)
    clf = text_quality_nb_classify(spark, sf_dir)
    nb = clf.agg(
        F.count("*").alias("n_eval"),
        F.sum(
            (
                (F.col("label_true") == "keep")
                & (F.col("label_pred") == "drop")
            ).cast("long")
        ).alias("n_veto"),
    )
    ds = sample_dsir_weights(spark, sf_dir).agg(
        F.count("*").alias("n_w"),
        F.sum((F.col("dsir_logratio") >= 0).cast("long")).alias("n_nonneg"),
    )
    members = [
        nb.select(
            F.lit("nb_veto_bp").alias("metric"),
            F.expr("(n_veto * 10000) div n_eval").alias("value"),
        ),
        ds.select(
            F.lit("dsir_target_like_bp").alias("metric"),
            F.expr("(n_nonneg * 10000) div n_w").alias("value"),
        ),
    ]
    out = card
    for m in members:
        out = out.unionByName(m)
    return out


QUERIES["data_dataset_card_model"] = data_dataset_card_model

ORACLE["data_dataset_card_model"] = f"""
    SELECT metric, value FROM ({_LLM_ORACLE["data_dataset_card"]})
    UNION ALL
    SELECT 'nb_veto_bp' AS metric,
           ((sum((label_true = 'keep' AND label_pred = 'drop')::BIGINT)
             * 10000) // count(*))::BIGINT AS value
    FROM ({_NB_CLASSIFY_DUCK})
    UNION ALL
    SELECT 'dsir_target_like_bp' AS metric,
           ((sum((dsir_logratio >= 0)::BIGINT) * 10000)
             // count(*))::BIGINT AS value
    FROM ({_DSIR_WEIGHTS_DUCK})
"""
