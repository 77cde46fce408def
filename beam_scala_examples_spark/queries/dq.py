"""Data-quality audit: declarative expectations evaluated as one pass
per table — the pre-ingest gate a 100 TB pipeline runs before promoting
a batch (null rates, domain ranges, uniqueness, referential integrity).

Shape: each table's row-level rules compact into a single conditional
aggregation (one scan, no shuffle beyond the final tiny agg); the
referential-integrity checks are anti-join counts with the dimension
side broadcast at fixture scale and AQE-chosen beyond.  Output is one
row per rule — (table, rule, n_checked, n_violations, pass) — so the
report itself is O(rules), trivially collectable and diffable across
runs at any data scale.

The rule list is data, not code: ``ROW_RULES`` maps straight to both
the Spark conditional aggregates and the DuckDB oracle, so adding an
expectation is one tuple.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    DUCK_H,
    SPARK_H,
    cms_partial_counters,
    duck_hll_ranked,
    duck_md5_slice,
    hll_estimate,
    hll_partial_registers,
    md5_slices,
)
from ..tables import load

# (table, rule_name, SQL predicate that GOOD rows satisfy) — the
# predicate strings are shared verbatim between Spark and the oracle.
ROW_RULES = (
    ("orders", "totalprice_positive", "o_totalprice > 0"),
    ("orders", "orderdate_in_range",
     "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'"
     " AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'"),
    ("orders", "custkey_not_null", "o_custkey IS NOT NULL"),
    ("lineitem", "quantity_positive", "l_quantity > 0"),
    ("lineitem", "discount_fraction",
     "l_discount >= 0 AND l_discount <= 0.2"),
    ("lineitem", "returnflag_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("events", "value_not_null", "value IS NOT NULL"),
    ("events", "type_domain",
     "event_type IN ('click', 'error', 'purchase', 'signup', 'view')"),
    # round-6: the LLM-data corpus table gets the same gate — a 100 TB
    # ingest promotes a documents batch only if the declared length
    # matches the payload, the text is non-empty, and the language tag
    # is in the supported set.
    ("documents", "n_chars_matches_text", "n_chars = length(text)"),
    ("documents", "text_nonempty", "length(text) > 0"),
    ("documents", "lang_domain",
     "lang IN ('en', 'de', 'zh', 'fr', 'es')"),
)


def _row_rule_report(df: DataFrame, table: str) -> DataFrame:
    """All of a table's row rules in ONE conditional aggregation pass."""
    rules = [(r, p) for t, r, p in ROW_RULES if t == table]
    aggs = [F.count(F.lit(1)).alias("n_checked")]
    for rule, pred in rules:
        aggs.append(
            F.sum(F.when(F.expr(pred), 0).otherwise(1)).alias(rule)
        )
    wide = df.agg(*aggs)
    # unpivot the single wide row into (rule, n_violations)
    stack = F.expr(
        "stack({n}, {args}) AS (rule, n_violations)".format(
            n=len(rules),
            args=", ".join(f"'{r}', {r}" for r, _ in rules),
        )
    )
    return wide.select(F.lit(table).alias("tbl"), "n_checked", stack)


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full expectation report: row rules per table, plus
    uniqueness and referential-integrity checks that need more than a
    row predicate.  One row per rule."""
    parts = [
        _row_rule_report(load(spark, sf_dir, "orders"), "orders"),
        _row_rule_report(load(spark, sf_dir, "lineitem"), "lineitem"),
        _row_rule_report(load(spark, sf_dir, "events"), "events"),
        _row_rule_report(load(spark, sf_dir, "documents"), "documents"),
    ]

    docs = load(spark, sf_dir, "documents")
    doc_dup = docs.groupBy("doc_id").count().filter(F.col("count") > 1)
    parts.append(
        docs.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
            doc_dup.agg(F.count(F.lit(1)).alias("n_violations"))
        ).select(
            F.lit("documents").alias("tbl"),
            "n_checked",
            F.lit("doc_id_unique").alias("rule"),
            "n_violations",
        )
    )

    orders = load(spark, sf_dir, "orders")
    # uniqueness: primary key must not repeat
    dup = orders.groupBy("o_orderkey").count().filter(F.col("count") > 1)
    parts.append(
        orders.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
            dup.agg(F.count(F.lit(1)).alias("n_violations"))
        ).select(
            F.lit("orders").alias("tbl"),
            "n_checked",
            F.lit("orderkey_unique").alias("rule"),
            "n_violations",
        )
    )

    # referential integrity: every order's customer must exist
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    orphans = orders.join(cust, "o_custkey", "left_anti")
    parts.append(
        orders.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
            orphans.agg(F.count(F.lit(1)).alias("n_violations"))
        ).select(
            F.lit("orders").alias("tbl"),
            "n_checked",
            F.lit("custkey_references_customer").alias("rule"),
            "n_violations",
        )
    )

    # referential integrity on the fact table: lineitems must point at
    # existing orders and parts (anti-join counts; the dim side is left
    # to AQE size estimates, same hint policy as everywhere)
    li = load(spark, sf_dir, "lineitem")
    for rule, dim, key, dim_key in (
        ("orderkey_references_orders", "orders", "l_orderkey", "o_orderkey"),
        ("partkey_references_part", "part", "l_partkey", "p_partkey"),
    ):
        d = load(spark, sf_dir, dim).select(F.col(dim_key).alias(key))
        orphan = li.join(d, key, "left_anti")
        parts.append(
            li.agg(F.count(F.lit(1)).alias("n_checked")).crossJoin(
                orphan.agg(F.count(F.lit(1)).alias("n_violations"))
            ).select(
                F.lit("lineitem").alias("tbl"),
                "n_checked",
                F.lit(rule).alias("rule"),
                "n_violations",
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "tbl",
        "rule",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("pass"),
    )


def _duck_row_rules(table: str) -> str:
    rules = [(r, p) for t, r, p in ROW_RULES if t == table]
    selects = [
        f"SELECT '{table}' AS tbl, '{rule}' AS rule,"
        f" count(*)::BIGINT AS n_checked,"
        f" sum(CASE WHEN {pred} THEN 0 ELSE 1 END)::BIGINT AS n_violations"
        f" FROM {table}"
        for rule, pred in rules
    ]
    return " UNION ALL ".join(selects)


ORACLE_SQL = f"""
    WITH rows_report AS (
        {_duck_row_rules("orders")}
        UNION ALL {_duck_row_rules("lineitem")}
        UNION ALL {_duck_row_rules("events")}
        UNION ALL {_duck_row_rules("documents")}
        UNION ALL
        SELECT 'documents', 'doc_id_unique', count(*)::BIGINT,
               (SELECT count(*)::BIGINT FROM (
                   SELECT doc_id FROM documents
                   GROUP BY 1 HAVING count(*) > 1))
        FROM documents
        UNION ALL
        SELECT 'orders', 'orderkey_unique', count(*)::BIGINT,
               (SELECT count(*)::BIGINT FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY 1 HAVING count(*) > 1))
        FROM orders
        UNION ALL
        SELECT 'orders', 'custkey_references_customer', count(*)::BIGINT,
               (SELECT count(*)::BIGINT FROM orders o
                WHERE NOT EXISTS (
                    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        FROM orders
        UNION ALL
        SELECT 'lineitem', 'orderkey_references_orders', count(*)::BIGINT,
               (SELECT count(*)::BIGINT FROM lineitem l
                WHERE NOT EXISTS (
                    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'partkey_references_part', count(*)::BIGINT,
               (SELECT count(*)::BIGINT FROM lineitem l
                WHERE NOT EXISTS (
                    SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        FROM lineitem
    )
    SELECT tbl, rule, n_checked, n_violations, n_violations = 0 AS pass
    FROM rows_report
"""

QUERIES = {"dq_report": dq_report}
ORACLE = {"dq_report": ORACLE_SQL}


# (table, key column) pairs audited for join-key skew.
SKEW_KEYS = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: for every audited (table, key), the row
    count, distinct-key count, the heaviest key's row count and the
    max/mean ratio in exact basis points — the diagnostic that tells an
    operator which shuffles need AQE skew handling or salting BEFORE a
    100 TB join runs (`operators/skew.py` is the remediation; this is
    the detection).

    Shape: one two-level aggregate per key (per-key counts with
    map-side combine, then a 1-row max/sum reduce); the report is
    O(keys) rows.  All ratios are integer arithmetic."""
    outs = []
    for table, key in SKEW_KEYS:
        per_key = (
            load(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count("*").alias("c"))
        )
        outs.append(
            per_key.agg(
                F.lit(table).alias("table_name"),
                F.lit(key).alias("key_name"),
                F.sum("c").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("c").alias("max_key_rows"),
                F.expr("(max(c) * count(*) * 10000) div sum(c)").alias(
                    "skew_bp"
                ),
            )
        )
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


QUERIES["dq_key_skew"] = dq_key_skew

ORACLE["dq_key_skew"] = " UNION ALL ".join(
    f"""
    SELECT '{t}' AS table_name, '{k}' AS key_name,
           sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
           max(c)::BIGINT AS max_key_rows,
           ((max(c) * count(*) * 10000) // sum(c))::BIGINT AS skew_bp
    FROM (SELECT {k}, count(*)::BIGINT AS c FROM {t} GROUP BY 1)
    """
    for t, k in SKEW_KEYS
)


PROFILE_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def dq_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events table: per column, row count, null
    count/rate and exact distinct cardinality — the schema-drift /
    ingest-health report (a column whose null rate or cardinality jumps
    batch-over-batch is the first sign of an upstream break).

    Shape: one pass computes all null counts (conditional aggregation);
    exact count(DISTINCT) per column expands to Spark's expand-based
    multi-distinct aggregate — acceptable for a bounded column list; at
    100 TB swap in HLL sketches (``operators/sketches.py``) per column
    and keep the same report schema."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = ev.agg(*aggs)
    rows = None
    for c in PROFILE_COLUMNS:
        one = wide.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            F.col(f"null_{c}").alias("n_null"),
            F.expr(f"(null_{c} * 10000) div n_rows").alias("null_bp"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


QUERIES["dq_profile_events"] = dq_profile_events

ORACLE["dq_profile_events"] = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           ((sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 10000)
            // count(*))::BIGINT AS null_bp,
           count(DISTINCT {c})::BIGINT AS n_distinct
    FROM events
    """
    for c in PROFILE_COLUMNS
)


K_ANON_K = 5
# quasi-identifier tuple for the customer dimension: the columns an
# attacker could link against an external dataset.  The account-balance
# BAND (floor(acctbal/1000)) is the high-cardinality member that keeps
# the audit non-vacuous at every fixture SF: without it every group is
# huge and below_k is constant-false (at sf0.1 the banded QI still
# leaves 29/1375 groups under k=5, while at sf0.001 ALL are — the
# volume-shrinks-risk effect the report is for).
K_ANON_QI = ("c_nationkey", "c_mktsegment")
K_ANON_BAND = "cast(floor(c_acctbal / 1000) as bigint)"


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer dimension: group sizes of
    the quasi-identifier tuple (nation, segment, acctbal band) plus the
    global share of rows in groups smaller than ``K_ANON_K`` — the
    governance gate a dataset passes before leaving the trust boundary
    (Sweeney 2002; the de-identification twin of ``text_redact``'s
    scrubbing report).

    One hash aggregate on the QI tuple (map-side combine), O(groups)
    rows out; the global risk share repeats on every row via a 1-row
    broadcast join so the report is self-contained."""
    cust = load(spark, sf_dir, "customer")
    groups = cust.groupBy(
        *K_ANON_QI, F.expr(K_ANON_BAND).alias("acct_band")
    ).agg(F.count("*").alias("group_size"))
    risk = groups.agg(
        F.sum("group_size").alias("n_rows"),
        F.sum(
            F.when(F.col("group_size") < K_ANON_K, F.col("group_size"))
            .otherwise(0)
        ).alias("n_at_risk"),
    )
    return groups.crossJoin(F.broadcast(risk)).select(
        *K_ANON_QI,
        "acct_band",
        "group_size",
        (F.col("group_size") < K_ANON_K).alias("below_k"),
        F.expr("(n_at_risk * 10000) div n_rows").alias("at_risk_bp"),
    )


QUERIES["dq_k_anonymity"] = dq_k_anonymity

ORACLE["dq_k_anonymity"] = f"""
    WITH groups AS (
        SELECT {", ".join(K_ANON_QI)},
               (floor(c_acctbal / 1000))::BIGINT AS acct_band,
               count(*)::BIGINT AS group_size
        FROM customer GROUP BY 1, 2, 3
    ),
    risk AS (
        SELECT sum(group_size)::BIGINT AS n_rows,
               sum(CASE WHEN group_size < {K_ANON_K} THEN group_size
                        ELSE 0 END)::BIGINT AS n_at_risk
        FROM groups
    )
    SELECT {", ".join("g." + c for c in K_ANON_QI)}, g.acct_band,
           g.group_size,
           g.group_size < {K_ANON_K} AS below_k,
           ((r.n_at_risk * 10000) // r.n_rows)::BIGINT AS at_risk_bp
    FROM groups g CROSS JOIN risk r
"""


DP_EPSILON = 0.5          # Laplace scale = 1/epsilon (count sensitivity 1)
_DP_U = 1_000_000         # uniform-draw resolution


def dq_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy mechanism plumbing: the per-type event
    histogram released through the Laplace mechanism (sensitivity-1
    counts, scale 1/ε) via inverse-CDF sampling — noise = −(1/ε)·
    sign(u−½)·ln(1−2|u−½|) over a uniform draw u.  The draw here is
    md5-seeded from the key so the release is REPRODUCIBLE and
    oracle-checkable (the ``sample_multinomial`` hash-uniform
    sanction); a production release draws real randomness — this query
    is the mechanism's distributed plumbing and calibration report
    (true vs noisy, per key), exactly the stub-the-entropy trade the
    multimodal decoder makes with its media libs.

    Scale: one hash aggregate (map-side combine) to O(types) rows; the
    noise is a map expression on the tiny aggregate."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("true_count"))
    u = (
        (
            F.abs(F.expr(SPARK_H.format(col="event_type"))) % (_DP_U - 1)
            + 1
        )
        * 1.0
        / _DP_U
    )
    centered = u - 0.5
    noise = (
        -(1.0 / DP_EPSILON)
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return counts.select(
        "event_type",
        "true_count",
        (F.col("true_count") + F.round(noise).cast("long")).alias(
            "noisy_count"
        ),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


QUERIES["dq_dp_histogram"] = dq_dp_histogram

ORACLE["dq_dp_histogram"] = f"""
    WITH counts AS (
        SELECT event_type, count(*)::BIGINT AS true_count
        FROM events GROUP BY 1
    ),
    draw AS (
        SELECT event_type, true_count,
               (abs({DUCK_H.format(col='event_type')})
                % ({_DP_U} - 1) + 1) * 1.0 / {_DP_U} - 0.5 AS c
        FROM counts
    )
    SELECT event_type, true_count,
           (true_count + round(-(1.0 / {DP_EPSILON}) * sign(c)
                               * ln(1.0 - 2.0 * abs(c)))::BIGINT)
               AS noisy_count,
           {DP_EPSILON}::DOUBLE AS epsilon
    FROM draw
"""


L_DIV_L = 3               # required distinct sensitive values per group


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's standard companion (Machanavajjhala
    et al. 2007): group size alone does not stop attribute disclosure if
    everyone in a QI group shares the same sensitive value, so this
    reports, per (nation, acctbal-band) group, the number of DISTINCT
    sensitive values (market segment plays the sensitive attribute) and
    the global share of rows in groups below ``L_DIV_L``.  Non-vacuous
    at the sf0.01 correctness gate (65/272 groups below l=3); at sf0.1
    every group saturates all 5 segments — the same volume-shrinks-risk
    effect as the k report, stated rather than hidden.

    One hash aggregate with a distinct-count (map-side partial), O(groups)
    rows; the risk share is a 1-row broadcast back."""
    cust = load(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey", F.expr(K_ANON_BAND).alias("acct_band")
    ).agg(
        F.count("*").alias("group_size"),
        F.countDistinct("c_mktsegment").alias("l_distinct"),
    )
    risk = groups.agg(
        F.sum("group_size").alias("n_rows"),
        F.sum(
            F.when(F.col("l_distinct") < L_DIV_L, F.col("group_size"))
            .otherwise(0)
        ).alias("n_at_risk"),
    )
    return groups.crossJoin(F.broadcast(risk)).select(
        "c_nationkey",
        "acct_band",
        "group_size",
        "l_distinct",
        (F.col("l_distinct") < L_DIV_L).alias("below_l"),
        F.expr("(n_at_risk * 10000) div n_rows").alias("at_risk_bp"),
    )


QUERIES["dq_l_diversity"] = dq_l_diversity

ORACLE["dq_l_diversity"] = f"""
    WITH groups AS (
        SELECT c_nationkey,
               (floor(c_acctbal / 1000))::BIGINT AS acct_band,
               count(*)::BIGINT AS group_size,
               count(DISTINCT c_mktsegment)::BIGINT AS l_distinct
        FROM customer GROUP BY 1, 2
    ),
    risk AS (
        SELECT sum(group_size)::BIGINT AS n_rows,
               sum(CASE WHEN l_distinct < {L_DIV_L} THEN group_size
                        ELSE 0 END)::BIGINT AS n_at_risk
        FROM groups
    )
    SELECT g.c_nationkey, g.acct_band, g.group_size, g.l_distinct,
           g.l_distinct < {L_DIV_L} AS below_l,
           ((r.n_at_risk * 10000) // r.n_rows)::BIGINT AS at_risk_bp
    FROM groups g CROSS JOIN risk r
"""


T_CLOSE_BP = 2000         # flag groups farther than 0.2 from the global


def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third of the privacy triad (Li et al.
    2007): a QI group can be large (k-anonymous) and diverse
    (l-diverse) yet still leak if its sensitive-value DISTRIBUTION
    differs sharply from the global one.  Reports, per (nation,
    acctbal-band) group, the variational distance ½·Σ|p_group −
    p_global| over market segments in basis points, flagged against
    ``T_CLOSE_BP``.

    Determinism: the distance is one float chain over exact integer
    counts — each |c_gs/n_g − C_s/N| term evaluated with the identical
    expression both sides, summed over the FIXED segment set (5
    values), halved and rounded once.  Scale: one (group, segment)
    aggregate, one O(segments) global aggregate broadcast back, a
    per-group sum over ≤5 rows."""
    cust = load(spark, sf_dir, "customer")
    gs = cust.groupBy(
        "c_nationkey",
        F.expr(K_ANON_BAND).alias("acct_band"),
        "c_mktsegment",
    ).agg(F.count("*").alias("c_gs"))
    g = gs.groupBy("c_nationkey", "acct_band").agg(
        F.sum("c_gs").alias("n_g")
    )
    glob = cust.groupBy("c_mktsegment").agg(F.count("*").alias("c_s"))
    n = cust.agg(F.count("*").alias("n_total"))
    # right-join the global segment list so a segment absent from the
    # group still contributes |0 - p_global|
    full = (
        g.crossJoin(F.broadcast(glob))
        .join(gs, ["c_nationkey", "acct_band", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "c_nationkey",
            "acct_band",
            "n_g",
            F.abs(
                F.coalesce(F.col("c_gs"), F.lit(0)) * 1.0 / F.col("n_g")
                - F.col("c_s") * 1.0 / F.col("n_total")
            ).alias("term"),
        )
    )
    return (
        full.groupBy("c_nationkey", "acct_band", "n_g")
        .agg(
            F.round(F.sum("term") * 0.5 * 10000)
            .cast("long")
            .alias("t_dist_bp")
        )
        .select(
            "c_nationkey",
            "acct_band",
            F.col("n_g").alias("group_size"),
            "t_dist_bp",
            (F.col("t_dist_bp") > T_CLOSE_BP).alias("above_t"),
        )
    )


QUERIES["dq_t_closeness"] = dq_t_closeness

ORACLE["dq_t_closeness"] = f"""
    WITH gs AS (
        SELECT c_nationkey,
               (floor(c_acctbal / 1000))::BIGINT AS acct_band,
               c_mktsegment, count(*)::BIGINT AS c_gs
        FROM customer GROUP BY 1, 2, 3
    ),
    g AS (
        SELECT c_nationkey, acct_band, sum(c_gs)::BIGINT AS n_g
        FROM gs GROUP BY 1, 2
    ),
    gl AS (
        SELECT c_mktsegment, count(*)::BIGINT AS c_s FROM customer
        GROUP BY 1
    ),
    n AS (SELECT count(*)::BIGINT AS n_total FROM customer),
    full_rel AS (
        SELECT g.c_nationkey, g.acct_band, g.n_g,
               abs(coalesce(gs.c_gs, 0) * 1.0 / g.n_g
                   - gl.c_s * 1.0 / n.n_total) AS term
        FROM g CROSS JOIN gl
        LEFT JOIN gs ON gs.c_nationkey = g.c_nationkey
                    AND gs.acct_band = g.acct_band
                    AND gs.c_mktsegment = gl.c_mktsegment
        CROSS JOIN n
    )
    SELECT c_nationkey, acct_band, n_g AS group_size,
           round(sum(term) * 0.5 * 10000)::BIGINT AS t_dist_bp,
           round(sum(term) * 0.5 * 10000)::BIGINT > {T_CLOSE_BP}
               AS above_t
    FROM full_rel GROUP BY 1, 2, 3
"""


def dq_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers (Flajolet et al. 2007) over
    ``events.user_id`` — the mergeable distinct-count sketch every
    100 TB pipeline keeps per partition/day and ORs together instead of
    re-scanning (the cardinality sibling of the CMS sketch behind
    ``text_heavy_hitters``; Spark's own ``approx_count_distinct`` is
    this same structure, built here explicitly so the registers are a
    first-class, persistable, mergeable relation).

    Register construction is EXACT integers end to end — md5-derived
    32-bit hash, low ``HLL_P`` bits pick the register, the rank is the
    position of the first set bit in the remaining field via binary
    string length (no float log2 anywhere) — so the register table is
    hash-comparable across engines; the float estimation formula lives
    in :func:`hll_estimate` and is accuracy-tested (±3σ) rather than
    oracle-hashed, because libm ``ln``/``pow`` are not bit-contracted
    across engines.  Merging two sketches = groupBy(register).max —
    the same aggregate that builds them.

    Scale: one map-side-combined aggregate to at most ``HLL_M`` slim
    rows, whatever the input size."""
    ev = load(spark, sf_dir, "events").select("user_id")
    return hll_partial_registers(ev)


QUERIES["dq_hll_registers"] = dq_hll_registers

_HLL_H = DUCK_H.format(col="user_id::VARCHAR")

ORACLE["dq_hll_registers"] = f"""
    WITH h AS (
        SELECT {_HLL_H} AS hv FROM events
    ),
    {duck_hll_ranked()}
    SELECT register::BIGINT AS register,
           max(rank)::BIGINT AS max_rank
    FROM ranked GROUP BY 1
"""


def dq_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HyperLogLog: per-event_type distinct-user registers —
    the production shape of :func:`dq_hll_registers` (per-source reach,
    per-tenant cardinality: one mergeable sketch per group instead of a
    corpus-global one).  Same exact-integer register construction via
    :func:`hll_partial_registers`, grouped on the type column, so the
    relation stays hash-comparable across engines; per-group estimates
    come from :func:`hll_estimate` over each group's rows and are
    ±3σ-tested against the exact distinct counts.

    Scale: one map-side-combined aggregate to at most
    ``n_groups × HLL_M`` slim rows — per-day/per-source group counts
    are bounded by the calendar/catalog, never by the corpus."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_partial_registers(ev, group_cols=("event_type",))


QUERIES["dq_hll_by_type"] = dq_hll_by_type

ORACLE["dq_hll_by_type"] = f"""
    WITH h AS (
        SELECT event_type, {_HLL_H} AS hv FROM events
    ),
    {duck_hll_ranked("event_type, ")}
    SELECT event_type, register::BIGINT AS register,
           max(rank)::BIGINT AS max_rank
    FROM ranked GROUP BY 1, 2
"""


def dq_hll_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HyperLogLog, time axis: per-day distinct-user registers
    over ``events`` — the sketch a 100 TB pipeline persists per
    ingestion day so ANY date-range cardinality ("distinct users last
    quarter") is a register-max over the covered days, never a rescan.
    Construction shared with :func:`dq_hll_registers` via
    :func:`hll_partial_registers`; day bucketing uses the house
    ``date_trunc('day')`` idiom (bit-identical in both engines)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    return hll_partial_registers(ev, group_cols=("day",))


QUERIES["dq_hll_by_day"] = dq_hll_by_day

ORACLE["dq_hll_by_day"] = f"""
    WITH h AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, {_HLL_H} AS hv
        FROM events
    ),
    {duck_hll_ranked("day, ")}
    SELECT day, register::BIGINT AS register,
           max(rank)::BIGINT AS max_rank
    FROM ranked GROUP BY 1, 2
"""


def dq_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA: per unordered event-type pair, the register
    summaries of each side and of their UNION (a plain register
    max-merge) — everything inclusion–exclusion needs to estimate the
    overlap ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` without ever
    rescanning rows.  This is the audience-overlap / cross-source
    leakage estimator of a 100 TB pipeline: the per-group sketches
    already exist (``dq_hll_by_type``), so EVERY pairwise overlap is
    O(pairs × registers) sketch math, not O(rows) scans.

    The served relation stays exact-integer (register counts and rank
    sums per side and per union) so it is oracle-hashable; the float
    estimation composes driver-side via :func:`hll_estimate` and is
    accuracy-tested against the exact intersections in
    ``tests/test_sketches.py`` (the house split: hashed surface exact,
    libm formula tolerance-tested).

    Scale: the register log is ``n_types × HLL_M`` slim rows; pair
    expansion joins it to the O(types²) pair list (broadcast), so cost
    is independent of the event count."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_partial_registers(ev, group_cols=("event_type",))
    return hll_overlap_from_regs(regs)


def hll_overlap_from_regs(regs: DataFrame) -> DataFrame:
    """The pairwise-overlap register algebra over a grouped register
    relation (event_type, register, max_rank) — shared by the batch
    query and :meth:`~..streaming.hllview.HllIngestSink.overlap_view`
    (which feeds it the log-merged registers), so the streamed overlap
    report equals the batch one by construction."""
    rc = regs.groupBy("event_type").agg(
        F.count("*").alias("n_regs"),
        F.sum("max_rank").alias("sum_rank"),
    )
    pairs = (
        rc.select(
            F.col("event_type").alias("type_a"),
            F.col("n_regs").alias("n_regs_a"),
            F.col("sum_rank").alias("sum_rank_a"),
        )
        .join(
            rc.select(
                F.col("event_type").alias("type_b"),
                F.col("n_regs").alias("n_regs_b"),
                F.col("sum_rank").alias("sum_rank_b"),
            ),
            F.col("type_a") < F.col("type_b"),
        )
    )
    keys = pairs.select("type_a", "type_b")
    side_a = regs.join(
        F.broadcast(keys), regs.event_type == F.col("type_a")
    ).select("type_a", "type_b", "register", "max_rank")
    side_b = regs.join(
        F.broadcast(keys), regs.event_type == F.col("type_b")
    ).select("type_a", "type_b", "register", "max_rank")
    union = (
        side_a.unionByName(side_b)
        .groupBy("type_a", "type_b", "register")
        .agg(F.max("max_rank").alias("u_rank"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_regs_union"),
            F.sum("u_rank").alias("sum_rank_union"),
        )
    )
    return pairs.join(union, ["type_a", "type_b"]).select(
        "type_a", "type_b",
        "n_regs_a", "sum_rank_a", "n_regs_b", "sum_rank_b",
        "n_regs_union", "sum_rank_union",
    )


QUERIES["dq_hll_overlap"] = dq_hll_overlap

# `regs` feeds both per-side summaries and two UNION legs — exactly the
# multi-referenced + UNION-body composition the round-7 flake taught us
# to materialize up front.
ORACLE["dq_hll_overlap"] = f"""
    WITH h AS (
        SELECT event_type, {_HLL_H} AS hv FROM events
    ),
    {duck_hll_ranked("event_type, ")},
    regs AS MATERIALIZED (
        SELECT event_type, register::BIGINT AS register,
               max(rank)::BIGINT AS max_rank
        FROM ranked GROUP BY 1, 2
    ),
    rc AS MATERIALIZED (
        SELECT event_type, count(*)::BIGINT AS n_regs,
               sum(max_rank)::BIGINT AS sum_rank
        FROM regs GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n_regs AS n_regs_a, a.sum_rank AS sum_rank_a,
               b.n_regs AS n_regs_b, b.sum_rank AS sum_rank_b
        FROM rc a JOIN rc b ON a.event_type < b.event_type
    ),
    stacked AS (
        SELECT p.type_a, p.type_b, r.register, r.max_rank
        FROM pairs p JOIN regs r ON r.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, r.register, r.max_rank
        FROM pairs p JOIN regs r ON r.event_type = p.type_b
    ),
    uni AS (
        SELECT type_a, type_b,
               count(*)::BIGINT AS n_regs_union,
               sum(u_rank)::BIGINT AS sum_rank_union
        FROM (
            SELECT type_a, type_b, register, max(max_rank) AS u_rank
            FROM stacked GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_regs_a, sum_rank_a, n_regs_b, sum_rank_b,
           n_regs_union, sum_rank_union
    FROM pairs JOIN uni USING (type_a, type_b)
"""


# The hashed profile surface must not depend on either engine's float /
# timestamp string formatting (Spark emits Java scientific notation for
# doubles >= 1e7 or < 1e-3; DuckDB never does) — so values are
# CANONICALIZED before hashing: doubles via the PRF_SCALE-style
# fixed-scale integer quantization (round(x·10⁶) as bigint — the same
# round-once idiom sim_prf_expand pins), timestamps via unix
# microseconds.  Integers and strings are format-stable as-is.
PROFILE_VAL_SCALE = 10**6

_PROFILE_CANON_SPARK = {
    # ts is TIMESTAMP_NTZ — epoch micros via NTZ wall-clock arithmetic
    # (the operators.windows.epoch_us idiom: session-tz-independent,
    # matches DuckDB epoch_us on the same naive instant exactly).
    "ts": (
        "cast(timestampdiff(MICROSECOND,"
        " cast('1970-01-01 00:00:00' as timestamp_ntz),"
        " cast(ts as timestamp_ntz)) as string)"
    ),
    "value": (
        f"cast(cast(round(value * {PROFILE_VAL_SCALE}, 0) as bigint)"
        " as string)"
    ),
}

_PROFILE_CANON_DUCK = {
    "ts": "epoch_us(ts)::VARCHAR",
    "value": f"round(value::DOUBLE * {PROFILE_VAL_SCALE})::BIGINT::VARCHAR",
}


def _canon_val_spark(c: str):
    return F.expr(_PROFILE_CANON_SPARK.get(c, f"cast({c} as string)"))


def _canon_val_duck(c: str) -> str:
    return _PROFILE_CANON_DUCK.get(c, f"{c}::VARCHAR")


def profile_pairs(ev: DataFrame) -> DataFrame:
    """(column_name, val) stacked pairs over the profiled columns —
    the shared input of the sketch profiler, the driver-side estimate
    helper, and the streaming profile sink.  One explode per row, nulls
    dropped (null accounting is the conditional aggregate's job).
    Values are canonicalized (see ``_PROFILE_CANON_SPARK``) so the
    hashed register surface never rides engine string formatting."""
    return (
        ev.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        _canon_val_spark(c).alias("val"),
                    )
                    for c in PROFILE_COLUMNS
                ])
            ).alias("p")
        )
        .select("p.column_name", "p.val")
        .filter(F.col("val").isNotNull())
    )


def dq_profile_events_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The :func:`dq_profile_events` column profiler with its exact
    ``count(DISTINCT)`` replaced by the HLL register sketch — the swap
    that profiler's docstring promised for 100 TB, now real code.  Per
    column: row count, null count/rate (exact, one conditional-
    aggregation pass — unchanged) plus the sketch's register summary
    (``hll_registers`` = non-zero registers, ``hll_sum_rank``), both
    exact integers so the whole report stays oracle-hashable.  The
    float cardinality estimate is derived from the same registers by
    :func:`hll_estimate` (see :func:`profile_estimates`) and is
    ±3σ-tested against the exact profiler rather than hashed, per the
    house float discipline.

    Round-7: the report also carries DISTRIBUTION SHAPE for the numeric
    ``value`` column — ``p50_lo``/``p90_lo``/``p99_lo``, the exact
    integer lower bounds (quantized micros) of the log bins holding
    those percentiles, served from the :func:`vbin_partial_counts`
    sketch (NULL for non-numeric columns).  The true percentile
    provably lies in the reported bin (containment test in
    ``tests/test_dq.py``).

    Scale: where the exact profiler pays one expand-based
    multi-distinct aggregate (a full re-shuffle of every column's
    values), the sketch pays one map-side-combined aggregate to at most
    ``n_columns × HLL_M`` slim rows — the difference between "rescan
    100 TB per column" and "merge 1024 integers per column"; the bin
    counters add O(bins) more."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    wide = ev.agg(*aggs)
    # One stacked pass builds every column's registers: project each
    # profiled column to a (column_name, value) pair list, explode, and
    # sketch the union — a single aggregate, map-side combined.
    regs = hll_partial_registers(profile_pairs(ev), id_col="val",
                                 group_cols=("column_name",))
    sketch = regs.groupBy("column_name").agg(
        F.count("*").alias("hll_registers"),
        F.sum("max_rank").alias("hll_sum_rank"),
    )
    # unpivot the single wide row with stack() — one events scan for
    # all null counts, not one scan per union branch (the same trick
    # _row_rule_report uses; the exact profiler keeps its historical
    # union shape, this query is the 100 TB posture)
    rows = wide.select(
        "n_rows",
        F.expr(
            "stack({n}, {args}) AS (column_name, n_null)".format(
                n=len(PROFILE_COLUMNS),
                args=", ".join(
                    f"'{c}', null_{c}" for c in PROFILE_COLUMNS
                ),
            )
        ),
    ).select(
        "column_name",
        "n_rows",
        "n_null",
        F.expr("(n_null * 10000) div n_rows").alias("null_bp"),
    )
    vq = profile_value_quantiles(vbin_partial_counts(ev, "value"))
    return (
        rows.join(sketch, "column_name", "left")
        .join(vq, "column_name", "left")
        .select(
            "column_name", "n_rows", "n_null", "null_bp",
            F.coalesce("hll_registers", F.lit(0)).alias("hll_registers"),
            F.coalesce("hll_sum_rank", F.lit(0)).alias("hll_sum_rank"),
            "p50_lo", "p90_lo", "p99_lo",
        )
    )


def profile_value_quantiles(vbins: DataFrame) -> DataFrame:
    """One row (column_name='value', p50_lo, p90_lo, p99_lo) from an
    ungrouped (sign, vbin, cnt) counter relation — the profiler's
    distribution-shape member, shared with
    :class:`~..streaming.profileview.ProfileSketchSink` so the served
    report derives the bounds identically."""
    return (
        vbin_quantile_bounds(vbins, ())
        .agg(
            F.max(F.when(F.col("p") == 50, F.col("q_lo"))).alias("p50_lo"),
            F.max(F.when(F.col("p") == 90, F.col("q_lo"))).alias("p90_lo"),
            F.max(F.when(F.col("p") == 99, F.col("q_lo"))).alias("p99_lo"),
        )
        .withColumn("column_name", F.lit("value"))
    )


QUERIES["dq_profile_events_sketch"] = dq_profile_events_sketch

_HLL_VAL_H = DUCK_H.format(col="val")

ORACLE["dq_profile_events_sketch"] = f"""
    WITH stacked AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS column_name, {_canon_val_duck(c)} AS val"
            " FROM events"
            for c in PROFILE_COLUMNS
        )}
    ),
    h AS (
        SELECT column_name, {_HLL_VAL_H} AS hv FROM stacked
        WHERE val IS NOT NULL
    ),
    {duck_hll_ranked("column_name, ")},
    regs AS (
        SELECT column_name, register, max(rank) AS max_rank
        FROM ranked GROUP BY 1, 2
    ),
    sk AS (
        SELECT column_name, count(*)::BIGINT AS hll_registers,
               sum(max_rank)::BIGINT AS hll_sum_rank
        FROM regs GROUP BY 1
    ),
    base AS (
        {" UNION ALL ".join(
            f'''SELECT '{c}' AS column_name, count(*)::BIGINT AS n_rows,
               sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_null,
               ((sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 10000)
                // count(*))::BIGINT AS null_bp
            FROM events'''
            for c in PROFILE_COLUMNS
        )}
    )
    SELECT b.column_name, b.n_rows, b.n_null, b.null_bp,
           coalesce(sk.hll_registers, 0)::BIGINT AS hll_registers,
           coalesce(sk.hll_sum_rank, 0)::BIGINT AS hll_sum_rank
    FROM base b LEFT JOIN sk USING (column_name)
"""


def profile_estimates(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Driver-side per-column HLL cardinality estimates from the same
    stacked register relation :func:`dq_profile_events_sketch` sketches
    — bounded collect (≤ ``n_columns × HLL_M`` slim rows), then
    :func:`hll_estimate` per column.  The ±3σ accuracy test compares
    these to :func:`dq_profile_events`' exact ``n_distinct``."""
    ev = load(spark, sf_dir, "events")
    regs = hll_partial_registers(
        profile_pairs(ev), id_col="val", group_cols=("column_name",)
    ).collect()
    by_col: dict[str, list] = {}
    for r in regs:
        by_col.setdefault(r.column_name, []).append((r.register, r.max_rank))
    return {c: hll_estimate(rs) for c, rs in by_col.items()}


def dq_hll_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff of per-day sketches (round 6): the CUMULATIVE
    distinct-user curve — for every day, the registers of the sketch
    "all users through day d" — built purely by MERGING the per-day
    registers of :func:`dq_hll_by_day` (running max per register over
    the day order), never by rescanning events.  This is the exact
    query pattern a 100 TB pipeline serves date-range cardinalities
    from ("distinct users last quarter" = one register-max over the
    covered days); the per-day estimate curve derives from these rows
    via :func:`hll_estimate` and is ±3σ-tested against the exact
    cumulative distinct counts.

    Output is compacted to per-(day, register) rows of the cumulative
    sketch.  Scale: O(days × HLL_M) slim rows in, one window max over
    the register partition (each partition is O(days) rows), O(days ×
    HLL_M) out — corpus size never appears."""
    from pyspark.sql.window import Window

    daily = dq_hll_by_day(spark, sf_dir)
    # A register absent on day d but present earlier must still carry
    # forward: build the full (day × register-ever-seen) grid first
    # (bounded: days × occupied registers), then run the running max.
    days = daily.select("day").distinct()
    regs = daily.select("register").distinct()
    grid = days.crossJoin(regs)
    w = (
        Window.partitionBy("register")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["day", "register"], "left")
        .withColumn("cum_rank", F.max("max_rank").over(w))
        .filter(F.col("cum_rank").isNotNull())
        .select("day", "register", F.col("cum_rank").alias("max_rank"))
    )


QUERIES["dq_hll_cumulative"] = dq_hll_cumulative

ORACLE["dq_hll_cumulative"] = f"""
    WITH h AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, {_HLL_H} AS hv
        FROM events
    ),
    {duck_hll_ranked("day, ")},
    daily AS (
        SELECT day, register, max(rank) AS max_rank
        FROM ranked GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.day, r.register
        FROM (SELECT DISTINCT day FROM daily) d
        CROSS JOIN (SELECT DISTINCT register FROM daily) r
    ),
    cum AS (
        SELECT g.day, g.register,
               max(daily.max_rank) OVER (
                   PARTITION BY g.register ORDER BY g.day
                   ROWS UNBOUNDED PRECEDING) AS cum_rank
        FROM grid g LEFT JOIN daily
          ON daily.day = g.day AND daily.register = g.register
    )
    SELECT day, register::BIGINT AS register, cum_rank::BIGINT AS max_rank
    FROM cum WHERE cum_rank IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Grouped log-binned quantile sketch (round 7): the distribution-shape
# twin of hll_partial_registers.  The binning is the DDSketch shape
# (Masson, Rim & Lee, VLDB 2019 — relative-error-bounded log bins,
# mergeable by plain counter addition), made DETERMINISTIC and
# hash-pinnable by computing the bin from the fixed-scale-quantized
# integer value with pure integer ops (msb via length(bin(v)) — the
# idiom the HLL rank already pins cross-engine — plus the top two
# mantissa bits): four sub-bins per octave, so gamma = 2^(1/4) and any
# quantile answered from the bins is within ~9% relative error, with
# EXACT integer bin bounds (the bin containing a rank is exact — only
# the position inside the bin is unknown).  Counters merge by addition
# across partitions, batches, and days; per group the state is
# O(bins) = O(4 · 63) slim rows max.
# ---------------------------------------------------------------------------

VBIN_SCALE = PROFILE_VAL_SCALE   # same fixed-scale micro quantization
VBIN_QUANTILES = (50, 90, 99)    # percentiles the report rungs serve


def vbin_partial_counts(
    df: DataFrame, value_col: str = "value",
    group_cols: tuple[str, ...] = (),
    scale: int = VBIN_SCALE,
) -> DataFrame:
    """(group..., sign, vbin, cnt) log-binned value counters over
    ``df[value_col]`` — THE shared bin constructor for the batch
    queries and the streaming profile sink.  Nulls are dropped (null
    accounting is the profiler's conditional aggregate's job); the
    quantized value, its magnitude, and its msb are each staged ONCE
    via ``withColumn`` (the ``hll_partial_registers`` discipline).
    ``scale=1`` bins an already-integer column exactly (bounds then
    read in the column's own units).

    Input bound: |value·scale| must fit int64 (raw |value| <= ~9.2e12
    at the default micro scale) — within that, the binning is exact
    for EVERY representable magnitude: the sub-bin reads the top two
    mantissa bits as ``shiftright(__v, __m - 2)`` for ``__m >= 2``
    (identical to ``shiftright(__v * 4, __m)`` but with no multiply
    that could wrap at |q| >= 2^61), and NaN is rejected alongside
    NULL (Spark would round NaN to a NULL bin row while DuckDB errors
    casting NaN — a silent cross-engine divergence otherwise)."""
    staged = (
        df.filter(
            F.expr(
                f"{value_col} IS NOT NULL"
                f" AND NOT isnan(cast({value_col} as double))"
            )
        )
        .withColumn(
            "__q",
            F.expr(
                f"cast(round({value_col} * {scale}, 0) as bigint)"
            ),
        )
        .withColumn("__v", F.expr("abs(__q)"))
        .withColumn("__m", F.expr("length(bin(__v)) - 1"))
    )
    return (
        staged.select(
            *group_cols,
            F.expr(
                "cast(case when __q < 0 then -1 when __q = 0 then 0"
                " else 1 end as bigint)"
            ).alias("sign"),
            F.expr(
                "cast(case when __q = 0 then 0"
                " when __m >= 2 then 4 * __m"
                " + shiftright(__v, __m - 2) - 4"
                " else 4 * __m"
                " + shiftright(__v * 4, __m) - 4 end as bigint)"
            ).alias("vbin"),
        )
        .groupBy(*group_cols, "sign", "vbin")
        .agg(F.count("*").alias("cnt"))
    )


def _vbin_duck(grp_select: str, grp_by: str) -> str:
    """DuckDB twin of :func:`vbin_partial_counts` over ``events.value``
    — identical integer binning, parameterized on the group columns
    (``grp_select`` may carry an expression + alias for the first CTE;
    ``grp_by`` is the bare column list the later CTEs reference)."""
    return f"""
    vq AS (
        SELECT {grp_select} round(value::DOUBLE * {VBIN_SCALE})::BIGINT
                   AS q
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
    ),
    vm AS (
        SELECT {grp_by} q, abs(q) AS v,
               (CASE WHEN q = 0 THEN 0
                     ELSE length(bin(abs(q))) - 1 END) AS m
        FROM vq
    ),
    vbinned AS (
        SELECT {grp_by}
               (CASE WHEN q < 0 THEN -1 WHEN q = 0 THEN 0
                     ELSE 1 END)::BIGINT AS sign,
               (CASE WHEN q = 0 THEN 0
                     WHEN m >= 2 THEN 4 * m + (v >> (m - 2)) - 4
                     ELSE 4 * m + ((v * 4) >> m) - 4
                END)::BIGINT AS vbin
        FROM vm
    ),
    vbins AS (
        SELECT {grp_by} sign, vbin, count(*)::BIGINT AS cnt
        FROM vbinned GROUP BY {grp_by} sign, vbin
    )"""


def dq_value_bins_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED quantile sketch, category axis: per-event-type log-bin
    counters over ``events.value`` — the per-source value-distribution
    state a 100 TB pipeline persists so ANY group's percentiles (and
    any rollup of groups: counters ADD) are served from O(bins) rows,
    never a per-group exact-percentile shuffle of the raw values.
    Construction shared with the profiler via
    :func:`vbin_partial_counts`."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    return vbin_partial_counts(ev, group_cols=("event_type",))


QUERIES["dq_value_bins_by_type"] = dq_value_bins_by_type

ORACLE["dq_value_bins_by_type"] = f"""
    WITH {_vbin_duck("event_type,", "event_type,")}
    SELECT event_type, sign, vbin, cnt FROM vbins
"""


# Exact integer bin bounds (inclusive, quantized units): the ceil forms
# are exact for every REACHABLE bin and keep msb=0/1 correct.
_VBIN_LO_U = (
    "(((4 + vbin % 4) * shiftleft(cast(1 as bigint),"
    " cast(vbin div 4 as int))) + 3) div 4"
)
_VBIN_HI_U = (
    "(((5 + vbin % 4) * shiftleft(cast(1 as bigint),"
    " cast(vbin div 4 as int))) + 3) div 4 - 1"
)
_VBIN_LO_U_DUCK = "(((4 + vbin % 4) * (1::BIGINT << (vbin // 4))) + 3) // 4"
_VBIN_HI_U_DUCK = (
    "(((5 + vbin % 4) * (1::BIGINT << (vbin // 4))) + 3) // 4 - 1"
)


def vbin_quantile_bounds(
    bins: DataFrame, group_cols: tuple[str, ...],
    quantiles: tuple[int, ...] = VBIN_QUANTILES,
) -> DataFrame:
    """(group..., p, n_values, q_lo, q_hi) — for each percentile p, the
    EXACT inclusive integer bounds (quantized units) of the bin holding
    the rank-``ceil(n·p/100)`` value, derived from a (group..., sign,
    vbin, cnt) counter relation.  All integer arithmetic: the rank rule
    and the bounds hash identically across engines; only the position
    inside the bin is approximate (bounded by gamma = 2^(1/4)).

    Scale: one cumulative window per group over O(bins) rows."""
    from pyspark.sql.window import Window

    gl = list(group_cols)
    signed_lo = F.expr(
        "cast(case when sign = 0 then 0 when sign = 1 then ("
        + _VBIN_LO_U + ") else -(" + _VBIN_HI_U + ") end as bigint)"
    )
    signed_hi = F.expr(
        "cast(case when sign = 0 then 0 when sign = 1 then ("
        + _VBIN_HI_U + ") else -(" + _VBIN_LO_U + ") end as bigint)"
    )
    ordk = F.expr("sign * vbin")
    w = Window.partitionBy(*gl).orderBy("sign", ordk)
    cum = (
        bins.select(
            *gl, "sign", "vbin", "cnt",
            signed_lo.alias("q_lo"), signed_hi.alias("q_hi"),
        )
        .withColumn("cum", F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
        .withColumn(
            "n_values",
            F.sum("cnt").over(
                Window.partitionBy(*gl).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    ps = F.explode(
        F.array(*[F.lit(p) for p in quantiles])
    ).alias("p")
    return (
        cum.select(*gl, "cnt", "cum", "n_values", "q_lo", "q_hi", ps)
        .withColumn("rank_p", F.expr("(n_values * p + 99) div 100"))
        .filter(
            (F.col("cum") >= F.col("rank_p"))
            & (F.col("cum") - F.col("cnt") < F.col("rank_p"))
        )
        .select(
            *gl, F.col("p").cast("long").alias("p"),
            "n_values", "q_lo", "q_hi",
        )
    )


def dq_value_quantiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type value percentiles SERVED FROM THE BINS: p50/p90/
    p99 as exact integer bin bounds (quantized micros) — what an exact
    per-group ``percentile()`` would need a full re-shuffle of every
    group's values for, answered from the O(bins)-row sketch of
    :func:`dq_value_bins_by_type`.  The true percentile provably lies
    in [q_lo, q_hi] (rank arithmetic over exact counters), pinned by
    the containment test in ``tests/test_dq.py``."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    bins = vbin_partial_counts(ev, group_cols=("event_type",))
    return vbin_quantile_bounds(bins, ("event_type",))


QUERIES["dq_value_quantiles_by_type"] = dq_value_quantiles_by_type

_VBIN_QUANTILE_TAIL = f"""
    bounds AS (
        SELECT *,
               (CASE WHEN sign = 0 THEN 0
                     WHEN sign = 1 THEN ({_VBIN_LO_U_DUCK})
                     ELSE -({_VBIN_HI_U_DUCK}) END)::BIGINT AS q_lo,
               (CASE WHEN sign = 0 THEN 0
                     WHEN sign = 1 THEN ({_VBIN_HI_U_DUCK})
                     ELSE -({_VBIN_LO_U_DUCK}) END)::BIGINT AS q_hi
        FROM vbins
    ),
    cum AS (
        SELECT *,
               sum(cnt) OVER (PARTITION BY {{grp}} ORDER BY sign,
                   sign * vbin ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY {{grp}}) AS n_values
        FROM bounds
    ),
    picked AS (
        SELECT c.*, p.p, ((c.n_values * p.p + 99) // 100) AS rank_p
        FROM cum c
        CROSS JOIN (SELECT unnest(ARRAY{list(VBIN_QUANTILES)}) AS p) p
        WHERE c.cum >= ((c.n_values * p.p + 99) // 100)
          AND c.cum - c.cnt < ((c.n_values * p.p + 99) // 100)
    )
"""

ORACLE["dq_value_quantiles_by_type"] = (
    "WITH "
    + _vbin_duck("event_type,", "event_type,").lstrip()
    + ","
    + _VBIN_QUANTILE_TAIL.format(grp="event_type")
    + """
    SELECT event_type, p::BIGINT AS p, n_values::BIGINT AS n_values,
           q_lo, q_hi
    FROM picked
"""
)


# ---------------------------------------------------------------------------
# Grouped count-min sketch (round 7): the frequency twin — per-day
# heavy-hitter serving state.  Same integer md5-slice hashing as
# ``text_heavy_hitters`` (Cormode & Muthukrishnan 2005), grouped like
# hll_partial_registers so each day's counters are an independent,
# ADDITIVELY mergeable O(depth × width) block (day blocks sum into
# week/month blocks with no rescan).  The blocks are
# ``cms_partial_counters`` at its default shape.
# ---------------------------------------------------------------------------

CMS_DAY_DEPTH = CMS_DEPTH  # 3 independent hash rows (disjoint md5 slices)
CMS_DAY_WIDTH = CMS_WIDTH  # 64 counters per row
CMS_DAY_DENOM = 32   # heavy iff est * 32 >= the day's event count


def _cms_day_pos_duck(i: int, item: str) -> str:
    return f"{duck_md5_slice(f'{item}::VARCHAR', i)} % {CMS_DAY_WIDTH}"


def dq_cms_user_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED count-min sketch, time axis: per-day user-frequency
    counters over ``events`` — the per-ingestion-day heavy-hitter
    state.  Counters are additive, so any date range's sketch is a SUM
    over the covered days' blocks, never a rescan — the CMS analogue of
    :func:`dq_hll_by_day`'s register-max."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    return cms_partial_counters(ev, "user_id", group_cols=("day",))


QUERIES["dq_cms_user_by_day"] = dq_cms_user_by_day

_CMS_DAY_INC = " UNION ALL ".join(
    f"SELECT day, {i}::BIGINT AS r,"
    f" {_cms_day_pos_duck(i, 'user_id')} AS b FROM ev"
    for i in range(CMS_DAY_DEPTH)
)

ORACLE["dq_cms_user_by_day"] = f"""
    WITH ev AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, user_id
        FROM events
    ),
    inc AS ({_CMS_DAY_INC})
    SELECT day, r, b, count(*)::BIGINT AS cnt
    FROM inc GROUP BY 1, 2, 3
"""


def dq_heavy_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day heavy hitters served from the grouped CMS: users whose
    ESTIMATED count (min over the depth rows — never an undercount) is
    at least 1/``CMS_DAY_DENOM`` of the day's events.  The CMS
    guarantee means no true heavy hitter is ever missed; collisions
    can only ADD candidates (the documented one-sided error, same as
    ``text_heavy_hitters``).

    Scale: probes are the distinct (day, user) pairs (bounded by the
    day's distinct actives, not events); the counter join keys on
    (day, r, b) against O(days × depth × width) slim rows."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    counters = cms_partial_counters(ev, "user_id", group_cols=("day",))
    totals = ev.groupBy("day").agg(F.count("*").alias("n_day"))
    probes = (
        ev.distinct()
        .withColumn("__s", F.expr("md5(cast(user_id as string))"))
        .select(
            "day", "user_id",
            F.explode(
                md5_slices("__s", CMS_DAY_DEPTH, CMS_DAY_WIDTH)
            ).alias("p"),
        )
        .select("day", "user_id", "p.r", "p.b")
    )
    est = (
        probes.join(counters, ["day", "r", "b"])
        .groupBy("day", "user_id")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.join(totals, "day")
        .filter(F.col("est_count") * CMS_DAY_DENOM >= F.col("n_day"))
        .select("day", "user_id", "est_count", "n_day")
    )


QUERIES["dq_heavy_users_by_day"] = dq_heavy_users_by_day

_CMS_DAY_PROBES = " UNION ALL ".join(
    f"SELECT day, user_id, {i}::BIGINT AS r,"
    f" {_cms_day_pos_duck(i, 'user_id')} AS b FROM du"
    for i in range(CMS_DAY_DEPTH)
)

ORACLE["dq_heavy_users_by_day"] = f"""
    WITH ev AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, user_id
        FROM events
    ),
    inc AS ({_CMS_DAY_INC}),
    counters AS (
        SELECT day, r, b, count(*)::BIGINT AS cnt
        FROM inc GROUP BY 1, 2, 3
    ),
    totals AS (
        SELECT day, count(*)::BIGINT AS n_day FROM ev GROUP BY 1
    ),
    du AS (SELECT DISTINCT day, user_id FROM ev),
    probes AS ({_CMS_DAY_PROBES}),
    est AS (
        SELECT p.day, p.user_id, min(c.cnt)::BIGINT AS est_count
        FROM probes p
        JOIN counters c ON c.day = p.day AND c.r = p.r AND c.b = p.b
        GROUP BY 1, 2
    )
    SELECT e.day, e.user_id, e.est_count, t.n_day
    FROM est e JOIN totals t ON t.day = e.day
    WHERE e.est_count * {CMS_DAY_DENOM} >= t.n_day
"""


# Round-7: the profiler report gained distribution-shape members (the
# p50/p90/p99 bin lower bounds over `value`); its oracle is
# re-assembled here, after the vbin oracle helpers exist (later
# assignment wins — the dict is flattened once at package import).
ORACLE["dq_profile_events_sketch"] = f"""
    WITH prof AS ({ORACLE["dq_profile_events_sketch"]}),
    {_vbin_duck("", "").lstrip()},
    {_VBIN_QUANTILE_TAIL.format(grp="1").lstrip()},
    vp AS (
        SELECT 'value' AS column_name,
               max(CASE WHEN p = 50 THEN q_lo END)::BIGINT AS p50_lo,
               max(CASE WHEN p = 90 THEN q_lo END)::BIGINT AS p90_lo,
               max(CASE WHEN p = 99 THEN q_lo END)::BIGINT AS p99_lo
        FROM picked
    )
    SELECT prof.*, vp.p50_lo, vp.p90_lo, vp.p99_lo
    FROM prof LEFT JOIN vp USING (column_name)
"""


# ---------------------------------------------------------------------------
# Round-7 rollup rungs: the mergeable-serving payoff for the two new
# sketch families, mirroring what dq_hll_cumulative is to dq_hll_by_day
# — date-range/percentile answers from PURE counter merges, never a
# rescan of the raw events.
# ---------------------------------------------------------------------------


def dq_value_bins_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED quantile sketch, time axis: per-day log-bin value
    counters — the per-ingestion-day distribution state.  Any date
    range's distribution is the SUM of the covered days' counters."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "value"
    )
    return vbin_partial_counts(ev, group_cols=("day",))


QUERIES["dq_value_bins_by_day"] = dq_value_bins_by_day

ORACLE["dq_value_bins_by_day"] = f"""
    WITH {_vbin_duck(
        "date_trunc('day', ts)::TIMESTAMP AS day,", "day,"
    )}
    SELECT day, sign, vbin, cnt FROM vbins
"""


def dq_value_quantiles_cumulative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The percentile CURVE from pure counter addition: for every day,
    p50/p90/p99 bin bounds of ALL values through that day, built by a
    running SUM of the per-day bin counters (:func:`dq_value_bins_by_day`)
    — the exact shape a 100 TB pipeline serves "p99 this quarter" from:
    merge the covered days' O(bins) blocks, walk the cumulative counts;
    events are never rescanned.

    Scale: O(days × bins) slim rows through one window sum (the
    day-grid carry-forward of ``dq_hll_cumulative``), then the same
    rank walk as :func:`dq_value_quantiles_by_type` per day."""
    from pyspark.sql.window import Window

    daily = dq_value_bins_by_day(spark, sf_dir)
    # carry bins forward across days they don't appear in (bounded
    # grid: days × occupied (sign, vbin) keys — the hll_cumulative
    # pattern; compiles to a broadcast nested loop, not a cartesian)
    days = daily.select("day").distinct()
    keys = daily.select("sign", "vbin").distinct()
    grid = days.crossJoin(keys)
    w = (
        Window.partitionBy("sign", "vbin")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(daily, ["day", "sign", "vbin"], "left")
        .withColumn("ccnt", F.sum("cnt").over(w))
        .filter(F.col("ccnt").isNotNull())
        .select("day", "sign", "vbin", F.col("ccnt").alias("cnt"))
    )
    return vbin_quantile_bounds(cum, ("day",))


QUERIES["dq_value_quantiles_cumulative"] = dq_value_quantiles_cumulative

ORACLE["dq_value_quantiles_cumulative"] = (
    "WITH "
    + _vbin_duck(
        "date_trunc('day', ts)::TIMESTAMP AS day,", "day,"
    ).lstrip()
    + """,
    grid AS (
        SELECT d.day, k.sign, k.vbin
        FROM (SELECT DISTINCT day FROM vbins) d
        CROSS JOIN (SELECT DISTINCT sign, vbin FROM vbins) k
    ),
    cumd AS (
        SELECT g.day, g.sign, g.vbin,
               sum(v.cnt) OVER (
                   PARTITION BY g.sign, g.vbin ORDER BY g.day
                   ROWS UNBOUNDED PRECEDING) AS cnt
        FROM grid g LEFT JOIN vbins v
          ON v.day = g.day AND v.sign = g.sign AND v.vbin = g.vbin
    ),
    cvbins AS (
        SELECT day, sign, vbin, cnt::BIGINT AS cnt FROM cumd
        WHERE cnt IS NOT NULL
    ),
    """
    + _VBIN_QUANTILE_TAIL.format(grp="day").replace(
        "FROM vbins", "FROM cvbins"
    ).lstrip()
    + """
    SELECT day, p::BIGINT AS p, n_values::BIGINT AS n_values,
           q_lo, q_hi
    FROM picked
"""
)


CMS_ROLLUP_TOPK = 10   # range "top talkers" served from merged blocks


def dq_heavy_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range TOP TALKERS from the per-day CMS blocks: SUM the
    per-day counters (:func:`dq_cms_user_by_day`) into one range
    sketch — exactly the counters a whole-range CMS would hold, since
    count-min merges by addition — probe the range's distinct users
    against it, and report the ``CMS_ROLLUP_TOPK`` highest estimates
    (est desc, user_id tie-break).  Top-k rather than a φ-threshold
    because a near-uniform range legitimately has NO φ-heavy hitter —
    the top-talker list is the question a range rollup answers either
    way; the raw events are touched only for the probe list and the
    total, never re-sketched.

    Scale: the merge is one aggregate over O(days × depth × width)
    slim rows; probes are distinct users; top-k rides one global
    WindowGroupLimit over O(users) estimates."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    merged = (
        dq_cms_user_by_day(spark, sf_dir)
        .groupBy("r", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    total = ev.agg(F.count("*").alias("n_range"))
    probes = (
        ev.select("user_id").distinct()
        .withColumn("__s", F.expr("md5(cast(user_id as string))"))
        .select(
            "user_id",
            F.explode(
                md5_slices("__s", CMS_DAY_DEPTH, CMS_DAY_WIDTH)
            ).alias("p"),
        )
        .select("user_id", "p.r", "p.b")
    )
    est = (
        probes.join(merged, ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
    )
    w = Window.orderBy(F.desc("est_count"), F.asc("user_id"))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CMS_ROLLUP_TOPK)
        .crossJoin(F.broadcast(total))
        .select("user_id", "est_count", "n_range",
                F.col("rank").cast("long").alias("rank"))
    )


QUERIES["dq_heavy_users_rollup"] = dq_heavy_users_rollup

_CMS_ROLLUP_PROBES = " UNION ALL ".join(
    f"SELECT user_id, {i}::BIGINT AS r,"
    f" {_cms_day_pos_duck(i, 'user_id')} AS b FROM du"
    for i in range(CMS_DAY_DEPTH)
)

ORACLE["dq_heavy_users_rollup"] = f"""
    WITH ev AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, user_id
        FROM events
    ),
    inc AS ({_CMS_DAY_INC}),
    daily AS (
        SELECT day, r, b, count(*)::BIGINT AS cnt
        FROM inc GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT r, b, sum(cnt)::BIGINT AS cnt FROM daily GROUP BY 1, 2
    ),
    total AS (SELECT count(*)::BIGINT AS n_range FROM ev),
    du AS (SELECT DISTINCT user_id FROM ev),
    probes AS ({_CMS_ROLLUP_PROBES}),
    est AS (
        SELECT p.user_id, min(m.cnt)::BIGINT AS est_count
        FROM probes p JOIN merged m ON m.r = p.r AND m.b = p.b
        GROUP BY 1
    ),
    ranked AS (
        SELECT user_id, est_count, row_number() OVER (
            ORDER BY est_count DESC, user_id)::BIGINT AS rank
        FROM est
    )
    SELECT e.user_id, e.est_count, t.n_range, e.rank
    FROM ranked e CROSS JOIN total t
    WHERE e.rank <= {CMS_ROLLUP_TOPK}
"""


# Round-7: the grouped quantile sketch pointed at the LLM-data corpus —
# per-source document-length distribution, the dataset-card number a
# mixture designer reads before setting packing/curriculum policy.
# Imported at the BOTTOM of this module so the dq<->llmdata import
# cycle stays resolvable in either entry order (llmdata's own dq
# imports sit mid-file, after everything they need here).
from .llmdata import _DUCK_TOKS as _DOCLEN_DUCK_TOKS  # noqa: E402
from .llmdata import _SPARK_TOKS as _DOCLEN_SPARK_TOKS  # noqa: E402


def dq_doclen_quantiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source DOCUMENT-LENGTH percentiles (p50/p90/p99 in whole
    tokens) served from the log-bin sketch — the grouped quantile rung
    on the documents table.  ``scale=1`` bins the exact integer token
    counts, so the reported bounds are in tokens; the true percentile
    provably lies in the reported bin (same containment law as the
    events rung).

    Scale: one tokenize pass to slim (source, n_tokens) pairs, one
    map-side-combined aggregate to O(sources × bins) counters, one
    rank walk per source — a 100 TB corpus's length profile without a
    per-source exact-percentile shuffle of the raw lengths."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.expr(_DOCLEN_SPARK_TOKS)).cast("double").alias("doclen"),
    )
    bins = vbin_partial_counts(
        docs, "doclen", group_cols=("source",), scale=1
    )
    return vbin_quantile_bounds(bins, ("source",))


QUERIES["dq_doclen_quantiles_by_source"] = dq_doclen_quantiles_by_source

ORACLE["dq_doclen_quantiles_by_source"] = (
    f"""
    WITH vq AS (
        SELECT source, len({_DOCLEN_DUCK_TOKS})::BIGINT AS q
        FROM documents
    ),
    vm AS (
        SELECT source, q, abs(q) AS v,
               (CASE WHEN q = 0 THEN 0
                     ELSE length(bin(abs(q))) - 1 END) AS m
        FROM vq
    ),
    vbinned AS (
        SELECT source,
               (CASE WHEN q < 0 THEN -1 WHEN q = 0 THEN 0
                     ELSE 1 END)::BIGINT AS sign,
               (CASE WHEN q = 0 THEN 0
                     WHEN m >= 2 THEN 4 * m + (v >> (m - 2)) - 4
                     ELSE 4 * m + ((v * 4) >> m) - 4
                END)::BIGINT AS vbin
        FROM vm
    ),
    vbins AS (
        SELECT source, sign, vbin, count(*)::BIGINT AS cnt
        FROM vbinned GROUP BY source, sign, vbin
    ),
    """
    + _VBIN_QUANTILE_TAIL.format(grp="source").lstrip()
    + """
    SELECT source, p::BIGINT AS p, n_values::BIGINT AS n_values,
           q_lo, q_hi
    FROM picked
"""
)
