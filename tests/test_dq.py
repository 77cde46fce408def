

def test_hll_estimate_within_3_sigma(spark, sf_dir):
    """The HLL registers estimate the true distinct user count within
    3 standard errors (sigma = 1.04/sqrt(m)) — the Flajolet guarantee,
    checked against the exact count; merging the sketch with itself
    must be a no-op (max is idempotent)."""
    from beam_scala_examples_spark.operators.sketches import (
        hll_estimate,
        HLL_M,
    )
    from beam_scala_examples_spark.queries.dq import dq_hll_registers
    from beam_scala_examples_spark.tables import load

    regs = dq_hll_registers(spark, sf_dir).collect()
    est = hll_estimate([(r.register, r.max_rank) for r in regs])
    exact = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    sigma = 1.04 / (HLL_M ** 0.5)
    assert abs(est - exact) / exact <= 3 * sigma, (est, exact)
    # self-merge is a no-op
    df = dq_hll_registers(spark, sf_dir)
    merged = (
        df.unionByName(df)
        .groupBy("register")
        .agg(__import__("pyspark").sql.functions.max("max_rank")
             .alias("max_rank"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, regs)
    )


def test_hll_grouped_estimates_within_3_sigma(spark, sf_dir):
    """Round-6 grouped sketches: per-event_type register estimates hit
    the exact per-type distinct user counts within 3 sigma."""
    from beam_scala_examples_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
    )
    from beam_scala_examples_spark.queries.dq import dq_hll_by_type
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    regs = dq_hll_by_type(spark, sf_dir).collect()
    by_type: dict = {}
    for r in regs:
        by_type.setdefault(r.event_type, []).append((r.register, r.max_rank))
    exact = {
        r.event_type: r.nd
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    sigma = 1.04 / (HLL_M ** 0.5)
    assert set(by_type) == set(exact)
    for t, rs in by_type.items():
        est = hll_estimate(rs)
        assert abs(est - exact[t]) / exact[t] <= 3 * sigma, (t, est, exact[t])


def test_profile_sketch_estimates_within_3_sigma(spark, sf_dir):
    """The sketch-backed profiler's per-column estimates (same stacked
    registers dq_profile_events_sketch hashes) land within 3 sigma of
    the exact profiler's n_distinct for EVERY profiled column."""
    from beam_scala_examples_spark.operators.sketches import HLL_M
    from beam_scala_examples_spark.queries.dq import (
        PROFILE_COLUMNS,
        dq_profile_events,
        profile_estimates,
    )

    ests = profile_estimates(spark, sf_dir)
    exact = {
        r.column_name: r.n_distinct
        for r in dq_profile_events(spark, sf_dir).collect()
    }
    sigma = 1.04 / (HLL_M ** 0.5)
    assert set(ests) == set(PROFILE_COLUMNS) == set(exact)
    for c in PROFILE_COLUMNS:
        assert abs(ests[c] - exact[c]) / exact[c] <= 3 * sigma, (
            c, ests[c], exact[c],
        )


def test_hll_cumulative_curve_within_3_sigma(spark, sf_dir):
    """The cumulative register curve (pure register merging, no rescan)
    estimates the exact running distinct-user count within 3 sigma on
    EVERY day, and the final day's registers equal the corpus-global
    sketch exactly (merge law end-to-end)."""
    from beam_scala_examples_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
    )
    from beam_scala_examples_spark.queries.dq import (
        dq_hll_cumulative,
        dq_hll_registers,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    rows = dq_hll_cumulative(spark, sf_dir).collect()
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r.day, []).append((r.register, r.max_rank))
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    days = sorted(by_day)
    sigma = 1.04 / (HLL_M ** 0.5)
    for day in days:
        exact = (
            ev.filter(F.col("day") <= day)
            .select("user_id").distinct().count()
        )
        est = hll_estimate(by_day[day])
        assert abs(est - exact) / exact <= 3 * sigma, (day, est, exact)
    final = sorted(by_day[days[-1]])
    glob = sorted(
        (r.register, r.max_rank)
        for r in dq_hll_registers(spark, sf_dir).collect()
    )
    assert final == glob


def test_card_source_estimates_within_3_sigma(spark, sf_dir):
    """The dataset card's per-source register counts back a real
    estimator: per-source distinct-text estimates land within 3 sigma
    of the exact counts for EVERY source."""
    import pyspark.sql.functions as F

    from beam_scala_examples_spark.operators.sketches import HLL_M
    from beam_scala_examples_spark.queries.llmdata import (
        card_source_estimates,
    )
    from beam_scala_examples_spark.tables import load

    ests = card_source_estimates(spark, sf_dir)
    exact = {
        r.source: r.nd
        for r in load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.countDistinct("text").alias("nd"))
        .collect()
    }
    sigma = 1.04 / (HLL_M ** 0.5)
    assert set(ests) == set(exact) and len(ests) >= 5
    for s in exact:
        assert abs(ests[s] - exact[s]) / exact[s] <= 3 * sigma, (
            s, ests[s], exact[s],
        )


def test_vbin_quantile_bounds_contain_exact(spark, sf_dir):
    """Round-7 grouped quantile sketch: for every event_type and every
    served percentile, the EXACT percentile of the quantized values
    (same ceil-rank rule) lies inside the reported [q_lo, q_hi] bin —
    the containment guarantee that makes the bin bounds an honest
    distribution-shape answer (only the position inside the bin is
    approximate, bounded by gamma = 2^(1/4))."""
    from beam_scala_examples_spark.queries.dq import (
        VBIN_SCALE,
        dq_value_quantiles_by_type,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    got = {
        (r.event_type, r.p): (r.n_values, r.q_lo, r.q_hi)
        for r in dq_value_quantiles_by_type(spark, sf_dir).collect()
    }
    assert got, "no quantile rows"
    vals = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr(
                f"cast(round(value * {VBIN_SCALE}, 0) as bigint)"
            ).alias("q"),
        )
        .collect()
    )
    by_type: dict = {}
    for r in vals:
        by_type.setdefault(r.event_type, []).append(r.q)
    for (etype, p), (n_values, q_lo, q_hi) in got.items():
        qs = sorted(by_type[etype])
        assert n_values == len(qs)
        rank = (len(qs) * p + 99) // 100  # ceil, 1-indexed
        exact = qs[rank - 1]
        assert q_lo <= exact <= q_hi, (etype, p, q_lo, exact, q_hi)
        # relative width of the bin respects the gamma bound (~9%
        # around the geometric midpoint; generous integer check)
        if exact > 0:
            assert (q_hi + 1) * 8 <= q_lo * 10 or q_hi - q_lo <= 1, (
                etype, p, q_lo, q_hi,
            )


def test_vbin_counters_merge_additively(spark, sf_dir):
    """Bin counters of the whole equal the SUM of the counters of an
    even/odd split — the mergeability that lets per-day bin blocks roll
    up into any date range with no rescan."""
    from beam_scala_examples_spark.queries.dq import vbin_partial_counts
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    ev = load(spark, sf_dir, "events")
    whole = sorted(
        tuple(r) for r in vbin_partial_counts(ev, "value").collect()
    )
    parts = vbin_partial_counts(
        ev.filter(F.col("event_id") % 2 == 0), "value"
    ).unionByName(
        vbin_partial_counts(ev.filter(F.col("event_id") % 2 == 1), "value")
    )
    merged = sorted(
        tuple(r)
        for r in parts.groupBy("sign", "vbin")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    assert whole == merged and len(whole) > 0


def test_cms_never_undercounts_and_no_heavy_hitter_missed(spark, sf_dir):
    """Round-7 grouped CMS: per (day, user) the sketch estimate is >=
    the true count (one-sided error), and every TRUE heavy hitter
    (true count * DENOM >= day total) appears in dq_heavy_users_by_day
    — the Cormode-Muthukrishnan guarantee on the grouped counters."""
    from beam_scala_examples_spark.queries.dq import (
        CMS_DAY_DENOM,
        dq_heavy_users_by_day,
        dq_cms_user_by_day,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    true_counts = {
        (r.day, r.user_id): r.c
        for r in ev.groupBy("day", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    day_totals: dict = {}
    for (day, _), c in true_counts.items():
        day_totals[day] = day_totals.get(day, 0) + c
    hh = {
        (r.day, r.user_id): r.est_count
        for r in dq_heavy_users_by_day(spark, sf_dir).collect()
    }
    # est >= true for every reported row
    for k, est in hh.items():
        assert est >= true_counts[k], (k, est, true_counts[k])
    # no true heavy hitter missed
    missed = [
        k
        for k, c in true_counts.items()
        if c * CMS_DAY_DENOM >= day_totals[k[0]] and k not in hh
    ]
    assert not missed, missed
    assert len(hh) > 0  # the gate actually fires on the fixture
    # counters of the whole == sum of an even/odd user split
    whole = sorted(
        tuple(r) for r in dq_cms_user_by_day(spark, sf_dir).collect()
    )
    from beam_scala_examples_spark.operators.sketches import (
        cms_partial_counters,
    )

    parts = cms_partial_counters(
        ev.filter(F.col("user_id") % 2 == 0), "user_id", ("day",)
    ).unionByName(
        cms_partial_counters(
            ev.filter(F.col("user_id") % 2 == 1), "user_id", ("day",)
        )
    )
    merged = sorted(
        tuple(r)
        for r in parts.groupBy("day", "r", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    assert whole == merged


def test_rollup_rungs_equal_direct_global_sketches(spark, sf_dir):
    """Round-7 rollup rungs: (a) the cumulative percentile curve's LAST
    day equals the bounds derived from a directly-built corpus-global
    bin relation, and (b) date-range heavy hitters served from summed
    per-day CMS blocks equal the probe against a directly-built global
    CMS — merging really is lossless for both sketch kinds."""
    from beam_scala_examples_spark.operators.sketches import (
        cms_partial_counters,
    )
    from beam_scala_examples_spark.queries.dq import (
        dq_heavy_users_rollup,
        dq_value_quantiles_cumulative,
        vbin_partial_counts,
        vbin_quantile_bounds,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    ev = load(spark, sf_dir, "events")
    curve = dq_value_quantiles_cumulative(spark, sf_dir).collect()
    last_day = max(r.day for r in curve)
    last = sorted(
        (r.p, r.n_values, r.q_lo, r.q_hi)
        for r in curve
        if r.day == last_day
    )
    direct = sorted(
        (r.p, r.n_values, r.q_lo, r.q_hi)
        for r in vbin_quantile_bounds(
            vbin_partial_counts(ev, "value"), ()
        ).collect()
    )
    assert last == direct and len(last) == 3

    rollup = sorted(
        (r.user_id, r.est_count, r.n_range, r.rank)
        for r in dq_heavy_users_rollup(spark, sf_dir).collect()
    )
    gcms = cms_partial_counters(ev.select("user_id"), "user_id")
    total = ev.count()
    probes = (
        ev.select("user_id").distinct()
        .withColumn("__s", F.expr("md5(cast(user_id as string))"))
    )
    from beam_scala_examples_spark.queries.dq import (
        CMS_DAY_DEPTH,
        CMS_DAY_WIDTH,
    )

    pr = probes.select(
        "user_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).cast("long").alias("r"),
                F.expr(
                    f"cast(conv(substr(__s, {1 + 8 * i}, 8), 16, 10)"
                    f" as bigint) % {CMS_DAY_WIDTH}"
                ).alias("b"),
            )
            for i in range(CMS_DAY_DEPTH)
        ])).alias("p"),
    ).select("user_id", "p.r", "p.b")
    from beam_scala_examples_spark.queries.dq import CMS_ROLLUP_TOPK

    direct_est = sorted(
        ((r.est_count, r.user_id))
        for r in pr.join(gcms, ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
        .collect()
    )
    direct_top = sorted(
        (uid, est, total, i + 1)
        for i, (est, uid) in enumerate(
            sorted(direct_est, key=lambda t: (-t[0], t[1]))[
                :CMS_ROLLUP_TOPK
            ]
        )
    )
    assert rollup == direct_top and len(rollup) > 0


def test_vbin_extreme_magnitudes_match_python_and_duckdb(spark):
    """Round-8 overflow hardening (ADVICE r07): quantized magnitudes at
    and above 2^61 — where the old ``shiftright(v * 4, m)`` sub-bin
    silently wrapped in Spark while DuckDB raised — now bin via
    ``shiftright(v, m - 2)`` identically in Spark, DuckDB, and the
    arbitrary-precision Python mirror; NULL and NaN rows are dropped on
    both engines instead of diverging (Spark used to emit a NULL bin,
    DuckDB used to error)."""
    import duckdb
    import pyspark.sql.functions as F

    from beam_scala_examples_spark.queries.dq import vbin_partial_counts
    from tests.test_properties import _vbin_py

    vals = [
        float(2**61), float(2**62), float(2**62 + 512),
        float(2**63 - 1024), -float(2**61), -float(2**62 + 512),
        3.0, 4.0, 0.0, 1.0, 2.0, float(2**61 - 512),
    ]
    rows = [(v,) for v in vals] + [(None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "value double")
    got = sorted(
        (r.sign, r.vbin, r.cnt)
        for r in vbin_partial_counts(df, "value", scale=1).collect()
    )
    # arbitrary-precision mirror (doubles here are exact integers)
    from collections import Counter

    exp = Counter(_vbin_py(int(v)) for v in vals)
    assert got == sorted((s, b, c) for (s, b), c in exp.items())
    # DuckDB twin of the same staged integer binning
    duck = duckdb.connect()
    duck_rows = duck.execute(
        """
        WITH vq AS (
            SELECT round(value::DOUBLE)::BIGINT AS q
            FROM (SELECT unnest(?) AS value)
            WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
        ),
        vm AS (
            SELECT q, abs(q) AS v,
                   (CASE WHEN q = 0 THEN 0
                         ELSE length(bin(abs(q))) - 1 END) AS m
            FROM vq
        )
        SELECT (CASE WHEN q < 0 THEN -1 WHEN q = 0 THEN 0
                     ELSE 1 END)::BIGINT AS sign,
               (CASE WHEN q = 0 THEN 0
                     WHEN m >= 2 THEN 4 * m + (v >> (m - 2)) - 4
                     ELSE 4 * m + ((v * 4) >> m) - 4
                END)::BIGINT AS vbin,
               count(*)::BIGINT AS cnt
        FROM vm GROUP BY 1, 2 ORDER BY 1, 2
        """,
        [vals + [None, float("nan")]],
    ).fetchall()
    assert got == [tuple(r) for r in duck_rows]


def test_hll_overlap_inclusion_exclusion_tracks_exact(spark, sf_dir):
    """Round-8 sketch set algebra (dq_hll_overlap): per type pair, the
    relation's side/union summaries must agree exactly with a register
    reconstruction (union = plain max-merge), and the inclusion-
    exclusion estimate est(A)+est(B)-est(A∪B) must track the exact
    intersection within the compounded 3-sigma budget of its three
    estimate terms."""
    from beam_scala_examples_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
    )
    from beam_scala_examples_spark.queries.dq import (
        dq_hll_by_type,
        dq_hll_overlap,
    )
    from beam_scala_examples_spark.tables import load
    import pyspark.sql.functions as F

    by_type: dict = {}
    for r in dq_hll_by_type(spark, sf_dir).collect():
        by_type.setdefault(r.event_type, {})[r.register] = r.max_rank

    tu = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    users: dict = {}
    for r in tu:
        users.setdefault(r.event_type, set()).add(r.user_id)

    pairs = dq_hll_overlap(spark, sf_dir).collect()
    assert len(pairs) == len(by_type) * (len(by_type) - 1) // 2
    sigma = 1.04 / (HLL_M ** 0.5)
    for p in pairs:
        a, b = by_type[p.type_a], by_type[p.type_b]
        merged = dict(a)
        for reg, rk in b.items():
            merged[reg] = max(merged.get(reg, 0), rk)
        # exact-integer surface == reconstruction (this is what the
        # DuckDB oracle hash-pins too; re-checked here against the
        # independently collected per-type registers)
        assert (p.n_regs_a, p.sum_rank_a) == (len(a), sum(a.values()))
        assert (p.n_regs_b, p.sum_rank_b) == (len(b), sum(b.values()))
        assert (p.n_regs_union, p.sum_rank_union) == (
            len(merged), sum(merged.values()),
        )
        est = (
            hll_estimate(list(a.items()))
            + hll_estimate(list(b.items()))
            - hll_estimate(list(merged.items()))
        )
        exact = len(users[p.type_a] & users[p.type_b])
        budget = 3 * sigma * (
            len(users[p.type_a])
            + len(users[p.type_b])
            + len(users[p.type_a] | users[p.type_b])
        )
        assert abs(est - exact) <= budget, (p.type_a, p.type_b, est, exact)
