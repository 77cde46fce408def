#!/usr/bin/env python
"""Measured-scaling probe: inflate the fixture ``documents`` table by
1x / 4x / 16x and time representative engine paths at each factor, so
the docs/SCALE.md claims ("shuffle grows with docs, not pairs";
"map-only ops scale with input bandwidth") are measurements, not
assertions.

Copies are DECORRELATED (per-copy letter-rotation of the text), so
inflation multiplies the distinct-shingle/document population instead of
creating cross-copy near-duplicates — the probe measures throughput on
more data, not a quadratic duplicate blowup the fixture doesn't have.
Non-document tables are symlinked from the source SF dir, so every
registered query runs unchanged against the probe dirs.

Usage: python tools/scale_probe.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from beam_scala_examples_spark.queries import QUERIES  # noqa: E402
from beam_scala_examples_spark.session import get_spark  # noqa: E402
from beam_scala_examples_spark.tables import TABLES, load  # noqa: E402

FACTORS = (1, 4, 16)
PROBES = (
    "dedup_minhash_pairs",   # LSH candidate join: Sigma|bucket|^2 path
    "dedup_exact",           # one hash shuffle
    "text_quality_score",    # map-only scan
    "text_vocabulary",       # explode + hash agg + top-k
    "events_sessions",       # session-window sessionization
    "events_asof_click",     # as-of join (union + running-last)
    "events_user_activity_7d",  # RANGE frame over user-day aggregate
    "text_lm_score",         # corpus-sized vocab join (hint-free, AQE-sized)
    "events_segment_revenue",   # dim join (hint-free) + additive rollup
    "text_bpe_encode",       # vocab-sized training rounds + encode join
    "dedup_lsh_novelty",     # bucket-min + one equi-join back
    "dedup_lsh_novelty_vote",  # Sigma|bucket|^2 pair votes (r-of-b)
    "text_top_ngram_chars",  # 3x (doc, gram) partial-agg shuffles
)
BASE = "/tmp/scale_probe"


def build_dirs(spark, sf_dir: str,
               factors: tuple[int, ...] = FACTORS) -> dict[int, str]:
    """Probe dirs with `documents` and `events` inflated by each factor
    (decorrelated copies: rotated text / disjoint user+event id ranges),
    all other tables symlinked."""
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    n_docs = docs.count()
    id_span = ev.agg(
        F.max("event_id").alias("e"), F.max("user_id").alias("u")
    ).collect()[0]
    lower = string.ascii_lowercase
    dirs = {}
    for f in factors:
        d = os.path.join(BASE, f"f{f}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for t in TABLES:
            if t not in ("documents", "events"):
                os.symlink(
                    os.path.join(os.path.abspath(sf_dir), f"{t}.parquet"),
                    os.path.join(d, f"{t}.parquet"),
                )
        doc_parts, ev_parts = [], []
        for k in range(f):
            rot = lower[k % 26:] + lower[: k % 26]
            doc_parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(k * n_docs)).alias("doc_id"),
                    F.translate("text", lower, rot).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
            ev_parts.append(
                ev.select(
                    (F.col("event_id") + F.lit(k * (id_span.e + 1))).alias(
                        "event_id"
                    ),
                    "ts",
                    (F.col("user_id") + F.lit(k * (id_span.u + 1))).alias(
                        "user_id"
                    ),
                    "event_type",
                    "value",
                    "props",
                )
            )

        def _union(parts):
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        _union(doc_parts).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        _union(ev_parts).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        dirs[f] = d
    return dirs


def whale_probe(spark, sf_dir: str, factor: int = 64,
                fanout: int = 32) -> dict:
    """Measured salting effect on a planted whale key (VERDICT r02
    item 5).  Builds a ``factor``x events relation where 95% of rows
    carry ONE user_id (the whale) plus a per-user dim, then times:

     - join, unsalted, AQE skew-join disabled — simulates bucketed /
       storage-partitioned joins where the runtime split is
       unavailable; every whale row sorts/joins in ONE reducer task;
     - join, unsalted, AQE skew-join enabled — what AQE recovers by
       itself (at this payload size the whale partition sits under
       AQE's default 256 MB skewedPartitionThresholdInBytes, so the
       split does NOT trigger — the salt is load-bearing even with
       AQE on);
     - join, ``operators/skew.py::salted_join`` — the big side keys on
       (user, salt); the only extra cost is replicating the small dim
       ``fanout``x, so there is no second full-payload exchange;
     - collect_list, unsalted vs ``salted_collect`` — the HONEST
       negative: the two-stage collect re-shuffles the full payload,
       and on local[32]'s in-memory shuffle that costs more than the
       straggler saves.  Salted collect pays off only when the
       straggler dominates (cluster-scale network / memory pressure),
       which is exactly what its docstring says.

    The dim is kept above the broadcast threshold path by disabling
    auto-broadcast for the probe (simulating a dim too big to
    broadcast — the 100 TB posture where salting matters).  Equality
    of salted and unsalted plans is pinned by tests/test_skew.py;
    this probe prices them.
    """
    from beam_scala_examples_spark.operators.skew import (
        salted_collect,
        salted_join,
    )

    ev = load(spark, sf_dir, "events")
    span = ev.agg(F.max("event_id").alias("e")).collect()[0]
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(k * (span.e + 1))).alias("event_id"),
            "user_id", "props",
        )
        for k in range(factor)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    whale = big.select(
        "event_id",
        F.when(F.col("event_id") % 20 != 0, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "props",
    )
    d = os.path.join(BASE, "whale")
    shutil.rmtree(d, ignore_errors=True)
    whale.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    df = spark.read.parquet(os.path.join(d, "events.parquet"))
    df.select("user_id").distinct().withColumn(
        "segment", F.pmod(F.col("user_id"), F.lit(7))
    ).write.mode("overwrite").parquet(os.path.join(d, "dim.parquet"))
    dim = spark.read.parquet(os.path.join(d, "dim.parquet"))

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
        )
    }

    def timed(fn) -> float:
        fn().write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def join_unsalted():
        return df.join(dim, "user_id").select(
            "event_id", "segment", "props"
        )

    def join_salted():
        return salted_join(
            df, dim, "user_id", fanout=fanout, salt_from="event_id"
        ).select("event_id", "segment", "props")

    def coll_unsalted():
        return df.groupBy("user_id").agg(
            F.collect_list("props").alias("values")
        )

    def coll_salted():
        return salted_collect(
            df, ["user_id"], "props", fanout=fanout, salt_from="event_id"
        )

    out: dict = {"rows": df.count(), "whale_pct": 95, "fanout": fanout}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["join_unsalted"] = timed(join_unsalted)
        out["join_salted"] = timed(join_salted)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        out["join_unsalted_aqe_skew"] = timed(join_unsalted)
        out["coll_unsalted"] = timed(coll_unsalted)
        out["coll_salted"] = timed(coll_salted)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    out["join_speedup"] = round(
        out["join_unsalted"] / out["join_salted"], 2
    )
    out["coll_speedup"] = round(
        out["coll_unsalted"] / out["coll_salted"], 2
    )
    for k, v in out.items():
        print(f"whale {k}: {v}", flush=True)
    return out


def carry_probe(spark, sf_dir: str, factor: int = 128,
                span: int = 8192) -> dict:
    """Measured effect of the sharded prefix sum (VERDICT r03 item 1)
    on a planted whale SOURCE: builds a ``factor``x documents relation
    where 90% of rows share one source, then times the per-source
    running sum both ways:

     - naive: ``Window.partitionBy(source).orderBy(doc_id)`` — the
       whale source's entire history sorts in ONE task (the shape the
       round-3 packers shipped);
     - sharded: ``operators/carry.py::sharded_prefix_sum`` with
       ``doc_id div span`` range shards — per-task sorts bounded by
       ``span`` rows, per-shard totals carried back.

    Equality of the two answers is asserted here (and pinned by
    tests/test_carry.py); this probe prices the straggler."""
    from beam_scala_examples_spark.operators.carry import (
        sharded_prefix_sum,
    )
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    span_id = docs.agg(F.max("doc_id").alias("m")).collect()[0].m + 1
    # generator-based inflation: one explode, constant-size plan — a
    # factor-way union's ANALYSIS cost alone dominated past ~1000x
    big = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__k"),
    ).select(
        (F.col("doc_id") + F.col("__k") * F.lit(span_id)).alias("doc_id"),
        "source",
        "n_chars",
    )
    whale = big.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 != 0, F.lit("whale"))
        .otherwise(F.col("source"))
        .alias("source"),
        "n_chars",
    )
    d = os.path.join(BASE, "carry")
    shutil.rmtree(d, ignore_errors=True)
    whale.write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    df = spark.read.parquet(os.path.join(d, "documents.parquet"))

    def timed(fn) -> float:
        fn().write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def naive():
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df.withColumn(
            "cum", F.coalesce(F.sum("n_chars").over(w), F.lit(0))
        )

    def sharded():
        return sharded_prefix_sum(
            df,
            part="source",
            order=["doc_id"],
            shard=F.expr(f"doc_id div {span}"),
            val="n_chars",
            out="cum",
        )

    out: dict = {"rows": df.count(), "whale_pct": 90, "span": span}
    diff = naive().exceptAll(sharded().select(*naive().columns)).count()
    assert diff == 0, f"carry probe answers diverged: {diff} rows"
    out["window_naive"] = timed(naive)
    out["window_sharded"] = timed(sharded)
    out["speedup"] = round(out["window_naive"] / out["window_sharded"], 2)
    for k, v in out.items():
        print(f"carry {k}: {v}", flush=True)
    return out


def islands_probe(spark, n_rows: int = 5_000_000,
                  span: int = 8192) -> dict:
    """Measured effect of the sharded islands pass (round-5
    ``dedup_span_runs``) on a planted whale DOCUMENT: builds an
    ``n_rows`` duplicated-span-index relation where 90% of rows belong
    to one document, then times the gaps-and-islands grouping
    (``grp = j - row_number() over (doc order by j)`` + run aggregate)
    both ways:

     - naive: ``Window.partitionBy(doc_id).orderBy(j)`` — the whale
       document's every duplicated span index sorts in ONE task;
     - sharded: ``operators/carry.py::sharded_row_number`` with
       ``j div span`` range shards — bounded per-task sorts, O(shards)
       carry.

    Span indices are globally unique and within-doc monotone (the
    shape ``dedup_span_runs`` produces), so the two row_numbers are
    identical by construction; equality of the full runs tables is
    asserted here."""
    from beam_scala_examples_spark.operators.carry import (
        sharded_row_number,
    )
    from pyspark.sql.window import Window

    d = os.path.join(BASE, "islands")
    shutil.rmtree(d, ignore_errors=True)
    # 90% whale doc 0; islands broken by dropping every 7th index
    base = spark.range(n_rows).select(
        F.when(F.col("id") % 10 != 0, F.lit(0))
        .otherwise((F.col("id") % 1000) + 1)
        .alias("doc_id"),
        F.col("id").alias("j"),
    ).filter(F.col("j") % 7 != 0)
    base.write.mode("overwrite").parquet(os.path.join(d, "dup.parquet"))
    df = spark.read.parquet(os.path.join(d, "dup.parquet"))

    def timed(fn) -> float:
        fn().write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def runs(isl):
        return isl.withColumn("grp", F.col("j") - F.col("rn")).groupBy(
            "doc_id", "grp"
        ).agg(F.count("*").alias("run_spans"))

    def naive():
        w = Window.partitionBy("doc_id").orderBy("j")
        return runs(df.withColumn("rn", F.row_number().over(w)))

    def sharded():
        return runs(
            sharded_row_number(
                df,
                part="doc_id",
                order=["j"],
                shard=F.expr(f"j div {span}"),
                out="rn",
            )
        )

    out: dict = {"rows": df.count(), "whale_pct": 90, "span": span}
    diff = naive().exceptAll(sharded().select(*naive().columns)).count()
    assert diff == 0, f"islands probe answers diverged: {diff} rows"
    out["islands_naive"] = timed(naive)
    out["islands_sharded"] = timed(sharded)
    out["speedup"] = round(out["islands_naive"] / out["islands_sharded"], 2)
    for k, v in out.items():
        print(f"islands {k}: {v}", flush=True)
    return out


def regions_probe(spark, n_docs: int = 2000,
                  doc_tokens: int = 400) -> dict:
    """Measured scale shape of the round-6 winnowing COPY-REGION pass
    (``text_winnow_regions``'s relation) on a synthetic corpus with
    planted copies: ``n_docs`` documents of ``doc_tokens`` unique salted
    tokens; every even/odd pair (2k, 2k+1) shares a planted 100-token
    copy (doc 2k's tokens 50..149 re-appear at position 200 of doc
    2k+1), all other tokens globally unique so the only cross-doc
    matches are the planted ones.

    Times the full positional pipeline (selection + match join +
    islands) at n and 4n documents: near-linear wall-clock growth is
    the evidence that the match join is bounded by genuine copies (no
    quadratic candidate blowup), and every planted pair must report a
    region on the correct alignment diagonal."""
    from beam_scala_examples_spark.queries.llmdata import (
        winnow_regions_relation,
    )

    d = os.path.join(BASE, "regions")
    shutil.rmtree(d, ignore_errors=True)

    def corpus(n: int):
        base = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"transform(sequence(0, {doc_tokens - 1}),"
                " j -> concat('d', cast(id as string), 'w',"
                " cast(j as string)))"
            ).alias("toks"),
        )
        # odd docs: splice tokens 50..149 of doc_id-1 into position 200
        spliced = base.select(
            "doc_id",
            F.expr(
                "CASE WHEN doc_id % 2 = 1 THEN"
                " concat(slice(toks, 1, 200),"
                "  transform(sequence(50, 149),"
                "   j -> concat('d', cast(doc_id - 1 as string), 'w',"
                "   cast(j as string))),"
                "  slice(toks, 301, 100))"
                " ELSE toks END"
            ).alias("toks"),
        )
        return spliced.select(
            "doc_id", F.array_join("toks", " ").alias("text")
        )

    def timed(df) -> float:
        path = os.path.join(d, f"docs_{df.count()}.parquet")
        df.write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        winnow_regions_relation(docs).write.format("noop").mode(
            "overwrite"
        ).save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            winnow_regions_relation(docs).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    out: dict = {"n_docs": n_docs, "doc_tokens": doc_tokens}
    # recall + diagonal correctness at the small size
    small = corpus(n_docs)
    regions = winnow_regions_relation(small)
    planted = regions.filter(
        (F.col("doc_b") == F.col("doc_a") + 1)
        & (F.col("doc_a") % 2 == 0)
    )
    pairs_found = planted.select("doc_a", "doc_b").distinct().count()
    out["planted_pairs"] = n_docs // 2
    out["planted_pairs_found"] = pairs_found
    assert pairs_found == n_docs // 2, (pairs_found, n_docs // 2)
    out["spurious_regions"] = regions.count() - planted.count()
    # the copy sits at gram 50.. in doc_a and 200.. in doc_b ->
    # diagonal 150; starts must land inside the copied gram ranges
    bad_diag = planted.filter(
        F.col("start_b") - F.col("start_a") != 150
    ).count()
    assert bad_diag == 0, bad_diag
    out["t_1x"] = timed(small)
    out["t_4x"] = timed(corpus(4 * n_docs))
    out["growth"] = round(out["t_4x"] / out["t_1x"], 2)
    for k, v in out.items():
        print(f"regions {k}: {v}", flush=True)
    return out


def sketches_probe(spark, sf_dir: str) -> dict:
    """Round-7 sketch rungs vs their exact twins over inflated events
    (1x/4x/16x): the sketch side's OUTPUT stays bounded (columns x 1024
    registers; groups x ~250 bins) while the exact side's
    multi-distinct / per-group percentile pays a value shuffle that
    grows with rows — the measured basis for docs/SCALE.md's "merge
    integers, don't rescan" claims.  Exact-percentile twin is computed
    inline (percentile() over the same quantized values, same groups)
    because the engine itself deliberately has no such query."""
    from beam_scala_examples_spark.queries.dq import (
        PROFILE_VAL_SCALE,
        dq_profile_events,
        dq_profile_events_sketch,
        dq_value_quantiles_by_type,
    )

    # one factor beyond the default probe ladder — the profiler's
    # crossover (exact multi-distinct vs sketch) lands around 16-64x
    dirs = build_dirs(spark, sf_dir, factors=(1, 4, 16, 64))

    def timed(fn) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 2)

    out: dict = {}
    for f, d in sorted(dirs.items()):
        ev = load(spark, d, "events")
        n = ev.count()

        def run(df):
            df.write.format("noop").mode("overwrite").save()

        exact_pct = (
            ev.filter(F.col("value").isNotNull())
            .select(
                "event_type",
                F.expr(
                    f"cast(round(value * {PROFILE_VAL_SCALE}, 0)"
                    " as bigint)"
                ).alias("q"),
            )
            .groupBy("event_type")
            .agg(
                F.expr("percentile(q, 0.5)").alias("p50"),
                F.expr("percentile(q, 0.9)").alias("p90"),
                F.expr("percentile(q, 0.99)").alias("p99"),
            )
        )
        out[f"{f}x"] = {
            "rows": n,
            "profiler_exact_s": timed(
                lambda: run(dq_profile_events(spark, d))
            ),
            "profiler_sketch_s": timed(
                lambda: run(dq_profile_events_sketch(spark, d))
            ),
            "pct_exact_s": timed(lambda: run(exact_pct)),
            "pct_sketch_s": timed(
                lambda: run(dq_value_quantiles_by_type(spark, d))
            ),
            "sketch_out_rows": dq_value_quantiles_by_type(spark, d).count(),
        }
        print(f"sketches {f}x: {out[f'{f}x']}", flush=True)
    return out


def pairs_probe(spark, sf_dir: str,
                factors: tuple[int, ...] = (1, 4, 16, 64)) -> dict:
    """Quadratic-bucket-term probe (VERDICT r07 item 9): times the two
    banded candidate-pair joins — MinHash-LSH (``dedup_minhash_pairs``)
    and winnowing copy regions (``text_winnow_regions``) — at 1/4/16/64x
    decorrelated document inflation, and MEASURES the Sigma|bucket|^2
    candidate term alongside, so the SCALE.md claim "candidate cost is
    bounded by bucket occupancy, not |docs|^2" is an empirical curve:
    with decorrelated copies the bucket population grows ~linearly and
    occupancy stays flat, so candidates (and time) should track docs,
    not docs^2.  The recorded per-factor candidate counts are the
    band-width guidance: if occupancy (candidates/docs) starts climbing
    at some factor, that is the scale where the hash/band width must
    widen.
    """
    from beam_scala_examples_spark.queries.llmdata import (
        winnow_prints_memo,
    )
    from beam_scala_examples_spark.session import clear_session_memos

    dirs = build_dirs(spark, sf_dir, factors)

    def timed(fn) -> float:
        fn().write.format("noop").mode("overwrite").save()   # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def choose2(df, keys):
        return int(
            df.groupBy(*keys).count()
            .agg(F.sum(F.expr("count * (count - 1) div 2")).alias("c"))
            .collect()[0]["c"] or 0
        )

    out: dict = {}
    for f in factors:
        d = dirs[f]
        clear_session_memos()   # memos key on sf_dir, but bound memory
        entry: dict = {"docs": load(spark, d, "documents").count()}
        lsh = QUERIES["dedup_minhash_lsh"](spark, d)
        entry["lsh_bucket_rows"] = lsh.count()
        entry["lsh_candidates"] = choose2(lsh, ["band", "bucket"])
        entry["lsh_pairs_sec"] = timed(
            lambda: QUERIES["dedup_minhash_pairs"](spark, d)
        )
        prints = winnow_prints_memo(spark, d)
        entry["winnow_prints"] = prints.count()
        entry["winnow_candidates"] = choose2(prints, ["fp"])
        entry["winnow_regions_sec"] = timed(
            lambda: QUERIES["text_winnow_regions"](spark, d)
        )
        for k, v in entry.items():
            print(f"pairs x{f} {k}: {v}", flush=True)
        out[f] = entry
    base = out[factors[0]]
    for f in factors[1:]:
        e = out[f]
        e["lsh_time_ratio"] = round(
            e["lsh_pairs_sec"] / base["lsh_pairs_sec"], 2
        )
        e["winnow_time_ratio"] = round(
            e["winnow_regions_sec"] / base["winnow_regions_sec"], 2
        )
        e["lsh_cand_per_doc"] = round(e["lsh_candidates"] / e["docs"], 2)
        e["winnow_cand_per_doc"] = round(
            e["winnow_candidates"] / e["docs"], 2
        )
    clear_session_memos()
    return {str(f): out[f] for f in factors}


def graph_probe(spark, sf_dir: str,
                factors: tuple[int, ...] = FACTORS) -> dict:
    """Iteration cost of the graph queries at 1/4/16x (round-9 verdict
    item 6): inflate ``lineitem`` with DISJOINT decorrelated copies
    (shifted order + part key ranges — each copy is an isolated
    subgraph, so the graph gets f-times more components while every
    component keeps its structure).  The scaling claim under test:
    iteration counts are bounded by component structure (PageRank is a
    CONSTANT ``PR_ITERS`` rounds by construction; the k-core peel
    early-exits at its fixpoint, whose depth is a property of component
    degree topology, not data size) — so per-factor wall time should
    track edges ~linearly while the measured peel depth stays flat."""
    from beam_scala_examples_spark.queries.relational import (
        K_CORE,
        KCORE_ROUNDS,
        PR_ITERS,
        _copurchase_edges,
    )
    from beam_scala_examples_spark.session import clear_session_memos

    li = load(spark, sf_dir, "lineitem")
    spans = li.agg(
        F.max("l_orderkey").alias("o"), F.max("l_partkey").alias("p")
    ).collect()[0]
    dirs = {}
    for f in factors:
        d = os.path.join(BASE, f"g{f}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for t in TABLES:
            if t != "lineitem":
                os.symlink(
                    os.path.join(os.path.abspath(sf_dir), f"{t}.parquet"),
                    os.path.join(d, f"{t}.parquet"),
                )
        parts = [
            li.select(
                (F.col("l_orderkey") + F.lit(k * (spans.o + 1))).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.lit(k * (spans.p + 1))).alias(
                    "l_partkey"
                ),
                *[c for c in li.columns
                  if c not in ("l_orderkey", "l_partkey")],
            )
            for k in range(f)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(d, "lineitem.parquet")
        )
        dirs[f] = d

    def timed(fn) -> float:
        """Time the UN-memoized pipeline: the co-purchase edge list is
        session-memoized (round 9), so without clearing, iterations
        after the first serve the persisted edges instead of re-running
        the basket self-join the probe is pricing."""
        fn().write.format("noop").mode("overwrite").save()   # plan warm
        best = float("inf")
        for _ in range(2):
            clear_session_memos()
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    def peel_depth(alive) -> int:
        """The kcore peel loop, instrumented: rounds to fixpoint."""
        prev, rounds = -1, 0
        for _ in range(KCORE_ROUNDS):
            keep = (
                alive.groupBy("src")
                .agg(F.count("*").alias("d"))
                .filter(F.col("d") >= K_CORE)
                .select("src")
                .localCheckpoint(eager=True)
            )
            n = keep.count()
            rounds += 1
            if n == prev:
                break
            prev = n
            alive = alive.join(keep, "src", "semi").join(
                keep.select(F.col("src").alias("dst")), "dst", "semi"
            )
        return rounds

    out: dict = {}
    for f in factors:
        d = dirs[f]
        e: dict = {
            "edges": _copurchase_edges(spark, d).count(),
            "pr_iters": PR_ITERS,
        }
        e["pagerank_sec"] = timed(
            lambda: QUERIES["star_part_pagerank"](spark, d)
        )
        e["kcore_peel_depth"] = peel_depth(
            _copurchase_edges(spark, d)
        )
        e["kcore_sec"] = timed(
            lambda: QUERIES["star_copurchase_kcore"](spark, d)
        )
        for k, v in e.items():
            print(f"graph x{f} {k}: {v}", flush=True)
        out[f] = e
    base = out[factors[0]]
    for f in factors[1:]:
        e = out[f]
        e["edge_ratio"] = round(e["edges"] / base["edges"], 2)
        e["pagerank_time_ratio"] = round(
            e["pagerank_sec"] / base["pagerank_sec"], 2
        )
        e["kcore_time_ratio"] = round(e["kcore_sec"] / base["kcore_sec"], 2)
    clear_session_memos()
    return {str(f): out[f] for f in factors}


def hybrid_probe(spark, sf_dir: str,
                 factors: tuple[int, ...] = FACTORS) -> dict:
    """Scale shape of the round-10 hybrid-search rung: time the
    filtered trained-IVF TRAIN and SERVE legs separately at 1/4/16x
    embedding+document inflation, and measure recall stability
    alongside.  The SCALE.md claim under test: the serve leg's work is
    (probed cells) x (filter selectivity) of the corpus — one semi-
    joined cell scan, shortlist-bounded exact work — so serve time
    should track corpus size ~linearly at constant selectivity while
    recall stays in the same band; training is the separately-priced
    once-per-index leg (the bench train/serve discipline applied to
    the probe).

    Copies are DECORRELATED: per-copy cyclic dim rotation of the
    embedding (norm-preserving, geometry-shifting) with disjoint
    vec_id ranges, and documents follow with the same id shift so the
    lang selectivity proportion is invariant.  Queries stay the
    original N_QUERY_VECS vectors (copy 0)."""
    from beam_scala_examples_spark.queries.clustering import (
        FILTER_LANG,
        _allowed_vecs,
        _emb_corpus,
        _filtered_ivf_for,
        _km_assigned,
        _kmeans_train,
        _trained,
    )
    from beam_scala_examples_spark.queries.llmdata import EMB_DIM
    from beam_scala_examples_spark.session import clear_session_memos

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    n_vecs = emb.count()
    lower = string.ascii_lowercase
    dirs = {}
    for f in factors:
        d = os.path.join(BASE, f"h{f}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for t in TABLES:
            if t not in ("embeddings", "documents"):
                os.symlink(
                    os.path.join(os.path.abspath(sf_dir), f"{t}.parquet"),
                    os.path.join(d, f"{t}.parquet"),
                )
        emb_parts, doc_parts = [], []
        for k in range(f):
            rot = (
                f"transform(sequence(1, {EMB_DIM}),"
                f" i -> element_at(embedding,"
                f" ((i - 1 + {k % EMB_DIM}) % {EMB_DIM}) + 1))"
            )
            emb_parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(k * n_vecs)).alias("vec_id"),
                    F.expr(rot).alias("embedding"),
                    "label",
                )
            )
            trot = lower[k % 26:] + lower[: k % 26]
            doc_parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(k * n_vecs)).alias("doc_id"),
                    F.translate("text", lower, trot).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        out_e, out_d = emb_parts[0], doc_parts[0]
        for p in emb_parts[1:]:
            out_e = out_e.unionByName(p)
        for p in doc_parts[1:]:
            out_d = out_d.unionByName(p)
        out_e.write.mode("overwrite").parquet(
            os.path.join(d, "embeddings.parquet")
        )
        out_d.write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        dirs[f] = d

    # codegen warmup on the SOURCE dir (separate memo keys), so the
    # first timed factor doesn't pay whole-stage compile for the Lloyd
    # and serve pipelines
    clear_session_memos()
    _trained("kmeans", spark, sf_dir, _kmeans_train, _emb_corpus(spark, sf_dir))
    _km_assigned(spark, sf_dir).count()
    _filtered_ivf_for(
        spark, sf_dir, _allowed_vecs(spark, sf_dir)
    ).write.format("noop").mode("overwrite").save()

    out: dict = {}
    for f in factors:
        d = dirs[f]
        clear_session_memos()
        e: dict = {"vectors": load(spark, d, "embeddings").count()}
        e["allowed_rows"] = _allowed_vecs(spark, d).count()
        t0 = time.perf_counter()
        corpus = _emb_corpus(spark, d)
        _trained("kmeans", spark, d, _kmeans_train, corpus)
        _km_assigned(spark, d).count()
        e["train_sec"] = round(time.perf_counter() - t0, 3)

        def serve():
            _filtered_ivf_for(
                spark, d, _allowed_vecs(spark, d)
            ).write.format("noop").mode("overwrite").save()

        serve()   # plan warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            serve()
            best = min(best, time.perf_counter() - t0)
        e["serve_sec"] = round(best, 3)
        rec = QUERIES["sim_filtered_ivf_recall"](spark, d)
        e["mean_recall_bp"] = int(
            rec.agg(
                (F.avg("recall_at_k") * 10000).cast("long").alias("bp")
            ).collect()[0]["bp"]
        )
        for k, v in e.items():
            print(f"hybrid x{f} {k}: {v}", flush=True)
        out[f] = e
    base = out[factors[0]]
    for f in factors[1:]:
        e = out[f]
        e["vector_ratio"] = round(e["vectors"] / base["vectors"], 2)
        e["serve_time_ratio"] = round(
            e["serve_sec"] / base["serve_sec"], 2
        )
        e["train_time_ratio"] = round(
            e["train_sec"] / base["train_sec"], 2
        )
    clear_session_memos()
    return {str(f): out[f] for f in factors}


def classifier_probe(spark, sf_dir: str,
                     factors: tuple[int, ...] = FACTORS) -> dict:
    """Scale shape of the round-8 model rungs: times NB train+classify
    (``text_quality_nb_classify``) and the DSIR weight pass
    (``sample_dsir_weights``) at 1/4/16x decorrelated document
    inflation, and measures the MODEL sizes alongside — the SCALE.md
    claim is "model relations are vocab-bounded, per-doc work is one
    aggregate", so wall time should track docs ~linearly while the
    DSIR LM stays at O(DSIR_BUCKETS) rows however large the corpus.
    (NB vocab grows with the decorrelated inflation by construction —
    the rotation mints new token types; the point is the model stays
    a join SIDE, never a doc-crossed relation.)"""
    from beam_scala_examples_spark.queries.classify import (
        dsir_bucket_counts, nb_partials,
    )
    from beam_scala_examples_spark.session import clear_session_memos

    dirs = build_dirs(spark, sf_dir, factors)

    def timed(fn) -> float:
        """Time the UN-memoized pipeline: these queries memoize their
        trained model per (applicationId, sf_dir), so without clearing,
        iterations after the first scan a persisted cache instead of
        re-running the training/weight pass (round-9 ADVICE item 1 —
        the probe would silently stop measuring the claimed scaling)."""
        fn().write.format("noop").mode("overwrite").save()   # plan warm
        best = float("inf")
        for _ in range(2):
            clear_session_memos()
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    out: dict = {}
    for f in factors:
        d = dirs[f]
        docs = load(spark, d, "documents")
        entry: dict = {"docs": docs.count()}
        counts, _cls = nb_partials(docs)
        entry["nb_model_rows"] = counts.count()
        entry["nb_classify_sec"] = timed(
            lambda: QUERIES["text_quality_nb_classify"](spark, d)
        )
        entry["dsir_lm_rows"] = int(
            dsir_bucket_counts(docs).select("b").distinct().count()
        )
        entry["dsir_weights_sec"] = timed(
            lambda: QUERIES["sample_dsir_weights"](spark, d)
        )
        for k, v in entry.items():
            print(f"classifier x{f} {k}: {v}", flush=True)
        out[f] = entry
    base = out[factors[0]]
    for f in factors[1:]:
        e = out[f]
        e["nb_time_ratio"] = round(
            e["nb_classify_sec"] / base["nb_classify_sec"], 2
        )
        e["dsir_time_ratio"] = round(
            e["dsir_weights_sec"] / base["dsir_weights_sec"], 2
        )
    return {str(f): out[f] for f in factors}


def graphann_probe(spark, sf_dir: str,
                   factors: tuple[int, ...] = FACTORS) -> dict:
    """Scale shape of the round-11 graph-ANN rung: at 1/4/16x
    embedding inflation (decorrelated cyclic-rotation copies, disjoint
    vec_id ranges — the hybrid_probe scheme), measure (a) the end-to-
    end build+search wall time, and (b) the claim that actually
    defines graph ANN: the number of SCORED nodes per query is
    structurally capped at 1 + GRAPH_ROUNDS x GRAPH_BEAM x GRAPH_M
    regardless of corpus size — so it must stay FLAT from 1x to 16x
    while the brute-force cost grows 16x.  Recall rides along.

    (The wall time still grows with corpus at local scale — the base
    relation scan and graph BUILD are corpus-sized; the flat curve is
    the SERVE-side scoring budget, which is what survives a 100x
    scale-up when the graph is a prebuilt index like the IVF postings
    log.)"""
    from beam_scala_examples_spark.queries.llmdata import (
        EMB_DIM,
        GRAPH_BEAM,
        GRAPH_M,
        GRAPH_ROUNDS,
        N_QUERY_VECS,
        _graph_visited,
    )

    emb = load(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    dirs = {}
    for f in factors:
        d = os.path.join(BASE, f"ga{f}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for t in TABLES:
            if t != "embeddings":
                os.symlink(
                    os.path.join(os.path.abspath(sf_dir), f"{t}.parquet"),
                    os.path.join(d, f"{t}.parquet"),
                )
        parts = []
        for k in range(f):
            rot = (
                f"transform(sequence(1, {EMB_DIM}),"
                f" i -> element_at(embedding,"
                f" ((i - 1 + {k % EMB_DIM}) % {EMB_DIM}) + 1))"
            )
            parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(k * n_vecs)).alias("vec_id"),
                    F.expr(rot).alias("embedding"),
                    "label",
                )
            )
        out_e = parts[0]
        for p in parts[1:]:
            out_e = out_e.unionByName(p)
        out_e.write.mode("overwrite").parquet(
            os.path.join(d, "embeddings.parquet")
        )
        dirs[f] = d

    cap = 1 + GRAPH_ROUNDS * GRAPH_BEAM * GRAPH_M
    out: dict = {"scored_cap": cap}
    for f in factors:
        d = dirs[f]
        e: dict = {"vectors": load(spark, d, "embeddings").count()}

        def run():
            QUERIES["sim_graph_topk"](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()

        run()   # codegen warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        e["build_and_search_sec"] = round(best, 3)
        per_q = (
            _graph_visited(spark, d)
            .groupBy("qid").count()
            .agg(
                F.max("count").alias("mx"),
                (F.sum("count") / N_QUERY_VECS).alias("mean"),
            )
            .collect()[0]
        )
        e["scored_max_per_query"] = int(per_q.mx)
        e["scored_mean_per_query"] = round(float(per_q.mean), 1)
        assert per_q.mx <= cap, (per_q.mx, cap)
        rec = QUERIES["sim_graph_recall"](spark, d)
        e["mean_recall_bp"] = int(
            rec.agg(
                (F.avg("recall_at_k") * 10000).cast("long").alias("bp")
            ).collect()[0].bp
        )
        out[f"x{f}"] = e
        print(f"graphann x{f}: {e}", flush=True)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]
            if a not in ("--whale", "--carry", "--islands", "--regions",
                         "--sketches", "--pairs", "--classifier",
                         "--graph", "--hybrid", "--graphann")]
    if "--graphann" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/graphann_probe.json"
        spark = get_spark(app_name="graphann-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = graphann_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--hybrid" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/hybrid_probe.json"
        spark = get_spark(app_name="hybrid-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = hybrid_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--graph" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/graph_probe.json"
        spark = get_spark(app_name="graph-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = graph_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--classifier" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/classifier_probe.json"
        spark = get_spark(app_name="classifier-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = classifier_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--pairs" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/pairs_probe.json"
        spark = get_spark(app_name="pairs-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = pairs_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--sketches" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/sketches_probe.json"
        spark = get_spark(app_name="sketches-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = sketches_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--regions" in sys.argv[1:]:
        n = int(args[0]) if args else 2000
        out_json = args[1] if len(args) > 1 else "/tmp/regions_probe.json"
        spark = get_spark(app_name="regions-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = regions_probe(spark, n)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--islands" in sys.argv[1:]:
        n = int(args[0]) if args else 5_000_000
        out_json = args[1] if len(args) > 1 else "/tmp/islands_probe.json"
        spark = get_spark(app_name="islands-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = islands_probe(spark, n)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--carry" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/carry_probe.json"
        spark = get_spark(app_name="carry-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = carry_probe(spark, sf_dir)
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
        spark.stop()
        return
    if "--whale" in sys.argv[1:]:
        sf_dir = args[0] if args else "/root/testdata/sf0.1"
        out_json = args[1] if len(args) > 1 else "/tmp/whale_probe.json"
        spark = get_spark(app_name="whale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        res = whale_probe(spark, sf_dir)
        with open(out_json, "w") as fh:
            json.dump(res, fh, indent=2)
        print(json.dumps(res))
        spark.stop()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe.json"
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = build_dirs(spark, sf_dir)

    results: dict[str, dict[int, float]] = {q: {} for q in PROBES}
    for name in PROBES:
        for f in FACTORS:
            # warm once (codegen), then best-of-2 timed
            QUERIES[name](spark, dirs[f]).write.format("noop").mode(
                "overwrite"
            ).save()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, dirs[f]).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            results[name][f] = round(best, 3)
            print(f"{name} x{f}: {results[name][f]}s", flush=True)

    summary = {
        name: {
            "times": times,
            "ratio_16x_vs_1x": round(times[16] / times[1], 2),
        }
        for name, times in results.items()
    }
    with open(out_json, "w") as fh:
        json.dump(summary, fh, indent=2)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
