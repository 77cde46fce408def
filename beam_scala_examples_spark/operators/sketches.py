"""The portable hash family and the mergeable sketches built on it.

**The portable hash.**  Spark and DuckDB results stay bit-identical
because every hash in the engine is an md5 prefix read as an integer,
spelled the same way in both dialects and written only here:

 - ``SPARK_H`` / ``DUCK_H``: the first 8 hex digits (a 32-bit integer).
 - ``SPARK_H60`` / ``DUCK_H60``: the first 15 hex digits (60 bits,
   still a non-negative signed BIGINT in both engines).
 - :func:`md5_slices` / :func:`duck_md5_slice`: the disjoint-slice
   family — row ``r`` reads hex digits ``8r+1 .. 8r+8`` modulo a width,
   the ``depth`` independent hashes a count-min sketch or a Bloom
   filter needs from one md5 per item.

**Hand-built sketches over that hash.**  The HLL registers
(:func:`hll_partial_registers`, estimated by :func:`hll_estimate`) and
the count-min counters (:func:`cms_partial_counters`) are exact-integer
relations, so they are oracle-checked against their DuckDB twins
(:func:`duck_hll_ranked`, :func:`duck_md5_slice`) and persist as
first-class, mergeable tables: HLL registers merge by max, CMS counters
by addition.  The batch queries and the streaming ingest sinks build
them with the same constructor.

**DataSketches.**  :func:`hll_reach`, :func:`hll_rollup` and
:func:`kll_quantiles` wrap Spark's JVM-side built-ins.  At 100 TB,
exact ``countDistinct`` / ``percentile`` per fine-grained group is an
O(distinct-values) shuffle per group and cannot be rolled up later
without rescanning the facts; these sketches keep a fixed-size,
mergeable state per group instead.  Their estimates are
implementation-specific, so DuckDB cannot replay them; the contracts
pinned by ``tests/test_sketches.py`` are:
 - HLL relative standard error is ~1.04/sqrt(2^lgk) (~1.6% at lgk=12);
   tests assert a 5-sigma band against the exact count.
 - Union-of-parts equals sketch-of-whole EXACTLY (register-wise max),
   not just approximately — the rollup invariant.
 - KLL quantile estimates land within the sketch's normalized rank
   error of the exact quantile.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ``h(s)``: first 8 hex chars of md5 -> bigint in [0, 2^32).
SPARK_H = "cast(conv(substr(md5({col}), 1, 8), 16, 10) as bigint)"
DUCK_H = "('0x' || substr(md5({col}), 1, 8))::BIGINT"
# 60-bit prefix: 15 hex chars, for draws and signatures that need more
# than 32 bits.
SPARK_H60 = "cast(conv(substr(md5({col}), 1, 15), 16, 10) as bigint)"
DUCK_H60 = "('0x' || substr(md5({col}), 1, 15))::BIGINT"


def md5_slices(hex_col: str, depth: int, mod: int) -> Column:
    """``array<struct<r: bigint, b: bigint>>``: row ``r`` is the integer
    of the ``r``-th disjoint 8-hex slice of ``hex_col`` modulo ``mod``.
    ``hex_col`` names an md5 hex digest the caller staged once per row
    (a real ``withColumn``), so the digest is computed once however
    many rows read it."""
    return F.array(*[
        F.struct(
            F.lit(r).cast("long").alias("r"),
            F.expr(
                f"cast(conv(substr({hex_col}, {1 + 8 * r}, 8), 16, 10)"
                f" as bigint) % {mod}"
            ).alias("b"),
        )
        for r in range(depth)
    ])


def duck_md5_slice(expr: str, i: int, mod: int | None = None) -> str:
    """DuckDB integer of the ``i``-th 8-hex slice of ``md5(expr)`` —
    with ``mod``, row ``i`` of :func:`md5_slices`."""
    h = f"('0x' || substr(md5({expr}), {1 + 8 * i}, 8))::BIGINT"
    return h if mod is None else f"({h}) % {mod}"


# --------------------------------------------------------------------------
# HyperLogLog registers (Flajolet et al. 2007) over the 32-bit hash
# --------------------------------------------------------------------------

HLL_P = 10                 # 2^10 = 1024 registers
HLL_M = 1 << HLL_P
HLL_VAL_BITS = 32 - HLL_P  # hash bits left for the rank field


def hll_partial_registers(
    df: DataFrame, id_col: str = "user_id",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(group..., register, max_rank) HLL partial registers over
    ``df[id_col]`` — THE register constructor for the batch queries
    and the streaming ingest sinks.

    The 32-bit hash is staged ONCE per row via a real ``withColumn``
    (register and rank both derive from the staged column), so single
    evaluation is structural rather than a bet on Catalyst's
    common-subexpression elimination.  The low ``HLL_P`` bits pick the
    register; the rank is the position of the first set bit in the
    remaining field via binary string length (no float log2).  Exact
    integers end to end; output is at most ``HLL_M`` slim rows per
    group."""
    hexpr = SPARK_H.format(col=f"cast({id_col} as string)")
    staged = df.withColumn("__h", F.expr(hexpr))
    return (
        staged.select(
            *group_cols,
            F.expr(f"__h % {HLL_M}").alias("register"),
            F.expr(
                f"case when __h div {HLL_M} = 0"
                f" then {HLL_VAL_BITS + 1}"
                f" else {HLL_VAL_BITS + 1} - length(bin("
                f"__h div {HLL_M})) end"
            ).alias("rank"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def duck_hll_ranked(group: str = "") -> str:
    """The DuckDB ``ranked`` CTE of :func:`hll_partial_registers`:
    (``group`` columns, register, rank) over a CTE ``h`` carrying the
    32-bit hash as ``hv``.  ``group`` is the column prefix, e.g.
    ``"day, "``."""
    return f"""ranked AS (
        SELECT {group}hv % {HLL_M} AS register,
               CASE WHEN hv // {HLL_M} = 0 THEN {HLL_VAL_BITS + 1}
                    ELSE {HLL_VAL_BITS + 1} - length(bin(hv // {HLL_M}))
               END AS rank
        FROM h
    )"""


def hll_estimate(registers) -> float:
    """Bias-corrected HLL cardinality estimate from a collected register
    list [(register, max_rank)] — driver-side float math (O(m)), kept
    out of the oracle-hashed surface on purpose (libm ``ln``/``pow``
    are not bit-contracted across engines)."""
    m = HLL_M
    by_reg = {int(r[0]): int(r[1]) for r in registers}
    s = sum(2.0 ** -by_reg.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / s
    zeros = m - len(by_reg)
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


# --------------------------------------------------------------------------
# Count-min counters (Cormode & Muthukrishnan 2005) over the md5 slices
# --------------------------------------------------------------------------

CMS_DEPTH = 3    # independent hash rows (disjoint md5 slices)
CMS_WIDTH = 64   # counters per row


def cms_partial_counters(
    df: DataFrame, item_col: str,
    group_cols: tuple[str, ...] = (),
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """(group..., r, b, cnt) count-min counters over ``df[item_col]``
    — THE counter constructor for the batch queries and the streaming
    ingest sink: each item increments one counter per :func:`md5_slices`
    row.  One map-side-combined aggregate to at most ``depth × width``
    slim rows per group; counters merge by addition."""
    staged = df.withColumn(
        "__s", F.expr(f"md5(cast({item_col} as string))")
    )
    slices = md5_slices("__s", depth, width)
    return (
        staged.select(*group_cols, F.explode(slices).alias("p"))
        .select(*group_cols, "p.r", "p.b")
        .groupBy(*group_cols, "r", "b")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------------------------------------
# DataSketches (Spark built-ins)
# --------------------------------------------------------------------------

HLL_LGK = 12  # 2^12 registers/group: ~1.6% RSE, 4 KiB max per sketch


def hll_reach(
    df: DataFrame, group_cols: list[str], key_col: str, lgk: int = HLL_LGK
) -> DataFrame:
    """Per-group distinct-``key_col`` sketch + estimate.  Keep the
    ``reach_sketch`` binary column in the written table — it is the
    mergeable state; the estimate is derived, never stored alone."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key_col, F.lit(lgk)).alias("reach_sketch"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(key_col, F.lit(lgk))
        ).cast("long").alias("reach_est"),
    )


def hll_rollup(
    sketch_df: DataFrame, group_cols: list[str], sketch_col: str = "reach_sketch"
) -> DataFrame:
    """Merge finer-grained sketch rows into coarser groups — the
    no-rescan rollup (daily -> monthly reach).  ``hll_union_agg`` is
    register-wise max, so the result is bit-identical to sketching the
    raw union."""
    merged = F.hll_union_agg(F.col(sketch_col), F.lit(True))
    return sketch_df.groupBy(*group_cols).agg(
        merged.alias("reach_sketch"),
        F.hll_sketch_estimate(merged).cast("long").alias("reach_est"),
    )


def kll_summary(sketch: Column, probs: tuple[float, ...]) -> list[Column]:
    """The served columns of a KLL sketch column: one ``q<p>`` quantile
    per probability, then ``n``."""
    return [
        F.kll_sketch_get_quantile_double(sketch, F.lit(p)).alias(
            f"q{str(p).replace('0.', '')}"
        )
        for p in probs
    ] + [F.kll_sketch_get_n_double(sketch).alias("n")]


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """Per-group streaming quantile estimates over a double column via a
    KLL sketch (normalized rank error ~0.8% at k=200).  Unlike exact
    ``percentile`` — which collects every value per group — state is
    O(k log n) per group and mergeable across partitions and time."""
    sk = F.kll_sketch_agg_double(value_col, F.lit(k))
    return df.groupBy(*group_cols).agg(*kll_summary(sk, probs))
