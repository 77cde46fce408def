"""Event-time windowing helpers (SURVEY §2.6 W1–W7).

The queries call Spark's ``F.window``/``F.session_window`` directly for
tumbling, sliding and session windows; calendar months
(``CalendarWindows.months(1)``, ``complete/TopWikipediaSessions.scala:154``)
become ``date_trunc``.  This module holds the integer epoch helper and
the DuckDB-SQL twins, so oracle queries are guaranteed to use the
*same* window assignment arithmetic: Spark aligns window starts to
epoch multiples of the slide, which in SQL is
``to_timestamp(floor(epoch(ts)/slide)*slide)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Exact integer epoch-microseconds of a timestamp column.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ, and the driver's parquet
    fixtures carry tz-naive ``timestamp[us]`` columns (which Spark 4
    reads as NTZ by default).  NTZ wall-clock arithmetic against the NTZ
    epoch literal is session-timezone-independent and matches DuckDB's
    ``epoch_us`` on the same naive values exactly; a TIMESTAMP(LTZ)
    input is first cast to NTZ (session-tz rendering), which is the
    identity under the UTC sessions the engine runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins — keep this arithmetic in lock-step with Spark.
# ---------------------------------------------------------------------------

def duck_tumbling_start(ts_expr: str, seconds: int) -> str:
    """DuckDB expression for the Spark tumbling-window start of ``ts_expr``."""
    return (
        f"to_timestamp(floor(epoch({ts_expr})/{seconds})*{seconds})::timestamp"
    )


def duck_sliding_starts_cte(src: str, ts_col: str, window_s: int, slide_s: int,
                            cols: str) -> str:
    """DuckDB CTE body assigning every row of ``src`` to each of its
    window/slide sliding windows (exactly window_s/slide_s per row when
    slide divides window — Spark semantics: start <= ts < start+window).
    """
    n = window_s // slide_s
    return (
        f"SELECT {cols}, "
        f"to_timestamp((floor(epoch({ts_col})/{slide_s}) - "
        f"unnest(generate_series(0, {n - 1}))) * {slide_s})::timestamp AS win_start "
        f"FROM {src}"
    )


def duck_sessions_cte(src: str, key: str, ts_col: str, gap_s: int) -> str:
    """DuckDB gaps-and-islands sessionization matching
    ``F.session_window(ts, gap)``: a new session starts when the gap to
    the previous event of the same key is >= gap (Spark merges the
    half-open intervals [ts, ts+gap)).

    Yields columns: ``{key}, session_id, ts``.
    """
    return f"""
        SELECT {key}, {ts_col} AS ts,
               sum(new_session) OVER (PARTITION BY {key} ORDER BY {ts_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
            SELECT {key}, {ts_col},
                   CASE WHEN lag({ts_col}) OVER (PARTITION BY {key} ORDER BY {ts_col})
                             IS NULL
                          OR epoch({ts_col}) - epoch(lag({ts_col}) OVER (
                             PARTITION BY {key} ORDER BY {ts_col})) >= {gap_s}
                        THEN 1 ELSE 0 END AS new_session
            FROM {src}
        )
    """
