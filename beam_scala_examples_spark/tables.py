"""Loaders for the driver star schema (TESTDATA.md).

Every query receives ``sf_dir`` and loads only the tables it needs;
column pruning and predicate pushdown then reach the parquet scan via
Catalyst (the engine-side equivalent of the reference's hand-coded
``DIRECT_READ`` + ``withSelectedFields``, ``cookbook/BigQueryTornadoes.scala:58-74``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns in the driver parquet. The driver has generated two
# on-disk formats across rounds and the loader must accept both:
#  - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` they
#    surface as bigint nanos; we floor-divide to micros (integer DIV —
#    nanos exceed double's exact range), matching DuckDB's truncation.
#  - tz-naive timestamp[us]: Spark 4 reads these as TIMESTAMP_NTZ, which
#    passes through unchanged — downstream epoch arithmetic goes through
#    ``operators.windows.epoch_us`` (NTZ-safe, session-tz-independent).
_NANOS_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df
