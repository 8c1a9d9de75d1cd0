"""Table IO for the driver's testdata layout.

One parquet file per table under ``<sf_dir>/<name>.parquet``
(TESTDATA.md). Reads go through ``spark.read.parquet`` so Catalyst gets
a pruning/pushdown-capable scan; never collect-to-driver here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.operators.caching import session_memo

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

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def default_sf_dir() -> str:
    """Resolve the bench scale-factor dir at call time (env may change)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    Timestamp normalization: the driver's parquet has shipped two
    flavors across rounds — TIMESTAMP(NANOS) (rejected by the
    vectorized reader; read as raw longs via
    spark.sql.legacy.parquet.nanosAsLong and truncated to micros, the
    same truncation DuckDB applies) and plain no-timezone micros
    (arrives as TIMESTAMP_NTZ). Both are normalized to classic
    TIMESTAMP here: the session timezone is pinned UTC, so the
    NTZ→TIMESTAMP cast is value-preserving and every downstream plan
    (unix_micros gaps, window(), date_format) sees one stable type that
    matches DuckDB's naive read.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if name == "events" and field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def adaptive_partitions(
    spark: SparkSession, sf_dir: str, name: str, rows_per_partition: int
) -> int:
    """Size-derived partition count for a repartition before a
    row-parallel kernel: ceil(table rows / rows_per_partition), floor 1,
    uncapped above (a real corpus fans out linearly). The guide's
    scale-adaptive alternative to a flat repartition(cores): at the
    local bench scales a flat 32 puts a few thousand rows in 32 tasks
    and the per-iteration scheduler overhead dominates the work
    (measured on ml_kmeans_lloyd: ~1 s/iteration of overhead for ~2 ms
    of matmul), while a constant tuned for local would serialize a
    real corpus. The row count is a ``session_memo`` per (session,
    dir, table)."""
    n = session_memo(
        "row_counts", spark, (sf_dir, name),
        lambda: load(spark, sf_dir, name).count(),
    )
    return max(1, -(-n // rows_per_partition))


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register testdata tables as temp views (for spark.sql plans).

    Pass ``names`` to register only the tables a query touches —
    registering all ten re-reads every parquet footer per call, which
    dominated sql_q3's bench time in round 2.
    """
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
