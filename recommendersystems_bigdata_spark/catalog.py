"""Table catalog: parquet loading + temp-view registration.

The corpus (TESTDATA.md, FIXTURES.md) is ten parquet tables per scale-factor
directory. Schemas are carried by parquet footers — no inference. Loading is
a plain ``spark.read.parquet`` so Catalyst sees a relation it can push
filters/projections into (SURVEY.md §4: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from recommendersystems_bigdata_spark.session import conf_scope

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

# Small dimension tables that are always broadcast-join candidates at any
# scale factor (region/nation are fixed-size; supplier/part grow ×sf but
# stay far under the broadcast threshold at test scale).
BROADCAST_DIMS = ("region", "nation")

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. ``name`` must be in :data:`TABLES`.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL) under default
    config. We read it as a raw int64 via ``spark.sql.legacy.parquet
    .nanosAsLong`` and truncate to microseconds ourselves — the exact
    semantics DuckDB applies with ``CAST(ts AS TIMESTAMP)``, so oracle
    comparisons line up. The conversion is a cheap codegen'd projection;
    pushdown on the remaining columns is unaffected. The flag is scoped to
    the read: the resolved relation keeps ``ts`` as bigint, so the session
    value is restored as soon as ``spark.read.parquet`` returns.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        with conf_scope(spark, NANOS_AS_LONG, "true"):
            raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        # Schema-aware: only the corpus's TIMESTAMP(NANOS) files surface ts
        # as a raw bigint under nanosAsLong; an events table written with
        # ordinary µs timestamps (e.g. one of our own sinks, or a user's
        # table) reads as a timestamp already and needs no conversion.
        if dict(raw.dtypes).get("ts") == "bigint":
            return raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several corpus tables at once."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for ``spark.sql`` entry."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
