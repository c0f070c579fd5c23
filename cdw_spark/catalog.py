"""Fixture catalog: the one read path for the parquet fixture tables
(TESTDATA.md), the event series derived from them that many queries share,
and registration of the fixtures as temp views so the whole engine is
queryable through ``spark.sql``.

The reference's create_tables.py reset (DROP IF EXISTS x7, then CREATE x7)
has no catalog counterpart here: the ELT writes parquet at paths, so its
reset is the ``overwrite`` mode of each write (``cdw_spark.elt``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.numeric import micro
from .plans.lineage import cut

# Driver-generated fixture tables (/root/testdata/sf*/..., TESTDATA.md).
FIXTURE_TABLES = (
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

# Parquet schemas inferred by this process, keyed on the file's identity
# (abspath, size, mtime_ns), so a rewritten file is inferred again.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file.
    Inference reads the footer in a Spark job, one per read; a read with a
    known schema fires none. Paths the local filesystem cannot stat (e.g.
    ``s3a://``) are inferred on every read."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def forget_schemas() -> None:
    """Drop every inferred fixture schema, so the next read of each file
    infers again (``operators.artifacts.clear_all`` calls this)."""
    _SCHEMAS.clear()


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan: column pruning + predicate
    pushdown come free from the declarative plan — never .cache() these;
    at 100 TB the scan with pushed filters IS the fast path.

    Timestamp normalization: fixture generations have varied — events.ts
    has been TIMESTAMP(NANOS) (vectorized reader rejects; read nanos as
    long and truncate) and plain timestamp[us] with isAdjustedToUTC=false
    (Spark 4 infers TIMESTAMP_NTZ, which functions like ``unix_millis``
    reject). Both are normalized to session-UTC TimestampType: under a UTC
    session the NTZ→LTZ cast is wall-clock-identical, which is exactly how
    DuckDB reads the same parquet (naive timestamp), so oracles agree.

    The parquet schema is inferred on the first read of a file in this
    process and passed explicitly after that (``_read_parquet``); the
    normalization runs on top of either."""
    # Engine semantic (SURVEY.md §4): all timestamp arithmetic is UTC — the
    # reference's `TIMESTAMP 'epoch' + …` is UTC arithmetic. Pin the session
    # TZ here so results are correct even on a caller-built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = _read_parquet(spark, path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` fixture's purchases, carrying ``q``: the purchase
    value in integer micro-units (``functions.numeric.micro``), the form
    every exact purchase statistic sums and compares."""
    events = load_fixture(spark, sf_dir, "events")
    return events.filter(F.col("event_type") == "purchase").withColumn("q", micro(F.col("value")))


def daily_purchase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily purchase series ``(dd, x)``: ``dd`` is the UTC day number
    (``unix_micros(ts) div 86400000000``) and ``x`` the day's exact BIGINT
    sum of ``q``. Cut, because the series tests read it several times."""
    return cut(
        purchase_events(spark, sf_dir)
        .select(F.expr("unix_micros(ts) div 86400000000").alias("dd"), "q")
        .groupBy("dd")
        .agg(F.sum("q").cast("bigint").alias("x"))
    )


def register_fixtures(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Register every fixture parquet as a temp view named after the table."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_fixture(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
