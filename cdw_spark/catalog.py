"""Fixture catalog: the one read path for the parquet fixture tables
(TESTDATA.md) and for the parquet the package writes itself, the event
series derived from the fixtures that many queries share, and
``fixture_sql``, which runs one SQL text over the fixtures as views.

Every parquet read goes through ``read_parquet`` with a schema this
process already knows, so it fires no Spark job. A fixture's schema is
inferred on its first read; a table the package writes with
``write_parquet`` (artifacts, replay sinks, the incremental ELT's tables)
keeps the schema it was written with and is never inferred.

The reference's create_tables.py reset (DROP IF EXISTS x7, then CREATE x7)
has no catalog counterpart here: the ELT writes parquet at paths, so its
reset is the ``overwrite`` mode of each write (``cdw_spark.elt``).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

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

# Parquet schemas known to this process, per absolute path, each stamped
# with the (size, mtime_ns) of the file or directory it was taken from: a
# fixture's as inferred on its first read, a package-written table's as
# written. A path whose stamp has moved since (rewritten by anything but
# ``write_parquet``) is inferred again.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _stamped(path: str) -> tuple[str, tuple[int, int]] | None:
    """``(abspath, (size, mtime_ns))`` of a local file or directory, or
    None for a path the local filesystem cannot stat (missing, or e.g.
    ``s3a://``)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return os.path.abspath(path), (st.st_size, st.st_mtime_ns)


def read_back_schema(written: DataType) -> DataType:
    """The schema a parquet read gives files written with ``written``:
    every field, array element and map value nullable, whether the read
    infers the schema or is passed it."""
    if isinstance(written, StructType):
        return StructType(
            [StructField(f.name, read_back_schema(f.dataType), True, f.metadata) for f in written]
        )
    if isinstance(written, ArrayType):
        return ArrayType(read_back_schema(written.elementType), True)
    if isinstance(written, MapType):
        return MapType(read_back_schema(written.keyType), read_back_schema(written.valueType), True)
    return written


def remember_schema(path: str, schema: StructType) -> None:
    """Record ``schema`` as the schema of the parquet at ``path`` as it
    stands now (call it right after the write, or after the write's
    directory was renamed into place)."""
    stamped = _stamped(path)
    if stamped is not None:
        _SCHEMAS[stamped[0]] = (stamped[1], read_back_schema(schema))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """``df.write.mode(mode).parquet(path)``, remembering the written
    schema for ``read_parquet``. Appends keep the table's schema."""
    df.write.mode(mode).parquet(path)
    remember_schema(path, df.schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with a known schema where there is one.
    Inference reads a footer in a Spark job, one per read; a read with a
    known schema fires none. A path not written by ``write_parquet`` is
    inferred once per stamp; one the local filesystem cannot stat is
    inferred on every read (so a missing path raises ``PATH_NOT_FOUND``
    as ``spark.read.parquet`` does)."""
    stamped = _stamped(path)
    if stamped is None:
        return spark.read.parquet(path)
    key, stamp = stamped
    known = _SCHEMAS.get(key)
    if known is not None and known[0] == stamp:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def forget_schemas(root: str | None = None) -> None:
    """Drop the known schemas, or only those of paths under ``root``, so
    the next read of each path infers again
    (``operators.artifacts.clear_all`` drops them all)."""
    if root is None:
        _SCHEMAS.clear()
        return
    prefix = os.path.join(os.path.abspath(root), "")
    for key in [k for k in list(_SCHEMAS) if os.path.join(k, "").startswith(prefix)]:
        _SCHEMAS.pop(key, None)


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan: column pruning + predicate
    pushdown come free from the declarative plan — never hold these in
    the cache; at 100 TB the scan with pushed filters IS the fast path.

    Timestamp normalization: fixture generations have varied — events.ts
    has been TIMESTAMP(NANOS) (vectorized reader rejects; read nanos as
    long and truncate) and plain timestamp[us] with isAdjustedToUTC=false
    (Spark 4 infers TIMESTAMP_NTZ, which functions like ``unix_millis``
    reject). Both are normalized to session-UTC TimestampType: under a UTC
    session the NTZ→LTZ cast is wall-clock-identical, which is exactly how
    DuckDB reads the same parquet (naive timestamp), so oracles agree.

    The parquet schema is inferred on the first read of a file in this
    process and passed explicitly after that (``read_parquet``); the
    normalization runs on top of either."""
    # Engine semantic (SURVEY.md §4): all timestamp arithmetic is UTC — the
    # reference's `TIMESTAMP 'epoch' + …` is UTC arithmetic. Pin the session
    # TZ here so results are correct even on a caller-built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = read_parquet(spark, path)
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


_FIXTURE_SQL_LOCK = threading.RLock()


def fixture_sql(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], sql: str) -> DataFrame:
    """``spark.sql(sql)`` with each of ``tables`` visible as a temp view
    named after the table, for the analysis only.

    ``spark.sql`` analyzes eagerly, so the returned frame already holds
    each view's plan, and the views are dropped before it returns: the
    session keeps no view it did not have. The lock spans register,
    analysis and drop, so a concurrent call cannot replace or drop a view
    between another call's register and its analysis; it is reentrant, so
    a query can also hold it across a temp function's register and drop."""
    with _FIXTURE_SQL_LOCK:
        try:
            for name in tables:
                load_fixture(spark, sf_dir, name).createOrReplaceTempView(name)
            return spark.sql(sql)
        finally:
            for name in tables:
                spark.catalog.dropTempView(name)
