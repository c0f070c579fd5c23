"""Differential-test harness: PySpark result vs DuckDB oracle.

Local mirror of the driver's correctness gate (__spark_entry__.py docstring):
for a query name, run the Spark DataFrame and the oracle SQL over the same
parquet fixtures and compare (a) row count, (b) sorted column names, (c) an
order-insensitive multiset of canonicalized row values. Used by
tests/test_oracle_contract.py so every registered oracle is proven
equivalent *before* the driver runs it.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import numpy as _np
import pandas as _pd
from pyspark.sql import DataFrame

from .catalog import FIXTURE_TABLES


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the fixture tables pre-registered as views,
    exactly as the driver does."""
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_cell(v):
    """Driver-faithful value canonicalization.

    Mirror fidelity: the driver renders oracle values
    through the pandas path, where a DuckDB HUGEINT (or NULL-bearing
    integer column) arrives as float64 and hashes as ``5.0`` — DIFFERENT
    from a Spark bigint ``5``. The old mirror unified int and
    integral-float, so it could not catch the `survival_nelson_aalen`
    class. Rules now:

    - int and float are DISTINCT tokens even when the float is integral
      (strict, like the driver's hash);
    - missing is missing: None / NaN / NaT all canonicalize to None
      (the pandas path makes them indistinguishable anyway);
    - numpy scalars unwrap to their Python equivalents first (np.int64
      is NOT an ``int`` subclass; np.bool_ is NOT a ``bool``);
    - date and midnight-datetime unify (DuckDB DATE arrives as a
      pandas Timestamp at 00:00:00 through ``.df()``);
    - Decimal stays its own token so a DECIMAL output diverges loudly
      (the oracle contract bans DECIMAL/HUGEINT output columns).
    """
    if v is None:
        return None
    if isinstance(v, _np.generic):
        v = v.item()  # np.datetime64('NaT').item() is None
        if v is None:
            return None
    if v is _pd.NaT:
        return None
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return ("float", repr(v))
    if isinstance(v, _dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        return ("ts", v.isoformat() + "T00:00:00")
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return ("str", str(v))


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for i in self.issues[:8]:
            msg += f"\n    - {i}"
        return msg


def compare_frames(name: str, spark_df: DataFrame, oracle_sql: str, sf_dir: str) -> CompareResult:
    """Compare against the fixture-backed oracle (driver shape)."""
    return compare_with_connection(name, spark_df, oracle_sql, open_oracle(sf_dir))


def compare_with_connection(
    name: str, spark_df: DataFrame, oracle_sql: str, con: duckdb.DuckDBPyConnection
) -> CompareResult:
    # BOTH sides go through pandas, like the driver: a NULL-bearing
    # integer column becomes float64 on BOTH engines (so outer-join /
    # lag NULLs stay green), while a column that is float64 on ONE side
    # only — DuckDB's HUGEINT promotion, the survival_nelson_aalen class
    # — now diverges here exactly as it does in the driver. Verified
    # against driver history: the six NULL-bearing-int queries
    # (window_lag_delta, cdc_snapshot_diff, the stream outer joins,
    # rank_fusion_rrf, agg_hll_mergeable) are driver-green, so the
    # driver unifies via the pandas coercion, not via value forgiveness.
    spark_pdf = spark_df.toPandas()
    spark_cols = [str(c) for c in spark_pdf.columns]
    spark_rows = list(spark_pdf.itertuples(index=False, name=None))

    # Fetch through pandas (the driver's path), NOT fetchall(): fetchall
    # yields exact Python ints for HUGEINT/NULL-bearing-integer columns,
    # while the driver sees float64, so a value-identical BIGINT column
    # would match here and mismatch in the driver's hash. itertuples
    # yields the numpy scalars / Timestamps the driver hashes.
    oracle_pdf = con.execute(oracle_sql).df()
    oracle_cols = [str(c) for c in oracle_pdf.columns]
    oracle_rows = list(oracle_pdf.itertuples(index=False, name=None))

    res = CompareResult(name, True, len(spark_rows), len(oracle_rows))

    if sorted(spark_cols) != sorted(oracle_cols):
        res.ok = False
        res.issues.append(f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return res
    if len(spark_rows) != len(oracle_rows):
        res.ok = False
        res.issues.append("row count mismatch")

    s_order = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_order = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s_multiset = Counter(tuple(_canon_cell(row[i]) for i in s_order) for row in spark_rows)
    o_multiset = Counter(tuple(_canon_cell(row[i]) for i in o_order) for row in oracle_rows)
    if s_multiset != o_multiset:
        res.ok = False
        only_spark = list((s_multiset - o_multiset).items())[:3]
        only_oracle = list((o_multiset - s_multiset).items())[:3]
        res.issues.append(f"value mismatch; spark-only sample: {only_spark}")
        res.issues.append(f"oracle-only sample: {only_oracle}")
    return res
