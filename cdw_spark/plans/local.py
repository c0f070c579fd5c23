"""Driver-held rows as a ``LocalRelation``: the one place the package
calls ``createDataFrame``.

``spark.createDataFrame(list)`` builds an RDD-backed ``LogicalRDD``. It
carries no size statistics, so the optimizer neither prunes an empty one
nor broadcasts a small one, and scanning it runs a job. Rows sent through
Arrow instead (``createDataFrame(pyarrow.Table, schema)``) become a
``LocalRelation`` while they stay under
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default):
building or collecting it runs no job, and its statistics are its true
size, so a join against an empty one is pruned and a small one
broadcasts.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples, lists, dicts or ``Row``s) as a DataFrame with
    ``schema`` (a ``StructType`` or a DDL string), planned as a
    ``LocalRelation``.

    Values convert as ``createDataFrame(list)`` converts them
    (``StructType.toInternal``): a naive ``datetime`` is local time, and
    collecting gives back the rows that went in."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
