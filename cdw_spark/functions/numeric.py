"""Exact-integer views of double values.

Doubles summed in a different order differ in the last bits, and Spark and
DuckDB round a double differently on a cast to an integer (Spark truncates,
DuckDB rounds). A query that must agree across engines first quantizes each
value to integer micro-units with :func:`micro` and then does exact BIGINT
or DECIMAL arithmetic; its oracle writes the same rule as
``CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def micro(col: Column) -> Column:
    """``col`` in integer micro-units, half up: ``floor(x * 1e6 + 0.5)`` as
    BIGINT."""
    return F.floor(col.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
