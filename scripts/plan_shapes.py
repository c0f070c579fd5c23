#!/usr/bin/env python
"""Write the plan-shape record ``plans/shapes_sf0.001.json``.

For every registered batch query at sf0.001 it counts the operators of
``cdw_spark.plans.shape.SHAPE_NODES`` in the AQE initial plan
(``plans.shape.plan_shapes``), on the test suite's fixture directory and a
session built like the suite's. ``tests/test_plan_hygiene.py``
checks the registry against the record; rerun this when a change moves a
shape on purpose, and review the diff.

Usage: python scripts/plan_shapes.py
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cdw_spark.plans.shape import plan_shapes  # noqa: E402
from cdw_spark.registry import load_all  # noqa: E402
from cdw_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

RECORD = os.path.join(REPO, "plans", "shapes_sf0.001.json")


def main() -> int:
    if os.path.basename(os.path.normpath(SF_DIR)) != "sf0.001":
        print(f"the record is for sf0.001, not {SF_DIR}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="cdw_plan_shapes", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = {n: s for n, s in load_all().items() if not n.startswith("stream_")}
    with ThreadPoolExecutor(max_workers=8) as pool:
        shapes = plan_shapes(dict(zip(specs, pool.map(lambda s: s.fn(spark, SF_DIR), specs.values()))))
    # One query per line, so a moved shape is a one-line diff.
    lines = [f"  {json.dumps(name)}: {json.dumps(shapes[name])}" for name in sorted(shapes)]
    with open(RECORD, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(RECORD, len(shapes), "queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
