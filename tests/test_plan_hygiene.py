"""Global plan-hygiene net over the WHOLE registry: no batch query may
plan a CartesianProduct (unbounded pair blowup) or a row-at-a-time Python
UDF (BatchEvalPython — the 10-100x-slower non-Arrow path). Individual
plan shapes are asserted per-operator in test_plans.py; this sweep is the
regression net that catches a future query sneaking either scale-killer in.

Cross joins against broadcast single-row aggregates (corpus constants like
N/avgdl) plan as BroadcastNestedLoopJoin over one row — bounded and fine —
so asserting the absence of CartesianProduct specifically is the right
invariant: Spark only emits it for non-broadcastable cross products.

The same sweep checks every batch query's plan shape (operator counts,
``cdw_spark.plans.shape``) against the committed record
``plans/shapes_sf0.001.json``: a change that moves a shape must rewrite the
record with ``scripts/plan_shapes.py``, so the move shows in its diff.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from cdw_spark.plans.shape import plan_shapes
from cdw_spark.registry import load_all

# Streaming fns execute a bounded replay inside fn() (their plan is the
# micro-batch runtime's); their shapes are covered by test_streaming.py.
_SKIP_PREFIX = ("stream_",)

SHAPE_RECORD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "shapes_sf0.001.json"
)


def test_no_cartesian_or_rowwise_python_in_any_batch_plan(spark, sf_dir):
    reg = load_all()

    def plan_of(item):
        name, spec = item
        df = spec.fn(spark, sf_dir)
        return name, df._jdf.queryExecution().sparkPlan().toString(), df

    items = [
        (n, s) for n, s in reg.items() if not n.startswith(_SKIP_PREFIX)
    ]
    # Plan construction is driver-side, single-threaded-per-query work
    # (analysis + physical planning, plus any fn()-internal first()/collect
    # probes); ~415 queries serially was the single slowest test in the
    # suite (126 s of a 22-min run). Planning different queries is
    # independent, so overlap it (guide §2.6) — py4j and Catalyst handle
    # concurrent driver threads; at-rest artifact builds are
    # atomic-rename concurrent-safe by design (operators/artifacts.py).
    offenders: dict[str, str] = {}
    dfs = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, plan, df in pool.map(plan_of, items):
            dfs[name] = df
            for marker in ("CartesianProduct", "BatchEvalPython"):
                if marker in plan:
                    offenders[name] = marker
    assert not offenders, offenders

    # The record holds sf0.001 shapes (broadcasts are chosen by size).
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        return
    shapes = plan_shapes(dfs)
    with open(SHAPE_RECORD) as f:
        record = json.load(f)
    moved = {
        name: {"recorded": record.get(name), "planned": shapes.get(name)}
        for name in record.keys() | shapes.keys()
        if record.get(name) != shapes.get(name)
    }
    assert not moved, moved
