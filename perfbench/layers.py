"""Per-layer metrics of one traced pass.

Every workload reports every metric; a layer the workload does not reach
reads 0. Each layer is named after the module it measures (README.md maps
each one to the end-to-end metric and workload it should move).
"""

from __future__ import annotations

import os
import statistics

from spans import self_times, stage_totals
from workloads import ELT_TABLES, dir_bytes

MB = 1e6


def _subtree(spans, root_ids):
    """Spans under (and including) the given roots."""
    keep = set(root_ids)
    for s in spans:  # spans are recorded in start order: parents first
        if s.parent in keep:
            keep.add(s.id)
    return [s for s in spans if s.id in keep]


def _jobs(spans):
    return sorted({j for s in spans for j in s.jobs})


def _outermost(spans, layer):
    by_id = {s.id: s for s in spans}

    def nested(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == layer:
                return True
            p = by_id.get(p.parent)
        return False

    return [s for s in spans if s.layer == layer and not nested(s)]


def metrics(tracer, wl, traced: dict, setup: dict, untraced_wall_s: float) -> dict:
    """Metrics of the tracer's pass ``traced``; the tracing overhead is its
    wall minus ``untraced_wall_s``."""
    spans = tracer.spans
    tracer.resolve_jobs(spans)
    self_s = self_times(spans)
    m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in setup.items()}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    # suite: time and jobs inside QuerySpec.fn, streaming jobs included
    # (a stream's jobs run under its own run-id group).
    fn = [s for s in spans if s.name == "suite.fn"]
    fn_jobs = _jobs(_subtree(spans, [s.id for s in fn]))
    fn_jobs = sorted(set(fn_jobs) | set(tracer.jobs_for_groups(tracer.stream_runs)))
    fn_st = stage_totals(tracer.stages(fn_jobs))
    put("suite.fn_s", sum(s.dur for s in fn), "s")
    put("suite.fn_self_s", sum(self_s[s.id] for s in fn), "s")
    put("suite.fn_jobs", len(fn_jobs), "count")
    put("suite.fn_task_s", fn_st["executorRunTime"] / 1e3, "s")

    # exec: the noop write of the returned DataFrame
    ex = [s for s in spans if s.layer == "exec"]
    ex_jobs = _jobs(ex)
    ex_st = stage_totals(tracer.stages(ex_jobs))
    ex_s = sum(s.dur for s in ex)
    put("exec.s", ex_s, "s")
    put("exec.jobs", len(ex_jobs), "count")
    put("exec.stages", ex_st["stages"], "count")
    put("exec.tasks", ex_st["numCompleteTasks"], "count")
    put("exec.task_s", ex_st["executorRunTime"] / 1e3, "s")
    put("exec.cpu_s", ex_st["executorCpuTime"] / 1e9, "s")
    put("exec.busy_cores", ex_st["executorRunTime"] / 1e3 / ex_s if ex_s else 0.0, "cores")
    put("exec.shuffle_write_mb", ex_st["shuffleWriteBytes"] / MB, "MB")
    put("exec.spill_mb", ex_st["diskBytesSpilled"] / MB, "MB")

    # catalog: stages of the pass that read files (inputBytes > 0)
    all_jobs = sorted(set(_jobs(spans)) | set(fn_jobs))
    scans = [st for st in tracer.stages(all_jobs) if st["inputBytes"] > 0]
    tasks = [st["numCompleteTasks"] for st in scans]
    put("catalog.scan_stages", len(scans), "count")
    put("catalog.scan_tasks_per_stage", statistics.mean(tasks) if tasks else 0.0, "tasks")
    put("catalog.single_task_scan_share", sum(t == 1 for t in tasks) / len(tasks) if tasks else 0.0, "share")
    put("catalog.input_mb", sum(st["inputBytes"] for st in scans) / MB, "MB")

    # stats: the value-rank kernels
    st_out = _outermost(spans, "stats")
    put("stats.calls", sum(s.layer == "stats" for s in spans), "count")
    put("stats.s", sum(s.dur for s in st_out), "s")
    put("stats.self_s", sum(self_s[s.id] for s in spans if s.layer == "stats"), "s")
    put("stats.jobs", len(_jobs(_subtree(spans, [s.id for s in st_out]))), "count")

    # artifacts: at-rest index builds and hits (outermost serves only)
    art = _outermost(spans, "artifacts")
    built = [s for s in art if s.attrs.get("built")]
    put("artifacts.builds", len(built), "count")
    put("artifacts.hits", len(art) - len(built), "count")
    put("artifacts.hit_ratio", (len(art) - len(built)) / len(art) if art else 0.0, "share")
    put("artifacts.build_s", sum(s.dur for s in built), "s")
    put("artifacts.self_s", sum(self_s[s.id] for s in spans if s.layer == "artifacts"), "s")
    put("artifacts.store_mb", dir_bytes(os.path.join(os.environ["SPARK_GRAFT_WAREHOUSE"], "indexes")) / MB, "MB")

    # cuts: DataFrame.localCheckpoint calls made by the package
    cuts = [s for s in spans if s.layer == "cuts"]
    put("cuts.eager", sum(bool(s.attrs.get("eager")) for s in cuts), "count")
    put("cuts.lazy", sum(not s.attrs.get("eager") for s in cuts), "count")
    put("cuts.s", sum(s.dur for s in cuts), "s")

    # streaming: replays and micro-batches seen by the query listener
    nb = len(tracer.stream_batches)
    put("streaming.replays", len(tracer.stream_runs), "count")
    put("streaming.batches", nb, "count")
    put("streaming.s", sum(tracer.stream_batches), "s")
    put("streaming.s_per_batch", sum(tracer.stream_batches) / nb if nb else 0.0, "s")

    # layout: table writes of the full ELT rebuild
    full = [s for s in spans if s.name == "elt.run_elt"]
    writes = [s for s in _subtree(spans, [s.id for s in full]) if s.layer == "layout"]
    for t in ELT_TABLES:
        put(f"layout.write_s.{t}", sum(s.dur for s in writes if s.attrs.get("table") == t), "s")
    put("layout.files_written", sum(s.attrs.get("files", 0) for s in writes), "count")
    put("layout.mb_written", sum(s.attrs.get("bytes", 0) for s in writes) / MB, "MB")
    put("layout.write_tasks", stage_totals(tracer.stages(_jobs(writes)))["numCompleteTasks"], "count")
    put("layout.self_s", sum(self_s[s.id] for s in writes), "s")
    stored = wl.stored_bytes() if full else 0
    put("layout.bytes_per_input_byte", stored / wl.input_bytes if full else 0.0, "ratio")

    # elt: the full rebuild and the incremental batches
    batches = [s for s in spans if s.name == "elt.run_elt_incremental"]
    put("elt.full_s", sum(s.dur for s in full), "s")
    put("elt.batch_s", statistics.median([s.dur for s in batches]) if batches else 0.0, "s")
    put(
        "elt.batch_jobs",
        statistics.mean([len(_jobs(_subtree(spans, [b.id]))) for b in batches]) if batches else 0.0,
        "count",
    )
    put(
        "elt.batch_rewrite_mb",
        statistics.mean([b.attrs.get("rewrite_bytes", 0) for b in batches]) / MB if batches else 0.0,
        "MB",
    )
    put("elt.self_s", sum(self_s[s.id] for s in full + batches), "s")

    # tracing overhead and the share of the pass in fn() and in execution
    put("trace.untraced_wall_s", untraced_wall_s, "s")
    wall = traced["wall_s"]
    put("trace.traced_wall_s", wall, "s")
    put("trace.overhead_s", wall - untraced_wall_s, "s")
    put("trace.fn_share", m["suite.fn_s"][0] / wall if wall else 0.0, "share")
    put("trace.exec_share", ex_s / wall if wall else 0.0, "share")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

