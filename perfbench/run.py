#!/usr/bin/env python3
"""cdw_spark benchmark: three closed-loop workloads, timed end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``sparkify_elt``, ``star_queries``, ``eager_operators`` (see
perfbench/README.md). The engine under test is ``local[<cores>]`` in this
process. All state lives under ``.perfbench/`` at the repository root:
generated inputs are cached there per (seed, size), and each run gets a
fresh warehouse, Spark scratch and temp directory that it removes at exit.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans are written to ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# Sparkify input size: events and catalog songs (a 1M-event, ~400 MB input
# does not fit the run-time budget; see README.md).
ELT_EVENTS = 20_000
ELT_SONGS = 2_000

# BENCHMARK.json lists sparkify_elt and eager_operators; star_queries is
# run by hand (README.md: the three together exceed the run-time budget).
WORKLOADS = ("sparkify_elt", "eager_operators", "star_queries")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed passes run until this much time has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every directory the engine writes to inside ``run_dir`` and let
    Python workers import the package from the repository root, whatever
    the working directory is. Must run before pyspark or cdw_spark import."""
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "local", "tmp", "replay")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_REPLAY_SCRATCH"] = dirs["replay"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dirs


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt, typ = parts[1], parts[2]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, typ
    except OSError:
        pass
    return kind


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM it launched: the gateway process
    exits once its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def sweep_stale_runs() -> None:
    """Remove run directories left by runs that were killed."""
    for d in glob.glob(os.path.join(STATE, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, OSError):
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks: stop the JVM, remove
    # the run directory.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isfile(os.path.join(ROOT, "cdw_spark", "__init__.py")):
        print(f"perfbench: no cdw_spark package under {ROOT}", file=sys.stderr)
        return 2

    sweep_stale_runs()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    dirs = isolate(run_dir)
    try:
        return bench(args, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, dirs) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen
    import layers
    import workloads as W
    from spans import Tracer

    cache = os.path.join(STATE, "inputs")
    if args.workload == "sparkify_elt":
        data = gen.sparkify(cache, args.seed, ELT_EVENTS, ELT_SONGS)
    else:
        data = gen.fixtures(cache, args.seed)

    t0 = time.perf_counter()
    from cdw_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        from cdw_spark.registry import load_all
        import cdw_spark.pipeline.elt  # noqa: F401  (bound names the tracer wraps)

        specs = load_all()
        registry_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=False)
        if args.workload == "sparkify_elt":
            wl = W.SparkifyElt(spark, tracer, data, os.path.join(dirs["warehouse"], "elt"))
        elif args.workload == "star_queries":
            wl = W.StarQueries(spark, tracer, specs, data, args.seed)
        else:
            wl = W.EagerOperators(spark, tracer, specs, data)

        # Warm-up: one pass at the timed scale with every output checked
        # (check time excluded). Every pass starts from the same state
        # (fresh ELT output directories, an empty artifact store), so the
        # timed passes compute what the checked pass did.
        warm = wl.run_pass(check=True)
        setup_s = session_s + registry_s + warm["wall_s"]

        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(wl.run_pass())
        wall_s = median([p["wall_s"] for p in passes])
        stored_mb = W.dir_bytes(dirs["warehouse"]) / 1e6

        replay_fs = fs_type(os.path.realpath(dirs["replay"]))
        print(f"workload={args.workload} seed={args.seed} cores={os.environ['SPARK_GRAFT_CPUS']} "
              f"replay_scratch={replay_fs} passes={len(passes)} "
              f"pass_walls={[round(p['wall_s'], 3) for p in passes]}")
        for op in wl.ops():
            print(f"  {op:36s} warmup={warm['ops'][op]:8.3f}s  "
                  f"median={median([p['ops'][op] for p in passes]):8.3f}s")
        for problem in wl.problems:
            print(f"  FAILED {problem}")

        if args.trace:
            # One traced pass between two untraced ones (A B A), so the
            # overhead estimate cancels a linear warm-up trend.
            tracer = Tracer(spark, enabled=True)
            wl.tracer = tracer
            try:
                traced = wl.run_pass()
                tracer.drain()
            finally:
                tracer.close()
            wl.tracer = Tracer(spark, enabled=False)
            untraced = [passes[-1]["wall_s"], wl.run_pass()["wall_s"]]
            metrics = layers.metrics(
                tracer, wl, traced,
                setup={"session.start_s": session_s, "registry.load_s": registry_s,
                       "suite.warmup_s": warm["wall_s"]},
                untraced_wall_s=statistics.mean(untraced),
            )
            os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
            out = os.path.join(STATE, "trace", f"{args.workload}-s{args.seed}.json")
            tracer.write(out, {"workload": args.workload, "seed": args.seed, "replay_scratch": replay_fs,
                               "metrics": metrics, "untraced_walls": untraced, "traced_pass": traced})
            print(f"trace written to {os.path.relpath(out, ROOT)}")
            for k, v in metrics.items():
                print(f"  {k:40s} {v['value']:.6g} {v['unit']}")
        else:
            ok_share = 1.0 - wl.failed / wl.attempted
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
                "ok_share": {"value": ok_share, "unit": "share"},
                "stored_mb": {"value": stored_mb, "unit": "MB"},
            }
        print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}))
        return 0
    finally:
        stop_engine(spark)


if __name__ == "__main__":
    sys.exit(main())
