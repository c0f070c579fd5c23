"""At-rest index artifact store — the shared lifecycle for materialized
index relations (kNN edge graph, co-occurrence lists, dedup components).

A 100 TB deployment builds its indexes at ingest and serves every query
from the materialized relation; this module is that discipline for the
suite's index families. Each artifact is a parquet directory keyed by

    (fixture file identity: abspath | size | mtime_ns)
  x (build version tag, bumped on intentional construction changes)
  x (a hash of the SEMANTIC SPEC text — the oracle CTE that defines the
     relation — so an upstream construction change that forgets the
     version bump still mints a NEW key instead of serving stale data)

and lives under the Spark warehouse directory (``SPARK_GRAFT_WAREHOUSE``,
the same root ``cdw_spark.session`` configures), grouped per fixture so
orphaned keys from a regenerated fixture or a version bump are swept on
the next build (so artifacts never accumulate without bound).

Concurrency: builders write to a pid-suffixed tmp dir and publish with an
atomic ``os.rename``. When the rename fails because another builder won,
the winner's ``_SUCCESS`` marker is re-checked and the loser's tmp is
discarded; any OTHER rename failure (permissions, cross-device move via
an env redirection) re-raises instead of silently discarding the build
and then failing later with a misleading path-not-found.

Schemas: every read of an artifact passes a schema this process knows
(``catalog.read_parquet``), so none fires an inference job. A build
remembers the schema it wrote, under the published path once the rename
lands, and so does its summary; an artifact published by another process
is inferred on this process's first read.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import forget_schemas, read_parquet, remember_schema, write_parquet

# In-process builder serialization: the pid-suffixed tmp + atomic-rename
# protocol is safe across PROCESSES, but two driver THREADS share a pid and
# would write the same tmp dir concurrently (observed: FileNotFoundException
# in the commit protocol when plan construction was threaded). One lock per
# content key: the first thread builds, the rest block briefly and then see
# the published _SUCCESS marker. A key's lock is dropped once its marker is
# published, so the dict holds only the builds in flight.
_build_locks: dict[str, threading.Lock] = {}
_build_locks_guard = threading.Lock()


def _key_lock(key: str) -> threading.Lock:
    with _build_locks_guard:
        return _build_locks.setdefault(key, threading.Lock())


def _drop_key_lock(key: str) -> None:
    """Forget a key's lock once its ``_SUCCESS`` marker exists. Safe: a
    thread still waiting on the old lock re-checks the marker after
    acquiring it, and so does a later caller that makes a fresh one."""
    with _build_locks_guard:
        _build_locks.pop(key, None)


def _store_base() -> str:
    """Root of the artifact store: an ``indexes/`` sibling of the managed
    tables inside the warehouse dir (no /tmp literal here — the location
    follows wherever the deployment points its warehouse)."""
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cdw_warehouse")
    return os.path.join(wh, "indexes")


def artifact_dir(family: str, fixture_path: str, version: str, spec_text: str) -> str:
    """Content-keyed directory for one artifact build.

    Layout: ``<warehouse>/indexes/<family>/<fixture_tag>/<content_key>``
    where fixture_tag identifies the fixture PATH (stable across
    regenerations, so siblings under it are exactly the stale builds of
    the same fixture) and content_key folds in file identity, the build
    version, and the spec-text hash.
    """
    p = os.path.abspath(fixture_path)
    st = os.stat(p)
    spec_h = hashlib.sha256(spec_text.encode()).hexdigest()[:16]
    fixture_tag = hashlib.sha256(p.encode()).hexdigest()[:12]
    key = f"{p}|{st.st_size}|{st.st_mtime_ns}|{version}|{spec_h}"
    content_key = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(_store_base(), family, fixture_tag, content_key)


def _tmp_is_abandoned(path: str, name: str) -> bool:
    """A builder tmp dir (``<key>.tmp<pid>``) is reclaimable when its
    owning pid is gone, or — when the suffix doesn't parse — when the
    dir is older than an hour (so a crashed builder's tmp dir is swept
    by the next build, not only by a cold ``clear_all``)."""
    suffix = name.rsplit(".tmp", 1)[-1]
    if suffix.isdigit():
        pid = int(suffix)
        if pid == os.getpid():
            return False
        try:
            os.kill(pid, 0)
            return False  # owner still alive — leave its build alone
        except ProcessLookupError:
            return True
        except OSError:
            return False  # e.g. EPERM: pid exists under another user
    try:
        import time

        return time.time() - os.stat(path).st_mtime > 3600
    except OSError:
        return False


def _sweep_orphans(fixture_base: str, keep_key: str) -> None:
    """Remove sibling content-key dirs for the same fixture (stale builds
    from an older mtime / version / spec). Runs only right after a fresh
    build publishes, so nothing live references the orphans. Builder tmp
    dirs (``<key>.tmp<pid>``) are reclaimed only when abandoned — owner
    pid dead, or unparseable suffix older than an hour."""
    try:
        siblings = os.listdir(fixture_base)
    except OSError:
        return
    for name in siblings:
        if name == keep_key:
            continue
        path = os.path.join(fixture_base, name)
        if ".tmp" in name and not _tmp_is_abandoned(path, name):
            continue
        shutil.rmtree(path, ignore_errors=True)


def serve_at_rest(
    spark: SparkSession,
    family: str,
    fixture_path: str,
    version: str,
    spec_text: str,
    build: Callable[[], DataFrame],
    summary: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Return the artifact as a DataFrame, building it once per content
    key (first caller materializes + sweeps orphans, everyone else scans
    the parquet).

    ``summary``: an aggregate derived FROM the freshly
    written parquet (never the in-memory build lineage, so its values
    stay artifact-derived) written to ``<dir>/_summary`` inside the same
    atomic publish — the shape row a ``*_materialize`` query serves in
    O(1) instead of recounting the full relation per call. The leading
    underscore hides it from the artifact's own parquet scan."""
    d = artifact_dir(family, fixture_path, version, spec_text)
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        with _key_lock(d):
            if not os.path.exists(marker):
                base = os.path.dirname(d)
                os.makedirs(base, exist_ok=True)
                tmp = f"{d}.tmp{os.getpid()}"
                built = build()
                write_parquet(built, tmp)
                if summary is not None:
                    summ = summary(read_parquet(spark, tmp)).coalesce(1)
                    write_parquet(summ, os.path.join(tmp, "_summary"))
                try:
                    os.rename(tmp, d)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(marker):
                        # not the lost-race case — surface the real failure
                        # instead of a later misleading path-not-found
                        raise
                else:
                    remember_schema(d, built.schema)
                    if summary is not None:
                        remember_schema(os.path.join(d, "_summary"), summ.schema)
                _sweep_orphans(base, os.path.basename(d))
        _drop_key_lock(d)
    return read_parquet(spark, d)


def serve_summary_at_rest(
    spark: SparkSession,
    family: str,
    fixture_path: str,
    version: str,
    spec_text: str,
    build: Callable[[], DataFrame],
    summary: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Serve the artifact's published shape row: an O(1)
    one-row parquet scan at steady state, while the values remain
    artifact-derived (computed from the published parquet at publish
    time — tests/test_artifact_summaries.py recounts the full relation
    and asserts agreement, keeping the driver's hash gate meaningful).

    Artifacts published before summaries existed are backfilled in place
    (computed from the published parquet, atomic rename, lost race →
    serve the winner) — adding a summary must never rebuild a 100 TB
    index."""
    serve_at_rest(spark, family, fixture_path, version, spec_text, build, summary)
    d = artifact_dir(family, fixture_path, version, spec_text)
    sdir = os.path.join(d, "_summary")
    if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
        with _key_lock(sdir):
            if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
                for name in os.listdir(d):
                    p = os.path.join(d, name)
                    if name.startswith("_summary.tmp") and _tmp_is_abandoned(p, name):
                        shutil.rmtree(p, ignore_errors=True)
                tmp = f"{sdir}.tmp{os.getpid()}"
                summ = summary(read_parquet(spark, d)).coalesce(1)
                write_parquet(summ, tmp)
                try:
                    os.rename(tmp, sdir)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
                        raise
                else:
                    remember_schema(sdir, summ.schema)
        _drop_key_lock(sdir)
    return read_parquet(spark, sdir)


def clear_family(family: str) -> None:
    """Drop every artifact of a family (bench cold-run discipline: the
    first run of a canonical pair records the cold build)."""
    shutil.rmtree(os.path.join(_store_base(), family), ignore_errors=True)


def clear_all() -> None:
    """Drop the entire index store and every known parquet schema —
    bench.py runs this before its timed loop in cold mode, so the one-time
    build cost of every *_materialize op (and each fixture's first schema
    inference) is ON the timed record instead of inherited from whatever
    state the host happens to hold."""
    shutil.rmtree(_store_base(), ignore_errors=True)
    forget_schemas()
