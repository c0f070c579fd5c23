"""At-rest index artifact store — the shared lifecycle for materialized
index relations. Four families use it: kNN edges (``suite/similarity.py``),
co-occurrence lists (``suite/recsys.py``), near-dup components
(``suite/dedup.py``) and per-source text blocks (``suite/text.py``). Each
declares itself once as an ``AtRestIndex`` and every consumer serves it
through that declaration.

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

Concurrency: builders (of an artifact, or of a summary backfilled into
one) write to a pid-suffixed tmp dir and publish with an atomic
``os.rename`` (``_publish``). When the rename fails because another
builder won, the winner's ``_SUCCESS`` marker is re-checked and the
loser's tmp is discarded; any OTHER rename failure (permissions,
cross-device move via an env redirection) re-raises instead of silently
discarding the build and then failing later with a misleading
path-not-found.

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
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def _publish(
    spark: SparkSession,
    d: str,
    write: Callable[[str], dict[str, StructType]],
    sweep: Callable[[], None],
) -> DataFrame:
    """The one publish protocol, for an artifact and for a summary
    backfill: publish ``d`` at most once and return its parquet scan.

    Under ``d``'s lock the ``_SUCCESS`` marker is re-checked, ``write(tmp)``
    fills a pid-suffixed tmp dir and returns the schema of each relation it
    wrote (keyed by its path under the dir, ``""`` for the dir itself), and
    an atomic rename publishes it. A failed rename is a lost race when the
    winner's marker now exists (the tmp is discarded and the winner
    served); any other rename failure re-raises. A won rename remembers the
    written schemas under the published path. ``sweep()`` then reclaims
    stale siblings, and the lock is dropped."""
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        with _key_lock(d):
            if not os.path.exists(marker):
                tmp = f"{d}.tmp{os.getpid()}"
                schemas = write(tmp)
                try:
                    os.rename(tmp, d)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(marker):
                        # not the lost-race case — surface the real failure
                        # instead of a later misleading path-not-found
                        raise
                else:
                    for sub, schema in schemas.items():
                        remember_schema(os.path.join(d, sub), schema)
                sweep()
        _drop_key_lock(d)
    return read_parquet(spark, d)


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

    def write(tmp: str) -> dict[str, StructType]:
        built = build()
        write_parquet(built, tmp)
        if summary is None:
            return {"": built.schema}
        summ = summary(read_parquet(spark, tmp)).coalesce(1)
        write_parquet(summ, os.path.join(tmp, "_summary"))
        return {"": built.schema, "_summary": summ.schema}

    return _publish(
        spark, d, write, lambda: _sweep_orphans(os.path.dirname(d), os.path.basename(d))
    )


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
    through the same publish protocol (computed from the published
    parquet; a dead backfiller's ``_summary.tmp<pid>`` is reclaimed) —
    adding a summary must never rebuild a 100 TB index."""
    serve_at_rest(spark, family, fixture_path, version, spec_text, build, summary)
    d = artifact_dir(family, fixture_path, version, spec_text)

    def write(tmp: str) -> dict[str, StructType]:
        summ = summary(read_parquet(spark, d)).coalesce(1)
        write_parquet(summ, tmp)
        return {"": summ.schema}

    def sweep() -> None:
        for name in os.listdir(d):
            p = os.path.join(d, name)
            if name.startswith("_summary.tmp") and _tmp_is_abandoned(p, name):
                shutil.rmtree(p, ignore_errors=True)

    return _publish(spark, os.path.join(d, "_summary"), write, sweep)


@dataclass(frozen=True)
class AtRestIndex:
    """One index family, declared once by the suite module that owns it.

    ``family`` names its store directory, ``fixture`` is the table whose
    file identity keys it, ``version`` and ``spec`` are the build version
    tag and the semantic-spec text folded into the content key.
    ``build(spark, sf_dir)`` computes the relation; ``summary(spark,
    sf_dir, artifact)`` computes the shape row its ``*_materialize`` query
    serves, from the published parquet. The serves call ``serve_at_rest``
    and ``serve_summary_at_rest`` through this module's globals at call
    time, so a wrapper installed on those names sees every serve."""

    family: str
    fixture: str
    version: str
    spec: str
    build: Callable[[SparkSession, str], DataFrame]
    summary: Callable[[SparkSession, str, DataFrame], DataFrame]

    def _key(self, sf_dir: str) -> tuple[str, str, str, str]:
        fixture_path = os.path.join(sf_dir, f"{self.fixture}.parquet")
        return self.family, fixture_path, self.version, self.spec

    def _args(self, spark: SparkSession, sf_dir: str) -> tuple:
        return (
            spark,
            *self._key(sf_dir),
            lambda: self.build(spark, sf_dir),
            lambda artifact: self.summary(spark, sf_dir, artifact),
        )

    def dir(self, sf_dir: str) -> str:
        """The content-keyed artifact directory for ``sf_dir``'s fixture."""
        return artifact_dir(*self._key(sf_dir))

    def serve(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The artifact relation, built and published on first use."""
        return serve_at_rest(*self._args(spark, sf_dir))

    def serve_summary(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The artifact's one-row shape summary (backfilled if missing)."""
        return serve_summary_at_rest(*self._args(spark, sf_dir))


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
