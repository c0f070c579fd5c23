"""Lifecycle of the at-rest index artifact store (operators/artifacts.py):
warehouse-relative layout, spec-hash keys, stale-build orphan GC, and the
lost-race vs real-failure split in the publish path (VERDICT r10 #5,
ADVICE r10 #2/#3)."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

from cdw_spark.operators.artifacts import (
    _store_base,
    artifact_dir,
    clear_family,
    serve_at_rest,
)


def test_serves_live_only_in_artifact_store():
    """Source-scan guard: outside operators/artifacts.py no module in
    cdw_spark/ calls ``serve_at_rest``, ``serve_summary_at_rest`` or
    ``artifact_dir``; each index family is served through its one
    ``AtRestIndex`` declaration."""
    pkg = Path(__file__).resolve().parent.parent / "cdw_spark"
    pattern = re.compile(r"\b(serve_at_rest|serve_summary_at_rest|artifact_dir)\(")
    offenders = sorted(
        f"{path.relative_to(pkg.parent)}:{i}"
        for path in pkg.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    )
    assert offenders, "the guard must see the store in operators/artifacts.py"
    assert all(o.startswith("cdw_spark/operators/artifacts.py:") for o in offenders), offenders


def test_store_is_warehouse_relative(sf_dir):
    """No /tmp literal of its own: the store root follows the warehouse
    env var, so redeploying the warehouse moves the indexes with it."""
    fixture = os.path.join(sf_dir, "documents.parquet")
    old = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    try:
        os.environ["SPARK_GRAFT_WAREHOUSE"] = "/tmp/cdw_wh_probe"
        d = artifact_dir("probe", fixture, "v1", "SELECT 1")
        assert d.startswith("/tmp/cdw_wh_probe/indexes/probe/")
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_WAREHOUSE", None)
        else:
            os.environ["SPARK_GRAFT_WAREHOUSE"] = old


def test_key_folds_in_version_and_spec_text(sf_dir):
    """ADVICE r10 #2: the content key must change when EITHER the version
    tag or the semantic-spec text changes — a forgotten version bump on a
    construction edit still mints a new artifact."""
    fixture = os.path.join(sf_dir, "documents.parquet")
    base = artifact_dir("probe", fixture, "v1", "SELECT 1")
    assert artifact_dir("probe", fixture, "v2", "SELECT 1") != base
    assert artifact_dir("probe", fixture, "v1", "SELECT 2") != base
    # same inputs -> same key (cache actually hits)
    assert artifact_dir("probe", fixture, "v1", "SELECT 1") == base
    # all keys for one fixture share a parent dir (the GC sweep scope)
    assert os.path.dirname(artifact_dir("probe", fixture, "v2", "SELECT 1")) == (
        os.path.dirname(base)
    )


def test_stale_artifact_rebuilt_and_swept(spark, sf_dir):
    """A version bump (or fixture regen / spec edit) must (a) rebuild
    under the new key and (b) remove the orphaned old build — artifacts
    may not accumulate forever (VERDICT r10 #5)."""
    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("gc_probe")
    build_calls = []

    def build():
        build_calls.append(1)
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d1 = artifact_dir("gc_probe", fixture, "v1", "spec-a")
        out1 = serve_at_rest(spark, "gc_probe", fixture, "v1", "spec-a", build)
        n1 = out1.count()  # materialize before the sweep invalidates d1
        assert n1 > 0
        assert os.path.exists(os.path.join(d1, "_SUCCESS"))
        assert build_calls == [1]

        # warm path: same key, no rebuild
        serve_at_rest(spark, "gc_probe", fixture, "v1", "spec-a", build).count()
        assert build_calls == [1]

        # stale path: bumped version -> new key built, old key swept
        d2 = artifact_dir("gc_probe", fixture, "v2", "spec-a")
        out2 = serve_at_rest(spark, "gc_probe", fixture, "v2", "spec-a", build)
        assert out2.count() == n1
        assert build_calls == [1, 1]
        assert os.path.exists(os.path.join(d2, "_SUCCESS"))
        assert not os.path.exists(d1), "orphaned stale artifact not swept"
    finally:
        clear_family("gc_probe")


def test_lost_race_serves_winner_artifact(spark, sf_dir, monkeypatch):
    """ADVICE r10 #3 (race half): when the atomic rename fails because
    another builder already published, the loser must discard its tmp and
    serve the winner's artifact."""
    import cdw_spark.operators.artifacts as arts

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("race_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d = artifact_dir("race_probe", fixture, "v1", "spec")
        real_rename = os.rename

        def racing_rename(src, dst):
            if dst == d:
                # simulate the winner publishing first, then fail the
                # loser's rename the way a non-empty target does
                real_rename(src, dst)
                raise OSError("Directory not empty")
            return real_rename(src, dst)

        monkeypatch.setattr(arts.os, "rename", racing_rename)
        out = serve_at_rest(spark, "race_probe", fixture, "v1", "spec", build)
        assert out.count() > 0
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        # the loser's tmp dir was discarded
        parent = os.path.dirname(d)
        assert [n for n in os.listdir(parent) if ".tmp" in n] == []
    finally:
        clear_family("race_probe")


def test_abandoned_tmp_dirs_reclaimed(spark, sf_dir):
    """ADVICE r11: a crashed builder's ``<key>.tmp<pid>`` dir (owner pid
    dead) must be reclaimed by the next build's orphan sweep, while a
    LIVE builder's tmp dir must survive it."""
    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("tmp_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d = artifact_dir("tmp_probe", fixture, "v1", "spec")
        parent = os.path.dirname(d)
        os.makedirs(parent, exist_ok=True)
        # a tmp dir from a pid that no longer exists (max pid + unlikely)
        dead = os.path.join(parent, "deadkey.tmp999999999")
        os.makedirs(dead)
        # a tmp dir owned by THIS live process
        live = os.path.join(parent, f"livekey.tmp{os.getpid()}")
        os.makedirs(live)
        serve_at_rest(spark, "tmp_probe", fixture, "v1", "spec", build).count()
        assert not os.path.exists(dead), "dead builder tmp not reclaimed"
        assert os.path.exists(live), "live builder tmp wrongly swept"
    finally:
        clear_family("tmp_probe")


def test_real_publish_failure_raises(spark, sf_dir, monkeypatch):
    """ADVICE r10 #3 (failure half): a rename failure with NO winner
    artifact present (permissions, cross-device move) must re-raise
    instead of silently discarding the build and failing later with a
    misleading path-not-found."""
    import cdw_spark.operators.artifacts as arts

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("fail_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:

        def broken_rename(src, dst):
            raise OSError("Invalid cross-device link")

        monkeypatch.setattr(arts.os, "rename", broken_rename)
        with pytest.raises(OSError, match="cross-device"):
            serve_at_rest(spark, "fail_probe", fixture, "v1", "spec", build)
    finally:
        clear_family("fail_probe")


def test_build_lock_dropped_after_publish(spark, sf_dir):
    """Concurrent callers of one key build it once, and once the artifact
    (or its backfilled summary) is published its per-key lock is gone: the
    lock table holds only the builds in flight, not one lock per key ever
    served."""
    import sys
    import threading

    import cdw_spark.operators.artifacts as arts

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("lock_probe")
    n_threads = 2 * (os.cpu_count() or 4)
    build_calls, counts = [], []
    start = threading.Barrier(n_threads)

    def build():
        build_calls.append(1)
        return spark.read.parquet(fixture).select("r_regionkey")

    def serve():
        start.wait(timeout=60)
        counts.append(serve_at_rest(spark, "lock_probe", fixture, "v1", "spec", build).count())

    old_interval = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-5)
        d = artifact_dir("lock_probe", fixture, "v1", "spec")
        threads = [threading.Thread(target=serve) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert len(counts) == n_threads and len(set(counts)) == 1 and counts[0] > 0
        assert build_calls == [1]
        assert d not in arts._build_locks

        # the summary backfill's lock goes the same way
        summary = arts.serve_summary_at_rest(
            spark, "lock_probe", fixture, "v1", "spec", build, lambda df: df.groupBy().count()
        )
        assert summary.first()[0] == counts[0]
        assert os.path.join(d, "_summary") not in arts._build_locks
    finally:
        sys.setswitchinterval(old_interval)
        clear_family("lock_probe")
