"""Session-rooted staging: every staged artifact lives under one
per-SparkSession root with a single teardown (r9 verdict "what's wrong"
#3 — orphaned mkdtemp dirs), and every build is swapped in atomically."""

import os

import pytest

from temporalvault_spark.staging import (
    _ROOTS,
    artifact,
    cleanup_staging,
    stage_dir,
    staging_root,
)


def test_stage_dirs_share_one_session_root(spark):
    root = staging_root(spark)
    a = stage_dir(spark, "unit_a")
    b = stage_dir(spark, "unit_b")
    assert os.path.dirname(a) == root and os.path.dirname(b) == root
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    assert os.path.basename(a).startswith("unit_a_")
    # the root is keyed by this session's applicationId
    assert spark.sparkContext.applicationId in os.path.basename(root)


def test_cleanup_removes_root_and_restages_self_heal(spark, sf_dir):
    """cleanup_staging removes the whole root; a staged consumer self-heals
    by re-staging on next use (the vanished-path guard in staging.artifact)."""
    from temporalvault_spark.operators.llm import stage_shingle_signatures

    first = stage_shingle_signatures(spark, sf_dir)
    root = staging_root(spark)
    assert first.startswith(root) and os.path.isdir(first)

    cleanup_staging(spark)
    assert not os.path.isdir(root)
    assert spark.sparkContext.applicationId not in _ROOTS

    again = stage_shingle_signatures(spark, sf_dir)  # re-stages, no error
    assert os.path.isdir(again)
    assert again.startswith(staging_root(spark))


def test_cleanup_without_session_clears_all_roots(spark):
    staging_root(spark)
    assert _ROOTS
    cleanup_staging()
    assert not _ROOTS


def test_failed_rebuild_keeps_previous_artifact(spark, sf_dir):
    """A build that writes part of an artifact and then raises (a data
    write landed, its sidecar did not) must leave the previous artifact
    readable, and the next lookup must still return it."""
    path = artifact(spark, "unit_torn", sf_dir, ("documents",),
                    lambda tmp: spark.range(3).write.parquet(tmp))

    def torn(tmp):
        spark.range(10).write.parquet(tmp)
        raise RuntimeError("sidecar write failed")

    with pytest.raises(RuntimeError, match="sidecar"):
        artifact(spark, "unit_torn", sf_dir, ("documents",), torn, force=True)
    assert artifact(spark, "unit_torn", sf_dir, ("documents",), torn) == path
    assert spark.read.parquet(path).count() == 3


def test_forced_restage_leaves_no_swap_siblings(spark, sf_dir):
    def build(tmp):
        spark.range(5).write.parquet(tmp)

    first = artifact(spark, "unit_force", sf_dir, ("documents",), build)
    again = artifact(spark, "unit_force", sf_dir, ("documents",), build, force=True)
    assert again == first
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]
    assert spark.read.parquet(again).count() == 5


def test_derived_copies_live_under_session_root(spark, sf_dir):
    """The snapshot vault and the z-ordered and compacted events copies are
    staged artifacts: under the session root, removed by cleanup_staging."""
    from temporalvault_spark.operators.temporal import snapshot_vault
    from temporalvault_spark.sources.compaction import _compacted_events_dir
    from temporalvault_spark.sources.layout import _zorder_events_dir

    root = staging_root(spark)
    paths = [
        snapshot_vault(spark, sf_dir).root,
        _zorder_events_dir(spark, sf_dir),
        _compacted_events_dir(spark, sf_dir),
    ]
    for p in paths:
        assert p.startswith(root + os.sep) and os.path.isdir(p)
    cleanup_staging(spark)
    assert not any(os.path.exists(p) for p in paths)


def test_zorder_copy_restages_after_events_rewrite(spark, sf_dir, tmp_path):
    import shutil
    import time

    import pyarrow.parquet as pq

    from temporalvault_spark.sources.layout import _zorder_events_dir

    d = str(tmp_path)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, f), os.path.join(d, f))
    first = _zorder_events_dir(spark, d)
    n = spark.read.parquet(first).count()

    events = pq.read_table(os.path.join(d, "events.parquet"))
    time.sleep(0.01)  # a distinct mtime_ns even on coarse filesystems
    pq.write_table(events.slice(0, n // 2), os.path.join(d, "events.parquet"))
    again = _zorder_events_dir(spark, d)
    assert again != first
    assert spark.read.parquet(again).count() == n // 2


def test_staged_edges_readable_after_forced_restage(spark, sf_dir):
    """The forced rebuild swaps the edge files out from under the read-back
    cache; the build drops that cache, so the next frame reads the new
    files instead of the deleted ones."""
    from temporalvault_spark.operators.graph import (
        stage_trade_edges,
        staged_trade_edges,
    )

    staged_trade_edges(spark, sf_dir)  # cached, still lazy
    path = stage_trade_edges(spark, sf_dir, force=True)
    assert staged_trade_edges(spark, sf_dir).count() == spark.read.parquet(path).count() > 0
