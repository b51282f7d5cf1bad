"""Small-file compaction: plan arithmetic, file mechanics, content identity."""

import glob
import os

import pytest

from temporalvault_spark.sources.compaction import (
    compact_files,
    list_data_files,
    plan_compaction,
)


@pytest.fixture(scope="module")
def frag_dir(spark, tmp_path_factory):
    """events (sf0.001) fragmented into 16 trickle files."""
    path = str(tmp_path_factory.mktemp("frag"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.repartition(16).write.mode("overwrite").parquet(path)
    return path


def test_plan_counts_small_files(frag_dir):
    plan = plan_compaction(frag_dir, target_bytes=1024 * 1024)
    assert plan["n_input_files"] == 16
    assert plan["n_small_files"] == 16  # every trickle file is undersized
    assert plan["n_output_files"] == 1  # total ≪ 1 MB target
    assert plan["total_bytes"] == sum(sz for _, sz in list_data_files(frag_dir))


def test_plan_scales_with_target(frag_dir):
    total = plan_compaction(frag_dir)["total_bytes"]
    # a target of total/4 must plan 4 (or 5, ceil) outputs
    plan = plan_compaction(frag_dir, target_bytes=max(1, total // 4))
    assert plan["n_output_files"] in (4, 5)


def test_compact_merges_files_and_preserves_content(spark, frag_dir, tmp_path):
    out = str(tmp_path / "compacted")
    plan = compact_files(spark, frag_dir, out, target_bytes=1024 * 1024)
    assert plan["n_output_files"] == 1
    assert len(glob.glob(os.path.join(out, "*.parquet"))) == 1
    before = {tuple(r) for r in spark.read.parquet(frag_dir).collect()}
    after = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert before == after


def test_compact_coalesce_plans_no_shuffle(spark, frag_dir):
    df = spark.read.parquet(frag_dir).coalesce(1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_compact_shuffle_mode_balances(spark, frag_dir, tmp_path):
    out = str(tmp_path / "compacted_shuffle")
    compact_files(spark, frag_dir, out, target_bytes=1024 * 1024, mode="shuffle")
    before = {tuple(r) for r in spark.read.parquet(frag_dir).collect()}
    after = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert before == after


def test_compact_cache_key_tracks_source_rewrites(spark, tmp_path):
    """The per-session compacted-copy cache must restage when the events
    source is rewritten (the staging.fingerprint freshness contract)."""
    import os
    import shutil

    from temporalvault_spark.staging import fingerprint

    d = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{d}/events.parquet")
    k1 = fingerprint(spark, d, ("events",))
    os.utime(f"{d}/events.parquet", ns=(1, 1))  # simulate rewrite
    k2 = fingerprint(spark, d, ("events",))
    assert k1 != k2
    assert k1[0] == spark.sparkContext.applicationId
