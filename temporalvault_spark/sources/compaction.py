"""Small-file compaction (OPTIMIZE): table-maintenance for the append path.

The reference's write model is one INSERT per POST /records (app/main.py:
68-100) — translated to a lake, that's the classic small-file problem: a
streaming/trickle ingest leaves thousands of KB-sized parquet files, and at
100 TB the scan's task-scheduling + footer overhead dwarfs the I/O. Every
lakehouse ships the fix as a maintenance op (Delta OPTIMIZE / Iceberg
rewrite_data_files); this module is the Spark-native equivalent:

  * ``plan_compaction`` — pure-metadata bin-packing of input files into
    target-sized output groups (no data read; at scale this is a listing
    plus arithmetic, same as Delta's OPTIMIZE planning phase);
  * ``compact_files`` — ONE job: read the fragmented table, reshape to the
    planned file count, write. ``mode='coalesce'`` (default) merges
    partitions WITHOUT a shuffle — each output task concatenates whole
    input files; ``mode='shuffle'`` round-robins rows for balanced outputs
    when input sizes are pathologically skewed.

Compaction is semantically invisible: the registered query returns the
table read back from the compacted copy and the oracle reads the original —
the driver's value-hash pins "no row lost, none duplicated, none mutated".
The file-count/size mechanics are pinned by tests/test_compaction.py.
"""

from __future__ import annotations

import glob
import math
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # lakehouse-standard 128 MB target


def list_data_files(path: str) -> list[tuple[str, int]]:
    """(file, size) for every parquet data file under ``path``."""
    return [
        (f, os.path.getsize(f))
        for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
    ]


def plan_compaction(
    path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict[str, int]:
    """Metadata-only compaction plan: how many output files a compaction to
    ``target_bytes`` would produce, and how many undersized inputs it folds.
    First-fit-decreasing would bin-pack per-group; for the single-table
    rewrite below only the aggregate matters: n_out = ceil(total/target),
    floored at 1."""
    files = list_data_files(path)
    total = sum(sz for _, sz in files)
    n_small = sum(1 for _, sz in files if sz < target_bytes // 2)
    return {
        "n_input_files": len(files),
        "n_small_files": n_small,
        "total_bytes": total,
        "n_output_files": max(1, math.ceil(total / target_bytes)),
    }


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    mode: str = "coalesce",
) -> dict[str, int]:
    """Rewrite the parquet table at ``path`` into ~target-sized files at
    ``out_path``. ``coalesce`` narrows partitions with NO shuffle (the
    normal choice: compaction is I/O-bound, moving rows between executors
    buys nothing); ``shuffle`` pays one round-robin exchange for balanced
    outputs. Returns the plan it executed."""
    plan = plan_compaction(path, target_bytes)
    df = spark.read.parquet(path)
    n = plan["n_output_files"]
    shaped = df.coalesce(n) if mode == "coalesce" else df.repartition(n)
    shaped.write.mode("overwrite").parquet(out_path)
    return plan


def _compacted_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the demo: fragment events into 64 trickle-sized files, then
    compact them — one staged copy per session + events fingerprint, like
    layout._zorder_events_dir."""
    import shutil

    from temporalvault_spark.catalog import load_catalog
    from temporalvault_spark.staging import artifact, stage_dir

    def build(tmp: str) -> None:
        frag = stage_dir(spark, "frag_events")
        load_catalog(spark, sf_dir).table("events").repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        # 1 MB target: at sf0.01 the 64 fragments total ~1 MB, so the plan
        # folds them into a single file — the 64:1 shape of a real OPTIMIZE
        compact_files(spark, frag, tmp, target_bytes=1024 * 1024)
        shutil.rmtree(frag, ignore_errors=True)

    return artifact(spark, "compact_events", sf_dir, ("events",), build)


def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry demo: fragment the events table into 64 trickle files,
    compact them to target size, and read the result back. The oracle reads
    the ORIGINAL table — compaction must be a pure layout change, and the
    value-hash proves it (no row lost/duplicated/mutated). File mechanics
    (64 -> planned count, no shuffle in coalesce mode) are pinned by
    tests/test_compaction.py."""
    back = spark.read.parquet(_compacted_events_dir(spark, sf_dir))
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


def register_queries() -> None:
    from temporalvault_spark.registry import query

    query(
        "compact_small_files",
        """SELECT event_id, ts, user_id, event_type, value, props
           FROM events""",
    )(q_compact_small_files)
