"""Z-order (Morton-curve) file layout: multi-dimensional data skipping.

The reference indexes its version log with two B-trees (reference
app/models.py:21-24: record_id, timestamp) so point and as-of lookups touch
few pages. A columnar lake has no B-trees — its substitute is FILE LAYOUT:
parquet row-group/file min-max statistics prune the scan, but only for
columns the data is clustered on. Sorting by one column (ts) gives perfect
pruning on ts and none on record_id; interleaving the bits of both
dimensions (the Morton / Z-order curve — the technique behind Delta Lake's
OPTIMIZE ZORDER and Databricks liquid clustering) gives useful pruning on
EACH dimension at once, because a contiguous z-range maps to a small
axis-aligned region of the key space.

Scale shape, 100 TB:
  * one cheap min/max aggregate (or caller-supplied bounds — at petabyte
    scale you know your domains) maps each dimension to a fixed-point grid;
  * the z-value is pure bit arithmetic — whole-stage-codegen'd, no Python,
    no shuffle of its own;
  * `repartitionByRange(z)` is ONE range shuffle with sampled boundaries
    (the same cost any global sort pays), then files write out locally
    sorted — so every output file owns one tight z-range, i.e. one small
    rectangle of (ts, key) space;
  * queries never mention z: parquet stats pruning (and partition pruning
    above it) is transparent — a (ts-window AND key-range) scan skips every
    file whose rectangle misses the box. Layout is a write-side decision,
    invisible to readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # per-dimension fixed-point resolution: 2^16 grid cells/axis


def _interleave_sql(scaled_col: str, bits: int, n_dims: int, offset: int) -> str:
    """Unrolled bit-spread: bit i of `scaled_col` lands at position
    i*n_dims + offset of the z-value. All shift amounts are Python-side
    literals so the whole thing stays one codegen'd long expression."""
    terms = [
        f"shiftleft(shiftright({scaled_col}, {i}) & 1, {i * n_dims + offset})"
        for i in range(bits)
    ]
    return " | ".join(terms)


def with_z_value(
    df: DataFrame,
    cols: tuple[str, ...],
    bits: int = Z_BITS,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Append `z_value`: the Morton interleave of `cols` scaled to a
    2^bits fixed-point grid. `bounds` (per-col (lo, hi)) skips the min/max
    pass — supply them at scale where domains are known."""
    if bounds is None:
        row = df.agg(
            *[
                f
                for c in cols
                for f in (
                    F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
                )
            ]
        ).first()
        bounds = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}
    n_dims = len(cols)
    grid_max = (1 << bits) - 1
    out = df
    z_parts = []
    for offset, c in enumerate(cols):
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        scaled = f"__zs_{c}"
        # clamp IN DOUBLE SPACE, before the long cast: rows outside the
        # declared bounds still get a legal cell, and an extreme outlier
        # (or NaN, neutralized by nanvl) can never hit ANSI CAST_OVERFLOW —
        # clamping after the cast crashes the whole layout job on the first
        # sentinel value whose scaled magnitude exceeds 2^63
        raw = (
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * F.lit(float(grid_max))
        )
        out = out.withColumn(
            scaled,
            F.least(
                F.lit(float(grid_max)),
                F.greatest(F.lit(0.0), F.nanvl(raw, F.lit(0.0))),
            ).cast("long"),
        )
        z_parts.append(_interleave_sql(scaled, bits, n_dims, offset))
    out = out.withColumn("z_value", F.expr(" | ".join(z_parts)).cast("long"))
    return out.drop(*[f"__zs_{c}" for c in cols])


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int | None = None,
    bits: int = Z_BITS,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Cluster `df` on the z-curve of `cols` and write parquet: one range
    shuffle, locally sorted files, each owning a tight (multi-dim) cell.
    The z column itself is dropped before the write — projection after the
    sort keeps row order, and readers shouldn't see layout internals."""
    spark = df.sparkSession
    n = n_files or spark.sparkContext.defaultParallelism
    z = with_z_value(df, cols, bits=bits, bounds=bounds)
    (
        z.repartitionByRange(n, "z_value")
        .sortWithinPartitions("z_value")
        .drop("z_value")
        .write.mode("overwrite")
        .parquet(path)
    )


def _zorder_events_dir(spark, sf_dir: str) -> str:
    """One staged z-rewrite per session + events fingerprint: repeated
    invocations (bench reps, correctness sweeps) reuse the copy, and a
    rewritten events table re-stages."""
    from temporalvault_spark.catalog import load_catalog
    from temporalvault_spark.staging import artifact

    return artifact(
        spark, "zorder_events", sf_dir, ("events",),
        lambda tmp: write_zordered(
            load_catalog(spark, sf_dir).table("events"), tmp, ("ts", "user_id"), n_files=8
        ),
    )


def q_zorder_scan(spark, sf_dir: str):
    """Registry demo: rewrite events z-ordered on (ts, user_id), then run a
    user_id-slice aggregate over the rewritten copy. Results are layout-
    invariant (the oracle reads the original table), which is exactly the
    point — clustering is transparent to readers; only the scan's stats
    pruning changes. The skipping win itself is pinned quantitatively in
    tests/test_layout.py (file-footer intersect counts)."""
    from pyspark.sql import functions as F  # noqa: F811

    back = spark.read.parquet(_zorder_events_dir(spark, sf_dir))
    return (
        back.filter(F.col("user_id").between(2, 5))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_uid"),
        )
    )


def register_queries() -> None:
    from temporalvault_spark.registry import query

    query(
        "zorder_scan",
        """SELECT event_type, COUNT(*) AS n_events,
                  CAST(SUM(user_id) AS BIGINT) AS sum_uid
           FROM events WHERE user_id BETWEEN 2 AND 5
           GROUP BY event_type""",
    )(q_zorder_scan)


def file_stats(path: str, column: str) -> list[tuple[float, float]]:
    """Per-file (min, max) of `column` from parquet footers — the exact
    metadata the scan's stats pruning consults. Test/diagnostic helper."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col_idx = {md.row_group(rg).column(i).path_in_schema: i for i in range(md.row_group(rg).num_columns)}
            st = md.row_group(rg).column(col_idx[column]).statistics
            if st is not None and st.has_min_max:
                los.append(st.min)
                his.append(st.max)
        if los:
            out.append((min(los), max(his)))
    return out
