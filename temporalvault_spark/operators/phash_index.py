"""Persisted perceptual-hash band index: incremental IMAGE near-dup against
an already-ingested corpus WITHOUT re-hashing it — the image cell of the
incremental-index family (text: minhash_index.py, embeddings:
rp_lsh_index.py, images: THIS, audio: afp_index.py). A training-data
pipeline's recurring question is "is this new image batch a near-dup of
anything already ingested?"; at 100 TB the decode+hash pass is paid ONCE
per image at ingest, and the 64-bit hashes become a TABLE:

    (img_id, hash64, band, bv) partitioned by (band, bkt, ingest)

where bv is one of PHASH_BANDS 16-bit Hamming band slices and bkt its
leading chars — a probe batch's bands touch only their own (band, bkt)
directories (PartitionFilters is the proof), so probe cost scales with the
BATCH, not the corpus. Simpler than the text/embedding siblings: the
8-byte hash IS the verification object, so there is no signature/vector
sidecar at all — the exact Hamming verify reads the candidate index rows'
own hash64.

The MECHANICS (layout, meta, write modes, pruning probe, growth contract)
live in band64_index.Band64Index, shared one-for-one with the audio family
(afp_index.py) — round 10's review found every drift bug in per-module
restatements, so the two 64-bit-fingerprint indexes instantiate one class.
Streaming appends write their own ingest partitions with dynamic partition
overwrite (crash replays rewrite, never duplicate — see
streaming.image_dedup_ingest_stream); ``phash_index_occupancy`` measures
bucket fan-out vs the persisted build-time key width; and
``rebuild_phash_index_if_grown`` re-derives the bands from the index's own
deduplicated rows (no re-decode, no re-hash) at the fresh width and
atomically swaps — identical contract as
rp_lsh_index.rebuild_rp_index_if_grown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.operators.band64_index import Band64Index
from temporalvault_spark.operators.index_common import (
    skew_oracle_sql,
    with_bucket_skew,
)
from temporalvault_spark.operators.phash import (
    BAND_BITS,
    IMG_EVERY,
    PHASH_BANDS,
    PHASH_THRESHOLD,
    VARIANT_GROUP,
    _PHASH_CTES,
)
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact, artifact_path

_FAMILY = Band64Index("phash", "img_id", "img")

# kept as module-level names: tests and the gate read them
PH_INDEX_SCHEMA = _FAMILY.schema


def _index_frame(spark: SparkSession, path: str) -> DataFrame:
    return _FAMILY.frame(spark, path)


def _bkt_chars_for(n_imgs: int, wide_threshold: int = 1_000_000) -> int:
    return _FAMILY.bkt_chars_for(n_imgs, wide_threshold)


def _read_meta_full(spark: SparkSession, path: str) -> tuple[int, int]:
    return _FAMILY.read_meta_full(spark, path)


def build_phash_index(
    hashes: DataFrame,
    path: str,
    append: bool = False,
    ingest_id: int | None = None,
    wide_threshold: int = 1_000_000,
) -> None:
    """Band64Index.build for the image family (see its docstring for the
    write-mode/meta/exactly-once contracts)."""
    _FAMILY.build(hashes, path, append, ingest_id, wide_threshold)


def query_phash_index(
    spark: SparkSession,
    index_path: str,
    new_hashes: DataFrame,
    threshold: int = PHASH_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs (query_img, index_img, hamming <= threshold) between
    a new batch's hashes and the indexed corpus — Band64Index.query (the
    partition-pruned broadcast probe)."""
    return _FAMILY.query(spark, index_path, new_hashes, threshold)


# --- growth contract (the shared machinery) -----------------------------------


def phash_index_occupancy(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """ONE aggregate over the index vs the persisted build-time key width;
    ``grown`` when the current corpus size calls for a wider bkt."""
    return _FAMILY.occupancy(spark, path, wide_threshold)


def compact_phash_index(spark: SparkSession, path: str) -> dict:
    """Band64Index.compact_ingest for the image family: fold the per-batch
    ingest layers into the bulk namespace at the same key width (small-file
    maintenance between growth rebuilds; quiesce the gate first — see the
    shared docstring)."""
    return _FAMILY.compact_ingest(spark, path)


def rebuild_phash_index_if_grown(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """OPTIMIZE-style rebuild at the fresh key width from the index's OWN
    deduplicated (img_id, hash64) rows — no re-decode, no re-hash — into a
    sibling directory, atomically swapped (also compacts any
    pre-ingest-layer replay duplicates)."""
    return _FAMILY.rebuild_if_grown(spark, path, wide_threshold)


# --- incremental two-batch scenario (benchable) --------------------------------
# base corpus = the seed-group variants v != 0 (already ingested), probe
# batch = each group's v == 0 image — every group guarantees cross-batch
# near-dups, so the oracle rows are non-trivial by construction.

def stage_phash_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build (once per application + corpus fingerprint) the persisted
    phash band index over the base images (variant != 0), deriving from
    the staged hash table — no re-decode."""
    from temporalvault_spark.operators.phash import stage_phash

    def build(tmp: str) -> None:
        hashes = spark.read.parquet(stage_phash(spark, sf_dir))
        build_phash_index(
            hashes.filter(F.expr(f"(img_id DIV {IMG_EVERY}) % {VARIANT_GROUP} <> 0")), tmp
        )

    return artifact(spark, "ph_idx", sf_dir, ("documents",), build, force)


_PH_BUILD_ORACLE = f"""WITH {_PHASH_CTES},
    base AS (SELECT h.* FROM hashes h JOIN ids i ON h.img_id = i.img_id
             WHERE i.v <> 0),
    bands AS (
        SELECT img_id, b.range AS band,
               substr(hash64, b.range * {BAND_BITS} + 1, {BAND_BITS}) AS bv
        FROM base, range(0, {PHASH_BANDS}) b)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT bv) AS BIGINT) AS n_buckets
    FROM bands GROUP BY 1"""


@query("phash_index_build", _PH_BUILD_ORACLE)
def q_phash_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time image-index build, benched in isolation (force=True):
    per-band row and distinct-band-value counts read back FROM the
    persisted index — the oracle value-checks what landed on disk by
    replaying pixels -> hashes -> bands for the base (variant != 0)
    images."""
    path = stage_phash_index(spark, sf_dir, force=True)
    return (
        spark.read.parquet(path)
        .groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("bv").alias("n_buckets"),
        )
    )


# The RECURRING maintenance cost benched alone (the minhash_index_occupancy
# note): the oracle replays pixels -> hashes -> bands for the base images
# and the width decision on both the build-time and current counts,
# value-checking the persisted _meta against the build rule.
_PH_OCC_ORACLE = f"""WITH {_PHASH_CTES},
    base AS (SELECT h.img_id, h.hash64 FROM hashes h JOIN ids i
             ON h.img_id = i.img_id WHERE i.v <> 0),
    bands AS (
        SELECT img_id, b.range AS band,
               substr(hash64, b.range * {BAND_BITS} + 1, {BAND_BITS}) AS bv
        FROM base, range(0, {PHASH_BANDS}) b),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT img_id) AS BIGINT) AS n_imgs,
                 CAST(COUNT(DISTINCT (band, bv)) AS BIGINT) AS n_bkts
          FROM bands),
    {skew_oracle_sql("bands", "band, bv")[0]}
    SELECT n_rows, n_imgs, n_bkts,
           {skew_oracle_sql("bands", "band, bv")[1]},
           CAST({Band64Index.bkt_chars_case_sql("n_imgs")} AS INTEGER)
               AS bkt_chars,
           CAST({Band64Index.bkt_chars_case_sql("n_imgs")} AS INTEGER)
               AS target_bkt_chars,
           FALSE AS grown
    FROM m CROSS JOIN mb"""


@query("phash_index_occupancy", _PH_OCC_ORACLE)
def q_phash_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image growth-contract occupancy PROBE over the staged phash
    index — the per-maintenance-tick cost (the rebuild fires rarely; its
    correctness is value-checked separately by phash_index_rebuild). One
    slim aggregate plus the persisted vs recomputed width decision; the
    oracle's value-hash proves the persisted _meta equals the replayed
    build rule cross-engine."""
    path = stage_phash_index(spark, sf_dir)
    bkt_chars, _n_built = _read_meta_full(spark, path)
    idx = _index_frame(spark, path)
    stats = idx.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("img_id").alias("n_imgs"),
        F.count_distinct("band", "bv").alias("n_bkts"),
    )
    return (
        with_bucket_skew(stats, idx, ("band", "bv"))
        .withColumn("bkt_chars", F.lit(bkt_chars).cast("int"))
        .withColumn("target_bkt_chars", Band64Index.bkt_chars_col("n_imgs"))
        .withColumn("grown", F.col("target_bkt_chars") > F.col("bkt_chars"))
    )


# The rebuild scenario lowers the widening threshold to 40 images so the
# growth contract actually FIRES at test scale (production dial: 1M): build
# the base (v != 0) at the default dial (2-char keys), append the held-out
# v == 0 batch (growth), rebuild-if-grown at wide_threshold=40 — the union
# exceeds 40 at every test SF (50 images at sf0.01, 500 at sf0.1), so the
# rebuild lands at 4-char keys. The oracle replays the width DECISION
# (n_images > 40 -> 4-char bkt) and the full per-(band, bkt) row counts —
# the value-hash proves both that the rebuild landed at the fresh width and
# that its content equals a fresh build over the union (the
# minhash_index_rebuild / rp_index_rebuild twin; closes the one cell of the
# growth matrix that was unit-only).
PH_REBUILD_WT = 40

_PH_REBUILD_ORACLE = f"""WITH {_PHASH_CTES},
    w AS (SELECT {Band64Index.bkt_chars_case_sql("COUNT(*)", PH_REBUILD_WT)} AS c
          FROM ids),
    bands AS (
        SELECT img_id, b.range AS band,
               substr(hash64, b.range * {BAND_BITS} + 1, {BAND_BITS}) AS bv
        FROM hashes, range(0, {PHASH_BANDS}) b)
    SELECT CAST(band AS INTEGER) AS band,
           substr(bv, 1, w.c) AS bkt,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM bands, w GROUP BY 1, 2, w.c"""


@query("phash_index_rebuild", _PH_REBUILD_ORACLE)
def q_phash_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image growth-contract maintenance cycle end-to-end: build a
    private index on the base images (variant != 0, staged hashes — no
    re-decode) at the default widening dial, append the held-out v == 0
    batch, then ``rebuild_phash_index_if_grown(wide_threshold=40)``.
    Returns per-(band, bkt) row counts read back FROM the rebuilt on-disk
    index via the explicit schema (bkt stays STRING) — the oracle's
    replayed width decision + counts prove rebuild-after-growth is
    byte-identical to never having grown. Completes the growth matrix:
    all THREE index families' maintenance cycles are value-hash-oracled."""
    from temporalvault_spark.operators.phash import stage_phash

    hashes = spark.read.parquet(stage_phash(spark, sf_dir))
    # ONE private directory per corpus, reused across invocations (bench
    # best-of-2 must not pile up abandoned index copies)
    path = artifact_path(spark, "ph_rebuild", sf_dir, ("documents",))
    grp = F.expr(f"(img_id DIV {IMG_EVERY}) % {VARIANT_GROUP}")
    build_phash_index(hashes.filter(grp != 0), path)
    build_phash_index(hashes.filter(grp == 0), path, append=True)
    rebuild_phash_index_if_grown(spark, path, wide_threshold=PH_REBUILD_WT)
    return (
        _index_frame(spark, path)
        .groupBy(F.col("band").cast("int").alias("band"), "bkt")
        .agg(F.count("*").alias("n_rows"))
    )


_PH_PROBE_ORACLE = f"""WITH {_PHASH_CTES},
    hv AS (SELECT h.img_id, h.hash64, i.v FROM hashes h
           JOIN ids i ON h.img_id = i.img_id),
    bands AS (
        SELECT img_id, hash64, v, b.range AS band,
               substr(hash64, b.range * {BAND_BITS} + 1, {BAND_BITS}) AS bv
        FROM hv, range(0, {PHASH_BANDS}) b),
    cand AS (
        SELECT DISTINCT q.img_id AS query_img, x.img_id AS index_img,
               q.hash64 AS qh, x.hash64 AS ih
        FROM bands q JOIN bands x
          ON q.band = x.band AND q.bv = x.bv
         AND q.v = 0 AND x.v <> 0 AND q.img_id <> x.img_id)
    SELECT query_img, index_img,
           CAST(64 - len(list_filter(range(1, 65),
               i -> substr(qh, i, 1) = substr(ih, i, 1))) AS INTEGER) AS hamming
    FROM cand
    WHERE 64 - len(list_filter(range(1, 65),
              i -> substr(qh, i, 1) = substr(ih, i, 1))) <= {PHASH_THRESHOLD}"""


@query("dedup_phash_incremental_probe", _PH_PROBE_ORACLE)
def q_dedup_phash_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring half: probe the staged image index with the held-out
    batch (variant == 0) — the per-ingest-batch image-dedup cost, with the
    one-time build amortized away (benched separately as
    phash_index_build). The oracle replays BOTH halves from the shared
    pixel->hash CTEs: candidates are cross-batch band collisions,
    exact-Hamming verified at PHASH_THRESHOLD (= 12)."""
    from temporalvault_spark.operators.phash import stage_phash

    path = stage_phash_index(spark, sf_dir)
    hashes = spark.read.parquet(stage_phash(spark, sf_dir))
    batch = hashes.filter(
        F.expr(f"(img_id DIV {IMG_EVERY}) % {VARIANT_GROUP} = 0")
    )
    return query_phash_index(spark, path, batch)
