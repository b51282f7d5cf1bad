"""Persisted video-fingerprint band index: incremental VIDEO near-dup
against an already-ingested corpus WITHOUT re-decoding it — the video cell
of the incremental-index family (text: minhash_index.py, embeddings:
rp_lsh_index.py, images: phash_index.py, audio: afp_index.py, video:
THIS). All FIVE modalities now carry the same production shape: one-shot
pairs, a corpus apply, a persisted partition-pruned index, a growth
contract, and (per-frame) exactly-once streaming machinery.

The indexed unit is the FRAME: fid = vid_id * VID_FRAMES + frame_idx packs
the (video, position) pair into the family's bigint id, so the index IS a
Band64Index instance — (fid, hash64, band, bv) partitioned by (band, bkt,
ingest), no sidecar, the shared growth contract. What the video tier adds
on top of the frame-level probe is its own verdict: candidates are
filtered to SAME frame position and voted per video pair (>= VID_MATCH_MIN
matched positions), exactly like the one-shot video_fp_pairs. Probing a
new batch therefore prunes to at most bands x |batch frames| partition
directories and never re-reads the corpus."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.operators.band64_index import Band64Index
from temporalvault_spark.operators.index_common import (
    skew_oracle_sql,
    with_bucket_skew,
)
from temporalvault_spark.operators.videohash import (
    VARIANT_GROUP,
    VFP_THRESHOLD,
    VID_EVERY,
    VID_FRAMES,
    VID_MATCH_MIN,
    _VFP_CTES,
    stage_vfp,
)
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact, artifact_path

_FAMILY = Band64Index("vfp", "fid", "frame")

VFP_INDEX_SCHEMA = _FAMILY.schema


def _as_fid(fps: DataFrame) -> DataFrame:
    """(vid_id, frame_idx, hash64) -> (fid, hash64): the family's packed
    bigint id. One definition, used by builds and probes alike. Drops
    vfp_frame's quarantine rows (frame_idx = -1, hash64 NULL) — their
    packed fid would collide with the PREVIOUS video's last frame
    (vid*6 - 1 == (vid-1)*6 + 5), corrupting occupancy counts and
    planting NULL-hash rows; quarantine rows belong in a reject sink,
    never in the index."""
    return fps.filter(F.col("frame_idx") >= 0).select(
        (F.col("vid_id") * VID_FRAMES + F.col("frame_idx")).alias("fid"),
        "hash64",
    )


def _index_frame(spark: SparkSession, path: str) -> DataFrame:
    return _FAMILY.frame(spark, path)


def build_vfp_index(
    hashes: DataFrame,
    path: str,
    append: bool = False,
    ingest_id: int | None = None,
    wide_threshold: int = 1_000_000,
) -> None:
    """Band64Index.build for the video family over packed frame ids (see
    the shared docstring for write-mode/meta/exactly-once contracts)."""
    _FAMILY.build(hashes, path, append, ingest_id, wide_threshold)


def query_vfp_index(
    spark: SparkSession,
    index_path: str,
    new_fps: DataFrame,
    threshold: int = VFP_THRESHOLD,
    min_frames: int = VID_MATCH_MIN,
) -> DataFrame:
    """VIDEO near-dup verdicts (query_vid, index_vid, n_frames_matched >=
    min_frames) between a new batch's (vid_id, frame_idx, hash64) rows and
    the indexed corpus: the shared partition-pruned frame probe proposes,
    the SAME-POSITION filter keeps aligned frames, and the voting rule of
    video_fp_pairs decides — the incremental twin of the one-shot pair
    query."""
    fpairs = _FAMILY.query(spark, index_path, _as_fid(new_fps), threshold)
    k = VID_FRAMES
    return (
        fpairs.filter(
            (F.col("query_frame") % k) == (F.col("index_frame") % k)
        )
        .select(
            F.expr(f"query_frame DIV {k}").alias("query_vid"),
            F.expr(f"index_frame DIV {k}").alias("index_vid"),
        )
        .groupBy("query_vid", "index_vid")
        .agg(F.count("*").alias("n_frames_matched"))
        .filter(F.col("n_frames_matched") >= min_frames)
    )


def vfp_index_occupancy(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """ONE aggregate over the index vs the persisted build-time key width;
    ``grown`` when the current FRAME count calls for a wider bkt."""
    return _FAMILY.occupancy(spark, path, wide_threshold)


def compact_vfp_index(spark: SparkSession, path: str) -> dict:
    """Band64Index.compact_ingest for the video family (shared quiesce
    contract)."""
    return _FAMILY.compact_ingest(spark, path)


def rebuild_vfp_index_if_grown(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """OPTIMIZE-style rebuild at the fresh key width from the index's OWN
    deduplicated (fid, hash64) rows — no re-decode — atomically swapped."""
    return _FAMILY.rebuild_if_grown(spark, path, wide_threshold)


# --- incremental two-batch scenario (benchable) -------------------------------
# base corpus = the seed-group variants v != 0 (already ingested), probe
# batch = each group's v == 0 video — every group guarantees cross-batch
# near-dups, so the oracle rows are non-trivial by construction (the
# afp_index scenario, lifted to frame sequences).

def stage_vfp_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build (once per application + corpus fingerprint) the persisted
    video band index over the base videos' frames (variant != 0), derived
    from the staged fingerprint table — no re-decode."""

    def build(tmp: str) -> None:
        fps = spark.read.parquet(stage_vfp(spark, sf_dir))
        build_vfp_index(
            _as_fid(fps.filter(F.expr(f"(vid_id DIV {VID_EVERY}) % {VARIANT_GROUP} <> 0"))),
            tmp,
        )

    return artifact(spark, "vfp_idx", sf_dir, ("documents",), build, force)


# fid packing replayed in SQL — shared by every oracle below
_VFID = f"(vid_id * {VID_FRAMES} + frame_idx)"
_VFID_H = f"(h.vid_id * {VID_FRAMES} + h.frame_idx)"  # joined contexts

_VFP_IDX_BUILD_ORACLE = f"""WITH {_VFP_CTES},
    base AS (SELECT {_VFID_H} AS fid, h.hash64
             FROM vhashes h JOIN vids i ON h.vid_id = i.vid_id
             WHERE i.v <> 0),
    bands AS (
        SELECT fid, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM base, range(0, 4) b)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT bv) AS BIGINT) AS n_buckets
    FROM bands GROUP BY 1"""


@query("vfp_index_build", _VFP_IDX_BUILD_ORACLE)
def q_vfp_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time video-index build, benched in isolation (force=True):
    per-band row and distinct-band-value counts read back FROM the
    persisted index — the oracle value-checks what landed on disk by
    replaying frame pixels -> per-frame hashes -> bands for the base
    (variant != 0) videos."""
    path = stage_vfp_index(spark, sf_dir, force=True)
    return (
        spark.read.parquet(path)
        .groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("bv").alias("n_buckets"),
        )
    )


_VFP_OCC_ORACLE = f"""WITH {_VFP_CTES},
    base AS (SELECT {_VFID_H} AS fid, h.hash64
             FROM vhashes h JOIN vids i ON h.vid_id = i.vid_id
             WHERE i.v <> 0),
    bands AS (
        SELECT fid, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM base, range(0, 4) b),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT fid) AS BIGINT) AS n_frames,
                 CAST(COUNT(DISTINCT (band, bv)) AS BIGINT) AS n_bkts
          FROM bands),
    {skew_oracle_sql("bands", "band, bv")[0]}
    SELECT n_rows, n_frames, n_bkts,
           {skew_oracle_sql("bands", "band, bv")[1]},
           CAST({Band64Index.bkt_chars_case_sql("n_frames")} AS INTEGER)
               AS bkt_chars,
           CAST({Band64Index.bkt_chars_case_sql("n_frames")} AS INTEGER)
               AS target_bkt_chars,
           FALSE AS grown
    FROM m CROSS JOIN mb"""


@query("vfp_index_occupancy", _VFP_OCC_ORACLE)
def q_vfp_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video growth-contract occupancy PROBE over the staged index —
    the per-maintenance-tick cost. The oracle's value-hash proves the
    persisted _meta equals the replayed build rule cross-engine."""
    path = stage_vfp_index(spark, sf_dir)
    bkt_chars, _n_built = _FAMILY.read_meta_full(spark, path)
    idx = _index_frame(spark, path)
    stats = idx.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("fid").alias("n_frames"),
        F.count_distinct("band", "bv").alias("n_bkts"),
    )
    return (
        with_bucket_skew(stats, idx, ("band", "bv"))
        .withColumn("bkt_chars", F.lit(bkt_chars).cast("int"))
        .withColumn("target_bkt_chars", Band64Index.bkt_chars_col("n_frames"))
        .withColumn("grown", F.col("target_bkt_chars") > F.col("bkt_chars"))
    )


# the rebuild scenario lowers the widening threshold so the growth contract
# FIRES at test scale (production dial: 1M frames) — the afp_index twin
VFP_REBUILD_WT = 200

_VFP_REBUILD_ORACLE = f"""WITH {_VFP_CTES},
    w AS (SELECT {Band64Index.bkt_chars_case_sql(f"COUNT(*) * {VID_FRAMES}", VFP_REBUILD_WT)} AS c
          FROM vids),
    bands AS (
        SELECT {_VFID} AS fid, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM vhashes, range(0, 4) b)
    SELECT CAST(band AS INTEGER) AS band,
           substr(bv, 1, w.c) AS bkt,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM bands, w GROUP BY 1, 2, w.c"""


@query("vfp_index_rebuild", _VFP_REBUILD_ORACLE)
def q_vfp_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video growth-contract maintenance cycle end-to-end: build a
    private index on the base frames (variant != 0, staged fingerprints —
    no re-decode) at the default widening dial, append the held-out v == 0
    batch, then ``rebuild_vfp_index_if_grown(wide_threshold=200)``.
    Returns per-(band, bkt) row counts read back FROM the rebuilt on-disk
    index via the explicit schema (bkt stays STRING) — the oracle's
    replayed width decision + counts prove rebuild-after-growth is
    byte-identical to never having grown. With this, all FIVE modalities'
    maintenance cycles are value-hash-oracled."""
    fps = spark.read.parquet(stage_vfp(spark, sf_dir))
    path = artifact_path(spark, "vfp_rebuild", sf_dir, ("documents",))
    grp = F.expr(f"(vid_id DIV {VID_EVERY}) % {VARIANT_GROUP}")
    build_vfp_index(_as_fid(fps.filter(grp != 0)), path)
    build_vfp_index(_as_fid(fps.filter(grp == 0)), path, append=True)
    rebuild_vfp_index_if_grown(spark, path, wide_threshold=VFP_REBUILD_WT)
    return (
        _index_frame(spark, path)
        .groupBy(F.col("band").cast("int").alias("band"), "bkt")
        .agg(F.count("*").alias("n_rows"))
    )


_VFP_PROBE_ORACLE = f"""WITH {_VFP_CTES},
    hv AS (SELECT h.vid_id, h.frame_idx, h.hash64, i.v FROM vhashes h
           JOIN vids i ON h.vid_id = i.vid_id),
    bands AS (
        SELECT vid_id, frame_idx, hash64, v, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM hv, range(0, 4) b),
    cand AS (
        SELECT DISTINCT q.vid_id AS query_vid, x.vid_id AS index_vid,
               q.frame_idx, q.hash64 AS qh, x.hash64 AS ih
        FROM bands q JOIN bands x
          ON q.band = x.band AND q.bv = x.bv AND q.frame_idx = x.frame_idx
         AND q.v = 0 AND x.v <> 0),
    fmatch AS (
        SELECT query_vid, index_vid, frame_idx FROM cand
        WHERE 64 - len(list_filter(range(1, 65),
              i -> substr(qh, i, 1) = substr(ih, i, 1))) <= {VFP_THRESHOLD})
    SELECT query_vid, index_vid,
           CAST(COUNT(*) AS BIGINT) AS n_frames_matched
    FROM fmatch GROUP BY 1, 2
    HAVING COUNT(*) >= {VID_MATCH_MIN}"""


@query("dedup_vfp_incremental_probe", _VFP_PROBE_ORACLE)
def q_dedup_vfp_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring half: probe the staged video index with the held-out
    batch (variant == 0) — the per-ingest-batch video-dedup cost, with the
    one-time build amortized away (benched separately as vfp_index_build).
    The oracle replays BOTH halves from the shared pixel->frame-hash CTEs:
    candidates are cross-batch SAME-POSITION band collisions, exact-Hamming
    verified, voted per video pair (>= VID_MATCH_MIN positions)."""
    path = stage_vfp_index(spark, sf_dir)
    fps = spark.read.parquet(stage_vfp(spark, sf_dir))
    batch = fps.filter(
        F.expr(f"(vid_id DIV {VID_EVERY}) % {VARIANT_GROUP} = 0")
    )
    return query_vfp_index(spark, path, batch)
