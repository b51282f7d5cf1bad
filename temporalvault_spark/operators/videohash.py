"""Video near-dup: per-frame perceptual hashes over REAL animated-GIF bytes
+ position-matched Hamming-banded pairs — the VIDEO column of the dedup
matrix, the FIFTH modality a training-data pipeline dedups (text,
embeddings, images, audio: see llm.py / similarity.py / phash.py /
audio_fp.py).

Reference parity: the reference (Vinnu124/TemporalVault) stores opaque
payloads and never dedups them (app/main.py:83-92 ingests rows verbatim);
this module supplies the video near-dup on top of the multimodal tier
(multimodal.py holds the real stdlib GIF codec — variable-width LZW,
palettes, frame composition).

Pipeline (the phash.py shape, lifted to a frame SEQUENCE):
  1. video arrives as a binary column (here: synthesized deterministic
     6-frame 16x16 grayscale GIF89a files via ``synth_gif_videos`` — real
     LZW-compressed containers through Arrow batches; groups of 4
     per-seed variants give the corpus a KNOWN near-dup structure);
  2. ``vfp_frame`` decodes each payload with the REAL stdlib GIF codec
     and emits one 64-bit aHash PER FRAME — the EXACT grid math of the
     image tier (phash.ahash64_from_array, one definition), so the DuckDB
     oracle replays the ENTIRE pixel -> per-frame-hash pipeline
     bit-for-bit and the registered stage query value-hash-checks the
     kernel (including the LZW round-trip: any decode defect changes the
     hashes) cross-engine; per-row map, no shuffle;
  3. ``video_fp_pairs`` bands each frame hash with the SHARED 4 x 16-bit
     slices (phash.band_explode), joins candidates on (frame position,
     band, value) — never all-pairs — verifies with the shared exact
     Hamming, and calls two videos near-dups when >= VID_MATCH_MIN of
     their same-position frames match within VFP_THRESHOLD bits (the
     sampled-frame voting rule every production video-dedup uses).

At 100 TB: fingerprinting is one map pass at ingest (frames decode once);
the fingerprint table is 8 bytes per frame; the banded join's shuffle keys
are (frame position, band, 16-bit value), so candidate volume is governed
by per-position band-bucket occupancy exactly like the image tier, and the
same persisted-index/growth-contract machinery applies if probed
incrementally (frame position folds into the band key).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.operators.dedup_cluster import connected_components
from temporalvault_spark.operators.multimodal import (
    gif_decode_frames,
    gif_encode_frames,
)
from temporalvault_spark.operators.phash import (
    ahash64_from_array,
    band_explode,
    hamming_expr,
)
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact

VID_FRAMES = 6  # synthesized frames per clip
VID_SIDE = 16  # frame edge (pixels) — the image tier's grid contract
VFP_THRESHOLD = 12  # max per-frame Hamming for a frame match
VID_MATCH_MIN = 4  # >= this many same-position frame matches -> video pair
VID_EVERY = 10  # video corpus = documents with doc_id % VID_EVERY == VID_OFFSET
VID_OFFSET = 2  # ... disjoint from images (%10==0) and audio (%10==5)
VARIANT_GROUP = 4  # synthesized variants per seed group


def _synth_gray(vid_id: int, f: int, x: int, y: int) -> int:
    """One md5-derived gray value — the SAME formula the DuckDB oracle
    replays. Groups of VARIANT_GROUP consecutive video ids share a base
    clip; variants v>0 re-roll ~1/16 of the pixels per frame (the phash
    perturbation dial: within-group per-frame Hamming lands 0-3, inside
    the pigeonhole band-recall zone; cross-seed ~32)."""
    seed = vid_id // (VID_EVERY * VARIANT_GROUP)
    v = (vid_id // VID_EVERY) % VARIANT_GROUP
    h = hashlib.md5(f"vp:{seed}:{f}:{x}:{y}".encode()).hexdigest()
    if v > 0:
        p = hashlib.md5(f"vppert:{seed}:{v}:{f}:{x}:{y}".encode()).hexdigest()
        if p[0] == "0":
            h = p[1:]
    return int(h[0:2], 16)


def _synth_gif(vid_id: int) -> bytes:
    """One deterministic 6-frame grayscale GIF89a — a REAL container
    (global palette + per-frame variable-width LZW) written by the stdlib
    encoder, so the decode side exercises the same codec path a production
    GIF/frame-sequence ingest hits. Grayscale pixels make the kernel's
    (r+g+b) DIV 3 exactly the md5-derived gray, so the oracle replays the
    gray values directly."""
    frames = []
    for f in range(VID_FRAMES):
        g = np.array(
            [
                [_synth_gray(vid_id, f, x, y) for x in range(VID_SIDE)]
                for y in range(VID_SIDE)
            ],
            np.uint8,
        )
        frames.append(np.stack([g, g, g], axis=2))
    return gif_encode_frames(frames)


def synth_gif_videos(docs: DataFrame) -> DataFrame:
    """(vid_id, video binary): one deterministic GIF per doc_id %
    VID_EVERY == VID_OFFSET document — the synthetic stand-in for a video
    ingest (real binary payloads through Arrow batches; a deployment swaps
    this map for its object-store fetch + frame sampler)."""
    ids = docs.filter(F.col("doc_id") % VID_EVERY == VID_OFFSET).select(
        F.col("doc_id").alias("vid_id")
    )
    # spread the Python-side encode+decode across all cores: the id frame
    # inherits the source parquet's layout (often ONE partition at small
    # scale), and per-clip codec work is the heaviest map in the modality
    # family — measured 4.6s -> ~1s at sf0.1 after spreading
    spark = docs.sparkSession
    ids = ids.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "vid_id": b["vid_id"],
                    "video": [_synth_gif(int(i)) for i in b["vid_id"]],
                }
            )

    return ids.mapInPandas(gen, "vid_id bigint, video binary")


def vfp64_frames(payload: bytes) -> list[str]:
    """Per-frame 64-bit aHashes of an animated GIF — the image tier's
    EXACT integer grid math (phash.ahash64_from_array) applied to every
    composed frame, SAMPLED down to at most VID_FRAMES position slots
    (evenly spaced — the frame sampler every production video pipeline
    runs, so clips of any length land on comparable positions and the
    packed fid arithmetic can never overflow into a neighboring video's
    id space). Raises on non-GIF payloads, zero-frame GIFs (a spec-valid
    header-only file is a degenerate payload, not a survivor), or frames
    whose dims the 8x8 grid doesn't divide (the multimodal real-codec
    seam: other video containers need ffmpeg in the worker image). GIF
    features outside the stdlib tier — and animated containers Pillow's
    plugins read (webp/apng) — go to the optional adapter
    (multimodal.pillow_decode_frames) when it is importable."""
    from temporalvault_spark.operators.multimodal import pillow_decode_frames

    try:
        frames = gif_decode_frames(payload)
    except NotImplementedError:
        frames = pillow_decode_frames(payload)
        if frames is None:
            raise
    if frames is None:
        # unknown container: accept the adapter's result only when it is
        # actually a SEQUENCE — a Pillow-readable still image (PNG/JPEG in
        # the video column) yields one frame, which can never reach the
        # VID_MATCH_MIN voting floor, so treating it as a 1-frame video
        # would silently disable dedup for every copy of that payload
        # where the stdlib tier quarantined it (the review-pass finding)
        frames = pillow_decode_frames(payload, strict=False)
        if frames is not None and len(frames) < 2:
            frames = None
    if frames is None:
        raise ValueError("vfp64: payload is not a GIF container")
    if not frames:
        raise ValueError("vfp64: GIF contains no frames")
    n = len(frames)
    if n > VID_FRAMES:
        # evenly spaced sample, first and last always included
        picks = [round(i * (n - 1) / (VID_FRAMES - 1)) for i in range(VID_FRAMES)]
        frames = [frames[i] for i in picks]
    return [ahash64_from_array(fr) for fr in frames]


def vfp_frame(videos: DataFrame, errors: str = "raise") -> DataFrame:
    """(vid_id, frame_idx, hash64) via the real decode+hash kernel —
    Arrow-batched map, no shuffle (the hot ingest path at 100 TB).

    ``errors``: ``"raise"`` (default) or ``"quarantine"`` — a corrupt
    payload yields ONE (vid_id, frame_idx=-1, hash64=NULL) row instead of
    killing the batch (the ahash_frame contract, lifted to sequences:
    callers route frame_idx = -1 rows to a quarantine sink)."""
    if errors not in ("raise", "quarantine"):
        raise ValueError(f"vfp_frame: errors={errors!r}")

    def rows(vid: int, p: bytes) -> list[tuple]:
        if errors == "quarantine":
            try:
                hs = vfp64_frames(p)
            except (ValueError, NotImplementedError):
                return [(vid, -1, None)]
        else:
            hs = vfp64_frames(p)
        return [(vid, i, h) for i, h in enumerate(hs)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = [
                r
                for vid, p in zip(b["vid_id"], b["video"])
                for r in rows(int(vid), bytes(p))
            ]
            yield pd.DataFrame(
                out, columns=["vid_id", "frame_idx", "hash64"]
            )

    return videos.mapInPandas(run, "vid_id bigint, frame_idx int, hash64 string")


def video_fp_pairs(
    fps: DataFrame,
    threshold: int = VFP_THRESHOLD,
    min_frames: int = VID_MATCH_MIN,
) -> DataFrame:
    """Near-dup video pairs (vid_a < vid_b, n_frames_matched >=
    min_frames) from a (vid_id, frame_idx, hash64) frame: the shared
    band explode proposes SAME-POSITION frame candidates on (frame_idx,
    band, 16-bit value) — never all-pairs — the shared exact Hamming
    verifies each frame match, and the video verdict is the count of
    matched positions (sampled-frame voting)."""
    bands = band_explode(fps, "vid_id", extra=("frame_idx",))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.vid_id") < F.col("b.vid_id")),
        )
        .select(
            F.col("a.vid_id").alias("vid_a"),
            F.col("b.vid_id").alias("vid_b"),
            F.col("a.frame_idx").alias("frame_idx"),
            F.col("a.hash64").alias("ha"),
            F.col("b.hash64").alias("hb"),
        )
        .dropDuplicates(["vid_a", "vid_b", "frame_idx"])
    )
    fpairs = cand.select(
        "vid_a",
        "vid_b",
        "frame_idx",
        hamming_expr("ha", "hb").cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= threshold)
    return (
        fpairs.groupBy("vid_a", "vid_b")
        .agg(F.count("*").alias("n_frames_matched"))
        .filter(F.col("n_frames_matched") >= min_frames)
    )


# --- staged fingerprint table (one decode+hash pass per session) -------------

def stage_vfp(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Materialize the (vid_id, frame_idx, hash64) table once per
    application + corpus fingerprint (the stage_phash contract):
    synthesize the video corpus, decode+hash it, persist the slim frame.
    Consumers pay a parquet re-scan, never a re-decode."""
    return artifact(
        spark, "vfp_stage", sf_dir, ("documents",),
        lambda tmp: vfp_frame(synth_gif_videos(
            load_catalog(spark, sf_dir).table("documents")
        )).write.parquet(tmp),
        force,
    )


# --- oracles: the full pixel -> per-frame-hash pipeline replayed in SQL ------

# ids -> md5-derived gray pixels per (frame, x, y) -> 2x2 block integer
# averages -> per-frame mean -> 64-bit string per frame, exactly the
# kernel's arithmetic (grayscale: the kernel's (r+g+b) DIV 3 IS the gray)
_VFP_CTES = f"""vids AS (
        SELECT doc_id AS vid_id,
               doc_id // {VID_EVERY * VARIANT_GROUP} AS seed,
               (doc_id // {VID_EVERY}) % {VARIANT_GROUP} AS v
        FROM documents WHERE doc_id % {VID_EVERY} = {VID_OFFSET}),
    vpx AS (
        SELECT vid_id, f.range AS f, x.range AS x, y.range AS y,
               md5('vp:' || CAST(seed AS VARCHAR) || ':' || CAST(f.range AS VARCHAR)
                   || ':' || CAST(x.range AS VARCHAR) || ':' || CAST(y.range AS VARCHAR)) AS hb,
               CASE WHEN v > 0 THEN
                   md5('vppert:' || CAST(seed AS VARCHAR) || ':' || CAST(v AS VARCHAR)
                       || ':' || CAST(f.range AS VARCHAR) || ':' || CAST(x.range AS VARCHAR)
                       || ':' || CAST(y.range AS VARCHAR))
               END AS hp
        FROM vids, range(0, {VID_FRAMES}) f, range(0, {VID_SIDE}) x, range(0, {VID_SIDE}) y),
    vgray AS (
        SELECT vid_id, f, x, y,
               ('0x' || substr(
                   CASE WHEN hp IS NOT NULL AND substr(hp, 1, 1) = '0'
                        THEN substr(hp, 2, 31) ELSE hb END, 1, 2))::INT AS g
        FROM vpx),
    vblocks AS (
        SELECT vid_id, f, y // 2 AS by, x // 2 AS bx, SUM(g) // 4 AS bavg
        FROM vgray GROUP BY 1, 2, 3, 4),
    vmeans AS (
        SELECT vid_id, f, SUM(bavg) // 64 AS m FROM vblocks GROUP BY 1, 2),
    vhashes AS (
        SELECT b.vid_id, CAST(b.f AS INTEGER) AS frame_idx,
               string_agg(CASE WHEN b.bavg >= m.m THEN '1' ELSE '0' END, ''
                          ORDER BY b.by, b.bx) AS hash64
        FROM vblocks b JOIN vmeans m ON b.vid_id = m.vid_id AND b.f = m.f
        GROUP BY b.vid_id, b.f)"""

_VFP_STAGE_ORACLE = f"""WITH {_VFP_CTES}
    SELECT vid_id, frame_idx, hash64 FROM vhashes"""


@query("video_fp_stage", _VFP_STAGE_ORACLE)
def q_video_fp_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode+hash staging pass, benched in isolation (force=True so
    its cost stays measured) — and the cross-engine KERNEL check: the
    oracle rebuilds every PIXEL of every FRAME from the md5 formulas and
    replays the gray/block/mean/bit integer arithmetic in SQL,
    value-hashing the per-frame 64-bit strings the real stdlib GIF
    decode + aHash kernel produced from actual LZW-compressed
    containers — so a GIF codec defect cannot hide."""
    path = stage_vfp(spark, sf_dir, force=True)
    return spark.read.parquet(path).select("vid_id", "frame_idx", "hash64")


# per-frame hashes -> position-matched banding -> exact-verified frame
# matches -> sampled-frame voting, as shareable CTEs
_VFP_PAIRS_CTES = f"""{_VFP_CTES},
    vbands AS (
        SELECT vid_id, frame_idx, hash64, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM vhashes, range(0, 4) b),
    vcand AS (
        SELECT DISTINCT a.vid_id AS vid_a, b.vid_id AS vid_b,
               a.frame_idx, a.hash64 AS ha, b.hash64 AS hb
        FROM vbands a JOIN vbands b
          ON a.band = b.band AND a.bv = b.bv
         AND a.frame_idx = b.frame_idx AND a.vid_id < b.vid_id),
    vfpairs AS (
        SELECT vid_a, vid_b, frame_idx FROM (
            SELECT vid_a, vid_b, frame_idx,
                   CAST(len(ha) - len(list_filter(range(1, 65),
                       i -> substr(ha, i, 1) = substr(hb, i, 1))) AS INTEGER)
                       AS hamming
            FROM vcand)
        WHERE hamming <= {VFP_THRESHOLD}),
    vpairs AS (
        SELECT vid_a, vid_b, CAST(COUNT(*) AS BIGINT) AS n_frames_matched
        FROM vfpairs GROUP BY 1, 2
        HAVING COUNT(*) >= {VID_MATCH_MIN})"""

_VFP_PAIRS_ORACLE = f"""WITH {_VFP_PAIRS_CTES}
    SELECT vid_a, vid_b, n_frames_matched FROM vpairs"""


@query("dedup_video_fp", _VFP_PAIRS_ORACLE)
def q_dedup_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over the staged per-frame fingerprint table:
    same-position band collisions propose, exact per-frame Hamming <=
    VFP_THRESHOLD verifies, and >= VID_MATCH_MIN matched positions make a
    video pair. The oracle replays pixels -> frame hashes -> banding ->
    verify -> voting end-to-end — the video twin of dedup_image_phash,
    completing the dedup matrix's FIFTH modality."""
    path = stage_vfp(spark, sf_dir)
    return video_fp_pairs(spark.read.parquet(path))


@query(
    "dedup_video_apply",
    f"""WITH RECURSIVE {_VFP_PAIRS_CTES},
    vsym AS (SELECT vid_a AS src, vid_b AS dst FROM vpairs
             UNION ALL SELECT vid_b, vid_a FROM vpairs),
    vwalk(node, lbl) AS (
        SELECT src, src FROM vsym
        UNION
        SELECT s.dst, MIN(w.lbl) FROM vwalk w JOIN vsym s ON s.src = w.node
        GROUP BY s.dst
    ),
    vcomp AS (SELECT node, MIN(lbl) AS keep FROM vwalk GROUP BY node),
    vdropd AS (SELECT node FROM vcomp WHERE node <> keep)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_videos_kept
    FROM documents d
    WHERE d.doc_id % {VID_EVERY} = {VID_OFFSET}
      AND NOT EXISTS (SELECT 1 FROM vdropd WHERE vdropd.node = d.doc_id)
    GROUP BY d.source""",
)
def q_dedup_video_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the video near-dup clustering: close the voted pairs into
    connected components (the shared solver), keep each component's
    representative (min vid_id), and summarize the surviving video corpus
    per source — the dedup_image_apply twin for the fifth modality. The
    oracle replays the whole chain down to a recursive-CTE reachability
    closure and the keeper rule."""
    fps = spark.read.parquet(stage_vfp(spark, sf_dir))
    pairs = video_fp_pairs(fps)
    comps = connected_components(
        pairs.select(F.col("vid_a").alias("src"), F.col("vid_b").alias("dst"))
    )
    drop = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("vid_id"))
    )
    kept = (
        fps.select("vid_id").distinct().join(drop, "vid_id", "left_anti")
    )
    docs = load_catalog(spark, sf_dir).table("documents")
    return (
        kept.join(docs, kept["vid_id"] == docs["doc_id"])
        .groupBy("source")
        .agg(F.count("*").alias("n_videos_kept"))
    )


# --- FULL multimodal apply: any modality's match makes a duplicate ----------
# The five-column composition a multimodal curation pipeline actually runs:
# a document row (text + whatever attachments its id class carries — image
# %10==0, audio %10==5, video %10==2) is a duplicate of another if ANY
# modality near-dups them. Edges = text shingle-jaccard pairs UNION image
# phash pairs UNION audio envelope pairs UNION video voted pairs — every
# edge set read from its staged artifact (no re-shingle, no re-decode) —
# closed by the one shared components solver.

from temporalvault_spark.operators.audio_fp import (
    _AFP_PAIRS_CTES,
    stage_afp,
)
from temporalvault_spark.operators.audio_fp import (
    afp_hamming_pairs as _afp_pairs,
)
from temporalvault_spark.operators.llm import NGRAM_PAIRS_SQL as _NGRAM_PAIRS_SQL
from temporalvault_spark.operators.phash import (
    _PH_PAIRS_CTES,
    phash_hamming_pairs as _ph_pairs,
    stage_phash,
)

_MM_ORACLE = f"""WITH RECURSIVE tpairs AS ({_NGRAM_PAIRS_SQL}),
    {_PH_PAIRS_CTES},
    {_AFP_PAIRS_CTES},
    {_VFP_PAIRS_CTES},
    medges AS (
        SELECT doc_a AS a, doc_b AS b FROM tpairs
        UNION SELECT img_a, img_b FROM ppairs
        UNION SELECT aud_a, aud_b FROM apairs
        UNION SELECT vid_a, vid_b FROM vpairs),
    msym AS (SELECT a AS src, b AS dst FROM medges
             UNION ALL SELECT b, a FROM medges),
    mwalk(node, lbl) AS (
        SELECT src, src FROM msym
        UNION
        SELECT s.dst, MIN(w.lbl) FROM mwalk w JOIN msym s ON s.src = w.node
        GROUP BY s.dst
    ),
    mcomp AS (SELECT node, MIN(lbl) AS keep FROM mwalk GROUP BY node),
    mdrop AS (SELECT node FROM mcomp WHERE node <> keep)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM mdrop WHERE mdrop.node = d.doc_id)
    GROUP BY d.source"""


def multimodal_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four-modality near-dup edge union as slim (src, dst) id pairs —
    text shingle-jaccard, image phash, audio envelope, video voted pairs,
    each read from its staged artifact (no re-shingle, no re-decode). ONE
    implementation behind dedup_multimodal_apply AND the
    corpus_curate_end_to_end capstone (curation.py)."""
    from temporalvault_spark.operators.llm import staged_ngram_pairs

    tpairs = staged_ngram_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    ipairs = _ph_pairs(spark.read.parquet(stage_phash(spark, sf_dir))).select(
        F.col("img_a").alias("src"), F.col("img_b").alias("dst")
    )
    apairs = _afp_pairs(spark.read.parquet(stage_afp(spark, sf_dir))).select(
        F.col("aud_a").alias("src"), F.col("aud_b").alias("dst")
    )
    vpairs = video_fp_pairs(spark.read.parquet(stage_vfp(spark, sf_dir))).select(
        F.col("vid_a").alias("src"), F.col("vid_b").alias("dst")
    )
    return (
        tpairs.unionByName(ipairs)
        .unionByName(apairs)
        .unionByName(vpairs)
        .distinct()
    )


@query("dedup_multimodal_apply", _MM_ORACLE)
def q_dedup_multimodal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY dedup across ALL FIVE modalities at once: a document falls if
    its text, its image, its audio clip, or its video near-dups a kept
    sibling's (embedding-space dedup ships separately on the vec_id
    namespace — semdedup/RP-LSH). Every edge set is a slim id-pair frame
    read from its staged artifact; one union, one components closure
    (shared hybrid solver), min-id keepers, survivors per source. The
    DuckDB oracle replays all four pair pipelines — shingles -> minhash
    bands -> exact jaccard; pixels -> aHash -> Hamming bands; samples ->
    envelope -> bands; frame pixels -> per-frame aHash -> position-matched
    voting — unions them, and closes the graph with the recursive-CTE
    reachability twin: the ENTIRE multimodal curation composition under
    one value-hash.

    Scale shape: edge volume is duplicate-bounded (each family's banded
    join is collision-bounded, measured per-modality in SCALE.md); the
    union is a set-union of slim pairs; the corpus-side exclusion is one
    anti-join over doc_id."""
    comps = connected_components(multimodal_edges(spark, sf_dir))
    drop = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    docs = load_catalog(spark, sf_dir).table("documents")
    return (
        docs.join(drop, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs_kept"))
    )
