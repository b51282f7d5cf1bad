"""Perceptual image near-dup: aHash over real PPM bytes + Hamming-banded
pairs — the IMAGE column of the dedup matrix (text: minhash/simhash/...,
embeddings: RP-LSH/semdedup, images: THIS).

Reference parity: the reference (Vinnu124/TemporalVault) stores opaque
payloads and never dedups them (app/main.py:83-92 ingests rows verbatim);
this module supplies the image near-dup a training-data pipeline needs on
top of the multimodal tier (multimodal.py holds the decode/resize
kernels).

Pipeline (all stages Spark-shaped for 100 TB):
  1. images arrive as a binary column (here: synthesized deterministic
     16x16 P6 PPMs via ``synth_ppm_images`` — an Arrow-batched mapInPandas,
     the same plumbing a real ingest uses; groups of 4 per-seed variants
     give the corpus a KNOWN near-dup structure);
  2. ``ahash_frame`` decodes each payload with the real PPM kernel
     (multimodal._ppm_header + numpy) and emits a 64-bit average-hash as a
     '0'/'1' string — integer-only math (gray = (r+g+b) DIV 3, block
     averages DIV (bw*bh), global mean DIV 64, bit = avg >= mean), so the
     DuckDB oracle replays the ENTIRE pixel->hash pipeline bit-for-bit and
     the registered stage query value-hash-checks the kernel cross-engine;
     per-row map, no shuffle;
  3. ``phash_hamming_pairs`` splits the 64-bit hash into 4 x 16-bit bands
     (the simhash/minhash banding precedent): candidate pairs collide on
     one identical band (pigeonhole: Hamming < 4 is ALWAYS caught; larger
     distances with LSH probability), then an exact 64-position Hamming
     verify keeps pairs <= threshold. The banding equi-join shuffles on
     (band, value) — never all-pairs.

At 100 TB: hashing is embarrassingly parallel (one map pass at ingest);
the hash table is 8 bytes of payload per image; banded self-join cost is
governed by band-bucket occupancy exactly like the minhash tier, and the
same persisted-index/growth-contract machinery applies if the corpus is
probed incrementally (build_minhash_index's pattern would carry over
unchanged — the band value is just 16 bits instead of a hex slice).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.operators.multimodal import decode_pixels_rgb
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact

IMG_SIDE = 16  # synthesized image edge (pixels)
HASH_GRID = 8  # aHash grid -> 64 bits
PHASH_BANDS = 4
BAND_BITS = (HASH_GRID * HASH_GRID) // PHASH_BANDS  # 16
PHASH_THRESHOLD = 12  # max Hamming distance for a near-dup pair
IMG_EVERY = 10  # image corpus = documents with doc_id % IMG_EVERY == 0
VARIANT_GROUP = 4  # synthesized variants per seed group


def _synth_ppm(img_id: int) -> bytes:
    """Deterministic 16x16 binary PPM (P6) for one image id. Groups of
    VARIANT_GROUP consecutive image ids (seed = img_id DIV 40 for the
    %10==0 id stream) share a base pattern; variants v>0 re-roll ~1/16 of
    the pixels, so within-group aHashes sit a few bits apart and
    cross-group hashes are ~32 bits apart. Every byte is md5-derived —
    the DuckDB oracle rebuilds the identical pixels from the same
    formulas."""
    seed = img_id // (IMG_EVERY * VARIANT_GROUP)
    v = (img_id // IMG_EVERY) % VARIANT_GROUP
    px = bytearray()
    for y in range(IMG_SIDE):
        for x in range(IMG_SIDE):
            h = hashlib.md5(f"px:{seed}:{x}:{y}".encode()).hexdigest()
            if v > 0:
                p = hashlib.md5(f"pert:{seed}:{v}:{x}:{y}".encode()).hexdigest()
                if p[0] == "0":
                    h = p[1:]  # re-rolled pixel (prob 1/16)
            px += bytes((int(h[0:2], 16), int(h[2:4], 16), int(h[4:6], 16)))
    return b"P6\n%d %d\n255\n" % (IMG_SIDE, IMG_SIDE) + bytes(px)


def synth_ppm_images(docs: DataFrame) -> DataFrame:
    """(img_id, image binary): one deterministic PPM per doc_id % IMG_EVERY
    == 0 document — the synthetic stand-in for an image ingest (real
    binary payloads through Arrow batches; a deployment swaps this map for
    its object-store fetch)."""
    ids = docs.filter(F.col("doc_id") % IMG_EVERY == 0).select(
        F.col("doc_id").alias("img_id")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "img_id": b["img_id"],
                    "image": [_synth_ppm(int(i)) for i in b["img_id"]],
                }
            )

    return ids.mapInPandas(gen, "img_id bigint, image binary")


def _decode_pixels(payload: bytes, prefer_adapter: bool = False) -> np.ndarray:
    """(h, w, 3) uint8 RGB via the shared multimodal pixel dispatch —
    binary PPM (P6), PNG (stdlib zlib inflate + unfilter), 24-bit BMP,
    or baseline JPEG (stdlib huffman+IDCT). One dispatch definition
    (multimodal.decode_pixels_rgb), so the phash tier and the feature
    extractor can never drift. Raises on anything else (the multimodal
    real-codec seam: progressive JPEG etc. still need Pillow in the
    worker image). ``prefer_adapter`` is decode_pixels_rgb's throughput
    dial (C-backed PNG/BMP decode where the contract tests prove pixel
    equality — verdict-identical by construction)."""
    arr = decode_pixels_rgb(payload, prefer_adapter=prefer_adapter)
    if arr is None:
        raise ValueError(
            "ahash64: payload is not a binary PPM (P6), PNG, BMP, or "
            "baseline JPEG"
        )
    return arr


def ahash64(payload: bytes, prefer_adapter: bool = False) -> str:
    """64-bit average hash of a binary PPM or PNG as a '0'/'1' string
    (row-major over the 8x8 block grid). Integer-only: gray = (r+g+b) DIV
    3, block value = block-sum DIV block-pixels, mean = grid-sum DIV 64,
    bit = block >= mean — every step replayable in ANSI SQL, so the oracle
    can value-check the kernel. The hash depends only on the PIXELS: a PNG
    and a PPM holding the same grid hash identically (pinned in
    tests/test_phash.py), so mixed-format corpora dedup against each
    other. Raises on other formats or dims not divisible by the grid (the
    multimodal real-codec seam)."""
    return ahash64_from_array(_decode_pixels(payload, prefer_adapter))


def ahash64_from_array(arr: np.ndarray) -> str:
    """The aHash grid math on an already-decoded (h, w, 3) uint8 array —
    THE one definition (ahash64 above and the video tier's per-frame
    hashing both call it, so the integer arithmetic the oracles replay
    can never drift between modalities)."""
    h, w = arr.shape[:2]
    if w % HASH_GRID or h % HASH_GRID:
        raise ValueError(f"ahash64: dims {w}x{h} not divisible by {HASH_GRID}")
    gray = arr.astype(np.int64).sum(axis=2) // 3
    bh, bw = h // HASH_GRID, w // HASH_GRID
    blocks = gray.reshape(HASH_GRID, bh, HASH_GRID, bw).sum(axis=(1, 3)) // (bh * bw)
    mean = int(blocks.sum()) // (HASH_GRID * HASH_GRID)
    return "".join("1" if b >= mean else "0" for b in blocks.reshape(-1))


def ahash_frame(
    images: DataFrame, errors: str = "raise", prefer_adapter: bool = False
) -> DataFrame:
    """(img_id, hash64) via the real decode+hash kernel — Arrow-batched
    per-row map, no shuffle (the hot ingest path at 100 TB).

    ``errors``: ``"raise"`` (default — a corrupt payload fails the task,
    the right behavior for a curated corpus) or ``"quarantine"`` — corrupt
    payloads yield hash64=NULL instead of killing the batch, so one broken
    image in a million-row ingest batch cannot wedge the stream; callers
    route ``hash64 IS NULL`` rows to a quarantine sink and the dedup path
    filters them (a real-web-crawl ingest ALWAYS carries some truncated
    files). Raises other than decode errors still propagate.

    ``prefer_adapter``: route PNG/BMP decode to the C-backed Pillow
    adapter when the worker has it (decode_pixels_rgb's throughput dial —
    pixel-equal by contract test, a no-op on a Pillow-less worker). The
    flag is captured in the kernel closure, so it ships to executors with
    the task, not via module state."""
    if errors not in ("raise", "quarantine"):
        raise ValueError(f"ahash_frame: errors={errors!r}")

    def one(p: bytes) -> str | None:
        if errors == "raise":
            return ahash64(p, prefer_adapter)
        try:
            return ahash64(p, prefer_adapter)
        except (ValueError, NotImplementedError):
            return None  # corrupt/unsupported payload -> quarantine row

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "img_id": b["img_id"],
                    "hash64": [one(bytes(p)) for p in b["image"]],
                }
            )

    return images.mapInPandas(run, "img_id bigint, hash64 string")


def band_explode(
    hashes: DataFrame, id_col: str = "img_id", extra: tuple = ()
) -> DataFrame:
    """(id, *extra, hash64, band, bv): the 4 x 16-bit Hamming band slices
    of each hash — ONE definition shared by the in-memory pair join, the
    persisted index (phash_index), the audio fingerprint tier (audio_fp),
    and the video tier (videohash — ``extra`` carries frame_idx through),
    whose correctness depends on bit-identical banding (the gates mix
    both paths on the same batch)."""
    return hashes.select(
        id_col,
        *extra,
        "hash64",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PHASH_BANDS - 1}), b -> struct("
                f"b AS band, substring(hash64, b * {BAND_BITS} + 1, {BAND_BITS}) AS bv))"
            )
        ).alias("s"),
    ).select(
        id_col,
        *extra,
        "hash64",
        F.col("s.band").alias("band"),
        F.col("s.bv").alias("bv"),
    )


def hamming_expr(a: str, b: str):
    """Exact 64-position Hamming distance between two hash64 columns —
    the single verify definition both pair paths share."""
    return F.expr(
        f"aggregate(sequence(1, 64), 0, (acc, i) -> "
        f"acc + IF(substring({a}, i, 1) <> substring({b}, i, 1), 1, 0))"
    )


def banded_hamming_pairs(
    hashes: DataFrame, id_col: str, prefix: str, threshold: int
) -> DataFrame:
    """Near-dup pairs ({prefix}_a < {prefix}_b, hamming <= threshold) from
    any (id, hash64) frame: 4 x 16-bit band collisions propose candidates
    (pigeonhole guarantees Hamming < 4 is ALWAYS caught; LSH-probabilistic
    above), exact 64-position Hamming verifies. The self-join is banded —
    shuffle keys are (band, 16-bit value), never all-pairs. ONE definition
    shared by the image (phash_hamming_pairs) and audio
    (audio_fp.afp_hamming_pairs) modalities."""
    a_id, b_id = f"{prefix}_a", f"{prefix}_b"
    bands = band_explode(hashes, id_col)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(a_id),
            F.col(f"b.{id_col}").alias(b_id),
            F.col("a.hash64").alias("ha"),
            F.col("b.hash64").alias("hb"),
        )
        .dropDuplicates([a_id, b_id])
    )
    return (
        cand.select(
            a_id, b_id, hamming_expr("ha", "hb").cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= threshold)
    )


def phash_hamming_pairs(
    hashes: DataFrame, threshold: int = PHASH_THRESHOLD
) -> DataFrame:
    """Near-dup image pairs (img_a < img_b, hamming <= threshold) — the
    image instantiation of banded_hamming_pairs."""
    return banded_hamming_pairs(hashes, "img_id", "img", threshold)


# --- staged hash table (one decode+hash pass per session) --------------------

def stage_phash(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Materialize the (img_id, hash64) table once per application + corpus
    fingerprint (the trade_edges_stage contract): synthesize the image
    corpus, decode+hash it, persist the slim hash frame. Consumers pay a
    parquet re-scan, never a re-decode."""
    return artifact(
        spark, "phash_stage", sf_dir, ("documents",),
        lambda tmp: ahash_frame(synth_ppm_images(
            load_catalog(spark, sf_dir).table("documents")
        )).write.parquet(tmp),
        force,
    )


# --- oracles: the full pixel->hash pipeline replayed in SQL ------------------

# shared CTE pipeline: ids -> pixels (md5-derived RGB) -> integer gray ->
# 2x2 block averages -> per-image mean -> 64-bit string, exactly the
# kernel's arithmetic (every division integer, every comparison >=)
_PHASH_CTES = f"""ids AS (
        SELECT doc_id AS img_id,
               doc_id // {IMG_EVERY * VARIANT_GROUP} AS seed,
               (doc_id // {IMG_EVERY}) % {VARIANT_GROUP} AS v
        FROM documents WHERE doc_id % {IMG_EVERY} = 0),
    px AS (
        SELECT img_id,
               x.range AS x, y.range AS y,
               md5('px:' || CAST(seed AS VARCHAR) || ':'
                   || CAST(x.range AS VARCHAR) || ':' || CAST(y.range AS VARCHAR)) AS hb,
               CASE WHEN v > 0 THEN
                   md5('pert:' || CAST(seed AS VARCHAR) || ':' || CAST(v AS VARCHAR)
                       || ':' || CAST(x.range AS VARCHAR) || ':' || CAST(y.range AS VARCHAR))
               END AS hp
        FROM ids, range(0, {IMG_SIDE}) x, range(0, {IMG_SIDE}) y),
    rgb AS (
        SELECT img_id, x, y,
               CASE WHEN hp IS NOT NULL AND substr(hp, 1, 1) = '0'
                    THEN substr(hp, 2, 31) ELSE hb END AS hx
        FROM px),
    gray AS (
        SELECT img_id, x, y,
               (('0x' || substr(hx, 1, 2))::INT + ('0x' || substr(hx, 3, 2))::INT
                + ('0x' || substr(hx, 5, 2))::INT) // 3 AS g
        FROM rgb),
    blocks AS (
        SELECT img_id, y // 2 AS by, x // 2 AS bx, SUM(g) // 4 AS bavg
        FROM gray GROUP BY 1, 2, 3),
    means AS (
        SELECT img_id, SUM(bavg) // 64 AS m FROM blocks GROUP BY 1),
    hashes AS (
        SELECT b.img_id,
               string_agg(CASE WHEN b.bavg >= m.m THEN '1' ELSE '0' END, ''
                          ORDER BY b.by, b.bx) AS hash64
        FROM blocks b JOIN means m ON b.img_id = m.img_id
        GROUP BY b.img_id)"""

_STAGE_ORACLE = f"""WITH {_PHASH_CTES}
    SELECT img_id, hash64 FROM hashes"""


@query("image_phash_stage", _STAGE_ORACLE)
def q_image_phash_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode+hash staging pass, benched in isolation (force=True so
    its cost stays measured) — and the cross-engine KERNEL check: the
    oracle rebuilds every pixel from the md5 formulas and replays gray/
    block/mean/bit integer arithmetic in SQL, value-hashing the 64-bit
    strings the real PPM kernel produced from actual binary payloads."""
    path = stage_phash(spark, sf_dir, force=True)
    return spark.read.parquet(path).select("img_id", "hash64")


# pixels -> hashes -> banding -> exact-verified pairs, as shareable CTEs
# (dedup_image_phash selects the pairs; dedup_image_apply closes them into
# components and applies the keeper rule)
_PH_PAIRS_CTES = f"""{_PHASH_CTES},
    bands AS (
        SELECT img_id, hash64, b.range AS band,
               substr(hash64, b.range * {BAND_BITS} + 1, {BAND_BITS}) AS bv
        FROM hashes, range(0, {PHASH_BANDS}) b),
    cand AS (
        SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b,
               a.hash64 AS ha, b.hash64 AS hb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id),
    ppairs AS (
        SELECT img_a, img_b, hamming FROM (
            SELECT img_a, img_b,
                   CAST(len(ha) - len(list_filter(range(1, 65),
                       i -> substr(ha, i, 1) = substr(hb, i, 1))) AS INTEGER)
                       AS hamming
            FROM cand)
        WHERE hamming <= {PHASH_THRESHOLD})"""

_PAIRS_ORACLE = f"""WITH {_PH_PAIRS_CTES}
    SELECT img_a, img_b, hamming FROM ppairs"""


@query("dedup_image_phash", _PAIRS_ORACLE)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup over the staged hash table: 4 x 16-bit
    Hamming bands propose, exact Hamming <= PHASH_THRESHOLD (= 12)
    verifies. The oracle replays pixels -> hashes -> banding -> verify
    end-to-end from the shared CTE pipeline."""
    path = stage_phash(spark, sf_dir)
    return phash_hamming_pairs(spark.read.parquet(path))


# --- APPLY: keep one image per near-dup component --------------------------


@query(
    "dedup_image_apply",
    f"""WITH RECURSIVE {_PH_PAIRS_CTES},
    sym AS (SELECT img_a AS src, img_b AS dst FROM ppairs
            UNION ALL SELECT img_b, img_a FROM ppairs),
    walk(node, lbl) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.dst, MIN(w.lbl) FROM walk w JOIN sym s ON s.src = w.node
        GROUP BY s.dst
    ),
    comp AS (SELECT node, MIN(lbl) AS keep FROM walk GROUP BY node),
    dropd AS (SELECT node FROM comp WHERE node <> keep)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_imgs_kept
    FROM documents d
    WHERE d.doc_id % {IMG_EVERY} = 0
      AND NOT EXISTS (SELECT 1 FROM dropd WHERE dropd.node = d.doc_id)
    GROUP BY d.source""",
)
def q_dedup_image_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the image near-dup clustering: close the Hamming pairs into
    connected components (dedup_cluster.connected_components — the same
    solver the text tier uses), keep each component's representative (min
    img_id), and summarize the surviving image corpus per source — the
    step that actually shrinks a multimodal training set after
    dedup_image_phash names the pairs. Images outside the near-dup graph
    survive untouched. The oracle replays pixels -> hashes -> banding ->
    verify -> a recursive-CTE reachability closure -> the keeper rule.

    Scale shape: the drop set is slim img_ids bounded by the duplicate
    count; the corpus-side exclusion is an anti-join; the summary is one
    map-side-combined aggregate."""
    from temporalvault_spark.operators.dedup_cluster import connected_components

    hashes = spark.read.parquet(stage_phash(spark, sf_dir))
    pairs = phash_hamming_pairs(hashes)
    comps = connected_components(
        pairs.select(F.col("img_a").alias("src"), F.col("img_b").alias("dst"))
    )
    drop = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("img_id"))
    )
    kept = hashes.select("img_id").join(drop, "img_id", "left_anti")
    docs = load_catalog(spark, sf_dir).table("documents")
    return (
        kept.join(docs, kept["img_id"] == docs["doc_id"])
        .groupBy("source")
        .agg(F.count("*").alias("n_imgs_kept"))
    )


# --- CROSS-MODAL apply: text OR image match makes a duplicate ---------------
# A multimodal training pair (caption + image) is a duplicate of another if
# EITHER modality near-dups: re-captioned copies of one image, and
# re-rendered/re-encoded images of one caption, must both collapse. The
# edge set is the UNION of the text near-dup graph (restricted to docs that
# carry an image) and the image near-dup graph, closed by the one shared
# components solver — the composition a multimodal curation pipeline runs
# after the per-modality pair stages.

from temporalvault_spark.operators.llm import NGRAM_PAIRS_SQL as _NGRAM_PAIRS_SQL

_XMODAL_ORACLE = f"""WITH RECURSIVE tpairs AS ({_NGRAM_PAIRS_SQL}),
    {_PH_PAIRS_CTES},
    xedges AS (
        SELECT doc_a AS a, doc_b AS b FROM tpairs
        WHERE doc_a % {IMG_EVERY} = 0 AND doc_b % {IMG_EVERY} = 0
        UNION
        SELECT img_a, img_b FROM ppairs),
    xsym AS (SELECT a AS src, b AS dst FROM xedges
             UNION ALL SELECT b, a FROM xedges),
    xwalk(node, lbl) AS (
        SELECT src, src FROM xsym
        UNION
        SELECT s.dst, MIN(w.lbl) FROM xwalk w JOIN xsym s ON s.src = w.node
        GROUP BY s.dst
    ),
    xcomp AS (SELECT node, MIN(lbl) AS keep FROM xwalk GROUP BY node),
    xdrop AS (SELECT node FROM xcomp WHERE node <> keep)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_pairs_kept
    FROM documents d
    WHERE d.doc_id % {IMG_EVERY} = 0
      AND NOT EXISTS (SELECT 1 FROM xdrop WHERE xdrop.node = d.doc_id)
    GROUP BY d.source"""


@query("dedup_crossmodal_apply", _XMODAL_ORACLE)
def q_dedup_crossmodal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY cross-modal dedup over the (caption, image) corpus (docs with
    doc_id % IMG_EVERY == 0 carry the synthesized image): edges = text
    near-dup pairs between image-carrying docs (the staged shingle-jaccard
    artifact — no re-shingle) UNION image phash pairs (the staged hash
    table — no re-decode); one components closure; keep each component's
    min id; summarize survivors per source. The oracle replays BOTH pair
    pipelines (shingles -> minhash bands -> exact jaccard, and pixels ->
    aHash -> Hamming bands -> exact verify), unions the edges, and closes
    them with the recursive-CTE reachability twin — the whole composition
    is under one value-hash.

    Scale shape: both edge sets are slim id pairs from staged artifacts;
    the union is duplicate-bounded; the solver is the shared hybrid
    (driver union-find under 200k edges, distributed label propagation
    above); the corpus-side exclusion is an anti-join."""
    from temporalvault_spark.operators.dedup_cluster import connected_components
    from temporalvault_spark.operators.llm import staged_ngram_pairs

    tpairs = (
        staged_ngram_pairs(spark, sf_dir)
        .filter(
            (F.col("doc_a") % IMG_EVERY == 0) & (F.col("doc_b") % IMG_EVERY == 0)
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    hashes = spark.read.parquet(stage_phash(spark, sf_dir))
    ipairs = phash_hamming_pairs(hashes).select(
        F.col("img_a").alias("src"), F.col("img_b").alias("dst")
    )
    comps = connected_components(tpairs.unionByName(ipairs).distinct())
    drop = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    docs = load_catalog(spark, sf_dir).table("documents")
    return (
        docs.filter(F.col("doc_id") % IMG_EVERY == 0)
        .join(drop, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count("*").alias("n_pairs_kept"))
    )
