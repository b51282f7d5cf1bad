"""Persisted audio-fingerprint band index: incremental AUDIO near-dup
against an already-ingested corpus WITHOUT re-decoding it — the audio cell
of the incremental-index family (text: minhash_index.py, embeddings:
rp_lsh_index.py, images: phash_index.py, audio: THIS). All four modalities
now carry the same production shape: one-shot pairs, a corpus apply, a
persisted partition-pruned index, a growth contract, and an exactly-once
streaming gate.

The index is the image index with the kernel swapped: 64-bit envelope
fingerprints (audio_fp.afp64) in 4 x 16-bit Hamming bands,

    (aud_id, hash64, band, bv) partitioned by (band, bkt, ingest)

with no sidecar (the 8-byte fingerprint IS the exact-verify object). The
MECHANICS are band64_index.Band64Index — literally the same class instance
shape the image family uses, so the two cannot drift; only the kernel, the
synthetic corpus, the scenario dials, and the oracles live here."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.operators.audio_fp import (
    AFP_THRESHOLD,
    AUD_EVERY,
    VARIANT_GROUP,
    _AFP_CTES,
    stage_afp,
)
from temporalvault_spark.operators.band64_index import Band64Index
from temporalvault_spark.operators.index_common import (
    skew_oracle_sql,
    with_bucket_skew,
)
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact, artifact_path

_FAMILY = Band64Index("afp", "aud_id", "aud")

AFP_INDEX_SCHEMA = _FAMILY.schema


def _index_frame(spark: SparkSession, path: str) -> DataFrame:
    return _FAMILY.frame(spark, path)


def build_afp_index(
    hashes: DataFrame,
    path: str,
    append: bool = False,
    ingest_id: int | None = None,
    wide_threshold: int = 1_000_000,
) -> None:
    """Band64Index.build for the audio family (see its docstring for the
    write-mode/meta/exactly-once contracts)."""
    _FAMILY.build(hashes, path, append, ingest_id, wide_threshold)


def query_afp_index(
    spark: SparkSession,
    index_path: str,
    new_hashes: DataFrame,
    threshold: int = AFP_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs (query_aud, index_aud, hamming <= threshold) between
    a new batch's fingerprints and the indexed corpus — Band64Index.query
    (the partition-pruned broadcast probe)."""
    return _FAMILY.query(spark, index_path, new_hashes, threshold)


def afp_index_occupancy(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """ONE aggregate over the index vs the persisted build-time key width;
    ``grown`` when the current corpus size calls for a wider bkt."""
    return _FAMILY.occupancy(spark, path, wide_threshold)


def compact_afp_index(spark: SparkSession, path: str) -> dict:
    """Band64Index.compact_ingest for the audio family (see the shared
    docstring for the quiesce contract)."""
    return _FAMILY.compact_ingest(spark, path)


def rebuild_afp_index_if_grown(
    spark: SparkSession, path: str, wide_threshold: int = 1_000_000
) -> dict:
    """OPTIMIZE-style rebuild at the fresh key width from the index's OWN
    deduplicated (aud_id, hash64) rows — no re-decode — into a sibling
    directory, atomically swapped."""
    return _FAMILY.rebuild_if_grown(spark, path, wide_threshold)


# --- incremental two-batch scenario (benchable) --------------------------------
# base corpus = the seed-group variants v != 0 (already ingested), probe
# batch = each group's v == 0 clip — every group guarantees cross-batch
# near-dups, so the oracle rows are non-trivial by construction (the
# phash_index scenario, kernel swapped).

def stage_afp_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build (once per application + corpus fingerprint) the persisted
    audio band index over the base clips (variant != 0), deriving from
    the staged fingerprint table — no re-decode."""

    def build(tmp: str) -> None:
        hashes = spark.read.parquet(stage_afp(spark, sf_dir))
        build_afp_index(
            hashes.filter(F.expr(f"(aud_id DIV {AUD_EVERY}) % {VARIANT_GROUP} <> 0")), tmp
        )

    return artifact(spark, "afp_idx", sf_dir, ("documents",), build, force)


_AFP_IDX_BUILD_ORACLE = f"""WITH {_AFP_CTES},
    base AS (SELECT h.* FROM ahashes h JOIN aids i ON h.aud_id = i.aud_id
             WHERE i.v <> 0),
    bands AS (
        SELECT aud_id, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM base, range(0, 4) b)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT bv) AS BIGINT) AS n_buckets
    FROM bands GROUP BY 1"""


@query("afp_index_build", _AFP_IDX_BUILD_ORACLE)
def q_afp_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time audio-index build, benched in isolation (force=True):
    per-band row and distinct-band-value counts read back FROM the
    persisted index — the oracle value-checks what landed on disk by
    replaying samples -> fingerprints -> bands for the base (variant != 0)
    clips."""
    path = stage_afp_index(spark, sf_dir, force=True)
    return (
        spark.read.parquet(path)
        .groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("bv").alias("n_buckets"),
        )
    )


# The RECURRING maintenance cost benched alone (the minhash_index_occupancy
# note): the oracle replays the slim aggregate and the width decision,
# value-checking the persisted _meta against the build rule.
_AFP_OCC_ORACLE = f"""WITH {_AFP_CTES},
    base AS (SELECT h.aud_id, h.hash64 FROM ahashes h JOIN aids i
             ON h.aud_id = i.aud_id WHERE i.v <> 0),
    bands AS (
        SELECT aud_id, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM base, range(0, 4) b),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT aud_id) AS BIGINT) AS n_auds,
                 CAST(COUNT(DISTINCT (band, bv)) AS BIGINT) AS n_bkts
          FROM bands),
    {skew_oracle_sql("bands", "band, bv")[0]}
    SELECT n_rows, n_auds, n_bkts,
           {skew_oracle_sql("bands", "band, bv")[1]},
           CAST({Band64Index.bkt_chars_case_sql("n_auds")} AS INTEGER)
               AS bkt_chars,
           CAST({Band64Index.bkt_chars_case_sql("n_auds")} AS INTEGER)
               AS target_bkt_chars,
           FALSE AS grown
    FROM m CROSS JOIN mb"""


@query("afp_index_occupancy", _AFP_OCC_ORACLE)
def q_afp_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio growth-contract occupancy PROBE over the staged index —
    the per-maintenance-tick cost (the rebuild fires rarely; its
    correctness is value-checked separately by afp_index_rebuild). The
    oracle's value-hash proves the persisted _meta equals the replayed
    build rule cross-engine."""
    path = stage_afp_index(spark, sf_dir)
    bkt_chars, _n_built = _FAMILY.read_meta_full(spark, path)
    idx = _index_frame(spark, path)
    stats = idx.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("aud_id").alias("n_auds"),
        F.count_distinct("band", "bv").alias("n_bkts"),
    )
    return (
        with_bucket_skew(stats, idx, ("band", "bv"))
        .withColumn("bkt_chars", F.lit(bkt_chars).cast("int"))
        .withColumn("target_bkt_chars", Band64Index.bkt_chars_col("n_auds"))
        .withColumn("grown", F.col("target_bkt_chars") > F.col("bkt_chars"))
    )


# The rebuild scenario lowers the widening threshold to 40 clips so the
# growth contract actually FIRES at test scale (production dial: 1M): the
# phash_index_rebuild twin — base at the default dial (2-char keys), append
# the held-out v == 0 batch, rebuild-if-grown at wide_threshold=40 (the
# union exceeds 40 at every test SF). The oracle replays the width DECISION
# and the full per-(band, bkt) row counts.
AFP_REBUILD_WT = 40

_AFP_REBUILD_ORACLE = f"""WITH {_AFP_CTES},
    w AS (SELECT {Band64Index.bkt_chars_case_sql("COUNT(*)", AFP_REBUILD_WT)} AS c
          FROM aids),
    bands AS (
        SELECT aud_id, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM ahashes, range(0, 4) b)
    SELECT CAST(band AS INTEGER) AS band,
           substr(bv, 1, w.c) AS bkt,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM bands, w GROUP BY 1, 2, w.c"""


@query("afp_index_rebuild", _AFP_REBUILD_ORACLE)
def q_afp_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio growth-contract maintenance cycle end-to-end: build a
    private index on the base clips (variant != 0, staged fingerprints —
    no re-decode) at the default widening dial, append the held-out v == 0
    batch, then ``rebuild_afp_index_if_grown(wide_threshold=40)``. Returns
    per-(band, bkt) row counts read back FROM the rebuilt on-disk index
    via the explicit schema (bkt stays STRING) — the oracle's replayed
    width decision + counts prove rebuild-after-growth is byte-identical
    to never having grown. With this, all FOUR modalities' maintenance
    cycles are value-hash-oracled."""
    hashes = spark.read.parquet(stage_afp(spark, sf_dir))
    path = artifact_path(spark, "afp_rebuild", sf_dir, ("documents",))
    grp = F.expr(f"(aud_id DIV {AUD_EVERY}) % {VARIANT_GROUP}")
    build_afp_index(hashes.filter(grp != 0), path)
    build_afp_index(hashes.filter(grp == 0), path, append=True)
    rebuild_afp_index_if_grown(spark, path, wide_threshold=AFP_REBUILD_WT)
    return (
        _index_frame(spark, path)
        .groupBy(F.col("band").cast("int").alias("band"), "bkt")
        .agg(F.count("*").alias("n_rows"))
    )


_AFP_PROBE_ORACLE = f"""WITH {_AFP_CTES},
    hv AS (SELECT h.aud_id, h.hash64, i.v FROM ahashes h
           JOIN aids i ON h.aud_id = i.aud_id),
    bands AS (
        SELECT aud_id, hash64, v, b.range AS band,
               substr(hash64, b.range * 16 + 1, 16) AS bv
        FROM hv, range(0, 4) b),
    cand AS (
        SELECT DISTINCT q.aud_id AS query_aud, x.aud_id AS index_aud,
               q.hash64 AS qh, x.hash64 AS ih
        FROM bands q JOIN bands x
          ON q.band = x.band AND q.bv = x.bv
         AND q.v = 0 AND x.v <> 0 AND q.aud_id <> x.aud_id)
    SELECT query_aud, index_aud,
           CAST(64 - len(list_filter(range(1, 65),
               i -> substr(qh, i, 1) = substr(ih, i, 1))) AS INTEGER) AS hamming
    FROM cand
    WHERE 64 - len(list_filter(range(1, 65),
              i -> substr(qh, i, 1) = substr(ih, i, 1))) <= {AFP_THRESHOLD}"""


@query("dedup_afp_incremental_probe", _AFP_PROBE_ORACLE)
def q_dedup_afp_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring half: probe the staged audio index with the held-out
    batch (variant == 0) — the per-ingest-batch audio-dedup cost, with the
    one-time build amortized away (benched separately as afp_index_build).
    The oracle replays BOTH halves from the shared sample->fingerprint
    CTEs: candidates are cross-batch band collisions, exact-Hamming
    verified at AFP_THRESHOLD (= 12)."""
    path = stage_afp_index(spark, sf_dir)
    hashes = spark.read.parquet(stage_afp(spark, sf_dir))
    batch = hashes.filter(
        F.expr(f"(aud_id DIV {AUD_EVERY}) % {VARIANT_GROUP} = 0")
    )
    return query_afp_index(spark, path, batch)
