"""Random-hyperplane (SimHash-for-vectors) LSH over the embeddings table.

Completes the LSH family: MinHash banding approximates JACCARD on token
sets (llm.py), SimHash approximates it on text fingerprints (similarity.py),
and random-hyperplane LSH approximates COSINE on embeddings — the classic
Charikar construction: signature bit p = sign(<v, r_p>) for a random plane
r_p; P(bit equal) = 1 - angle/π, so vectors at high cosine collide in a
b-bit band with probability (1 - angle/π)^b, and B bands give the usual
banded recall curve without ever touching pair space.

Scale shape (identical to the minhash LSH tier):
  - signatures are a single projection pass (no shuffle): `bits` plane dots
    per band per vector, all JVM-side higher-order folds;
  - candidates come from an equi-join on (band, bucket) — fan-out bounded
    by bucket occupancy, never corpus²;
  - exact cosine verification runs only on the DISTINCT candidate pairs.

ADAPTIVE BUCKET WIDTH (round 8): with a FIXED bit width, expected bucket
occupancy is N/2^bits, so within-bucket candidate pairs grow QUADRATICALLY
in the corpus — measured on the 10x isotropic upscale: 36k -> 3.6M
candidate pairs, and the exact-verify stage came to dominate (the same
disease the round-4 semdedup audit found in fixed-k centroid blocking).
Fix is the same as adaptive_n_centroids: hold expected occupancy CONSTANT —
bits(N) = min(RP_BITS_MAX, max(RP_BITS, ceil(log2(N / RP_OCC_TARGET)))),
selected by exact integer threshold comparisons (no float, no libm risk)
from the strict-vector count. Candidate fan-out is then ~N·occ/2 per band —
linear. The recall consequence is the honest LSH tradeoff: per-band
collision p^bits falls as bits grow, so a deployment holding recall
constant grows RP_BANDS alongside (linear signature/join cost — see the
measured recall curve and knob discussion in SCALE.md).

Oracle parity: plane coefficients derive from md5 —
c(p,j) = u32(md5('rp:p:j')[:8]) / 2^32 - 0.5 — exact integer → exact
power-of-two scaling, so the doubles are BIT-IDENTICAL whoever computes
them. The oracle derives them IN-ENGINE (proving the formula); the Spark
side precomputes them DRIVER-SIDE into constant-folded literal arrays —
the in-engine derivation cost 2·bits·dim md5+conv calls PER ROW (the
lambda variable j defeats constant folding), measured as the dominant
cost of the whole operator, for values that never depend on the row.
tests/test_rp_lsh.py pins the literal == in-engine equality element-wise.
Both engines fold the dot product left-to-right over the same element
order, giving bit-identical signs. Plane indices are fixed at
band*RP_BITS_MAX + i regardless of the adaptive width, so Spark computes
exactly `bits` dots while the oracle computes the full RP_BITS_MAX-bit
string and truncates to the SAME prefix (cost only matters Spark-side).
The width itself is chosen by integer comparisons on the same COUNT —
Spark from a bounded driver scalar (the PageRank n_nodes precedent), the
oracle from a scalar subquery; both dialects' expressions are GENERATED
FROM THE SAME PYTHON LOOPS below, so the formulas cannot drift. Recall is
bucket-local by contract (same contract as the IVF cluster blocking);
crafted-duplicate recall is pinned in tests/test_rp_lsh.py and the
measured recall-vs-cosine curve lives in SCALE.md (tools/rp_recall.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.operators.similarity import (
    EMB_DUP_THRESHOLD,
    EMB_STRICT_WHERE,
    _dot,
    _norm,
)
from temporalvault_spark.registry import query

RP_BANDS = 4
RP_BITS = 8  # minimum planes per band (the floor used at test scale)
RP_BITS_MAX = 16  # plane-index stride; widest supported band
RP_OCC_TARGET = 8  # expected vectors per (band, bucket) the width maintains


def adaptive_rp_bits(n: int, occ: int = RP_OCC_TARGET) -> int:
    """Bucket bit-width holding expected occupancy ~occ: the smallest bits
    in [RP_BITS, RP_BITS_MAX] with n <= occ·2^bits. Pure integer
    comparisons — replayed verbatim by _bits_case_duck(). ``occ`` is the
    recall/cost dial (default RP_OCC_TARGET); the index-maintenance tier
    passes it through so a rebuild's target width is testable at any
    corpus size."""
    bits = RP_BITS
    while bits < RP_BITS_MAX and n > occ << bits:
        bits += 1
    return bits


def _bits_case_duck(occ: int = RP_OCC_TARGET) -> str:
    """DuckDB twin of adaptive_rp_bits, generated from the same thresholds."""
    whens = " ".join(
        f"WHEN n <= {occ << b} THEN {b}"
        for b in range(RP_BITS, RP_BITS_MAX)
    )
    return f"CASE {whens} ELSE {RP_BITS_MAX} END"


def _plane_coef(p: int, j: int) -> float:
    """c(p,j) = u32(md5('rp:p:j')[:8]) / 2^32 - 0.5, computed driver-side.
    Exact-integer / power-of-two arithmetic → the identical double the
    oracle derives in-engine (equality pinned element-wise in tests)."""
    import hashlib

    h = hashlib.md5(f"rp:{p}:{j}".encode()).hexdigest()[:8]
    return int(h, 16) / 4294967296.0 - 0.5


def _dot_spark(p: int, dim: int, e: str = "e") -> str:
    """Spark SQL: <e, plane_p> with the plane's coefficients embedded as a
    constant-folded literal array (see module docstring: in-engine
    derivation cost row-proportional md5 calls for row-independent values).
    repr() round-trips doubles exactly, and Spark parses E-notation
    literals as DOUBLE, so the array holds the md5-derived values bit-for-
    bit. The fold is unchanged: left-to-right, acc + e[j]*c[j]."""
    coefs = ", ".join(repr(_plane_coef(p, j)) for j in range(dim))
    return (
        f"aggregate(sequence(0, size({e}) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, j) -> acc + element_at({e}, j + 1) * element_at(array({coefs}), j + 1))"
    )


def _dot_duck(p: int, e: str = "e") -> str:
    """DuckDB: the same fold — same element order, same coefficient math."""
    coef = (
        f"(('0x' || substr(md5('rp:' || '{p}' || ':' || CAST(j AS VARCHAR)), 1, 8))::UBIGINT "
        f"/ 4294967296.0 - 0.5)"
    )
    return (
        f"list_reduce(list_transform(range(0, len({e})), "
        f"j -> {e}[j + 1] * {coef}), (acc, v) -> acc + v)"
    )


def _bucket_spark(band: int, bits: int, dim: int) -> str:
    bits_exprs = [
        f"CASE WHEN {_dot_spark(band * RP_BITS_MAX + i, dim)} >= 0 THEN '1' ELSE '0' END"
        for i in range(bits)
    ]
    return "concat(" + ", ".join(bits_exprs) + ")"


def _bucket_duck_full(band: int) -> str:
    """The full RP_BITS_MAX-bit band string (the oracle truncates a prefix)."""
    bits_exprs = [
        f"CASE WHEN {_dot_duck(band * RP_BITS_MAX + i)} >= 0 THEN '1' ELSE '0' END"
        for i in range(RP_BITS_MAX)
    ]
    return " || ".join(bits_exprs)


def _strict(emb: DataFrame) -> DataFrame:
    """(vec_id, e): the non-null, non-zero-norm vectors (EMB_STRICT_WHERE)."""
    return emb.filter(
        F.col("embedding").isNotNull()
        & (_dot(F.col("embedding").cast("array<double>"), F.col("embedding").cast("array<double>")) > 0)
    ).select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e"))


def rp_corpus_stats(emb: DataFrame) -> tuple[int, int]:
    """(n, dim) of the strict frame: one bounded driver row — strict count
    (adaptive width) + max dim (sizes the literal coefficient arrays;
    shorter vectors fold a prefix, exactly as per-element derivation
    would)."""
    row = _strict(emb).agg(
        F.count("*").alias("n"), F.max(F.size("e")).alias("d")
    ).first()
    return row["n"], row["d"] or 1


# staging.fingerprint over embeddings -> (n, dim): the bounded stats
# read is a full corpus scan — repeated rp_lsh calls (and plan-only
# explains) in one session must not each pay it (r8 advice), so registered
# consumers cache it under the same freshness contract as _BM25_BASE_CACHE
_RP_STATS_CACHE: dict[tuple, tuple[int, int]] = {}


def _rp_stats_cached(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    import os

    from temporalvault_spark.staging import fingerprint

    key = fingerprint(spark, sf_dir, ("embeddings",))
    got = _RP_STATS_CACHE.get(key)
    if got is None:
        # direct parquet read, not load_catalog: the stats need only this
        # one table (and tests point at dirs holding nothing else)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        got = rp_corpus_stats(emb)
        _RP_STATS_CACHE[key] = got
    return got


def rp_signatures(
    emb: DataFrame,
    bits: int | None = None,
    stats: tuple[int, int] | None = None,
) -> DataFrame:
    """(vec_id, e, nrm, band, bucket): one row per (vector, band).

    ``bits=None`` derives the adaptive width from the strict-vector count
    (one bounded driver long — the PageRank n_nodes precedent) so bucket
    occupancy stays ~RP_OCC_TARGET at any corpus size; pass an explicit
    width to pin it (tests, recall measurement). ``stats=(n, dim)`` skips
    the stats scan with a precomputed pair (the session cache above).

    The plane dots are interpreted higher-order folds — CPU-heavy — and
    the testdata arrives as ONE unsplittable parquet file, so the
    projection is explicitly fanned out across the session's cores
    (defaultParallelism, the same derivation as shingle_signatures in
    llm.py — no deployment-specific constant; AQE won't coalesce a
    user-numbered repartition). The eager localCheckpoint materializes the
    signature frame ONCE for both sides of the downstream self-join —
    without it each alias re-runs all the folds."""
    strict = _strict(emb)
    if stats is None:
        stats = rp_corpus_stats(emb)
    n, dim = stats
    if bits is None:
        bits = adaptive_rp_bits(n)
    buckets = F.array(*[F.expr(_bucket_spark(b, bits, dim)) for b in range(RP_BANDS)])
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    return (
        strict.repartition(n_parts)
        .select(
            "vec_id",
            "e",
            _norm(F.col("e")).alias("nrm"),
            F.posexplode(buckets).alias("band", "bucket"),
        )
        .localCheckpoint(eager=True)
    )


def rp_lsh_pairs(
    emb: DataFrame,
    threshold: float = EMB_DUP_THRESHOLD,
    stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Near-dup pairs: RP-band candidates, deduped, exact-cosine verified."""
    sigs = rp_signatures(emb, stats=stats)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.e").alias("ea"),
            F.col("b.e").alias("eb"),
            F.col("a.nrm").alias("na"),
            F.col("b.nrm").alias("nb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return cand.select(
        "vec_a", "vec_b", F.round(cos, 6).alias("cosine")
    ).filter(cos >= threshold)


@query(
    "dedup_rp_lsh",
    f"""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    nb AS (SELECT {_bits_case_duck()} AS bits
           FROM (SELECT COUNT(*) AS n FROM e)),
    sigs AS (
        {" UNION ALL ".join(
            f"SELECT vec_id, e, {b} AS band, "
            f"left({_bucket_duck_full(b)}, nb.bits) AS bucket FROM e, nb"
            for b in range(RP_BANDS)
        )}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigs a JOIN sigs b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b,
           ROUND(list_dot_product(x.e, y.e)
                 / (sqrt(list_dot_product(x.e, x.e))
                    * sqrt(list_dot_product(y.e, y.e))), 6) AS cosine
    FROM cand c
    JOIN e x ON x.vec_id = c.vec_a
    JOIN e y ON y.vec_id = c.vec_b
    WHERE list_dot_product(x.e, y.e)
          / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))
          >= {EMB_DUP_THRESHOLD}""",
)
def q_dedup_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered RP-LSH near-dup over the embeddings table (module
    docstring has the construction, the adaptive-width scale story, and
    the parity argument). Corpus stats ride the session cache, so repeated
    calls (and plan-only explains) pay the stats scan once."""
    return rp_lsh_pairs(
        load_catalog(spark, sf_dir).table("embeddings"),
        stats=_rp_stats_cached(spark, sf_dir),
    )
