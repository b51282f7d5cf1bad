"""Random-hyperplane LSH: recall on crafted duplicates, sign semantics,
signature shape, and strict-filter robustness."""

import pytest

from temporalvault_spark.operators.rp_lsh import (
    RP_BANDS,
    RP_BITS,
    rp_lsh_pairs,
    rp_signatures,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")


@pytest.fixture()
def base_vec():
    # a fixed 8-dim direction; values chosen so no plane dot lands near 0
    return [0.9, -0.3, 0.5, 0.1, -0.7, 0.2, 0.4, -0.6]


def test_scaled_duplicate_always_collides(spark, base_vec):
    """A positively-scaled copy has identical signs on every plane dot →
    identical signature in every band → found with cosine 1.0."""
    rows = [(1, base_vec, 0), (2, [2.0 * x for x in base_vec], 0)]
    got = rp_lsh_pairs(_emb(spark, rows)).collect()
    assert len(got) == 1
    assert (got[0]["vec_a"], got[0]["vec_b"]) == (1, 2)
    assert got[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_opposite_vector_never_collides(spark, base_vec):
    """-v flips every signature bit → different bucket in every band."""
    rows = [(1, base_vec, 0), (2, [-x for x in base_vec], 0)]
    assert rp_lsh_pairs(_emb(spark, rows)).count() == 0


def test_signature_shape(spark, base_vec):
    rows = [(1, base_vec, 0), (2, [2.0 * x for x in base_vec], 0)]
    sigs = rp_signatures(_emb(spark, rows)).collect()
    assert len(sigs) == 2 * RP_BANDS
    assert all(len(r["bucket"]) == RP_BITS for r in sigs)
    assert all(set(r["bucket"]) <= {"0", "1"} for r in sigs)
    # scaled copies share every band bucket
    by_band = {}
    for r in sigs:
        by_band.setdefault(r["band"], set()).add(r["bucket"])
    assert all(len(v) == 1 for v in by_band.values())


def test_null_and_zero_vectors_excluded(spark, base_vec):
    rows = [(1, base_vec, 0), (2, None, 0), (3, [0.0] * 8, 0)]
    sigs = rp_signatures(_emb(spark, rows))
    assert {r["vec_id"] for r in sigs.collect()} == {1}
    assert rp_lsh_pairs(_emb(spark, rows)).count() == 0


def test_adaptive_bits_thresholds():
    """Width holds expected occupancy ≤ RP_OCC_TARGET between the floor and
    the stride cap, switching exactly at the integer thresholds."""
    from temporalvault_spark.operators.rp_lsh import (
        RP_BITS_MAX,
        RP_OCC_TARGET,
        adaptive_rp_bits,
    )

    assert adaptive_rp_bits(0) == RP_BITS
    assert adaptive_rp_bits(RP_OCC_TARGET << RP_BITS) == RP_BITS  # 2048: last 8-bit n
    assert adaptive_rp_bits((RP_OCC_TARGET << RP_BITS) + 1) == RP_BITS + 1
    assert adaptive_rp_bits(10**9) == RP_BITS_MAX
    for n in (1, 2048, 2049, 5000, 100_000, 10**9):
        bits = adaptive_rp_bits(n)
        if bits < RP_BITS_MAX:
            assert n <= RP_OCC_TARGET << bits
        if bits > RP_BITS:
            assert n > RP_OCC_TARGET << (bits - 1)


def test_wider_bucket_is_prefix_extension(spark, base_vec):
    """Plane indices are fixed at band*RP_BITS_MAX + i, so an 8-bit bucket
    must be the exact prefix of the same vector's 12-bit bucket — the
    property that lets the oracle truncate the full-width string."""
    rows = [(1, base_vec, 0)]
    s8 = {r["band"]: r["bucket"] for r in rp_signatures(_emb(spark, rows), bits=8).collect()}
    s12 = {r["band"]: r["bucket"] for r in rp_signatures(_emb(spark, rows), bits=12).collect()}
    for band in s8:
        assert len(s8[band]) == 8 and len(s12[band]) == 12
        assert s12[band].startswith(s8[band])


def test_literal_plane_coefs_match_in_engine_derivation(spark):
    """The driver-side literal coefficients must equal the oracle's
    in-engine md5 derivation BIT-FOR-BIT for every (plane, element) the
    widest configuration can touch."""
    from temporalvault_spark.operators.rp_lsh import (
        RP_BANDS,
        RP_BITS_MAX,
        _plane_coef,
    )

    n_planes = RP_BANDS * RP_BITS_MAX
    rows = spark.sql(
        f"""SELECT p, j,
            CAST(conv(substring(md5(concat('rp:', CAST(p AS STRING), ':',
                                            CAST(j AS STRING))), 1, 8),
                      16, 10) AS DOUBLE) / 4294967296.0 - 0.5 AS c
        FROM (SELECT explode(sequence(0, {n_planes - 1})) AS p)
        CROSS JOIN (SELECT explode(sequence(0, 63)) AS j)"""
    ).collect()
    assert len(rows) == n_planes * 64
    for r in rows:
        assert _plane_coef(r["p"], r["j"]) == r["c"]


def test_rp_stats_cache_tracks_embedding_rewrites(spark, tmp_path):
    """The session-cached (n, dim) stats must key on the embeddings file's
    fingerprint (r8 advice): a rewrite at the same path re-reads; the same
    fingerprint hits the cache without another scan."""
    import os
    import shutil

    from temporalvault_spark.operators.rp_lsh import (
        _RP_STATS_CACHE,
        _rp_stats_cached,
    )
    from temporalvault_spark.staging import fingerprint

    d = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", f"{d}/embeddings.parquet")
    n1, dim1 = _rp_stats_cached(spark, d)
    assert n1 > 0 and dim1 > 0
    k1 = fingerprint(spark, d, ("embeddings",))
    assert _RP_STATS_CACHE[k1] == (n1, dim1)
    # same fingerprint -> cache hit (poison the entry and observe it served)
    _RP_STATS_CACHE[k1] = (n1 + 7, dim1)
    assert _rp_stats_cached(spark, d) == (n1 + 7, dim1)
    _RP_STATS_CACHE[k1] = (n1, dim1)
    # rewrite (mtime bump) -> fresh key -> fresh scan
    os.utime(f"{d}/embeddings.parquet", ns=(1, 1))
    k2 = fingerprint(spark, d, ("embeddings",))
    assert k2 != k1
    assert _rp_stats_cached(spark, d) == (n1, dim1)
