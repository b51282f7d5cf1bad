"""Persisted IVF-PQ index: the on-disk form of ivfpq_topk (operators/pq.py)
and the compressed sibling of the raw IVF index (operators/ivf_index.py).

Layout: codes partitioned BY centroid_id — each vector stored as its M
sub-codes (8 bytes vs 256 of float32, 32x), plus two tiny sidecars
(``_centroids``: the cluster centers; ``_codebook``: the M*K PQ codewords).
A probe then:

  1. ranks centroids against the probe vector on the DRIVER (C dot
     products over the sidecar — microscopic),
  2. computes the probe's M*K-entry ADC distance table on the driver
     (M*K squared-L2 folds over the codebook sidecar — also microscopic)
     and embeds it in the plan as a LITERAL array,
  3. scans ONLY the nprobe best cluster partitions (`centroid_id IN`
     prunes at the directory level; PartitionFilters is the proof) and
     ranks by an M-term table-lookup fold per row.

So a search is one partition-pruned scan of 8-byte codes + a projection +
TakeOrderedAndProject — NO joins, NO broadcast, and the raw floats are
never read after the build. At 100 TB the two prunings compose: nprobe/C
of the directories, 1/32 of the bytes inside them.

Build-time consistency: assignment uses the shared
assign_to_centroids_auto (exact argmax/tie-break at every graded size —
k=16 here; the two-level coarse-quantized form above TWO_LEVEL_MIN_K,
similarity.py) and encode uses pq_encode against a fold_codebook_row —
the sidecars persist exactly what the build used, so probes are
self-consistent at any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.concurrency import run_concurrent
from temporalvault_spark.operators.pq import (
    PQ_DIM,
    PQ_K,
    PQ_M,
    PQ_SUB,
    _validated_codebook_row,
    pq_encode,
)
from temporalvault_spark.operators.similarity import assign_to_centroids_auto


def build_ivfpq_index(
    emb: DataFrame, path: str, centroids: DataFrame | None = None
) -> None:
    """One-time build: assign, PQ-encode, write codes partitioned by
    centroid_id + the ``_centroids`` / ``_codebook`` / ``_meta`` sidecars
    (underscore prefix: Spark's reader ignores them when scanning the
    index). ``centroids`` defaults to the deterministic first-k set with
    ADAPTIVE k (the build_ivf_index contract: identical to ivfpq_topk's
    fixed N_CENTROIDS=16 up to 16*400 vectors, intentionally divergent
    beyond to keep per-partition size constant); pass train_centroids(...)
    for k-means quality — probes rank whatever the sidecar holds."""
    from temporalvault_spark.operators.similarity import adaptive_n_centroids

    e = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == PQ_DIM)
    ).select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
    n_built = e.count()
    if centroids is None:
        k = adaptive_n_centroids(n_built)
        centroids = e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
        )
    cents = centroids
    # the build_ivf_index fail-fast contract: count before any write
    k_meta = cents.count()  # bounded: the centroid frame is broadcast-sized
    if k_meta < 1:
        raise ValueError(
            f"build_ivfpq_index: no centroids selected for {path} — the "
            "corpus is empty after the NULL/dim filter; nothing to index"
        )
    cb_row = _validated_codebook_row(e)
    assigned = assign_to_centroids_auto(e, cents, k=k_meta)
    codes = pq_encode(assigned, cb_row)  # centroid_id passes through encode
    (
        codes.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    # sidecars AFTER the main write (its static root overwrite deletes
    # `path` including them), but concurrent with EACH OTHER — each
    # overwrites only its own subdirectory (the gates' run_concurrent shape)
    run_concurrent(
        [
            lambda: cents.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/_centroids"),
            # flat (sub, code, cw) form — rebuildable into the fold row on read
            lambda: cb_row.select(F.explode("cb").alias("s"))
            .select("s.sub", "s.code", "s.cw")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/_codebook"),
            # growth-contract sidecar (the build_ivf_index contract: k =
            # ACTUAL sidecar rows, n_built = filtered corpus size at build)
            lambda: e.sparkSession.range(0, 1, 1, 1)
            .select(
                F.lit(k_meta).cast("int").alias("k"),
                F.lit(n_built).cast("bigint").alias("n_built"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/_meta"),
        ]
    )


def ivfpq_search(
    spark: SparkSession,
    index_path: str,
    probe_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ADC probe of the persisted index — see the module docstring for the
    three steps. Ranking reads the sidecars, never the main index; the
    codes scan carries `centroid_id IN (...)` so only nprobe partitions
    are touched, and the ADC fold runs against a driver-computed literal
    distance table in fixed subspace order (deterministic, join-free)."""
    from temporalvault_spark.operators.index_common import adopt_swapped

    adopt_swapped(index_path)  # probe-path swap recovery (the ivf_search note)
    cents = spark.read.parquet(f"{index_path}/_centroids").collect()

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    ranked = sorted(
        cents,
        key=lambda r: (
            -dot(r["ce"], probe_vec) / (dot(r["ce"], r["ce"]) ** 0.5),
            r["centroid_id"],
        ),
    )
    probe_clusters = [r["centroid_id"] for r in ranked[:nprobe]]

    if len(probe_vec) != PQ_DIM:
        raise ValueError(
            f"probe_vec must be {PQ_DIM}-dim, got {len(probe_vec)} — a short "
            "probe would silently truncate the per-subspace zips and rank by "
            "a wrong ADC table"
        )
    cb = spark.read.parquet(f"{index_path}/_codebook").collect()
    dt = [0.0] * (PQ_M * PQ_K)
    filled: set[tuple[int, int]] = set()
    for r in cb:
        j, c, cw = r["sub"], r["code"], r["cw"]
        if len(cw) != PQ_SUB:
            raise ValueError(
                f"persisted codebook cell ({j},{c}) has a {len(cw)}-dim "
                f"codeword (want {PQ_SUB}) — index at {index_path} is corrupt"
            )
        sl = probe_vec[j * PQ_SUB : (j + 1) * PQ_SUB]
        dt[j * PQ_K + c] = sum((x - y) * (x - y) for x, y in zip(sl, cw))
        filled.add((j, c))
    want_cells = {(j, c) for j in range(PQ_M) for c in range(PQ_K)}
    if filled != want_cells or len(cb) != PQ_M * PQ_K:
        # a missing cell leaves dt entries at 0.0, and a DUPLICATE (sub,
        # code) row with a conflicting codeword makes the dt entry depend on
        # collect() order (filled is a set, so coverage alone can't see it)
        # — either way, plausible but wrong rankings; the build path
        # validates, the read path must too. The row-count check catches
        # the duplicate case the set-coverage check can't.
        raise ValueError(
            f"persisted codebook at {index_path} holds {len(cb)} cells "
            f"covering {len(filled)} distinct (sub, code) keys; want exactly "
            f"the {PQ_M}x{PQ_K} grid with one row per cell"
        )

    idx = spark.read.parquet(index_path)
    dt_lit = F.array(*[F.lit(v) for v in dt])
    adist = F.expr(
        f"aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double), "
        f"(acc, j) -> acc + element_at(dt, CAST(j*{PQ_K} + element_at(codes, j+1) + 1 AS INT)))"
    )
    return (
        idx.filter(F.col("centroid_id").isin(probe_clusters))
        .withColumn("dt", dt_lit)
        .select("vec_id", "label", "centroid_id", adist.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
        .select(
            "vec_id", "label", "centroid_id", F.round("adc_dist", 6).alias("adc_dist")
        )
    )


def append_to_ivfpq_index(emb: DataFrame, path: str) -> None:
    """Incremental ingest: assign a NEW batch against the index's OWN
    persisted ``_centroids`` and encode it against the OWN persisted
    ``_codebook`` (neither is recomputed, so codes and partitions stay
    consistent with every earlier batch), then append into the same
    centroid_id directories. An append-only job touching only the batch;
    probes see the new codes immediately through the unchanged layout.
    vec_id uniqueness across appends is the caller's contract."""
    from temporalvault_spark.operators.index_common import adopt_swapped
    from temporalvault_spark.operators.pq import fold_codebook_row

    spark = emb.sparkSession
    # adopt-on-read BEFORE the sidecar reads, like ivfpq_search/meta_row: an
    # append issued inside the rebuild's two-rename crash window must
    # self-repair, not fail path-not-found
    adopt_swapped(path)
    cents = spark.read.parquet(f"{path}/_centroids")
    cb_row = fold_codebook_row(spark.read.parquet(f"{path}/_codebook"))
    e = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == PQ_DIM)
    ).select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
    codes = pq_encode(assign_to_centroids_auto(e, cents), cb_row)
    (
        codes.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


# --- growth contract: occupancy probe + oracled retrain cycle ----------------
# The compressed sibling of ivf_index's contract (see that module's block
# comment): same detector (adaptive-k widening OR corpus-size drift past
# IVF_GROWTH_FACTOR), same slim one-aggregate probe, same atomic-swap
# retrain — with ONE structural difference: the index stores 8-byte codes,
# not vectors, so the retrain cannot self-source; the caller supplies the
# current corpus (at 100 TB the embeddings table the index was built from
# is the durable artifact; the index is derived). The retrain refreshes
# BOTH quantizers: the centroid set (at the union's adaptive k) and the
# PQ codebook (retrained over the union).

from temporalvault_spark.operators.ivf_index import (
    IVF_BASE_DUCK,
    IVF_GROWTH_FACTOR,
    _ivf_assign_duck,
    _occ_oracle as _ivf_occ_oracle,
)
from temporalvault_spark.operators.pq import _PQ_CODES_DUCK, _PQ_WHERE_DUCK
from temporalvault_spark.operators.similarity import N_CENTROIDS
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact, artifact_path


# THE one probe implementation lives in ivf_index.centroid_index_occupancy
# (both families' indexes are centroid-partitioned slim tables; vectors vs
# codes never enter the aggregate, so one body serves both — the review-pass
# dedup). ``grown`` here additionally means the persisted CODEBOOK is stale
# (trained on the build-time corpus), which the retrain refreshes alongside
# the centroid set.
from temporalvault_spark.operators.ivf_index import centroid_index_occupancy

ivfpq_index_occupancy = centroid_index_occupancy


def rebuild_ivfpq_index_if_grown(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    growth_factor: float = IVF_GROWTH_FACTOR,
) -> dict:
    """OPTIMIZE-style retrain (the rebuild_ivf_index_if_grown cadence):
    when the corpus has outgrown the persisted quantizers, fresh-build —
    new adaptive-k centroid set AND new codebook, both trained over
    ``emb`` (the CURRENT corpus; codes cannot reconstruct vectors, so the
    caller supplies it) — into a sibling directory and atomically swap.
    The rebuild oracle proves retrain-after-growth lands value-identical
    to a from-scratch build over the union."""
    from temporalvault_spark.operators.index_common import atomic_swap_rebuild

    rep = ivfpq_index_occupancy(spark, path, growth_factor)
    if not rep["grown"]:
        return {**rep, "rebuilt": False}
    atomic_swap_rebuild(path, lambda tmp: build_ivfpq_index(emb, tmp))
    return {**rep, "rebuilt": True}


# --- registered incremental scenario (benchable + oracled) --------------------
# Same base/batch split as the ivf scenario (keeps vec_id 0..15 in the base
# — BOTH the first-k centroid rule and the first-K codebook read those
# exact rows; see ivf_index's note).


def _pq_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temporalvault_spark.catalog import load_catalog

    return load_catalog(spark, sf_dir).table("embeddings")


def _pq_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_corpus(spark, sf_dir).filter(
        (F.col("vec_id") < N_CENTROIDS) | (F.col("vec_id") % 10 != 0)
    )


def _pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_corpus(spark, sf_dir).filter(
        (F.col("vec_id") >= N_CENTROIDS) & (F.col("vec_id") % 10 == 0)
    )


def _per_centroid_codes_readback(spark: SparkSession, path: str) -> DataFrame:
    """Per-centroid summary read FROM the persisted codes: membership
    (sum_vec) plus the code payload itself (code_sum — one integer fold
    over every 4-bit code that landed on disk, so the oracle value-checks
    the ENCODE step, not just the assignment)."""
    return (
        spark.read.parquet(path)
        .groupBy(F.col("centroid_id").cast("long").alias("centroid_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vec_id").alias("sum_vec"),
            F.sum(
                F.expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)")
            ).alias("code_sum"),
        )
    )


_PER_CENTROID_CODES_SELECT = """cs AS (
        SELECT vec_id, SUM(code) AS code_sum FROM codes GROUP BY 1)
    SELECT CAST(a.centroid_id AS BIGINT) AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(a.vec_id) AS BIGINT) AS sum_vec,
           CAST(SUM(cs.code_sum) AS BIGINT) AS code_sum
    FROM assign a JOIN cs USING (vec_id) GROUP BY 1"""

def stage_ivfpq_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build (once per application + embeddings fingerprint) the persisted
    IVF-PQ index over the base corpus. Returns the index path."""
    return artifact(
        spark, "ivfpq_idx", sf_dir, ("embeddings",),
        lambda tmp: build_ivfpq_index(_pq_base(spark, sf_dir), tmp),
        force,
    )


_BUILD_ORACLE = f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {_PQ_WHERE_DUCK}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")},
    {_PQ_CODES_DUCK},
    {_PER_CENTROID_CODES_SELECT}"""


@query("ivfpq_index_build", _BUILD_ORACLE)
def q_ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time IVF-PQ index build benched in isolation: force-rebuilds
    the staged index (assign + encode + centroid-partitioned codes write +
    three sidecars) and returns the per-centroid membership AND code-fold
    summary read back FROM disk — the oracle replays centroid selection,
    the cosine argmax, and the per-subspace argmin encode."""
    path = stage_ivfpq_index(spark, sf_dir, force=True)
    return _per_centroid_codes_readback(spark, path)


@query("ivfpq_index_occupancy", _ivf_occ_oracle(_PQ_WHERE_DUCK))
def q_ivfpq_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-contract occupancy PROBE over the staged IVF-PQ index —
    the ivf_index_occupancy shape over the codes table (the retrain is
    value-checked separately by ivfpq_index_rebuild). Both the Spark frame
    and the oracle are the SHARED renderings from ivf_index
    (occupancy_report_frame / _occ_oracle) parameterized only by the row
    filter — the two families' probes cannot drift."""
    from temporalvault_spark.operators.ivf_index import occupancy_report_frame

    return occupancy_report_frame(spark, stage_ivfpq_index(spark, sf_dir))


# Same tightened dial as the ivf rebuild scenario: the appended tenth is
# ~11% growth, so 1.05 trips at every graded scale factor while the k
# floor keeps the assignment on the exact (oracle-replayable) path.
_REBUILD_ORACLE = f"""WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {_PQ_WHERE_DUCK}),
    {_ivf_assign_duck("e")},
    {_PQ_CODES_DUCK},
    {_PER_CENTROID_CODES_SELECT}"""


@query("ivfpq_index_rebuild", _REBUILD_ORACLE)
def q_ivfpq_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ retrain cycle end-to-end: build a private index on the
    base corpus, append the held-out batch (growth against BOTH frozen
    quantizers), then rebuild_ivfpq_index_if_grown at the tightened dial
    with the full corpus as the retrain source. Returned per-centroid
    membership + code folds come from the REBUILT on-disk codes; the
    oracle's fresh replay over the union value-checks that
    retrain-after-growth is value-identical to a from-scratch build."""
    from temporalvault_spark.operators.ivf_index import IVF_REBUILD_GROWTH_FACTOR

    path = artifact_path(spark, "ivfpq_rebuild", sf_dir, ("embeddings",))
    build_ivfpq_index(_pq_base(spark, sf_dir), path)
    append_to_ivfpq_index(_pq_batch(spark, sf_dir), path)
    rebuild_ivfpq_index_if_grown(
        spark,
        path,
        _pq_corpus(spark, sf_dir),
        growth_factor=IVF_REBUILD_GROWTH_FACTOR,
    )
    return _per_centroid_codes_readback(spark, path)


# --- registered probe: the RECURRING compressed-domain search cost -------------

from temporalvault_spark.constants import SIM_PROBE_VEC_ID, SIM_TOP_K
from temporalvault_spark.operators.ivf_index import IVF_PROBE_NPROBE
from temporalvault_spark.operators.pq import _PQ_PROBE_DT_DUCK

_PQ_PROBE_ORACLE = f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {_PQ_WHERE_DUCK}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")},
    p AS (SELECT e FROM eall WHERE vec_id = {SIM_PROBE_VEC_ID}),
    pc AS (
        SELECT centroid_id FROM (
            SELECT c.centroid_id,
                   ROW_NUMBER() OVER (
                       ORDER BY list_dot_product(c.ce, p.e)
                                / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                c.centroid_id) AS crank
            FROM c CROSS JOIN p) x
        WHERE crank <= {IVF_PROBE_NPROBE}),
    {_PQ_CODES_DUCK},
    {_PQ_PROBE_DT_DUCK},
    av AS (SELECT vec_id,
                  list_reduce(list(dist ORDER BY sub), (a, b) -> a + b) AS adc_dist
           FROM (SELECT cd.vec_id, cd.sub, pd.dist
                 FROM codes cd
                 JOIN assign a ON cd.vec_id = a.vec_id
                 JOIN pc ON a.centroid_id = pc.centroid_id
                 JOIN pd ON cd.sub = pd.sub AND cd.code = pd.code) t
           GROUP BY vec_id)
    SELECT av.vec_id, e.label, CAST(a.centroid_id AS BIGINT) AS centroid_id,
           ROUND(av.adc_dist, 6) AS adc_dist
    FROM av JOIN e ON av.vec_id = e.vec_id
            JOIN assign a ON av.vec_id = a.vec_id
    ORDER BY av.adc_dist, av.vec_id LIMIT {SIM_TOP_K}"""


@query("ivfpq_index_probe", _PQ_PROBE_ORACLE)
def q_ivfpq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SIM_TOP_K} ADC probe of the staged persisted IVF-PQ index at
    nprobe={IVF_PROBE_NPROBE} — the recurring per-query cost (the
    ivf_index_probe twin in the compressed domain): centroid ranking and
    the 128-double distance table come from the tiny sidecars on the
    driver, then ONE partition-pruned scan of 8-byte codes with a literal
    table fold. The oracle replays assignment, the probe's ADC table, and
    the table-lookup ranking inside the probed clusters."""
    path = stage_ivfpq_index(spark, sf_dir)
    probe = (
        _pq_corpus(spark, sf_dir)
        .filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]  # bounded: one dim-sized row
    )
    res = ivfpq_search(
        spark, path, list(probe), k=SIM_TOP_K, nprobe=IVF_PROBE_NPROBE
    )
    return res.select(
        "vec_id", "label", F.col("centroid_id").cast("long").alias("centroid_id"),
        "adc_dist",
    )
