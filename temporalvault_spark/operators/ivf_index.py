"""Persisted IVF index: embeddings written partitioned BY cluster id, so an
ANN probe is a partition-pruned scan of nprobe/C of the corpus — the
disk-layout form of sim_ivf_ann's claim (similarity.py), and how
embedding search actually deploys on a data lake: the index build is a
one-time job, every probe after it reads only its clusters' directories.

The assignment RULE (argmax dot-product against the index's persisted
``_centroids`` sidecar) is the same one the oracle-checked sim_ivf_ann
uses, so a build is reproducible across engines given the same centroid
set. The default centroid SET, however, is the adaptive-k first-k
(adaptive_n_centroids: k = max(16, ceil(N/400))) — identical to
sim_ivf_ann's fixed N_CENTROIDS=16 only up to 16·400 vectors; beyond
that the index intentionally diverges to keep per-partition size (and
per-probe read) constant as the corpus grows. Probes always rank against
the sidecar, never a recomputed set, so index self-consistency holds at
every size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.concurrency import run_concurrent
from temporalvault_spark.constants import quant6
from temporalvault_spark.operators.index_common import quant6_sql
from temporalvault_spark.operators.similarity import (
    _dot,
    _norm,
    assign_to_centroids_auto,
)


def append_to_ivf_index(emb: DataFrame, path: str) -> None:
    """Incremental index ingest: assign a NEW batch of vectors against the
    index's OWN persisted centroids (the `_centroids` sidecar — never
    recomputed, so assignment stays consistent with every earlier batch)
    and append into the same centroid_id partition directories. An
    append-only job touching only the batch; probes see the new vectors
    immediately through the unchanged partition layout. vec_id uniqueness
    across appends is the caller's contract."""
    from temporalvault_spark.operators.index_common import adopt_swapped

    spark = emb.sparkSession
    # adopt-on-read BEFORE the sidecar read, like every other reader of this
    # index (ivf_search/meta_row): an append issued inside the rebuild's
    # two-rename crash window must self-repair, not fail path-not-found
    adopt_swapped(path)
    cents = spark.read.parquet(f"{path}/_centroids")
    # NULL-filter exactly as build_ivf_index does (and append_to_ivfpq_index
    # already did): an unfiltered NULL embedding argmax-assigns to the lowest
    # centroid, inflates the occupancy report, and silently VANISHES on the
    # next retrain (the rebuild re-filters) — review-pass finding
    e = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    (
        assign_to_centroids_auto(e, cents)
        .repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def build_ivf_index(emb: DataFrame, path: str, centroids: DataFrame | None = None) -> None:
    """One-time index build: assign every vector to its nearest centroid
    (the SAME shared assignment the oracle-checked queries use) and
    write partitioned by centroid_id, plus a tiny ``_centroids`` sidecar —
    underscore-prefixed so Spark's reader ignores it when scanning the index
    — holding the centroid vectors. Probes then never touch the main index
    outside their nprobe partitions. At corpus scale this is the single
    shuffle every subsequent probe amortizes.

    ``centroids`` defaults to the deterministic first-k set with ADAPTIVE k
    (adaptive_n_centroids: k = max(16, ceil(N/400)) — a fixed k would make
    partition size grow with the corpus and the per-probe read grow
    nprobe·N/k; adaptive k keeps both constant). Pass
    ``similarity.train_centroids(e, seed=...)`` for k-means-quality
    clusters — ivf_search works unchanged because probes rank whatever the
    sidecar holds."""
    from temporalvault_spark.operators.similarity import adaptive_n_centroids

    # NULL-filter BEFORE the count and the first-k selection (matching
    # build_ivfpq_index): a NULL embedding among vec_id < k would become a
    # centroid whose similarity is NULL against every vector
    e = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    n_built = e.count()
    if centroids is None:
        k = adaptive_n_centroids(n_built)
        centroids = e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
        )
    cents = centroids
    # growth-contract sidecar values (k = ACTUAL sidecar rows — a first-k
    # rule over a corpus missing low vec_ids yields fewer than k centroids,
    # and the occupancy math must divide by what probes actually rank
    # against). Counted BEFORE any write: an empty/fully-filtered corpus
    # fails FAST here instead of persisting a k=0 sidecar every later read
    # would misdiagnose as corrupted/future-format.
    k_meta = cents.count()  # bounded: the centroid frame is broadcast-sized
    if k_meta < 1:
        raise ValueError(
            f"build_ivf_index: no centroids selected for {path} — the "
            "corpus is empty after the NULL filter; nothing to index"
        )
    (
        assign_to_centroids_auto(e, cents, k=k_meta)
        .repartition("centroid_id")
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
            # JVM-native 1-row frame, the minhash_index._meta note
            lambda: e.sparkSession.range(0, 1, 1, 1)
            .select(
                F.lit(k_meta).cast("int").alias("k"),
                F.lit(n_built).cast("bigint").alias("n_built"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/_meta"),
        ]
    )


def _rank_centroids(cents: list, vec, nprobe: int) -> list:
    """THE driver-side centroid ranking (review-pass extraction: ivf_search
    and the indexed semantic-decontamination probe each had a copy of this
    float-parity-critical idiom). Sorted by -dot/norm with the centroid_id
    tie-break — the exact comparison sequence the DuckDB oracles replay
    (sequential-fold dot products, ** 0.5 == sqrt on the same double), so
    a change here desynchronizes every consumer at once, loudly, instead
    of one copy silently. Returns the top ``nprobe`` sidecar rows."""

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    return sorted(
        cents,
        key=lambda r: (
            -dot(r["ce"], vec) / (dot(r["ce"], r["ce"]) ** 0.5),
            r["centroid_id"],
        ),
    )[:nprobe]


def ivf_search(
    spark: SparkSession,
    index_path: str,
    probe_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the persisted index: rank centroids against the probe on the
    driver (C dot products — microscopic), then scan ONLY the nprobe best
    cluster partitions (`centroid_id IN (...)` prunes at the directory
    level; the plan's PartitionFilters is the proof) and brute-force top-k
    inside them."""
    from temporalvault_spark.operators.index_common import adopt_swapped

    # adopt-on-read swap recovery on the PROBE path too: a crash between
    # atomic_swap_rebuild's two renames leaves the complete old index at
    # path.old — without this, every probe fails until a maintenance call
    # happens to repair it (review-pass finding; the band families get this
    # through meta_row)
    adopt_swapped(index_path)
    idx = spark.read.parquet(index_path)
    # centroid ranking reads the sidecar, not the index — a filter on vec_id
    # over the main index would scan EVERY cluster partition just to find 16
    # rows, defeating the pruning this layout exists for. Ranked by the
    # centroid's own id (centroid_id in the sidecar), which is tie-safe.
    cents = spark.read.parquet(f"{index_path}/_centroids").collect()
    probe_clusters = [r["centroid_id"] for r in _rank_centroids(cents, probe_vec, nprobe)]

    p = F.array(*[F.lit(float(x)) for x in probe_vec])
    cos = _dot(F.col("e"), p) / (_norm(F.col("e")) * _norm(p))
    return (
        idx.filter(F.col("centroid_id").isin(probe_clusters))
        .withColumn("cosine", F.round(cos, 6))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "label", "centroid_id", "cosine")
    )


# --- growth contract: occupancy probe + oracled retrain cycle ----------------
#
# The five band-index families (minhash / rp-lsh / phash / afp / vfp) all
# carry an occupancy probe + atomic-swap rebuild; the centroid indexes were
# the one persisted family WITHOUT a maintenance contract (round-11 verdict
# #2): append growth skews cluster occupancy against the build-time
# centroid set and silently degrades recall — the per-probe read grows
# n_now/k while the centroids stay frozen at the build-time corpus.
# Detector: one slim aggregate over the index (cluster sizes + distinct
# vectors) against the persisted build-time size; ``grown`` when the corpus
# calls for more centroids than the sidecar holds (adaptive_n_centroids)
# OR has outgrown the build by IVF_GROWTH_FACTOR. Remedy: retrain — a
# fresh build over the deduplicated indexed vectors at the CURRENT
# adaptive k, atomically swapped in (the rp_lsh_index precedent), proven
# value-identical to never having grown at all by the rebuild oracle.

IVF_GROWTH_FACTOR = 2.0  # corpus-size drift (n_now / n_built) that triggers retrain


def _read_ivf_meta(spark: SparkSession, path: str) -> tuple[int, int]:
    """(k, n_built) from the index's ``_meta`` sidecar (meta_row: adopt-on-
    read swap recovery + mtime cache + torn-write detection). Validates the
    field invariants on read — a hand-edited or future-format sidecar would
    silently skew every growth decision."""
    from temporalvault_spark.operators.index_common import meta_row

    d = meta_row(spark, path)
    k, n_built = int(d.get("k", 0) or 0), int(d.get("n_built", 0) or 0)
    if k < 1 or n_built < 0:
        raise ValueError(
            f"ivf index at {path} has invalid _meta (k={k}, "
            f"n_built={n_built}) — corrupted or future-format index"
        )
    return k, n_built


def centroid_index_occupancy(
    spark: SparkSession, path: str, growth_factor: float = IVF_GROWTH_FACTOR
) -> dict:
    """THE one growth-contract probe for BOTH centroid-partitioned index
    families (ivf_index_occupancy and ivfpq_index_occupancy are thin
    aliases — one implementation, no drift): ONE aggregate over the
    index's slim columns (vec_id, centroid_id — vectors/codes are never
    folded) against the persisted build-time targets. Returns k / n_built
    (persisted), n_vecs / rows / max_cluster / n_clusters_used (measured),
    occupancy (rows per centroid) and skew (max cluster vs even split),
    the fresh adaptive target_k for the CURRENT size, and ``grown`` —
    True when the corpus now calls for more centroids than the sidecar
    holds or has outgrown the build-time size by ``growth_factor``."""
    from pyspark.errors import AnalysisException

    from temporalvault_spark.operators.similarity import adaptive_n_centroids

    k, n_built = _read_ivf_meta(spark, path)
    try:
        idx = spark.read.parquet(path)
    except AnalysisException as exc:
        # a zero-row index is buildable (explicit centroids over a fully
        # filtered corpus pass the k_meta fail-fast) and leaves NO data
        # files, so the scan fails schema inference — diagnose THAT error
        # class only (round-12 ADVICE); any other AnalysisException (torn
        # part files, conflicting schemas) is corruption, not emptiness,
        # and must surface as itself (round-13 review)
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        if cond != "UNABLE_TO_INFER_SCHEMA":
            raise
        raise ValueError(
            f"centroid index at {path} has no data rows — built over an "
            f"empty corpus; rebuild it with data before probing occupancy"
        ) from exc
    per = idx.groupBy("centroid_id").agg(
        F.count("*").alias("n"), F.count_distinct("vec_id").alias("nv")
    )
    row = per.agg(
        F.sum("n").alias("rows"),
        # assignment puts each vec_id in exactly one cluster, so the sum of
        # per-cluster distincts IS the global distinct — one shuffle total
        F.sum("nv").alias("n_vecs"),
        F.max("n").alias("max_cluster"),
        F.count("*").alias("n_clusters_used"),
    ).first()
    if row is None or row["n_vecs"] is None:
        # a zero-row index is buildable (explicit centroids over a fully
        # filtered corpus pass the k_meta fail-fast); the aggregate then
        # returns NULLs — diagnose it instead of a TypeError on int(None)
        raise ValueError(
            f"centroid index at {path} has no data rows — built over an "
            f"empty corpus; rebuild it with data before probing occupancy"
        )
    n_vecs = int(row["n_vecs"])
    target_k = adaptive_n_centroids(n_vecs)
    return {
        "k": k,
        "n_built": n_built,
        "n_vecs": n_vecs,
        "rows": int(row["rows"]),
        "max_cluster": int(row["max_cluster"]),
        "n_clusters_used": int(row["n_clusters_used"]),
        # constants.quant6 (half-up micro-units), NOT Python round(): round()
        # is banker's and diverges from the oracled frame on exact half-ULP
        # ties (the round-13 bucket_skew lesson; fixed here in round 14 when
        # every skew surface moved to the floor form — ADVICE r13 #1)
        "occupancy": quant6(row["rows"] / max(k, 1)),
        "skew": quant6(row["max_cluster"] * max(k, 1) / max(row["rows"], 1)),
        "target_k": target_k,
        "grown": target_k > k or n_vecs > growth_factor * n_built,
    }


# family-facing name (the rebuilds and tests call it per family)
ivf_index_occupancy = centroid_index_occupancy


def rebuild_ivf_index_if_grown(
    spark: SparkSession, path: str, growth_factor: float = IVF_GROWTH_FACTOR
) -> dict:
    """OPTIMIZE-style maintenance (the rebuild_rp_index_if_grown cadence):
    when ``ivf_index_occupancy`` says the corpus has outgrown the persisted
    centroid set, RETRAIN — re-read the indexed vectors (deduplicated by
    vec_id: a crash-replayed plain append may have duplicated rows; the
    rebuild compacts them), fresh-build at the CURRENT adaptive k into a
    sibling directory, and atomically swap it in, so probes never see a
    half-rebuilt index. The rebuild oracle (q_ivf_index_rebuild) proves
    retrain-after-growth lands value-identical to a from-scratch build
    over the union. Returns the occupancy report plus ``rebuilt``."""
    from temporalvault_spark.operators.index_common import atomic_swap_rebuild

    rep = ivf_index_occupancy(spark, path, growth_factor)
    if not rep["grown"]:
        return {**rep, "rebuilt": False}
    emb = (
        spark.read.parquet(path)
        .dropDuplicates(["vec_id"])
        .select("vec_id", "label", F.col("e").alias("embedding"))
        .localCheckpoint(eager=True)  # 3 actions follow; never re-read the old index
    )
    atomic_swap_rebuild(path, lambda tmp: build_ivf_index(emb, tmp))
    return {**rep, "rebuilt": True}


# --- registered incremental scenario (benchable + oracled) --------------------
# The production shape: a base corpus indexed ONCE, batches appended, the
# growth contract probed per maintenance tick, the retrain cycle proven
# value-identical to a from-scratch build. Base/batch split keeps vec_id
# 0..N_CENTROIDS-1 in the BASE (the first-k centroid rule — and the sibling
# ivfpq scenario's first-K codebook — both read those exact rows; a plain
# %10 split would drop vec_id 0 and 10 and leave the centroid set short).

from temporalvault_spark.operators.similarity import (
    EMB_STRICT_WHERE,
    EMB_TARGET_CLUSTER,
    N_CENTROIDS,
    _emb,
)
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact, artifact_path

IVF_BASE_DUCK = f"(vec_id < {N_CENTROIDS} OR vec_id % 10 <> 0)"


def _ivf_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).filter(
        (F.col("vec_id") < N_CENTROIDS) | (F.col("vec_id") % 10 != 0)
    )


def _ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).filter(
        (F.col("vec_id") >= N_CENTROIDS) & (F.col("vec_id") % 10 == 0)
    )


def _ivf_assign_duck(src: str) -> str:
    """DuckDB: adaptive-k first-k centroid selection + the argmax assignment
    over CTE ``src(vec_id, label, e)`` — the replay of adaptive_n_centroids
    + assign_to_centroids (the sim_ivf_ann oracle idiom), shared by the
    build / occupancy / rebuild oracles so the replayed rule cannot drift."""
    return f"""kk AS (SELECT GREATEST({N_CENTROIDS},
                     CAST(CEIL(COUNT(*) / {EMB_TARGET_CLUSTER}.0) AS BIGINT)) AS k
           FROM {src}),
    c AS (SELECT vec_id AS centroid_id, e AS ce FROM {src}, kk WHERE vec_id < kk.k),
    assign AS (
        SELECT vec_id, label, centroid_id FROM (
            SELECT a.vec_id, a.label, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY list_dot_product(a.e, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                      c.centroid_id) AS rn
            FROM {src} a CROSS JOIN c) x
        WHERE rn = 1)"""


def _per_centroid_readback(spark: SparkSession, path: str) -> DataFrame:
    """Per-centroid summary read FROM the persisted index — the oracles
    value-check what actually landed on disk, never an in-memory twin.
    sum_vec covers cluster MEMBERSHIP (which vectors), avg_label the
    payload columns riding along."""
    return (
        spark.read.parquet(path)
        .groupBy(F.col("centroid_id").cast("long").alias("centroid_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vec_id").alias("sum_vec"),
            F.round(F.avg("label"), 6).alias("avg_label"),
        )
    )


_PER_CENTROID_SELECT = """SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec,
           ROUND(AVG(label), 6) AS avg_label
    FROM assign GROUP BY 1"""

def stage_ivf_index(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Build (once per application + embeddings fingerprint — the
    stage_rp_index contract) the persisted IVF index over the base corpus.
    Returns the index path."""
    return artifact(
        spark, "ivf_idx", sf_dir, ("embeddings",),
        lambda tmp: build_ivf_index(_ivf_base(spark, sf_dir), tmp),
        force,
    )


_BUILD_ORACLE = f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")}
    {_PER_CENTROID_SELECT}"""


@query("ivf_index_build", _BUILD_ORACLE)
def q_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time IVF index build benched in isolation: force-rebuilds the
    staged index (centroid-partitioned write + _centroids/_meta sidecars)
    and returns the per-centroid membership summary read back FROM disk —
    the oracle replays adaptive-k first-k selection + the cosine argmax."""
    path = stage_ivf_index(spark, sf_dir, force=True)
    return _per_centroid_readback(spark, path)


# The RECURRING maintenance cost benched alone (the rp_index_occupancy
# note). The oracle replays the assignment, recomputes the slim aggregate,
# and replays BOTH growth rules — value-checking that the persisted _meta
# equals the build rule and that `grown` compares the two. ONE rendering
# parameterized by the row filter (the ivfpq twin interpolates
# _PQ_WHERE_DUCK — no drift between the families' oracles). k replays as
# the ACTUAL selected-centroid count (COUNT(*) FROM c), matching
# build_ivf_index's persisted k_meta = cents.count() — the adaptive
# formula's kk.k would diverge whenever a vec_id < k is missing from the
# corpus (the review-pass finding).
def _occ_oracle(where_duck: str) -> str:
    return f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {where_duck}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")},
    per AS (SELECT centroid_id, COUNT(*) AS n FROM assign GROUP BY 1),
    m AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                 CAST(MAX(n) AS BIGINT) AS max_cluster,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters_used
          FROM per),
    nv AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
                  CAST(COUNT(*) AS BIGINT) AS n_built
           FROM e),
    km AS (SELECT CAST(COUNT(*) AS INTEGER) AS k FROM c)
    SELECT m.n_rows, nv.n_vecs, m.max_cluster, m.n_clusters_used,
           km.k,
           nv.n_built,
           GREATEST({N_CENTROIDS},
                    CAST(CEIL(nv.n_vecs / {EMB_TARGET_CLUSTER}.0) AS BIGINT))
               AS target_k,
           {quant6_sql("m.n_rows / km.k")} AS occupancy,
           {quant6_sql("m.max_cluster * km.k / m.n_rows")} AS skew,
           (GREATEST({N_CENTROIDS},
                     CAST(CEIL(nv.n_vecs / {EMB_TARGET_CLUSTER}.0) AS BIGINT))
                > km.k)
           OR (nv.n_vecs > {IVF_GROWTH_FACTOR} * nv.n_built) AS grown
    FROM m, nv, km"""


_OCC_ORACLE = _occ_oracle(EMB_STRICT_WHERE)


def occupancy_report_frame(spark: SparkSession, path: str) -> DataFrame:
    """The registered occupancy probe as a 1-row DataFrame (the aggregate
    runs in Spark; the persisted _meta rides as literals) — ONE rendering
    shared by q_ivf_index_occupancy and q_ivfpq_index_occupancy, mirroring
    the shared _occ_oracle."""
    from temporalvault_spark.operators.index_common import quant6_col

    k, n_built = _read_ivf_meta(spark, path)
    per = (
        spark.read.parquet(path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"), F.count_distinct("vec_id").alias("nv"))
    )
    target_k = F.greatest(
        F.lit(N_CENTROIDS).cast("long"),
        F.ceil(F.col("n_vecs") / F.lit(float(EMB_TARGET_CLUSTER))).cast("long"),
    )
    return (
        per.agg(
            F.sum("n").alias("n_rows"),
            F.sum("nv").alias("n_vecs"),
            F.max("n").alias("max_cluster"),
            F.count("*").alias("n_clusters_used"),
        )
        .select(
            "n_rows",
            "n_vecs",
            "max_cluster",
            "n_clusters_used",
            F.lit(k).cast("int").alias("k"),
            F.lit(n_built).cast("bigint").alias("n_built"),
            target_k.alias("target_k"),
        )
        # quant6_col, not F.round: the floor form is bit-exact vs the oracle's
        # FLOOR(x*1e6+0.5)/1e6 and vs the dict probe's constants.quant6
        # (round-13 ADVICE #1 — ROUND left a 7th-decimal tie surface)
        .withColumn("occupancy", quant6_col(F.col("n_rows") / F.lit(k)))
        .withColumn(
            "skew", quant6_col(F.col("max_cluster") * F.lit(k) / F.col("n_rows"))
        )
        .withColumn(
            "grown",
            (F.col("target_k") > F.lit(k))
            | (F.col("n_vecs") > F.lit(IVF_GROWTH_FACTOR) * F.lit(n_built)),
        )
    )


@query("ivf_index_occupancy", _OCC_ORACLE)
def q_ivf_index_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-contract occupancy PROBE over the staged IVF index — the
    per-maintenance-tick cost at 100 TB (the retrain fires rarely; its
    correctness is value-checked separately by ivf_index_rebuild). One slim
    aggregate (vec_id/centroid_id, never the vectors) joined with the
    persisted _meta and the recomputed adaptive targets; at the production
    dial the staged base corpus sits inside the k floor and its own build
    size, so grown=false — the value-hash proves the persisted _meta equals
    the replayed build rule cross-engine."""
    return occupancy_report_frame(spark, stage_ivf_index(spark, sf_dir))


# The rebuild scenario tightens the growth dial so the contract actually
# FIRES at test scale (at the default 2.0 the appended tenth never trips
# it): build on the base corpus, append the held-out batch (~11% growth),
# then rebuild-if-grown at growth_factor=1.05. The oracle replays a FRESH
# build over the UNION — the value-hash match proves retrain-after-growth
# lands value-identical to never having grown at all.
IVF_REBUILD_GROWTH_FACTOR = 1.05

_REBUILD_ORACLE = f"""WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    {_ivf_assign_duck("e")}
    {_PER_CENTROID_SELECT}"""


@query("ivf_index_rebuild", _REBUILD_ORACLE)
def q_ivf_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain cycle end-to-end, benched as one query: build a private
    index on the base corpus, append the held-out batch (corpus growth
    against frozen centroids), then rebuild_ivf_index_if_grown at the
    tightened dial — the retrain re-reads the indexed vectors, re-selects
    first-k at the union's adaptive k, re-assigns, and atomically swaps.
    Returned per-centroid membership comes from the REBUILT on-disk index;
    the oracle's fresh-build replay over the union value-checks that
    retrain-after-growth is value-identical to a from-scratch build."""
    path = artifact_path(spark, "ivf_rebuild", sf_dir, ("embeddings",))
    build_ivf_index(_ivf_base(spark, sf_dir), path)
    append_to_ivf_index(_ivf_batch(spark, sf_dir), path)
    rebuild_ivf_index_if_grown(
        spark, path, growth_factor=IVF_REBUILD_GROWTH_FACTOR
    )
    return _per_centroid_readback(spark, path)


# --- registered probe: the RECURRING search cost over the staged index --------
# Completes the family symmetry with the band indexes (each has its
# dedup_*_incremental_probe): the one-time build and the maintenance tick
# are benched above; this is the per-query cost a deployment pays forever.

from temporalvault_spark.constants import SIM_PROBE_VEC_ID, SIM_TOP_K

IVF_PROBE_NPROBE = 4

_PROBE_ORACLE = f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")},
    p AS (SELECT e AS pe FROM eall WHERE vec_id = {SIM_PROBE_VEC_ID}),
    pc AS (
        SELECT centroid_id FROM (
            SELECT c.centroid_id,
                   ROW_NUMBER() OVER (
                       ORDER BY list_dot_product(c.ce, p.pe)
                                / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                c.centroid_id) AS crank
            FROM c CROSS JOIN p) x
        WHERE crank <= {IVF_PROBE_NPROBE})
    SELECT vec_id, label, centroid_id, cosine FROM (
        SELECT a.vec_id, a.label, CAST(a.centroid_id AS BIGINT) AS centroid_id,
               ROUND(list_dot_product(ev.e, p.pe)
                     / (sqrt(list_dot_product(ev.e, ev.e))
                        * sqrt(list_dot_product(p.pe, p.pe))), 6) AS cosine
        FROM assign a JOIN e ev ON ev.vec_id = a.vec_id CROSS JOIN p
        WHERE a.centroid_id IN (SELECT centroid_id FROM pc)) t
    ORDER BY cosine DESC, vec_id LIMIT {SIM_TOP_K}"""


@query("ivf_index_probe", _PROBE_ORACLE)
def q_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SIM_TOP_K} ANN probe of the staged persisted IVF index at
    nprobe={IVF_PROBE_NPROBE} — the recurring per-query cost, with the
    build amortized away (benched separately as ivf_index_build). The
    probe vector is the fixed SIM_PROBE_VEC_ID embedding (the
    sim_topk_cosine convention). The oracle replays centroid ranking,
    the directory prune (centroid IN), and the brute-force rounded-cosine
    top-k inside the probed clusters — value-checking the rows the
    PARTITION-PRUNED scan actually returns (PartitionFilters is asserted
    in tests/test_ivf_index.py)."""
    path = stage_ivf_index(spark, sf_dir)
    probe = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]  # bounded: one dim-sized row
    )
    res = ivf_search(
        spark, path, list(probe), k=SIM_TOP_K, nprobe=IVF_PROBE_NPROBE
    )
    return res.select(
        "vec_id", "label", F.col("centroid_id").cast("long").alias("centroid_id"),
        "cosine",
    )


# --- semantic decontamination over the PERSISTED index (round 14) -------------
# The production shape of similarity.decontaminate_semantic: at 100 TB the
# corpus assignment is not recomputed per benchmark suite — it IS the staged
# centroid-partitioned index, so each suite becomes one partition-pruned
# scan (the ivf_search idiom: rank centroids driver-side from the
# _centroids sidecar, prune to the union of probed clusters, score inside).
# Output is the FLAGGED set only (vec_id, max_cos, n_bench_hits) — the
# registered threshold yields nonzero rows at every sf (no vacuous-oracle
# trap; the all-rows diagnostic shape lives in decontaminate_semantic).

from temporalvault_spark.operators.similarity import (
    SEMDECON_BENCH_VECS,
    SEMDECON_THRESHOLD,
)

_SEMDECON_IDX_ORACLE = f"""WITH eall AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    e AS (SELECT * FROM eall WHERE {IVF_BASE_DUCK}),
    {_ivf_assign_duck("e")},
    bench AS (SELECT vec_id AS bench_id, e AS b FROM eall
              WHERE vec_id < {SEMDECON_BENCH_VECS}),
    pc AS (
        SELECT bench_id, b, centroid_id FROM (
            SELECT p.bench_id, p.b, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY p.bench_id
                                      ORDER BY list_dot_product(p.b, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                      c.centroid_id) AS crank
            FROM bench p CROSS JOIN c) x
        WHERE crank <= {IVF_PROBE_NPROBE}),
    cand AS (
        SELECT a.vec_id,
               list_dot_product(ev.e, pc.b)
               / (sqrt(list_dot_product(ev.e, ev.e))
                  * sqrt(list_dot_product(pc.b, pc.b))) AS cos
        FROM assign a
        JOIN e ev ON ev.vec_id = a.vec_id
        JOIN pc ON a.centroid_id = pc.centroid_id
        WHERE a.vec_id >= {SEMDECON_BENCH_VECS})
    SELECT vec_id, ROUND(MAX(cos), 6) AS max_cos,
           CAST(COUNT(CASE WHEN cos >= {SEMDECON_THRESHOLD} THEN 1 END) AS BIGINT)
               AS n_bench_hits
    FROM cand GROUP BY vec_id
    HAVING MAX(cos) >= {SEMDECON_THRESHOLD}"""


@query("decontaminate_semantic_indexed", _SEMDECON_IDX_ORACLE)
def q_decontaminate_semantic_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag staged-index vectors whose cosine vs any benchmark vector
    reaches {SEMDECON_THRESHOLD}, probing the PERSISTED IVF index: the
    benchmark suite and the centroid sidecar collect driver-side (both
    bounded — suites are small by nature, the sidecar is k rows), each
    benchmark vector ranks its {IVF_PROBE_NPROBE} nearest centroids in the
    driver (the ivf_search idiom, oracle-proven bit-identical ranking),
    and ONE scan reads only the union of probed cluster partitions
    (PartitionFilters — the per-suite cost at 100 TB is |probed|/k of the
    corpus, not a full pass). Candidates score with the sequential-fold
    cosine; the oracle replays assignment, per-bench probe ranking, the
    prune, and the flagged aggregate end-to-end."""
    from temporalvault_spark.operators.index_common import adopt_swapped

    path = stage_ivf_index(spark, sf_dir)
    adopt_swapped(path)
    cents = spark.read.parquet(f"{path}/_centroids").collect()  # bounded: k rows
    bench_rows = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < SEMDECON_BENCH_VECS)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("b"))
        .collect()  # bounded: benchmark suites are small (50 here)
    )

    probes = []
    for br in bench_rows:
        for r in _rank_centroids(cents, br["b"], IVF_PROBE_NPROBE):
            probes.append(
                (int(br["vec_id"]), [float(x) for x in br["b"]], int(r["centroid_id"]))
            )
    pc = spark.createDataFrame(
        probes, "bench_id bigint, b array<double>, centroid_id bigint"
    )
    pruned = sorted({p[2] for p in probes})
    idx = (
        spark.read.parquet(path)
        .filter(F.col("centroid_id").isin(pruned))  # partition-pruned scan
        .filter(F.col("vec_id") >= SEMDECON_BENCH_VECS)
        .select("vec_id", "e", "centroid_id")
    )
    cos = _dot(F.col("e"), F.col("b")) / (_norm(F.col("e")) * _norm(F.col("b")))
    cand = idx.join(F.broadcast(pc), "centroid_id").select("vec_id", cos.alias("cos"))
    return (
        cand.groupBy("vec_id")
        .agg(
            F.max("cos").alias("mc"),
            F.count(F.when(F.col("cos") >= F.lit(SEMDECON_THRESHOLD), 1))
            .cast("bigint")
            .alias("n_bench_hits"),
        )
        .filter(F.col("mc") >= F.lit(SEMDECON_THRESHOLD))
        .select("vec_id", F.round("mc", 6).alias("max_cos"), "n_bench_hits")
    )
