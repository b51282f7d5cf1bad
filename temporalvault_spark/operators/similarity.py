"""Similarity search over the embeddings table + sketch-based near-dup
(SURVEY.md §2.11-2.12).

Three tiers, mirroring how ANN is actually deployed on Spark:
  1. ``sim_topk_cosine`` — brute-force exact top-k, pure JVM builtins
     (zip_with/aggregate). The baseline every ANN variant is measured against.
  2. ``sim_ivf_ann`` — IVF-style two-stage search: assign vectors to fixed
     centroids once (an O(N·C) pass), probe only the nearest clusters.
     At 100 TB the cluster id is a partition/bucket column, so a probe reads
     nprobe/C of the data — that's the scale path.
  3. ``sim_topk_cosine_pandas`` — the same exact top-k as an Arrow-batched
     Pandas UDF (NumPy matmul): the pattern to use once vectors are wide
     enough that JVM per-element folds lose to BLAS. Rows-only check (same
     semantics as #1, which IS oracle-checked).

Near-dup sketches: ``dedup_minhash`` (k=8 md5 one-permutation signature,
matching-slices/k estimator — hash-checked oracle since round 4),
``dedup_simhash`` (60-bit simhash from md5 token hashes, value-hash oracle),
and supplementary ``dedup_minhash_ml`` (Spark ML MinHashLSH — rows-only,
since DuckDB can't replay Spark-ML's seeded hash families).

Pair-join blocking (embedding cosine / SemDeDup) uses ADAPTIVE centroid
counts (adaptive_n_centroids) so cluster sizes — and with them the
sum(cluster²) candidate fan-out — stay constant as the corpus grows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.constants import SIM_PROBE_VEC_ID, SIM_TOP_K, quant6
from temporalvault_spark.registry import query


def _emb(spark: SparkSession, sf_dir: str, strict: bool = True) -> DataFrame:
    """Embeddings for the similarity operators. ``strict`` (default) drops
    NULL and zero-norm vectors at the scan: cosine similarity is undefined
    for them, and under ANSI mode ONE such row otherwise aborts the whole
    job with DIVIDE_BY_ZERO (found by the edge-row sweep). Every cosine
    oracle carries the identical WHERE so both engines see the same rows.
    Operators with well-defined zero-vector semantics (int8 quantization)
    pass strict=False."""
    e = load_catalog(spark, sf_dir).table("embeddings")
    if strict:
        zero = F.aggregate(
            F.transform("embedding", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
        e = e.filter(F.col("embedding").isNotNull() & (zero > 0))
    return e


# the oracle-side twin of _emb's strict filter (DuckDB)
EMB_STRICT_WHERE = (
    "WHERE embedding IS NOT NULL "
    "AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"
)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


# Per-dimension sums (PCA mean/update, Lloyd mean update, ABTT's centered
# dots) run UNROLLED — dim separate column expressions — at or below this
# dim, and as array folds / posexplode partial aggregates above it. The
# unrolled form generates O(dim) expression nodes: at production embedding
# dims (768–1536) that crosses Janino's 64KB generated-method limit, falls
# back to interpreted execution, and bloats the plan into a
# multi-thousand-node tree — and MEASUREMENT (SCALE.md round 13) shows the
# fold forms are faster at EVERY dim, 64 included (pca 4.9s→1.45s, abtt
# 9.2s→2.6s, lloyd 5.9s→4.3s at N=200k dim=64; the dim-wide aggregate
# needs dim aggregation buffers and a dim-wide plan, while
# posexplode→groupBy(pos) partially aggregates map-side and collects dim
# rows). So the default is 0: fold always. The unrolled twin is KEPT as an
# independently-written implementation of the same sums — the module's
# differential-twin pattern — and tests/test_dim_gate.py pins both paths
# to identical quantized results at dim 64 (oracled) and dim 512. The two
# may differ in the last ULP (summation/partial-merge order, exactly like
# Spark-vs-DuckDB), which the module's micro-unit / ROUND(6) quantization
# absorbs; the fold path is hash-green against DuckDB at sf0.01 AND sf0.1
# for all four riding queries (embed_pca_power, embed_abtt_topk,
# cluster_kmeans_lloyd, corpus_cluster_sample).
DIM_UNROLL_MAX = 0


def _tree_sum(terms):
    """Balanced pairwise sum of Column terms for the UNROLLED twin paths:
    Python's sum() builds a left-deep chain whose analyzer recursion depth
    is O(dim) — a dim-512 chain intermittently overflows the JVM thread
    stack during analysis (StackOverflowError on withColumn, seen in the
    differential tests). Pairwise reduction is O(log dim) deep. The
    summation ORDER changes in the low bits, which every comparison the
    twins participate in absorbs at the module's ROUND(6)/micro-unit
    quantization — the same tolerance that already covers DuckDB's own
    summation order."""
    t = list(terms)
    if not t:
        return F.lit(0.0)
    while len(t) > 1:
        t = [
            t[i] + t[i + 1] if i + 1 < len(t) else t[i]
            for i in range(0, len(t), 2)
        ]
    return t[0]


def _mean_vector(e: DataFrame, dim: int) -> tuple[list, int]:
    """(per-dimension mean, row count) of an (e array<double>) frame —
    dim-gated. Unrolled: one aggregate of dim AVG columns. Fold: posexplode
    → groupBy(pos) with map-side partial aggregation (shuffle volume =
    partitions × dim partial rows; collect = dim rows, bounded)."""
    if dim <= DIM_UNROLL_MAX:
        row = e.agg(
            *[F.avg(F.col("e")[j]).alias(f"m{j}") for j in range(dim)],
            F.count("*").alias("n"),
        ).first()
        return [float(row[f"m{j}"]) for j in range(dim)], int(row["n"])
    rows = (
        e.select(F.posexplode("e").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("m"))
        .collect()  # bounded: dim rows
    )
    # a ragged/truncated frame must fail LOUDLY like the unrolled twin
    # (whose avg(e[j]) returns NULL -> TypeError), not fabricate 0.0 cells
    # for positions no array reached (round-13 review, pass 2)
    if len(rows) != dim:
        raise ValueError(
            f"_mean_vector: arrays cover {len(rows)} positions but the "
            f"frame's first row has dim {dim} — ragged or truncated arrays"
        )
    m = [0.0] * dim
    for r in rows:
        m[int(r["pos"])] = float(r["m"])
    # n from the FRAME, not the exploded per-pos counts: posexplode drops
    # rows whose array is NULL, so a per-pos count would silently diverge
    # from the unrolled twin's COUNT(*) on frames with NULL vectors
    # (round-13 review) — one extra bounded action keeps the two gated
    # paths value-identical on every input, not just strict-filtered ones
    return m, e.count()


def cosine_scores(emb: DataFrame, probe: DataFrame) -> DataFrame:
    """score(vec, probe) for every vector: one broadcast of the 1-row probe,
    one codegen'd projection — the fact side never shuffles.

    Norm hoisting (the module-wide pattern): Spark evaluates higher-order
    array folds INTERPRETED (no codegen), so every fold per row matters.
    The probe's norm is folded once on the broadcast side instead of once
    per corpus row — the value is the same fold over the same array, so
    scores stay bit-identical to the inline form the oracle replays."""
    e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
    p = probe.select(F.col("embedding").cast("array<double>").alias("p")).withColumn(
        "pn", _norm(F.col("p"))
    )
    return e.crossJoin(F.broadcast(p)).select(
        "vec_id",
        "label",
        (_dot(F.col("e"), F.col("p")) / (_norm(F.col("e")) * F.col("pn"))).alias("cosine"),
    )


_DUCK_COS = (
    "list_dot_product(a.e, p.e) / (sqrt(list_dot_product(a.e, a.e)) * "
    "sqrt(list_dot_product(p.e, p.e)))"
)


@query(
    "sim_topk_cosine",
    f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        p AS (SELECT e FROM e WHERE vec_id = {SIM_PROBE_VEC_ID})
    SELECT a.vec_id, a.label, ROUND({_DUCK_COS}, 6) AS cosine
    FROM e a CROSS JOIN p
    ORDER BY {_DUCK_COS} DESC, a.vec_id LIMIT {SIM_TOP_K}""",
)
def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine vs a fixed probe vector. Dot products fold
    sequentially in double precision in both engines → bit-stable scores;
    the LIMIT plans as TakeOrderedAndProject (per-partition top-k, k-row
    driver merge — no total sort at any scale)."""
    emb = _emb(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
    scored = cosine_scores(emb, probe)
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(SIM_TOP_K)
        .select("vec_id", "label", F.round("cosine", 6).alias("cosine"))
    )


N_CENTROIDS = 16
N_PROBE_CLUSTERS = 4


def centroid_frame(e: DataFrame) -> DataFrame:
    """The deterministic fixed-centroid set: the first N_CENTROIDS vectors
    (a reproducible stand-in for k-means so the DuckDB oracle can replay
    assignment bit-for-bit)."""
    return e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )


def train_centroids(
    e: DataFrame, k: int = N_CENTROIDS, seed: int = 42, max_iter: int = 20
) -> DataFrame:
    """k-means||-trained centroids as a (centroid_id, ce) frame — the
    production alternative to the fixed first-N stand-in (centroid_frame,
    which exists so the DuckDB oracle can replay assignment). Seeded, so the
    build is reproducible; distributed (pyspark.ml.KMeans), so training a
    100 TB corpus' centroids is the same job as here. Feed the result to
    assign_to_centroids / build_ivf_index via their ``centroids`` arg."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = e.select(array_to_vector(F.col("e").cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, initMode="k-means||").fit(feats)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return e.sparkSession.createDataFrame(rows, "centroid_id bigint, ce array<double>")


def assign_to_centroids(e: DataFrame, centroids: DataFrame | None = None) -> DataFrame:
    """Nearest-centroid assignment for every vector — THE one implementation
    (q_sim_ivf_ann, embedding_cosine_pairs, and the persisted ivf_index all
    call it, so the tie-break and norm scaling can never drift between the
    oracle-checked forms and the on-disk index). Similarity uses only
    centroid-norm scaling (the vector's own norm is constant within its
    argmax); ties break toward the lower centroid_id.

    Shuffle-free: the centroid set folds into ONE row holding an
    array<struct<centroid_id, ce>> that broadcasts to every partition; the
    argmax over the 16 candidates is then a single projection
    (transform + array_max with centroid_id negated so equal sims pick the
    LOWER id, matching the oracle's ORDER BY sim DESC, centroid_id ASC).
    The vector side never exchanges — no N x C row blow-up, no
    row_number window shuffle (that earlier form shuffled N x 16 rows just
    to take a 16-way argmax).

    ``centroids`` defaults to the fixed oracle-replayable set; pass a
    train_centroids frame for k-means assignment (same argmax, same
    tie-break). Centroid norms are folded ONCE into the broadcast struct
    (not per vector x centroid — array folds are interpreted, so that
    factor-C saving is real); same fold, same value, bit-identical argmax."""
    cent_row = (
        (centroids if centroids is not None else centroid_frame(e))
        .withColumn("cn", _norm(F.col("ce")))
        .agg(F.array_sort(F.collect_list(F.struct("centroid_id", "ce", "cn"))).alias("cents"))
    )
    return (
        e.crossJoin(F.broadcast(cent_row))
        .withColumn("centroid_id", -F.array_max(_argmax_scored())["neg_cid"])
        .drop("cents")
    )


def _py_norm(vec) -> float:
    """Driver-side twin of ``_norm`` for LITERAL centroid arrays: the
    identical left-to-right fold (one multiply then one add per element,
    exactly _dot's aggregate order — no FMA fusing on either side) then
    sqrt. IEEE-754 doubles with the
    same op sequence are bit-identical across Python, the JVM, and DuckDB,
    so a literal cn equals the engine-folded cn bit-for-bit —
    tests/test_dim_gate.py pins the full-assignment equality on the real
    corpus."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


# Literal-centroid plan-size guard: ~16k doubles ≈ a few hundred KB of
# analyzed plan and ~16k py4j Column constructions (<1s) — comfortably
# above every in-repo caller (kmeans k=8 · dim=64 = 512) and well below
# the multi-MB plans that stall the optimizer.
LOCAL_CENTROID_LIT_MAX = 16_384


def assign_to_local_centroids(e: DataFrame, cent_local: dict) -> DataFrame:
    """assign_to_centroids for a DRIVER-LOCAL centroid dict (kmeans_lloyd's
    per-round state): the centroid array becomes a LITERAL expression
    instead of a parallelize → collect_list-agg → broadcast round trip, so
    each Lloyd round drops one broadcast-build job and its plan subtree
    (guide §1.2 step 2 / §5 driver work; measured: iteration
    assign+mean-collect 0.95s → 0.82s at sf0.1, means bit-identical).
    Same ``_argmax_scored`` expression, same lower-id tie-break; ``cn`` is
    the bit-identical driver-side fold (``_py_norm``).

    SIZE BOUND (r14 advice): this builds O(k·dim) ``F.lit`` Columns (one
    py4j round trip each) and embeds k·dim doubles in the analyzed plan —
    fine at kmeans_lloyd's k=8/dim=64 (512 literals), but plan-construction
    cost and plan size grow linearly, the same plan-bloat class
    DIM_UNROLL_MAX=0 exists to avoid. Callers with k·dim beyond
    LOCAL_CENTROID_LIT_MAX should use ``assign_to_centroids`` (the
    broadcast path, value-identical — tests/test_dim_gate.py pins the
    equality) instead; this function raises rather than silently building
    a multi-second plan."""
    n_lit = sum(len(vec) for vec in cent_local.values()) + 2 * len(cent_local)
    if n_lit > LOCAL_CENTROID_LIT_MAX:
        raise ValueError(
            f"assign_to_local_centroids: {n_lit} literals exceeds "
            f"LOCAL_CENTROID_LIT_MAX={LOCAL_CENTROID_LIT_MAX}; use "
            "assign_to_centroids (broadcast path) for large k*dim"
        )
    lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("bigint").alias("centroid_id"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("ce"),
                F.lit(_py_norm(vec)).alias("cn"),
            )
            for cid, vec in sorted(cent_local.items())
        ]
    )
    return (
        e.withColumn("cents", lit)
        .withColumn("centroid_id", -F.array_max(_argmax_scored())["neg_cid"])
        .drop("cents")
    )


def _argmax_scored(col: str = "cents"):
    """The shared argmax expression over a centroid array column
    (array<struct<centroid_id, ce, cn>>) against the row's ``e``: max
    similarity, ties toward the LOWER centroid_id (negated id under
    array_max). One definition — the brute-force and two-level paths
    cannot drift."""
    return F.transform(
        F.col(col),
        lambda c: F.struct(
            (_dot(F.col("e"), c["ce"]) / c["cn"]).alias("csim"),
            (-c["centroid_id"]).alias("neg_cid"),
        ),
    )


def assign_to_centroids_auto(
    e: DataFrame, centroids: DataFrame, k: int | None = None
) -> DataFrame:
    """Strategy-switched assignment for INDEX BUILDS (ivf_index,
    ivfpq_index): exact brute-force argmax while the centroid set is small
    (every oracled/graded path — k=16 there), the two-level
    coarse-quantized form above TWO_LEVEL_MIN_K where N·k trends
    quadratic. ``k`` skips the centroid count when the caller already
    knows it. Probes always rank against whatever the index's sidecar
    holds, so index self-consistency is unaffected by the switch; the
    recall contract is the two-level docstring's."""
    if k is None:
        k = centroids.count()  # bounded: the centroid frame is broadcast-sized
    fn = assign_to_centroids_2level if k > TWO_LEVEL_MIN_K else assign_to_centroids
    return fn(e, centroids)


def assign_to_centroids_2level(
    e: DataFrame, centroids: DataFrame, k1: int | None = None, nprobe: int = 4
) -> DataFrame:
    """Two-level (coarse-quantized) nearest-centroid assignment: the scale
    path for adaptive-k consumers, where brute-force argmax is N·k dots =
    N²/target — measured super-linear (exponent 1.10 at 20k→200k vectors;
    SCALE.md round 9) precisely BECAUSE the occupancy-constant rule grows k
    with N.

    Level 1: the √k lowest-id centroids form the coarse set; every FINE
    centroid is brute-force-assigned to its nearest coarse centroid (k·√k
    dots — centroid-sized, negligible). Level 2: each vector brute-forces
    the coarse set (N·√k dots), then argmaxes only its coarse cell's fine
    centroids (expected N·k/√k = N·√k dots) via the SAME argmax expression
    as the exact path. Total ~2N·√k = N^1.5/√target — the standard IVF
    coarse-quantizer trick.

    Approximation contract: a vector whose true nearest fine centroid
    lives outside its ``nprobe`` best coarse cells gets its probed-cells
    best instead — the same recall-by-blocking contract as adaptive-k
    itself (pairs are cluster-local either way); crafted-cluster
    equivalence and the skew consequence are pinned in
    tests/test_llm_dedup.py. ``nprobe=4`` (standard IVF multi-probe) is
    the skew guard: with a single probed cell the cell-restricted choice
    measurably concentrated assignments (max cluster 3514 vs 528 exact on
    the 200k decorrelated-replica stress; SCALE.md round 9) — probing 4
    cells restores near-exact balance (fan-out within 10% of exact, max
    cluster 1100) at ~4x the (still √k-sized) fine cost, assignment net
    3.6x faster than brute-force at 200k and asymptotically N^1.5 vs N².
    A vector whose probed cells hold no fine centroids (possible
    only under duplicate centroid vectors stealing a coarse centroid's
    self-assignment) falls back to its best coarse centroid id — coarse ⊆
    fine, so that is always a valid assignment."""
    import math as _math

    cents = centroids.withColumn("cn", _norm(F.col("ce")))
    k = cents.count()  # bounded: the centroid frame is broadcast-sized
    if k1 is None:
        k1 = max(1, _math.ceil(_math.sqrt(k)))
    nprobe = max(1, min(nprobe, k1))
    # the coarse set = the k1 lowest centroid ids (deterministic, and each
    # coarse centroid is also a fine centroid)
    coarse_as_cents = cents.orderBy("centroid_id").limit(k1).select(
        "centroid_id", "ce"
    )
    # fine -> coarse map (k rows), via the exact assigner (nearest ONE
    # coarse cell — cells stay a partition of the fine set)
    f2c = assign_to_centroids(
        cents.select(F.col("centroid_id").alias("fine_id"), F.col("ce").alias("e")),
        coarse_as_cents,
    ).select("fine_id", F.col("centroid_id").alias("coarse_id"))
    # per-cell fine-centroid arrays (≤ k rows total across cells)
    cells = (
        cents.join(F.broadcast(f2c), cents["centroid_id"] == f2c["fine_id"])
        .groupBy("coarse_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("centroid_id", "ce", "cn"))).alias(
                "cell_cents"
            )
        )
    )
    # vectors: coarse scoring against the broadcast coarse array, keep the
    # nprobe best cells (descending sim, ties toward lower id — the same
    # order the exact argmax uses)
    coarse_row = coarse_as_cents.withColumn("cn", _norm(F.col("ce"))).agg(
        F.array_sort(F.collect_list(F.struct("centroid_id", "ce", "cn"))).alias("cents")
    )
    top = F.slice(F.reverse(F.array_sort(_argmax_scored())), 1, nprobe)
    v = (
        e.crossJoin(F.broadcast(coarse_row))
        .withColumn("probes", F.transform(top, lambda s: -s["neg_cid"]))
        .drop("cents")
    )
    # nprobe broadcast joins, one per probed cell; candidate array = the
    # concat of the probed cells' (disjoint) fine sets
    cand = F.array()
    for i in range(nprobe):
        ci = cells.select(
            F.col("coarse_id").alias(f"p{i}"), F.col("cell_cents").alias(f"cc{i}")
        )
        v = v.join(
            F.broadcast(ci),
            F.element_at(F.col("probes"), i + 1) == F.col(f"p{i}"),
            "left",
        ).drop(f"p{i}")
        cand = F.concat(cand, F.coalesce(F.col(f"cc{i}"), F.array()))
    v = v.withColumn("cand", cand).drop(*[f"cc{i}" for i in range(nprobe)])
    return (
        v.withColumn(
            "centroid_id",
            # NULL vectors stay NULL (the exact path's behavior — callers
            # coalesce to -1); the probes[1] fallback covers empty cells
            F.when(
                F.col("e").isNotNull(),
                F.coalesce(
                    -F.array_max(_argmax_scored("cand"))["neg_cid"],
                    F.element_at(F.col("probes"), 1),
                ),
            ),
        )
        .drop("cand", "probes")
    )


@query(
    "sim_ivf_ann",
    f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        c AS (SELECT vec_id AS centroid_id, e FROM e WHERE vec_id < {N_CENTROIDS}),
        assign AS (
            SELECT vec_id, label, e, centroid_id FROM (
                SELECT a.vec_id, a.label, a.e, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                          ORDER BY list_dot_product(a.e, c.e)
                                                   / sqrt(list_dot_product(c.e, c.e)) DESC,
                                                   c.centroid_id) AS rn
                FROM e a CROSS JOIN c) x
            WHERE rn = 1),
        p AS (SELECT e FROM e WHERE vec_id = {SIM_PROBE_VEC_ID}),
        probe_clusters AS (
            SELECT centroid_id FROM (
                SELECT c.centroid_id,
                       ROW_NUMBER() OVER (ORDER BY list_dot_product(p.e, c.e)
                                                   / sqrt(list_dot_product(c.e, c.e)) DESC,
                                          c.centroid_id) AS rn
                FROM c CROSS JOIN p) x
            WHERE rn <= {N_PROBE_CLUSTERS})
    SELECT a.vec_id, a.label, a.centroid_id, ROUND({_DUCK_COS}, 6) AS cosine
    FROM assign a
    JOIN probe_clusters pc ON a.centroid_id = pc.centroid_id
    CROSS JOIN p
    ORDER BY {_DUCK_COS} DESC, a.vec_id LIMIT {SIM_TOP_K}""",
)
def q_sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate NN: deterministic fixed centroids (the first
    {N_CENTROIDS} vectors — a stand-in for k-means so the oracle can replay
    it), nearest-centroid assignment, search only the probe's
    {N_PROBE_CLUSTERS} best clusters. The centroid set broadcasts; at scale
    the assignment is precomputed + partitioned-by, turning a probe into a
    partition-pruned scan."""
    emb = _emb(spark, sf_dir)
    e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
    cent = centroid_frame(e)
    assign = assign_to_centroids(e).select("vec_id", "label", "e", "centroid_id")
    probe = (
        e.filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
        .select(F.col("e").alias("pe"))
        .withColumn("pn", _norm(F.col("pe")))  # folded once, not per corpus row
    )
    probe_clusters = (
        cent.crossJoin(F.broadcast(probe))
        .withColumn("psim", _dot(F.col("pe"), F.col("ce")) / _norm(F.col("ce")))
        .orderBy(F.desc("psim"), F.asc("centroid_id"))
        .limit(N_PROBE_CLUSTERS)
        .select("centroid_id")
    )
    cos = _dot(F.col("e"), F.col("pe")) / (_norm(F.col("e")) * F.col("pn"))
    return (
        assign.join(F.broadcast(probe_clusters), "centroid_id")
        .crossJoin(F.broadcast(probe))
        .withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(SIM_TOP_K)
        .select("vec_id", "label", "centroid_id", F.round("cosine", 6).alias("cosine"))
    )


KNN_N_PROBES = 8
KNN_K = 5


def knn_join(emb: DataFrame, probes: DataFrame, k: int = KNN_K) -> DataFrame:
    """Exact k-NN join: for every probe vector, its k nearest neighbors in
    ``emb`` by cosine (self excluded), with a dense 1..k rank.

    Shape: the probe set broadcasts (it is the small side by construction —
    a query batch, not the corpus); the corpus side never shuffles to score.
    The per-probe top-k is a rank-filter window, which Spark ≥3.5 plans as
    WindowGroupLimit: each scan partition keeps only its local top-k per
    probe BEFORE the exchange, so the shuffle carries ≤ k·partitions slim
    (probe_id, vec_id, cosine) rows — not N·|probes| — and that bound is
    independent of corpus size."""
    from pyspark.sql import Window

    # norms fold once per side, not once per (vector x probe) pair — the
    # same folds over the same arrays, so cosines are bit-identical
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("na", _norm(F.col("e")))
    p = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").cast("array<double>").alias("p")
    ).withColumn("pn", _norm(F.col("p")))
    cos = _dot(F.col("e"), F.col("p")) / (F.col("na") * F.col("pn"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


@query(
    "knn_join",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        p AS (SELECT vec_id AS probe_id, e AS p FROM e WHERE vec_id < {KNN_N_PROBES})
    SELECT probe_id, neighbor_id, rank, cosine FROM (
        SELECT p.probe_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY list_dot_product(a.e, p.p)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(p.p, p.p))) DESC,
                            a.vec_id) AS rank,
               ROUND(list_dot_product(a.e, p.p)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(p.p, p.p))), 6) AS cosine
        FROM e a CROSS JOIN p
        WHERE a.vec_id != p.probe_id) t
    WHERE rank <= {KNN_K}""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return knn_join(emb, emb.filter(F.col("vec_id") < KNN_N_PROBES))


def knn_join_ivf(
    emb: DataFrame, probes: DataFrame, k: int = KNN_K, nprobe: int = N_PROBE_CLUSTERS
) -> DataFrame:
    """IVF-accelerated approximate k-NN join: each probe searches only its
    ``nprobe`` nearest clusters instead of the whole corpus — the batched
    form of sim_ivf_ann, and the join every embedding-heavy pipeline stage
    (SemDeDup seeding, hard-negative mining, corpus-vs-corpus retrieval)
    actually runs at scale, where exact knn_join's full cross product is
    unaffordable.

    Shape: corpus cluster assignment is the shuffle-free broadcast argmax
    (assign_to_centroids); the (probe, cluster) candidate list — |probes| x
    nprobe slim rows — broadcasts against the assignment, so scoring becomes
    an equi-join on centroid_id touching ~nprobe/C of the corpus. At 100 TB
    the assignment is precomputed and PARTITIONED BY centroid_id (see
    ivf_index.py), turning each probe batch into a partition-pruned scan.
    The per-probe top-k is the same WindowGroupLimit bound as knn_join.
    Recall is cluster-local by contract (a true neighbor assigned to an
    unprobed cluster is missed) — the standard IVF trade, tuned via nprobe."""
    from pyspark.sql import Window

    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    assign = assign_to_centroids(e).withColumn("na", _norm(F.col("e")))
    p = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").cast("array<double>").alias("p")
    ).withColumn("pn", _norm(F.col("p")))
    cents = centroid_frame(e)
    w_pc = Window.partitionBy("probe_id").orderBy(F.desc("psim"), F.asc("centroid_id"))
    probe_clusters = (
        p.crossJoin(F.broadcast(cents))
        .withColumn("psim", _dot(F.col("p"), F.col("ce")) / _norm(F.col("ce")))
        .withColumn("crank", F.row_number().over(w_pc))
        .filter(F.col("crank") <= nprobe)
        .select("probe_id", "p", "pn", "centroid_id")
    )
    cos = _dot(F.col("e"), F.col("p")) / (F.col("na") * F.col("pn"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        assign.join(F.broadcast(probe_clusters), "centroid_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("centroid_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "neighbor_id",
            "centroid_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


@query(
    "knn_join_ivf",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        c AS (SELECT vec_id AS centroid_id, e AS ce FROM e WHERE vec_id < {N_CENTROIDS}),
        assign AS (
            SELECT vec_id, e, centroid_id FROM (
                SELECT a.vec_id, a.e, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                          ORDER BY list_dot_product(a.e, c.ce)
                                                   / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                          c.centroid_id) AS rn
                FROM e a CROSS JOIN c) x
            WHERE rn = 1),
        p AS (SELECT vec_id AS probe_id, e AS p FROM e WHERE vec_id < {KNN_N_PROBES}),
        pc AS (
            SELECT probe_id, p, centroid_id FROM (
                SELECT p.probe_id, p.p, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY p.probe_id
                                          ORDER BY list_dot_product(p.p, c.ce)
                                                   / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                          c.centroid_id) AS crank
                FROM p CROSS JOIN c) x
            WHERE crank <= {N_PROBE_CLUSTERS})
    SELECT probe_id, neighbor_id, centroid_id, rank, cosine FROM (
        SELECT pc.probe_id, a.vec_id AS neighbor_id, a.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY pc.probe_id
                   ORDER BY list_dot_product(a.e, pc.p)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(pc.p, pc.p))) DESC,
                            a.vec_id) AS rank,
               ROUND(list_dot_product(a.e, pc.p)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(pc.p, pc.p))), 6) AS cosine
        FROM assign a JOIN pc ON a.centroid_id = pc.centroid_id
        WHERE a.vec_id != pc.probe_id) t
    WHERE rank <= {KNN_K}""",
)
def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return knn_join_ivf(emb, emb.filter(F.col("vec_id") < KNN_N_PROBES))


def embed_quantize_int8(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (the standard
    vector-store compression): per-vector scale = max|x|/127, values
    round-half-up via floor(x/scale + 0.5), clamped to [-127, 127].
    Zero vectors quantize to zeros with scale 0.

    Pure projection — zero shuffles, zero Python; at 100 TB this is a
    scan-speed rewrite whose output is 4x narrower than the float32 input
    (the reason a 100 TB ANN corpus quantizes before indexing)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    maxabs = F.array_max(F.transform("e", lambda x: F.abs(x)))
    scale = maxabs / F.lit(127.0)
    q = F.when(
        maxabs == 0, F.transform("e", lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(
            "e",
            lambda x: F.least(
                F.greatest(F.floor(x / scale + F.lit(0.5)), F.lit(-127)), F.lit(127)
            ).cast("long"),
        )
    )
    return e.select("vec_id", F.round(scale, 6).alias("scale"), q.alias("q"))


@query(
    "embed_quantize_int8",
    """WITH m AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS maxabs
        FROM embeddings)
    SELECT vec_id, ROUND(maxabs / 127.0, 6) AS scale,
           CASE WHEN maxabs = 0
                THEN list_transform(e, x -> CAST(0 AS BIGINT))
                ELSE list_transform(e, x -> CAST(
                    least(greatest(floor(x / (maxabs / 127.0) + 0.5), -127), 127)
                    AS BIGINT)) END AS q
    FROM m""",
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strict=False: quantization IS defined for zero vectors (q = 0), and
    # the oracle reads the unfiltered table
    return embed_quantize_int8(_emb(spark, sf_dir, strict=False))


# --- semantic decontamination (round-13 verdict task 5) -----------------------
#
# The embedding-space tier of the decontamination story: exact 13-gram
# (llm.decontaminate_ngram_overlap) catches verbatim leaks, the Bloom sketch
# (llm.bloom_decontaminate) makes that cheap at scale, and THIS catches what
# both structurally miss — paraphrased benchmark items whose wording shares
# no 13-gram with the eval suite but whose embedding sits next to it. The
# registered scenario mirrors the n-gram operator's convention: vec_id <
# SEMDECON_BENCH_VECS stands in for the benchmark suite, everything else is
# the training corpus. The threshold is a scenario parameter picked to
# exercise BOTH flag branches on the synthetic md5-derived embeddings
# (cross-vector cosines concentrate near 0 there, so a production-style
# 0.9 would flag nothing at any sf — the pii_scan vacuous-oracle trap); a
# deployment with real sentence embeddings runs ~0.85-0.95.

SEMDECON_BENCH_VECS = 50
SEMDECON_THRESHOLD = 0.35


def semantic_contamination(
    corpus_e: DataFrame,
    bench_e: DataFrame,
    centroids: DataFrame,
    threshold: float = SEMDECON_THRESHOLD,
    nprobe: int = N_PROBE_CLUSTERS,
) -> DataFrame:
    """Flag corpus vectors whose cosine vs ANY benchmark vector reaches
    ``threshold`` — IVF-blocked exactly like knn_join_ivf: the corpus side
    gets the shuffle-free broadcast-argmax assignment (vectors never
    exchange), the small benchmark side probes its ``nprobe`` nearest
    clusters and BROADCASTS, so scoring is an equi-join on centroid_id
    touching ~nprobe/C of the corpus per benchmark item. Returns EVERY
    corpus row: (vec_id, max_cos [-1.0 when no benchmark candidate shares
    a probed cluster], n_bench_hits, contaminated) — the all-rows shape
    keeps the oracle row count data-independent while the flag column
    still exercises both branches. Recall is cluster-local by contract
    (the standard IVF trade, tuned via nprobe); at 100 TB the corpus
    assignment is the persisted centroid-partitioned ivf_index, making
    each benchmark suite a partition-pruned scan."""
    from pyspark.sql import Window

    assign = assign_to_centroids(corpus_e, centroids).withColumn(
        "na", _norm(F.col("e"))
    )
    b = bench_e.select(
        F.col("vec_id").alias("bench_id"), F.col("e").alias("b")
    ).withColumn("bn", _norm(F.col("b")))
    w_pc = Window.partitionBy("bench_id").orderBy(F.desc("psim"), F.asc("centroid_id"))
    bc = (
        b.crossJoin(F.broadcast(centroids))
        .withColumn("psim", _dot(F.col("b"), F.col("ce")) / _norm(F.col("ce")))
        .withColumn("crank", F.row_number().over(w_pc))
        .filter(F.col("crank") <= nprobe)
        .select("bench_id", "b", "bn", "centroid_id")
    )
    cos = _dot(F.col("e"), F.col("b")) / (F.col("na") * F.col("bn"))
    # one row per (corpus, bench-probe) candidate: the corpus vector sits in
    # exactly ONE cluster, so no (corpus, bench) pair can double-count
    cand = assign.join(F.broadcast(bc), "centroid_id").select(
        "vec_id", cos.alias("cos")
    )
    hits = cand.groupBy("vec_id").agg(
        F.max("cos").alias("mc"),
        F.count(F.when(F.col("cos") >= F.lit(threshold), 1))
        .cast("bigint")
        .alias("nh"),
    )
    return (
        corpus_e.select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.round("mc", 6), F.lit(-1.0)).alias("max_cos"),
            F.coalesce(F.col("nh"), F.lit(0).cast("bigint")).alias("n_bench_hits"),
            F.coalesce(F.col("mc") >= F.lit(threshold), F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


# The semantic-decontamination chain as a shared CTE fragment: expects a
# CTE ``e`` in scope; yields sdc_corpus (training side), sdc_hits
# (vec_id, mc, nh — per-vector max cosine / hit count vs the benchmark
# block's nprobe-cluster candidates). The decontaminate_semantic query
# AND the embedding curation capstone (curation.py) replay THIS text.
SEMDECON_CTES = f"""sdc_c AS (SELECT vec_id AS centroid_id, e AS ce FROM e WHERE vec_id < {N_CENTROIDS}),
    sdc_corpus AS (SELECT vec_id, e FROM e WHERE vec_id >= {SEMDECON_BENCH_VECS}),
    sdc_bench AS (SELECT vec_id AS bench_id, e AS b FROM e WHERE vec_id < {SEMDECON_BENCH_VECS}),
    sdc_assign AS (
        SELECT vec_id, e, centroid_id FROM (
            SELECT a.vec_id, a.e, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY list_dot_product(a.e, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                      c.centroid_id) AS rn
            FROM sdc_corpus a CROSS JOIN sdc_c c) x
        WHERE rn = 1),
    sdc_bc AS (
        SELECT bench_id, b, centroid_id FROM (
            SELECT p.bench_id, p.b, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY p.bench_id
                                      ORDER BY list_dot_product(p.b, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                      c.centroid_id) AS crank
            FROM sdc_bench p CROSS JOIN sdc_c c) x
        WHERE crank <= {N_PROBE_CLUSTERS}),
    sdc_cand AS (
        SELECT a.vec_id,
               list_dot_product(a.e, bc.b)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(bc.b, bc.b))) AS cos
        FROM sdc_assign a JOIN sdc_bc bc ON a.centroid_id = bc.centroid_id),
    sdc_hits AS (
        SELECT vec_id, MAX(cos) AS mc,
               CAST(COUNT(CASE WHEN cos >= {SEMDECON_THRESHOLD} THEN 1 END)
                    AS BIGINT) AS nh
        FROM sdc_cand GROUP BY vec_id)"""


@query(
    "decontaminate_semantic",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        {SEMDECON_CTES}
    SELECT cp.vec_id,
           COALESCE(ROUND(h.mc, 6), -1.0) AS max_cos,
           COALESCE(h.nh, CAST(0 AS BIGINT)) AS n_bench_hits,
           COALESCE(h.mc >= {SEMDECON_THRESHOLD}, false) AS contaminated
    FROM sdc_corpus cp LEFT JOIN sdc_hits h ON cp.vec_id = h.vec_id""",
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination over the embeddings table: flag training
    vectors (vec_id >= {SEMDECON_BENCH_VECS}) whose IVF-blocked cosine vs
    any benchmark vector (vec_id < {SEMDECON_BENCH_VECS}) reaches
    {SEMDECON_THRESHOLD}. The oracle replays the whole chain — strict
    filter, fixed-centroid assignment, benchmark nprobe clusters, candidate
    cosines (bit-identical sequential folds, the sim_topk contract), the
    per-doc max/hit-count, and the all-rows left join."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    corpus = e.filter(F.col("vec_id") >= SEMDECON_BENCH_VECS)
    bench = e.filter(F.col("vec_id") < SEMDECON_BENCH_VECS)
    return semantic_contamination(corpus, bench, centroid_frame(e))


EMB_DUP_THRESHOLD = 0.45

# Pair-join blocking target: the cluster count must SCALE WITH THE CORPUS,
# not stay fixed — with k fixed, cluster sizes grow ~N/k and the
# sum(cluster²) pair fan-out grows QUADRATICALLY (measured by
# tools/scale_stress.py round 4: semdedup ran 16x slower on 10x data,
# exponent 1.21 — the one super-linear surprise in the repo). k =
# max(N_CENTROIDS, ceil(N / EMB_TARGET_CLUSTER)) keeps expected cluster
# size constant, making pair fan-out ~N·target/2 — linear. At every graded
# sf (<= 6400 vectors) k stays 16, so oracle results are unchanged; the
# oracle replays the same formula via a COUNT(*) scalar subquery.
EMB_TARGET_CLUSTER = 400

_ADAPTIVE_K_DUCK = (
    f"(SELECT GREATEST({N_CENTROIDS}, "
    f"CAST(CEIL(COUNT(*) / {EMB_TARGET_CLUSTER}.0) AS BIGINT)) FROM e)"
)


def adaptive_n_centroids(n: int) -> int:
    """Cluster count for the pair-join family at corpus size ``n``."""
    import math

    return max(N_CENTROIDS, math.ceil(n / EMB_TARGET_CLUSTER))


# Below this adaptive-k the EXACT brute-force argmax runs (N·k dots is
# cheap); above it the two-level coarse-quantized assignment takes over —
# the crossover where N·k trends quadratic (k = N/target). Every graded
# scale factor sits at the k=16 floor, far below the switch, so oracle
# values never see the approximate path.
TWO_LEVEL_MIN_K = 64


def assign_with_norm(emb: DataFrame, two_level: bool | None = None) -> DataFrame:
    """Materialized (vec_id, e, nrm, centroid_id) assignment — THE shared
    input of the pair-join family (embedding_cosine_pairs, semdedup). The
    per-vector norm folds once here instead of once per PAIR side (array
    folds are interpreted — 3 folds/pair vs 1 is a real 3x), and the eager
    localCheckpoint materializes the argmax once for every downstream
    reference (self-join aliases + verdict base would otherwise each re-run
    the full assignment). At cluster scale this frame is the precomputed,
    centroid-partitioned assignment table (ivf_index.py persists exactly
    this). Values are bit-identical to the inline forms: same folds, same
    arrays, same order — only computed once.

    Centroid count is ADAPTIVE (adaptive_n_centroids): one bounded count()
    of the corpus picks k so expected cluster size stays ~EMB_TARGET_CLUSTER
    — the linearity guard for every sum(cluster²) consumer. The ASSIGNMENT
    itself then switches strategy on k (``two_level=None`` → automatic):
    exact brute-force argmax while k ≤ TWO_LEVEL_MIN_K, else the two-level
    coarse-quantized path (assign_to_centroids_2level — N·k dots is
    N²/target once k grows with N, measured exponent 1.10; the two-level
    form is ~2N·√k). Same recall-by-blocking contract as adaptive-k."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    k = adaptive_n_centroids(e.count())
    if two_level is None:
        two_level = k > TWO_LEVEL_MIN_K
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    assigner = assign_to_centroids_2level if two_level else assign_to_centroids
    return (
        assigner(e, cents)
        .select(
            "vec_id",
            "e",
            _norm(F.col("e")).alias("nrm"),
            F.coalesce("centroid_id", F.lit(-1)).alias("centroid_id"),
        )
        .localCheckpoint(eager=True)
    )


# (appId, dir, embeddings mtime+size) -> the checkpointed assign_with_norm
# frame: ONE assignment materialization feeds every pair-join consumer in a
# session (semdedup, dedup_embedding_cosine, the embedding capstone) — the
# _bm25_base_cached freshness contract, so an in-process corpus rewrite
# restages. Registered-query plumbing only; assign_with_norm itself stays
# pure for synthetic-frame tests.
_ASSIGN_CACHE: dict[tuple, DataFrame] = {}


def _assign_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temporalvault_spark.staging import fingerprint

    key = fingerprint(spark, sf_dir, ("embeddings",))
    a = _ASSIGN_CACHE.get(key)
    if a is None:
        a = assign_with_norm(_emb(spark, sf_dir))
        _ASSIGN_CACHE[key] = a
    return a


# The SemDeDup chain as a shared CTE fragment (the GOPHER_CTES pattern):
# expects a CTE ``e`` (strict vec_id/e frame) in scope; yields sd_assign
# (vec_id, e, centroid_id — adaptive-k fixed-centroid argmax) and
# sd_dropped (vec_ids with a >= threshold smaller-id cluster-mate). The
# dedup_embedding_cosine pair query, the semdedup query, AND the embedding
# curation capstone (curation.py) all compile from THIS text, so the
# float-parity-critical cosine idiom lives once.
SEMDEDUP_CTES = f"""sd_c AS (SELECT vec_id AS centroid_id, e AS ce FROM e WHERE vec_id < {_ADAPTIVE_K_DUCK}),
    sd_assign AS (
        SELECT vec_id, e, centroid_id FROM (
            SELECT a.vec_id, a.e, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY list_dot_product(a.e, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                      c.centroid_id) AS rn
            FROM e a CROSS JOIN sd_c c) x
        WHERE rn = 1),
    sd_dropped AS (
        SELECT DISTINCT b.vec_id
        FROM sd_assign a JOIN sd_assign b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
              >= {EMB_DUP_THRESHOLD})"""



def embedding_cosine_pairs(
    emb: DataFrame, threshold: float = EMB_DUP_THRESHOLD, assign: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine near-dup: pairs of vectors in the SAME IVF cluster
    with cosine >= threshold. Cluster blocking makes the self-join an
    equi-join on centroid_id — candidate fan-out is sum(cluster²), never
    corpus² — which is exactly how embedding dedup runs at corpus scale
    (cluster assignment precomputed + partitioned-by). Recall is cluster-local
    by contract; crafted-duplicate recall is pinned in tests/test_llm_dedup.py."""
    if assign is None:
        assign = assign_with_norm(emb)
    a, b = assign.alias("a"), assign.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.centroid_id").alias("centroid_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(cos >= threshold)
    )


@query(
    "dedup_embedding_cosine",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        {SEMDEDUP_CTES}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.centroid_id,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
               AS cosine
    FROM sd_assign a JOIN sd_assign b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
          >= {EMB_DUP_THRESHOLD}""",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair form of the shared SemDeDup assignment chain: every same-cluster
    pair at >= threshold cosine. The oracle compiles from SEMDEDUP_CTES —
    the assignment idiom lives once (sd_dropped is present but unreferenced;
    DuckDB prunes unused CTEs)."""
    return embedding_cosine_pairs(
        _emb(spark, sf_dir), assign=_assign_cached(spark, sf_dir)
    )


def semdedup_verdicts(
    emb: DataFrame,
    threshold: float = EMB_DUP_THRESHOLD,
    assign: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means-cluster blocking — within each cluster, drop every vector that
    has a higher-than-threshold cosine neighbor with a smaller id, keep the
    rest. One verdict row per vector.

    The keep rule is the single-pass deterministic variant: a vector is
    dropped iff SOME smaller-id cluster-mate is within threshold (the
    paper's random-keeper choice replaced by min-id so both engines agree).
    Chains therefore keep only the chain head — slightly more aggressive
    than greedy re-seeding, which is the conservative direction for
    training-data hygiene.

    Scale shape: identical to embedding_cosine_pairs (cluster-blocked
    equi-join, fan-out sum(cluster^2), wide vectors never on the pair
    shuffle — only (vec_id, centroid_id, drop-bit) leave the join), plus
    one slim left-anti-style join of verdicts back onto the assignment.
    The assignment materializes ONCE (assign_with_norm) and feeds both
    pair sides and the verdict base."""
    shared = assign if assign is not None else assign_with_norm(emb)
    pairs = embedding_cosine_pairs(emb, threshold, assign=shared)
    dropped = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    assign = shared.select("vec_id", "centroid_id")
    return assign.join(
        dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "centroid_id",
        F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
    )


@query(
    "semdedup",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
        {SEMDEDUP_CTES}
    SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS keep
    FROM sd_assign a LEFT JOIN sd_dropped d ON a.vec_id = d.vec_id""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_verdicts(
        _emb(spark, sf_dir), assign=_assign_cached(spark, sf_dir)
    )


@query("sim_topk_cosine_pandas")  # rows-only: same semantics as sim_topk_cosine
def q_sim_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine via an Arrow-batched Pandas UDF (NumPy dot): the
    vectorized-Python tier. Each Arrow batch becomes one matrix-vector
    product — at wide dims this beats per-element JVM folds ~10×. Semantics
    identical to sim_topk_cosine (unit test asserts equality)."""
    from pyspark.sql.functions import pandas_udf

    emb = _emb(spark, sf_dir)
    probe_vec = (
        emb.filter(F.col("vec_id") == SIM_PROBE_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    p = np.asarray(probe_vec)
    p = p / np.linalg.norm(p)

    @pandas_udf("double")
    def cos(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy())  # (rows, dim) — one BLAS matvec per batch
        norms = np.linalg.norm(m, axis=1)
        return pd.Series((m @ p) / norms)

    return (
        emb.select("vec_id", "label", cos(F.col("embedding").cast("array<double>")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(SIM_TOP_K)
        .select("vec_id", "label", F.round("cosine", 6).alias("cosine"))
    )


_MINHASH_K = 8  # signature length: 4 slices of md5(x) + 4 of md5(md5(x))

_MINHASH_SIG_DUCK = """hs AS (SELECT doc_id, list_transform(shingles, x -> md5(x)) AS h1,
              list_transform(shingles, x -> md5(md5(x))) AS h2 FROM sh),
    sig AS (SELECT doc_id,
       list_concat(
         list_transform(range(4), i -> list_sort(list_transform(h1,
             h -> substring(h, CAST(i*8+1 AS INT), 8)))[1]),
         list_transform(range(4), i -> list_sort(list_transform(h2,
             h -> substring(h, CAST(i*8+1 AS INT), 8)))[1])
       ) AS sig FROM hs)"""


@query(
    "dedup_minhash",
    f"""WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
           FROM toks WHERE len(t) >= 3),
    {_MINHASH_SIG_DUCK},
    banded AS (SELECT doc_id, i AS band, sig[CAST(i+1 AS INT)] AS min_h
               FROM sig CROSS JOIN (SELECT unnest(range({_MINHASH_K})) AS i)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.min_h = b.min_h AND a.doc_id < b.doc_id),
    scored AS (SELECT c.doc_a, c.doc_b,
       len(list_filter(range({_MINHASH_K}),
           i -> sa.sig[CAST(i+1 AS INT)] = sb.sig[CAST(i+1 AS INT)])) AS n_match
       FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                   JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, CAST(n_match AS BIGINT) AS n_match,
           ROUND(n_match / {_MINHASH_K}.0, 6) AS est_jaccard
    FROM scored WHERE n_match >= {_MINHASH_K // 2}""",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup detection by SIGNATURE ESTIMATION (vs
    dedup_ngram_jaccard's exact-verify): each doc gets a k=8 minhash
    signature via one-permutation hashing — families 0-3 are the four
    32-bit slices of one md5 per shingle, families 4-7 the slices of the
    re-hashed digest md5(md5(x)) — so the whole signature costs TWO md5
    passes regardless of k. Candidates are pairs agreeing on any family
    (8 bands of r=1); similarity is ESTIMATED as matching-families/k, the
    classic MinHash estimator (E[match] = jaccard), with no second look at
    the shingle sets.

    Scale shape: the corpus is shingled+hashed once (shared
    shingle_signatures frame, llm.py); the banded candidate join shuffles
    only (doc_id, band, 8-hex min_h); the scoring join carries the 8-slice
    signature — 64 bytes/doc — never the shingle arrays. Everything is md5
    + array arithmetic, so the DuckDB oracle replays it bit-for-bit
    (upgraded from the round-3 rows-only Spark-ML form, which survives as
    supplementary ``dedup_minhash_ml``).

    Reference parity: near-dup candidate surfacing; the reference
    (app/main.py) has no dedup tier — this is the LLM-pipeline extension
    required by the build brief.
    """
    return minhash_estimate_pairs(load_catalog(spark, sf_dir).table("documents"))


def minhash_estimate_pairs(docs: DataFrame) -> DataFrame:
    """Core of ``dedup_minhash`` on an arbitrary documents frame —
    crafted-corpus testable (tests/test_llm_dedup.py pins it against an
    independent hashlib replication of the signature arithmetic, so a
    shared-shape bug in the Spark/DuckDB twins can't hide behind parity)."""
    from temporalvault_spark.operators.llm import shingle_signatures

    # hs is the md5-per-shingle array; family b<4 slices it, b>=4 slices
    # the re-hashed digests hs2. hs2 is computed BEFORE the checkpoint so
    # the second md5 pass is materialized once per doc — as a lazy alias it
    # would collapse back into the per-family lambda and run 4x
    # (higher-order lambdas get no CSE).
    sh = (
        shingle_signatures(docs)
        .withColumn("hs2", F.expr("transform(hs, h -> md5(h))"))
        .localCheckpoint(eager=False)
    )
    sig = (
        sh.select(
            "doc_id",
            F.concat(
                F.expr(
                    "transform(sequence(0, 3), i -> "
                    "array_min(transform(hs, h -> substring(h, i*8+1, 8))))"
                ),
                F.expr(
                    "transform(sequence(0, 3), i -> "
                    "array_min(transform(hs2, h -> substring(h, i*8+1, 8))))"
                ),
            ).alias("sig"),
        )
        .localCheckpoint(eager=False)
    )
    banded = sig.select(
        "doc_id",
        F.posexplode("sig").alias("band", "min_h"),
    ).select("doc_id", F.col("band").cast("long").alias("band"), "min_h")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.min_h") == F.col("b.min_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # same size-gated semi-reduce shape as ngram_jaccard_pairs: the scoring
    # join should broadcast the candidate-reduced signatures, never shuffle
    # the corpus-wide signature frame — but only while candidates are
    # provably small (one count over the checkpointed slim pair frame)
    from temporalvault_spark.operators.llm import NGRAM_BROADCAST_MAX_DOCS

    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hint = (
        F.broadcast
        if cand_docs.count() <= NGRAM_BROADCAST_MAX_DOCS
        else (lambda d: d)
    )
    sig_red = sig.join(hint(cand_docs), "doc_id", "semi")
    sa = hint(sig_red.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig")))
    sb = hint(sig_red.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig")))
    n_match = F.aggregate(
        F.zip_with("a_sig", "b_sig", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("a_id"))
        .join(sb, F.col("doc_b") == F.col("b_id"))
        .withColumn("n_match", n_match.cast("long"))
        .filter(F.col("n_match") >= _MINHASH_K // 2)
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            F.round(F.col("n_match") / float(_MINHASH_K), 6).alias("est_jaccard"),
        )
    )


@query("dedup_minhash_ml")  # rows-only: Spark-ML LSH internals aren't oracle-expressible
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → sparse vector → banded
    minhash buckets → bucket-equi-join. approxSimilarityJoin's join key is
    the (band, hash) pair, so candidate generation is an equi-join shuffle —
    never an all-pairs comparison. Seeded → deterministic across runs."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_catalog(spark, sf_dir).table("documents")
    # shingle (word-3-gram) features, not raw tokens: on natural corpora the
    # token vocabulary is small and shared, so token-set similarity saturates
    # (observed: 71k "near-dup" pairs from 500 docs); shingles discriminate
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, size(t) - 3), "
                "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            ).alias("tokens"),
        )
        # lineage barrier: Catalyst collapses the ML UDFs below the filters
        # and evaluates HashingTF on rows the filters discard — a NULL/short
        # text then NPEs the whole job (reproduced on Spark 4.1). The
        # checkpoint pins "filter first", so the ML stage only ever sees
        # valid token arrays.
        .localCheckpoint(eager=False)
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18)
    feat = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.4, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(60)
)
_SIMHASH_RECON = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(60)
)


@query(
    "dedup_simhash",
    f"""WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS tok
        FROM documents),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS th
        FROM toks),
    votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST({_SIMHASH_RECON} AS BIGINT) AS simhash FROM votes)
    SELECT doc_id, simhash, simhash >> 44 AS band FROM sh""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit simhash per document (md5-derived token
    hashes → bitwise majority vote), then group by the top-16-bit band as the
    candidate block. Everything is a lateral explode + one aggregate — scales
    as a single shuffle on doc_id. The whole computation is md5 + integer
    bit arithmetic, so the DuckDB oracle replays it bit-for-bit (upgraded
    from the rows-only tier: every operation here is engine-portable)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))).alias("tok")
    )
    token_hash_sql = "CAST(CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS DECIMAL(20,0)) AS BIGINT)"
    bit_cols = [
        F.expr(
            f"SUM(CASE WHEN ({token_hash_sql} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{b}")
        for b in range(60)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_cols)
    sim = F.expr(
        " + ".join(f"CAST(CASE WHEN b{b} > 0 THEN 1 ELSE 0 END AS BIGINT) * {1 << b}L" for b in range(60))
    ).alias("simhash")
    hashed = votes.select("doc_id", sim)
    return hashed.select(
        "doc_id", "simhash", F.shiftright(F.col("simhash"), 44).alias("band")
    ).orderBy("doc_id")


# --- oracled Lloyd's k-means: the iterative-ML tier over embeddings ----------
#
# train_centroids (above) is the pyspark.ml k-means|| path — seeded but not
# cross-engine replayable. This is the replayable sibling: deterministic
# first-k init, a FIXED number of full Lloyd rounds (assign -> element-wise
# mean update, empty clusters keep their centroid), spherical assignment via
# THE shared assign_to_centroids argmax (centroid-norm-scaled cosine, ties
# toward the lower id) — so the oracle replays the entire iteration chain,
# exactly like pagerank_trade_network replays its recurrence through chained
# CTEs. The 100 TB shape per round: one broadcast-assign projection (the
# vector side never shuffles) + one map-side-combining aggregate producing
# k x dim cells; the ONLY driver materialization is the k x dim centroid
# matrix (bounded by construction, like pagerank's byte-capped rank frame).

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_DIM = 64  # oracle-side scenario constant; the Spark path derives dim


def kmeans_lloyd(
    e: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    init: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration distributed Lloyd's k-means over a (vec_id, e
    array<double>, ...) frame. Returns (assignment frame with centroid_id,
    final centroid frame). ``init`` defaults to the vectors with
    vec_id < k (deterministic, oracle-replayable — the centroid_frame
    convention)."""
    spark = e.sparkSession
    first = e.select(F.size("e").alias("d")).first()  # bounded: one row
    if first is None:
        empty = spark.createDataFrame([], "centroid_id bigint, ce array<double>")
        return e.withColumn("centroid_id", F.lit(None).cast("bigint")), empty
    dim = int(first["d"])
    cents = init if init is not None else e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    # centroids live as a local k x dim matrix between rounds (bounded);
    # re-materialized as a tiny frame each round for the broadcast argmax
    cent_local = {
        int(r["centroid_id"]): [float(x) for x in r["ce"]]
        for r in cents.collect()  # bounded: k rows
    }
    schema = "centroid_id bigint, ce array<double>"
    for _ in range(iters):
        # literal-centroid assign: the round's centroids are already a
        # driver-local dict, so shipping them as a literal expression skips
        # the per-round createDataFrame → agg → broadcast-build job
        # (assign_to_local_centroids docstring; values bit-identical)
        assigned = assign_to_local_centroids(e, cent_local)
        # micro-unit quantization between rounds (the DSIR/BM25 transcendental
        # contract): Spark's partition-order AVG and DuckDB's AVG can differ
        # in the last ULP, and the raw means feed the NEXT round's cosine
        # argmax — floor(x*1e6 + 0.5)/1e6 on both sides makes every argmax
        # decision compare engine-independent values, so hash parity never
        # rides on the corpus having no near-tie assignments. (The same
        # quantization is what makes the two dim-gated paths below
        # interchangeable: their AVGs agree to well past the micro-unit.)
        if dim <= DIM_UNROLL_MAX:
            means = assigned.groupBy("centroid_id").agg(
                *[F.avg(F.col("e")[i]).alias(f"m{i}") for i in range(dim)]
            )
            for r in means.collect():  # bounded: <= k rows of dim doubles
                cent_local[int(r["centroid_id"])] = [
                    quant6(float(r[f"m{i}"])) for i in range(dim)
                ]
        else:
            # fold form (the dim gate): posexplode -> groupBy(cid, pos)
            # partial aggregate — k x dim cells, no O(dim) expression tree
            rows = (
                assigned.select(
                    "centroid_id", F.posexplode("e").alias("pos", "x")
                )
                .groupBy("centroid_id", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()  # bounded: <= k*dim cells (the driver state)
            )
            fresh: dict[int, list] = {}
            filled: dict[int, int] = {}
            for r in rows:
                cid, pos = int(r["centroid_id"]), int(r["pos"])
                if pos >= dim:  # longer-than-dim arrays: diagnostic, not
                    raise ValueError(  # a raw IndexError (r13 pass 3)
                        f"kmeans_lloyd: cluster {cid} has arrays longer "
                        f"than dim={dim} (position {pos}) — ragged arrays"
                    )
                fresh.setdefault(cid, [0.0] * dim)[pos] = quant6(float(r["m"]))
                filled[cid] = filled.get(cid, 0) + 1
            # a ragged frame must fail LOUDLY like the unrolled twin (whose
            # avg(e[j]) returns NULL -> TypeError), not fabricate 0.0 cells
            # for positions a cluster's arrays never reached (r13 review)
            short = {c: n for c, n in filled.items() if n != dim}
            if short:
                raise ValueError(
                    f"kmeans_lloyd: clusters {sorted(short)} cover fewer "
                    f"than dim={dim} positions — ragged or truncated arrays"
                )
            # clusters that received no vectors keep their previous
            # centroid — the groupBy only emits observed clusters, exactly
            # like the unrolled path's collect
            cent_local.update(fresh)
    cents_df = spark.createDataFrame(sorted(cent_local.items()), schema)
    return assign_to_local_centroids(e, cent_local), cents_df


def _duck_kmeans_assign(cent_cte: str, out: str) -> str:
    """One assignment CTE: centroid-norm-scaled cosine argmax against
    ``cent_cte``, ties toward the lower cid — the DuckDB twin of
    assign_to_centroids, the same idiom sim_ivf_ann's oracle replays."""
    return f"""{out} AS (
        SELECT vec_id, label, e, cid FROM (
            SELECT a.vec_id, a.label, a.e, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY list_dot_product(a.e, c.ce)
                                               / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                                               c.cid) AS rn
            FROM e a CROSS JOIN {cent_cte} c) x
        WHERE rn = 1)"""


def _duck_kmeans_update(assign_cte: str, prev: str, out: str) -> str:
    """One Lloyd update as CTEs: element-wise mean per cluster (position
    explode via range + 1-based list index), empty clusters keep the
    previous centroid via the LEFT JOIN + COALESCE. Means are quantized to
    the micro-unit (floor(x*1e6 + 0.5)/1e6) exactly as the Spark path
    quantizes after each round, so the next round's argmax decisions are
    provably engine-independent."""
    return f"""m_{out} AS (
        SELECT cid, t.i AS pos,
               floor(AVG(e[t.i + 1]) * 1000000 + 0.5) / 1000000 AS v
        FROM {assign_cte} CROSS JOIN range({KMEANS_DIM}) t(i)
        GROUP BY cid, t.i),
    u_{out} AS (SELECT cid, list(v ORDER BY pos) AS ce FROM m_{out} GROUP BY cid),
    {out} AS (
        SELECT p.cid, COALESCE(u.ce, p.ce) AS ce
        FROM {prev} p LEFT JOIN u_{out} u USING (cid))"""


# the full replayed Lloyd chain (init -> 2 rounds -> final assignment a2),
# shared by the kmeans summary and the cluster-balanced sampler below —
# ONE statement of the iteration, two value-hash gates over it
_DUCK_KMEANS_CHAIN = f"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < {KMEANS_K}),
    {_duck_kmeans_assign('c0', 'a0')},
    {_duck_kmeans_update('a0', 'c0', 'c1')},
    {_duck_kmeans_assign('c1', 'a1')},
    {_duck_kmeans_update('a1', 'c1', 'c2')},
    {_duck_kmeans_assign('c2', 'a2')}"""


@query(
    "cluster_kmeans_lloyd",
    f"""WITH {_DUCK_KMEANS_CHAIN}
    SELECT a.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(a.label), 6) AS avg_label,
           ROUND(MIN(sqrt(list_dot_product(c.ce, c.ce))), 6) AS centroid_norm
    FROM a2 a JOIN c2 c USING (cid)
    GROUP BY a.cid""",
)
def q_cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means, fully value-oracled: two
    complete rounds (assign -> mean update) from the deterministic first-k
    init, then a final assignment summarized per cluster (size, mean label,
    final centroid norm). The DuckDB twin replays EVERY round through
    chained CTEs — both the argmax decisions and the float mean updates are
    value-visible, making this the iterative-ML analog of the pagerank
    oracle. Topic-style clustering is the data-mixing workhorse of a
    training-data pipeline (cluster-balanced sampling, SemDeDup's first
    stage, IVF training).

    This is also the family's STAGING job (the q_ngram_pairs_stage
    contract): it ALWAYS re-trains (force=True), persists the assignment
    + centroid artifacts, and summarizes FROM them — so the bench measures
    train + stage-write exactly once and explicitly, and riders
    (corpus_cluster_sample) pay only an artifact scan. Integers and
    parquet-roundtripped doubles summarize identically to the in-memory
    frames (same values, same round(6))."""
    path = stage_kmeans_assign(spark, sf_dir, force=True)
    assigned = spark.read.parquet(path)
    cents = spark.read.parquet(f"{path}/_centroids")
    norms = cents.select(
        "centroid_id", F.round(_norm(F.col("ce")), 6).alias("centroid_norm")
    )
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("label"), 6).alias("avg_label"),
        )
        .join(F.broadcast(norms), "centroid_id")
        .select(
            F.col("centroid_id").alias("cluster_id"),
            "n_vecs",
            "avg_label",
            "centroid_norm",
        )
    )


# --- oracled power-iteration PCA (top principal direction) -------------------
#
# The second iterative-ML oracle (kmeans above, pagerank in graph.py):
# matrix-free power iteration on the CENTERED covariance — never forms the
# dim x dim matrix, never ships vectors to the driver. Each round is two
# distributed passes: s_i = (x_i - m) . v (a codegen'd projection) and
# w_j = sum_i s_i (x_ij - m_j) (one map-side-combining aggregate of dim
# cells); the driver holds only dim-sized vectors (m, v, w — bounded by
# construction). That is exactly how a 100 TB corpus computes its top
# principal component. Output is sign-free (squared loadings) so the
# eigenvector's arbitrary sign can never flip a float comparison.

PCA_ITERS = 2


def pca_power_top(
    e: DataFrame, iters: int = PCA_ITERS
) -> tuple[list, float, int, list]:
    """Top principal direction of a (vec_id, e array<double>) frame by
    ``iters`` power-iteration rounds from the deterministic all-ones/sqrt(d)
    init. Returns (unit eigenvector, eigenvalue estimate ||C v||, N,
    mean vector). Centered arithmetic mirrors the oracle term-for-term:
    s uses (e_j - m_j) * v_j products, w uses s * (e_j - m_j). Every
    per-dimension sum is dim-gated (DIM_UNROLL_MAX): unrolled columns at
    testdata dims, array folds + posexplode partial aggregates at
    production dims (768–1536) where the unrolled tree breaks codegen."""
    import math

    first = e.select(F.size("e").alias("d")).first()  # bounded: one row
    if first is None:
        return [], 0.0, 0, []
    dim = int(first["d"])
    m, n = _mean_vector(e, dim)
    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0
    for _ in range(iters):
        if dim <= DIM_UNROLL_MAX:
            s = _tree_sum(
                (F.col("e")[j] - F.lit(m[j])) * F.lit(v[j]) for j in range(dim)
            )
            agg = e.withColumn("s", s).agg(
                *[
                    F.sum(F.col("s") * (F.col("e")[j] - F.lit(m[j]))).alias(f"w{j}")
                    for j in range(dim)
                ]
            ).first()  # bounded: one row of dim doubles
            w = [float(agg[f"w{j}"]) for j in range(dim)]
        else:
            # fold form (the dim gate): the centered array c is ONE zip_with
            # against the constant-folded array literal, s is a fold over
            # it, and the w vector is a posexplode -> groupBy(pos) partial
            # aggregate — dim rows collected, no O(dim) expression tree
            rows = (
                e.withColumn(
                    "c", F.zip_with(F.col("e"), F.lit(m), lambda x, y: x - y)
                )
                .withColumn("s", _dot(F.col("c"), F.lit(v)))
                .select("s", F.posexplode("c").alias("pos", "cx"))
                .groupBy("pos")
                .agg(F.sum(F.col("s") * F.col("cx")).alias("w"))
                .collect()  # bounded: dim rows
            )
            if len(rows) != dim:  # the _mean_vector ragged-frame guard
                raise ValueError(
                    f"pca_power_top: arrays cover {len(rows)} positions, "
                    f"dim is {dim} — ragged or truncated arrays"
                )
            w = [0.0] * dim
            for r in rows:
                w[int(r["pos"])] = float(r["w"])
        lam = math.sqrt(sum(x * x for x in w))
        if lam == 0.0:
            raise ValueError(
                "pca_power_top: zero centered variance (all surviving "
                "vectors identical) — no principal direction exists"
            )
        v = [x / lam for x in w]
    return v, lam, n, m


def _duck_pca_round(v_cte: str, idx: int) -> str:
    """One power-iteration round as CTEs: projection s per vector, then the
    per-dim weighted sum w, its norm, and the normalized next vector."""
    return f"""s{idx} AS (
        SELECT vec_id, SUM(c * v) AS s
        FROM xc JOIN {v_cte} USING (pos) GROUP BY vec_id),
    w{idx} AS (
        SELECT pos, SUM(c * s) AS w
        FROM xc JOIN s{idx} USING (vec_id) GROUP BY pos),
    n{idx} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w{idx}),
    v{idx + 1} AS (SELECT pos, w / nrm AS v FROM w{idx} CROSS JOIN n{idx})"""


# the full replayed power-iteration chain (center -> 2 rounds -> unit v2),
# shared by the PCA summary and the all-but-the-top retrieval below
_DUCK_PCA_CHAIN = f"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings {EMB_STRICT_WHERE}),
    m AS (SELECT t.i AS pos, AVG(e[t.i + 1]) AS mu
          FROM e CROSS JOIN range({KMEANS_DIM}) t(i) GROUP BY t.i),
    xc AS (SELECT vec_id, t.i AS pos, e[t.i + 1] - mu AS c
           FROM e CROSS JOIN range({KMEANS_DIM}) t(i)
           JOIN m ON m.pos = t.i),
    v0 AS (SELECT i AS pos, 1.0 / sqrt({KMEANS_DIM}) AS v FROM range({KMEANS_DIM}) t(i)),
    {_duck_pca_round('v0', 0)},
    {_duck_pca_round('v1', 1)}"""


@query(
    "embed_pca_power",
    f"""WITH {_DUCK_PCA_CHAIN},
    cnt AS (SELECT COUNT(*) AS n FROM e)
    SELECT pos AS dim_id,
           ROUND(v * v, 6) AS loading_sq,
           ROUND((SELECT nrm FROM n1) / ((SELECT n FROM cnt) - 1), 6) AS var_explained
    FROM v2""",
)
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by two
    power-iteration rounds, value-oracled end-to-end: the DuckDB twin
    replays the centering, every projection, every weighted sum, and both
    normalizations through chained CTEs. Output: per-dimension SQUARED
    loading (sign-free by design — an eigenvector's sign is arbitrary) and
    the eigenvalue-over-(N-1) variance estimate. PCA whitening /
    dominant-direction analysis is a standard embedding-pipeline pass
    (outlier screens, dimension diagnostics, whitening before cosine)."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    v, lam, n, _m = pca_power_top(e)
    if n <= 1:
        raise ValueError(
            "embed_pca_power: variance is undefined for a corpus of "
            f"{n} surviving vector(s)"
        )
    rows = [
        (j, v[j] * v[j], lam / (n - 1)) for j in range(len(v))
    ]
    out = spark.createDataFrame(
        rows, "dim_id bigint, loading_sq double, var_explained double"
    )
    return out.select(
        "dim_id",
        F.round("loading_sq", 6).alias("loading_sq"),
        F.round("var_explained", 6).alias("var_explained"),
    )


CLUSTER_SAMPLE_K = 20


# The staged oracled 2-round Lloyd ASSIGNMENT (vec_id, label, centroid_id)
# — the stage_phash contract: consumers pay a parquet re-scan, never a
# re-train. cluster_kmeans_lloyd stays the always-retrain measurement
# query; this artifact exists for the riders (corpus_cluster_sample today).


def stage_kmeans_assign(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Materialize the oracled Lloyd assignment once per application +
    corpus fingerprint. Integers and the untouched label column round-trip
    parquet exactly, so a rider's oracle can keep replaying the full
    training chain — the artifact IS that chain's output."""
    from temporalvault_spark.staging import artifact

    def build(tmp: str) -> None:
        e = _emb(spark, sf_dir).select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
        )
        assigned, cents = kmeans_lloyd(e)
        # main frame first: its write creates the directory the sidecar nests in
        assigned.select("vec_id", "label", "centroid_id").write.parquet(tmp)
        # sidecar via ONE-slice parallelize, not coalesce(1) over a local-
        # data frame: kmeans_lloyd's cents frame parallelizes into
        # defaultParallelism Python partitions and coalesce then pays every
        # worker round-trip SERIALLY in one task (the minhash _meta note —
        # measured ~4s for k rows). One slice = one round trip (~0.2s).
        cent_rows = cents.collect()  # bounded: k rows of dim doubles
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(int(r["centroid_id"]), [float(x) for x in r["ce"]]) for r in cent_rows],
                1,
            ),
            "centroid_id bigint, ce array<double>",
        ).write.parquet(f"{tmp}/_centroids")

    return artifact(spark, "kmeans_assign", sf_dir, ("embeddings",), build, force)


@query(
    "corpus_cluster_sample",
    f"""WITH {_DUCK_KMEANS_CHAIN}
    SELECT vec_id, label, cid AS cluster_id FROM (
        SELECT vec_id, label, cid,
               ROW_NUMBER() OVER (
                   PARTITION BY cid
                   ORDER BY md5('cbs:' || CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM a2) x
    WHERE rn <= {CLUSTER_SAMPLE_K}""",
)
def q_corpus_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-BALANCED sampling — the data-mixing move k-means exists
    for: run the oracled Lloyd's clustering over the embedding corpus,
    then draw exactly {CLUSTER_SAMPLE_K} deterministic uniform samples
    per cluster (fewer if a cluster is smaller) via the salted-md5
    ticket rule of sample_fixed_k_per_group. Topic-balanced eval sets
    and SemDeDup-style diversity sampling are exactly this composition.
    The oracle replays the ENTIRE chain — both Lloyd rounds, the final
    assignment, and the per-cluster ranked draw — under one value-hash
    (the shared _DUCK_KMEANS_CHAIN, so the clustering this samples from
    is the same one cluster_kmeans_lloyd hash-checks).

    Scale shape: the per-cluster rank is a WindowGroupLimit (each
    partition keeps only its local top-k per cluster BEFORE the
    exchange); the clustering itself never ships vectors to the driver
    (kmeans_lloyd's contract). The sampler RIDES the staged assignment
    artifact (stage_kmeans_assign — trains on first use per corpus, the
    ngram-pairs staging contract; cluster_kmeans_lloyd remains the
    always-retrain measurement of the training itself), so this query's
    own cost is one slim artifact scan + the bounded rank window."""
    from pyspark.sql import Window

    assigned = spark.read.parquet(stage_kmeans_assign(spark, sf_dir))
    u = F.md5(F.concat(F.lit("cbs:"), F.col("vec_id").cast("string")))
    return (
        assigned.select("vec_id", "label", "centroid_id", u.alias("u"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("centroid_id").orderBy("u", "vec_id")
            ),
        )
        .filter(F.col("rn") <= CLUSTER_SAMPLE_K)
        .select("vec_id", "label", F.col("centroid_id").alias("cluster_id"))
    )


# corrected self-norms below this floor are degenerate (the vector is
# numerically parallel to the principal direction): the fp subtraction's
# sign is then noise, DuckDB would abort on sqrt(negative) while Spark
# yields NaN — so BOTH engines exclude those rows with the identical
# predicate, and the probe-side case fails loudly on the driver
ABTT_NORM_FLOOR = 1e-12


@query(
    "embed_abtt_topk",
    f"""WITH {_DUCK_PCA_CHAIN},
    s AS (SELECT vec_id, SUM(c * v) AS s FROM xc JOIN v2 USING (pos) GROUP BY vec_id),
    pc AS (SELECT pos, c FROM xc WHERE vec_id = {SIM_PROBE_VEC_ID}),
    sp AS (SELECT s FROM s WHERE vec_id = {SIM_PROBE_VEC_ID}),
    cpp AS (SELECT SUM(c * c) AS cpp FROM pc),
    dots AS (SELECT a.vec_id, SUM(a.c * p.c) AS cab, SUM(a.c * a.c) AS caa
             FROM xc a JOIN pc p USING (pos) GROUP BY a.vec_id),
    scored AS (
        SELECT d.vec_id,
               ROUND((cab - s.s * sp.s)
                   / sqrt((caa - s.s * s.s) * (cpp.cpp - sp.s * sp.s)), 6)
                   AS cosine
        FROM dots d JOIN s ON d.vec_id = s.vec_id
        CROSS JOIN sp CROSS JOIN cpp
        WHERE d.vec_id <> {SIM_PROBE_VEC_ID}
          AND (caa - s.s * s.s) > {ABTT_NORM_FLOOR}
          AND (cpp.cpp - sp.s * sp.s) > {ABTT_NORM_FLOOR})
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT {SIM_TOP_K}""",
)
def q_embed_abtt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k AFTER All-but-the-Top post-processing (Mu & Viswanath
    2018, public): center the corpus and project out the TOP principal
    direction before scoring — the standard fix for anisotropic embedding
    spaces where one dominant direction inflates every similarity. The
    identity (x - v v^T x) . (y - v v^T y) = x.y - (v.x)(v.y) for unit v
    means NO corrected vectors ever materialize: the corrected cosine is
    three centered sums per vector (probe dot, self dot, v-projection),
    all literal-folded JVM projections off the driver's dim-sized m and v
    (pca_power_top's contract) — the corpus never shuffles, and the top-k
    is a TakeOrderedAndProject. The oracle replays the power-iteration
    chain (the SAME _DUCK_PCA_CHAIN embed_pca_power hash-checks) and the
    correction identity end-to-end."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return abtt_topk(e)


def abtt_topk(
    e: DataFrame, probe_vec_id: int = SIM_PROBE_VEC_ID, k: int = SIM_TOP_K
) -> DataFrame:
    """ABTT-corrected cosine top-k over a (vec_id, e array<double>) frame —
    the frame-level core of q_embed_abtt_topk (the query wrapper binds the
    catalog; tests bind synthetic frames at production dims). The three
    centered sums are dim-gated (DIM_UNROLL_MAX): unrolled column
    expressions at testdata dims, zip_with/aggregate folds over a
    centered-once array above it."""
    v, _lam, _n, m = pca_power_top(e)
    dim = len(v)
    probe_row = e.filter(
        F.col("vec_id") == probe_vec_id
    ).first()  # bounded: 1 row
    if probe_row is None:
        raise ValueError(
            f"abtt_topk: probe vec_id {probe_vec_id} not found"
        )
    pc = [float(probe_row["e"][j]) - m[j] for j in range(dim)]
    sp = sum(pc[j] * v[j] for j in range(dim))
    cpp = sum(x * x for x in pc)
    if cpp - sp * sp <= ABTT_NORM_FLOOR:
        raise ValueError(
            "abtt_topk: the probe vector is numerically parallel to "
            "the top principal direction — its corrected norm is degenerate"
        )
    corpus = e.filter(F.col("vec_id") != probe_vec_id)
    if dim <= DIM_UNROLL_MAX:
        cab = _tree_sum(
            (F.col("e")[j] - F.lit(m[j])) * F.lit(pc[j]) for j in range(dim)
        )
        caa = _tree_sum(
            (F.col("e")[j] - F.lit(m[j])) * (F.col("e")[j] - F.lit(m[j]))
            for j in range(dim)
        )
        sa = _tree_sum(
            (F.col("e")[j] - F.lit(m[j])) * F.lit(v[j]) for j in range(dim)
        )
        proj = corpus.withColumn("cab", cab).withColumn("caa", caa).withColumn("sa", sa)
    else:
        # fold form (the dim gate): center ONCE per row against the
        # constant-folded mean literal, then three ascending-j folds over
        # the centered array — no O(dim) expression tree (the unrolled twin
        # sums pairwise via _tree_sum, so the two paths agree at the
        # quantized output, not bit-for-bit — the module tolerance)
        proj = (
            corpus.withColumn(
                "c", F.zip_with(F.col("e"), F.lit(m), lambda x, y: x - y)
            )
            .withColumn("cab", _dot(F.col("c"), F.lit(pc)))
            .withColumn("caa", _dot(F.col("c"), F.col("c")))
            .withColumn("sa", _dot(F.col("c"), F.lit(v)))
            .drop("c")
        )
    scored = (
        proj
        .filter(
            (F.col("caa") - F.col("sa") * F.col("sa")) > ABTT_NORM_FLOOR
        )
        .withColumn(
            "cosine",
            F.round(
                (F.col("cab") - F.col("sa") * F.lit(sp))
                / F.sqrt(
                    (F.col("caa") - F.col("sa") * F.col("sa"))
                    * F.lit(cpp - sp * sp)
                ),
                6,
            ),
        )
    )
    # order by the ROUNDED score (the dsir convention): the unrounded
    # value differs between engines in the low bits (different summation
    # orders), so an unrounded cut could straddle near-ties differently
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "cosine")
    )
