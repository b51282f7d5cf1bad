"""Graph analytics over the order network: fixed-iteration PageRank.

The near-dup clustering tier already does one graph algorithm (connected
components, dedup_cluster.py); this module adds the other canonical
iterative one. The graph: customers and suppliers are nodes, with a
(symmetric) edge for every distinct customer-supplier trading pair from
orders ⋈ lineitem — PageRank then scores "centrality in the trading
network" (which suppliers sit in everyone's supply chain).

Iterative algorithms are where naive Spark ports die (driver loops that
collect state per round). The shape here is the scalable one — the same
loop-over-distributed-joins pattern as the BPE trainer (llm.py) and label
propagation (dedup_cluster.py):

  * per-iteration state is a (node, rank) frame, NEVER collected;
  * one join ranks⋈edges + one aggregate per iteration — at 100 TB both
    sides hash-partition on the node id and the partitioning is reused
    across iterations (the edges frame is persisted once);
  * iteration count is FIXED (power iteration converges geometrically;
    5 rounds ≈ damping^5 < 45% residual on adversarial graphs, far less on
    real ones) — no data-dependent driver-side convergence test.

Oracle parity (the interesting part): ranks are carried as INTEGER
micro-units end-to-end. Every per-edge contribution is ROUND(rank/deg) in
integer µ, every new rank is ROUND(teleport_µ + 0.85·Σcontrib) — so the
only floating-point ops are single divisions/multiplications on exact
integer inputs (bit-identical in any IEEE engine) and the sums are integer
sums (associative, aggregation-order-free). The DuckDB oracle unrolls the
same recurrence as N_ITER chained CTEs generated from the SAME Python
loop, so the formulas cannot drift."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.registry import query
from temporalvault_spark.staging import artifact

PR_ITER = 5
PR_DAMP = 0.85
PR_SCALE = 1_000_000  # rank mass carried as integer micro-units
PR_TOPK = 20
# Broadcast the per-iteration rank state while its ESTIMATED BYTES fit
# comfortably in one executor/driver; beyond that the SAME loop switches to
# a co-partitioned shuffle-hash join on the node id — only the join strategy
# changes, never the arithmetic, so both paths are value-identical (pinned
# by tests/test_graph.py). The estimate is byte-based, not a raw row count
# (r8 advice): rank rows carry STRING node ids ('C123…'), and a broadcast
# hash relation pays several-fold JVM object overhead per row — UTF-16
# chars (2·len) plus ~64 bytes of UnsafeRow + hash-entry structure — so a
# fixed 10M-row cap could mean >1 GB near the threshold. 256 MiB / ~80 B
# per row ≈ 3.3M nodes with typical short ids, conservatively inside
# default executor memory.
PR_BROADCAST_MAX_BYTES = 256 << 20
PR_BCAST_ROW_OVERHEAD = 64  # UnsafeRow header/offsets + hash-relation entry


def rank_bcast_fits(n_nodes: int, avg_id_len: float | None) -> bool:
    """Does the per-iteration rank broadcast fit PR_BROADCAST_MAX_BYTES?
    Estimated bytes = n · (2·avg id chars [UTF-16] + PR_BCAST_ROW_OVERHEAD);
    a missing length sample (empty graph) assumes 8-char ids."""
    est = n_nodes * (2.0 * (avg_id_len or 8.0) + PR_BCAST_ROW_OVERHEAD)
    return est <= PR_BROADCAST_MAX_BYTES


def _edge_parts(df: DataFrame) -> int:
    """Fan-out for pagerank_int's in-memory edge checkpoint (its only
    remaining caller, r14 — the staged artifact no longer repartitions):
    the session's configured shuffle-partition count, i.e. the same
    scale-adaptive dial every other exchange uses (session.
    _shuffle_partitions), so the checkpointed blocks give the iteration
    join/aggregate map side full parallelism. The repartition provides
    PARALLELISM only — the r14 audit showed a checkpoint read-back
    carries no hash-partitioning metadata, so no downstream exchange is
    elided by it at any count."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism


def pagerank_int(
    edges: DataFrame, n_iter: int = PR_ITER, damp: float = PR_DAMP
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge frame (src, dst) in
    integer micro-units. Every node must have out-degree ≥ 1 (the caller's
    graph is symmetric, so no dangling-mass redistribution is needed).
    Returns (node, rank_u).

    Physical shape (broadcast regime, estimated rank-relation bytes ≤
    PR_BROADCAST_MAX_BYTES):
    the RANK frame is node-sized — orders of magnitude smaller than the
    edge frame (here: |C|+|S| nodes vs every trading pair) — so each
    iteration joins edges ⋈ broadcast(ranks): the edge frame NEVER
    shuffles. Each round's contribution aggregate pays one slim exchange
    of (node, contribution) integer pairs — node-sized, not edge-sized
    (r14 audit: a localCheckpoint read-back does not carry
    hash-partitioning metadata, so the dst pre-partitioning cannot be
    reused to elide it; the earlier zero-shuffle-per-iteration claim was
    stale). Per-iteration eager
    localCheckpoints truncate lineage so planner time stays O(1) in n_iter.
    Once ranks outgrow broadcast (billions of nodes), _pagerank_core
    switches AUTOMATICALLY to a co-partitioned shuffle-hash join on the
    node id — same loop, same integer arithmetic, value-identical output
    (tests/test_graph.py pins both plans and their equality)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = (
        edges.join(F.broadcast(deg), "src")  # deg is node-sized, like ranks
        .repartition(_edge_parts(edges), "dst")
        .localCheckpoint(eager=True)
    )
    return _pagerank_core(ed, n_iter, damp)


def _pagerank_core(
    ed: DataFrame,
    n_iter: int = PR_ITER,
    damp: float = PR_DAMP,
    broadcast_max_nodes: int | None = None,
) -> DataFrame:
    """Power iteration over a prepared (src, dst, deg) edge frame (already
    partitioned/checkpointed or read from the staged artifact).

    Join-strategy switch: a BYTE estimate of the broadcast rank relation —
    n_nodes · (2·avg id chars + PR_BCAST_ROW_OVERHEAD), from the same
    bounded one-row node aggregate that sizes the iteration (a single
    driver row, like the other 1-row collects catalogued in VERDICT r7) —
    picks broadcast while the rank state fits PR_BROADCAST_MAX_BYTES, else
    a co-partitioned shuffle-hash join on the node id.
    ``broadcast_max_nodes`` (tests, explicit deployments) overrides the
    byte estimate with a raw row-count cap. The co-partition regime
    honestly pays per iteration: one node-sized shuffle of the rank state
    plus one edge-sized shuffle of the join/aggregate path — the
    unavoidable cost once rank state exceeds broadcast; a deployment
    expecting that regime would stage the edge artifact partitioned on src
    rather than dst to keep the join exchange off the edge frame.

    Parity: n_nodes is an exact integer, so the Python-side divisions
    (PR_SCALE/n, teleport_u/n) are single correctly-rounded IEEE ops —
    bit-identical to the oracle computing the same divisions in-engine.
    The join-strategy choice never touches values (both regimes are
    value-identical, pinned by tests), so the float avg-length estimate
    adds no parity risk."""
    # EAGER checkpoints throughout the iteration chain (r15 — back to the
    # r13 shape the driver measured at 1.53s): r14 made these lazy on a
    # builder-box A/B taken at the then-current artifact layout; re-measured
    # at the restored 32-way fan-out, eager wins clearly (interleaved, 6
    # rounds: eager med 4.61s / lazy med 6.30s on the noisy sandbox — one
    # bounded blocking job per round beats materializing the whole
    # 5-iteration chain inside one deep final job). Values identical either
    # way; planner stays O(1) in n_iter in both forms.
    nodes = ed.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    stats = nodes.agg(
        F.count("*").alias("n"), F.avg(F.length("node")).alias("id_len")
    ).first()  # one bounded driver row: count + mean id width
    n_nodes = stats["n"]
    if broadcast_max_nodes is not None:
        use_broadcast = n_nodes <= broadcast_max_nodes
    else:
        use_broadcast = rank_bcast_fits(n_nodes, stats["id_len"])
    # rounding stays in-engine (HALF_UP) to match the oracle's ROUND; only
    # the (correctly-rounded, engine-independent) division moves to Python
    ranks = nodes.select(
        "node", F.round(F.lit(float(PR_SCALE) / n_nodes)).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    teleport_node_u = (1.0 - damp) * PR_SCALE / n_nodes
    for _ in range(n_iter):
        ranks = _iterate(ed, ranks, use_broadcast, teleport_node_u, damp).localCheckpoint(
            eager=True
        )
    return ranks.select("node", F.col("r").alias("rank_u"))


def _iterate(
    ed: DataFrame,
    ranks: DataFrame,
    use_broadcast: bool,
    teleport_node_u: float,
    damp: float,
) -> DataFrame:
    """One power-iteration step (unmaterialized, so tests can pin the plan):
    (node, r) -> next (node, r). The join-strategy flag is the ONLY thing
    the broadcast and co-partition regimes differ in."""
    r = ranks.withColumnRenamed("node", "src")
    r = F.broadcast(r) if use_broadcast else r.hint("shuffle_hash")
    contrib = ed.join(r, "src").select(
        F.col("dst").alias("node"),
        F.round(F.col("r").cast("double") / F.col("deg")).cast("long").alias("c"),
    )
    return (
        contrib.groupBy("node")
        .agg(F.sum("c").alias("s"))
        .select(
            "node",
            F.round(F.lit(teleport_node_u) + F.lit(damp) * F.col("s").cast("double"))
            .cast("long")
            .alias("r"),
        )
    )


def _pagerank_oracle() -> str:
    """Unrolled-CTE twin: the same recurrence, generated by the same loop."""
    teleport_u = (1.0 - PR_DAMP) * PR_SCALE
    its = []
    for i in range(PR_ITER):
        its.append(
            f"""r{i + 1} AS (
        SELECT e.dst AS node,
               CAST(ROUND({teleport_u!r} / n.n
                    + {PR_DAMP!r} * CAST(SUM(CAST(ROUND(CAST(r.r AS DOUBLE)
                                                        / dg.deg) AS BIGINT))
                                         AS DOUBLE)) AS BIGINT) AS r
        FROM edges e
        JOIN r{i} r ON e.src = r.node
        JOIN deg dg ON dg.src = e.src
        CROSS JOIN n
        GROUP BY e.dst, n.n)"""
        )
    unrolled = ",\n    ".join(its)
    return f"""WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
        SELECT 'C' || CAST(c AS STRING) AS src, 'S' || CAST(s AS STRING) AS dst
        FROM pairs
        UNION ALL
        SELECT 'S' || CAST(s AS STRING), 'C' || CAST(c AS STRING) FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT node, CAST(ROUND({float(PR_SCALE)!r} / n.n) AS BIGINT) AS r
        FROM nodes CROSS JOIN n),
    {unrolled}
    SELECT node, r AS rank_u, ROUND(r / 1000000.0, 6) AS rank
    FROM r{PR_ITER}
    ORDER BY rank_u DESC, node LIMIT {PR_TOPK}"""


# --- staged edge artifact ---------------------------------------------------
# The edge frame (orders ⋈ lineitem, distinct pairs + degrees: ~1.2M rows at
# sf0.1) is the expensive part of the graph pipeline; every graph consumer in
# a session derives from the same frame. A staging.artifact() over orders +
# lineitem, so a rewritten source within one application restages.

# Read-back frames by artifact path, checkpointed once per session: a plain
# parquet read LOSES the writer's hash-partitioning (no bucketBy metadata),
# so without this cache every PageRank iteration would pay an edge-sized
# exchange for the groupBy(dst) — the cache restores the in-memory path's
# zero-exchange-per-iteration property at the cost of ONE repartition on
# first consumption (flagged by the round-7 advice).
_EDGES_READBACK: dict[str, DataFrame] = {}


def stage_trade_edges(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Materialize the degree-annotated symmetric edge frame (src, dst, deg)
    once per session."""

    def build(tmp: str) -> None:
        edges = trade_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        # deg is NODE-sized (the same broadcast regime as the rank state in
        # _pagerank_core — and the same fallback applies beyond it): with it
        # broadcast, annotating the edges adds no exchange, and the
        # distinct is the staging pipeline's only edge-sized shuffle.
        # The KEYLESS write repartition (r15, verdict item 2) restores the
        # artifact's READ-BACK parallelism that r14 lost: the AQE-coalesced
        # distinct writes only a handful of files (10 at sf0.1 — measured),
        # so every PageRank iteration's join/aggregate map side ran at
        # ~file-count parallelism (driver r14: 1.53→2.64s, c8/c32 = 1.09).
        # Writing _edge_parts files (the session shuffle-partition dial)
        # costs one node-sized exchange per STAGE and zero per consumption —
        # cheaper than repartitioning on every session read-back. Keyless
        # because the r14 audit stands: a parquet read-back carries no
        # hash-partitioning metadata, so no KEYED form can elide any
        # downstream exchange.
        (
            edges.join(F.broadcast(deg), "src")
            .repartition(_edge_parts(edges))
            .write.parquet(tmp)
        )
        # Drop the read-back frame cache on every (re)build (r14 advice): a
        # still-LAZY cached frame holds a scan of the files the swap is
        # about to delete — its first later action would hit
        # FileNotFoundException. Re-creating the frame is one cheap re-read
        # of the node-sized artifact; rows are byte-equivalent either way
        # (deterministic pipeline over the same inputs).
        _EDGES_READBACK.clear()

    return artifact(spark, "edges_stage", sf_dir, ("orders", "lineitem"), build, force)


def staged_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, deg) from the staged artifact — stages on first use.

    The returned frame is localCheckpointed lazily (once per session, see
    _EDGES_READBACK) so PageRank's ~7 accesses per run read cached blocks
    instead of re-decoding the parquet. Scan parallelism comes from the
    artifact's FILE LAYOUT (stage_trade_edges writes _edge_parts files, one
    scan partition each at these sizes) — no per-session repartition
    needed; see the write-side comment for the r14 regression this
    restores."""
    path = stage_trade_edges(spark, sf_dir)
    df = _EDGES_READBACK.get(path)
    if df is None:
        df = spark.read.parquet(path).localCheckpoint(eager=False)
        _EDGES_READBACK[path] = df
    return df


@query(
    "trade_edges_stage",
    """WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT side, CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src_nodes
    FROM (
        SELECT 'C' AS side, 'C' || CAST(c AS STRING) AS src FROM pairs
        UNION ALL
        SELECT 'S' AS side, 'S' || CAST(s AS STRING) AS src FROM pairs)
    GROUP BY side""",
)
def q_trade_edges_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-time edge-staging pipeline, force-re-run so its cost stays
    measured in bench (same contract as ngram_pairs_stage): builds the
    distinct customer↔supplier pair frame with degrees and writes the
    dst-partitioned artifact. Returns a per-side summary the oracle
    replays from the raw tables."""
    stage_trade_edges(spark, sf_dir, force=True)
    ed = staged_trade_edges(spark, sf_dir)
    return ed.groupBy(F.substring("src", 1, 1).alias("side")).agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.count_distinct("src").cast("bigint").alias("n_src_nodes"),
    )


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric customer↔supplier edge frame from the order network.

    The DISTINCT runs on the raw (custkey, suppkey) INT pair — 16 bytes/row
    through the dedup exchange — and the typed node labels are built
    afterwards (a narrow projection): at 100 TB the distinct is the only
    edge-sized shuffle in the whole staging pipeline, so its row width is
    the staging cost.

    The pair frame is localCheckpointed (lazy): the symmetric union below
    references it twice and the staging pipeline's degree aggregate
    references the union again, so by-lineage reuse re-expanded the
    orders⋈lineitem+distinct subtree into every reference — the staged
    write planned 16 FileScans / 22 Exchanges, paying the pair join and
    its dedup exchange 4x (guide §2.4: remove repeated shuffles by
    materializing the shared frame once; the same by-result-reuse trade as
    ngram_jaccard_pairs' signature checkpoint). After: 2 FileScans, one
    pair join, one distinct exchange — every union branch and the degree
    aggregate read the checkpoint blocks."""
    cat = load_catalog(spark, sf_dir)
    pairs = (
        cat.table("orders")
        .select("o_orderkey", "o_custkey")
        .join(cat.table("lineitem").select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


@query("pagerank_trade_network", _pagerank_oracle())
def q_pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} nodes by 5-iteration PageRank over the customer↔supplier
    trading graph (module docstring has the full scale/parity story).
    Consumes the per-session staged edge artifact, so the recurring cost is
    the iterations themselves; the edge build is benched separately as
    trade_edges_stage."""
    ranks = _pagerank_core(staged_trade_edges(spark, sf_dir))
    return (
        ranks.select(
            "node", "rank_u", F.round(F.col("rank_u") / 1_000_000.0, 6).alias("rank")
        )
        .orderBy(F.desc("rank_u"), F.asc("node"))
        .limit(PR_TOPK)
    )
