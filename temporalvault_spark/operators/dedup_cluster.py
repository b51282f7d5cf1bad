"""Transitive dedup clustering: near-dup PAIRS become duplicate GROUPS via
connected components — the step every corpus-dedup pipeline needs after LSH
(keep one doc per component, not per pair).

Algorithm: min-label propagation with pointer jumping — each iteration
(1) every node adopts the minimum label in its neighborhood, then
(2) chases labels one level (node's label := its label's label). Step (1)
alone converges in O(diameter); the pointer-jumping step halves label-chain
lengths so convergence is O(log diameter) — a 46-node chain converges in a
handful of rounds instead of 45. Each iteration is two joins + an aggregate
(all DataFrame ops, shuffle on node id); the loop is driver-side but the
DATA never leaves the cluster — only the converged bit comes back per round.
Non-convergence within max_iter raises instead of returning a silently
wrong partition.

The Spark side is iterative, but the RESULT (min-id labeling of connected
components) is SQL-expressible as a recursive-CTE reachability closure —
the registered DuckDB oracle replays it exactly, and
tests/test_llm_dedup.py additionally pins exact components on crafted
graphs over both execution paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog
from temporalvault_spark.operators.llm import (
    NGRAM_BROADCAST_MAX_DOCS,
    NGRAM_PAIRS_SQL,
    ngram_jaccard_pairs,
    staged_ngram_pairs,
)
from temporalvault_spark.registry import query


SMALL_GRAPH_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    pre_materialized: bool = False,
) -> DataFrame:
    """edges(src, dst) → (node, component) where component is the minimum
    node id reachable. Undirected.

    Hybrid execution, the standard shape for dedup graphs: near-dup edge
    sets are a tiny fraction of the corpus (pairs ≪ docs by LSH
    construction), so when the materialized edge count is ≤
    ``small_graph_edges`` the component computation runs as driver-side
    union-find over the collected pairs — one collect of slim (src, dst)
    ids, zero iterative jobs — and the result is parallelized back. Above
    the threshold (or with small_graph_edges=0, which the distributed-path
    tests force) it runs the fully distributed min-label-propagation loop;
    both paths produce the identical min-id labeling."""
    # checkpoint the edge list BEFORE symmetrizing: the union references the
    # edges subtree twice by lineage, so an expensive upstream producer
    # (e.g. the LSH pair pipeline) would otherwise execute twice inside the
    # first materialization — and again in every loop round via sym.
    # ``pre_materialized=True`` (the caller vouches the frame is already a
    # materialized, re-scannable source — e.g. the staged pair PARQUET
    # artifact) skips that copy: re-scanning the artifact is cheaper than
    # one extra blocking job + a block-manager copy of it (r15 interleaved
    # A/B on dedup_components at sf0.1: min 1.21 → 1.08s, rows identical).
    edges = edges.selectExpr("src", "dst")
    if not pre_materialized:
        edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()  # on the checkpoint this counts cached blocks
    if n_edges <= small_graph_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        edge_rows = edges.collect()
        nodes = set()
        for r in edge_rows:
            s, d = r["src"], r["dst"]
            nodes.add(s)
            nodes.add(d)
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)  # smaller id becomes the root
        rows = [(int(n), int(find(n))) for n in sorted(nodes)]
        return edges.sparkSession.createDataFrame(rows, "node bigint, component bigint")
    sym = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    labels = (
        sym.select(F.col("src").alias("node"))
        .union(sym.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # truncate lineage each round: without the checkpoint, iteration i's
    # changed-count action re-executes all i prior join+agg rounds from the
    # raw edges (O(iter²) work and an ever-deepening plan)
    sym = sym.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)

    def label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)")).alias("s")).first()["s"]

    old_sum = label_sum(labels)
    for _ in range(max_iter):
        # (1) each node adopts min(own label, neighbors' labels)
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("node", "dst2"),
                     F.col("dst") == F.col("dst2"))
            .select(F.col("src").alias("node"), F.col("component"))
        )
        hop = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # (2) pointer jumping: chase each label one level (label := label's
        # label) so chains collapse geometrically, not one hop per round
        lookup = hop.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        new_labels = (
            hop.join(lookup, hop["component"] == lookup["c_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("c_comp"), F.col("component"))
                ).alias("component"),
            )
            # lazy: the label-sum action right below materializes the
            # checkpoint, so each round runs ONE job, not a checkpoint job
            # plus a convergence job
            .localCheckpoint(eager=False)
        )
        # fixpoint check without a join: every node's label is non-increasing
        # round over round (both steps take a min against the old label), so
        # the label SUM strictly decreases until convergence and equality
        # means no node changed. One narrow aggregate over the checkpointed
        # frame instead of a new-vs-old join per round (the previous round's
        # sum is carried, so it's ONE extra job per round, not two);
        # decimal(38) so the sum can't overflow at any corpus size.
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == old_sum:
            return labels
        old_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} iterations "
        "— raise max_iter (component diameter exceeds 2^iterations)"
    )


# DuckDB twin: the Spark side's iterative label propagation is replayed as
# recursive-CTE MIN-LABEL PROPAGATION — each round the recursive term emits
# at most one improved (node, label) row per node (GROUP BY s.dst with MIN
# over the frontier; UNION dedups repeats, so the recursion reaches fixpoint
# after ~diameter rounds), and MIN(lbl) per node over everything emitted is
# exactly the min-id component labeling both engine paths produce.
# O(nodes · diameter) work — a full reachability closure is O(nodes²) and
# measured 15x slower on degenerate near-complete components.
# the shared CTE prefix: near-dup pairs -> min-label components (comp);
# dedup_components and dedup_near_apply both interpolate it (one rendering)
_COMPONENTS_CTES = f"""pairs AS ({NGRAM_PAIRS_SQL}),
sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
walk(node, lbl) AS (
    SELECT src, src FROM sym
    UNION
    SELECT s.dst, MIN(w.lbl) FROM walk w JOIN sym s ON s.src = w.node
    GROUP BY s.dst
),
comp AS (SELECT node, MIN(lbl) AS keep_doc_id FROM walk GROUP BY node)"""

_COMPONENTS_ORACLE = f"""WITH RECURSIVE {_COMPONENTS_CTES},
sizes AS (SELECT keep_doc_id, COUNT(*) AS group_size FROM comp GROUP BY keep_doc_id)
SELECT comp.node AS doc_id, comp.keep_doc_id, sizes.group_size
FROM comp JOIN sizes USING (keep_doc_id)"""


@query("dedup_components", _COMPONENTS_ORACLE)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups over the shingle-jaccard near-dup graph: each doc
    mapped to its component representative (min doc_id), plus component size.
    Downstream 'keep one per group' is a filter on doc_id == component."""
    comps = near_dup_components(
        load_catalog(spark, sf_dir).table("documents"),
        pairs=staged_ngram_pairs(spark, sf_dir),
    )
    sizes = comps.groupBy("component").agg(F.count("*").alias("group_size"))
    return (
        comps.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id"), "group_size")
        .orderBy("doc_id")
    )


def near_dup_components(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """(node, component) over the shingle-jaccard near-dup graph — the one
    place the LSH pair pipeline meets the components solver (dedup_components
    and dedup_near_apply both call it). ``pairs`` (doc_a, doc_b, ...) lets a
    caller hand in the STAGED pair artifact (llm.staged_ngram_pairs) so the
    LSH pipeline runs once per session instead of once per consumer; when
    omitted the self-contained pipeline runs from ``docs``.

    Contract for a supplied ``pairs``: it must already be MATERIALIZED —
    parquet-backed (a staged artifact) or checkpointed. It is handed to the
    solver with ``pre_materialized=True``, which skips the defensive
    checkpoint of the edge list, so a lazy pipeline would be re-run by
    every job the solver launches."""
    if pairs is None:
        return connected_components(
            ngram_jaccard_pairs(docs).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(edges, pre_materialized=True)


@query(
    "dedup_near_apply",
    f"""WITH RECURSIVE {_COMPONENTS_CTES},
    drop AS (SELECT node FROM comp WHERE node <> keep_doc_id)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM drop WHERE drop.node = d.doc_id)
    GROUP BY d.source""",
)
def q_dedup_near_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the near-dup clustering: keep each component's representative
    (min doc_id), drop the other members, summarize the surviving corpus
    per source — the step that actually shrinks the training set after
    dedup_components names the groups (the near-dup twin of exact
    ``dedup_apply``). Docs outside the near-dup graph survive untouched.

    Scale shape: the drop set is (component members - representatives) —
    slim doc_ids only, bounded by the duplicate count; the corpus-side
    anti-join broadcasts it under the same size gate the ngram pipeline
    uses (checkpointed frames have no stats, so the hint is load-bearing),
    else shuffles. The summary is one map-side-combined aggregate."""
    docs = load_catalog(spark, sf_dir).table("documents")
    comps = near_dup_components(docs, pairs=staged_ngram_pairs(spark, sf_dir))
    drop = (
        comps.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    hint = F.broadcast if drop.count() <= NGRAM_BROADCAST_MAX_DOCS else (lambda d: d)
    kept = docs.join(hint(drop), "doc_id", "anti")
    return kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


@query(
    "dedup_soft_weights",
    f"""WITH RECURSIVE {_COMPONENTS_CTES},
    sizes AS (SELECT keep_doc_id, COUNT(*) AS group_size FROM comp
              GROUP BY keep_doc_id),
    m AS (SELECT comp.node AS doc_id, sizes.group_size
          FROM comp JOIN sizes USING (keep_doc_id))
    SELECT d.doc_id,
           CAST(COALESCE(m.group_size, 1) AS BIGINT) AS group_size,
           ROUND(CAST(1.0 AS DOUBLE) / COALESCE(m.group_size, 1), 6) AS weight
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""",
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: keep every document, weight it 1/|near-dup group| — the
    inverse-multiplicity reweighting training pipelines use when hard
    dropping is too blunt (each duplicate cluster contributes one document
    of expected mass to a weight-proportional sampler, but surface
    diversity inside the cluster survives). Docs outside the near-dup
    graph weigh 1.0; the hard-drop twin is dedup_near_apply.

    Scale shape: reuses the session-staged LSH pair artifact and the
    min-label components solver; the (doc_id, group_size) map is bounded
    by the DUPLICATE count, so it broadcasts onto the corpus under the
    same size gate as dedup_near_apply (one corpus-side scan, no corpus
    shuffle), else shuffles. Parity: weight = ROUND(1/size, 6) is a
    correctly-rounded IEEE division of exact integers — engine-independent
    (the oracle casts its 1.0 to DOUBLE to avoid DuckDB's DECIMAL
    division)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    comps = near_dup_components(docs, pairs=staged_ngram_pairs(spark, sf_dir))
    sizes = comps.groupBy("component").agg(F.count("*").alias("group_size"))
    m = (
        comps.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "group_size")
        .localCheckpoint(eager=False)
    )
    hint = F.broadcast if m.count() <= NGRAM_BROADCAST_MAX_DOCS else (lambda d: d)
    gs = F.coalesce(F.col("group_size"), F.lit(1)).cast("bigint")
    return docs.select("doc_id").join(hint(m), "doc_id", "left").select(
        "doc_id",
        gs.alias("group_size"),
        F.round(F.lit(1.0) / gs, 6).alias("weight"),
    )
