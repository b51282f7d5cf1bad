"""PageRank: crafted-graph values vs an independent Python replay of the
integer-µ recurrence, plus structural properties (mass, symmetry, hubs)."""

import pytest

from temporalvault_spark.operators.graph import PR_DAMP, PR_SCALE, pagerank_int


def _ref_pagerank(edges, n_iter=5, damp=PR_DAMP):
    """Pure-Python replay of the integer micro-unit recurrence."""
    nodes = sorted({s for s, _ in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    r = {v: round(float(PR_SCALE) / n) for v in nodes}
    for _ in range(n_iter):
        s = dict.fromkeys(nodes, 0)
        for a, b in edges:
            s[b] += round(r[a] / deg[a])
        r = {v: round((1 - damp) * PR_SCALE / n + damp * float(s[v])) for v in nodes}
    return r


@pytest.fixture()
def path_graph(spark):
    # symmetric path A-B-C: B is the hub
    e = [("A", "B"), ("B", "A"), ("B", "C"), ("C", "B")]
    return e, spark.createDataFrame(e, "src string, dst string")


def test_pagerank_matches_python_replay(spark, path_graph):
    edges, df = path_graph
    got = {r["node"]: r["rank_u"] for r in pagerank_int(df).collect()}
    assert got == _ref_pagerank(edges)


def test_pagerank_hub_ranks_highest(spark, path_graph):
    _, df = path_graph
    got = {r["node"]: r["rank_u"] for r in pagerank_int(df).collect()}
    assert got["B"] > got["A"] == got["C"]  # symmetry: leaves tie exactly


def test_pagerank_mass_conserved(spark, path_graph):
    _, df = path_graph
    total = sum(r["rank_u"] for r in pagerank_int(df).collect())
    # symmetric graph, no dangling mass: total stays within rounding of 1.0
    assert abs(total - PR_SCALE) <= 10


def test_pagerank_regular_graph_is_uniform(spark):
    # 4-cycle: every node identical by symmetry -> exactly equal ranks
    e = [("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"),
         ("C", "D"), ("D", "C"), ("D", "A"), ("A", "D")]
    df = spark.createDataFrame(e, "src string, dst string")
    ranks = {r["rank_u"] for r in pagerank_int(df).collect()}
    assert ranks == {round(PR_SCALE / 4)}


def test_edges_stage_key_tracks_source_rewrites(spark, tmp_path):
    """The per-session edge-stage cache must restage when orders/lineitem
    are rewritten (the staging.fingerprint freshness contract)."""
    import os
    import shutil

    from temporalvault_spark.staging import fingerprint

    d = str(tmp_path)
    for t in ("orders", "lineitem"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet")
    k1 = fingerprint(spark, d, ("orders", "lineitem"))
    os.utime(f"{d}/lineitem.parquet", ns=(1, 1))  # simulate rewrite
    k2 = fingerprint(spark, d, ("orders", "lineitem"))
    assert k1 != k2
    assert k1[0] == spark.sparkContext.applicationId


def test_pagerank_copartition_fallback_value_identical(spark, path_graph):
    """Forcing the co-partition regime (broadcast_max_nodes=0) must change
    ONLY the join strategy: ranks stay identical to the broadcast path and
    to the Python replay."""
    from pyspark.sql import functions as F

    from temporalvault_spark.operators.graph import _pagerank_core

    edges, df = path_graph
    deg = df.groupBy("src").agg(F.count("*").alias("deg"))
    ed = df.join(deg, "src").localCheckpoint(eager=True)
    bc = {r["node"]: r["rank_u"] for r in _pagerank_core(ed).collect()}
    sh = {
        r["node"]: r["rank_u"]
        for r in _pagerank_core(ed, broadcast_max_nodes=0).collect()
    }
    assert bc == sh == _ref_pagerank(edges)


def test_pagerank_iteration_plan_broadcast_vs_shuffle(spark, path_graph):
    """Plan pin for the automatic switch: an iteration step plans as
    BroadcastHashJoin in the broadcast regime and ShuffledHashJoin (never
    broadcast, never cartesian) in the forced co-partition regime."""
    from pyspark.sql import functions as F

    from temporalvault_spark.operators.graph import PR_DAMP, _iterate
    from temporalvault_spark.plans import plan_counts

    _, df = path_graph
    deg = df.groupBy("src").agg(F.count("*").alias("deg"))
    ed = df.join(deg, "src").localCheckpoint(eager=True)
    ranks = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(250000).cast("long").alias("r")
    ).localCheckpoint(eager=True)

    c_bc = plan_counts(_iterate(ed, ranks, True, 37500.0, PR_DAMP))
    assert c_bc["BroadcastHashJoin"] >= 1
    assert c_bc.get("ShuffledHashJoin", 0) == 0 and c_bc["CartesianProduct"] == 0

    c_sh = plan_counts(_iterate(ed, ranks, False, 37500.0, PR_DAMP))
    assert c_sh.get("ShuffledHashJoin", 0) >= 1
    assert c_sh["BroadcastHashJoin"] == 0 and c_sh["CartesianProduct"] == 0


def test_rank_bcast_byte_estimate_thresholds():
    """The broadcast/co-partition switch is byte-based (r8 advice): short
    string ids fit a few million nodes, but the old 10M-row cap would have
    meant ~10M·80B ≈ 800MB — it must NOT fit under the 256 MiB budget."""
    from temporalvault_spark.operators.graph import (
        PR_BCAST_ROW_OVERHEAD,
        PR_BROADCAST_MAX_BYTES,
        rank_bcast_fits,
    )

    assert rank_bcast_fits(1_000_000, 8.0)  # ~80 MB: broadcast
    assert not rank_bcast_fits(10_000_000, 8.0)  # ~800 MB: co-partition
    # long ids shrink the row budget
    assert not rank_bcast_fits(1_000_000, 200.0)
    # empty-graph guard: no length sample, assumes 8-char ids
    assert rank_bcast_fits(10, None)
    # the boundary is exactly the byte formula
    row = 2.0 * 8.0 + PR_BCAST_ROW_OVERHEAD
    n_edge = int(PR_BROADCAST_MAX_BYTES / row)
    assert rank_bcast_fits(n_edge, 8.0) and not rank_bcast_fits(n_edge + 1, 8.0)
