"""Operator semantics for operators/graph.py (synthetic link graph +
all-integer PageRank). The cross-engine value parity lives in
tests/test_oracle_parity.py / test_oracle_edge.py ("pagerank"); these
tests pin the semantics against a pure-Python fixed-point replay and the
graph-shaping rules."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark.operators import graph as GR

SCALE = GR.PR_SCALE


def _py_pagerank(n_nodes, edges, iterations=8, damping=85, scale=SCALE):
    """Serial replay of the exact integer recurrence in graph.pagerank."""
    nodes = list(range(n_nodes))
    out_deg = {}
    inbound = {v: [] for v in nodes}
    for u, v in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    for u, v in edges:
        inbound[v].append(u)
    tele = ((100 - damping) * (scale // n_nodes)) // 100
    rank = {v: scale // n_nodes for v in nodes}
    for _ in range(iterations):
        share = {u: rank[u] // out_deg[u] for u in out_deg}
        rank = {
            v: tele + (damping * sum(share[u] for u in inbound[v])) // 100
            for v in nodes
        }
    return rank


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    """Run with spark.sql.autoBroadcastJoinThreshold at ``value`` (None: the
    session's own); "-1" pins pagerank's Spark loop."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        if value is not None:
            spark.conf.set(key, value)
        yield
    finally:
        spark.conf.set(key, old)


def test_pagerank_matches_serial_fixed_point(spark):
    # hand graph: a hub (0), a sink chain, a dangling node (4 has no
    # out-edges -> its mass leaks, pinned semantics)
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 2)]
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    want = _py_pagerank(5, edges, iterations=8)
    for threshold in (None, "-1"):  # the driver finish; the loop
        with _broadcast_threshold(spark, threshold):
            got = {
                r["node"]: r["rank"]
                for r in GR.pagerank(nodes_df, edges_df, iterations=8).collect()
            }
        assert got == want
    # dangling node 4 has no in-edges either: rank == bare teleport term
    assert got[4] == ((100 - 85) * (SCALE // 5)) // 100
    # mass never exceeds the scale (truncation + dangling only leak)
    assert sum(got.values()) <= SCALE


def test_pagerank_more_inlinks_more_rank(spark):
    # 0 receives from everyone (and funnels all its mass to 1);
    # 9 receives from nobody and must sit at the bare teleport term
    edges = [(u, 0) for u in range(1, 10)] + [(0, 1)]
    nodes_df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in GR.pagerank(nodes_df, edges_df, iterations=4).collect()
    }
    tele = ((100 - 85) * (SCALE // 10)) // 100
    assert got[9] == tele
    assert got[0] > got[9] and got[1] > got[9]
    # 2..8 receive only node 1's split share — below the two hubs
    assert all(got[0] > got[v] and got[1] > got[v] for v in range(2, 9))


def test_synth_link_graph_shape(spark):
    nodes = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    e = GR.synth_link_graph(nodes, n_links=3, salt="pr")
    rows = e.collect()
    # no self-loops, targets inside the id space, multi-edges collapsed
    assert all(r["src"] != r["dst"] for r in rows)
    assert all(0 <= r["dst"] < 50 for r in rows)
    assert len(rows) == len({(r["src"], r["dst"]) for r in rows})
    # at most n_links per source, and the md5 draw is deterministic
    per_src = {}
    for r in rows:
        per_src[r["src"]] = per_src.get(r["src"], 0) + 1
    assert max(per_src.values()) <= 3
    again = {(r["src"], r["dst"]) for r in GR.synth_link_graph(nodes).collect()}
    assert again == {(r["src"], r["dst"]) for r in rows}


def test_synth_link_graph_drops_missing_targets(spark):
    # ids 10..19: the md5 targets index 0..9, none of which exist -> the
    # semi join must keep the graph well-formed (possibly empty)
    nodes = spark.createDataFrame([(i + 10,) for i in range(10)], "doc_id long")
    e = GR.synth_link_graph(nodes, n_links=3)
    assert e.count() == 0
    # pagerank still runs: everyone sits at the bare teleport term
    got = GR.pagerank(nodes, e, iterations=2).collect()
    tele = ((100 - 85) * (SCALE // 10)) // 100
    assert {r["rank"] for r in got} == {tele}


def test_pagerank_checkpoint_path_identical(spark):
    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    edges = GR.synth_link_graph(nodes, n_links=3).localCheckpoint(eager=True)
    with _broadcast_threshold(spark, "-1"):  # the loop, where checkpoints are
        a = {
            r["node"]: r["rank"]
            for r in GR.pagerank(nodes, edges, iterations=6, checkpoint_every=2).collect()
        }
        b = {
            r["node"]: r["rank"]
            for r in GR.pagerank(nodes, edges, iterations=6, checkpoint_every=0).collect()
        }
    assert a == b
    # and the driver finish agrees with both
    assert {r["node"]: r["rank"] for r in GR.pagerank(nodes, edges, iterations=6).collect()} == a


def test_pagerank_and_synth_link_graph_reject_nonpositive_n(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n must be positive"):
            GR.pagerank(nodes, edges, n=bad)
        with pytest.raises(ValueError, match="n must be positive"):
            GR.synth_link_graph(nodes, n=bad)


def test_pagerank_broadcast_gate_follows_session_threshold(spark):
    """The loop's rank/degree joins get a broadcast hint only when the
    estimated table (64 B x n) fits under spark.sql.autoBroadcastJoinThreshold;
    a threshold <= 0 (broadcasting off) or below the estimate gives no hint.
    The loop runs with hints when the node ids fit but the edge list (16 B
    per edge) does not: 10 nodes (640 B) and 50 edges (800 B) at 700 B. At
    the default threshold the driver finish runs, with no joins at all.
    Ranks are the same every way."""
    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, (i + k) % 10) for i in range(10) for k in range(1, 6)], "src long, dst long"
    )

    def run():
        ranks = GR.pagerank(nodes, edges, iterations=2)
        plan = ranks._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("strategy=broadcast"), sorted(ranks.collect())

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        n_hints, want = run()
        assert n_hints == 0  # the driver finish's LocalRelation
        spark.conf.set(key, "700")
        n_hints, got = run()
        assert n_hints > 0 and got == want
        for value in ("-1", "100"):  # off; below the 640 B estimate
            spark.conf.set(key, value)
            assert run() == (0, want)
    finally:
        spark.conf.set(key, old)


def test_pagerank_driver_finish_matches_loop(spark):
    """The driver finish returns the loop's ranks, degrees and column types
    on a messy graph: a null node id, duplicate node rows, a duplicate
    edge, a self-loop, a dangling node, edges with a null endpoint, and
    edges whose source or target is not a node; also with a caller-passed
    n. The finish's output is a LocalRelation."""
    nodes = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (3,), (4,), (None,)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (2, 2), (3, 0), (3, None),
         (None, 1), (7, 1), (1, 9)],
        "src long, dst long",
    )
    for kwargs in ({"iterations": 5}, {"iterations": 3, "n": 5}, {"iterations": 0}):
        out = {}
        for threshold in (None, "-1"):
            with _broadcast_threshold(spark, threshold):
                ranks = GR.pagerank(nodes, edges, **kwargs)
                plan = ranks._jdf.queryExecution().optimizedPlan().toString()
                assert ("LocalRelation" in plan) == (threshold is None), plan
                out[threshold] = (
                    sorted(ranks.collect(), key=lambda r: (r["node"] is None, r["node"] or 0)),
                    [(f.name, f.dataType) for f in ranks.schema.fields],
                )
        assert out[None] == out["-1"], kwargs
    # the null node has zero degrees
    null_row = out[None][0][-1]
    assert null_row["node"] is None and (null_row["in_deg"], null_row["out_deg"]) == (0, 0)


def _py_triangles(und_edges):
    """Brute-force per-node triangle counts + lcc_e6 over a canonical
    undirected edge list — the serial reference for triangle_counts."""
    from itertools import combinations

    adj = {}
    for u, v in und_edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    for n, nbrs in adj.items():
        for a, b in combinations(sorted(nbrs), 2):
            if b in adj[a]:
                tri[n] += 1
    out = {}
    for n, nbrs in adj.items():
        d = len(nbrs)
        lcc = (2 * tri[n] * 1_000_000) // (d * (d - 1)) if d >= 2 else 0
        out[n] = (d, tri[n], lcc)
    return out


def test_undirected_edges_canonicalizes(spark):
    # self-loop dropped; (u,v)+(v,u) and duplicates collapse to one u<v row
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (5, 4)], "src long, dst long"
    )
    got = sorted((r["u"], r["v"]) for r in GR.undirected_edges(edges).collect())
    assert got == [(1, 2), (4, 5)]


def test_triangle_counts_match_brute_force(spark):
    # K4 (every node in 3 triangles, lcc=1) + a pendant off node 0 + a
    # disjoint path 10-11-12 (zero triangles, lcc 0 for the middle node)
    und = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(0, 9)]
        + [(10, 11), (11, 12)]
    )
    df = spark.createDataFrame(und, "u long, v long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_e6"])
        for r in GR.triangle_counts(df).collect()
    }
    assert got == _py_triangles(und)
    # spot-pins: interior K4 node fully clustered; pendant 9 deg-1 row
    # present with zeros; path middle node has neighbors but no closure
    assert got[1] == (3, 3, 1_000_000)
    assert got[9] == (1, 0, 0)
    assert got[11] == (2, 0, 0)


def test_triangle_counts_hub_skew_shape(spark):
    # star hub of degree 20 + one closing rim edge: exactly ONE triangle,
    # counted once for each corner — the degree-ordered orientation must
    # not double-count around the hub (the naive wedge join's failure)
    und = [(0, i) for i in range(1, 21)] + [(1, 2)]
    df = spark.createDataFrame(und, "u long, v long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_e6"])
        for r in GR.triangle_counts(df).collect()
    }
    assert got == _py_triangles(und)
    assert got[0][1] == 1 and got[1][1] == 1 and got[2][1] == 1
    # hub lcc: 2*1*1e6 // (20*19)
    assert got[0][2] == 2_000_000 // 380


def test_triangle_counts_on_synth_graph_matches_brute(spark):
    # the contract entry's graph shape: md5-synthesised links, 60 nodes
    nodes = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    edges = GR.synth_link_graph(nodes, n_links=4, salt="tri")
    und_df = GR.undirected_edges(edges)
    und = [(r["u"], r["v"]) for r in und_df.collect()]
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_e6"])
        for r in GR.triangle_counts(und_df).collect()
    }
    assert got == _py_triangles(und)
