"""Link-graph analytics for crawl-derived corpora.

Web-scale training corpora weight and seed their crawls with link-graph
centrality (CCNet / Gopher-style quality signals rank hosts by a
PageRank-family score before content filters run).  The reference engine
has no graph operator — connected components (operators/dedup.py) covers
its dedup clustering — so this module is part of the additive
LLM-data-pipeline suite: a deterministic synthetic link graph over the
document id space plus an all-integer PageRank whose fixed-point
arithmetic replays exactly in DuckDB (the kmeans/CC "unrolled
iterations" oracle precedent, contract.py:_kmeans_sql / CC_SQL).

Scale notes (100 TB / 10^11-edge graph):
- Edge synthesis is one narrow projection + explode(k) over the node
  table, then a semi join against the node list to keep the graph
  well-formed — no self-join, no collect.
- Each PageRank iteration is the canonical two-shuffle plan: ranks
  (|V| rows, 2 columns) join out-degrees on node, the big edge table
  joins that share table on src, and one partially-aggregable
  groupBy(dst) sum. The edge table is the only large operand; it is
  re-read per iteration but never widened. Lineage is truncated with
  localCheckpoint every ``checkpoint_every`` iterations (operators/
  bpe.py precedent) so a 50-iteration run does not accumulate a
  50-join plan.
- All mass arithmetic is BIGINT fixed-point (scale 10^12): rank mass
  is bounded by the scale, so 85 * rank < 8.5e13 never approaches the
  BIGINT range, and the integer division order (share first, damping
  second) is pinned and replayed verbatim by the oracle.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.frames import (
    broadcast_threshold,
    collect_within_budget,
    release_frame,
    values_frame,
)
from .corpus import _md5_bucket

PR_SCALE = 10**12


def synth_link_graph(
    nodes: DataFrame,
    n_links: int = 3,
    salt: str = "pr",
    n: int | None = None,
) -> DataFrame:
    """Deterministic synthetic link graph over an id space: node u emits
    ``n_links`` directed edges whose targets are md5-uniform draws from
    the 0..N-1 index space (N = |nodes|, one bounded count collected
    driver-side). Targets that miss the actual id set (non-contiguous
    ids) and self-loops are dropped, multi-edges collapse — both engines
    apply the same rules, so the graph is exact cross-engine.

    Returns (src, dst) BIGINT edges.
    """
    # n may be passed by a caller that already knows |nodes| (the pagerank
    # contract entry counts the same id set twice otherwise — one
    # distinct+count job saved; value-identical by definition)
    if n is not None and n <= 0:
        raise ValueError(f"synth_link_graph: n must be positive, got {n}")
    if n is None:
        n = nodes.select("doc_id").distinct().count()
    ids = nodes.select(F.col("doc_id").cast("bigint").alias("src")).distinct()
    raw = ids.select(
        "src", F.explode(F.sequence(F.lit(1), F.lit(n_links))).alias("j")
    ).select(
        "src",
        _md5_bucket(
            F.concat(F.lit(f"{salt}:"), F.col("src").cast("string"), F.lit(":"), F.col("j").cast("string")),
            15,
            n,
        ).alias("dst"),
    )
    node_set = ids.select(F.col("src").alias("dst"))
    return (
        raw.where(F.col("src") != F.col("dst"))
        .join(node_set, "dst", "left_semi")
        .select("src", "dst")
        .distinct()
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 8,
    checkpoint_every: int = 16,
    n: int | None = None,
) -> DataFrame:
    """All-integer fixed-point PageRank (Page et al. 1999; damping as the
    integer percentage d = 85, ranks in units of ``PR_SCALE``).

    Per node v each iteration::

        share(u)  = rank(u) DIV out_deg(u)                 (u with out-edges)
        rank'(v)  = ((100-d) * (PR_SCALE DIV N)) DIV 100
                  + (d * sum_{u->v} share(u)) DIV 100

    Every operation is BIGINT; integer-division truncation and dangling /
    dropped-target mass leaks are part of the pinned semantics (both
    deterministic), so the DuckDB oracle unrolling the same ``iterations``
    reproduces the ranks bit-exactly — no FP convergence tolerance exists
    anywhere. ``iterations`` is a fixed hyperparameter, not a convergence
    loop: at damping 0.85 eight rounds contract the rank residual by
    0.85^8 ≈ 0.27, the standard "fixed-sweep" operating point for
    quality-weighting (exactness across engines is what the gate checks;
    more sweeps are a parameter, not a code path).

    Small graphs never enter the loop: when the distinct node ids fit the
    session's ``autoBroadcastJoinThreshold`` at 64 B per node (the gate
    of the loop's broadcast hints below), they are collected once and
    :func:`pagerank_on_driver` finishes. A caller-passed ``n`` over that
    gate skips the collect, and a threshold <= 0 always runs the loop.

    Returns (node, rank, in_deg, out_deg): rank in PR_SCALE units, and each
    node's edge counts as target and as source.
    """
    if n is not None and n <= 0:
        raise ValueError(f"pagerank: n must be positive, got {n}")
    spark = nodes.sparkSession
    # flat materialized node table (r6): node_t and out_deg are referenced
    # by EVERY iteration's plan, so with lineage-bearing frames the final
    # action's analysis walks `iterations` copies of the upstream scan
    # plan. The bounded collect reads the checkpoint, so above the budget
    # its job has materialized node_t for the count and the loop. With
    # n=None the number of collected ids, or the count below, is n (same
    # distinct id set); a caller-passed n is TRUSTED — it must equal
    # count(distinct cast(id as bigint)) or the teleport term and seed
    # mass are silently wrong (the contract entry passes the doc_id
    # primary-key count, identical by definition).
    node_t = nodes.select(F.col("doc_id").cast("bigint").alias("node")).distinct()
    node_t = node_t.localCheckpoint(eager=False)
    if n is None or n * 64 < broadcast_threshold(spark):
        ids = collect_within_budget(node_t, 64)
        if ids:  # no nodes: the loop's count raises
            ranks = pagerank_on_driver([r[0] for r in ids], edges, iterations, n)
            if ranks is not None:
                release_frame(node_t)
                return ranks
            n = n or len(ids)
    edges = edges.localCheckpoint(eager=False)
    if n is None:
        n = node_t.count()
    if n <= 0:
        raise ValueError(f"pagerank: n must be positive, got {n}")
    teleport = ((100 - 85) * (PR_SCALE // n)) // 100
    # A checkpointed LogicalRDD carries NO size statistics, so without a
    # hint every per-iteration join planned as SortMergeJoin (16 extra
    # sort+exchange pairs for 8 rounds — the semantic_dedup stats lesson,
    # observed as SMJ 0->16 in the r6 plan diff). The rank/degree/share
    # tables are all <= n rows; gate an explicit broadcast on the SAME
    # size logic the planner would apply if it had stats (~64 bytes/row
    # vs the session's autoBroadcastJoinThreshold, read as the typed
    # SQLConf value; <= 0 means broadcasting is off, so no hint). Above
    # the bound the joins stay sort-merge — at 10^9 nodes broadcasting
    # ranks would be wrong, and n is already collected for the teleport
    # term, so the gate costs nothing extra.
    _bcast = n * 64 < broadcast_threshold(spark)
    _hint = F.broadcast if _bcast else (lambda d: d)
    # All joins below are name-based using-joins on freshly-aliased
    # columns: from iteration 2 the ranks lineage contains the edge
    # table, and dataframe-attribute references (df["col"]) trip Spark's
    # ambiguous-self-join detection.
    out_deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("out_deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=False)
    )
    # `pr`, not `rank`, internally: `rank` is a window-function keyword
    # inside F.expr and must not shadow the column reference.
    ranks = node_t.select("node", F.lit(PR_SCALE // n).cast("bigint").alias("pr"))
    for it in range(1, iterations + 1):
        shares = ranks.join(_hint(out_deg), "node").select(
            F.col("node").alias("src"), F.expr("pr DIV out_deg").alias("share")
        )
        contrib = (
            edges.join(_hint(shares), "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
            .withColumnRenamed("dst", "node")
        )
        ranks = node_t.join(_hint(contrib), "node", "left").select(
            "node",
            (
                F.lit(teleport).cast("bigint")
                + F.expr("(85 * coalesce(c, 0)) DIV 100")
            ).alias("pr"),
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    in_deg = (
        edges.groupBy("dst").agg(F.count("*").alias("in_deg")).withColumnRenamed("dst", "node")
    )
    return (
        ranks.join(out_deg, "node", "left")
        .join(in_deg, "node", "left")
        .select(
            "node",
            F.col("pr").alias("rank"),
            F.coalesce(F.col("in_deg"), F.lit(0)).cast("bigint").alias("in_deg"),
            F.coalesce(F.col("out_deg"), F.lit(0)).cast("bigint").alias("out_deg"),
        )
    )


def pagerank_on_driver(
    node_ids: list,
    edges: DataFrame,
    iterations: int = 8,
    n: int | None = None,
) -> DataFrame | None:
    """:func:`pagerank` over node ids already on the driver: the (src, dst)
    edge list is collected once, at 16 B per edge within the broadcast
    budget (None when it does not fit), and the sweeps run in Python.
    Python ints are exact and every value is non-negative, so ``DIV`` is
    ``//``. Null ids follow the loop's joins: a null node keeps the
    teleport term and zero degrees, and an edge with a null endpoint moves
    no mass but counts toward the other endpoint's degree. Returns
    pagerank's (node, rank, in_deg, out_deg) as a LocalRelation."""
    edge_rows = collect_within_budget(edges.select("src", "dst"), 16)
    if edge_rows is None:
        return None
    n = n or len(node_ids)
    out_deg = Counter(src for src, _ in edge_rows)
    in_deg = Counter(dst for _, dst in edge_rows)
    teleport = ((100 - 85) * (PR_SCALE // n)) // 100
    rank = dict.fromkeys(node_ids, PR_SCALE // n)
    moving = [(s, d) for s, d in edge_rows if s is not None and d is not None and s in rank]
    for _ in range(iterations):
        contrib = Counter()
        for src, dst in moving:
            contrib[dst] += rank[src] // out_deg[src]
        rank = {v: teleport + (85 * contrib[v]) // 100 for v in rank}
    rows = [
        (v, r, in_deg[v] if v is not None else 0, out_deg[v] if v is not None else 0)
        for v, r in rank.items()
    ]
    return values_frame(
        edges.sparkSession, rows, "node bigint, rank bigint, in_deg bigint, out_deg bigint"
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set from directed (src, dst) edges:
    (u, v) with u < v, self-loops dropped, multi-edges collapsed."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient via
    degree-ordered orientation (Cohen 2009; Suri & Vassilvitskii 2011 —
    the MapReduce triangle-enumeration standard).

    Each undirected edge {a, b} is oriented from the endpoint that is
    SMALLER under the total order (degree, node) toward the larger; a
    triangle {a < b < c} under that order then appears exactly once, as
    the wedge (a->b, a->c) closed by the oriented edge (b->c). The
    orientation is the whole scale story: every node's oriented
    out-degree is O(sqrt(m)) regardless of its true degree, so the wedge
    self-join fan-out is bounded even for celebrity nodes — the naive
    neighbor self-join is O(d_max^2) per hot node and dies exactly where
    web link graphs are skewed. Three hash joins total (orient, wedge,
    close), all partial shuffles on bigint keys; no global window, no
    collect. All-integer output, so the DuckDB oracle replays it exactly.

    Input: (u, v) canonical undirected edges (see undirected_edges).
    Output: (node, degree, n_triangles, lcc_e6) for every node with
    degree >= 1, where lcc_e6 = (2 * T * 10^6) DIV (deg * (deg - 1))
    (0 when deg < 2) — the local clustering coefficient in fixed-point.
    """
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    # explicit lexicographic (deg, node) compare — identical spelling on
    # both engines, no struct-comparison semantics to trust
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=False)  # feeds three join sides below; the
    # caller's single action fills the checkpoint in one job (r6 - the
    # eager=True form spent a separate scheduled job here)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.a") == F.col("o2.a"))
        .where(
            (F.col("o1.db") < F.col("o2.db"))
            | ((F.col("o1.db") == F.col("o2.db")) & (F.col("o1.b") < F.col("o2.b")))
        )
        .select(
            F.col("o1.a").alias("t1"),
            F.col("o1.b").alias("t2"),
            F.col("o2.b").alias("t3"),
        )
    )
    closer = oriented.select(F.col("a").alias("t2"), F.col("b").alias("t3"))
    tris = wedges.join(closer, ["t2", "t3"])
    per_node = (
        tris.select(F.col("t1").alias("node"))
        .unionAll(tris.select(F.col("t2").alias("node")))
        .unionAll(tris.select(F.col("t3").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("bigint").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.expr("(2 * coalesce(n_tri, 0) * 1000000) DIV (deg * (deg - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lcc_e6"),
    )
