"""Similarity search over embedding columns (array<float>).

- :func:`brute_topk` — exact cosine top-k; broadcast the (small) query set,
  one pass over the corpus, rank window per query. The baseline.
- :func:`ivf_topk` — IVF-style ANN scale path: per-label centroids (the
  corpus ships a cluster label; at 100 TB a k-means pass would assign it),
  route each query to its nearest centroid, exact search within that
  cluster only. Probed cluster fraction ~ 1/n_labels of the corpus.
- :func:`cosine_near_dup_pairs` — embedding near-dup pairs above a
  threshold (dedup family).

Dot products are `aggregate(zip_with(...))` — JVM-side, no UDF. Scores are
rounded so the DuckDB oracle (list_cosine_similarity) matches bit-for-bit
after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.frames import release_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm vector yields -1.0 (DuckDB's
    list_cosine_similarity convention) instead of an ANSI DIVIDE_BY_ZERO
    error — one poison row must not kill a corpus-wide similarity job."""
    return F.coalesce(
        F.try_divide(_dot(a, b), _norm(a) * _norm(b)), F.lit(-1.0)
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Broadcast the query side (it's small by construction); corpus scans
    once. Returns (query_id, rank, neighbor_id, cos).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def label_centroids(corpus: DataFrame) -> DataFrame:
    """Per-label centroid as (label, dim, cval) rows — posexplode + avg, all
    relational (and therefore oracle-replayable)."""
    return (
        corpus.select(F.col("label"), F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("cval"))
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN: route query -> nearest centroid by cosine, then exact top-3
    within that cluster. Returns (query_id, rank, neighbor_id, cos)."""
    cent = label_centroids(corpus)
    qdims = queries.select(
        F.col("vec_id").alias("query_id"), F.posexplode("embedding").alias("dim", "qv")
    ).withColumn("qv", F.col("qv").cast("double"))
    # query x centroid cosine via the dim join (both sides tiny)
    qc = (
        qdims.join(F.broadcast(cent), "dim")
        .groupBy("query_id", "label")
        .agg(
            F.sum(F.col("qv") * F.col("cval")).alias("dot"),
            F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("qn"),
            F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn"),
        )
        .select(
            "query_id",
            "label",
            F.coalesce(
                F.try_divide(F.col("dot"), F.col("qn") * F.col("cn")), F.lit(-1.0)
            ).alias("ccos"),
        )
    )
    wbest = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("label"))
    routed = qc.withColumn("rn", F.row_number().over(wbest)).where(F.col("rn") == 1).select(
        "query_id", "label"
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    cand = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"), F.col("label")
    ).join(F.broadcast(routed), "label")
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def centroid_classify(corpus: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) classification — the cheap domain/quality
    tagger used to route corpus slices (classify each document embedding
    to the closest labeled-domain centroid): per-label centroids from the
    labeled rows, every vector assigned to its squared-distance argmin
    centroid, confusion counts out. (v-c)*(v-c), not pow: the plain
    multiply is IEEE-exact on both engines (the kmeans_assign convention),
    and the fixture's argmin gaps dwarf avg() summation-order drift.

    Plan shape at scale: centroid table is labels x dims rows — broadcast;
    the per-vector dim join + argmin is one partial-agg groupBy and a
    per-vector (not global) window. Returns (true_label, pred_label, n).
    """
    from ..functions.textfns import let_bound

    # centroids are k x d doubles — collect once and embed as ONE array
    # literal; classification becomes a row-local HOF argmin (the narrow
    # kmeans_assign formulation: no join, no N x d x k shuffle agg).
    # First-minimum position over ascending label ids = the lowest label
    # among exact ties, the same (d2 asc, pred asc) rule as before.
    rows = label_centroids(corpus).collect()
    by_label: dict[int, dict[int, float]] = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["dim"]] = r["cval"]
    cent = [
        (lab, [dims[d] for d in sorted(dims)]) for lab, dims in sorted(by_label.items())
    ]
    ids_sql, cent_sql = _kmeans_centroid_exprs(cent)
    d2s = F.expr(
        f"transform({cent_sql}, c -> aggregate(zip_with(v, c,"
        " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x))"
    )
    pred = let_bound(
        d2s,
        lambda ds: F.element_at(
            F.expr(ids_sql), F.array_position(ds, F.array_min(ds)).cast("int")
        ),
    )
    base = corpus.select(
        F.col("label").alias("true_label"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    return base.select("true_label", pred.alias("pred")).groupBy(
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred").cast("int").alias("pred_label"),
    ).agg(F.count("*").cast("bigint").alias("n"))


def _kmeans_centroid_exprs(cent: list[tuple[int, list[float]]]) -> tuple[str, str]:
    """(cluster-id array literal, centroid array-of-arrays literal) as SQL
    text — ONE literal each (the embed_contamination lesson: thousands of
    Column-API lit() calls cost seconds of driver time per call; a parsed
    literal is free). Python float repr round-trips exactly and Spark
    parses the decimal to the nearest double — the same value."""
    ids_sql = "array(" + ",".join(str(c) for c, _ in cent) + ")"
    cent_sql = "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")" for _, vec in cent
    ) + ")"
    return ids_sql, cent_sql


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
) -> DataFrame:
    """Lloyd's k-means with NARROW assignment (iterative DataFrame
    algorithm): builds the cluster labels the IVF path needs when the
    corpus ships none.

    The centroid table is tiny (k x d doubles), so each iteration collects
    it to the driver (the 1-row-argmax discipline BPE/CC use) and embeds
    it as ONE array literal; assignment is then a row-local HOF argmin —
    zip_with/aggregate squared distance against each centroid, first-min
    position — with NO join, NO shuffle, and no N x d x k intermediate
    (the earlier relational formulation pushed N·d·k rows through a
    shuffle agg per iteration: the scale bottleneck at 10^9 vectors).
    Only the centroid RECOMPUTE touches the cluster key — one
    partial-aggregable explode-agg of N x d rows per iteration.

    Deterministic: seeds are the k smallest ids; squared distance is a
    sequential fold of (a-b)*(a-b) (plain multiply — IEEE-exact on both
    engines); argmin tie-break is the FIRST minimum position over
    ascending cluster ids = the lowest cluster id, exactly the relational
    version's (d2 asc, cluster asc). Fold order differs from the oracle's
    group-agg order only in FP summation order — the fixture's argmin
    gaps dwarf that drift (the kmeans_clusters oracle argument; parity
    pinned at both sf).

    Size boundary: the literal path is for k x d up to ~10^6 values
    (k ~ 16k clusters at 64 dims — every k this package uses). Beyond
    that (SemDeDup at 10^9 vectors wants k ~ 10^5 x 768 dims), embed the
    centroids as a BROADCAST table of (cluster, cvec array) rows and keep
    the same row-local HOF argmin via a broadcast nested-loop of k rows —
    still no N x d x k shuffle; only the literal transport changes.

    Returns (vec_id, cluster).
    """
    from ..functions.textfns import let_bound

    # flat materialized base (r6): the seed collect, every iteration's
    # centroid-recompute collect, and the final assignment each re-ran the
    # corpus scan + repartition and re-analyzed its lineage; the seed
    # collect below materializes the checkpoint (guide §3.3)
    base = corpus.select(
        F.col("vec_id").alias("vid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=False)
    cent = [
        (i, list(r["v"]))
        for i, r in enumerate(base.orderBy("vid").limit(k).collect())
    ]

    def _cluster_expr(cent):
        ids_sql, cent_sql = _kmeans_centroid_exprs(cent)
        d2s = F.expr(
            f"transform({cent_sql}, c -> aggregate(zip_with(v, c,"
            " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x))"
        )
        # d2 array let-bound: array_position + array_min both read it —
        # referencing the computed transform twice re-evaluates all k
        # distance folds per access (the HOF trap)
        return let_bound(
            d2s,
            lambda ds: F.element_at(
                F.expr(ids_sql), F.array_position(ds, F.array_min(ds)).cast("int")
            ),
        )

    assign = None
    for it in range(iterations):
        cl = _cluster_expr(cent)
        assign = base.select("vid", cl.alias("cluster"))
        if it < iterations - 1:
            # recompute: one narrow explode + partial-agg avg per
            # (cluster, dim), collected (k x d rows) for the next literal
            # assignment projected BEFORE the posexplode (r6): fused into
            # one select, the Generate node's input projection evaluates
            # the k x d argmin expression per generator invocation; the
            # split projection evaluates it once per row and feeds the
            # explode a finished scalar (measured 0.93 -> 0.73 s per
            # recompute job at sf0.1). The aggregation tree is unchanged,
            # so every avg is bit-identical (the kmeans oracle's
            # cross-engine double-sum argument is untouched).
            rows = (
                base.select(cl.alias("cluster"), "v")
                .select("cluster", F.posexplode("v").alias("dim", "val"))
                .groupBy("cluster", "dim")
                .agg(F.avg("val").alias("cval"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["cval"]
            cent = [
                (c, [dims[d] for d in sorted(dims)])
                for c, dims in sorted(by_cluster.items())
            ]
    # localCheckpoint (eager) materializes the final assignment and cuts
    # lineage — the caller gets a plain frame with no unpersist obligation
    out = assign.select(F.col("vid").alias("vec_id"), "cluster").localCheckpoint(
        eager=True
    )
    release_frame(base)
    return out


QUANT_SCALE = 1_000_000  # fixed-point scale for sign-exact LSH (see below)


def _hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random INTEGER hyperplanes from md5 (no runtime
    RNG: same planes every run, every executor; integer components so the
    bucket sign bit is exact integer arithmetic — float dot-product signs
    near zero are FP-summation-order-dependent and cannot be replayed
    bit-for-bit by an independent engine, which kept this operator
    oracle-less in round 1)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h % 17 - 8)  # integer, ~uniform in [-8, 8]
        planes.append(row)
    return planes


# Fixed-point sign-bit scheme: q = floor(v * QUANT_SCALE) (float32 -> double
# is exact; the multiply and floor are IEEE-deterministic), then each sign
# bit is sign(sum q_d * plane_d) — a pure BIGINT sum, order-independent, so
# Spark and the DuckDB oracle agree on every bucket bit. See
# hyperplane_lsh_pairs below and HYPERPLANE_SQL in contract.py.


def _sign_buckets(corpus: DataFrame, planes: list[list[int]]) -> DataFrame:
    """(vid, vec, t, bkt) rows: each vector exploded into its 6 tables'
    4-sign-bit bucket keys. Quantize ONCE per row (q = floor(v*1e6) as
    long), then every plane dot is a pure integer zip_with over q —
    computing floor inside each of the n_tables*bits dots would redo the
    same float work 24x per row. Shared by the self-join
    (hyperplane_lsh_pairs) and the train/test probe join
    (semantic_contamination).

    The plane matrix enters the plan as ONE parsed literal
    (array<array<bigint>> via F.expr) and the per-plane dots as one
    transform over its indices: building 24 separate 64-element literal
    arrays through the Python Column API costs ~3000 py4j round trips
    (~5 s of driver time per call, measured) for the identical plan.
    """
    # The WHOLE projection is built as SQL text and parsed JVM-side in a
    # handful of expr calls (r6): constructing these nested HOF lambdas
    # through the Python Column API costs ~5k py4j round trips (~0.7 s of
    # driver time per call, profiled — the same class of cost as the
    # plane-literal note below, which round 3 already moved to F.expr).
    # The parsed expression tree is identical, so every bucket bit — and
    # the oracle replay — is unchanged.
    n_tables, bits_per_table = 6, 4
    n_planes = n_tables * bits_per_table
    plane_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in row) + ")" for row in planes
        )
        + ")"
    )
    quantized = corpus.selectExpr(
        "vec_id AS vid",
        "embedding AS vec",
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
        f"{float(QUANT_SCALE)}) AS LONG)) AS q",
    )
    dotted = quantized.selectExpr(
        "vid",
        "vec",
        f"transform(sequence(1, {n_planes}), p -> "
        f"aggregate(zip_with(q, element_at({plane_sql}, p), (x, pl) -> x * pl), "
        "CAST(0 AS LONG), (acc, v) -> acc + v)) AS dots",
    )
    tables_sql = "array(" + ", ".join(
        f"struct({t} AS t, "
        + " + ".join(
            f"CAST((element_at(dots, {t * bits_per_table + i + 1}) > 0) AS LONG)"
            f" * {2 ** i}L"
            for i in range(bits_per_table)
        )
        + " AS bkt)"
        for t in range(n_tables)
    ) + ")"
    return dotted.selectExpr(
        "vid", "vec", f"explode({tables_sql}) AS tb"
    ).selectExpr("vid", "vec", "tb.t AS t", "tb.bkt AS bkt")


def hyperplane_lsh_pairs(corpus: DataFrame, dim: int) -> DataFrame:
    """Label-free cosine LSH (Charikar's random-hyperplane scheme), standard
    multi-table construction: T = 6 independent tables of b = 4 sign bits
    each; a pair is a candidate if it collides in ANY table (recall
    1-(1-p^b)^T for per-plane agreement p); exact cosine re-ranks. All
    JVM-side — planes are literal array columns, signs via
    aggregate(zip_with(...)), tables explode into (table, bucket) keys.

    The scale path when no cluster label exists: per-table bucket occupancy
    is corpus/2^b, so each self-join is per-bucket.

    Sign bits use exact fixed-point integer arithmetic (quantize once,
    making the candidate set — and therefore the whole query — replayable
    bit-for-bit by the DuckDB oracle (HYPERPLANE_SQL in contract.py).
    Returns distinct (id_a, id_b, cos).
    """
    base = _sign_buckets(corpus, _hyperplanes(24, dim))
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, ["t", "bkt"])
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"),
                F.col("a.vec").alias("va"), F.col("b.vec").alias("vb"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
    )


def semantic_contamination(
    train: DataFrame,
    test: DataFrame,
    dim: int,
    threshold: float = 0.35,
) -> DataFrame:
    """Benchmark contamination in EMBEDDING space (the semantic sibling of
    dedup.cross_corpus_contamination's exact-window check): for each TEST
    vector, how many TRAIN vectors sit within cosine >= threshold, found
    through the same multi-table hyperplane LSH buckets as
    hyperplane_lsh_pairs (identical planes, identical fixed-point sign
    bits — the candidate set is replayable by the DuckDB oracle).

    Scale path: a test->train probe join on (table, bucket) keys — NO
    self-join; per-table bucket occupancy is corpus/2^bits, and the exact
    cosine runs only on colliding pairs. Returns contaminated test rows
    only: (vec_id, n_train_hits, max_cos).
    """
    planes = _hyperplanes(24, dim)
    tr = _sign_buckets(train, planes)
    te = _sign_buckets(test, planes)
    cand = (
        te.alias("a")
        .join(tr.alias("b"), ["t", "bkt"])
        .select(
            F.col("a.vid").alias("test_id"),
            F.col("b.vid").alias("train_id"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .dropDuplicates(["test_id", "train_id"])
    )
    hits = cand.select(
        "test_id",
        "train_id",
        F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
    ).where(F.col("cos") >= threshold)
    return hits.groupBy(F.col("test_id").alias("vec_id")).agg(
        F.count("*").cast("bigint").alias("n_train_hits"),
        F.max("cos").alias("max_cos"),
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold.

    Blocked by cluster label (near-dups share a cluster at any sane
    threshold) so the self-join is per-block, not corpus x corpus — the
    standard blocking trick for web-scale near-dup.
    Returns (id_a, id_b, cos).
    """
    base = corpus.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"), F.col("label")
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, "label")
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 4).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(corpus: DataFrame, threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an UNLABELED corpus by embedding. K-means the
    embeddings into 8 clusters (3 rounds of the deterministic relational
    Lloyd of :func:`kmeans_assign`), then within each learned cluster drop
    every vector that has a lower-id member at cosine >= ``threshold`` — the
    keep-lowest-id deterministic variant of the paper's keep-one-per-group
    rule (the paper keeps the member farthest from the centroid; any
    single-survivor choice gives the same dedup rate, and lowest-id is
    replayable cross-engine with no FP tie risk).

    This is :func:`cosine_near_dup_pairs` without the label crutch: the
    blocking structure is LEARNED. At 100 TB you raise k so clusters
    stay bounded (k ~ N/10^4: the per-cluster self-join is the only
    quadratic term and runs per-block); clusters are md5-balanced only as
    much as k-means makes them — the skew lever is k, which the paper
    itself sizes to ~sqrt(N)..N/1000.

    Returns one row per input vector: (vec_id, cluster, is_kept) with
    is_kept as 0/1 int.
    """
    assign = kmeans_assign(corpus)
    # norm precomputed ONCE per vector (IEEE-identical to computing it
    # inside the pair predicate — same expression, evaluated earlier):
    # the pair join then does ONE O(d) reduction per pair instead of
    # three (measured ~2x on the sandbox pair stage)
    base = (
        corpus.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("vec"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .join(assign.select(F.col("vec_id").alias("vid"), "cluster"), "vid")
        # persist, NOT localCheckpoint (r6 A/B): a checkpointed LogicalRDD
        # loses the size statistics the planner needs to broadcast the
        # pair-join sides — measured 2.5 s -> 4.6 s when flattened; the
        # InMemoryRelation keeps stats and the single downstream job makes
        # the extra analysis walk affordable here
        .persist()
    )
    a = base.alias("a")
    b = base.alias("b")
    pair_cos = F.coalesce(
        F.try_divide(
            _dot(F.col("a.vec"), F.col("b.vec")), F.col("a.nrm") * F.col("b.nrm")
        ),
        F.lit(-1.0),
    )
    dups = (
        a.join(b, "cluster")
        .where(F.col("a.vid") < F.col("b.vid"))
        .where(F.round(pair_cos, 4) >= threshold)
        .select(F.col("b.vid").alias("vid"))
        .distinct()
    )
    out = (
        base.join(dups.withColumn("dup", F.lit(1)), "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cluster").cast("int").alias("cluster"),
            F.when(F.col("dup").isNull(), 1).otherwise(0).cast("int").alias("is_kept"),
        )
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


def quantize_embeddings(corpus: DataFrame) -> DataFrame:
    """Symmetric per-vector int8-style quantization — the memory path for
    vector search at corpus scale (4x smaller than float32, integer dot
    products). scale = max|v| per vector; q_d = floor(v_d/scale*127 + 0.5)
    (floor(x+0.5) rather than round(): both engines' round() differ on tie
    rounding, floor is IEEE-exact everywhere). Zero vectors quantize to
    zeros with scale 0.

    Returns (vec_id, qvec array<int>, scale double).
    """
    from ..functions.textfns import let_bound

    v = F.col("embedding")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # scale let-bound: referencing the array_max expression inside the
    # per-component lambda re-reduces the vector per element (O(d^2)/row)
    q = let_bound(
        scale,
        lambda s: F.transform(
            v,
            lambda x: F.when(
                s > 0,
                F.floor(x.cast("double") / s * F.lit(127.0) + F.lit(0.5)),
            ).otherwise(F.lit(0)).cast("int"),
        ),
    )
    return corpus.select(
        F.col("vec_id"), q.alias("qvec"), scale.cast("double").alias("scale")
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Approximate cosine top-k over QUANTIZED vectors: integer dot product
    of the int8 codes, normalized by the integer L2 norms — exact integer
    arithmetic until one final rounded division, so the DuckDB oracle
    replays it bit-for-bit (unlike float-sum scores). The quality loss vs
    exact cosine is the quantization error only.

    Returns (query_id, rank, neighbor_id, qcos round(4)).
    """
    qc = quantize_embeddings(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cq")
    )
    qq = quantize_embeddings(queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qq")
    )

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = qc.crossJoin(F.broadcast(qq)).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(
                _idot(F.col("qq"), F.col("cq")).cast("double"),
                F.sqrt(_idot(F.col("qq"), F.col("qq")).cast("double"))
                * F.sqrt(_idot(F.col("cq"), F.col("cq")).cast("double")),
            ),
            4,
        ).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "qcos")
    )


def build_ivf_index(
    corpus: DataFrame,
    location: str,
    k_clusters: int = 8,
    iterations: int = 3,
) -> None:
    """Build and PERSIST an IVF index: k-means cluster labels
    (kmeans_assign — deterministic relational Lloyd's), the corpus written
    as one directory partition per cluster (the inverted lists; one writer
    task per cluster), and the cluster centroids as a small side table.
    Query time (ivf_topk_indexed) then prunes the scan to the probed
    clusters' directories — the index is built ONCE and amortized over
    every subsequent query batch, which is the entire point of IVF at
    corpus scale.
    """
    base = corpus.select("vec_id", "embedding")
    assign = kmeans_assign(base, k_clusters, iterations)
    lists = base.join(assign, "vec_id")
    (
        lists.repartition(k_clusters, "cluster")
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{location}/lists")
    )
    cent = (
        lists.select("cluster", F.posexplode("embedding").alias("dim", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .groupBy("cluster", "dim")
        .agg(F.avg("v").alias("cval"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda x: x["cval"],
            ).alias("centroid")
        )
    )
    cent.coalesce(1).write.mode("overwrite").parquet(f"{location}/centroids")


def ivf_topk_indexed(
    spark,
    location: str,
    queries: DataFrame,
    n_probe: int = 1,
) -> DataFrame:
    """Query a persisted IVF index (build_ivf_index): route each query to
    its ``n_probe`` nearest centroids (tiny broadcast table), prune the
    inverted-list scan to the union of probed clusters (a LITERAL isin
    filter so directory-partition pruning reaches the scan — the union is
    collected driver-side, <= n_queries * n_probe ints, an index lookup
    not a data collect), then exact cosine + per-query top-3 within the
    probed lists. With n_probe = k_clusters this EQUALS brute_topk (pinned
    by test). Returns (query_id, rank, neighbor_id, cos).
    """
    cent = spark.read.parquet(f"{location}/centroids")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "cluster",
        F.coalesce(cosine(F.col("qvec"), F.col("centroid")), F.lit(-1.0)).alias("ccos"),
    )
    wbest = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cluster")
    )
    routed = (
        qc.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "cluster")
    )
    probed = sorted(
        r["cluster"] for r in routed.select("cluster").distinct().collect()
    )
    lists = spark.read.parquet(f"{location}/lists").where(
        F.col("cluster").isin(probed)
    )
    scored = (
        lists.join(F.broadcast(routed), "cluster")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col("embedding")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
