"""Deterministic distinct-count sketches (training-data pipeline ops,
SURVEY.md §2.12 family — beyond the reference's own surface).

Spark's built-in `approx_count_distinct` (HyperLogLog++) is the usual
answer at 100 TB, but its estimates are engine-specific — useless under a
cross-engine exact-parity gate. The KMV (k-minimum-values) sketch gives
the same bounded-memory scaling story with a fully deterministic result:
both engines hash tokens with md5, keep each group's k smallest 60-bit
hash values, and estimate D = (k-1) / u_k where u_k is the k-th minimum
normalized to [0,1) (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007).

Exactness contract: the k smallest hashes of a set are a pure function of
the set, so the estimate is bit-identical across engines, runs, and
partitionings — DuckDB replays it with the same md5 arithmetic.
"""

from __future__ import annotations

from ..functions.frames import column_params, values_frame
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import token_md5_long
from .corpus import _kgrams

# hash domain: token_md5_long keeps 15 hex chars = 60 bits
_HASH_DOMAIN = float(1 << 60)


def _group_sketch_sets(df: DataFrame, k: int) -> DataFrame:
    """(grp, h) rows: each group's k smallest distinct bigram hashes —
    the KMV sketch SET (not just the k-th minimum), which is what makes
    the sketch mergeable (see kmv_group_overlap). Hierarchical exact
    min-k as described in kmv_distinct_tokens."""
    hashed = (
        df.select(
            F.col("lang").alias("grp"),
            F.explode(_kgrams(F.col("text"), 2)).alias("tok"),
        )
        .select("grp", token_md5_long(F.col("tok")).alias("h"))
        .distinct()
    )
    sub = hashed.withColumn("sub", F.col("h") % 64)
    w1 = Window.partitionBy("grp", "sub").orderBy("h")
    cand = (
        sub.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= k)
        .drop("rn", "sub")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        cand.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


# the parameters each sketch family stamps on its key column, as
# (key column, parameter names, build[, check]) — the arguments of
# frames.column_params
_BLOOM = ("word_idx", ("m_bits", "k"), "bloom_build")
_CMS = ("d", ("width", "depth"), "cms_build")
_HIST = ("b", ("lo", "hi", "n_bins"), "hist_build")


def _stamp(sketch: DataFrame, spec: tuple, values: tuple) -> DataFrame:
    """``sketch`` with ``values`` stamped as metadata on the spec's key
    column, the form :func:`column_params` reads back."""
    return sketch.withMetadata(spec[0], dict(zip(spec[1], values)))


def _same_params(a: DataFrame, b: DataFrame, spec: tuple, what: str) -> tuple:
    """The parameters two sketches of one family share, compared on the
    driver: a merge or inner product of differently shaped sketches is
    garbage, not an error, so any difference raises."""
    pa, pb = column_params(a, *spec), column_params(b, *spec)
    if pa != pb:
        family = spec[2].split("_")[0]
        raise ValueError(
            f"{family} meta mismatch on right {what} input: it carries "
            f"{dict(zip(spec[1], pb))}, the left input "
            f"{dict(zip(spec[1], pa))} — both sides must be built with "
            "identical parameters"
        )
    return pa


def _bloom_positions(keyed: DataFrame, m_bits: int, k: int, key_col: str, *carry: str) -> DataFrame:
    """(carry..., word_idx, b) rows: each key's k md5-derived bit
    positions packed as (32-bit-word index, single-bit mask). ONE shared
    construction for build and probe — the two sides must stay
    bit-identical or membership silently breaks. word_idx via integer
    shiftright (exact at ANY m_bits; a double divide would round past
    2^53); 32-bit masks in BIGINT so ``1 << bit`` stays positive in both
    engines."""
    pos = [
        token_md5_long(F.col(key_col), prefix=f"bloom{j}:") % F.lit(m_bits)
        for j in range(k)
    ]
    return keyed.select(
        *carry,
        F.explode(F.array(*[p.cast("bigint") for p in pos])).alias("h"),
    ).select(
        *carry,
        F.shiftright(F.col("h"), 5).alias("word_idx"),
        # F.shiftleft takes a literal bit count; the per-row shift needs
        # the SQL form
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 32 AS INT))").alias("b"),
    )


def bloom_build(
    df: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Distributed Bloom filter BUILD over a key column: the bounded-
    memory membership structure an ingest pipeline probes BEFORE paying
    for the full dedup index (classic Bloom 1970; k md5-derived bit
    positions per key). Stored as (word_idx, bits) rows of 32-bit words
    packed in BIGINT; ``word_idx`` carries ``{m_bits, k}`` as column
    metadata, so :func:`bloom_probe` computes positions with the
    parameters the filter was built with (a probe with others would
    emit false NEGATIVES, breaking the structure's one guarantee). Rows
    rather than one blob: the build is ONE partial-aggregable
    groupBy/bit_or, and the filter stays mergeable (union of filters
    with the same parameters = bit_or again). ~m_bits/32 rows
    regardless of corpus size.

    Determinism contract (the package's KMV argument): bit positions are
    pure md5 arithmetic, so build and probe — including FALSE-POSITIVE
    behavior — replay bit-identically on DuckDB.
    """
    words = (
        _bloom_positions(df, m_bits, k, key_col)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(b)").cast("bigint").alias("bits"))
    )
    return _stamp(words, _BLOOM, (m_bits, k))


def bloom_probe(
    bloom: DataFrame,
    batch: DataFrame,
    key_col: str = "key",
) -> DataFrame:
    """Probe a :func:`bloom_build` filter with its own (m_bits, k): an
    element is a (probable) member iff ALL k of its bit positions are
    set. Lazy — the read submits no job (callers probing many batches
    should materialize the filter once themselves). One equi-join of the
    batch's k position rows against the word table (the filter side is
    tiny — broadcastable at any corpus size since it is bounded by
    m_bits/32 rows) + one all-positions-hit aggregate (min over the
    per-position hit flags — robust to a doc_id appearing more than once
    in the batch, where a count==k test would return false negatives for
    genuine members; is_member then means "every probed key is a
    probable member"). Returns (doc_id, is_member 0/1) — is_member=1
    means "probably in the corpus" (false positives possible at the
    standard Bloom rate, deterministic here; false negatives
    impossible).
    """
    m_bits, k = column_params(bloom, *_BLOOM)
    probes = _bloom_positions(batch, m_bits, k, key_col, "doc_id")
    hits = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "doc_id",
            F.when(
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("b")) == F.col("b")),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.min("hit").alias("all_hit"))
    )
    return hits.select(
        "doc_id", F.col("all_hit").cast("int").alias("is_member")
    )


def _cms_positions(
    keyed: DataFrame, width: int, depth: int, key_col: str, *carry: str
) -> DataFrame:
    """(carry..., d, c) rows: each key's cell coordinate per depth row —
    row d hashes the key with an independent md5 prefix, column =
    hash % width. ONE shared construction for build and query (the
    Bloom discipline: both sides must stay bit-identical)."""
    pos = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("d"),
                (
                    token_md5_long(F.col(key_col), prefix=f"cms{j}:")
                    % F.lit(width)
                ).cast("bigint").alias("c"),
            )
            for j in range(depth)
        ]
    )
    return keyed.select(*carry, F.explode(pos).alias("p")).select(
        *carry, F.col("p.d").alias("d"), F.col("p.c").alias("c")
    )


def cms_build(
    df: DataFrame,
    key_col: str = "key",
    width: int = 1 << 12,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Distributed count-min sketch BUILD (Cormode & Muthukrishnan 2005):
    the bounded-memory FREQUENCY structure — where Bloom answers "seen at
    all?", CMS answers "seen about how often?" (heavy-hitter screens,
    per-key rate limits, frequency-weighted sampling) in depth*width
    cells regardless of corpus size. Each key occurrence adds its weight
    (default 1) to one cell per depth row; the build is ONE
    partial-aggregable groupBy/sum over (d, c). Mergeable: union of
    sketches = per-cell sum (:func:`cms_merge`). Stored as (d, c, cnt)
    rows; ``d`` carries ``{width, depth}`` as column metadata, read by
    :func:`cms_query`, :func:`cms_merge` and :func:`cms_inner_product`.

    Determinism contract: cells are pure md5 arithmetic — estimates,
    including collision-induced overestimates, replay bit-identically on
    DuckDB. Structural guarantee: estimate >= true count, always."""
    keyed = df.select(
        F.col(key_col).alias("k__"),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("bigint").alias("w__"),
    )
    cells = (
        _cms_positions(keyed, width, depth, "k__", "w__")
        .groupBy("d", "c")
        .agg(F.sum("w__").alias("cnt"))
    )
    return _stamp(cells, _CMS, (width, depth))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two :func:`cms_build` sketches of identical (width, depth):
    per-cell sum of the count rows (the CMS linearity property — the
    merged sketch is exactly the sketch of the concatenated inputs).
    Refuses differently shaped inputs; lazy, no job."""
    params = _same_params(a, b, _CMS, "merge")
    cells = (
        a.unionByName(b)
        .groupBy("d", "c")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return _stamp(cells, _CMS, params)


def cms_query(
    cms: DataFrame,
    probe: DataFrame,
    key_col: str = "key",
) -> DataFrame:
    """Point-estimate keys against a :func:`cms_build` sketch, with the
    sketch's own (width, depth): estimate = min over the depth rows of
    the key's cell counts (an absent cell is 0 — only reachable for keys
    never built). Lazy, no job; the cell table is broadcastable at any
    corpus size (bounded by depth*width rows). Returns (key, est) — one
    row per DISTINCT probe key; est >= the key's true built count, with
    deterministic md5-collision overestimates."""
    width, depth = column_params(cms, *_CMS)
    pos = _cms_positions(
        probe.select(F.col(key_col).alias("key")).distinct(),
        width,
        depth,
        "key",
        "key",
    )
    return (
        pos.join(F.broadcast(cms), ["d", "c"], "left")
        .select("key", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy("key")
        .agg(F.min("cnt").cast("bigint").alias("est"))
        .withColumnRenamed("key", key_col)
    )


def _mass_max(cms: DataFrame, side: str) -> DataFrame:
    """One row: the sketch's stream mass (the d=0 cells' sum) and its
    largest cell, as ``mass_<side>`` / ``max_<side>``."""
    return cms.agg(
        F.coalesce(F.sum(F.when(F.col("d") == 0, F.col("cnt"))), F.lit(0)).alias(
            f"mass_{side}"
        ),
        F.coalesce(F.max("cnt"), F.lit(0)).alias(f"max_{side}"),
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-SIZE estimate from two :func:`cms_build` sketches (Cormode &
    Muthukrishnan 2005 §4.2): the inner product sum_k fA(k)*fB(k) — i.e.
    |A JOIN B| on the sketched key — estimated as
    ``min over depth rows d of sum_c A[d,c]*B[d,c]``, the planner-grade
    cardinality probe that decides broadcast-vs-shuffle or flags a
    blow-up join BEFORE paying for it. Same-row collisions only ever ADD
    mass, so est >= true join size, always (the CMS no-undercount
    guarantee lifted to pairs).

    Plan shape: one bounded collect (the overflow guard below), one hash
    join of the two cell tables on (d, c) — each side bounded by
    depth*width rows regardless of corpus size — a per-d partial-
    aggregable sum (depth rows), and a min over those depth rows (the
    length_quantiles allowed scalar class). Estimating a 100 TB join
    costs two sketch builds + O(depth*width) work, never the join; pass
    materialized sketches, since the guard and the join both read them.

    Inputs must share (width, depth) — cells for the same key must land
    in the same (d, c) on both sides, which the identical md5 cell
    arithmetic guarantees only at identical shapes; differently shaped
    inputs are refused. So are sketch pairs whose dot product could
    overflow BIGINT: each depth row's dot is bounded by
    ``min(max_cell(A) * |B|_1, |A|_1 * max_cell(B))`` (sum_c A*B <=
    max(A) * sum_c B — the worst case is ALL mass co-occupying one cell,
    so dividing by width would under-guard skewed sketches), and when
    that bound reaches ~2^62 the non-ANSI sum would wrap silently and
    invert the no-undercount guarantee — the guard turns the wrap into
    an error telling the caller to pre-aggregate or split the streams
    (mass from the d=0 row sum, max over all cells; one collect of both
    sides' two aggregates, exact python-int arithmetic). Returns one
    row: ``est`` (BIGINT)."""
    _width, depth = _same_params(a, b, _CMS, "inner-product")
    s = _mass_max(a, "a").crossJoin(_mass_max(b, "b")).collect()[0]
    mass_a, max_a, mass_b, max_b = (
        int(s[c]) for c in ("mass_a", "max_a", "mass_b", "max_b")
    )
    if min(max_a * mass_b, mass_a * max_b) >= 1 << 62:
        raise ValueError(
            f"cms inner-product overflow: the per-row dot bound "
            f"min(max(A)*|B|, |A|*max(B)) = "
            f"min({max_a}*{mass_b}, {mass_a}*{max_b}) reaches the BIGINT "
            "limit — the sum would wrap silently; pre-aggregate or split "
            "the streams before sketching"
        )
    ca = a.select("d", "c", F.col("cnt").alias("cnt_a"))
    cb = b.select("d", "c", F.col("cnt").alias("cnt_b"))
    dots = (
        ca.join(cb, ["d", "c"])
        .groupBy("d")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("bigint").alias("dot"))
    )
    # a depth row with NO co-occupied cells has dot 0 — it just produces
    # no row through the inner join, so the min must treat the missing
    # rows as zeros: any absent row proves the true inner product is 0
    # (that row's cells intersect nowhere), making 0 the estimate
    return dots.agg(
        F.when(F.count("*") < depth, F.lit(0))
        .otherwise(F.coalesce(F.min("dot"), F.lit(0)))
        .cast("bigint")
        .alias("est")
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str = "key",
    den: int = 500,
    width: int = 1 << 12,
    depth: int = 4,
) -> DataFrame:
    """EXACT heavy hitters via a CMS screen + verify-on-candidates — the
    sketch-as-screen composition (Cormode & Muthukrishnan 2005 §4;
    Charikar et al. 2002's find-then-verify discipline applied to
    frequencies):
    return every key whose exact occurrence count satisfies
    ``cnt * den >= total`` (frequency >= 1/den of the stream).

    The naive plan — ``groupBy(key).count()`` then filter — shuffles one
    partial-count row per distinct key per input partition: at 100 TB the
    exchange is dominated by the long tail (singletons, near-singletons)
    that can never be heavy. The screen kills that tail BELOW the
    exchange:

    1. the :func:`cms_build` cell table (bounded: depth*width rows) is
       collected ONCE driver-side — the global_shuffle offsets / kmeans
       centroid-literal precedent — and re-enters the plan as ONE flat
       array literal (never per-element ``lit()`` calls: the
       embed_contamination lesson). ``total`` is read off the sketch
       itself (every depth row's cells sum to the stream length), so the
       whole operator is TWO input passes: build, then screen+count.
    2. every key INSTANCE is point-estimated row-locally — ``least`` over
       ``depth`` ``element_at`` probes of the literal, pure md5
       arithmetic, no join, no explode, no shuffle — and filtered by
       ``est * den >= total``. CMS never undercounts, so the
       survivor set is a SUPERSET of the true heavy hitters: the screen
       is provably lossless and the final result needs no sketch caveat.
    3. only survivors reach the exchange; the exact groupBy count and the
       same integer threshold re-applied on true counts discard the
       collision-induced false candidates.

    All-integer comparisons (cross-multiplied; fits BIGINT for
    ``total * den`` < 2^63, i.e. any real corpus), so the
    DuckDB oracle is the plain exact-count SQL — the screen's
    losslessness is exactly what the parity gate then proves. Keep
    ``width`` modest: the literal is depth*width BIGINTs embedded in the
    plan; smaller widths trade more screen false-positives (extra exact
    work) for a smaller plan, never a wrong result.

    Returns (key_col, cnt) — one row per true heavy hitter, exact counts.
    """
    keyed = df.select(F.col(key_col).alias("k__"))
    flat = [0] * (depth * width)
    for r in cms_build(keyed, "k__", width=width, depth=depth).collect():
        flat[r["d"] * width + r["c"]] = r["cnt"]
    total = sum(flat[:width])
    arr = F.lit(flat)
    probes = [
        F.element_at(
            arr,
            (
                token_md5_long(F.col("k__"), prefix=f"cms{j}:") % F.lit(width)
                + j * width
                + 1
            ).cast("int"),
        )
        for j in range(depth)
    ]
    est = probes[0] if depth == 1 else F.least(*probes)
    bar = F.lit(int(total)).cast("bigint")
    return (
        keyed.where(est * den >= bar)
        .groupBy("k__")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") * den >= bar)
        .withColumnRenamed("k__", key_col)
    )


def hist_build(
    df: DataFrame,
    value_col: str,
    hi: int = 1 << 20,
    n_bins: int = 256,
) -> DataFrame:
    """Equi-width histogram BUILD — the bounded-memory DISTRIBUTION
    sketch completing the family (Bloom: membership, CMS: frequency,
    KMV: distinct count): length/score quantiles calibrate every
    threshold-based corpus gate, and at 100 TB the exact answer (a global
    sort, or Spark's engine-specific approx_percentile) is either the
    wrong plan or non-replayable cross-engine. n_bins counts bound memory
    regardless of corpus size; the build is ONE partial-aggregable
    groupBy/count on a narrow integer projection. Mergeable: per-bin sum
    (hist_merge). The bins cover [lo, hi) with lo = 0; values below lo /
    at-or-above hi clamp into the first / last bin (documented, oracled
    identically — pick hi to cover the mass you care about).

    Bin index is pure integer arithmetic: the VALUE is clamped into
    [lo, hi] first, then b = least(n_bins - 1, ((v_cl - lo) * n_bins)
    DIV (hi - lo)). Clamping before the multiply bounds the product by
    span * n_bins — an unclamped extreme outlier (the corrupt-header
    input class the media codecs guard against) would overflow BIGINT,
    wrap negative in non-ANSI Spark (landing silently in bin 0 instead
    of the documented top bin) and RAISE in DuckDB — and it keeps the
    operands nonnegative, so Spark's DIV and DuckDB's // are the same
    floor division and the sketch and every quantile read off it replay
    bit-identically. Stored as (b, cnt) rows; ``b`` carries ``{lo, hi,
    n_bins}`` as column metadata, so every read interpolates against the
    edges the sketch was built with."""
    lo = 0
    span = hi - lo
    cells = (
        df.select(F.col(value_col).cast("bigint").alias("v__"))
        .where(F.col("v__").isNotNull())
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.expr(
                    f"((least(CAST({hi} AS BIGINT), "
                    f"greatest(CAST({lo} AS BIGINT), v__)) - {lo})"
                    f" * {n_bins}) DIV {span}"
                ),
            )
            .cast("bigint")
            .alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return _stamp(cells, _HIST, (lo, hi, n_bins))


def hist_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two :func:`hist_build` sketches of identical (lo, hi,
    n_bins): per-bin sum of the count rows (exactly the histogram of the
    concatenated inputs). Refuses differently binned inputs; lazy, no
    job."""
    params = _same_params(a, b, _HIST, "merge")
    cells = (
        a.unionByName(b)
        .groupBy("b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return _stamp(cells, _HIST, params)


def hist_quantiles(hist: DataFrame, percentiles: list[int]) -> DataFrame:
    """Quantile read-off over a :func:`hist_build` sketch, with the
    sketch's own (lo, hi, n_bins), fully relational and fully integer —
    (p, rnk, est, bin_lo, bin_hi) per requested integer percentile in
    [1, 100]:

    - rnk = ceil(N * p / 100), the 1-based order statistic targeted
      (percentile_disc convention);
    - the carrying bin = the FIRST bin whose cumulative count reaches
      rnk, found by a min-struct agg (never a global rank window);
    - est = within-bin linear interpolation in floor-integer arithmetic,
      bin_lo + ((i - 1) * (bin_hi - bin_lo)) DIV cnt for the bin's i-th
      member — deterministic, replayed exactly by DuckDB's //;
    - bin_lo / bin_hi = the bin's edges: the sketch's hard promise is
      bin_lo <= true percentile value < bin_hi (clamped mass aside),
      est is the documented-formula point inside it.

    Every frame here is bounded by n_bins or len(percentiles) rows — the
    cumulative sum is a self-join over <= n_bins^2 pairs and the rest are
    broadcast-size cross joins, so nothing in the plan scales with corpus
    size and no SinglePartition window appears. Lazy, no job; the plan
    reads ``hist`` three times, so pass a materialized sketch when its
    build is costly."""
    lo, hi, n_bins = column_params(hist, *_HIST)
    spark = hist.sparkSession
    total = hist.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    # cumulative count per bin: sum over bins <= b (n_bins^2 pairs max)
    cum = (
        hist.alias("a")
        .join(F.broadcast(hist.alias("c")), F.col("c.b") <= F.col("a.b"))
        .groupBy(F.col("a.b").alias("b"), F.col("a.cnt").alias("cnt"))
        .agg(F.sum("c.cnt").cast("bigint").alias("cum"))
    )
    percs = values_frame(spark, [(int(p),) for p in percentiles], "p bigint")
    ranked = percs.crossJoin(F.broadcast(total)).select(
        "p",
        F.greatest(F.lit(1), F.expr("(n_total * p + 99) DIV 100"))
        .cast("bigint")
        .alias("rnk"),
    )
    hit = (
        ranked.join(F.broadcast(cum), F.col("cum") >= F.col("rnk"))
        .groupBy("p", "rnk")
        .agg(F.min(F.struct("b", "cnt", "cum")).alias("h"))
    )
    span = hi - lo
    return hit.select(
        "p",
        "rnk",
        "h",
        F.expr(f"{lo} + (h.b * {span}) DIV {n_bins}").cast("bigint").alias("bin_lo"),
        F.expr(f"{lo} + ((h.b + 1) * {span}) DIV {n_bins}").cast("bigint").alias("bin_hi"),
    ).select(
        "p",
        "rnk",
        (
            F.col("bin_lo")
            + F.expr(
                "((rnk - (h.cum - h.cnt) - 1) * (bin_hi - bin_lo)) DIV h.cnt"
            )
        )
        .cast("bigint")
        .alias("est"),
        "bin_lo",
        "bin_hi",
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: list[int],
    hi: int = 1 << 20,
    n_bins: int = 256,
) -> DataFrame:
    """Per-GROUP histogram quantiles — :func:`hist_build` +
    :func:`hist_quantiles` fused into one call with a group key
    (per-domain / per-language threshold calibration: every corpus gate
    that takes one global cutoff really wants one per stratum). Same
    clamp-first integer bin arithmetic and floor-interpolation read-off,
    so DuckDB replays every value exactly.

    Plan shape at scale: ONE partial-aggregable groupBy over (group, bin),
    the bins splitting [0, hi), is the only pass that touches the corpus;
    every later frame is bounded by #groups * n_bins rows — the per-group cumulative
    is an equi-join on the group key over <= n_bins^2 bin pairs per
    group, rank targets are a #groups x len(percentiles) cross join, the
    carrying bin a min-struct agg. NO window anywhere: a per-group
    ORDER BY (ntile / percent_rank) would put an entire 10^9-doc stratum
    into one window partition — the giant-partition trap the no-window
    discipline exists for.

    Returns (``group_col``, p, rnk, est, bin_lo, bin_hi) per group x
    requested integer percentile; groups whose values are all NULL
    produce no rows (out-of-range values clamp into the edge bins, the
    hist_build contract).
    """
    _check_group_col(group_col, _QUANTILE_GROUP_RESERVED, "grouped_quantiles")
    lo = 0
    span = hi - lo
    cells = (
        df.select(
            F.col(group_col).alias("g__"),
            F.col(value_col).cast("bigint").alias("v__"),
        )
        .where(F.col("v__").isNotNull() & F.col("g__").isNotNull())
        .select(
            "g__",
            F.least(
                F.lit(n_bins - 1),
                F.expr(
                    f"((least(CAST({hi} AS BIGINT), "
                    f"greatest(CAST({lo} AS BIGINT), v__)) - {lo})"
                    f" * {n_bins}) DIV {span}"
                ),
            )
            .cast("bigint")
            .alias("b"),
        )
        .groupBy("g__", "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    total = cells.groupBy("g__").agg(
        F.sum("cnt").cast("bigint").alias("n_total")
    )
    cum = (
        cells.alias("a")
        .join(
            cells.select(
                F.col("g__").alias("cg__"),
                F.col("b").alias("cb"),
                F.col("cnt").alias("ccnt"),
            ),
            (F.col("a.g__") == F.col("cg__")) & (F.col("cb") <= F.col("a.b")),
        )
        .groupBy("a.g__", "a.b", "a.cnt")
        .agg(F.sum("ccnt").cast("bigint").alias("cum"))
    )
    percs = values_frame(
        df.sparkSession, [(int(p),) for p in percentiles], "p bigint"
    )
    ranked = total.crossJoin(F.broadcast(percs)).select(
        "g__",
        "p",
        F.greatest(F.lit(1), F.expr("(n_total * p + 99) DIV 100"))
        .cast("bigint")
        .alias("rnk"),
    )
    hit = (
        ranked.join(cum, "g__")
        .where(F.col("cum") >= F.col("rnk"))
        .groupBy("g__", "p", "rnk")
        .agg(F.min(F.struct("b", "cnt", "cum")).alias("h"))
    )
    return (
        hit.select(
            "g__",
            "p",
            "rnk",
            "h",
            F.expr(f"{lo} + (h.b * {span}) DIV {n_bins}")
            .cast("bigint")
            .alias("bin_lo"),
            F.expr(f"{lo} + ((h.b + 1) * {span}) DIV {n_bins}")
            .cast("bigint")
            .alias("bin_hi"),
        )
        .select(
            "g__",
            "p",
            "rnk",
            (
                F.col("bin_lo")
                + F.expr(
                    "((rnk - (h.cum - h.cnt) - 1) * (bin_hi - bin_lo)) DIV h.cnt"
                )
            )
            .cast("bigint")
            .alias("est"),
            "bin_lo",
            "bin_hi",
        )
        .withColumnRenamed("g__", group_col)
    )


def hll_hash(col: Column, p: int = 8, w_bits: int = 32) -> Column:
    """The HLL item hash: the first (p + w_bits)/4 hex chars of md5 as a
    BIGINT — identical on DuckDB via ('0x' || substr(md5('hll:' || x),
    1, n_hex))::BIGINT. Exposed so callers computing EXACT distinct
    counts next to the sketch (the hll_distinct contract entry) hash the
    same domain the sketch saw."""
    n_hex = (p + w_bits) // 4
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), col)), 1, n_hex), 16, 10
    ).cast("bigint")


def _hll_check_params(p: int, w_bits: int) -> None:
    if (p + w_bits) % 4 != 0 or p + w_bits > 56:
        raise ValueError("p + w_bits must be a multiple of 4 and <= 56 (BIGINT md5 slice)")
    if not 7 <= p <= 14:
        raise ValueError("p must be in [7, 14] (alpha rational assumes m >= 128)")
    # the estimate's staged integer arithmetic needs m^2 * 2^(w_bits+1)
    # and num1 * 7213 * m inside BIGINT (see hll_estimate)
    if 2 * p + w_bits + 1 > 62:
        raise ValueError("2p + w_bits + 1 must be <= 62 (estimate overflow headroom)")


# an HLL register table's parameters, stamped on bucket; ``grouped`` tells
# a hll_build_grouped table from a global one, whose reads and merge would
# silently aggregate registers across groups (occupied > m, negative
# z_scaled)
_HLL_NAMES = ("p", "w_bits", "grouped")
_HLL = ("bucket", _HLL_NAMES, "hll_build", lambda p, w_bits, _g: _hll_check_params(p, w_bits))
_HLL_GROUPED = ("bucket", _HLL_NAMES, "hll_build_grouped", _HLL[3])


def hll_build(
    df: DataFrame,
    key_col: str = "key",
    p: int = 8,
    w_bits: int = 32,
    pre_hashed: bool = False,
) -> DataFrame:
    """Distributed HyperLogLog BUILD (Flajolet et al. 2007) — the
    register-table form of the family's DISTINCT-COUNT sketch. Spark's
    own `approx_count_distinct` is HLL++ but engine-specific (its
    registers and bias tables don't replay on DuckDB); this build is
    pure md5 integer arithmetic, so every register — and therefore the
    estimate, including its error — is bit-identical cross-engine (the
    KMV determinism contract, with HLL's O(m) memory instead of KMV's
    per-group k rows, and mergeability by plain MAX).

    Item hash = first (p + w_bits)/4 md5 hex chars as BIGINT; bucket =
    top p bits (shiftright), w = low w_bits; rank rho = w_bits -
    bit_length(w) + 1 (leading-zero count + 1), with rho = w_bits + 1
    for w = 0. bit_length is EXACT via length(bin(w)) — never FP log2,
    which rounds 2^53 - 1 up and misbins (the hist clamp-first lesson's
    FP sibling). Register = max(rho) per bucket: ONE partial-aggregable
    groupBy/max to <= 2^p rows regardless of corpus size — duplicates
    never shuffle past the map side, which is the whole 100 TB story.
    Mergeable: union -> groupBy max is EXACTLY the sketch of the
    concatenated streams (hll_merge). Stored as (bucket, r) rows;
    ``bucket`` carries ``{p, w_bits, grouped: false}`` as column
    metadata, read by :func:`hll_estimate` and :func:`hll_merge`.

    ``pre_hashed=True`` treats ``key_col`` as an ALREADY-COMPUTED
    :func:`hll_hash` BIGINT (same p/w_bits) instead of raw items — the
    share-one-hash-pass form for callers that need the hashed stream
    more than once (e.g. a sketch next to the exact distinct count over
    the same domain: hash once, cache the small hashed column, feed
    both consumers — one corpus pass instead of two). Register values
    are identical by construction (pinned by test)."""
    _hll_check_params(p, w_bits)
    cells = _hll_cells(df, key_col, p, w_bits, pre_hashed=pre_hashed)
    return _stamp(cells, _HLL, (p, w_bits, False))


def _hll_cells(
    df: DataFrame,
    key_col: str,
    p: int,
    w_bits: int,
    group_col: str | None = None,
    pre_hashed: bool = False,
) -> DataFrame:
    """The ONE register construction (hash -> bucket/w split -> exact
    bit-length rho -> groupBy max) shared by the global and grouped
    builds, so the sketch semantics cannot fork between them. With
    ``group_col`` the register key is (g__, bucket); without, (bucket).
    ``pre_hashed`` skips the md5 (key_col already holds the hll_hash)."""
    h = F.col(key_col).cast("bigint") if pre_hashed else hll_hash(F.col(key_col), p, w_bits)
    rho = F.expr(
        f"CASE WHEN w__ = 0 THEN {w_bits + 1} "
        f"ELSE {w_bits} - length(bin(w__)) + 1 END"
    )
    keys = [F.col(group_col).alias("g__")] if group_col else []
    names = ["g__"] if group_col else []
    return (
        df.select(*keys, h.alias("h__"))
        .select(
            *names,
            F.shiftright(F.col("h__"), w_bits).alias("bucket"),
            (F.col("h__") % F.lit(1 << w_bits)).alias("w__"),
        )
        .select(*names, "bucket", rho.cast("bigint").alias("r"))
        .groupBy(*names, "bucket")
        .agg(F.max("r").alias("r"))
    )


def _hll_occupancy_aggs(c_exp: int) -> list[Column]:
    """The occupied/zsum aggregate pair of the estimate read-off — shared
    by the global (scalar agg) and grouped (groupBy agg) forms."""
    return [
        F.count("*").cast("bigint").alias("occupied"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({c_exp} - r AS INT))")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("zsum"),
    ]


def _hll_readoff(agg: DataFrame, p: int, w_bits: int, keep: tuple = ()) -> DataFrame:
    """The staged-integer estimate arithmetic (z_scaled, num1, the
    split-multiply alpha) applied to an (occupied, zsum) frame — ONE
    copy serving both the global and grouped read-offs; ``keep`` carries
    group columns through."""
    m = 1 << p
    c_exp = w_bits + 1
    alpha_num = 7213 * m
    alpha_den = 10000 * m + 10790
    z = (F.col("zsum") + (F.lit(m) - F.col("occupied")) * F.lit(1 << c_exp)).cast(
        "bigint"
    )
    return (
        agg.select(
            *keep,
            F.lit(m).cast("bigint").alias("m"),
            "occupied",
            (F.lit(m) - F.col("occupied")).cast("bigint").alias("n_zero"),
            z.alias("z_scaled"),
        )
        .withColumn(
            "num1", F.expr(f"CAST({(m * m) * (1 << c_exp)} AS BIGINT) DIV z_scaled")
        )
        .select(
            *keep,
            "m",
            "occupied",
            "n_zero",
            "z_scaled",
            F.expr(
                f"(num1 DIV {alpha_den}) * {alpha_num} + "
                f"((num1 % {alpha_den}) * {alpha_num}) DIV {alpha_den}"
            )
            .cast("bigint")
            .alias("est"),
        )
    )


def _hll_params(reg: DataFrame, grouped: bool, what: str) -> tuple[int, int]:
    """(p, w_bits) of a register table, refusing a grouped table where a
    global one is read and vice versa."""
    p, w_bits, is_grouped = column_params(reg, *(_HLL_GROUPED if grouped else _HLL))
    if is_grouped != grouped:
        raise ValueError(
            f"hll meta mismatch on {what}: a {'grouped' if is_grouped else 'global'} "
            f"build reads only through hll_estimate{'_grouped' if is_grouped else ''}"
        )
    return p, w_bits


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two :func:`hll_build` sketches of identical (p, w_bits):
    per-bucket MAX of the register rows — exactly the sketch of the
    concatenated input streams (max is associative/commutative/
    idempotent, so any merge tree, any partitioning, any duplication
    gives the identical table; the property the hll_merge contract entry
    proves cross-engine). Refuses differently shaped or grouped inputs;
    lazy, no job."""
    params = _same_params(a, b, _HLL, "merge")
    _hll_params(a, False, "merge")
    cells = a.unionByName(b).groupBy("bucket").agg(F.max("r").alias("r"))
    return _stamp(cells, _HLL, params)


def hll_estimate(reg: DataFrame) -> DataFrame:
    """Raw HLL estimate read-off with the sketch's own (p, w_bits), fully
    relational and fully INTEGER — one row (m, occupied, n_zero,
    z_scaled, est):

    - z_scaled = sum over all m registers of 2^(C - M_j) with
      C = w_bits + 1 (empty registers contribute 2^C), i.e. the HLL
      harmonic-mean denominator Z scaled by the exact power 2^C so it
      stays BIGINT (m * 2^C <= 2^(p + w_bits + 1) < 2^63 by the build's
      parameter guard);
    - est = floor(alpha_m * m^2 * 2^C / z_scaled) computed as staged
      integer arithmetic: num1 = (m^2 * 2^C) DIV z_scaled, then the
      exact split-multiply floor((num1 * 7213 * m) / (10000 * m +
      10790)) via the identity floor(a*c/d) = (a DIV d)*c +
      ((a % d)*c) DIV d — alpha_m = 0.7213/(1 + 1.079/m) expressed as
      the rational 7213*m / (10000*m + 10790), so NO float ever exists
      and DuckDB replays every digit;
    - the small-range (linear-counting) branch m*ln(m/V) is
      deliberately NOT applied — ln is FP and engine-specific; n_zero
      is emitted so callers see when the raw estimate sits in that
      regime (est ~ 0.72*m on a near-empty stream is the documented
      raw-HLL behavior, not a bug).

    The scalar agg runs over <= m register rows — the length_quantiles
    allowed-SinglePartition class (a 1-row total over a bounded sketch,
    never over corpus-sized data). Lazy, no job; refuses a
    :func:`hll_build_grouped` table."""
    p, w_bits = _hll_params(reg, False, "estimate read")
    agg = reg.agg(*_hll_occupancy_aggs(w_bits + 1))
    return _hll_readoff(agg, p, w_bits)


def _check_group_col(group_col: str, reserved: frozenset, what: str) -> None:
    """Reject group columns that collide with an operator's own schema
    (ADVICE r5 + r6 review): withColumnRenamed("g__", group_col) with a
    colliding name silently produces a duplicate-named output column —
    a later select throws AMBIGUOUS_REFERENCE or a write emits duplicate
    columns instead of erroring here."""
    if group_col in reserved:
        raise ValueError(
            f"{what}: group_col {group_col!r} collides with the operator's "
            f"schema columns {sorted(reserved)}; rename the group column "
            "first"
        )


# register-table schema + the grouped estimate read-off's output columns:
# a build keyed by one of the latter would only ever be rejected at
# estimate time, so the build fails loud too
_HLL_GROUP_RESERVED = frozenset(
    {"bucket", "r", "g__", "m", "occupied", "n_zero", "z_scaled", "est"}
)
_QUANTILE_GROUP_RESERVED = frozenset(
    {"g__", "p", "rnk", "est", "bin_lo", "bin_hi"}
)


def _hll_check_group_col(group_col: str) -> None:
    _check_group_col(group_col, _HLL_GROUP_RESERVED, "grouped HLL")


def hll_build_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str = "key",
    p: int = 8,
    w_bits: int = 32,
    pre_hashed: bool = False,
) -> DataFrame:
    """Per-GROUP HyperLogLog registers — the stratified form of
    :func:`hll_build` (per-source / per-language distinct counts, the
    audit a mixture designer reads before setting sampling rates): one
    partial-aggregable groupBy(group, bucket)/max to <= n_groups * 2^p
    rows regardless of corpus size. A hot group's duplicates still
    collapse map-side — the register table never skews even when the
    group does. ``bucket`` carries ``{p, w_bits, grouped: true}`` as
    column metadata: the global read-off and merge refuse a grouped
    table (they would silently aggregate registers across all groups —
    occupied > m, negative z_scaled), and :func:`hll_estimate_grouped`
    refuses a global one. Register construction is :func:`_hll_cells`,
    byte-identical to the global build's. Mergeable per group by MAX,
    the hll_merge property unchanged."""
    _hll_check_params(p, w_bits)
    _hll_check_group_col(group_col)
    cells = _hll_cells(df, key_col, p, w_bits, group_col=group_col, pre_hashed=pre_hashed)
    return _stamp(cells.withColumnRenamed("g__", group_col), _HLL_GROUPED, (p, w_bits, True))


def hll_estimate_grouped(reg: DataFrame, group_col: str) -> DataFrame:
    """Per-group raw HLL estimate read-off with the sketch's own (p,
    w_bits) — :func:`_hll_readoff`'s staged integer arithmetic (the SAME
    code object the global hll_estimate runs), but as a
    PARTIAL-AGGREGABLE groupBy(group) over the bounded register table
    (never a scalar SinglePartition: the grouped form is exactly what
    removes it). Reads only a :func:`hll_build_grouped` table; lazy, no
    job. Returns one row per group: (group, m, occupied, n_zero,
    z_scaled, est). Same raw-estimate contract as the global read-off:
    the linear-counting branch is deliberately absent (ln is FP), n_zero
    flags the regime."""
    _hll_check_group_col(group_col)
    p, w_bits = _hll_params(reg, True, "grouped estimate read")
    agg = (
        reg.withColumnRenamed(group_col, "g__")
        .groupBy("g__")
        .agg(*_hll_occupancy_aggs(w_bits + 1))
    )
    return _hll_readoff(agg, p, w_bits, keep=("g__",)).withColumnRenamed(
        "g__", group_col
    )


def kmv_distinct_tokens(df: DataFrame, k: int = 64) -> DataFrame:
    """Per-group distinct word-bigram count estimate via a KMV sketch
    (n-grams of the normalized text — the vocabulary unit whose distinct
    count actually explodes at corpus scale).

    Scale path: the k smallest hashes per group are found hierarchically —
    a first row_number window over (group, hash % 64) sub-buckets keeps
    k candidates per sub-bucket (each sub-bucket partition holds ~1/64
    of the group's distinct hashes, so no partition is group-sized), then
    a second window over the <= k*64 surviving rows per group takes the
    true k minima. Both steps are exact: the k smallest overall are always
    among each sub-bucket's k smallest. No single-partition window at any
    corpus size (raise the 64 sub-buckets for bigger groups).

    Groups with fewer than k distinct n-grams get their exact count.
    Returns (group_col, n_mins, distinct_est) — n_mins = min(k, exact D).
    """
    mink = _group_sketch_sets(df, k)
    est = mink.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_mins"), F.max("h").alias("kth")
    )
    return est.select(
        F.col("grp").alias("lang"),
        "n_mins",
        F.when(F.col("n_mins") < k, F.col("n_mins").cast("double"))
        .otherwise(
            F.round(F.lit(float(k - 1)) * F.lit(_HASH_DOMAIN) / F.col("kth"), 2)
        )
        .alias("distinct_est"),
    )


def kmv_group_overlap(df: DataFrame) -> DataFrame:
    """Pairwise group overlap from MERGED KMV sketches — the property that
    makes a sketch worth having at 100 TB: each group's k-minimum set is
    computed ONCE from its own data (k = 64 bigram hashes), and any pair's
    union/Jaccard estimate then comes from the two k-row sketches alone,
    never re-reading the corpus (Beyer et al., SIGMOD 2007: kmin_k(A∪B) ⊆ kmin_k(A) ∪
    kmin_k(B), so the merge is exact on sketch data).

    For each group pair a < b: K = the k smallest of the two sketch sets'
    union (k' = |K| when fewer), intersection fraction
    |{h ∈ K : h ∈ sketch(A) ∩ sketch(B)}| / k' estimates Jaccard, and
    the k'-th minimum of the union estimates |A ∪ B| exactly as in
    kmv_distinct_tokens. Everything after the per-group sketch is
    O(#pairs · k) — window partitions are ≤ 2k rows by construction.

    Returns (lang_a, lang_b, k_used, jaccard_est, union_est).
    """
    mins = _group_sketch_sets(df, 64).persist()
    # lazy persist (r6): all six plan branches sit under ONE final action,
    # which fills the cache in a single job (block-level locks serialize
    # any same-partition race inside a job) - the separate count
    # materialization was pure overhead
    groups = mins.select(F.col("grp").alias("ga")).distinct()
    pairs = (
        groups.join(mins.select(F.col("grp").alias("gb")).distinct())
        .where(F.col("ga") < F.col("gb"))
    )
    pu = (
        pairs.join(mins.withColumnRenamed("grp", "ga"), "ga")
        .select("ga", "gb", "h")
        .union(
            pairs.join(mins.withColumnRenamed("grp", "gb"), "gb")
            .select("ga", "gb", "h")
        )
        .dropDuplicates(["ga", "gb", "h"])
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    ku = pu.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 64)
    ina = mins.select(F.col("grp").alias("ga"), "h", F.lit(1).alias("in_a"))
    inb = mins.select(F.col("grp").alias("gb"), "h", F.lit(1).alias("in_b"))
    j = ku.join(ina, ["ga", "h"], "left").join(inb, ["gb", "h"], "left")
    out = (
        j.groupBy("ga", "gb")
        .agg(
            F.count("*").cast("bigint").alias("k_used"),
            F.sum(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_both"),
            F.max("h").alias("kth"),
        )
        .select(
            F.col("ga").alias("lang_a"),
            F.col("gb").alias("lang_b"),
            "k_used",
            F.round(F.col("n_both") / F.col("k_used"), 4).alias("jaccard_est"),
            F.when(F.col("k_used") < 64, F.col("k_used").cast("double"))
            .otherwise(
                F.round(
                    (F.col("k_used") - 1).cast("double")
                    * F.lit(_HASH_DOMAIN)
                    / F.col("kth"),
                    2,
                )
            )
            .alias("union_est"),
        )
        .localCheckpoint(eager=True)
    )
    mins.unpersist()
    return out
