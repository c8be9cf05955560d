"""Temporal joins the DataFrame API lacks: as-of join and range join.

Two of the classic "Spark has no operator for this" cases (the others in
this package: exact-substring dedup, banded LSH, the sketch family). The
naive formulations are scale-killers:

- as-of join as ``row_number() OVER (PARTITION BY key ORDER BY t)`` over
  the unioned streams puts EVERY row of a key into one window partition
  (a hot key's full history on one task);
- range join as ``l.t BETWEEN r.lo AND r.hi`` compiles to
  BroadcastNestedLoopJoin (or a per-key cartesian) — quadratic in key
  frequency.

Both operators here reduce to EQUI-joins on (key, time-bucket), so the
shuffle is hash-partitioned, AQE-skew-splittable, and co-partitionable
with an upstream bucketed layout. The only window is the as-of carry: per
key over its DISTINCT BUCKETS (timespan / bucket_width rows, never
row-count-sized). Everything is integer microsecond arithmetic, so DuckDB
replays results exactly — the as-of contract entry is oracled against
DuckDB's NATIVE ``ASOF JOIN``, proving the distributed two-phase
formulation equals the serial definition (the shuffle_order proof shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# one day in microseconds — a sane default bucket for event streams
DAY_US = 86_400_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "k",
    bucket_us: int = DAY_US,
) -> DataFrame:
    """Backward as-of join: for every left row, the right row with the
    LARGEST ``t`` <= the left row's time, per ``key_col`` — "the
    most recent prior observation" (trade-to-quote, event-to-state,
    click-to-impression attribution).

    Semantics contract:
    - inclusive (``r.t <= l.t``; a simultaneous right row matches);
    - ties on (key, t) within the right side resolve by the LARGEST
      remaining struct (deterministic lexicographic tie-break on the
      right payload columns, in their column order);
    - left rows with no eligible right row survive with NULL matches
      (left-outer semantics).

    Distributed construction (equi-joins only; the scale argument):

    1. both sides get ``b = t DIV bucket_us``;
    2. per (key, b), the right side's best candidate-for-carry is ONE
       partial-aggregable max-struct agg;
    3. the carry axis = distinct (key, b) over BOTH sides; a window per
       key ordered by b (rows: the key's DISTINCT BUCKETS — bounded by
       timespan/bucket_us, never by row count) forward-folds the best
       right row of all STRICTLY EARLIER buckets;
    4. candidates per left row = same-bucket right rows with
       ``r.t <= l.t`` (equi-join on (key, b) — bucket_us bounds the
       fan-in) ∪ the carry at the left row's own bucket (equi-join,
       left-outer, always eligible since earlier-bucket times are
       < b*bucket_us <= l.t);
    5. one max-struct agg per left row picks the winner.

    The left frame must carry a unique row identity: all its columns are
    grouped on in step 5 (pass a frame with an id column and whatever
    payload you need downstream). Right columns come back as
    ``matched_<col>`` (NULL when unmatched).
    """
    lb = left.withColumn("__b", F.expr(f"t DIV {bucket_us}"))
    rpay = [c for c in right.columns if c != key_col]
    cand = F.struct(*[F.col(c) for c in ["t"] + [c for c in rpay if c != "t"]])
    rb = right.select(
        F.col(key_col), F.expr(f"t DIV {bucket_us}").alias("__b"), cand.alias("__cand")
    )
    rbest = rb.groupBy(key_col, "__b").agg(F.max("__cand").alias("__best"))
    axis = (
        lb.select(key_col, "__b")
        .union(rb.select(key_col, "__b"))
        .distinct()
        .join(rbest, [key_col, "__b"], "left")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = axis.select(
        key_col, "__b", F.max("__best").over(w).alias("__cand")
    )
    in_bucket = lb.join(rb, [key_col, "__b"]).where(
        F.col("__cand.t") <= F.col("t")
    )
    carried = lb.join(carry, [key_col, "__b"], "left")
    lcols = [c for c in left.columns]
    best = (
        in_bucket.select(*lcols, "__cand")
        .unionByName(carried.select(*lcols, "__cand"))
        .groupBy(*lcols)
        .agg(F.max("__cand").alias("__m"))
    )
    out_cols = [F.col(c) for c in lcols]
    out_cols.append(F.col("__m.t").alias("matched_t"))
    for c in rpay:
        if c != "t":
            out_cols.append(F.col(f"__m.{c}").alias(f"matched_{c}"))
    return best.select(*out_cols)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str = "k",
    bucket_us: int = DAY_US,
    max_len_us: int | None = None,
) -> DataFrame:
    """Interval (range) join: every (point, interval) pair with the same
    key and ``lo <= t <= hi`` — sessions-to-events, validity windows,
    campaign attribution.

    Each interval is replicated to the buckets it overlaps (at most
    len/bucket_us + 1 copies — ``max_len_us`` enforces the bound the
    plan's cost argument rests on; an unbounded interval would replicate
    without limit, so violations RAISE at plan build rather than
    degrade), points carry their single bucket, and the match is an
    EQUI-join on (key, bucket) + the residual BETWEEN filter. A pair
    meets in exactly one bucket (the point's), so no dedup pass is
    needed. Returns the point columns + the interval columns.
    """
    if max_len_us is not None:
        too_long = intervals.where(
            F.col("hi") - F.col("lo") > max_len_us
        ).limit(1).count()
        if too_long:
            raise ValueError(
                f"range_join: interval longer than max_len_us={max_len_us} — "
                "replication bound violated; widen max_len_us or split intervals"
            )
    pb = points.withColumn("__b", F.expr(f"t DIV {bucket_us}"))
    ib = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"lo DIV {bucket_us}"),
                F.expr(f"hi DIV {bucket_us}"),
            )
        ),
    )
    return (
        pb.join(ib, [key_col, "__b"])
        .where(
            (F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi"))
        )
        .drop("__b")
    )


def decayed_counts(
    events: DataFrame,
    anchor_day: int,
    scale: int = 10_000,
    max_age: int = 62,
) -> DataFrame:
    """Exponential time-decay trending score per group (the Hacker-News/
    Reddit "hot" ranking reduced to exact integer arithmetic): each event
    contributes ``scale >> age_days`` — a half-life of exactly one day —
    so the score is a single partial-aggregable SUM with map-side
    combine; no window, no sort, one shuffle on the group key.

    The decay is a BIT SHIFT, not ``pow(0.5, age)``: both engines shift
    BIGINTs exactly, while the FP power drifts cross-engine. Ages clamp
    to ``max_age`` (62 keeps the shift defined on a 64-bit lane on both
    engines; contributions are 0 long before that). ``anchor_day`` is
    "now" and must be supplied by the caller — deriving it inside would
    put a global max-scan (a 1-row SinglePartition) in every plan;
    callers that want the data's own horizon collect max(day) once
    driver-side (the alpha_mix precedent: one bounded scalar, embedded
    as a literal).
    """
    if not 0 <= max_age <= 62:
        raise ValueError(
            f"decayed_counts: max_age must be in [0, 62], got {max_age} — "
            "JVM shiftright takes shift counts mod 64, so an out-of-range "
            "clamp would wrap silently instead of erroring"
        )
    if scale <= 0:
        raise ValueError(f"decayed_counts: scale must be positive, got {scale}")
    ev = events.select(
        F.col("event_type").alias("g"),
        F.expr(f"t DIV {DAY_US}").cast("bigint").alias("d"),
    )
    return (
        ev.where(F.col("d") <= anchor_day)
        .select(
            "g",
            F.expr(
                f"shiftright(CAST({scale} AS BIGINT), "
                f"CAST(least({anchor_day} - d, {max_age}) AS INT))"
            ).alias("contrib"),
        )
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("contrib").cast("bigint").alias("decayed_score"),
        )
        .select(F.col("g").alias("event_type"), "n_events", "decayed_score")
    )


def sliding_active_users(
    events: DataFrame,
    window_days: int = 7,
    eager: bool = True,
) -> DataFrame:
    """Rolling distinct-active-user counts — the DAU/WAU stickiness table
    — WITHOUT a window function: a sliding count-distinct window would
    need every user's full history sorted per partition; instead each
    distinct (user, day) fact is replicated to the ``window_days`` report
    days it supports (bounded ×7 fan-out, the range_join replication
    idea), deduped, and counted.

    Plan: distinct (user, day) → explode to (user, report_day) →
    distinct → count per report_day, joined back to the per-day DAU
    agg. Every stage is partial-aggregable; the replication factor is a
    CONSTANT (window_days), never data-dependent. Report days run
    through ``last_activity + window_days - 1`` (a trailing window's
    natural tail — counts decay to 0 past the horizon); DAU is 0 on
    report days with no same-day activity. stickiness_e4 =
    dau*10000 DIV wau, the classic ratio, exact integer.

    The distinct (user, day) frame feeds BOTH the DAU agg and the
    replication, so ``eager=True`` (default) localCheckpoints it once
    instead of re-running the scan + distinct shuffle per consumer;
    ``eager=False`` keeps the full declarative lineage for plan
    inspection.
    """
    if window_days < 1:
        raise ValueError(
            f"sliding_active_users: window_days must be >= 1, got "
            f"{window_days} — sequence(d, d + {window_days - 1}) would "
            "DESCEND and fabricate report days before the activity"
        )
    ev = events.select(
        F.col("user_id").alias("u"),
        F.expr(f"t DIV {DAY_US}").cast("bigint").alias("d"),
    ).distinct()
    if eager:
        ev = ev.localCheckpoint(eager=True)
    dau = ev.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    wau = (
        ev.select(
            "u",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit(window_days - 1))
            ).alias("rd"),
        )
        .distinct()
        .groupBy("rd")
        .agg(F.count("*").cast("bigint").alias("wau"))
    )
    return (
        wau.join(dau, wau["rd"] == dau["d"], "left")
        .select(
            F.col("rd").cast("bigint").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            F.col("wau"),
            F.expr("coalesce(dau, 0) * 10000 DIV wau").cast("bigint").alias(
                "stickiness_e4"
            ),
        )
    )


def cohort_retention(
    events: DataFrame,
    eager: bool = True,
) -> DataFrame:
    """Cohort retention matrix (the other product-analytics staple next
    to :func:`funnel`): users are cohorted by their FIRST active day and
    each (cohort_day, age_days) cell counts how many of that cohort were
    active again ``age_days`` later, plus the e4 fixed-point retention
    rate.

    Distributed shape — no window anywhere:

    1. activity = distinct (user, day): a partial-aggregable dedup (a
       hot user's duplicate same-day events collapse map-side);
    2. cohort day = min-agg per user (partial-aggregable);
    3. activity ⋈ cohort on the user key (hash join on the same key the
       previous two shuffles used — co-partitioned under AQE);
    4. the cell count is a plain count(*): (user, day) is already
       distinct and ``day = cohort_day + age``, so each user contributes
       at most one row per cell — count == distinct-user count with no
       second distinct pass;
    5. cohort sizes (one row per day — timespan-bounded, broadcast
       territory) join back for the rate.

    All-integer: days are ``t DIV DAY_US``, the rate is
    ``active*10000 DIV cohort_users``. Age 0 is the cohort itself
    (retention_e4 = 10000 by construction — pinned by test).

    ``active`` feeds two consumers and ``cohort`` feeds two more, so
    ``eager=True`` (default) localCheckpoints both once instead of
    re-running the scan + shuffles per consumer; ``eager=False`` keeps
    the declarative lineage for plan inspection.
    """
    ev = events.select(
        F.col("user_id").alias("u"),
        F.expr(f"t DIV {DAY_US}").cast("bigint").alias("d"),
    )
    active = ev.distinct()
    if eager:
        active = active.localCheckpoint(eager=True)
    cohort = active.groupBy("u").agg(F.min("d").alias("cd"))
    if eager:
        cohort = cohort.localCheckpoint(eager=True)
    sizes = cohort.groupBy("cd").agg(F.count("*").alias("cohort_users"))
    cells = (
        active.join(cohort, "u")
        .groupBy("cd", (F.col("d") - F.col("cd")).alias("age_days"))
        .agg(F.count("*").alias("active_users"))
    )
    return cells.join(sizes, "cd").select(
        F.col("cd").alias("cohort_day"),
        F.col("age_days").cast("bigint").alias("age_days"),
        F.col("active_users").cast("bigint").alias("active_users"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        F.expr("active_users * 10000 DIV cohort_users").alias("retention_e4"),
    )


def funnel(
    events: DataFrame,
    stages: list[str],
) -> DataFrame:
    """Strictly-ordered funnel conversion (the product-analytics staple;
    same semantics as ClickHouse windowFunnel in strict_order-less mode
    with an unbounded window): per user, t1 = min time of stages[0],
    t_i = min time of stages[i-1] events STRICTLY AFTER t_{i-1}. A user
    reaches stage i iff t_i exists.

    Distributed shape: one conditional min-agg per stage plus one
    user-keyed join back — every shuffle is on the user key and every
    aggregation is partial-aggregable, so a hot user costs one combiner
    row per stage rather than the full event history in one partition
    (the window/sort formulation's failure mode). The stage frames shrink
    monotonically (converters only), so later joins are against
    ever-smaller sides.

    Returns one row per stage-1 user: (user, t1..tn with -1 for
    not-reached, reached = highest stage index attained). Strict `>` at
    every hop is pinned semantics (an event at exactly t_{i-1} does not
    convert), integer time units end-to-end.
    """
    ev = events.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("et"), F.col("t")
    )
    cur = (
        ev.where(F.col("et") == stages[0])
        .groupBy("u")
        .agg(F.min("t").alias("t1"))
    )
    for i in range(2, len(stages) + 1):
        prev = f"t{i - 1}"
        nxt = (
            ev.where(F.col("et") == stages[i - 1])
            .join(cur.select("u", prev), "u")
            .where(F.col("t") > F.col(prev))
            .groupBy("u")
            .agg(F.min("t").alias(f"t{i}"))
        )
        cur = cur.join(nxt, "u", "left")
    reached = F.lit(1)
    for i in range(2, len(stages) + 1):
        reached = reached + F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
    return cur.select(
        F.col("u").alias("user_id"),
        *[
            F.coalesce(F.col(f"t{i}"), F.lit(-1)).cast("bigint").alias(f"t{i}_us")
            for i in range(1, len(stages) + 1)
        ],
        reached.cast("bigint").alias("reached"),
    )
