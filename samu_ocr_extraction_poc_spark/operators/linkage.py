"""Record linkage (entity resolution) over structured records.

Training-data pipelines dedup not just documents but structured records
(crawl metadata, user tables, provenance rows); the canonical method is
blocked candidate generation + Fellegi-Sunter field-agreement scoring
(Fellegi & Sunter 1969, "A Theory for Record Linkage").  The reference
engine has no structured-record linker — its dedup families are all
content-based (operators/dedup.py) — so this module is part of the
additive LLM-data-pipeline suite, following the synth_link_graph
precedent (operators/graph.py): a deterministic md5-perturbed "dirty
copies" table synthesised from the TPC-H customer table, so the DuckDB
oracle replays the synthesis, the blocking, and every score exactly.

Scale notes (10^10-record master-data linkage):
- Never an all-pairs self-join: candidates come from UNION of two
  cheap equi-join blocking passes (name-suffix block + (nation,
  balance-bucket) block), each a shuffle on its block key.  Block
  cardinality grows with the data, so per-block fan-out stays bounded;
  the union is de-duplicated with one distinct on (rec_a, rec_b).
- Scoring is a single broadcast-free equi-join of the candidate pair
  list back to the record table (twice, on rec_id) + a narrow integer
  CASE ladder — partial-agg-free, no window, no SinglePartition.
- All perturbation and scoring arithmetic is BIGINT (balances held as
  integer cents), so the result is bit-exact across engines and across
  partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _h(col: Column, start: int, hex_chars: int, modulus: int) -> Column:
    """Deterministic integer in [0, modulus) from an md5 hex WINDOW —
    ('0x' || substr(md5(x), start, n))::BIGINT % m in DuckDB.  Distinct
    windows of one digest give independent perturbation draws without
    re-hashing (corpus._md5_bucket is the start=1 special case)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), start, hex_chars), 16, 10)
        .cast("bigint") % modulus
    )


def synth_dirty_records(customer: DataFrame) -> DataFrame:
    """Deterministic dirty-record table: each customer row becomes
    3 records — the original (variant 0) plus 2 perturbed
    copies whose corruptions are drawn from md5 windows of
    ``custkey:variant`` (replayable in closed form by the oracle):

    - digit mutation: with prob 1/4, one of the 9 name digits is
      overwritten (position and new digit from further md5 windows);
    - nation drift: with prob 1/5, nationkey moves to a different key
      mod 25;
    - balance jitter: with prob 1/4, integer cents shift by [-50, +50];
    - missing segment: with prob 1/6, mktsegment is NULL.

    Columns: rec_id (custkey*10+variant), entity_id (ground truth),
    name_digits (9-char string), nationkey, cents, segment.  One narrow
    explode — no shuffle, no join.
    """
    key = F.concat(
        F.col("c_custkey").cast("string"), F.lit(":"), F.col("v").cast("string")
    )
    exploded = customer.select(
        "c_custkey",
        F.substring("c_name", 10, 9).alias("nd0"),
        F.col("c_nationkey").cast("bigint").alias("nat0"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents0"),
        F.col("c_mktsegment").alias("seg0"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("v"),
    )
    perturb = F.col("v") > 0
    pos = (_h(key, 3, 2, 9) + 1).cast("int")  # 1..9
    digit = _h(key, 5, 2, 10).cast("string")
    mutated = F.concat(
        F.substring(F.col("nd0"), F.lit(1), pos - 1),
        digit,
        F.substring(F.col("nd0"), pos + 1, F.lit(9) - pos),
    )
    return exploded.select(
        (F.col("c_custkey") * 10 + F.col("v")).cast("bigint").alias("rec_id"),
        F.col("c_custkey").cast("bigint").alias("entity_id"),
        F.when(perturb & (_h(key, 1, 2, 4) == 0), mutated)
        .otherwise(F.col("nd0"))
        .alias("name_digits"),
        F.when(perturb & (_h(key, 7, 2, 5) == 0),
               (F.col("nat0") + 1 + _h(key, 9, 2, 23)) % 25)
        .otherwise(F.col("nat0"))
        .alias("nationkey"),
        F.when(perturb & (_h(key, 11, 2, 4) == 0),
               F.col("cents0") + _h(key, 13, 2, 101) - 50)
        .otherwise(F.col("cents0"))
        .alias("cents"),
        F.when(perturb & (_h(key, 15, 2, 6) == 0), F.lit(None).cast("string"))
        .otherwise(F.col("seg0"))
        .alias("segment"),
    )


# Fellegi-Sunter agreement weights (integer; pinned by the oracle)
W_NAME_EXACT = 40
W_NAME_SUFFIX = 25
W_NAME_DIFF = -10
W_NATION_EQ = 15
W_NATION_DIFF = -5
W_BAL_CLOSE = 20
W_BAL_FAR = -10
W_SEG_EQ = 10
W_SEG_DIFF = -15
BAL_CLOSE_CENTS = 100
DEFAULT_THRESHOLD = 45


def blocked_link_pairs(records: DataFrame, threshold: int = DEFAULT_THRESHOLD) -> DataFrame:
    """Blocked Fellegi-Sunter linkage: candidate pairs from the UNION of
    two blocking passes, scored with the integer agreement ladder, kept
    when ``score >= threshold``.

    Pass A blocks on the last-6 name digits (suffix, NOT prefix — the
    synthetic ids are zero-padded so a prefix key degenerates to a
    handful of giant blocks and a quadratic join; the suffix is unique
    per entity up to 10^6 entities and survives mutations in digits
    1-3).  Pass B blocks on (nationkey, cents DIV 10000) — the $100
    balance band — and recovers pairs whose name suffix was mutated.
    Each pass is an equi-join; no pass compares a record to the whole
    table.

    Returns (rec_a, rec_b, score, is_true) for matched pairs, where
    is_true = 1 iff the pair's ground-truth entity ids agree (available
    because the records are synthesised; a production caller drops it).
    """
    # materialize the record table ONCE (r6): it is read by four plan
    # branches (both blocking passes and both sides of the scoring join),
    # and for the synthesised caller each branch re-ran the ~6-md5-per-row
    # perturbation plus the corpus scan/repartition. Eager localCheckpoint
    # computes it a single time and hands every branch a flat base
    # (guide §1.2 "don't compute things you throw away"; the AQE runtime
    # size check still broadcasts the scoring sides when they fit). The
    # RESULT is eager-checkpointed below so this base can be released
    # before returning (the pair-operator convention) — a lazy return
    # would pin the full record copy for the caller's lifetime.
    from ..functions.frames import release_frame

    r = records.select("rec_id", "entity_id", "name_digits", "nationkey",
                       "cents", "segment").localCheckpoint(eager=True)

    # try/finally: an analysis error in the joins or a task failure while
    # materializing the result must not leak the record blocks for the
    # session's lifetime
    try:
        def pass_pairs(keyed: DataFrame) -> DataFrame:
            a = keyed.select(F.col("bk"), F.col("rec_id").alias("rec_a"))
            b = keyed.select(F.col("bk"), F.col("rec_id").alias("rec_b"))
            return (
                a.join(b, "bk")
                .where(F.col("rec_a") < F.col("rec_b"))
                .select("rec_a", "rec_b")
            )

        pass_a = pass_pairs(
            r.select(F.substring("name_digits", 4, 6).alias("bk"), "rec_id")
        )
        pass_b = pass_pairs(
            r.select(
                F.concat(
                    F.col("nationkey").cast("string"),
                    F.lit("|"),
                    F.expr("cents DIV 10000").cast("string"),
                ).alias("bk"),
                "rec_id",
            )
        )
        cand = pass_a.union(pass_b).distinct()

        ra = r.select(*[F.col(c).alias(f"{c}_a") for c in r.columns])
        rb = r.select(*[F.col(c).alias(f"{c}_b") for c in r.columns])
        scored = (
            cand.join(ra, cand.rec_a == ra.rec_id_a)
            .join(rb, cand.rec_b == rb.rec_id_b)
            .select(
                "rec_a",
                "rec_b",
                (
                    F.when(F.col("name_digits_a") == F.col("name_digits_b"),
                           W_NAME_EXACT)
                    .when(F.substring("name_digits_a", 4, 6)
                          == F.substring("name_digits_b", 4, 6), W_NAME_SUFFIX)
                    .otherwise(W_NAME_DIFF)
                    + F.when(F.col("nationkey_a") == F.col("nationkey_b"),
                             W_NATION_EQ).otherwise(W_NATION_DIFF)
                    + F.when(
                        F.abs(F.col("cents_a") - F.col("cents_b"))
                        <= BAL_CLOSE_CENTS, W_BAL_CLOSE
                    ).otherwise(W_BAL_FAR)
                    + F.when(
                        F.col("segment_a").isNull() | F.col("segment_b").isNull(),
                        0,
                    )
                    .when(F.col("segment_a") == F.col("segment_b"), W_SEG_EQ)
                    .otherwise(W_SEG_DIFF)
                ).cast("bigint").alias("score"),
                (F.col("entity_id_a") == F.col("entity_id_b"))
                .cast("bigint")
                .alias("is_true"),
            )
        )
        return scored.where(F.col("score") >= threshold).localCheckpoint(eager=True)
    finally:
        release_frame(r)
