"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm). SURVEY.md §2.12 family: the sampling-based fingerprint that
guarantees detection of any shared run of ``k + w - 1`` tokens while
keeping only ~2/(w+1) of the k-gram hashes — the cheap index for
plagiarism / near-dup candidate generation, vs shared_window_pairs'
exhaustive inverted index.

Per document (all narrow array HOFs — zero shuffle until the consumer):
word k-grams of the normalized text -> 60-bit md5 hashes -> every window
of ``w`` consecutive hashes contributes its MINIMUM -> distinct selected
hashes are the fingerprints. Selecting only the min VALUE (not its
position) keeps the op deterministic and engine-replayable: ties inside a
window are between equal hash values, so the selected set is identical
however ties break. Documents with at least one k-gram but fewer than
``w`` windows contribute the min of what they have (one whole-array
window); empty documents produce no rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import let_bound, normalized, tokens
from .corpus import _kgrams


def _gram_hashes(text_col: Column, k: int) -> Column:
    """60-bit md5 hash per positional k-gram (multiplicity kept — the
    window structure needs every position)."""
    return F.transform(
        _kgrams(text_col, k),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Distinct winnowing fingerprints, one row per (doc_id, fp).

    The hash array is let-bound (textfns.let_bound): the per-window lambda
    slices it w times per element access otherwise (O(n^2)/row, the HOF
    trap BENCH.md documents). Returns (doc_id, fp bigint).
    """
    # sequence(1, 0) runs DESCENDING (the _kgrams guard): gate the empty
    # case to an empty array instead
    mins = let_bound(
        _gram_hashes(F.col("text"), k),
        lambda hs: F.when(
            F.size(hs) >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(hs) - (w - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(hs, i, w)),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    return (
        df.select(F.col("doc_id"), F.explode(mins).alias("fp"))
        .distinct()
    )


def winnow_candidate_pairs(
    df: DataFrame,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    (:func:`winnow_fingerprints` at k = 4, w = 5) — the MOSS match candidate generator. Same plan discipline as
    dedup.shared_window_pairs: the fingerprint index is persisted and
    eagerly materialized once (it feeds the df-cut and both self-join
    sides), fingerprints appearing in more than ``max_df`` documents are
    dropped before the join (ubiquitous boilerplate would otherwise
    quadratically dominate — and carries no match signal), and the
    self-join keys on the md5-uniform fp (no skew). Result is eager so
    the index cache releases (the pair-operator convention).

    Returns (id_a, id_b, n_shared).
    """
    # fp-keyed cached index (r6, the ngram_jaccard_pairs layout): one
    # exchange serves the df groupBy, the cut join, and the self-join; the
    # final eager action fills the lazy cache in one job, so the old
    # per-stage persist+count materialization passes were pure overhead.
    fps = winnow_fingerprints(df).repartition("fp").persist()
    dfc = fps.groupBy("fp").agg(F.count("*").alias("df_cnt"))
    filtered = fps.join(dfc.where(F.col("df_cnt") <= max_df), "fp").select(
        "doc_id", "fp"
    )
    a = filtered.alias("a")
    b = filtered.alias("b")
    out = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    out = out.localCheckpoint(eager=True)
    fps.unpersist()
    return out
