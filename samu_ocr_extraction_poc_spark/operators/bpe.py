"""Distributed BPE vocabulary induction + encoding (SURVEY.md §2.12
family — tokenizer TRAINING as a corpus operator, the step upstream of
every token-count/packing op in this package).

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) learns a merge
table: start from characters, repeatedly merge the globally most frequent
adjacent symbol pair. The classic implementation is a single-process loop
over a word-frequency dict; at corpus scale the ONLY heavy part is the
pair counting, which is exactly a distributed aggregation:

- the corpus collapses to a (word, freq) table first — pair statistics
  only depend on the word VOCABULARY weighted by frequency, so a 10^12-
  token corpus becomes a few-million-row frame after one hash agg;
- each round is one partial-aggregable groupBy (pair -> sum(freq)) plus a
  1-row argmax (orderBy+limit(1) = TakeOrderedAndProject, never a global
  sort) collected to the driver — the same one-row-per-round driver
  probe discipline as connected_components' convergence aggregate;
- the merge itself is a narrow string replace over the word table;
- a vocabulary small enough for the driver (words x rounds within the
  session's broadcast budget) is collected once and the rounds run in
  Python instead: a Spark job per round costs more than the round.

Symbol sequences are represented as "(sym)(sym)..." strings: each symbol
individually parenthesized, so replacing the literal "(l)(r)" with
"(lr)" is BPE's greedy leftmost-first merge — left-to-right non-
overlapping replace() semantics, identical in Spark and DuckDB, with no
shared delimiter between adjacent occurrences (a space-separated
representation would consume the shared separator and skip every other
merge in runs like "a a a a"). Symbols are drawn from the normalized
[a-z0-9] alphabet, so parentheses can never collide with content.

Determinism: integer pair counts, ties broken lexicographically on
(left, right) — the oracle (contract.py BPE_TRAIN_SQL) replays the exact
unrolled rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.frames import collect_within_budget, release_frame, values_frame
from ..functions.textfns import let_bound, normalized, tokens


def _word_freqs(df: DataFrame) -> DataFrame:
    """(word, freq) over the normalized corpus — the collapse that makes
    corpus-scale BPE cheap (pair stats need only the weighted vocabulary)."""
    return (
        df.select(F.explode(tokens(normalized(F.col("text")))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _char_wrapped(col) -> "F.Column":
    """'abc' -> '(a)(b)(c)': the initial character-level symbol string."""
    return F.regexp_replace(col, "(.)", r"($1)")


def _sym_pairs(s_col) -> "F.Column":
    """Adjacent symbol pairs of a '(a)(bc)...' string as 'l r' strings.
    Symbol array let-bound (textfns.let_bound): referencing the split
    expression inside the per-pair lambda re-splits per element access."""

    def body(sy):
        n = F.size(sy)
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(sy, i), F.element_at(sy, i + 1)),
        )
        return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))

    return let_bound(F.split(F.btrim(s_col, F.lit("()")), r"\)\("), body)


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    checkpoint_every: int = 16,
    stats: dict | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table as driver-side rows [(merge_idx, lhs, rhs, merged, pair_count)]
    in merge order — the artifact a tokenizer ships (a few hundred rows in
    practice; each round's argmax is a 1-row collect, the iterative-
    algorithm driver-probe pattern). Stops early when no pair is left.

    Lineage discipline (ADVICE r3 / VERDICT r3 item 6): the merge chain is
    one ``replace`` per round on top of the cached word table, so round r
    would re-execute all r prior replaces — O(n_merges²) work and unbounded
    plan depth at real vocabulary sizes (10k+ merges). Every
    ``checkpoint_every`` rounds the frame is localCheckpoint(eager)-ed, so
    work per round becomes
    O(checkpoint_every) replaces over a vocabulary-sized frame and Catalyst
    never sees more than ``checkpoint_every`` nested projections.

    Small vocabularies never enter the loop: the driver's cost is
    vocabulary x rounds, so when ``words x n_merges`` fits the session's
    ``autoBroadcastJoinThreshold`` at 128 B each, the (word, freq) table is
    collected once and the same rounds run in Python
    (``stats["finish"]`` is ``"driver"``, else ``"spark"``;
    ``stats["checkpoints"]`` counts the loop's lineage truncations). A
    threshold <= 0 always runs the loop.
    """
    # flat materialized word table (r6): every round's pair-count plan
    # re-analyzes the base's lineage; a localCheckpoint makes that base a
    # LogicalRDD so round plans stay O(replaces-since-checkpoint)
    words = _word_freqs(df).select(
        _char_wrapped(F.col("w")).alias("s"), "freq"
    ).localCheckpoint(eager=False)
    # no pre-count (r6): the bounded collect or the first round's
    # pair-count collect materializes the checkpoint; later rounds read
    # the cache
    ckpt, n_ckpt = None, 0
    try:
        # 128 B per word-round: at the default 10 MB budget's bound
        # (local[4], 4-core VM, warm) the finish took 1.05-1.16 s against
        # the loop's 1.33-1.62 s at 81,920 words x 1 merge, and 0.46-0.48 s
        # against 2.60-2.68 s at 10,240 words x 8. At 64 B (163,840 words
        # x 1) the finish lost, 3.05 s against 2.66 s: the Row collect
        # costs ~8 us a word on top of ~5 us a word-round.
        rows = collect_within_budget(words, 128 * max(n_merges, 1))
        if rows is not None:
            if stats is not None:
                stats.update(finish="driver", checkpoints=0)
            return _train_on_driver(rows, n_merges)
        merges: list[tuple[int, str, str, str, int]] = []
        cur = words
        for idx in range(1, n_merges + 1):
            pair_counts = (
                cur.select("freq", F.explode(_sym_pairs(F.col("s"))).alias("p"))
                .groupBy("p")
                .agg(F.sum("freq").cast("bigint").alias("c"))
            )
            best = pair_counts.orderBy(F.col("c").desc(), F.col("p").asc()).limit(1).collect()
            if not best:
                break
            pair, cnt = best[0]["p"], int(best[0]["c"])
            lhs, rhs = pair.split(" ", 1)
            merges.append((idx, lhs, rhs, lhs + rhs, cnt))
            cur = cur.withColumn(
                "s",
                F.replace(
                    F.col("s"), F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})")
                ),
            )
            if checkpoint_every and idx % checkpoint_every == 0:
                cur = cur.localCheckpoint(eager=True)
                if ckpt is not None:
                    release_frame(ckpt)
                ckpt, n_ckpt = cur, n_ckpt + 1
        if stats is not None:
            stats.update(finish="spark", checkpoints=n_ckpt)
        return merges
    finally:
        release_frame(words)
        if ckpt is not None:
            release_frame(ckpt)


def _train_on_driver(rows: list[Row], n_merges: int) -> list[tuple[int, str, str, str, int]]:
    """The loop's rounds over the collected (s, freq) rows, in the same
    "(sym)(sym)" strings: pairs as ``_sym_pairs`` builds them, the argmax
    of ``orderBy(c desc, p asc)`` (Python orders str by code point, which
    is UTF-8 byte order, Spark's string order), and ``str.replace``, which
    is leftmost non-overlapping like Spark's ``replace``."""
    vocab = [(r["s"], r["freq"]) for r in rows]
    merges = []
    for idx in range(1, n_merges + 1):
        counts: dict[str, int] = {}
        for s, freq in vocab:
            syms = s[1:-1].split(")(")
            for lhs, rhs in zip(syms, syms[1:]):
                p = f"{lhs} {rhs}"
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda pc: (-pc[1], pc[0]))
        lhs, rhs = pair.split(" ", 1)
        merges.append((idx, lhs, rhs, lhs + rhs, cnt))
        old, new = f"({lhs})({rhs})", f"({lhs}{rhs})"
        vocab = [(s.replace(old, new), freq) for s, freq in vocab]
    return merges


def bpe_merge_table(spark: SparkSession, df: DataFrame, n_merges: int = 6) -> DataFrame:
    """:func:`bpe_train` as a DataFrame: (merge_idx, lhs, rhs, merged,
    pair_count) — the contract/oracle surface."""
    rows = bpe_train(df, n_merges=n_merges)
    return values_frame(
        spark,
        rows,
        "merge_idx int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
) -> DataFrame:
    """Apply a learned merge table: per-document BPE token counts under
    the trained vocabulary — the REAL token counter for budget/packing ops
    once a tokenizer exists (bpe_ish_token_count is the regex
    approximation for when none does). Encoding is narrow on the scan: the
    merge chain is a fixed sequence of literal replaces per row, no
    shuffle until the per-document sum. Practical bound: the chain is ONE
    nested expression, fine into the hundreds of merges; a 10k+-merge
    vocabulary should apply it in segments with an intermediate select
    (projection) every few hundred replaces to keep codegen happy.

    Returns (doc_id, n_words, n_bpe_tokens).
    """
    word = F.col("wd")
    s = _char_wrapped(word)
    for _, lhs, rhs, _m, _c in merges:
        s = F.replace(s, F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})"))
    # symbol count of "(a)(bc)" = occurrences of ")(" + 1 = (len - len(without ')(' )) / 2 + 1
    n_syms = let_bound(
        s,
        lambda enc: (F.length(enc) - F.length(F.replace(enc, F.lit(")("), F.lit("")))) / 2
        + 1,
    ).cast("bigint")
    return (
        df.select(
            F.col("doc_id"),
            F.explode(tokens(normalized(F.col("text")))).alias("wd"),
        )
        .where(F.length("wd") > 0)
        .select("doc_id", n_syms.alias("n_syms"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )
