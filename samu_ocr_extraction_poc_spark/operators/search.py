"""Lexical retrieval over the corpus: relational BM25 top-k.

The textual counterpart of the embedding similarity family — used in
training-data pipelines for benchmark decontamination sweeps, targeted
quality audits, and retrieval-augmented corpus construction. Everything is
DataFrame-native over the token inverted index; the only non-rational
arithmetic (ln in idf, the tf saturation) is quantized/rounded so the
DuckDB oracle reproduces scores bit-for-bit after round(4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..functions.textfns import let_bound, normalized, tokens
from .corpus import _grams

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
) -> DataFrame:
    """Per-document BM25 score for a bag of query terms (no ranking).

    Construction (all relational, one pass over the token explode):
    - doc length dl = token count of the normalized text; avgdl computed as
      exact integer sum / count (both engines agree bit-for-bit, unlike a
      running-mean avg());
    - the exploded token stream is filtered to the query terms FIRST — the
      per-term tf/df aggregation touches only matching rows, so the
      expensive part scales with hits, not corpus size;
    - idf = ln((N - df + 0.5)/(df + 0.5) + 1) rounded to 6 decimals before
      use: ln() is only ~1-ulp accurate on both engines, quantizing makes
      the downstream products engine-identical;
    - score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
      rounded to 4 decimals so downstream rank tie-breaks (doc_id) are
      cross-engine deterministic.

    Returns (doc_id, score) for matching documents only.
    """
    terms = [t.lower() for t in query_terms]
    base = df.select(
        F.col("doc_id"),
        tokens(normalized(F.col("text"))).alias("toks"),
    ).select(
        "doc_id",
        F.explode("toks").alias("term"),
        F.size("toks").cast("bigint").alias("dl"),
    )
    # dl repeats per token row; doc-level lengths for avgdl come from a
    # distinct pass so each doc counts once
    doc_len = base.select("doc_id", "dl").distinct()
    corpus_stats = doc_len.groupBy().agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    hits = base.where(F.col("term").isin(terms))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf"), F.first("dl").alias("dl")
    )
    dft = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("dft"))
    scored_terms = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            "doc_id",
            (
                F.round(
                    F.log(
                        (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5)
                        + 1.0
                    ),
                    6,
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return scored_terms.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 4).alias("score")
    )


def bm25_topk(df: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 top-10 documents for a bag of query terms.

    Ranking is distributed top-k, never a global window: round-2 used
    ``row_number() OVER (ORDER BY score)`` with no partition key, which
    Spark executes by moving EVERY matching document through one partition
    ("No Partition Defined for Window operation") — a scale-killer for
    common query terms (billions of hits at 10^12 docs). Here
    ``orderBy(...).limit(10)`` compiles to TakeOrderedAndProject: each
    partition keeps its local top 10, the driver merges 10·P rows. The rank
    is then derived on the 10-row result via a broadcast self-join count
    (rank = 1 + #rows strictly better) — no window operator anywhere in
    the plan (pinned by tests/test_scale_paths.py).

    Returns (rank, doc_id, score).
    """
    scores = bm25_scores(df, query_terms)
    # eager 10-row checkpoint: the rank join reads `top` on both sides; a
    # lazy frame would recompute the whole scoring pipeline twice
    top = (
        scores.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
        .localCheckpoint(eager=True)
    )
    better = (F.col("b.score") > F.col("a.score")) | (
        (F.col("b.score") == F.col("a.score")) & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    return (
        top.alias("a")
        .join(F.broadcast(top.alias("b")), better, "left")
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("a.score").alias("score"))
        .agg((F.count(F.col("b.doc_id")) + 1).cast("int").alias("rank"))
        .select("rank", "doc_id", "score")
    )


def filtered_tokens(text_col: Column) -> Column:
    """Normalized word tokens with empty pseudo-tokens removed — the
    token array EVERY phrase-search surface below must share (index
    build, narrow matcher, k-gram derivation): a single side filtering
    empties would shift positions and silently miss adjacencies (the
    gopher empty-token advice item, applied at position-sensitivity
    stakes). DuckDB replica: list_filter(string_split(trim(
    regexp_replace(lower(x), '[^a-z0-9]+', ' ', 'g')), ' '),
    t -> length(t) > 0)."""
    return F.filter(tokens(normalized(text_col)), lambda t: F.length(t) > 0)


def filtered_kgrams(text_col: Column, k: int) -> Column:
    """Word k-grams over :func:`filtered_tokens` WITH multiplicity —
    corpus._kgrams' shape on the empty-filtered array (position parity
    with the phrase index). Token array let-bound."""
    return let_bound(filtered_tokens(text_col), lambda toks: _grams(toks, k))


def positional_index(df: DataFrame) -> DataFrame:
    """Positional inverted index: (term, doc_id, pos) rows, pos 1-based
    over :func:`filtered_tokens` — the structure phrase/proximity
    queries probe instead of re-scanning text. One narrow
    posexplode-and-project pass; no shuffle (writers wanting the
    build-once/probe-many amortization persist it partitioned by a term
    bucket exactly like dedup.build_band_index — per-term filters then
    partition-prune, the same discipline; an inline frame serves the
    single-query case below).

    Postings are unique per (term, doc_id, pos) by construction (one row
    per token occurrence), which is what makes the adjacency equi-joins
    in :func:`phrase_query` multiplicity-exact."""
    return (
        df.select(
            F.col("doc_id"),
            F.posexplode(filtered_tokens(F.col("text"))).alias("pos0", "term"),
        )
        .select(
            "term",
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
        )
    )


def phrase_query(index: DataFrame, terms: list[str]) -> DataFrame:
    """EXACT phrase search over a :func:`positional_index`: documents
    containing the terms CONSECUTIVELY, with match multiplicity and the
    first match position — the decontamination / targeted-audit query
    BM25's bag-of-words scoring can't answer (bm25 finds co-occurrence;
    this finds the quoted string).

    Plan shape at scale: each term selects only ITS postings from the
    index (with a term-bucket-partitioned persisted index these are
    partition-pruned reads, the band-index discipline), then k-1
    adjacency equi-joins on (doc_id, pos - offset) — the shuffle carries
    only the PHRASE TERMS' postings, never the corpus; selectivity
    compounds left-to-right so join i+1's input is already the i-term
    phrase's occurrence list. Overlapping matches count separately
    ("a a a" has two "a a" starts — both engines agree by construction).

    Returns (doc_id, n_matches, first_pos), matching documents only.
    """
    if not terms:
        raise ValueError("phrase_query needs at least one term")
    base = index.where(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, t in enumerate(terms[1:], 1):
        nxt = index.where(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        base = base.join(nxt, ["doc_id", "p0"])
    return base.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min("p0").cast("bigint").alias("first_pos"),
    )


def phrase_match_counts(
    df: DataFrame,
    terms: list[str],
) -> DataFrame:
    """Row-local phrase matcher — the NARROW formulation of
    :func:`phrase_query` for when the corpus is already being scanned
    anyway (a curation pass tagging documents by quoted string needs no
    index and no shuffle: one HOF filter over the token array per row).
    Same tokenization, same 1-based positions, same overlap semantics —
    tests pin it equal to the indexed path, which is exactly the
    index's correctness argument. Returns (doc_id, n_matches,
    first_pos), matching documents only."""
    if not terms:
        raise ValueError("phrase_match_counts needs at least one term")
    k = len(terms)
    arr = F.array(*[F.lit(t) for t in terms])

    def body(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.filter(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.forall(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda j: F.element_at(toks, (i + j).cast("int"))
                == F.element_at(arr, (j + 1).cast("int")),
            ),
        )
        return F.when(n >= k, starts).otherwise(
            F.array().cast("array<int>")
        )

    return (
        df.select(
            F.col("doc_id"),
            let_bound(filtered_tokens(F.col("text")), body).alias("st"),
        )
        .where(F.size("st") > 0)
        .select(
            "doc_id",
            F.size("st").cast("bigint").alias("n_matches"),
            F.element_at("st", 1).cast("bigint").alias("first_pos"),
        )
    )


def proximity_query(
    index: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """Proximity search over a :func:`positional_index`: documents where
    ``term_a`` and ``term_b`` co-occur within ``window`` tokens
    (unordered), with pair multiplicity and the closest distance — the
    NEAR operator between exact-phrase (distance fixed, ordered) and
    BM25 (distance ignored).

    Deliberately a COMPOSITION: term_b's postings become width-2w
    intervals [pos-w, pos+w] and :func:`temporal.range_join` does the
    rest — same bucketed equi-join, same replication bound, same
    no-nested-loop guarantee; a raw |pa - pb| <= w join on doc_id alone
    would be quadratic in term frequency per document, the exact
    failure mode range_join exists to kill. Returns (doc_id, n_pairs,
    min_dist), matching documents only."""
    from .temporal import range_join

    if window < 1:
        raise ValueError("proximity window must be >= 1")
    if term_a == term_b:
        raise ValueError(
            "proximity_query needs two distinct terms: with term_a == term_b "
            "every posting pairs with itself (distance 0) and symmetric pairs "
            "double-count"
        )
    pa = index.where(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("t")
    )
    ib = index.where(F.col("term") == term_b).select(
        "doc_id",
        F.greatest(F.col("pos") - window, F.lit(1)).alias("lo"),
        (F.col("pos") + window).alias("hi"),
        F.col("pos").alias("pb"),
    )
    # max_len_us=None: hi - lo <= 2*window holds ALGEBRAICALLY here
    # ([greatest(pos-w,1), pos+w]), and range_join's runtime check is an
    # eager action over the intervals frame — with an inline index that
    # re-executes the full corpus tokenize+posexplode once per call for
    # a bound that cannot fail (r5 review finding)
    pairs = range_join(
        pa,
        ib,
        key_col="doc_id",
        bucket_us=2 * window,
        max_len_us=None,
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min(F.abs(F.col("t") - F.col("pb"))).cast("bigint").alias("min_dist"),
    )


def tfidf_weighted_pairs(df: DataFrame, n_docs: int) -> DataFrame:
    """All-pairs IDF-weighted lexical similarity with a document-frequency
    screen (Bayardo et al. 2007, "Scaling Up All Pairs Similarity
    Search": candidate volume from an inverted index is Σ df(t)^2, so the
    screen that drops ubiquitous terms IS the scalability mechanism —
    terms in more than max_df = max(n_docs DIV 20, 2) documents carry
    near-zero IDF weight and quadratic join cost).

    Terms are word BIGRAMS of the normalized token stream (open enough
    vocabulary for document-level discrimination; unigram vocabularies
    saturate). All arithmetic is integer so the DuckDB oracle replays
    every score exactly:

        w(t)            = (n_docs * 1000) DIV df(t)           -- integer IDF
        score(a, b)     = Σ_shared-t  tf_a(t) * tf_b(t) * w(t)

    Plan shape at scale: one tokenize+explode into postings, one
    partially-aggregable (doc, term) tf groupBy, a df groupBy on term
    with the df screen (2 <= df(t) <= max_df) applied BEFORE the
    self-join (the only quadratic stage, bounded by max_df), and a final TakeOrderedAndProject
    for the top-k — no global sort, no window.

    ``n_docs`` is the corpus size (callers pass the bounded count —
    keeps the operator a pure DataFrame transform).

    Returns the top 30 (doc_a, doc_b, n_shared_terms, score) pairs by
    (score DESC, doc_a, doc_b) — a total order, so the cut is
    deterministic.
    """
    max_df = max(n_docs // 20, 2)

    def bigrams(toks: Column) -> Column:
        clean = F.filter(toks, lambda t: F.length(t) > 0)
        return let_bound(
            clean,
            lambda ct: F.filter(
                F.zip_with(
                    ct,
                    F.slice(ct, 2, F.greatest(F.size(ct) - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
                lambda x: x.isNotNull(),
            ),
        )

    posting = (
        df.select(
            F.col("doc_id").alias("doc"),
            F.explode(bigrams(tokens(normalized(F.col("text"))))).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        # one term-keyed exchange shared by the THREE term-keyed consumers
        # below (guide §2.4): the df groupBy, the weights join, and the
        # pair self-join all see hashpartitioning(term) satisfied, so none
        # plans its own shuffle of the postings table. Byte-neutral (the
        # weights join would have shuffled the same tf-compressed rows by
        # term anyway); measured ~0.15 s at sf0.1, values identical.
        .repartition("term")
    )
    weights = (
        posting.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("dft"))
        .where((F.col("dft") >= 2) & (F.col("dft") <= max_df))
        .select("term", F.expr(f"({n_docs} * 1000) DIV dft").alias("w"))
    )
    kept = posting.join(weights, "term")
    pa = kept.select(
        "term",
        F.col("doc").alias("doc_a"),
        F.col("tf").alias("tf_a"),
        F.col("w").alias("w"),
    )
    pb = kept.select(
        "term", F.col("doc").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    return (
        pa.join(pb, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_terms"),
            F.sum(F.col("tf_a") * F.col("tf_b") * F.col("w"))
            .cast("bigint")
            .alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_a", "doc_b")
        .limit(30)
    )
