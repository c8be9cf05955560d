"""Training-corpus construction operators (beyond the reference's own
surface — SURVEY.md §2.12 family): quality signals, sequence packing and
stratified sampling used when turning an extracted corpus into LLM
training data. All JVM-side Column expressions (no Python in the hot
path), all exactly replayable by the DuckDB oracle (contract.py).

- :func:`repetition_stats` — Gopher-style repetition quality signals
  (fraction of characters in duplicate word trigrams; top-bigram mass).
  Repetitious boilerplate scores high and gets filtered before training.
  Like :func:`quality_filter` and :func:`gopher_repetition`, it is one
  expression per row over sorted n-gram arrays (no groupBy(doc_id)).
- :func:`pack_token_windows` — greedy sequence packing: hash-shard the
  corpus, order each shard deterministically, assign every document to the
  fixed-size token window its cumulative offset lands in. The shard is the
  scale unit: packing is embarrassingly parallel across shards, and no
  global (single-partition) window function ever runs.
- :func:`stratified_sample` — deterministic per-language downsampling via
  md5 buckets: reproducible across runs/engines, no RNG state to ship.

Operators read the ``documents`` table's columns by name (``doc_id``,
``text``, ``lang``, ``source``; schema.TABLE_SCHEMAS). ``doc_id`` is a key:
no two rows share a non-null id, so scoring each row on its own text
equals the oracles' ``GROUP BY doc_id``.
"""

from __future__ import annotations

from ..functions.frames import values_frame
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import let_bound, normalized, token_count, token_md5_long, tokens


def _grams(toks: Column, k: int) -> Column:
    """Word k-grams of a token array (a lambda variable or a column) WITH
    multiplicity, in position order; empty when there are fewer than k
    tokens."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    # sequence(1, n-k+1) would run DESCENDING for n < k — guard to empty
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def _kgrams(text_col: Column, k: int) -> Column:
    """Word k-grams of the normalized text WITH multiplicity (dedup's
    shingles() is distinct — multiplicity is the whole point here).
    Token array let-bound (textfns.let_bound) — a direct reference inside
    the per-gram lambda re-tokenizes per element access, O(n^2)/row."""
    return let_bound(tokens(normalized(text_col)), lambda toks: _grams(toks, k))


def _sum_len(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("bigint"), lambda a, e: a + F.length(e))


def _repeats(s: Column, key=lambda e: e) -> Column:
    """The elements of the sorted array ``s`` whose ``key`` equals a
    neighbour's: every occurrence of each key that occurs >= 2 times. In
    a document's sorted k-gram array equal grams are adjacent, so its
    repetition signals need no explode -> groupBy(doc_id) -> join back."""
    return F.filter(
        s,
        lambda e, i: (key(e) == key(F.get(s, i - 1))) | (key(e) == key(F.get(s, i + 1))),
    )


def _top_run(s: Column) -> Column:
    """struct(run, top) over the sorted string array ``s``: the longest run
    of equal elements and its element. The first maximal run wins, so
    ``top`` is the lexicographically smallest of the most frequent
    elements; ``run`` is 0 for an empty array."""
    none = F.lit(None).cast("string")
    init = F.struct(
        none.alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("run"), none.alias("top")
    )

    def step(acc: Column, e: Column) -> Column:
        cur = F.when(e == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            e.alias("prev"),
            cur.alias("cur"),
            F.greatest(acc["run"], cur).alias("run"),
            F.when(cur > acc["run"], e).otherwise(acc["top"]).alias("top"),
        )

    return F.aggregate(s, init, step)


def _dup_trigram_char_frac(toks: Column) -> Column:
    """Characters of the trigrams occurring >= 2 times over all trigram
    characters, round(4); NULL without a trigram."""
    return let_bound(
        F.sort_array(_grams(toks, 3)),
        lambda s: F.when(
            F.size(s) > 0, F.round(_sum_len(_repeats(s)) / _sum_len(s), 4)
        ),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filtering):

    - ``dup_trigram_char_frac``: fraction of trigram characters belonging
      to trigrams that occur >= 2 times in the document;
    - ``top_bigram_frac``: occurrence share of the most frequent bigram.

    Both round(4) doubles; NULL when the document is too short to form the
    n-gram, or has no id (the oracle joins the signals to documents by
    id). Plan shape: one projection per row over the sorted trigram and
    bigram arrays of the once-tokenized text; no shuffle, no join.
    """
    def signals(toks: Column) -> Column:
        top = let_bound(
            F.sort_array(_grams(toks, 2)),
            lambda s: F.when(F.size(s) > 0, F.round(_top_run(s)["run"] / F.size(s), 4)),
        )
        return F.struct(
            _dup_trigram_char_frac(toks).alias("dup_trigram_char_frac"),
            top.alias("top_bigram_frac"),
        )

    s = F.when(
        F.col("doc_id").isNotNull(), let_bound(tokens(normalized(F.col("text"))), signals)
    )
    return df.select("doc_id", s.alias("s")).select("doc_id", "s.*")


def quality_filter(df: DataFrame) -> DataFrame:
    """Row-returning Gopher-style quality gate: keep documents whose
    composite quality score (functions/textfns.quality_score: distinct
    ratio, stopword density, length) is at least 0.4 AND whose
    duplicate-trigram character fraction is at most 0.4 (repetitious
    boilerplate). Short docs with no trigram signal pass the
    repetition gate (NULL -> 0). Plan shape: one generator over ``df``
    that scores each row and emits it only when it passes; no shuffle, no
    join.

    Returns (doc_id, quality, dup_trigram_char_frac) for survivors.
    """
    from ..functions.textfns import quality_score

    # as in repetition_stats, a row without an id gets no trigram signal
    dup = F.when(
        F.col("doc_id").isNotNull(),
        let_bound(tokens(normalized(F.col("text"))), _dup_trigram_char_frac),
    )
    row = F.struct(
        F.col("doc_id"),
        quality_score(F.col("text")).alias("quality"),
        dup.alias("dup_trigram_char_frac"),
    )
    # The gate is a generator, not a .where: Catalyst pushes a Filter below
    # a repartition (contract._t's round-robin exchange), where it scores
    # every row in the scan's tasks (one task on a single-row-group file)
    # and the projection above scores them again. Nothing pushes through a
    # Generate while InferFiltersFromGenerate stays excluded (session.py).
    return df.select(
        F.inline(
            F.filter(
                F.array(row),
                lambda r: (r["quality"] >= 0.4)
                & (F.coalesce(r["dup_trigram_char_frac"], F.lit(0.0)) <= 0.4),
            )
        )
    )


def _md5_bucket(col: Column, hex_chars: int, modulus: int) -> Column:
    """Deterministic integer bucket from md5 hex — identical in DuckDB as
    ('0x' || substr(md5(x), 1, n))::BIGINT % m."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, hex_chars), 16, 10)
        .cast("bigint") % modulus
    )


def global_shuffle(
    df: DataFrame,
    n_buckets: int = 256,
    docs_per_shard: int = 1000,
) -> DataFrame:
    """Deterministic GLOBAL training-order shuffle: every document gets its
    exact 1-based position in the md5-shuffled corpus order plus the
    ordered-shard assignment a sequential training reader consumes —
    the step between curation and the shard sink (epoch order must be a
    uniform permutation, reproducible across reruns, and NOT the ingest
    order; pack_assignments hashes docs to shards but gives no global
    order).

    Order key = md5('shuf:' doc_id); ties broken by doc_id (128-bit
    collisions aside, the key alone is already unique). The scale path is
    the two-phase distributed rank — a global ``row_number`` window would
    serialize the corpus through one SinglePartition sort:

    1. range bucket: the top 16 bits of the key, scaled to ``n_buckets``
       — monotone in the key's lexicographic (= numeric) order, so every
       key in bucket i sorts before every key in bucket i+1, and md5
       uniformity makes bucket sizes even (no skew, no sampling step
       needed, unlike Spark's rangepartitioning sampler).
    2. per-bucket counts (ONE narrow partial agg over the id projection)
       are collected — ``n_buckets`` rows — and turned into exclusive
       prefix-sum offsets, broadcast-joined back.
    3. within a bucket: a PARTITIONED row_number window (each partition
       ~n/n_buckets rows; raise ``n_buckets`` with corpus size).

    ``shuffle_pos`` = offset + within-bucket rank; ``shard`` / quad
    ``pos_in_shard`` chop that order into ``docs_per_shard``-sized
    sequential-read units. Two passes over the id column, both narrow —
    the count pass reads no text.

    Returns (doc_id, shuffle_pos, shard, pos_in_shard).
    """
    key = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    base = df.select(
        F.col("doc_id"),
        key.alias("k"),
        (
            F.conv(F.substring(key, 1, 4), 16, 10).cast("bigint")
            * n_buckets
            / F.lit(65536)
        )
        .cast("bigint")
        .alias("bucket"),
    )
    counts = sorted(
        (r["bucket"], r["n"])
        for r in base.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    spark = df.sparkSession
    off = F.broadcast(
        values_frame(spark, offsets, "bucket bigint, off bigint")
    )
    w = Window.partitionBy("bucket").orderBy("k", "doc_id")
    pos = (F.col("off") + F.row_number().over(w)).cast("bigint")
    # withColumn is a projection boundary: the window evaluates once and
    # the shard columns reference the materialized attribute
    return (
        base.join(off, "bucket")
        .withColumn("shuffle_pos", pos)
        .select(
            "doc_id",
            "shuffle_pos",
            F.floor((F.col("shuffle_pos") - 1) / F.lit(docs_per_shard))
            .cast("bigint")
            .alias("shard"),
            ((F.col("shuffle_pos") - 1) % docs_per_shard + 1)
            .cast("bigint")
            .alias("pos_in_shard"),
        )
    )


def pack_assignments(df: DataFrame, n_shards: int = 32) -> DataFrame:
    """Sequence-packing ASSIGNMENTS: the (doc_id -> shard, bin) rows a
    training pipeline actually consumes (round-2 exposed only the per-bin
    audit aggregates — VERDICT r2 item 4). Each document goes to the
    256-token window its cumulative token offset starts in, within
    its md5 hash shard (shard-local cumulative sums — the scale path; a
    global ORDER BY would serialize the corpus through one partition,
    pinned by tests/test_scale_paths.py).

    Returns one row per document: (doc_id, shard, bin, n_tok).
    """
    base = df.select(
        F.col("doc_id"),
        _md5_bucket(F.col("doc_id"), 4, n_shards).alias("shard"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.withColumn("start", F.sum("n_tok").over(w) - F.col("n_tok"))
        .withColumn("bin", F.floor(F.col("start") / F.lit(256.0)).cast("bigint"))
        .select("doc_id", "shard", "bin", "n_tok")
    )


def pack_token_windows(df: DataFrame) -> DataFrame:
    """Per-bin audit aggregates of :func:`pack_assignments` (the oracle /
    monitoring shape). Returns (shard, bin, n_docs, bin_tokens)."""
    return pack_assignments(df).groupBy(
        "shard", "bin"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
    )


def _sample_rate(rates: dict[str, int]) -> Column:
    rate: Column = F.lit(100)
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return rate


def sample_documents(df: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Row-returning stratified downsampling: the KEPT documents themselves
    (round-2 exposed only per-stratum counts — VERDICT r2 item 4). A
    document survives iff its md5 bucket (of 1000) is below its
    stratum's rate (per mille; 100 for a language ``rates`` omits) —
    deterministic across engines and runs (no RNG state), a pure narrow
    filter on the scan (no shuffle at any corpus size).

    Returns the input rows (all columns) of the kept documents.
    """
    return df.where(_md5_bucket(F.col("doc_id"), 8, 1000) < _sample_rate(rates))


def sample_exact_n(
    df: DataFrame,
    n_per_stratum: int,
) -> DataFrame:
    """EXACT-size stratified sample: keep exactly ``n_per_stratum``
    documents per stratum (or all, for smaller strata) — the "10k docs
    per language" ask that rate-based sample_documents can only hit in
    expectation. Selection order is the md5 of the id (uniform,
    deterministic, no RNG), via a PARTITIONED top-k window — per-stratum,
    never a global sort; ties are impossible (32-hex-char md5 of distinct
    ids) but doc_id breaks them anyway so the cut is total.

    Returns the kept rows (all input columns).
    """
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def stratified_sample(df: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Per-stratum audit counts of the :func:`sample_documents` filter.
    Reproducible across engines and runs (no RNG), map-side only until the
    count. Returns per-stratum (lang, n_total, n_kept)."""
    kept = F.when(_md5_bucket(F.col("doc_id"), 8, 1000) < _sample_rate(rates), 1).otherwise(0)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(kept).cast("bigint").alias("n_kept"),
    )


def remove_boilerplate(df: DataFrame, seg_tokens: int = 8) -> DataFrame:
    """CCNet-style cross-document boilerplate removal: split every document
    into fixed-size non-overlapping token segments (the corpus has no
    newlines — a delimiter-split would be the line-level variant), count in
    how many DISTINCT documents each segment occurs, drop the segments
    found in 2 or more documents (shared boilerplate: headers,
    footers, licence blocks, near-dup carry-over), and re-assemble each
    document from its surviving segments in order.

    Plan shape at scale: segment explode is narrow on the scan and feeds
    two consumers (the doc-frequency hash-agg — count DISTINCT doc is
    two-phase partial-aggregable — and the decision join), so it is
    persisted once, the materialized segment index. The decision join keys
    on the 60-bit md5 segment hash (narrow shuffle key, md5-uniform — no
    skew); counts and the ordered re-assembly come from ONE per-document
    aggregation (collect_list bounded by document size). No global window,
    no driver loop. The result is returned eager (localCheckpoint — at
    scale this is the written cleaned corpus) so the index cache releases
    before the caller consumes it.

    Returns one row per input document:
    (doc_id, n_segments, n_removed, clean_text) — a fully-removed or empty
    document keeps its row with clean_text = ''.
    """
    n = token_count(F.col("text"))
    n_segs = F.ceil(n / F.lit(float(seg_tokens))).cast("int")
    # token array let-bound: slice(toks, ...) inside the per-segment lambda
    # re-tokenizes per element otherwise (O(n^2)/row)
    segs = let_bound(
        tokens(F.col("text")),
        lambda toks: F.transform(
            F.sequence(F.lit(1), n_segs),
            lambda s: F.array_join(
                F.slice(toks, (s - 1) * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    )
    exploded = (
        df.select(
            F.col("doc_id"),
            F.when(n > 0, segs).otherwise(F.array().cast("array<string>")).alias("segs"),
        )
        .select("doc_id", F.posexplode("segs").alias("pos", "seg"))
        .withColumn("h", token_md5_long(F.col("seg")))
        .persist()
    )
    freq = exploded.groupBy("h").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    tagged = exploded.join(freq, "h").withColumn(
        "keep", F.col("doc_freq") < 2
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "seg", "keep"))),
                    lambda x: x["keep"],
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    out = (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_segments"), F.lit(0)).cast("bigint").alias("n_segments"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .localCheckpoint(eager=True)
    )
    exploded.unpersist()
    return out


def exact_segment_dedup(
    df: DataFrame,
    seg_tokens: int = 8,
) -> DataFrame:
    """RefinedWeb-style exact segment dedup with KEEP-FIRST semantics: the
    corpus-wide FIRST occurrence of every fixed-size token segment survives
    and every later occurrence is removed. This is the dedup counterpart of
    :func:`remove_boilerplate` (which drops ALL occurrences of frequent
    segments, the filtering semantics): here repeated content keeps exactly
    one canonical copy — the choice RefinedWeb/MassiveText make for exact
    substring dedup, so shared passages still appear once in training data.
    "First" is (doc_id, pos) order — deterministic, no RNG, replayable.

    Plan shape at scale: the segment explode is persisted once and feeds
    (a) the survivor aggregation — min(struct(doc_id, pos)) per 60-bit md5
    segment hash, a two-phase partial-aggregable min, NOT a window — and
    (b) the decision join keyed on the md5-uniform hash (no skew). Ordered
    re-assembly is one per-document collect_list agg bounded by document
    size. No global window, no driver loop; result eager (localCheckpoint)
    so the index cache releases before the caller consumes it.

    Returns one row per input document:
    (doc_id, n_segments, n_removed, clean_text).
    """
    n = token_count(F.col("text"))
    n_segs = F.ceil(n / F.lit(float(seg_tokens))).cast("int")
    # token array let-bound: slice(toks, ...) inside the per-segment lambda
    # re-tokenizes per element otherwise (O(n^2)/row)
    segs = let_bound(
        tokens(F.col("text")),
        lambda toks: F.transform(
            F.sequence(F.lit(1), n_segs),
            lambda s: F.array_join(
                F.slice(toks, (s - 1) * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    )
    exploded = (
        df.select(
            F.col("doc_id"),
            F.when(n > 0, segs).otherwise(F.array().cast("array<string>")).alias("segs"),
        )
        .select("doc_id", F.posexplode("segs").alias("pos", "seg"))
        .withColumn("h", token_md5_long(F.col("seg")))
    )
    exploded.persist()
    first = exploded.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("f")
    )
    tagged = exploded.join(first, "h").withColumn(
        "keep",
        (F.col("doc_id") == F.col("f.doc_id")) & (F.col("pos") == F.col("f.pos")),
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "seg", "keep"))),
                    lambda x: x["keep"],
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    out = (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_segments"), F.lit(0)).cast("bigint").alias("n_segments"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
    out = out.localCheckpoint(eager=True)
    exploded.unpersist()
    return out


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    min_words: int = 50,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 App. A1.1)
    — the standard rule-based pre-training filter, as one narrow
    projection over the scan. Every rule is INTEGER arithmetic (ratio
    thresholds cross-multiplied: mean word length in [3,10] becomes
    ``3n <= sum_len <= 10n``), so the DuckDB oracle replays bit-exactly
    with no FP anywhere.

    Rules (each an is_* 1/0 column, ``keep`` = all):
    word count in [min_words, 100000]; mean word length in [3, 10];
    '#'/'...' symbol-to-word ratio < 0.1; >80% of words contain an
    alphabetic char; >=2 distinct Gopher stopwords; <90% of lines
    bullet-started; <30% of lines ellipsis-ended. The line rules operate
    on newline-split lines (single-line corpora satisfy them trivially —
    they still run, and the edge suite feeds them multi-line text). Word
    stats tokenize over newline-FLATTENED text with EMPTY tokens
    filtered out: a single-space split of the raw page would fuse the
    words around every line break into one pseudo-word (review r4
    finding), and blank lines / consecutive newlines would otherwise
    emit empty pseudo-tokens that inflate n_words and drag mean word
    length and alpha fraction down on exactly the multi-line pages the
    rules target (r4 advice item).
    """
    flat = F.replace(F.col("text"), F.lit("\n"), F.lit(" "))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])

    def tok_stats(toks: Column) -> Column:
        return F.struct(
            F.size(toks).alias("n_words"),
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
            ).alias("sum_len"),
            F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).alias("n_alpha"),
            F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).alias("n_stop"),
        )

    # split('') == [''] so the empty-token filter also makes the empty
    # page yield n_words = 0 with no special case
    st = let_bound(
        F.filter(tokens(flat), lambda t: t != F.lit("")), tok_stats
    )

    def line_stats(lines: Column) -> Column:
        return F.struct(
            F.size(lines).alias("n_lines"),
            F.size(
                F.filter(
                    lines,
                    lambda l: F.ltrim(l).startswith("-")
                    | F.ltrim(l).startswith("*")
                    | F.ltrim(l).startswith("•"),
                )
            ).alias("n_bullet"),
            F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("..."))).alias("n_ell"),
        )

    ls = let_bound(F.split(F.col("text"), "\n"), line_stats)
    txt = F.col("text")
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_dots = (F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))) / 3

    def flag(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0).cast("int")

    base = df.select(
        F.col("doc_id"),
        st.alias("st"),
        ls.alias("ls"),
        n_hash.cast("bigint").alias("n_hash"),
        n_dots.cast("bigint").alias("n_dots"),
    )
    flags = base.select(
        "doc_id",
        F.col("st.n_words").cast("bigint").alias("n_words"),
        flag(F.col("st.n_words").between(min_words, 100_000)).alias("is_word_count_ok"),
        flag(
            (F.col("st.n_words") > 0)
            & (3 * F.col("st.n_words") <= F.col("st.sum_len"))
            & (F.col("st.sum_len") <= 10 * F.col("st.n_words"))
        ).alias("is_mean_len_ok"),
        flag(
            (F.col("st.n_words") > 0)
            & (10 * (F.col("n_hash") + F.col("n_dots")) < F.col("st.n_words"))
        ).alias("is_symbol_ok"),
        flag(
            (F.col("st.n_words") > 0) & (5 * F.col("st.n_alpha") > 4 * F.col("st.n_words"))
        ).alias("is_alpha_ok"),
        flag(F.col("st.n_stop") >= 2).alias("is_stop_ok"),
        flag(10 * F.col("ls.n_bullet") < 9 * F.col("ls.n_lines")).alias("is_bullet_ok"),
        flag(10 * F.col("ls.n_ell") < 3 * F.col("ls.n_lines")).alias("is_ellipsis_ok"),
    )
    keep = (
        F.col("is_word_count_ok")
        * F.col("is_mean_len_ok")
        * F.col("is_symbol_ok")
        * F.col("is_alpha_ok")
        * F.col("is_stop_ok")
        * F.col("is_bullet_ok")
        * F.col("is_ellipsis_ok")
    ).cast("int")
    return flags.select("*", keep.alias("keep"))


# (n, multiplier_on_chars, multiplier_on_total): keep while
# mult_chars * chars <= mult_total * total_chars, i.e. fraction <= threshold.
_GOPHER_TOP_THRESHOLDS = {2: (5, 1), 3: (50, 9), 4: (25, 4)}  # 0.20 / 0.18 / 0.16
_GOPHER_DUP_THRESHOLDS = {
    5: (20, 3),  # 0.15
    6: (50, 7),  # 0.14
    7: (100, 13),  # 0.13
    8: (25, 3),  # 0.12
    9: (100, 11),  # 0.11
    10: (10, 1),  # 0.10
}


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher REPETITION rules (Rae et al. 2021, arXiv:2112.11446 App. A1,
    Table A1 'repetition removal') — the companion of :func:`gopher_rules`'
    A1.1 quality table; :func:`repetition_stats`' two signals were the
    round-1 stand-in, this is the full 13-signal table. Every threshold is
    cross-multiplied into INTEGER arithmetic (zero FP), so the DuckDB
    oracle replays bit-exactly. A document is dropped when a fraction
    EXCEEDS its paper threshold, so every ``is_*`` flag is
    ``fraction <= threshold`` and ``keep`` is their product.

    Signals (raw integer numerators/denominators are all returned, so the
    driver hash pins the full computation, not just the verdicts):

    - duplicate line / paragraph fraction (> 0.30 drops): occurrences
      beyond the first of each distinct element, over total elements.
      Lines = non-empty ``\\n`` splits; paragraphs = non-empty ``\\n\\n``
      splits (a blank line is structure, not content). Because duplicate
      occurrences are IDENTICAL strings, beyond-first counts/chars reduce
      to total-minus-distinct — one array_distinct per row, no O(m^2)
      positional walk, no shuffle.
    - duplicate line / paragraph CHARACTER fraction (> 0.20): characters
      of those beyond-first occurrences over total element characters.
    - top 2/3/4-gram character fraction (> 0.20 / 0.18 / 0.16): count of
      the single most frequent word n-gram times its character length
      (token chars; joining spaces excluded), over total token characters.
      Tie-break: lexicographically smallest gram among the max-count set
      (the deterministic cross-engine rule, the top_ngrams_per_stratum
      precedent).
    - duplicate 5..10-gram character fraction (> 0.15 / 0.14 / 0.13 /
      0.12 / 0.11 / 0.10): characters of tokens COVERED by at least one
      occurrence of an n-gram occurring >= 2 times in the document, over
      total token characters — overlapping occurrences counted once (the
      interval cover, remove_shared_windows' discipline applied per
      document).

    Word stats tokenize the newline-FLATTENED text with empty tokens
    filtered (the gopher_rules r4 lesson: blank lines would otherwise
    emit empty pseudo-tokens). Plan shape: ONE projection per row, no
    shuffle, no join. Line/paragraph stats come from array_distinct; each
    k's n-gram signal reads the row's sorted k-gram array. The top k-gram
    is the first maximal run (count x token chars of the smallest gram
    among the most frequent). The 5..10-gram coverage sorts
    (gram, pos) structs, keeps the sorted start positions of grams equal
    to a neighbour, and sweeps the token indices once, carrying (next
    start, cover end, covered chars).
    """
    nonempty = lambda x: x != F.lit("")  # noqa: E731
    toks_expr = F.filter(tokens(F.replace(F.col("text"), F.lit("\n"), F.lit(" "))), nonempty)

    def dup_stats(elems_expr: Column) -> Column:
        def body(elems: Column) -> Column:
            def with_distinct(d: Column) -> Column:
                return F.struct(
                    F.size(elems).cast("bigint").alias("n"),
                    (F.size(elems) - F.size(d)).cast("bigint").alias("dups"),
                    (_sum_len(elems) - _sum_len(d)).alias("dup_chars"),
                    _sum_len(elems).alias("chars"),
                )

            return let_bound(F.array_distinct(elems), with_distinct)

        return let_bound(elems_expr, body)

    # the oracle joins the n-gram signals to a document by id: a row without
    # an id gets none (0)
    has_id = F.col("doc_id").isNotNull()

    def top_chars(w: Column, k: int) -> Column:
        return F.when(has_id, let_bound(
            _top_run(F.sort_array(_grams(w, k))),
            lambda t: t["run"] * (F.length(t["top"]) - (k - 1)),
        ))

    def dup_chars(w: Column, k: int) -> Column:
        def starts(s: Column) -> Column:
            return F.array_sort(
                F.transform(_repeats(s, lambda e: e["gram"]), lambda e: e["pos"])
            )

        def sweep(p: Column) -> Column:
            def step(acc: Column, t: Column) -> Column:
                hit = F.get(p, acc["j"]) == t
                end = F.when(hit, t + (k - 1)).otherwise(acc["end"])
                return F.struct(
                    F.when(hit, acc["j"] + 1).otherwise(acc["j"]).alias("j"),
                    end.alias("end"),
                    (
                        acc["chars"]
                        + F.when(t <= end, F.length(F.get(w, t - 1))).otherwise(0)
                    ).alias("chars"),
                )

            zero = F.lit(0).cast("bigint")
            init = F.struct(F.lit(0).alias("j"), F.lit(0).alias("end"), zero.alias("chars"))
            return F.when(F.size(p) == 0, zero).otherwise(
                F.aggregate(F.sequence(F.lit(1), F.size(w)), init, step, lambda a: a["chars"])
            )

        grams = F.transform(
            _grams(w, k), lambda g, i: F.struct(g.alias("gram"), (i + 1).alias("pos"))
        )
        return F.when(has_id, let_bound(let_bound(F.sort_array(grams), starts), sweep))

    def ngram_stats(w: Column) -> Column:
        return F.struct(
            _sum_len(w).alias("total_chars"),
            *[top_chars(w, k).alias(f"top{k}_chars") for k in _GOPHER_TOP_THRESHOLDS],
            *[dup_chars(w, k).alias(f"dup{k}_chars") for k in _GOPHER_DUP_THRESHOLDS],
        )

    stats = df.select(
        F.col("doc_id"),
        dup_stats(F.filter(F.split(F.col("text"), "\n"), nonempty)).alias("ls"),
        dup_stats(F.filter(F.split(F.col("text"), "\n\n"), nonempty)).alias("ps"),
        let_bound(toks_expr, ngram_stats).alias("g"),
    ).select("doc_id", "ls", "ps", "g.*")

    def z(c: str) -> Column:
        return F.coalesce(F.col(c), F.lit(0)).cast("bigint")

    def flag(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0).cast("int")

    tot = z("total_chars")
    gram_cols = [z(f"top{k}_chars").alias(f"top{k}_chars") for k in _GOPHER_TOP_THRESHOLDS]
    gram_cols += [z(f"dup{k}_chars").alias(f"dup{k}_chars") for k in _GOPHER_DUP_THRESHOLDS]
    flags = [
        flag(10 * F.col("ls.dups") <= 3 * F.col("ls.n")).alias("is_dup_line_ok"),
        flag(5 * F.col("ls.dup_chars") <= F.col("ls.chars")).alias("is_dup_line_char_ok"),
        flag(10 * F.col("ps.dups") <= 3 * F.col("ps.n")).alias("is_dup_para_ok"),
        flag(5 * F.col("ps.dup_chars") <= F.col("ps.chars")).alias("is_dup_para_char_ok"),
    ]
    flags += [
        flag(a * z(f"top{k}_chars") <= b * tot).alias(f"is_top{k}_ok")
        for k, (a, b) in _GOPHER_TOP_THRESHOLDS.items()
    ]
    flags += [
        flag(a * z(f"dup{k}_chars") <= b * tot).alias(f"is_dup{k}_ok")
        for k, (a, b) in _GOPHER_DUP_THRESHOLDS.items()
    ]
    flag_names = [
        "is_dup_line_ok", "is_dup_line_char_ok", "is_dup_para_ok",
        "is_dup_para_char_ok",
        *[f"is_top{k}_ok" for k in _GOPHER_TOP_THRESHOLDS],
        *[f"is_dup{k}_ok" for k in _GOPHER_DUP_THRESHOLDS],
    ]
    out = stats.select(
        "doc_id",
        F.col("ls.n").alias("n_lines"),
        F.col("ls.dups").alias("dup_lines"),
        F.col("ls.dup_chars").alias("dup_line_chars"),
        F.col("ls.chars").alias("line_chars"),
        F.col("ps.n").alias("n_paras"),
        F.col("ps.dups").alias("dup_paras"),
        F.col("ps.dup_chars").alias("dup_para_chars"),
        F.col("ps.chars").alias("para_chars"),
        tot.alias("total_chars"),
        *gram_cols,
        *flags,
    )
    keep = F.lit(1)
    for name in flag_names:
        keep = keep * F.col(name)
    return out.select("*", keep.cast("int").alias("keep"))


def vocab_coverage(
    df: DataFrame,
    sizes: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Top-V vocabulary coverage — the tokenizer-design calibration table:
    for each candidate vocabulary size V, how many token OCCURRENCES the
    V most frequent types cover (ties by (count desc, key asc)), i.e.
    the OOV/UNK mass a V-type vocabulary leaves behind.

    The naive rank is a global ``row_number`` over types ordered by count
    desc — a SinglePartition sort of the whole vocabulary. The scale path
    rests on a tie-independence observation: every type at the same count
    level contributes the same mass, so coverage depends only on the
    COUNT-OF-COUNTS table, never on which keys break the tie. Plan:

    1. type counts: the one corpus-sized partial-aggregable groupBy
       (bounded by vocabulary size, not corpus size);
    2. level table ``(cnt, n_types)``: a second groupBy, bounded by the
       number of DISTINCT count values (<= sqrt(2 * corpus) levels — the
       sum of distinct positive integers caps them);
    3. inclusive cumulative types/mass per level via a bounded self-join
       (the hist_quantiles cum discipline, never a window);
    4. per requested V: the unique level where the V-th ranked type
       lands (max cnt with cum_types >= Veff), covered = mass of
       strictly-higher levels + the level's count times the types taken
       from it. ``Veff = least(V, total_types)`` clamps oversized
       vocabularies to full coverage.

    The scalar totals row (1 row over <= #levels inputs) is the
    length_quantiles documented-SinglePartition class — bounded input,
    never corpus-sized. The DuckDB oracle deliberately computes the
    SERIAL form (row_number window over types), so the parity gate
    proves level-arithmetic == serial rank, the shuffle_order discipline.

    Returns (v, covered, total, total_types, cover_permille) —
    all BIGINT, cover_permille = (covered * 1000) div total, integer
    division end to end (zero FP). An EMPTY key stream returns no rows
    (there is no level for any V to land in); both engines agree.
    """
    counts = (
        df.select(F.col("key").alias("k__"))
        .groupBy("k__")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    levels = counts.groupBy("cnt").agg(F.count("*").cast("bigint").alias("n_types"))
    lv = levels.alias("a")
    cum = (
        lv.join(levels.alias("b"), F.col("b.cnt") >= F.col("a.cnt"))
        .groupBy(F.col("a.cnt").alias("cnt"), F.col("a.n_types").alias("n_types"))
        .agg(
            F.sum("b.n_types").cast("bigint").alias("cum_types"),
            F.sum(F.col("b.cnt") * F.col("b.n_types")).cast("bigint").alias("cum_mass"),
        )
    )
    totals = levels.agg(
        F.sum("n_types").cast("bigint").alias("total_types"),
        F.sum(F.col("cnt") * F.col("n_types")).cast("bigint").alias("total"),
    )
    sizes_df = values_frame(
        df.sparkSession, [(int(v),) for v in sizes], "v bigint"
    )
    veff = F.least(F.col("v"), F.col("total_types"))
    hit = (
        sizes_df.crossJoin(F.broadcast(totals))
        .join(F.broadcast(cum), F.col("cum_types") >= veff)
        .groupBy("v", "total_types", "total")
        .agg(
            F.max("cnt").alias("lvl_cnt"),
        )
    )
    out = (
        hit.join(
            F.broadcast(cum.select(F.col("cnt").alias("lvl_cnt"), "cum_types", "cum_mass")),
            "lvl_cnt",
        )
        .select(
            "v",
            (
                F.col("cum_mass")
                - (F.col("cum_types") - F.least(F.col("v"), F.col("total_types")))
                * F.col("lvl_cnt")
            ).alias("covered"),
            "total",
            "total_types",
        )
        .select(
            "v",
            "covered",
            "total",
            "total_types",
            F.expr("CAST((covered * 1000) DIV total AS BIGINT)").alias(
                "cover_permille"
            ),
        )
    )
    return out


def c4_rules(df: DataFrame) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683 §2.2)
    — the other canonical rule-based filter next to :func:`gopher_rules`,
    one narrow projection over the scan. Line level: keep only lines that
    end in terminal punctuation (. ! ? ") after right-trim AND have at
    least 5 words. Page level: drop the document when the
    retained text has fewer than 3 sentence terminators,
    or the ORIGINAL page mentions 'lorem ipsum' (case-insensitive) or
    contains a curly brace (code). Bad-words filtering is its own
    operator (blocklist_filter); three-sentence-span dedup is the segment
    dedup family. All comparisons integer/string-exact — no FP.

    Returns (doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, keep, clean_text) with clean_text = the retained lines
    newline-joined when keep=1, else ''.
    """
    txt = F.col("text")

    def line_keep(l: Column) -> Column:
        r = F.rtrim(l)
        ends = (
            r.endswith(".") | r.endswith("!") | r.endswith("?") | r.endswith('"')
        )
        return ends & (token_count(l) >= 5)

    def stats(lines: Column) -> Column:
        kept = F.filter(lines, line_keep)
        clean = F.array_join(kept, "\n")
        n_sent = sum(
            F.length(clean) - F.length(F.replace(clean, F.lit(c), F.lit("")))
            for c in (".", "!", "?")
        )
        return F.struct(
            F.size(lines).alias("n_lines"),
            F.size(kept).alias("n_kept"),
            n_sent.cast("bigint").alias("n_sent"),
            clean.alias("clean"),
        )

    st = let_bound(F.split(txt, "\n"), stats)
    has_lorem = F.when(F.lower(txt).contains("lorem ipsum"), 1).otherwise(0).cast("int")
    has_brace = F.when(txt.contains("{"), 1).otherwise(0).cast("int")
    base = df.select(
        F.col("doc_id"),
        st.alias("st"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
    )
    keep = (
        F.when(
            (F.col("st.n_sent") >= 3)
            & (F.col("has_lorem") == 0)
            & (F.col("has_brace") == 0),
            1,
        )
        .otherwise(0)
        .cast("int")
    )
    return base.select(
        "doc_id",
        F.col("st.n_lines").cast("bigint").alias("n_lines"),
        F.col("st.n_kept").cast("bigint").alias("n_kept_lines"),
        F.col("st.n_sent").alias("n_sentences"),
        "has_lorem",
        "has_brace",
        keep.alias("keep"),
        F.when(keep == 1, F.col("st.clean")).otherwise(F.lit("")).alias("clean_text"),
    )


def dsir_importance(df: DataFrame) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169): score
    every raw document by how target-like its hashed n-gram features are.
    Features are word bigrams hashed into 1024 md5 buckets; the
    target and raw bag-of-buckets distributions are estimated with add-one
    smoothing; a document's weight is its mean per-feature log-likelihood
    ratio  ln p_target(b) - ln p_raw(b).  Selecting the top-weighted
    documents approximates sampling from the target distribution — the
    published recipe for "give me web data that looks like Wikipedia".
    Here the target is the ``lang == 'en'`` slice (the
    pipeline shape is identical when the target is a separate corpus).

    Plan shape at scale: the feature explode is persisted once and feeds
    the two bucket-count aggregations (partial-aggregable groupBys over at
    most 1024 rows each) and the scoring join; the per-bucket
    weight table is <= 1024 rows — broadcast to the scoring join, so
    the only corpus-sized shuffle is the final per-document aggregation.
    Smoothed log ratios are exact-integer ratios fed to ln: last-ulp libm
    differences wash out in the round(4) mean (the lm_surprise argument).

    Returns (doc_id, n_feat, dsir_logratio) — documents too short to form
    one bigram produce no row.
    """
    feats = (
        df.select(
            F.col("doc_id"),
            (F.col("lang") == F.lit("en")).alias("is_t"),
            F.explode(_kgrams(F.col("text"), 2)).alias("g"),
        )
        .withColumn("b", _md5_bucket(F.col("g"), 8, 1024))
        .drop("g")
    )
    feats.persist()
    raw_counts = feats.groupBy("b").agg(F.count("*").alias("r_cnt"))
    tgt_counts = feats.where(F.col("is_t")).groupBy("b").agg(
        F.count("*").alias("t_cnt")
    )
    totals = feats.agg(
        F.count("*").cast("bigint").alias("r_tot"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("bigint").alias("t_tot"),
    )
    bw = (
        raw_counts.join(tgt_counts, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("t_tot") + 1024).cast("double")
                )
                - F.log(
                    (F.col("r_cnt") + 1).cast("double")
                    / (F.col("r_tot") + 1024).cast("double")
                )
            ).alias("w"),
        )
    )
    scored = feats.join(F.broadcast(bw), "b").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_feat"),
        F.round(F.avg("w"), 4).alias("dsir_logratio"),
    )
    scored = scored.localCheckpoint(eager=True)
    feats.unpersist()
    return scored


def unigram_surprise(
    df: DataFrame,
    ngram: int = 1,
) -> DataFrame:
    """Perplexity-proxy quality signal (the CCNet/KenLM filter, self-
    trained): build an n-gram LM from the corpus itself (unit counts /
    total), then score every document by its mean unit surprisal
    -ln p(u). Outlier documents (gibberish = high, boilerplate = low)
    are what a perplexity filter cuts. ``ngram`` > 1 scores word n-grams
    (more context, sharper outliers — bigrams approximate what a real
    KenLM adds over unigrams); since the LM is trained on the same corpus
    it scores, every unit is in-vocabulary and no smoothing is needed.
    Documents too short to form one n-gram produce no row.

    Plan shape at scale: the unit explode feeds the LM aggregation and
    the scoring join — persist it once (the materialized token index; at
    a real 100 TB run, the written LM table). The LM join keys on the
    unit (narrow string key); corpus totals ride along via a broadcast
    1-row frame. Per-doc score = one partial-agg groupBy. Result eager so
    the index cache releases (the pair-operator convention).

    Returns (doc_id, n_tok, surprise) with surprise = round(mean -ln p, 4).
    """
    unit = (
        F.explode(tokens(normalized(F.col("text"))))
        if ngram == 1
        else F.explode(_kgrams(F.col("text"), ngram))
    )
    toks = df.select(F.col("doc_id"), unit.alias("tok")).persist()
    lm = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = lm.agg(F.sum("cnt").cast("bigint").alias("total"))
    scored = (
        toks.join(lm, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.round(
                F.avg(-F.log(F.col("cnt") / F.col("total"))), 4
            ).alias("surprise"),
        )
        .localCheckpoint(eager=True)
    )
    toks.unpersist()
    return scored


def ccnet_bucket(df: DataFrame) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020
    §3, "each language is split in head/middle/tail by perplexity
    tertiles"): score every document with the self-trained unigram LM
    (:func:`unigram_surprise` — the lm_surprise signal), derive each
    language's tertile cutoffs, and label documents head (lowest
    surprisal — the cleanest third CCNet keeps first) / middle / tail.

    Determinism contract: bucket comparisons run on an INTEGER surprisal
    proxy su_i = CAST(round(surprise * 10000) AS BIGINT). ``surprise``
    is already round(_, 4), so surprise * 10000 sits within ~1e-10 of an
    exact integer in both engines and round() lands on the same BIGINT;
    cutoffs come from :func:`operators.sketch.grouped_quantiles`' pure
    integer read-off. No raw float ever crosses a comparison boundary,
    so the labels replay bit-identically on DuckDB.

    Scale path: tertile cutoffs via the GROUPED histogram sketch — never
    a per-language ntile/percent_rank window, which would put an entire
    10^12-doc language stratum into one window partition. The cutoff
    table is #langs x 2 (broadcast); the label pass is one narrow
    projection over the scored frame. Documents too short to score
    (no tokens) inherit unigram_surprise's no-row contract.

    Returns (doc_id, lang, n_tok, surprise, su_i, bucket).
    """
    from .sketch import grouped_quantiles  # sketch imports corpus._kgrams

    scored = unigram_surprise(df)
    langs = df.select(
        F.col("doc_id"), F.col("lang")
    )
    su = scored.join(langs, "doc_id").select(
        "doc_id",
        "lang",
        "n_tok",
        "surprise",
        F.round(F.col("surprise") * 10000).cast("bigint").alias("su_i"),
    )
    cuts = (
        grouped_quantiles(su, "lang", "su_i", [33, 66], hi=1 << 19, n_bins=512)
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("p") == 33, F.col("est"))).alias("c33"),
            F.max(F.when(F.col("p") == 66, F.col("est"))).alias("c66"),
        )
    )
    return su.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "n_tok",
        "surprise",
        "su_i",
        F.when(F.col("su_i") <= F.col("c33"), F.lit("head"))
        .when(F.col("su_i") <= F.col("c66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 2000,
) -> DataFrame:
    """Token-BUDGET mixture sampling: where stratified/sample_documents
    takes fixed keep-rates, a training mix is usually specified as tokens
    per stratum ("500B English, 300B German, ..."). Compute each stratum's
    total token count, derive the keep-rate per mille as min(1000,
    budget*1000 // total) in pure integer arithmetic (bit-identical
    cross-engine — no FP rate), and keep documents whose md5 bucket falls
    under it. Expected kept tokens ≈ budget (md5 buckets are uniform and independent of
    document length); an exact greedy cut would need a per-stratum global
    token cumsum — a stratum-sized sort at 10^12 docs for a guarantee the
    uniform sample already gives within sampling error.

    Plan shape at scale: one partial-agg groupBy for the totals (rows =
    #strata), broadcast join back, then a narrow filter on the scan.

    Returns kept rows: (doc_id, lang, n_tok).
    """
    rate: Column = F.lit(default_budget)
    for lang, b in sorted(budgets.items()):
        rate = F.when(F.col("lang") == lang, F.lit(b)).otherwise(rate)
    base = df.select(
        F.col("doc_id"),
        F.col("lang"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
        rate.cast("bigint").alias("budget"),
    )
    totals = base.groupBy("lang").agg(F.sum("n_tok").alias("total_tok"))
    # integer DIV, not floor(a/b): the FP quotient can land a hair above or
    # below an integer and floor() then disagrees with exact // cross-engine.
    # A stratum of only empty docs has total_tok = 0 — keep nothing rather
    # than let ANSI mode abort the job on the division.
    keep_buckets = F.when(
        F.col("total_tok") > 0,
        F.least(
            F.lit(1000).cast("bigint"),
            F.expr("(budget * 1000) DIV total_tok").cast("bigint"),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        base.join(F.broadcast(totals), "lang")
        .where(_md5_bucket(F.col("doc_id"), 8, 1000) < keep_buckets)
        .select("doc_id", "lang", "n_tok")
    )


def source_stats(df: DataFrame) -> DataFrame:
    """Per-source (per-domain) quality aggregates — the audit table behind
    domain-level filtering (RefinedWeb/C4 drop whole domains, not just
    documents: a consistently-low-quality source is spam/SEO even when a
    few of its pages pass the per-doc gate). One partial-agg groupBy over
    sources. Returns (source, n_docs, mean_quality round4)."""
    from ..functions.textfns import quality_score

    return df.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg(quality_score(F.col("text"))), 4).alias("mean_quality"),
    )


def source_filter(
    df: DataFrame,
    min_mean_quality: float = 0.52,
) -> DataFrame:
    """Domain-level gate: keep every document whose SOURCE clears the mean
    quality bar — the aggregate-then-gate pattern (per-source stats are a
    tiny table, broadcast back; the corpus sees one narrow semi join, no
    second scan of the text). Returns surviving (doc_id, source)."""
    good = source_stats(df).where(
        F.col("mean_quality") >= min_mean_quality
    )
    return df.join(
        F.broadcast(good.select(F.col("source").alias("__good_src"))),
        df["source"] == F.col("__good_src"),
        "left_semi",
    ).select("doc_id", "source")


def blocklist_filter(
    df: DataFrame,
    blockwords: list[str],
    max_hits: int = 0,
) -> DataFrame:
    """Blocklist curation gate (the bad-words pass every public web
    pipeline runs — C4's badwords filter): count normalized-token hits
    against the list and keep documents with at most ``max_hits``. Token-
    level matching on the normalized text, not substring search —
    "class" must not trip a "lass" entry. The list is a literal array in
    the plan (it is a config artifact, thousands of entries at most);
    matching is a narrow filter over the scan — no shuffle, no join.

    Returns surviving rows: (doc_id, n_tok, n_blocked).
    """
    arr = F.array(*[F.lit(w) for w in sorted(blockwords)])
    toks = tokens(normalized(F.col("text")))
    n_blocked = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return (
        df.select(
            F.col("doc_id"),
            token_count(normalized(F.col("text"))).cast("bigint").alias("n_tok"),
            n_blocked.cast("bigint").alias("n_blocked"),
        )
        .where(F.col("n_blocked") <= max_hits)
    )


def epoch_upsample(df: DataFrame, factors: dict[str, int]) -> DataFrame:
    """Mixture UPSAMPLING: repeat each stratum's documents ``factor``
    times (once for a language ``factors`` omits) — how training mixes
    give small high-quality strata multiple epochs while the bulk web
    corpus gets one (the counterpart of sample_documents' downsampling; a mixture spec needs both
    directions). Pure narrow row multiplication (explode of a sequence,
    no shuffle); the emitted ``epoch`` number keeps downstream shard
    hashing stable per copy (hash on (doc_id, epoch), so copies spread
    across shards instead of colliding).

    Returns (doc_id, stratum, epoch) — one row per copy.
    """
    factor: Column = F.lit(1)
    for stratum, f in sorted(factors.items()):
        factor = F.when(F.col("lang") == stratum, F.lit(f)).otherwise(factor)
    # sequence(1, 0) runs DESCENDING (the _kgrams guard): a factor <= 0
    # must yield an EMPTY epoch list (stratum dropped from the mix), not
    # a spurious epoch=1 copy
    epochs = F.when(
        factor >= 1, F.sequence(F.lit(1), factor)
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col("doc_id"),
        F.col("lang").alias("stratum"),
        F.explode(epochs).alias("epoch"),
    )


def top_ngrams_per_stratum(df: DataFrame) -> DataFrame:
    """Per-stratum 5 most frequent word bigrams — the corpus-audit table
    behind vocabulary drift / boilerplate monitoring. Grouped top-k via a
    per-stratum window (partitioned — never global); ties broken
    lexicographically so the cut is total and replayable.

    Returns (stratum, rank, ngram, cnt).
    """
    counts = (
        df.select(
            F.col("lang").alias("stratum"),
            F.explode(_kgrams(F.col("text"), 2)).alias("g"),
        )
        .groupBy("stratum", "g")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("stratum").orderBy(F.col("cnt").desc(), F.col("g").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("stratum", F.col("rank").cast("int").alias("rank"), F.col("g").alias("ngram"), "cnt")
    )


def chunk_documents(df: DataFrame) -> DataFrame:
    """Overlapping token chunking — the sequence-prep op for training and
    retrieval corpora: windows of 64 whitespace tokens with 16 tokens of
    context carried between consecutive chunks (stride 48). The final
    chunk keeps the tail even when shorter; a document shorter than one
    chunk yields exactly one.

    Pure array HOFs (sequence/transform/slice + posexplode): the chunking
    is narrow on the corpus scan — no shuffle until whatever consumes the
    chunks. Returns (doc_id, chunk_id, n_tokens, chunk_text).
    """
    stride = 48
    toks = tokens(F.col("text"))
    n = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(F.size(toks))
    # number of chunks: 1 + ceil(max(n - 64, 0) / stride)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - 64, F.lit(0)) / float(stride)).cast("int")
    )
    # token array let-bound: slice(toks, ...) inside the per-chunk lambda
    # re-tokenizes per element otherwise (O(n^2)/row)
    chunks = let_bound(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda c: F.slice(t, (c - 1) * stride + 1, 64),
        ),
    )
    out = df.select(
        F.col("doc_id"),
        n.alias("n_doc_tokens"),
        F.posexplode(F.when(n > 0, chunks).otherwise(F.array(F.array().cast("array<string>")))).alias(
            "pos", "chunk"
        ),
    )
    return out.select(
        "doc_id",
        F.col("pos").cast("int").alias("chunk_id"),
        F.size("chunk").cast("int").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


def hashed_classify(df: DataFrame) -> DataFrame:
    """fastText-style hashed bag-of-ngrams linear classifier INFERENCE
    (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    Classification", arXiv:1607.01759 — the architecture behind the
    CCNet / LLaMA-pipeline quality and language classifiers): every
    word unigram and bigram is hashed into 4096 buckets via the
    hashing trick, each bucket carries a fixed integer weight, and the
    document score is the sum of its feature-bucket weights. Here the
    weight table is itself md5-derived from the bucket id (a
    deterministic stand-in for trained weights — the serving-time plan
    shape is identical: with real weights the bucket->weight map is a
    broadcast array literal, exactly the kmeans-centroid discipline),
    so the whole op stays INTEGER arithmetic end to end.

    Plan shape at scale: completely NARROW — tokenize, build features,
    hash and fold the score per row; no explode, no join, no shuffle of
    any kind. Classifier inference over 100 TB is embarrassingly
    parallel and this plan is exactly that: one map stage on the scan
    (the explode+groupBy formulations of the same op shuffle the
    corpus's entire feature stream for no reason). Token and feature
    arrays are let-bound (textfns.let_bound) — a direct reference
    inside the fold lambda re-tokenizes per feature access, O(n^2)/row.

    Returns (doc_id, n_feats, score, label): feature count, summed
    weight (both BIGINT), and the strict ``score > 0`` decision as 0/1.
    Empty documents score 0 with label 0.
    """

    def bucket_of(feat: Column) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("hc:"), feat)), 1, 8), 16, 10
            ).cast("bigint")
            % 4096
        )

    def weight_of(feat: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("hcw:"), bucket_of(feat).cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 256
        ) - 128

    def over_feats(fs: Column) -> Column:
        score = F.aggregate(
            fs, F.lit(0).cast("bigint"), lambda acc, f: acc + weight_of(f)
        )
        return F.struct(
            F.size(fs).cast("bigint").alias("n_feats"), score.alias("score")
        )

    def over_clean(ct: Column) -> Column:
        # bigrams: zip the token array with itself shifted by one; the
        # zip_with pad pairs the last token with NULL -> concat -> NULL,
        # filtered out below
        bi = F.zip_with(
            ct,
            F.slice(ct, 2, F.greatest(F.size(ct) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
        feats = F.concat(ct, F.filter(bi, lambda x: x.isNotNull()))
        return let_bound(feats, over_feats)

    def over_toks(toks: Column) -> Column:
        return let_bound(F.filter(toks, lambda t: F.length(t) > 0), over_clean)

    res = let_bound(tokens(normalized(F.col("text"))), over_toks)
    return (
        df.withColumn("__hc", res)
        .select(
            F.col("doc_id"),
            F.col("__hc.n_feats").alias("n_feats"),
            F.col("__hc.score").alias("score"),
            F.when(F.col("__hc.score") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("label"),
        )
    )


def alpha_mix(df: DataFrame) -> DataFrame:
    """Temperature-scaled mixture sampling audit: per-source keep rates
    proportional to ``n_tokens^alpha / n_tokens`` with alpha = 1/2 (the
    GPT-3 / Pile-style size^alpha reweighting that upsamples small
    high-quality sources relative to raw proportions), targeting a total
    token budget of 400/1000 of the corpus. The source
    weight is the EXACT integer sqrt of its token count (driver-side
    math.isqrt over the collected bounded per-source table — the
    kmeans-centroid / cms_heavy_hitters collect-once discipline; the
    DuckDB oracle recovers the same integer via floor(sqrt(x)) with a
    +/-1 exactness correction, so no FP value ever crosses the gate);
    rates are pure integer arithmetic: rate_s = min(10^6,
    budget * w_s * 10^6 DIV (W * tok_s)) with budget = ttot * 400 DIV
    1000. Document selection is the deterministic
    md5-bucket filter (strict <), so expected kept tokens per source
    ~ budget * w_s / W.

    Plan shape at scale: pass 1 is ONE partial-aggregable groupBy to
    #sources rows, collected; pass 2 is one narrow projection (the rate
    is a per-source literal CASE — no join) feeding a second
    partial-aggregable groupBy to #sources rows. No window, no
    broadcast, no corpus-sized shuffle. BIGINT headroom: the rate
    numerator is budget * w * 10^6 ~ tokens^1.5 * 10^6 — at a real
    10^14-token corpus drop the 10^6 to 10^3 or route the one
    multiplication through DECIMAL(38,0).

    Returns per-source (source, n_docs, n_tokens, weight, rate, n_kept,
    kept_tokens). Alpha is fixed at 1/2 (isqrt); other alphas need an
    integer k-th-root, same discipline.
    """
    import math

    denom = 1_000_000
    base = df.select(
        F.col("source"),
        F.col("doc_id"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    per_src = {
        r["source"]: (int(r["nd"]), int(r["nt"]))
        for r in base.groupBy("source")
        .agg(F.count("*").alias("nd"), F.sum("n_tok").alias("nt"))
        .collect()
    }
    weights = {s: math.isqrt(nt) for s, (_, nt) in per_src.items()}
    wsum = sum(weights.values())
    ttot = sum(nt for _, nt in per_src.values())
    budget = (ttot * 400) // 1000
    rates = {
        s: min(denom, (budget * w * denom) // (wsum * per_src[s][1]))
        if w > 0
        else 0
        for s, w in weights.items()
    }
    rate: Column = F.lit(0).cast("bigint")
    weight: Column = F.lit(0).cast("bigint")
    for s in sorted(per_src):
        rate = F.when(F.col("source") == s, F.lit(rates[s])).otherwise(rate)
        weight = F.when(F.col("source") == s, F.lit(weights[s])).otherwise(weight)
    kept = _md5_bucket(F.col("doc_id"), 8, denom) < rate
    return (
        base.withColumn("__kept", kept)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.max(weight).cast("bigint").alias("weight"),
            F.max(rate).cast("bigint").alias("rate"),
            F.sum(F.when(F.col("__kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("__kept"), F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


COLLOC_SCALE = 10**4


def collocations(
    df: DataFrame,
    n_tokens: int,
    delta: int = 5,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus collocation (phrase) extraction — the word2vec phrase score
    (Mikolov et al. 2013 §4, "Distributed Representations of Words and
    Phrases"): score(a, b) = (count(ab) - delta) * N / (count(a) *
    count(b)), with delta discounting rare accidental pairs.  Training
    pipelines run this to promote multi-word units before tokenizer /
    embedding training.

    The score is computed in STAGED integer arithmetic so the DuckDB
    oracle replays it exactly AND no intermediate can overflow BIGINT at
    a 10^13-token corpus:

        t     = (count(ab) - delta) * COLLOC_SCALE DIV count(a)
        score = t * N DIV count(b)

    (count(ab) <= count(a), so t <= COLLOC_SCALE and t * N <= 10^4 *
    10^13 — two orders below the BIGINT range; the single-expression
    form (c_ab - delta) * N * SCALE would overflow at 10^13 tokens.
    The staged form IS the operator's definition — both engines compute
    it verbatim, rounding included.)

    Plan shape: one tokenize pass feeds BOTH the unigram explode and the
    adjacent-pair explode; two partial-aggregable groupBy counts; pair
    counts join unigram counts twice on the word (the unigram table is
    vocabulary-sized — broadcastable); TakeOrderedAndProject for the
    top-k by (score DESC, w1, w2) — a total order, no window.

    ``n_tokens`` is the corpus token total (callers pass the bounded
    count — keeps the operator a pure DataFrame transform, the
    tfidf_weighted_pairs ``n_docs`` precedent).
    """
    toks = F.filter(tokens(normalized(F.col("text"))), lambda t: F.length(t) > 0)
    base = df.select(F.col("doc_id").alias("doc"), toks.alias("w"))
    uni = (
        base.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = (
        base.select(
            F.explode(
                let_bound(
                    F.col("w"),
                    lambda ws: F.filter(
                        F.zip_with(
                            ws,
                            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                        ),
                        lambda p: p["w2"].isNotNull(),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    ca = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    return (
        pairs.join(ca, "w1")
        .join(cb, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                f"(((c_ab - {delta}) * {COLLOC_SCALE}) DIV c_a) * {n_tokens} DIV c_b"
            ).cast("bigint").alias("score"),
        )
        .orderBy(F.col("score").desc(), "w1", "w2")
        .limit(top_k)
    )
