"""Deduplication operators for large-scale training-data pipelines.

All DataFrame-native (no Python in the hot path). Scale notes per operator:

- exact: one hash-aggregate shuffle on md5(text); AQE coalesces.
- minhash/LSH: row-local signatures (array HOFs over the in-row shingle
  array, no shuffle) -> explode(bands) -> self-equi-join on (band_id,
  key). At 100 TB the band join is the only wide shuffle; band keys are
  uniform by construction (md5), so no salting needed.
- simhash: explode(tokens) -> single groupBy(doc) computing all 32 bit-sums
  map-side (partial aggregation); no join.
- n-gram Jaccard: candidate generation via the shingle inverted index with
  a max-document-frequency cut on hot shingles (bounded join fan-out).

Token/shingle hashing uses md5-hex prefixes so the DuckDB oracle can replay
bit-for-bit (engine-native xxhash/murmur differ across engines).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from ..functions.frames import collect_within_budget, column_params, release_frame, values_frame
from ..functions.textfns import let_bound, normalized, token_count, token_md5_long, tokens

SIMHASH_BITS = 32


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keeps the min id as canonical.

    Returns (text_hash, keep_id, n_dups).
    """
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").cast("bigint").alias("n_dups"))
    )


def keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """A3 at cross-row scale: row_number over (partitionBy key, orderBy
    order) == 1 (SURVEY.md §2.4 A3 'cross-row' formulation)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (array column).

    Built with element_at (O(1) array index) rather than slice-per-shingle,
    and the token array is LET-BOUND (textfns.let_bound): referencing the
    tokenizer expression directly inside the per-shingle lambda re-runs
    split+regexp on every element access — measured 35-50x slower for
    identical values."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        # try_element_at: null past the end (docs shorter than k tokens) —
        # concat_ws skips nulls, matching the oracle's clamped list slice;
        # plain element_at would THROW under ANSI mode (Spark 4 default)
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(toks, i + j) for j in range(k)]
                ),
            )
        )

    return let_bound(tokens(normalized(text_col)), body)


def doc_shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """Exploded (doc_id, shingle) pairs — the inverted-index base."""
    return df.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), k)).alias("shingle")
    )


# Universal-hash family for MinHash: one md5 per shingle, then cheap linear
# transforms h_i(x) = (a_i * x + b_i) mod MERSENNE_31. x is 28 bits so
# a_i * x stays well inside int64 (exact on both engines).
MINHASH_PRIME = (1 << 31) - 1
MINHASH_A = [1 + 2 * i for i in range(64)]
MINHASH_B = [7919 * (i + 1) for i in range(64)]


def shingle_base_hash(col: Column) -> Column:
    """28-bit integer base hash of a shingle via md5 hex prefix."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of
    (a_i * md5int(shingle) + b_i) mod (2^31 - 1). Columns h0..h{n-1}.

    Row-local (:func:`row_minhash`): no explode, no groupBy, no shuffle —
    one narrow projection, so the same plan serves batch and streaming.
    The signature struct is selected once and expanded in a second
    select: expanding it in the same select would leave one copy of the
    tokenizer per hash function in the optimized plan.
    """
    return df.select(
        F.col("doc_id"), row_minhash(F.col("text"), num_hashes, k).alias("mh")
    ).select("doc_id", "mh.*")


def row_minhash(text_col: Column, num_hashes: int = 8, k: int = 3) -> Column:
    """The minhash signature of one row as a struct<h0..h{n-1}>: one md5
    per shingle (not per hash function), LET-BOUND (textfns.let_bound) so
    every hash function's array_min reads the same shingle-hash array
    instead of re-running the tokenizer once per hash. No aggregation
    state, so it composes with dropDuplicatesWithinWatermark (streaming
    aggregations before a stateful dedup are not allowed).

    Select it once under an alias and expand the alias (``"mh.*"``) in a
    following select, as :func:`minhash_signatures` does."""

    # NOTE: the per-hash index must be captured by closure, not a lambda
    # default — F.transform passes the ARRAY INDEX to any two-arg lambda.
    def _h(xs: Column, i: int) -> Column:
        return F.array_min(
            F.transform(
                xs,
                lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_PRIME),
            )
        ).alias(f"h{i}")

    return let_bound(
        F.transform(shingles(text_col, k), shingle_base_hash),
        lambda xs: F.struct(*[_h(xs, i) for i in range(num_hashes)]),
    )


def band_key(band: int, rows_per_band: int) -> Column:
    """Band ``band``'s bucket key over an h0..h{n-1} signature row: its
    ``rows_per_band`` hash values joined with "_"."""
    return F.concat_ws(
        "_", *[F.col(f"h{band * rows_per_band + r}") for r in range(rows_per_band)]
    )


def _banded(
    signatures: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band_id, band_key) rows from an h0..h{n-1} signature frame
    — the banding shared by the self-join (lsh_candidate_pairs) and the
    index-probe (lsh_probe_dedup) constructions."""
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), band_key(b, rows_per_band).alias("band_key"))
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key")
    )


def band_index(
    corpus: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """The corpus's minhash-LSH band index: lazy (index_id, band_id,
    band_key) rows, one per document and band. ``band_key`` carries the
    signature parameters ``{num_hashes, rows_per_band, k}`` as column
    metadata, so every probe (:func:`lsh_probe_dedup`,
    streaming/ingest.stream_probe_dedup) computes the batch's band keys
    with the parameters the index was built with: a probe with other
    parameters would never collide and would pass every duplicate as new.
    The metadata survives persist and the parquet round trip of
    :func:`build_band_index` / :func:`load_band_index`."""
    params = {"num_hashes": num_hashes, "rows_per_band": rows_per_band, "k": k}
    return _banded(
        minhash_signatures(corpus, num_hashes, k), num_hashes, rows_per_band
    ).select(
        F.col("doc_id").alias("index_id"),
        "band_id",
        F.col("band_key").alias("band_key", metadata=params),
    )


def band_index_params(index: DataFrame) -> tuple[int, int, int]:
    """(num_hashes, rows_per_band, k) of a :func:`band_index` frame, read
    from its ``band_key`` metadata (:func:`frames.column_params`). Raises
    ValueError when the metadata is missing (a frame not built by
    :func:`band_index`, or a table written before the index carried its
    parameters)."""
    return column_params(index, "band_key", ("num_hashes", "rows_per_band", "k"), "band_index")


def build_band_index(index: DataFrame, location: str) -> None:
    """Write a :func:`band_index` frame to ``{location}/bands``: one
    directory partition per band, band_key-sorted within each, the
    signature parameters kept in band_key's metadata. Built ONCE per
    corpus; every later batch ingest and streaming query probes the
    :func:`load_band_index` table instead of re-running the corpus
    shingle+minhash pipeline, and the per-band ``band_id = b`` filters
    prune the scan to single directories."""
    num_hashes, rows_per_band, _ = band_index_params(index)
    (
        index.select("index_id", "band_id", "band_key")
        .repartition(num_hashes // rows_per_band, "band_id")
        .sortWithinPartitions("band_id", "band_key")
        .write.mode("overwrite")
        .partitionBy("band_id")
        .parquet(f"{location}/bands")
    )


def load_band_index(spark: SparkSession, location: str) -> DataFrame:
    """Read a :func:`build_band_index` table back as the (index_id,
    band_id, band_key) frame the probes accept. Raises ValueError when
    the table's band_key has no signature parameters: such an index must
    be rebuilt, not probed with guessed parameters."""
    index = spark.read.parquet(f"{location}/bands").select("index_id", "band_id", "band_key")
    try:
        band_index_params(index)
    except ValueError as e:
        raise ValueError(f"band index at {location}: {e}") from None
    return index


def lsh_probe_dedup(batch: DataFrame, index: DataFrame) -> DataFrame:
    """INCREMENTAL near-dup dedup: probe a NEW batch against an EXISTING
    corpus's minhash-LSH band index — the batch-ingest production shape
    (a self-join over corpus+batch would re-pair the whole history on
    every ingest; the probe join touches only batch x matching-bucket
    rows). Same signature family and banding as lsh_candidate_pairs, with
    the parameters read from ``index`` (:func:`band_index_params`).

    ``index`` is ``band_index(corpus)`` for one-shot use, or
    ``load_band_index(spark, location)`` over a :func:`build_band_index`
    table — the amortized production path.

    Returns one lazy row per batch document: every document — even empty
    text — has a signature (shingles() yields the "" shingle for empty
    docs, so an empty incoming doc collides with any empty indexed doc:
    exact-dup semantics, the right verdict for a dedup gate).
    (doc_id, n_index_hits, is_new 0/1) — is_new=0 means some corpus
    document shares a band bucket (near-dup: drop or re-route). The
    signature is row-local, so the spine's ``doc_id`` projection reads
    the batch scan alone and the signature is computed once, on the
    probe side.
    """
    num_hashes, rows_per_band, k = band_index_params(index)
    new_sig = minhash_signatures(batch, num_hashes, k)
    hits = (
        _banded(new_sig, num_hashes, rows_per_band)
        .join(index.select("index_id", "band_id", "band_key"), ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(F.countDistinct("index_id").alias("nh"))
    )
    return (
        new_sig.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nh"), F.lit(0)).cast("bigint").alias("n_index_hits"),
            F.when(F.col("nh").isNull(), 1).otherwise(0).cast("int").alias("is_new"),
        )
    )


def lsh_candidate_pairs(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Band the signature and self-join on band buckets -> candidate pairs
    (doc_a < doc_b). The classic banding construction (Broder; MMDS ch.3).
    The signature length is the frame's own: every ``h<i>`` column is
    banded, ``rows_per_band`` at a time.
    """
    num_hashes = sum(1 for c in signatures.columns if re.fullmatch(r"h\d+", c))
    # the signature frame feeds both sides of the self-join; materialize it
    # eagerly — a lazy persist would let both join sides race to fill the
    # cache and compute the shingle pipeline twice (at scale: write the
    # signature table). localCheckpoint rather than persist (r6): the
    # self-join references the frame twice, so a lineage-bearing cache
    # makes Catalyst re-analyze the whole upstream shingle plan per
    # reference — the flat LogicalRDD keeps the pair plan's analysis
    # bounded (guide §3.3). The checkpoint is on a NEW frame, so any cache
    # the caller set up on its own frame is untouched.
    # eager=False and NO count (r6): the single eager pair action below
    # materializes the checkpoint on first access and both self-join
    # sides read the same cached RDD within that one job — the separate
    # signature-materialization job was pure overhead (block-level locks
    # serialize any same-partition race inside a job; the multi-JOB fill
    # race this used to guard against cannot arise from one action).
    signatures = signatures.localCheckpoint(eager=False)
    exploded = _banded(signatures, num_hashes, rows_per_band)
    a = exploded.alias("a")
    b = exploded.alias("b")
    out = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # eager candidate-pair frame; releases the signature checkpoint
        # (persist accretion across bench passes — ADVICE r2)
        .localCheckpoint(eager=True)
    )
    release_frame(signatures)
    return out


def minhash_jaccard_estimates(df: DataFrame) -> DataFrame:
    """Sketch-quality table for MinHash (the hll_distinct pattern applied
    to Jaccard): for every LSH candidate pair, the signature-agreement
    ESTIMATE next to the EXACT shingle-set Jaccard and the signed error —
    the measurement that justifies the (8 hashes, 2 rows per band, k=3)
    choices before a 100 TB dedup run is launched.

    est_e4   = (#{i: h_i(a) = h_i(b)} * 10000) DIV 8
               (E[est] = J by the MinHash property, Broder 1997)
    exact_e4 = (|A ∩ B| * 10000) DIV (|A| + |B| - |A ∩ B|)
    err_e4   = est_e4 - exact_e4

    Scale shape: the quadratic stage is the banded LSH self-join (already
    bounded); the exact pass then touches ONLY candidate docs' shingles —
    one join keyed on doc id to attach pair membership, one on (doc,
    shingle) for the intersection count, both partial shuffles. Exact
    Jaccard over all pairs would be the O(n^2) plan this module exists to
    avoid; exact-on-candidates is the audited compromise (the
    heavy_hitters verify-on-candidates precedent). All-integer output.
    """
    sig = minhash_signatures(df)
    # flat materialized signature table (multi-referenced: banding + both
    # per-pair signature join sides — the lsh_candidate_pairs discipline)
    sig = sig.localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sig)
    agree = None
    for i in range(8):
        term = F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(8)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(8)],
    )
    est = (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", agree.cast("bigint").alias("n_agree"))
    )
    # exact-on-candidates, literally: restrict the corpus to documents that
    # appear in some candidate pair BEFORE the shingle explode (previously
    # the explode ran over the full corpus and the pair join filtered after
    # — the docstring's "touches ONLY candidate docs' shingles" now holds at
    # the scan, guide §2.3 project-before-the-exchange). The candidate id
    # set is small by construction (LSH-bounded), so the semi join
    # broadcasts; the exploded frame feeds three consumers (sizes + both
    # intersection sides) and is persisted once.
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = df.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    shing = doc_shingles(cand_docs).localCheckpoint(eager=False)
    sizes = shing.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = shing.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = shing.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.expr("(n_agree * 10000) DIV 8").alias("est_e4"),
            F.expr(
                "(coalesce(inter, 0) * 10000) DIV (sza + szb - coalesce(inter, 0))"
            ).alias("exact_e4"),
            F.expr(
                "(n_agree * 10000) DIV 8"
                " - (coalesce(inter, 0) * 10000) DIV (sza + szb - coalesce(inter, 0))"
            ).alias("err_e4"),
        )
        # eager result frame so the signature cache can be released NOW —
        # a lazy return would recompute the shingle pipeline per join side
        # after the unpersist (the lsh_candidate_pairs discipline)
        .localCheckpoint(eager=True)
    )
    release_frame(shing)
    release_frame(sig)
    return out


def simhash(df: DataFrame) -> DataFrame:
    """SimHash over tokens (with multiplicity): per bit b, sum of +-1 by
    whether md5-int(token) has bit b set; simhash sets bit b iff sum > 0.

    32 bits so the oracle can replay with plain BIGINT arithmetic. Single
    explode + groupBy with 32 conditional sums (all map-side combinable).
    """
    toks = df.select(
        F.col("doc_id"),
        F.explode(tokens(normalized(F.col("text")))).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sh = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sh = term if sh is None else sh + term
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_multiprobe_pairs(sig: DataFrame) -> DataFrame:
    """SimHash near-dup pairs via multi-probe rotation blocking.

    Round-1 used a single 8-bit prefix block: 256 buckets, so the per-bucket
    self-join grows O(n^2/256) — a scale-killer at 10^9+ docs (VERDICT.md
    item 5). Here each doc emits one 16-bit key per cyclic rotation of the
    hash (top 16 bits of rot_r(simhash)); a pair is a candidate iff it
    collides on ANY rotation. 2^16 buckets shrink every per-bucket join by
    ~256x while the 4 probes recover recall a single wider key would lose:
    a pair agreeing on any of the four stride-8 16-bit cyclic windows
    (offsets 0/8/16/24) is caught, so hamming<=1 pairs are ALWAYS found
    (one flipped bit can corrupt at most two of the four windows); pairs up
    to hamming 12 are found with high probability but not guaranteed (12
    adversarially-placed flips can touch all four windows). Exact
    hamming(<= 12) re-ranks candidates; integer-only arithmetic
    end-to-end so the DuckDB oracle (which mirrors the same blocking, hence
    the same recall) replays it bit-for-bit.

    The exploded probe frame feeds both self-join sides: it is persisted +
    materialized here and released after the pair result is eagerly
    localCheckpoint-ed, so repeated invocations (bench loops) do not
    accrete cached frames.

    Returns (doc_a, doc_b, hamming).
    """
    mask = (1 << SIMHASH_BITS) - 1
    sh = F.col("simhash")
    probes = F.array(
        *[
            F.struct(
                F.lit(r).alias("probe"),
                F.shiftright(
                    F.shiftleft(sh, r).bitwiseAND(F.lit(mask)).bitwiseOR(
                        F.shiftright(sh, SIMHASH_BITS - r)
                    ),
                    SIMHASH_BITS - 16,
                ).alias("bkey"),
            )
            for r in (0, 8, 16, 24)
        ]
    )
    base = sig.select("doc_id", "simhash", F.explode(probes).alias("p")).select(
        "doc_id", "simhash", F.col("p.probe").alias("probe"), F.col("p.bkey").alias("bkey")
    ).persist()
    a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "probe", "bkey"
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "probe", "bkey"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        a.join(b, ["probe", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= 12)
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard over the shingle inverted index, pairs with
    Jaccard >= 0.5.

    Hot shingles (document frequency > 100) are excluded from candidate
    generation — bounds join fan-out at web scale; the final Jaccard is
    still computed on full shingle sets, so the cut only loses pairs whose
    ONLY common shingles are corpus-stopword shingles (deterministic and
    mirrored in the oracle).
    Returns (doc_a, doc_b, jaccard).
    """
    # The inverted index feeds three consumers (sizes, document frequencies,
    # the pair join); persist it once instead of recomputing the explode —
    # at scale this is the materialized inverted index. Cached ALREADY
    # KEYED by shingle (r6, guide §2.4): the df groupBy, the hot-shingle
    # cut join, and the candidate self-join all consume hashpartitioning
    # (shingle), so none plans its own exchange of the index — and with
    # the cut join now a cache-local co-partitioned probe, recomputing it
    # once per self-join side is cheaper than the extra persist+count
    # materialization pass it used to take to run it once (interleaved
    # A/B 1.61 -> 1.34 s at sf0.1, values identical).
    pairs_base = doc_shingles(df).repartition("shingle").persist()
    sizes = pairs_base.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    df_counts = pairs_base.groupBy("shingle").agg(F.count("*").alias("df"))
    filtered = pairs_base.join(df_counts.where(F.col("df") <= 100), "shingle")
    a = filtered.alias("a")
    b = filtered.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    # Result-preserving early cut: jaccard = c/(na+nb-c) <= c/na, so any pair
    # with c/na below the threshold can never pass the final filter — prune
    # it after the FIRST size join, before the second join and the sort.
    # Slack covers the final round(.,4) lift plus FP division. It drops
    # ~99.98% of background pairs (measured sf0.1: 1.13M -> ~3k rows into
    # the second join).
    half_cut = common.join(sa, "doc_a").where(
        F.col("n_common") / F.col("na") >= 0.5 - 1e-4
    )
    out = (
        half_cut
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
        # eager: the caller gets a materialized pair frame (at scale: the
        # written pair table) and the inverted-index caches release NOW —
        # a lazy return would pin them for the caller's lifetime
        .localCheckpoint(eager=True)
    )
    pairs_base.unpersist()
    return out


def shared_window_pairs(df: DataFrame) -> DataFrame:
    """Exact-substring duplication candidates (the training-data dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"):
    two documents sharing ANY exact 16-word window almost surely share a
    long copied passage. Inverted index over distinct 16-word windows;
    windows appearing in > 50 documents (boilerplate) are cut from
    candidate generation — the same fan-out bound as ngram_jaccard_pairs.

    Returns (doc_a, doc_b, n_shared) with n_shared = number of distinct
    shared windows, >= 1.
    """
    # shingle-keyed cached index (r6, the ngram_jaccard_pairs layout): one
    # exchange serves the df groupBy, the cut join, and the self-join; the
    # cut join re-runs once per self-join side as a cache-local
    # co-partitioned probe, which beats the persist+count materialization
    # pass that used to run it once. The single eager action below fills
    # the lazy cache within one job (the multi-JOB fill race the
    # lsh_candidate_pairs convention guards against does not arise).
    sh = doc_shingles(df, 16).repartition("shingle").persist()
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    filtered = sh.join(dfc.where(F.col("df") <= 50), "shingle")
    a = filtered.alias("a")
    b = filtered.alias("b")
    out = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 1)
        # eager pair result so the index caches release before returning
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return out


def remove_shared_windows(
    df: DataFrame,
    k: int = 16,
) -> DataFrame:
    """Exact-substring dedup APPLY (completes the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" story that
    :func:`shared_window_pairs` starts): every token covered by a k-token
    sliding window whose exact content occurred EARLIER in the corpus is
    removed. "Earlier" is (doc_id, start) order — deterministic
    keep-first, the RefinedWeb/deduplicate-text-datasets removal
    semantics at window granularity (the suffix-array ">=50-token run"
    criterion maps to cover-by-duplicated-k-window here; a run of length
    r >= k duplicated ELSEWHERE is covered by r-k+1 duplicated windows
    and removed wholly at its later occurrences, while its first
    occurrence survives intact). Caveat, pinned by test: a SELF-
    overlapping periodic run (period < k, e.g. 'm m m m m m' at k=4)
    keeps only its first k-window's first token(s) — the later in-doc
    window occurrences are duplicates and their cover reaches back into
    the first occurrence; cover-removal trades that sliver of the
    canonical copy for never splicing half-removed runs.

    Plan shape at scale: sliding-window explode (stride 1, fan-out n-k+1
    per doc; each window hashed to a 60-bit md5 key — O(n*k) chars hashed,
    the price of exactness; a token-hash screen that re-hashed only
    candidate windows was measured slower at every tested scale — its
    text join-back and collect_list grow with the corpus too) ->
    first-occurrence agg min(struct(doc_id, start)) per hash (two-phase
    partial agg, md5-uniform keys, no skew) -> decision join on the hash ->
    interval explode of duplicate windows (fan-out k per DUPLICATE only —
    rare in clean corpora) -> one anti-style left join against the token
    explode -> per-document ordered re-assembly (collect_list bounded by
    doc size). No global window, no driver loop, no self-join: candidate
    work is index-bounded exactly like shared_window_pairs.

    Returns one row per input document:
    (doc_id, n_tokens, n_removed, clean_text).
    """
    n = token_count(F.col("text"))
    # sequence(1, 0) DESCENDS (the epoch_upsample/_kgrams trap): docs
    # shorter than k tokens get an explicitly empty window array
    win_hashes = let_bound(
        tokens(F.col("text")),
        lambda toks: F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda s: F.struct(
                s.alias("s"),
                token_md5_long(F.array_join(F.slice(toks, s, k), " ")).alias("h"),
            ),
        ),
    )
    wins = (
        df.select(
            F.col("doc_id"),
            F.when(n >= k, win_hashes)
            .otherwise(F.array().cast("array<struct<s:int,h:bigint>>"))
            .alias("ws"),
        )
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", F.col("w.s").alias("s"), F.col("w.h").alias("h"))
    )
    # flat materialized window frame (multi-referenced by the
    # first-occurrence agg and the decision join — guide §3.3)
    wins = wins.localCheckpoint(eager=False)
    first = wins.groupBy("h").agg(F.min(F.struct("doc_id", "s")).alias("f"))
    dup = (
        wins.join(first, "h")
        .where(~((F.col("doc_id") == F.col("f.doc_id")) & (F.col("s") == F.col("f.s"))))
        .select("doc_id", "s")
    )
    out = _strip_dup_windows(df, dup, k).localCheckpoint(eager=True)
    release_frame(wins)
    return out


def _strip_dup_windows(df: DataFrame, dup: DataFrame, k: int) -> DataFrame:
    """Removal tail of :func:`remove_shared_windows`: duplicate
    (doc_id, s) window starts -> interval cover -> per-document removed-
    position ARRAYS (the only shuffled payload — duplicate metadata, tiny
    in clean corpora) -> one broadcast-friendly left join back onto the
    corpus -> ROW-LOCAL token filtering and re-assembly (array HOFs).

    r6 rewrite (guide §2.3 "shuffle keys and metadata instead of
    payloads"): the previous formulation posexploded EVERY corpus token
    and shuffled them all through a collect_list groupBy just to drop the
    few removed positions; now only the removed (doc_id, position) set is
    shuffled/aggregated, and documents with no duplicates take a null-fast
    path that never rebuilds their token array membership test."""
    n = token_count(F.col("text"))
    rm = (
        dup.select(
            "doc_id", F.explode(F.sequence(F.col("s"), F.col("s") + (k - 1))).alias("p")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("rmp"))
    )
    toks = tokens(F.col("text"))
    kept_join = let_bound(
        toks,
        lambda ts: F.array_join(
            F.filter(ts, lambda t, i: ~F.array_contains(F.col("rmp"), i + 1)), " "
        ),
    )
    return (
        df.select("doc_id", "text")
        .join(rm, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(n, F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("rmp"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(
                F.when(F.col("rmp").isNull(), F.array_join(toks, " ")).otherwise(
                    kept_join
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def cross_corpus_contamination(train: DataFrame, test: DataFrame) -> DataFrame:
    """Benchmark-contamination check: for each TEST document, how many of
    its exact 16-word windows appear anywhere in the TRAIN corpus (and in
    how many train documents). The standard pre-training hygiene pass —
    a test doc with any hit leaked into the training set.

    Same inverted-index construction as shared_window_pairs, but the join
    is train x test (no self-join): the train index is built once, hot
    boilerplate windows (train df > 50) are cut, and each test window
    probes it. Returns (doc_id, n_windows_hit, n_train_docs) for
    contaminated test docs only.
    """
    # the train index feeds both the df-count and the probe join — persist
    # AND materialize eagerly (lazy persists race; at scale: write the
    # window index table)
    tr = doc_shingles(train, 16).select(
        F.col("doc_id").alias("train_id"), "shingle"
    ).persist()
    te = doc_shingles(test, 16)
    dfc = tr.groupBy("shingle").agg(F.count("*").alias("df"))
    tr_cut = tr.join(dfc.where(F.col("df") <= 50), "shingle")
    out = (
        te.join(tr_cut, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_windows_hit"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
        # eager: contaminated-doc rows are few; release the train index now
        .localCheckpoint(eager=True)
    )
    tr.unpersist()
    return out


def contamination_report(train: DataFrame, test: DataFrame) -> DataFrame:
    """The decontamination DECISION table: one row per TEST document with
    its window totals, hit counts, contamination fraction, and the
    clean/drop verdict — what a pre-training pipeline actually consumes
    (cross_corpus_contamination reports only the contaminated docs'
    hit counts; the decision needs the denominator and the clean rows
    too). Windows are 16 words; frac = hits/windows is an exact integer
    ratio in double — no FP drift cross-engine — and a document is clean
    when the round(4) fraction is at most 0.2.

    Same index construction: train windows persisted+materialized once,
    hot windows (train df > 50) cut before the probe join. The test
    window frame feeds the totals agg and the probe — persisted too.

    Returns (doc_id, n_windows, n_windows_hit, contam_frac, is_clean 0/1).
    """
    tr = doc_shingles(train, 16).select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    te = doc_shingles(test, 16)
    tr.persist()
    te.persist()
    totals = te.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_windows")
    )
    dfc = tr.groupBy("shingle").agg(F.count("*").alias("df"))
    tr_cut = tr.join(dfc.where(F.col("df") <= 50), "shingle")
    hits = (
        te.join(tr_cut, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("nh"))
    )
    frac = F.round(
        F.coalesce(F.col("nh"), F.lit(0)) / F.col("n_windows"), 4
    )
    out = totals.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("bigint").alias("n_windows"),
        F.coalesce(F.col("nh"), F.lit(0)).cast("bigint").alias("n_windows_hit"),
        frac.alias("contam_frac"),
        F.when(frac <= 0.2, 1).otherwise(0).cast("int").alias("is_clean"),
    )
    out = out.localCheckpoint(eager=True)
    te.unpersist()
    tr.unpersist()
    return out


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """APPLY near-dup dedup to the corpus: cluster the candidate pairs
    (connected components) and keep exactly one document per cluster — the
    component minimum (the same keep-min convention as exact_dedup_groups)
    — plus every unclustered document. This is the row-returning end of
    the dedup story: pairs -> clusters -> the surviving training corpus.

    Plan shape at scale: the drop-list (clustered non-minima) is tiny
    relative to the corpus — one left_anti join against it; no shuffle of
    the corpus beyond that join (AQE broadcasts the drop side when it
    fits). Returns the surviving input rows, all columns.
    """
    return df.join(canonical_drops(pairs), "doc_id", "left_anti")


def canonical_drops(pairs: DataFrame) -> DataFrame:
    """The drop list of :func:`keep_canonical`: every clustered document
    that is not its component's minimum, as one ``doc_id`` column. On the
    components' driver finish it is a LocalRelation, so a gate can
    anti-join it without re-reading the corpus."""
    cc = connected_components(pairs)
    return cc.where(F.col("doc_id") != F.col("component")).select("doc_id")


def connected_components(
    pairs: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed connected components over a near-dup pair graph — the
    step that turns pairwise candidates into dedup CLUSTERS (each cluster
    keeps one canonical document). Alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds regardless of graph diameter. The label of
    every vertex is the minimum doc id of its component (deterministic;
    the DuckDB oracle computes the same min over the transitive closure,
    and tests/test_scale_paths.py pins it against a union-find reference).

    Per round, the edge set is rewritten (edges always kept canonical
    src > dst, no self-loops):

    - LARGE-STAR at each node u: every neighbor v > u is re-pointed at
      m = min(neighborhood of u, incl. u);
    - SMALL-STAR at each node u (over the src>dst orientation): u and all
      its smaller neighbors are re-pointed at m = min of those neighbors.

    At the fixpoint the edges form star forests: every non-minimum vertex
    points directly at its component's minimum id, so labels read straight
    off the edge list.

    Convergence detection (r6): the fixpoint of the alternation is exactly
    the star forests (Kiveris et al. Thm. 1), and with the canonical
    src > dst orientation a star forest is characterized by two aggregate
    facts — every src appears exactly once, and no node is both a src and
    a dst (each parent is then the min of its component, since the min can
    never point at anything smaller). Both facts are computed in the SAME
    one-job-per-round aggregate that materializes the round (over a 2-rows-
    per-edge inline stack so the src/dst/union distinct counts share one
    pass), so the round that PRODUCES the forest is detected directly —
    the old edge-set-fingerprint equality needed one extra confirming
    round to observe "nothing changed" (rounds = k+1 instead of k; one
    full large+small star pass saved per call, and an input that is
    already a star forest runs zero rounds). The forest test is the only
    stop: an unchanged edge set is a fixpoint, hence a star forest, so no
    other "nothing changed" test could fire first, and 20 rounds without
    the forest raise. Cache discipline: O(1) live frames, and
    the lineage is localCheckpoint-truncated EVERY round — a star round
    references the previous frame ~4 times (the adjacency union reads it
    twice, small-star joins the large-star output against its own
    aggregate), so persist-only rounds grow the logical plan ~4^rounds and
    OOM Catalyst/AQE's plan stringification within a handful of rounds.

    Small inputs never enter the loop: when the canonical edge set fits the
    session's ``autoBroadcastJoinThreshold`` at 16 B per edge, it is
    collected once and finished by union-find on the driver, with the same
    labels (``stats["finish"]`` is ``"driver"`` and ``stats["rounds"]``
    0; the loop reports ``"spark"`` and its round count). A threshold
    <= 0 always runs the loop.

    Returns (doc_id, component).
    """

    def _is_star_forest(e: DataFrame) -> bool:
        """ONE aggregate job: materializes ``e`` (eager=False checkpoint
        upstream) and returns whether it is a star forest. Stacks each
        edge into (side, node) rows and aggregates per node first (partial-
        aggregable, no Expand — a count-distinct formulation planned an
        Expand plus an extra exchange and cost more than the round it
        saved), then reduces to one row: a node violates forestness when
        it is the src of more than one edge or is both a src and a dst."""
        stacked = e.select(
            F.expr("inline(array(struct(0 as side, src as node), struct(1 as side, dst as node)))")
        )
        per_node = stacked.groupBy("node").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ns"),
            F.max("side").alias("mx"),
        )
        row = per_node.agg(
            F.max(
                F.when(
                    (F.col("ns") > 1) | ((F.col("ns") > 0) & (F.col("mx") == 1)),
                    1,
                ).otherwise(0)
            ).alias("bad"),
        ).collect()[0]
        return (row["bad"] or 0) == 0

    def _large_star(e: DataFrame) -> DataFrame:
        adj = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = adj.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least(F.col("mn"), F.col("src")).alias("m")
        )
        # no .distinct() here (r6): duplicate (dst, m) rows don't change
        # small-star's min aggregate, and its trailing distinct removes
        # them from the round output — the dedup shuffle was pure cost
        # (one Exchange per round removed, verified value-neutral against
        # the union-find reference and the DuckDB oracle).
        return (
            adj.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is canonical src > dst (large-star output); m(u) = min smaller
        # neighbor; re-point u and every smaller neighbor except m at m
        m = e.groupBy("src").agg(F.min("dst").alias("m"))
        withm = e.join(m, "src")
        re_pointed = withm.where(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        own = m.select("src", F.col("m").alias("dst"))
        return re_pointed.unionByName(own).distinct()

    # localCheckpoint, not persist, for the loop base: every star round
    # references `edges` ~4 times, so with a persisted (data-cached but
    # lineage-bearing) base the FIRST round's analysis/optimization walked
    # 4 copies of the caller's entire upstream plan (scan -> shingles ->
    # band self-join) — measured ~1.9 s of pure driver planning at sf0.1
    # before a single task ran. The flat LogicalRDD base keeps every
    # round's plan bounded (guide §3.3). The bounded collect or the first
    # round's aggregate materializes it (eager=False: no count job).
    # greatest/least skip nulls, so a pair with a null endpoint becomes a
    # self-loop (or a null src) and is dropped here.
    edges0 = (
        pairs.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("src"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # NOTE (r6): both star rewrites PRESERVE the vertex set — large star
    # keeps any u with a smaller neighbor w as src of (u, m(w)) and any u
    # whose neighbors are all larger as dst (m(u) = u); small star keeps
    # every src via its `own` row and every dst either as the min or as a
    # re-pointed src. So nodes(final forest) == nodes(edges0), and the old
    # vertices-distinct + left-join read-off (which also kept edges0 alive
    # across the whole loop) is equivalent to the cheap union read-off
    # below. (Had a vertex been able to vanish, the old coalesce-to-self
    # would have mislabeled it as its own component — the oracle-green
    # history is itself evidence of preservation.)
    edges = edges0
    try:
        # Small-input finish: an edge set within the broadcast budget (two
        # BIGINTs, 16 B, per edge) is collected once and labelled by union-find
        # on the driver. The loop pays one Spark job per round plus the
        # read-off; on a few-hundred-edge LSH graph that is ~15-25 jobs of
        # 20-50 ms each around a few KB of state.
        # At the default 10 MB budget's bound (655,360 random edges over 2^20
        # ids, 747,725 vertices; local[4], 4-core VM, warm) the finish took
        # 8.8-9.3 s (collect ~2.5, union-find ~2.2, Arrow createDataFrame +
        # count ~3) against 41.7-42.1 s for the loop's 8 rounds.
        rows = collect_within_budget(edges0, 16)
        if rows is not None:
            if stats is not None:
                stats.update(rounds=0, finish="driver")
            return _components_on_driver(pairs.sparkSession, rows, edges0.schema.fields)
        converged = _is_star_forest(edges)
        rounds = 0
        while not converged:
            if rounds == 20:
                raise RuntimeError(
                    "connected_components did not converge in 20 rounds "
                    "(expected O(log n) rounds)"
                )
            # eager=False: the forest-test aggregate is the round's
            # materializing action — one scheduled job per round instead
            # of a checkpoint-count job plus the aggregate job (the
            # previous frame is only released after this aggregate has
            # run, so the new frame's checkpoint data is in place first)
            prev, edges = edges, _small_star(_large_star(edges)).localCheckpoint(eager=False)
            try:
                converged = _is_star_forest(edges)
            finally:
                release_frame(prev)
            rounds += 1
        if stats is not None:
            stats.update(rounds=rounds, finish="spark")
        # star forest read-off: non-minimum vertices appear as src exactly
        # once, pointing at the component min; minima appear only as dst and
        # label themselves. A union of the edge list with the distinct-dst
        # self-rows replaces the old full-vertex-set left join (one distinct
        # over the small forest instead of a distinct over 2x the input edges
        # plus a join).
        return (
            edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("component"))
            .unionByName(
                edges.select(F.col("dst").alias("doc_id"))
                .distinct()
                .select("doc_id", F.col("doc_id").alias("component"))
            )
            .localCheckpoint(eager=True)
        )
    finally:
        release_frame(edges)


def _components_on_driver(
    spark: SparkSession, edges: list[Row], fields: list[StructField]
) -> DataFrame:
    """Union-find over canonical (src, dst) edges; every vertex is labelled
    with its component's minimum id (a root is only ever attached under a
    smaller root, so each root is its component's minimum). Returns
    (doc_id, component) typed like the loop's output as a
    :func:`values_frame`, so a join against it broadcasts with no Python
    RDD."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edges:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    schema = StructType(
        [
            StructField("doc_id", fields[0].dataType, fields[0].nullable),
            StructField("component", fields[1].dataType, fields[1].nullable),
        ]
    )
    return values_frame(spark, [(v, find(v)) for v in list(parent)], schema)
