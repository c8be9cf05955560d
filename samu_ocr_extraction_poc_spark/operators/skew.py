"""Skew discipline for multi-hundred-page filings (north_rule; SURVEY.md §7).

A 400-page document is one row with ~12k spans: untouched, it serializes
into a single task and dominates its partition. The scalable formulation:

1. :func:`split_by_pages` — in-row, pure Column logic: find ``page_break``
   positions with array HOFs and slice the span array into page-aligned
   chunks (each chunk starts at a page break, so per-chunk page grouping is
   complete — no cross-chunk text merge needed).
2. explode chunks -> bounded rows -> the same Arrow extraction/grouping
   code runs per chunk in parallel.
3. :func:`pages_distributed` — regroup the (small) per-page texts per doc.

The same split feeds the salted repartition: chunk rows hash uniformly, so
AQE sees no hot partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def split_by_pages(docs: DataFrame, pages_per_chunk: int = 25) -> DataFrame:
    """documents(doc_id, spans) -> (doc_id, chunk_id, spans) with each chunk
    covering `pages_per_chunk` page_break-aligned page groups.

    Pure JVM array algebra: no UDF, no shuffle. Docs without page breaks
    come through as one chunk.
    """
    spans = F.col("spans")
    n = F.size(spans)
    # 0-based indices of page_break spans (document order == array order)
    breaks = F.filter(
        F.transform(spans, lambda s, i: F.when(s["kind"] == "page_break", i).otherwise(-1)),
        lambda x: x >= 0,
    )
    # chunk start indices: every pages_per_chunk'th break; always include 0
    starts = F.array_distinct(
        F.concat(
            F.array(F.lit(0)),
            F.filter(
                F.transform(breaks, lambda b, i: F.when(i % pages_per_chunk == 0, b).otherwise(-1)),
                lambda x: x >= 0,
            ),
        )
    )
    ends = F.concat(F.slice(starts, 2, 2_000_000), F.array(n))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.slice(spans, s + 1, F.greatest(e - s, F.lit(0))),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "spans")
    ).where(F.size("spans") > 0)


def pages_distributed(docs: DataFrame, pages_per_chunk: int = 25) -> DataFrame:
    """A1 page grouping, skew-immune: split -> per-chunk Arrow grouping ->
    per-doc regroup of small page texts.

    Returns (doc_id, page, page_text) rows with the reference's leading
    ``' \\n '`` separators (text-extractor.ts:287-319).
    """
    import pandas as pd

    from .pages import get_page_text

    chunks = split_by_pages(docs, pages_per_chunk)

    def _chunk_pages(batches):
        for pdf in batches:
            rows = []
            for doc_id, chunk_id, spans in zip(pdf["doc_id"], pdf["chunk_id"], pdf["spans"]):
                pages = get_page_text(list(spans))
                for page, text in enumerate(pages):
                    if text:
                        rows.append(
                            {"doc_id": doc_id, "chunk_id": int(chunk_id), "page": page, "page_text": text}
                        )
            yield pd.DataFrame(rows, columns=["doc_id", "chunk_id", "page", "page_text"])

    per_chunk = chunks.mapInPandas(
        _chunk_pages, "doc_id string, chunk_id int, page int, page_text string"
    )
    # chunks are page-aligned, so (doc_id, page) is unique across chunks for
    # marker-bearing docs; docs without markers default every chunk to page 1,
    # so concatenate in chunk order for exact get_page_text parity.
    return (
        per_chunk.groupBy("doc_id", "page")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("chunk_id", "page_text"))),
                    lambda s: s["page_text"],
                ),
            ).alias("page_text")
        )
        .select("doc_id", "page", "page_text")
    )


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key_col: str,
    salt_src_col: str,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join for HOT KEYS (the row-splitting above handles
    hot ROWS): the big side gets a deterministic salt from md5 of a
    row-identifying column, the dim side replicates to every salt, and
    the join key becomes (key, salt) — a hot key's rows spread over
    16 salt tasks instead of one.

    When to reach for this instead of the defaults, in order:
    1. broadcast the dim side (no shuffle at all) — always first choice
       when it fits;
    2. AQE skew-join (enabled session-wide here) — splits oversized
       SORT-MERGE partitions at runtime, no code change;
    3. THIS — when the dim side is too big to broadcast AND the plan
       shape AQE's skew handling doesn't cover applies (shuffled hash
       joins, aggregation feeding the join, deterministic-layout
       requirements for a downstream bucketed write).

    The salt is md5-derived (NEVER rand()/monotonically_increasing_id:
    non-deterministic under task retry — a retried task would re-salt
    rows differently and double/drop them), so the result layout is
    stable across retries and re-runs; a NULL ``salt_src_col`` falls
    back to salt 0 rather than NULL (a NULL salt would silently
    un-match rows the unsalted join matches). The dim side grows
    16×: keep it to the small-but-unbroadcastable middle ground
    the method exists for. Result rows equal the unsalted join exactly
    (pinned by test) — which is also why ``how`` is restricted to the
    big-side-preserving joins: under right/full outer an unmatched dim
    row would surface once per salt copy."""
    allowed = {"inner", "left", "left_outer", "leftouter", "semi",
               "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports big-side-preserving joins only {sorted(allowed)}; "
            f"got {how!r} — right/full outer would duplicate unmatched dim rows "
            "once per salt copy"
        )
    from .corpus import _md5_bucket

    salt = F.coalesce(
        _md5_bucket(F.col(salt_src_col), 8, 16), F.lit(0).cast("bigint")
    )
    b = big.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(15)).cast("array<bigint>"))
    )
    return b.join(d, [key_col, "__salt"], how).drop("__salt")


def skew_audit(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Join-key skew REPORT — the measurement that decides whether a key
    needs :func:`salted_join` (or a broadcast, or AQE skew handling)
    before the 100 TB join is launched: per-key counts on the fact side,
    the ``top_k`` heaviest keys, each with its corpus share and its
    ratio to the mean key, plus a hot flag for any key holding >= 1% of
    rows.

    Distributed shape: ONE partial-aggregable groupBy/count on the key
    (a hot key collapses map-side — the audit itself never suffers the
    skew it measures), a 1-row totals aggregate (partial-aggregated to
    one row per task before the scalar exchange — the length_quantiles /
    hll_distinct documented-SinglePartition class: the exchange carries
    one partial row per task, never key- or corpus-sized data) broadcast
    back via crossJoin, and a TakeOrderedAndProject for the top-k — no
    window, no global sort. All-integer outputs:

    - ``share_e4``  = cnt * 10000 DIV total   (fraction of all rows)
    - ``xmean_e4``  = floor(cnt * n_keys * 10000 / total)  (10000 =
      exactly the mean key; a uniform column reads ~10000 everywhere, a
      hot key reads n_keys times that) — computed via the split-multiply
      identity floor(a*c/d) = (a DIV d)*c + ((a % d)*c) DIV d with
      a = cnt*10000, c = n_keys, d = total (the hll_estimate staging),
      so the intermediates stay in BIGINT whenever
      ``total * n_keys < 2^63`` — four orders of magnitude beyond the
      naive triple product's domain; past ~10^12 rows x 10^6 keys,
      pre-aggregate or drop the e4 scale
    - ``is_hot``    = share_e4 >= 100

    Ordering (cnt DESC, key ASC NULLS LAST) is total — the top-k SET is
    deterministic, and NULLS LAST matches ANSI/DuckDB ASC default (Spark
    alone defaults to NULLS FIRST — left implicit, a NULL key tying at
    the boundary would silently change the set between engines). NULL
    keys count as a key of their own (NULL joins match nothing
    downstream, but their row mass still skews the build side of a
    shuffle, so the audit must see them). The counts frame feeds both
    the totals aggregate and the top-k, so it is localCheckpoint-ed once
    instead of re-running the fact-side scan + count shuffle per
    consumer."""
    if top_k < 1:
        raise ValueError(f"skew_audit: top_k must be >= 1, got {top_k}")
    counts = (
        df.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    counts = counts.localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
        .limit(top_k)
        .select(
            "key",
            "cnt",
            F.expr("cnt * 10000 DIV total").cast("bigint").alias("share_e4"),
            F.expr(
                "(cnt * 10000 DIV total) * n_keys"
                " + ((cnt * 10000 % total) * n_keys) DIV total"
            ).cast("bigint").alias("xmean_e4"),
            "total",
            "n_keys",
            F.expr("CAST(cnt * 10000 DIV total >= 100 AS INT)").alias("is_hot"),
        )
    )
