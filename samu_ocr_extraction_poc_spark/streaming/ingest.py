"""Structured Streaming surface.

The reference is event-driven (S3 event -> SNS -> Lambda chain,
lib/medical-extractor/stack.ts:225-249) but performs no streaming
*computation* — each document is processed exactly once (SURVEY.md §2.11).
The streaming analog of that architecture in Spark:

- :func:`stream_extract` — continuous ingest of newly-arrived document
  files; each micro-batch runs the SAME batch extraction stage via
  ``foreachBatch`` and appends results + lineage (exactly-once per file via
  checkpointed source offsets). This replaces the SNS fan-out: routing is a
  column, not a topic.
- :func:`stream_event_metrics` — watermarked tumbling-window counts over an
  event stream (late data handled by the watermark), the streaming
  formulation of contract.events_hourly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import DOCUMENTS_SCHEMA, TABLE_SCHEMAS


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ocr_lookup: dict[str, str] | None = None,
    n_parts: int = 8,
):
    """readStream over a documents directory -> per-micro-batch extraction
    -> append sink. Returns the StreamingQuery (caller stops it)."""
    from ..plans.pipeline import lineage_from_results, run_extraction

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        results = run_extraction(
            batch_df, ocr_lookup=ocr_lookup, n_parts=n_parts, repartition=True
        )
        results.persist()
        results.write.mode("append").partitionBy("part_id").parquet(f"{out_dir}/results")
        lineage_from_results(results, run_id=f"epoch-{epoch_id}").write.mode(
            "append"
        ).parquet(f"{out_dir}/lineage")
        results.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_totals(
    spark: SparkSession,
    input_dir: str,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    cumulative per-user event count + value sum, state carried across
    micro-batches (and restarts, via the sink checkpoint).

    Returns the streaming DataFrame; start it with writeStream (tests use
    update-mode memory sink + availableNow)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    events = spark.readStream.schema(schema).parquet(input_dir)

    def _update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(spark: SparkSession, input_dir: str):
    """Streaming exact dedup for a continuously-arriving corpus: md5 the
    normalized text, then ``dropDuplicatesWithinWatermark`` on the hash so
    the dedup state is actually BOUNDED — plain ``dropDuplicates(subset)``
    without the event-time column in the subset keeps every key forever
    (Spark only evicts dropDuplicates state when event time is part of the
    key, which is exactly why dropDuplicatesWithinWatermark exists). At
    10^12 docs unbounded dedup state is the failure mode. First occurrence
    within the watermark horizon wins, matching the batch keep-first
    semantics (operators/dedup.py); a duplicate arriving more than
    the 1-hour watermark after its original is re-admitted — the deliberate
    state-size/recall trade.

    Returns the streaming DataFrame of surviving (deduped) documents;
    start it with writeStream (tests use append memory sink + availableNow).
    """
    from ..functions.textfns import normalized

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long, "
        "ingest_ts timestamp"
    )
    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        docs.withColumn("text_hash", F.md5(normalized(F.col("text"))))
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def stream_near_dedup(spark: SparkSession, input_dir: str):
    """Streaming NEAR-dup dedup: the minhash signature (operators/dedup.py
    family, computed row-locally via row_minhash — no aggregation state,
    which is what makes it legal upstream of a stateful dedup) is the
    dedup key for ``dropDuplicatesWithinWatermark``. Documents whose full
    8-hash signature collides within the 1-hour watermark horizon collapse to
    the first arrival — the streaming analog of the batch pairs->clusters
    pipeline at its highest-precision point (a full-signature match is the
    strictest LSH band). State is bounded by the watermark, same
    state-size/recall trade as stream_exact_dedup.

    Returns the streaming DataFrame of surviving documents.
    """
    from ..operators.dedup import row_minhash

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long, "
        "ingest_ts timestamp"
    )
    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        docs.select("*", row_minhash(F.col("text")).alias("mh"))
        .select(*docs.columns, "mh.*")
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark([f"h{i}" for i in range(8)])
        .drop(*[f"h{i}" for i in range(8)])
    )


def stream_event_metrics(spark: SparkSession, input_dir: str):
    """Watermarked (30 minutes) 1-hour tumbling-window aggregation over
    the event file stream in ``input_dir``; the returned DataFrame is a
    streaming frame to be started with ``writeStream`` (tests use the memory
    sink + availableNow trigger).
    """
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    events = spark.readStream.schema(schema).parquet(input_dir)
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "total_value")
    )


def stream_curate(spark: SparkSession, input_dir: str):
    """Stateless streaming curation stage: score each arriving document
    with the composite quality gate (quality >= 0.4) and scrub PII,
    keeping survivors — quality_score and redact_pii are pure Column expressions, so this
    stage carries NO state (unlike the dedup stages it composes with) and
    backpressures only on the scan. The standard ingest order is
    curate (stateless) -> near-dup dedup (watermark-bounded state): cheap
    narrow filtering first shrinks what the stateful stage must remember.

    Returns the streaming DataFrame (doc_id, lang, source, quality,
    clean_text); start it with writeStream.
    """
    from ..functions.textfns import quality_score, redact_pii

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long, "
        "ingest_ts timestamp"
    )
    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            "ingest_ts",
            quality_score(F.col("text")).alias("quality"),
            redact_pii(F.col("text")).alias("clean_text"),
        )
        .where(F.col("quality") >= 0.4)
    )


def stream_probe_dedup(spark: SparkSession, input_dir: str, index: DataFrame):
    """Streaming INCREMENTAL dedup against an already-indexed corpus (the
    streaming form of operators/dedup.lsh_probe_dedup): each arriving
    document's minhash band keys are computed ROW-LOCALLY (row_minhash —
    no aggregation state) with the signature parameters read from
    ``index`` (dedup.band_index_params), then the stream is anti-joined
    against the static band index once per band. A document survives iff
    NO band key collides with any indexed document — exists-any-collision
    expressed as ``n_bands`` chained stream-static left_anti equality
    joins (supported by Structured Streaming; a per-doc hit-count
    aggregation would need a watermarked stateful agg for the same
    verdict).

    ``index`` is a ``load_band_index(spark, location)`` table — the
    production path: the per-band ``band_id = b`` filters prune its scan
    to one directory partition each — or a ``band_index(corpus)`` frame.
    The caller owns the index's lifecycle: every micro-batch re-reads
    ``index`` once per band, so an inline ``band_index(corpus)`` frame
    should be persisted by the caller and unpersisted when the query
    stops.

    Returns the streaming DataFrame of documents NOT already in the
    corpus (the ones an ingest pipeline forwards).
    """
    from ..operators.dedup import band_index_params, band_key, row_minhash

    num_hashes, rows_per_band, k = band_index_params(index)
    n_bands = num_hashes // rows_per_band
    docs = spark.readStream.schema(TABLE_SCHEMAS["documents"]).parquet(input_dir)
    out = docs.select(
        "*", row_minhash(F.col("text"), num_hashes=num_hashes, k=k).alias("mh")
    ).select(*docs.columns, "mh.*")
    for b in range(n_bands):
        band_idx = index.where(F.col("band_id") == b).select(
            F.col("band_key").alias(f"__bk{b}")
        )
        out = out.withColumn(f"__k{b}", band_key(b, rows_per_band)).join(
            band_idx, F.col(f"__k{b}") == F.col(f"__bk{b}"), "left_anti"
        )
    return out.drop(
        *[f"h{i}" for i in range(num_hashes)], *[f"__k{b}" for b in range(n_bands)]
    )


def _hll_versions(state_dir: str) -> dict[int, bool]:
    """The ``v=<n>`` sub-directories of a :func:`stream_hll` state, as
    {n: committed}; committed means Spark's _SUCCESS marker is there.
    Driver-side os.listdir — state lives on the driver-visible
    filesystem here; a cluster deployment swaps these few lines for the
    Hadoop FileSystem API, nothing else changes."""
    versions = {}
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            if name.startswith("v=") and name[2:].isdecimal():
                versions[int(name[2:])] = os.path.exists(
                    os.path.join(state_dir, name, "_SUCCESS")
                )
    return versions


def latest_hll_state(spark: SparkSession, state_dir: str):
    """The current committed sketch of a :func:`stream_hll` run: the
    highest ``v=<n>`` sub-directory carrying Spark's _SUCCESS marker
    (a version without the marker is a crashed half-write and is
    ignored). Returns (DataFrame, version) or (None, -1) when no
    committed state exists. Raises ValueError when the version carries
    no HLL parameters (a state written before the sketch carried them):
    such a state must be rebuilt, not merged under guessed parameters."""
    from ..operators.sketch import hll_estimate

    best = max((v for v, done in _hll_versions(state_dir).items() if done), default=-1)
    if best < 0:
        return None, -1
    state = spark.read.parquet(f"{state_dir}/v={best}")
    try:
        hll_estimate(state)  # validates the parameters; plans, runs nothing
    except ValueError as e:
        raise ValueError(
            f"hll state at {state_dir}/v={best}: {e}; delete the state "
            "directory and its checkpoint and replay the stream to rebuild it"
        ) from None
    return state, best


def stream_hll(spark: SparkSession, input_dir: str, state_dir: str):
    """Streaming HLL maintenance: a continuously-updated distinct-count
    sketch over the arriving corpus's word bigrams (vocabulary growth is
    THE live signal a crawl-ingest dashboard wants, and the exact answer
    needs unbounded state). Each micro-batch builds its OWN register
    table (operators/sketch.py:hll_build at p = 8, w_bits = 32 — one
    partial-aggregable groupBy/max) and merges it into the persisted sketch via foreachBatch;
    the merged <= 2^p rows are collected (the bounded collect-once
    discipline) and written as a NEW VERSION ``v=<batch_id>`` whose
    _SUCCESS marker is the commit point — an in-place overwrite deletes
    the old state before the new one exists, so a crash mid-write would
    silently reset the sketch to the replayed batch alone (r5 review
    finding); with versions, a torn write leaves no marker and the
    previous committed version keeps serving. A replay of the batch that
    committed the latest version writes nothing, so no write ever
    replaces a committed version. Once a version is committed, the
    versions below it are deleted, so the state holds one version
    between batches. Each version keeps the sketch's parameters
    in its ``bucket`` metadata, so a state built with other (p, w_bits)
    is refused by the merge instead of garbling the registers.

    The delivery-semantics argument: hll_merge is per-bucket MAX —
    associative, commutative, and IDEMPOTENT — so replaying a micro-batch
    after a crash leaves the sketch bit-identical (the replayed batch
    writes ITS OWN version number, or nothing once that version is
    committed). At-least-once delivery is
    therefore SUFFICIENT; no transactional sink or dedup ledger is
    needed, which is exactly why register sketches (not exact counters)
    are the streaming-metrics structure at 10^12 docs. Tests pin
    stream-final registers == the one-shot batch build, and replay
    no-ops.

    Returns the streaming query (availableNow in tests); read the
    current sketch with :func:`latest_hll_state` (hll_estimate consumes
    it directly).
    """
    from ..functions.frames import values_frame
    from ..operators.corpus import _kgrams
    from ..operators.sketch import hll_build, hll_merge

    docs = spark.readStream.schema(TABLE_SCHEMAS["documents"]).parquet(input_dir)

    def update(batch: DataFrame, batch_id: int) -> None:
        items = batch.select(F.explode(_kgrams(F.col("text"), 2)).alias("tok"))
        breg = hll_build(items, "tok")
        sess = batch.sparkSession
        state, committed = latest_hll_state(sess, state_dir)
        if committed > batch_id:
            raise ValueError(
                f"hll state at {state_dir} holds version {committed}, past "
                f"micro-batch {batch_id}: its checkpoint was reset; delete the "
                "state directory too and replay the stream to rebuild it"
            )
        # a replay of the batch that committed the latest version: that
        # version already holds this batch's registers (max is idempotent),
        # and it may be the only committed one, so it is never rewritten
        if committed < batch_id:
            merged = hll_merge(state, breg) if state is not None else breg
            # bounded collect (<= 2^p register rows) into a LocalRelation
            # that keeps the schema's metadata; the write targets this
            # batch's own version dir, which holds no committed version,
            # and the _SUCCESS marker commits it
            values_frame(sess, merged.collect(), merged.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{state_dir}/v={batch_id}")
        # this batch's version is committed, so every older one is
        # superseded; a crash before this point leaves them for the next batch
        for v in _hll_versions(state_dir):
            if v < batch_id:
                shutil.rmtree(f"{state_dir}/v={v}")

    return (
        docs.writeStream.foreachBatch(update)
        .trigger(availableNow=True)
        .option("checkpointLocation", state_dir + "_ckpt")
        .start()
    )
