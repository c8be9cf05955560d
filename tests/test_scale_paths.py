"""Scale-path tests: streaming ingest, media plumbing, skew splitting,
readers, and plan-quality assertions (pushdown / broadcast / narrow UDF)."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark import fixtures as FX
from samu_ocr_extraction_poc_spark.operators.pages import get_page_text
from samu_ocr_extraction_poc_spark.operators.skew import pages_distributed, split_by_pages
from samu_ocr_extraction_poc_spark.sources.media import (
    decode_media,
    frame_sample,
    resize_plan,
    synth_media_table,
)
from samu_ocr_extraction_poc_spark.sources.readers import load_documents, write_documents
from samu_ocr_extraction_poc_spark.streaming.ingest import stream_event_metrics, stream_extract

SF = "/root/testdata/sf0.001"

# The loop operators (connected_components, bpe_train) finish small inputs
# on the driver under the session's broadcast budget and run their Spark
# loops otherwise: each (threshold, finish) pair runs one of the two paths.
FINISH_PATHS = [(None, "driver"), ("-1", "spark")]


@contextlib.contextmanager
def override_broadcast_threshold(spark, value):
    """Run with spark.sql.autoBroadcastJoinThreshold set to ``value`` (None:
    the session's own), restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        if value is not None:
            spark.conf.set(key, value)
        yield
    finally:
        spark.conf.set(key, old)


# --- skew / giant-doc splitting ----------------------------------------------


def test_split_by_pages_bounds_chunks(spark):
    docs = FX.canonical_corpus(spark, with_skew=True)
    chunks = split_by_pages(docs, pages_per_chunk=25)
    giant = FX.doc_id_for("Pleadings/giant.pdf")
    rows = chunks.where(F.col("doc_id") == giant).select(F.size("spans").alias("n")).collect()
    assert len(rows) == 400 // 25
    assert all(r["n"] == 25 * 31 for r in rows)
    # total spans preserved
    total = chunks.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert total == docs.agg(F.sum(F.size("spans"))).collect()[0][0]


def test_pages_distributed_matches_in_row(spark):
    docs = FX.canonical_corpus(spark, with_skew=True)
    dist = {
        (r["doc_id"], r["page"]): r["page_text"]
        for r in pages_distributed(docs, pages_per_chunk=7).collect()
    }
    for r in docs.collect():
        pages = get_page_text([s.asDict() for s in r["spans"]])
        for page, text in enumerate(pages):
            if text:
                assert dist[(r["doc_id"], page)] == text, (r["doc_id"], page)
    assert len(dist) == sum(
        1
        for r in docs.collect()
        for t in get_page_text([s.asDict() for s in r["spans"]])
        if t
    )


# --- multimodal plumbing -------------------------------------------------------


def test_media_real_codec_roundtrip(spark):
    """REAL decode: valid PPM/BMP/WAV/P6-stream containers parse with the
    pure-stdlib codecs — exact dimensions, frame counts and pixel
    statistics, no lookup fallback and no error rows; decoding twice gives
    identical rows."""
    media = synth_media_table(spark, n=30)
    rows = {r["media_ref"]: r for r in decode_media(media).collect()}
    again = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert rows == again
    assert len(rows) == 30
    assert all(r["error"] is None for r in rows.values())
    for i in range(30):
        r = rows[f"m-{i:04d}"]
        mtype = ["image", "audio", "video"][i % 3]
        assert r["media_type"] == mtype
        if mtype == "image":
            assert (r["width"], r["height"]) == (8 + i % 5, 6 + i % 4)
            assert r["n_frames"] == 1
            assert all(0.0 <= f <= 1.0 for f in r["feature"])
        elif mtype == "video":
            assert r["n_frames"] == 1 + i % 4  # every P6 frame parsed
        else:
            assert r["n_frames"] == 128  # 32-byte sha256 * 8 / 2 bytes per sample
            assert len(r["feature"]) == 16


def test_media_codec_exact_values():
    """Codec-level goldens, no Spark: a 2x2 PPM with one pure-color pixel
    per quadrant yields exactly-known features; BMP and WAV round-trip
    bit-exactly (BMP through its bottom-up BGR padded-row storage)."""
    from samu_ocr_extraction_poc_spark.sources.media import (
        _image_features,
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    w, h, back, off = decode_ppm(encode_ppm(2, 2, rgb))
    assert (w, h, back, off) == (2, 2, rgb, len(encode_ppm(2, 2, rgb)))
    feats = _image_features(2, 2, rgb)
    assert feats[:12] == [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]
    assert feats[12:15] == [0.5, 0.5, 0.5]
    assert abs(feats[15] - 0.5) < 1e-9

    # BMP: 3x2 exercises the 4-byte row padding (3*3=9 -> 12)
    rgb32 = bytes(range(3 * 2 * 3))
    assert decode_bmp(encode_bmp(3, 2, rgb32)) == (3, 2, rgb32)

    samples = [0, 16384, -16384, 32767, -32768, 0, 100, -100]
    duration_ms, n, vals = decode_wav(encode_wav(samples))
    assert n == len(samples) and duration_ms == 1
    assert vals[1] == 0.5 and vals[4] == -1.0

    # header comments are legal PPM
    commented = b"P6\n# a comment\n2 2\n255\n" + rgb
    assert decode_ppm(commented)[:2] == (2, 2)


def test_media_poison_blob_degrades_to_error_row(spark):
    """A malformed blob yields an error ROW (poison-document discipline),
    never a failed job; valid rows in the same batch decode normally."""
    import hashlib as _hl

    from samu_ocr_extraction_poc_spark.sources.media import encode_ppm as _ep

    rows = [
        ("ok", "d1", "image", _ep(2, 2, bytes(12)),
         {"mime": "image/x-portable-pixmap", "width": None, "height": None, "duration_ms": None}),
        ("bad", "d2", "image", _hl.sha256(b"garbage").digest(),
         {"mime": "image/x-fake", "width": None, "height": None, "duration_ms": None}),
        ("trunc", "d3", "image", b"P6\n9 9\n255\nxx",
         {"mime": "image/x-portable-pixmap", "width": None, "height": None, "duration_ms": None}),
        # corrupt BMP header claiming 60000x60000 over a few bytes: must be
        # a caught error row, never a multi-GB allocation in the worker
        ("bigbmp", "d4", "image",
         b"BM" + b"\x00" * 8 + (54).to_bytes(4, "little")
         + (40).to_bytes(4, "little") + (60000).to_bytes(4, "little")
         + (60000).to_bytes(4, "little") + (1).to_bytes(2, "little")
         + (24).to_bytes(2, "little") + (0).to_bytes(4, "little") + b"\x00" * 20,
         {"mime": "image/bmp", "width": None, "height": None, "duration_ms": None}),
        # declared audio but the bytes are an image: the mismatch must
        # surface in the error column, not hand pixel stats to an audio
        # consumer
        ("mislabel", "d5", "audio", _ep(2, 2, bytes(12)),
         {"mime": "audio/wav", "width": None, "height": None, "duration_ms": None}),
        # negative header dims would otherwise "succeed" with garbage
        ("negppm", "d6", "image", b"P6\n-1 -1\n255\n123",
         {"mime": "image/x-portable-pixmap", "width": None, "height": None, "duration_ms": None}),
        # a video stream with a corrupted later frame must error, not
        # silently undercount n_frames
        ("badtail", "d7", "video", _ep(2, 2, bytes(12)) + b"XX garbage",
         {"mime": "video/x-ppm-stream", "width": None, "height": None, "duration_ms": None}),
    ]
    from samu_ocr_extraction_poc_spark.sources.media import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert out["ok"]["error"] is None and out["ok"]["width"] == 2
    assert out["bad"]["error"] and out["bad"]["feature"] is None
    assert "truncated" in out["trunc"]["error"]
    assert "truncated BMP" in out["bigbmp"]["error"]
    assert "media_type" in out["mislabel"]["error"] and out["mislabel"]["feature"] is None
    assert "invalid PPM dimensions" in out["negppm"]["error"]
    assert "trailing non-P6" in out["badtail"]["error"]


def test_frame_sample_and_resize(spark):
    import math

    decoded = decode_media(synth_media_table(spark, n=30)).cache()
    frames = frame_sample(decoded, every_n=2)
    fr = {r["media_ref"]: r["count"] for r in frames.groupBy("media_ref").count().collect()}
    # only video rows are sampled: frames 0, 2, ... of 1 + i % 4
    assert fr == {f"m-{i:04d}": len(range(0, 1 + i % 4, 2)) for i in range(2, 30, 3)}
    # audio decodes to 0x0: no target (and no division by zero under ANSI)
    rs = {r["media_ref"]: r for r in resize_plan(decoded, max_side=6).collect()}
    assert len(rs) == 30
    for i in range(30):
        r = rs[f"m-{i:04d}"]
        if i % 3 == 1:
            assert (r["width"], r["height"]) == (0, 0)
            assert r["target_w"] is None and r["target_h"] is None
            continue
        w, h = 8 + i % 5, 6 + i % 4
        scale = min(1.0, 6 / max(w, h))
        assert (r["width"], r["height"]) == (w, h)
        assert (r["target_w"], r["target_h"]) == (
            math.floor(w * scale + 0.5),
            math.floor(h * scale + 0.5),
        )


def test_media_features_feed_similarity(spark):
    from samu_ocr_extraction_poc_spark.operators.similarity import brute_topk

    decoded = decode_media(synth_media_table(spark, n=30)).withColumnRenamed(
        "media_ref", "vec_id"
    ).withColumnRenamed("feature", "embedding")
    out = brute_topk(decoded.limit(25), decoded.limit(3), k=2)
    assert out.count() == 6


# --- sources -------------------------------------------------------------------


def test_write_and_load_documents_bucketed(spark, tmp_path):
    docs = FX.canonical_corpus(spark)
    loc = str(tmp_path / "corpus")
    write_documents(docs, loc, n_buckets=4)
    back = load_documents(spark, loc)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()


def test_iceberg_unavailable_without_its_jars(spark):
    """The test session has no Iceberg jars, so bare table names must take
    the parquet fallback. py4j answers a missing class with a JavaPackage,
    not an error."""
    from samu_ocr_extraction_poc_spark.sources.readers import iceberg_available

    assert iceberg_available(spark) is False


# --- streaming -----------------------------------------------------------------


def test_stream_event_metrics_memory_sink(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="evstream_")
    try:
        events.write.mode("overwrite").parquet(d)
        agg = stream_event_metrics(spark, input_dir=d)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ev_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM ev_out").collect()
        assert got
        batch = (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .count()
        )
        assert len(got) == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_exact_dedup_watermarked(spark, tmp_path):
    """Streaming dedup: duplicate texts across the stream collapse to the
    first arrival; distinct texts all survive; the watermark bounds state."""
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_exact_dedup

    rows = [
        (1, "alpha beta gamma", "en", "s1", 16, "2024-01-01 10:00:00"),
        (2, "alpha beta gamma", "en", "s2", 16, "2024-01-01 10:05:00"),  # dup of 1
        (3, "delta epsilon", "en", "s3", 13, "2024-01-01 10:10:00"),
        (4, "Alpha  beta GAMMA!", "en", "s4", 18, "2024-01-01 10:15:00"),  # norm-dup of 1
        (5, "zeta", "en", "s5", 4, "2024-01-01 10:20:00"),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long, ingest_ts string",
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    d = str(tmp_path / "docstream")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    q = (
        stream_exact_dedup(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_out").collect()}
    assert len(got) == 3  # one per distinct normalized text
    assert 3 in got and 5 in got
    assert len(got & {1, 2, 4}) == 1  # exactly one survivor of the dup group


def test_stream_extract_foreachbatch(spark, tmp_path):
    docs = FX.canonical_corpus(spark)
    in_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.mode("overwrite").parquet(in_dir)
    q = stream_extract(spark, in_dir, out_dir, ckpt, ocr_lookup=FX.OCR_LOOKUP, n_parts=4)
    q.awaitTermination(180)
    results = spark.read.parquet(f"{out_dir}/results")
    assert results.count() == docs.count()
    # restarting the stream with no new files must not duplicate rows
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, ocr_lookup=FX.OCR_LOOKUP, n_parts=4)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/results").count() == docs.count()


# --- plan quality (Catalyst checks, SURVEY §4) -----------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    # column pruning: scan schema mentions only needed columns
    assert "l_extendedprice" not in plan


def test_q5_uses_broadcast_join(spark):
    from samu_ocr_extraction_poc_spark.contract import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pack_token_windows_has_no_global_window(spark):
    """Sequence packing must stay shard-parallel: the cumulative-sum window
    partitions by the md5 shard, so the plan must contain NO SinglePartition
    exchange (a global ORDER BY window would serialize the whole corpus
    through one task at 100 TB)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import pack_token_windows

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_token_windows(docs))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan  # the window runs per shard


def _below_round_robin(plan: str) -> list[str]:
    """The plan lines in the subtrees of its round-robin exchanges."""
    below, depth = [], None
    for line in plan.splitlines():
        d = len(line) - len(line.lstrip(" :+-"))
        if depth is not None and d <= depth:
            depth = None
        if depth is not None:
            below.append(line)
        elif "Exchange RoundRobinPartitioning" in line:
            depth = d
    return below


@pytest.mark.parametrize(
    "name", ["repetition_stats", "quality_filter", "gopher_repetition"]
)
def test_repetition_signals_are_row_local(spark, name):
    """Per-document repetition signals are one expression per row: the
    executed plan holds no join, no aggregate and no exchange but
    contract._t's round-robin one, and quality_filter's gate (a generator,
    not a Filter) is not pushed below that exchange into the scan."""
    import re

    from samu_ocr_extraction_poc_spark.contract import QUERIES

    df = QUERIES[name](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "Exchange RoundRobinPartitioning" in plan
    assert "Join" not in plan and "Aggregate" not in plan, plan
    exchanges = [l for l in plan.splitlines() if re.search(r"(?<![A-Za-z])Exchange\s", l)]
    assert all("RoundRobinPartitioning" in l for l in exchanges), exchanges
    filters = [l for l in _below_round_robin(plan) if re.search(r"(?<![A-Za-z])Filter\s", l)]
    assert not filters, filters


def test_global_shuffle_semantics_and_plan(spark):
    """Deterministic global training-order shuffle: the two-phase
    distributed rank (range buckets + collected offsets + partitioned
    window) must equal the serial md5-sort rank EXACTLY, be invariant to
    input partitioning, chop shards by exact position — and its plan must
    contain no SinglePartition window (a global ORDER BY row_number would
    serialize the corpus through one task at 100 TB)."""
    import hashlib

    from samu_ocr_extraction_poc_spark.operators.corpus import global_shuffle

    df = spark.range(1, 201).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, n_buckets=16, docs_per_shard=32)
    rows = {
        r["doc_id"]: (r["shuffle_pos"], r["shard"], r["pos_in_shard"])
        for r in out.collect()
    }
    order = sorted(
        range(1, 201),
        key=lambda i: (hashlib.md5(f"shuf:{i}".encode()).hexdigest(), i),
    )
    assert all(rows[doc][0] == pos + 1 for pos, doc in enumerate(order))
    assert sorted(v[0] for v in rows.values()) == list(range(1, 201))
    assert all(
        v[1] == (v[0] - 1) // 32 and v[2] == (v[0] - 1) % 32 + 1
        for v in rows.values()
    )
    # input partitioning must not change the order (the rank is a pure
    # function of doc_id, not of physical layout)
    again = {
        (r["doc_id"], r["shuffle_pos"])
        for r in global_shuffle(df.repartition(7), n_buckets=16).collect()
    }
    assert again == {(k, v[0]) for k, v in rows.items()}
    # the within-bucket window is partitioned; no global sort/window
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(bucket" in plan


def test_bm25_has_no_window_and_takes_ordered_topk(spark):
    """VERDICT r2 item 1: bm25 ranking must be distributed top-k, never a
    global no-partition window (round-2 moved every matching doc through a
    single partition). Pins both halves of the fix: the score->top-k plan
    compiles to TakeOrderedAndProject (per-partition top k + driver merge),
    and the final ranked plan contains no Window operator at all (rank is a
    broadcast self-join count over the k-row result)."""
    from samu_ocr_extraction_poc_spark.operators.search import bm25_scores, bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    topk_plan = _plan(
        bm25_scores(docs, ["customer", "merge", "slow"])
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
    )
    assert "TakeOrderedAndProject" in topk_plan
    assert "Window" not in topk_plan

    ranked = bm25_topk(docs, ["customer", "merge", "slow"])
    plan = _plan(ranked)
    assert "Window" not in plan
    # ranks are still the dense 1..k sequence with (score desc, doc_id) order
    rows = sorted(ranked.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))


def test_extraction_is_narrow_on_wide_input(spark, tmp_path):
    from samu_ocr_extraction_poc_spark.plans.pipeline import run_extraction

    docs = FX.canonical_corpus(spark).repartition(8)
    loc = str(tmp_path / "wide")
    docs.write.parquet(loc)
    wide = spark.read.parquet(loc)
    res = run_extraction(wide, n_parts=4, repartition=False)
    plan = _plan(res)
    # no shuffle between the scan and the Arrow stage
    assert "MapInArrow" in plan
    scan_to_udf = plan.split("MapInArrow")[-1]
    assert "Exchange" not in scan_to_udf


def test_extraction_shuffles_only_below_the_slots(spark, tmp_path):
    """Default run_extraction repartitions on part_id only when the scan has
    fewer splits than defaultParallelism, not fewer than n_parts."""
    from samu_ocr_extraction_poc_spark.plans.pipeline import run_extraction

    slots = spark.sparkContext.defaultParallelism
    docs = FX.canonical_corpus(spark)
    wide_loc, narrow_loc = str(tmp_path / "wide"), str(tmp_path / "narrow")
    docs.repartition(slots).write.parquet(wide_loc)
    docs.coalesce(1).write.parquet(narrow_loc)
    wide, narrow = spark.read.parquet(wide_loc), spark.read.parquet(narrow_loc)
    assert wide.rdd.getNumPartitions() >= slots
    assert narrow.rdd.getNumPartitions() == 1

    # n_parts defaults to the shuffle partitions; session.get_spark sets
    # them to 2x cores, so n_parts > slots as in a default session
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(2 * slots))
    try:
        wide_plan = _plan(run_extraction(wide))
        narrow_plan = _plan(run_extraction(narrow))
    finally:
        spark.conf.set(key, saved)
    assert "MapInArrow" in wide_plan
    assert "Exchange" not in wide_plan.split("MapInArrow")[-1]
    assert "Exchange hashpartitioning(part_id" in narrow_plan.split("MapInArrow")[-1]


def test_exclude_manifest_files(spark, tmp_path):
    from samu_ocr_extraction_poc_spark.sources.readers import exclude_manifest_files

    d = tmp_path / "pref"
    spark.range(5).coalesce(1).write.parquet(str(d / "part-Manifest"))
    spark.range(7).coalesce(1).write.parquet(str(d / "part-data"))
    df = spark.read.parquet(str(d / "part-Manifest"), str(d / "part-data"))
    assert exclude_manifest_files(df).count() == 7


def test_lineage_wall_time_spread(spark):
    """BASELINE.md skew row: per-partition wall-time spread is observable
    from the lineage/metrics rows."""
    from samu_ocr_extraction_poc_spark.plans.pipeline import (
        lineage_from_results,
        run_extraction,
    )

    docs = FX.canonical_corpus(spark, with_skew=True)
    res = run_extraction(docs, FX.OCR_LOOKUP, n_parts=8)
    lin = lineage_from_results(res, "spread").collect()
    assert all(r["wall_ms"] is not None for r in lin)
    assert sum(r["n_spans"] for r in lin) == docs.agg(F.sum(F.size("spans"))).collect()[0][0]


def test_read_text_corpus_formats(spark, tmp_path):
    from samu_ocr_extraction_poc_spark.sources.readers import read_text_corpus

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, txt string")
    for fmt, writer in [
        ("parquet", lambda p: df.write.parquet(p)),
        ("json", lambda p: df.write.json(p)),
        ("csv", lambda p: df.write.option("header", True).csv(p)),
    ]:
        p = str(tmp_path / fmt)
        writer(p)
        assert read_text_corpus(spark, p, fmt).count() == 2
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported"):
        read_text_corpus(spark, str(tmp_path), "avro")


def test_stream_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches AND
    across stream restarts (checkpointed)."""
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_user_totals

    events = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id")
    first, second = events.limit(400), events.subtract(events.limit(400))
    in_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "totals")

    def run_round():
        q = (
            stream_user_totals(spark, in_dir)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _e: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_round()
    second.coalesce(1).write.mode("append").parquet(in_dir)
    run_round()  # restarts from the checkpoint; state must carry over
    totals = spark.read.parquet(out_dir)
    got = {
        r["user_id"]: r["n_events"]
        for r in totals.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    }
    want = {r["user_id"]: r["n"] for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_hyperplane_lsh_recall_vs_brute(spark):
    """Label-free cosine LSH: injected true near-duplicates (cos ~0.99)
    must all be recovered; candidate generation is deterministic."""
    from samu_ocr_extraction_poc_spark.operators.similarity import hyperplane_lsh_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    # inject near-dups: vec_id+10000 = same vector with one component nudged
    dup = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 THEN float(x + 0.01) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(dup)
    pairs = hyperplane_lsh_pairs(corpus, dim=64)
    found = {(r["id_a"], r["id_b"]) for r in pairs.where("cos >= 0.99").collect()}
    want = {(r["vec_id"], r["vec_id"] + 10000) for r in emb.select("vec_id").collect()}
    missed = want - found
    assert not missed, f"missed {len(missed)} of {len(want)} injected near-dups"
    # determinism
    again = {(r["id_a"], r["id_b"]) for r in pairs.where("cos >= 0.99").collect()}
    assert found == again


def test_connected_components_known_graph(spark):
    """Known graph: two chains and an isolated pair; labels converge to
    each component's min id, caches are released (only the returned eager
    frame may remain)."""
    from samu_ocr_extraction_poc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), pair 10-11, chain 20-22-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 22), (21, 22)],
        "doc_a long, doc_b long",
    )
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    cc = connected_components(pairs)
    got = {r["doc_id"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    after = sc._jsc.getPersistentRDDs().size()
    assert after - before <= 1  # only the final labels frame may stay cached


def test_quantized_topk_tracks_exact_cosine(spark):
    """Int8 quantization must preserve neighborhood structure: the
    quantized top-1 neighbor matches the exact-cosine top-1 for (nearly)
    every query, and quantized scores sit within quantization error of the
    exact ones."""
    from samu_ocr_extraction_poc_spark.operators.similarity import brute_topk, quantized_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 20")
    corpus = emb.where("vec_id >= 20")
    exact = {(r["query_id"], r["rank"]): r for r in brute_topk(corpus, queries, k=1).collect()}
    quant = {(r["query_id"], r["rank"]): r for r in quantized_topk(corpus, queries, k=1).collect()}
    assert set(exact) == set(quant)
    agree = sum(
        1 for key in exact if exact[key]["neighbor_id"] == quant[key]["neighbor_id"]
    )
    assert agree >= 0.9 * len(exact), f"top-1 agreement {agree}/{len(exact)}"
    for key in exact:
        assert abs(exact[key]["cos"] - quant[key]["qcos"]) < 0.02


def test_kmeans_assign_converges_and_is_deterministic(spark):
    from samu_ocr_extraction_poc_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, k=5, iterations=2).collect()}
    b = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, k=5, iterations=2).collect()}
    assert a == b  # deterministic
    assert len(a) == emb.count()  # every vector assigned exactly once
    assert set(a.values()) <= set(range(5))
    # more iterations must not hurt: inertia (sum of squared distance to the
    # assigned centroid) is non-increasing for Lloyd's algorithm
    from pyspark.sql import functions as F

    def inertia(iters):
        assign = kmeans_assign(emb, k=5, iterations=iters)
        dims = emb.select("vec_id", F.posexplode("embedding").alias("dim", "v")).withColumn(
            "v", F.col("v").cast("double")
        )
        cent = (
            dims.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(F.avg("v").alias("cval"))
        )
        return (
            dims.join(assign, "vec_id")
            .join(cent, ["cluster", "dim"])
            .agg(F.sum((F.col("v") - F.col("cval")) ** 2))
            .collect()[0][0]
        )

    assert inertia(3) <= inertia(1) + 1e-6


def test_simhash_multiprobe_recall_and_blocking(spark):
    """16-bit multi-probe rotation blocking: a 1-bit flip kills at most 2 of
    the 4 overlapping windows (each bit is covered by exactly two of the
    stride-8 cyclic windows), so hamming-1 pairs are ALWAYS candidates;
    pairs beyond max_hamming never surface even when they share a bucket."""
    from samu_ocr_extraction_poc_spark.operators.dedup import simhash_multiprobe_pairs

    x = 0b1011_0110_1100_0011_1010_0101_0110_1001
    rows = [
        ("a", x),
        ("b", x ^ (1 << 5)),          # ham 1 -> must be found (guaranteed)
        ("c", x ^ (1 << 31)),         # ham 1 at the top bit -> must be found
        ("d", x ^ 0x1FFF),            # ham 13 > 12 -> must be filtered out
        ("e", 0x0),                   # far from everything
    ]
    sig = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_multiprobe_pairs(sig).collect()}
    assert got[("a", "b")] == 1
    assert got[("a", "c")] == 1
    assert ("a", "d") not in got  # hamming 13 exceeds the threshold
    assert ("b", "c")in got and got[("b", "c")] == 2


def test_simhash_multiprobe_candidate_bound_regime(spark):
    """VERDICT r2 item 8: on the sandbox corpus the ham<=12 threshold is
    output-bound (BENCH.md), so the blocking win is invisible there. On the
    non-clustered BACKGROUND of a web corpus — modeled as uniform 32-bit
    signatures, where at ham<=3 essentially every candidate is wasted work —
    per-bucket join work must drop ~64x moving from the round-1 8-bit
    prefix block (2^8 buckets) to 16-bit x 4-rotation multi-probe
    (4 x 2^16 buckets): sum over buckets of c*(c-1)/2 comparisons."""
    from pyspark.sql import functions as F

    n = 20_000
    sig = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("simhash"),
    )

    def bucket_work(keyed):
        return (
            keyed.groupBy("k")
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("w"))
            .collect()[0]["w"]
        )

    w8 = bucket_work(sig.select(F.shiftright("simhash", 24).alias("k")))
    probes = F.array(
        *[
            F.shiftright(
                F.shiftleft(F.col("simhash"), r)
                .bitwiseAND(F.lit((1 << 32) - 1))
                .bitwiseOR(F.shiftright(F.col("simhash"), 32 - r)),
                16,
            )
            for r in (0, 8, 16, 24)
        ]
    )
    w16 = bucket_work(
        sig.select(F.posexplode(probes).alias("probe", "bk")).select(
            F.concat_ws("_", "probe", "bk").alias("k")
        )
    )
    ratio = w8 / w16
    # theory: (n^2/2/2^8) / (4 * n^2/2/2^16) = 64; allow sampling noise
    assert ratio > 40, f"bucket-work reduction only {ratio:.1f}x (w8={w8}, w16={w16})"


def test_kmeans_releases_iteration_caches(spark):
    """Iterative-algorithm cache discipline (VERDICT.md round-1 item 9):
    each Lloyd iteration persists a centroid frame; all intermediates must
    be unpersisted by exit or a many-iteration run accretes O(iterations)
    cached frames on the executors. Only the returned assignment frame may
    remain cached."""
    from samu_ocr_extraction_poc_spark.operators.similarity import kmeans_assign

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    before = sc._jsc.getPersistentRDDs().size()
    assign = kmeans_assign(emb, k=5, iterations=10)
    assign.count()
    after = sc._jsc.getPersistentRDDs().size()
    assert after - before <= 1, (
        f"cached-frame leak: {after - before} new persistent RDDs after 10 iterations"
    )
    assign.unpersist()


def test_pair_operators_release_index_caches(spark):
    """Persist-discipline sweep (VERDICT r2 item 3 / ADVICE r2): every
    pair-generating operator persists its inverted index / probe frame
    internally, but must return an EAGER result and release those caches
    before returning — a bench loop re-invoking the contract entries must
    not accrete cached frames. Only the returned (localCheckpoint-ed)
    result frame may remain per call."""
    from samu_ocr_extraction_poc_spark.operators.corpus import remove_boilerplate
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        cross_corpus_contamination,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shared_window_pairs,
        simhash,
        simhash_multiprobe_pairs,
    )

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.where("doc_id % 2 = 0")
    test_docs = docs.where("doc_id % 2 = 1")
    calls = [
        lambda: lsh_candidate_pairs(minhash_signatures(docs), rows_per_band=2),
        lambda: simhash_multiprobe_pairs(simhash(docs)),
        lambda: ngram_jaccard_pairs(docs),
        lambda: shared_window_pairs(docs),
        lambda: cross_corpus_contamination(train, test_docs),
        lambda: remove_boilerplate(docs, seg_tokens=8),
    ]
    # ContextCleaner releases dereferenced checkpoint blocks asynchronously,
    # so count cumulatively: at most ONE live frame (the eager result) per
    # call may remain — round-2 leaked 2-3 index caches per operator.
    before = sc._jsc.getPersistentRDDs().size()
    for i, call in enumerate(calls, start=1):
        out = call()
        out.count()
        after = sc._jsc.getPersistentRDDs().size()
        assert after - before <= i, (
            f"cached-frame leak after {i} operators: {after - before} new persistent RDDs"
        )


def test_zero_vector_does_not_kill_similarity(spark):
    """ANSI poison-row guard: a zero-norm embedding yields cos=-1.0 (the
    DuckDB convention) instead of a DIVIDE_BY_ZERO job failure."""
    from samu_ocr_extraction_poc_spark.operators.similarity import brute_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], 0), (1, [0.0, 0.0], 0), (2, [2.0, 4.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out = brute_topk(emb.where("vec_id >= 1"), emb.where("vec_id = 0"), k=2).collect()
    by_n = {r["neighbor_id"]: r["cos"] for r in out}
    assert by_n[1] == -1.0  # zero vector
    assert abs(by_n[2] - 1.0) < 1e-6


def test_auxiliary_lookup_tables(spark):
    from samu_ocr_extraction_poc_spark.fixtures import ocr_lookup_table, ontology_dict_table

    ocr = ocr_lookup_table(spark)
    assert ocr.columns == ["media_ref", "text"] and ocr.count() == 3
    ont = ontology_dict_table(spark)
    assert ont.count() >= 10
    assert ont.where("system = 'ICD10' AND code = 'I10'").count() == 1


def test_chunk_documents_matches_python_reference(spark):
    """Randomized (seeded) equivalence: chunking in Spark equals a direct
    Python reference for docs of every length class around the chunk/stride
    boundaries (0, 1, overlap, chunk, chunk+1, multiples of stride, ...)."""
    import random

    from samu_ocr_extraction_poc_spark.operators.corpus import chunk_documents

    rng = random.Random(7)
    lengths = [0, 1, 15, 16, 47, 48, 49, 63, 64, 65, 96, 112, 113, 200] + [
        rng.randrange(0, 300) for _ in range(16)
    ]
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df).collect()
    }
    expected = {}
    for i, n in enumerate(lengths):
        words = [f"w{i}x{j}" for j in range(n)]
        if n == 0:
            expected[(i, 0)] = (0, "")
            continue
        n_chunks = 1 + -(-max(n - 64, 0) // 48)  # 1 + ceil/stride
        for c in range(n_chunks):
            w = words[c * 48 : c * 48 + 64]
            expected[(i, c)] = (len(w), " ".join(w))
    assert got == expected


def test_connected_components_matches_union_find(spark):
    """Randomized (seeded) equivalence vs a plain union-find reference on a
    200-edge graph with several components and long chains, and the
    large-star/small-star contraction needs far fewer rounds than the
    chain diameter (O(log n), not O(diameter))."""
    import random

    from samu_ocr_extraction_poc_spark.operators.dedup import connected_components

    rng = random.Random(13)
    edges = set()
    # long chain (diameter ~30), a clique, random noise edges
    for i in range(30):
        edges.add((1000 + i, 1000 + i + 1))
    for a in range(2000, 2008):
        for b in range(a + 1, 2008):
            edges.add((a, b))
    while len(edges) < 200:
        a, b = rng.randrange(0, 400), rng.randrange(0, 400)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected_groups: dict[int, set] = {}
    for v in parent:
        expected_groups.setdefault(find(v), set()).add(v)
    expected = {v: min(grp) for root, grp in expected_groups.items() for v in grp}
    for threshold, finish in FINISH_PATHS:
        stats: dict = {}
        with override_broadcast_threshold(spark, threshold):
            got = {
                r["doc_id"]: r["component"]
                for r in connected_components(pairs, stats=stats).collect()
            }
        assert got == expected
        assert stats["finish"] == finish
        if finish == "spark":
            # star contraction collapses the 30-edge chain in O(log n) rounds
            assert 1 <= stats["rounds"] <= 8, f"took {stats['rounds']} rounds"


def test_connected_components_forest_early_stop(spark):
    """r6 convergence detection: the round that PRODUCES the star forest is
    detected directly (no fingerprint-equality confirming round), and an
    input that already IS a star forest runs zero rounds — labels are
    unchanged in both cases. The driver finish runs no round at all."""
    from samu_ocr_extraction_poc_spark.operators.dedup import connected_components

    # isolated pairs + an existing star: already a forest -> 0 rounds
    forest = spark.createDataFrame(
        [(1, 2), (10, 11), (20, 21), (20, 22)], "doc_a long, doc_b long"
    )
    # depth-2 chain: NOT a forest (2 is src and dst); one large+small round
    # contracts it, and the forest test fires on that same round's output
    chain = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for threshold, finish in FINISH_PATHS:
        with override_broadcast_threshold(spark, threshold):
            stats = {}
            got = {
                r["doc_id"]: r["component"]
                for r in connected_components(forest, stats=stats).collect()
            }
            assert (stats["finish"], stats["rounds"]) == (finish, 0)
            assert got == {1: 1, 2: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

            stats = {}
            got = {
                r["doc_id"]: r["component"]
                for r in connected_components(chain, stats=stats).collect()
            }
            assert (stats["finish"], stats["rounds"]) == (finish, 1 if finish == "spark" else 0)
            assert got == {1: 1, 2: 1, 3: 1}

            # empty pair set: trivially converged, empty labels, no crash
            stats = {}
            assert connected_components(empty, stats=stats).count() == 0
            assert (stats["finish"], stats["rounds"]) == (finish, 0)


def test_keep_canonical_keeps_component_minima(spark):
    """keep_canonical drops every clustered non-minimum and keeps isolated
    docs untouched."""
    from samu_ocr_extraction_poc_spark.operators.dedup import keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 4, 10, 11, 20, 21, 22, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 22), (21, 22)],
        "doc_a long, doc_b long",
    )
    expect = {1, 10, 20, 99}  # component minima + the isolated doc 99
    for threshold, finish in FINISH_PATHS:
        with override_broadcast_threshold(spark, threshold):
            kept = keep_canonical(docs, pairs)
            # the driver finish's labels are an Arrow LocalRelation; the
            # loop's are a checkpointed RDD
            plan = kept._jdf.queryExecution().optimizedPlan().toString()
            assert ("LocalRelation" in plan) == (finish == "driver"), plan
            assert {r["doc_id"] for r in kept.collect()} == expect
            # all input columns survive
            assert kept.columns == ["doc_id", "text"]


def test_release_frame_swallows_only_py4j_errors():
    """release_frame's best-effort RDD release tolerates the JVM-side miss
    (a py4j error) and lets any other error through."""
    from py4j.protocol import Py4JError

    from samu_ocr_extraction_poc_spark.functions.frames import release_frame

    class Frame:
        def __init__(self, exc):
            self.exc, self.unpersisted = exc, False

        def unpersist(self):
            self.unpersisted = True

        @property
        def _jdf(self):
            raise self.exc

    gone = Frame(Py4JError("gone"))
    release_frame(gone)
    assert gone.unpersisted
    with pytest.raises(TypeError):
        release_frame(Frame(TypeError("bug")))


def test_connected_components_driver_finish_matches_loop(spark):
    """The driver finish drops edges exactly as the loop does (a pair with a
    null endpoint, self-loops, duplicate and reversed pairs) and returns the
    loop's labels and column types, also for an empty pair set and int ids;
    on a small graph it schedules at most 2 jobs (the loop: one per round
    plus the read-off)."""
    from samu_ocr_extraction_poc_spark.operators.dedup import connected_components

    messy = [
        (1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (None, 5), (5, None),
        (None, None), (7, 8), (8, 7), (9, 10), (11, 10), (12, 12),
    ]
    graphs = [
        spark.createDataFrame(messy, "doc_a long, doc_b long"),
        spark.createDataFrame([], "doc_a long, doc_b long"),
        spark.createDataFrame([(4, 2), (2, 6), (None, 1)], "doc_a int, doc_b int"),
    ]
    sc = spark.sparkContext
    for pairs in graphs:
        out = {}
        for threshold, finish in FINISH_PATHS:
            group = f"cc-finish-{finish}"
            stats = {}
            with override_broadcast_threshold(spark, threshold):
                sc.setJobGroup(group, group)
                try:
                    before = set(sc.statusTracker().getJobIdsForGroup(group))
                    cc = connected_components(pairs, stats=stats)
                    jobs = set(sc.statusTracker().getJobIdsForGroup(group)) - before
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setJobDescription(None)
            assert stats["finish"] == finish
            out[finish] = (sorted(cc.collect()), cc.schema, len(jobs))
        assert out["driver"][:2] == out["spark"][:2]
        assert out["driver"][2] <= 2, out
    labels = dict(sorted(connected_components(graphs[0]).collect()))
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9, 10: 9, 11: 9}


def test_remove_boilerplate_known_corpus(spark):
    """Shared segments are dropped everywhere, unique segments survive in
    order, and fully-stripped / empty documents keep their row with
    clean_text = ''."""
    from samu_ocr_extraction_poc_spark.operators.corpus import remove_boilerplate

    shared = "w1 w2 w3 w4"  # one full 4-token segment shared by docs 1+2
    docs = spark.createDataFrame(
        [
            (1, f"{shared} a b c d e f g h"),
            (2, f"{shared} p q r s"),
            (3, "x y z"),          # unique short doc: single partial segment
            (4, shared),           # nothing but the shared segment
            (5, ""),               # empty doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(docs, seg_tokens=4).collect()
    }
    assert len(out) == 5
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert (out[1]["n_segments"], out[1]["n_removed"]) == (3, 1)
    assert out[2]["clean_text"] == "p q r s"
    assert out[3]["clean_text"] == "x y z"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 1
    assert out[5]["clean_text"] == "" and out[5]["n_segments"] == 0


def test_kmv_estimate_tracks_exact_and_plan(spark):
    """KMV sketch: estimate within 25% of the exact distinct-bigram count
    on the synth corpus (k=64 engages the estimation branch), exact count
    returned verbatim when the group has fewer than k distinct units, and
    the hierarchical min-k never runs a no-partition window."""
    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.sketch import kmv_distinct_tokens

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    est = {r["lang"]: r for r in kmv_distinct_tokens(docs, k=64).collect()}
    exact = {
        r["lang"]: r["d"]
        for r in docs.select("lang", F.explode(_kgrams(F.col("text"), 2)).alias("g"))
        .groupBy("lang")
        .agg(F.countDistinct("g").alias("d"))
        .collect()
    }
    for lang, row in est.items():
        assert row["n_mins"] == 64
        rel = abs(row["distinct_est"] - exact[lang]) / exact[lang]
        assert rel < 0.25, f"{lang}: est {row['distinct_est']} vs {exact[lang]}"
    # k larger than the true distinct count -> exact path
    small = kmv_distinct_tokens(docs, k=10**6).collect()
    for r in small:
        assert r["distinct_est"] == float(exact[r["lang"]]) == float(r["n_mins"])
    # both windows are partitioned (grp,sub)/(grp) — never SinglePartition
    plan = kmv_distinct_tokens(docs, k=64)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_semantic_contamination_planted_leak(spark):
    """A test vector identical to a train vector must surface as
    contaminated with max_cos == 1.0 (hyperplane LSH always collides equal
    vectors — every sign bit matches); an orthogonal test vector must not
    appear. Probe join only: no test-test or train-train pairs."""
    from samu_ocr_extraction_poc_spark.operators.similarity import (
        semantic_contamination,
    )

    dim = 8
    leak = [1.0, 0.5, -0.25, 0.125, 1.0, -0.5, 0.25, -0.125]
    ortho = [0.0] * 7 + [1.0]
    train = spark.createDataFrame(
        [(0, leak), (2, [0.9, 0.4, -0.2, 0.1, 1.1, -0.6, 0.3, -0.1])],
        "vec_id long, embedding array<double>",
    )
    test = spark.createDataFrame(
        [(1, leak), (3, ortho)], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: r
        for r in semantic_contamination(
            train, test, dim=dim, threshold=0.95
        ).collect()
    }
    assert 1 in rows and rows[1]["max_cos"] == 1.0
    assert 3 not in rows


def test_pii_redaction_semantics(spark):
    """Redaction patterns: all occurrences scrubbed, SSN wins over phone on
    3-2-4 groups, phone only matches 3-3-4, counts follow the same ordered
    scrub, and PII-free text is untouched."""
    from samu_ocr_extraction_poc_spark.functions.textfns import (
        pii_match_count,
        redact_pii,
    )

    rows = [
        (1, "mail a.b+c@x-y.co and d@e.org now"),
        (2, "ssn 123-45-6789 phone 555-123-4567"),
        (3, "just 12-34-5678 and 1234-56-7890x"),  # 2nd embeds a valid 3-2-4
        (4, "no pii at all"),
        (5, "double 111-22-3333 111-22-3333"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {
        r["doc_id"]: (r["n"], r["c"])
        for r in df.select(
            "doc_id",
            pii_match_count(F.col("t")).alias("n"),
            redact_pii(F.col("t")).alias("c"),
        ).collect()
    }
    assert got[1] == (2, "mail <EMAIL> and <EMAIL> now")
    assert got[2] == (2, "ssn <SSN> phone <PHONE>")
    assert got[3] == (1, "just 12-34-5678 and 1<SSN>x")
    assert got[4] == (0, "no pii at all")
    assert got[5] == (2, "double <SSN> <SSN>")


def test_minhash_signature_binds_the_tokenizer_once(spark):
    """The row-local signature evaluates the shingle pipeline once per row:
    the optimized plans of minhash_signatures and of the select the
    streaming callers use hold the normalizer's regexp_replace exactly
    once (expanding the signature struct in the select that computes it
    would copy the tokenizer into every h_i), and the batch signature
    plans no shuffle and no aggregate."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        minhash_signatures,
        row_minhash,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = minhash_signatures(docs)
    streaming_form = docs.select(
        "*", row_minhash(F.col("text")).alias("mh")
    ).select(*docs.columns, "mh.*")
    for df in (batch, streaming_form):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("regexp_replace") == 1, optimized
    physical = _plan(batch)
    assert "Exchange" not in physical and "HashAggregate" not in physical
    assert batch.columns == ["doc_id"] + [f"h{i}" for i in range(8)]


def test_stream_near_dedup_watermarked(spark, tmp_path):
    """Streaming near-dup dedup: a doc differing by ONE appended word
    shares the full minhash signature with its original (verified against
    the batch op inside the test) and collapses to the first arrival;
    genuinely distinct docs all survive."""
    from samu_ocr_extraction_poc_spark.operators.dedup import minhash_signatures
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_near_dedup

    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup data group query row"
    )
    rows = [
        (1, base, "en", "s1", len(base), "2024-01-01 10:00:00"),
        (2, base + " alpha", "en", "s2", len(base) + 6, "2024-01-01 10:05:00"),
        (3, "completely different words entirely here", "en", "s3", 40, "2024-01-01 10:10:00"),
        (4, base + " bravo", "en", "s4", len(base) + 6, "2024-01-01 10:15:00"),
        (5, "another unrelated corpus line", "en", "s5", 29, "2024-01-01 10:20:00"),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long, ingest_ts string",
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    # premise check: 1, 2, 4 really do share the full batch signature
    sigs = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
        for r in minhash_signatures(docs).collect()
    }
    assert sigs[1] == sigs[2] == sigs[4]
    assert sigs[3] != sigs[1] and sigs[5] != sigs[1]

    d = str(tmp_path / "neardup_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    q = (
        stream_near_dedup(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM neardup_out").collect()}
    assert 3 in got and 5 in got
    assert len(got & {1, 2, 4}) == 1  # one survivor of the near-dup family
    assert len(got) == 3
    # signature columns are internal — they must not leak into the output
    assert "h0" not in spark.sql("SELECT * FROM neardup_out").columns


def test_training_shard_write_read_roundtrip(spark, tmp_path):
    """Sink: every document lands in exactly its assigned (shard, bin),
    rows inside a shard file are (bin, doc_id)-sorted, one file per shard,
    and reading one shard prunes the scan to that partition."""
    from samu_ocr_extraction_poc_spark.operators.corpus import pack_assignments
    from samu_ocr_extraction_poc_spark.sources.readers import (
        read_training_shard,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    loc = str(tmp_path / "shards")
    write_training_shards(docs, loc, n_shards=8)

    expect = {
        r["doc_id"]: (r["shard"], r["bin"])
        for r in pack_assignments(docs, n_shards=8).collect()
    }
    back = spark.read.parquet(loc)
    got = {r["doc_id"]: (r["shard"], r["bin"]) for r in back.collect()}
    assert got == expect

    one = read_training_shard(spark, loc, shard=3)
    rows = one.collect()
    assert rows and all(r["shard"] == 3 for r in rows)
    # partition pruning reaches the scan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan
    # one data file per shard directory; rows sorted by (bin, doc_id)
    import glob
    import os

    for d in glob.glob(os.path.join(loc, "shard=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    import pyarrow.parquet as pq

    f3 = glob.glob(os.path.join(loc, "shard=3", "*.parquet"))[0]
    t = pq.read_table(f3).to_pydict()
    order = list(zip(t["bin"], t["doc_id"]))
    assert order == sorted(order)


def test_budget_sample_zero_token_stratum(spark):
    """A stratum whose documents are all empty must simply keep nothing —
    not abort the job on an ANSI division by its zero token total."""
    from samu_ocr_extraction_poc_spark.operators.corpus import budget_sample

    docs = spark.createDataFrame(
        [(1, "some real text here", "en"), (2, "", "xx"), (3, "   ", "xx")],
        "doc_id long, text string, lang string",
    )
    rows = budget_sample(docs, budgets={"en": 100}, default_budget=100).collect()
    assert all(r["lang"] != "xx" for r in rows)
    assert any(r["lang"] == "en" for r in rows)


def test_kmv_overlap_tracks_exact_jaccard(spark):
    """Merged-sketch pairwise estimates track the exact bigram Jaccard and
    union sizes on the synth corpus (k=64 -> ~12% standard error; assert a
    generous 0.2 absolute / 25% relative band)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.sketch import kmv_group_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sets = {
        lang: set(rows)
        for lang, rows in (
            (r["lang"], r["gs"])
            for r in docs.select(
                "lang", F.explode(_kgrams(F.col("text"), 2)).alias("g")
            )
            .groupBy("lang")
            .agg(F.collect_set("g").alias("gs"))
            .collect()
        )
    }
    est = kmv_group_overlap(docs).collect()
    assert len(est) == len(sets) * (len(sets) - 1) // 2
    for r in est:
        a, b = sets[r["lang_a"]], sets[r["lang_b"]]
        exact_j = len(a & b) / len(a | b)
        exact_u = len(a | b)
        assert abs(r["jaccard_est"] - exact_j) < 0.2, (r, exact_j)
        assert abs(r["union_est"] - exact_u) / exact_u < 0.25, (r, exact_u)


def test_shingles_and_kgrams_match_python_reference(spark):
    """The let-bound shingle/k-gram rewrites must stay value-identical to
    the plain semantics on a diverse text battery (unicode, metachars,
    empties, repeats, double spaces) — guards future HOF refactors beyond
    what the fixed-corpus oracles sample."""
    import re as _re

    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.dedup import shingles

    texts = [
        "", " ", "one", "a  b", "a b c", "a b c d e",
        "the the the the", "café naïve 北京 résumé deux",
        "$1,234.50 (50%) [x] {y} a.b*c+d?", "tab\there and  doubles",
        "x " * 40, "repeat word repeat word repeat word",
        "0 1 2 3 4 5 6 7 8 9 10 11 12",
    ] + [f"w{i} w{(i*7)%5} w{(i*3)%4} common tail words" for i in range(20)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def norm_toks(s):
        return _re.sub(r"[^a-z0-9]+", " ", s.lower()).strip().split(" ")

    def ref_shingles(s, k=3):
        toks = norm_toks(s)
        n = len(toks)
        out = []
        for i in range(1, max(n - (k - 1), 1) + 1):
            parts = [toks[i + j - 1] for j in range(k) if i + j - 1 < n]
            out.append(" ".join(parts))
        seen = []
        for x in out:
            if x not in seen:
                seen.append(x)
        return seen

    def ref_kgrams(s, k):
        toks = norm_toks(s)
        n = len(toks)
        if n < k:
            return []
        return [" ".join(toks[i : i + k]) for i in range(n - k + 1)]

    got = {
        r["doc_id"]: (list(r["sh"]), list(r["g2"]), list(r["g3"]))
        for r in df.select(
            "doc_id",
            shingles(F.col("text")).alias("sh"),
            _kgrams(F.col("text"), 2).alias("g2"),
            _kgrams(F.col("text"), 3).alias("g3"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i][0] == ref_shingles(t), (i, t, got[i][0], ref_shingles(t))
        assert got[i][1] == ref_kgrams(t, 2), (i, t)
        assert got[i][2] == ref_kgrams(t, 3), (i, t)


def test_stream_curate_stateless_gate(spark, tmp_path):
    """Streaming curation: low-quality docs dropped, PII scrubbed in the
    surviving rows, results equal the batch quality_score/redact_pii on
    the same data (the stage is stateless, so stream == batch exactly)."""
    from samu_ocr_extraction_poc_spark.functions.textfns import (
        quality_score,
        redact_pii,
    )
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_curate

    rows = [
        (1, "the data and table is of a good long document with many distinct "
            "interesting words in it for the quality gate to like", "en", "s1",
         100, "2024-01-01 10:00:00"),
        (2, "spam spam spam spam spam spam", "en", "s2", 29, "2024-01-01 10:05:00"),
        (3, "contact me at leak@example.com for the data and a table of words "
            "in this good long document the quality gate should keep", "en",
         "s3", 110, "2024-01-01 10:10:00"),
        (4, "", "en", "s4", 0, "2024-01-01 10:15:00"),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long, ingest_ts string",
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    d = str(tmp_path / "curate_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    q = (
        stream_curate(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("curate_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r
        for r in spark.sql("SELECT * FROM curate_out").collect()
    }
    batch = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            quality_score(F.col("text")).alias("quality"),
            redact_pii(F.col("text")).alias("clean_text"),
        )
        .where(F.col("quality") >= 0.4)
        .collect()
    }
    assert set(got) == set(batch) and 1 in got and 3 in got
    assert 4 not in got  # empty doc scores 0.0
    for k in got:
        assert got[k]["quality"] == batch[k]["quality"]
        assert got[k]["clean_text"] == batch[k]["clean_text"]
    assert "<EMAIL>" in got[3]["clean_text"]


def test_ivf_index_build_query_roundtrip(spark, tmp_path):
    """Persisted IVF index: probing ALL clusters equals exact brute-force
    top-k bit-for-bit; a 1-probe query prunes the inverted-list scan to
    the probed clusters' directory partitions; results are deterministic
    across two query runs against the same index."""
    from samu_ocr_extraction_poc_spark.operators.similarity import (
        brute_topk,
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(4)
    loc = str(tmp_path / "ivf")
    build_ivf_index(emb, loc, k_clusters=4, iterations=2)

    exact = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
             for r in brute_topk(emb, queries, k=3).collect()}
    full = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
            for r in ivf_topk_indexed(spark, loc, queries, n_probe=4).collect()}
    assert full == exact

    one = ivf_topk_indexed(spark, loc, queries, n_probe=1)
    rows = one.collect()
    assert rows and ivf_topk_indexed(spark, loc, queries, n_probe=1).collect() == rows
    # every query still gets k results from its probed list
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert all(v == 3 for v in per_q.values())
    # the pruning predicate reaches the list scan as a partition filter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_exact_segment_dedup_keepfirst(spark):
    """Keep-first global segment dedup (RefinedWeb semantics): the
    corpus-wide FIRST (doc_id, pos) occurrence of a segment survives,
    later occurrences are stripped — unlike remove_boilerplate, which
    drops every occurrence of a frequent segment."""
    from samu_ocr_extraction_poc_spark.operators.corpus import exact_segment_dedup

    shared = "w1 w2 w3 w4"  # one full 4-token segment shared by docs 1, 2, 4
    docs = spark.createDataFrame(
        [
            (1, f"{shared} a b c d e f g h"),
            (2, f"{shared} p q r s"),
            (3, "x y z"),          # unique short doc: single partial segment
            (4, shared),           # nothing but the shared segment
            (5, ""),               # empty doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in exact_segment_dedup(docs, seg_tokens=4).collect()
    }
    assert len(out) == 5
    # doc 1 holds the FIRST occurrence -> keeps everything
    assert out[1]["clean_text"] == f"{shared} a b c d e f g h"
    assert (out[1]["n_segments"], out[1]["n_removed"]) == (3, 0)
    # later occurrences stripped
    assert out[2]["clean_text"] == "p q r s" and out[2]["n_removed"] == 1
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 1
    # unique + empty untouched
    assert out[3]["clean_text"] == "x y z" and out[3]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_segments"] == 0


def test_remove_shared_windows_semantics(spark):
    """Exact-substring dedup APPLY (Lee et al. removal at window
    granularity): a token is stripped iff covered by a k-window whose
    content occurred earlier ((doc_id, start) keep-first) — including
    WITHIN-document repeats; docs shorter than k and empty docs pass
    through untouched."""
    from samu_ocr_extraction_poc_spark.operators.dedup import remove_shared_windows

    run = "s1 s2 s3 s4 s5"  # 5-token run -> two k=4 windows
    docs = spark.createDataFrame(
        [
            (1, f"{run} a b c"),      # first occurrence: keeps everything
            (2, f"x y {run} z"),      # later occurrence: run stripped
            (3, "p q r"),             # shorter than k: no windows, untouched
            (4, ""),                  # empty
            (5, "m m m m m m"),       # within-doc repeat: windows 2,3 are dups
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_shared_windows(docs, k=4).collect()}
    assert len(out) == 5
    assert out[1]["clean_text"] == f"{run} a b c" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "x y z"
    assert (out[2]["n_tokens"], out[2]["n_removed"]) == (8, 5)
    assert out[3]["clean_text"] == "p q r" and out[3]["n_removed"] == 0
    assert (out[4]["n_tokens"], out[4]["n_removed"], out[4]["clean_text"]) == (0, 0, "")
    # dup windows start at 2 and 3, covering positions 2..6: only the
    # first token survives even though window 1 itself is the original
    assert out[5]["clean_text"] == "m" and out[5]["n_removed"] == 5


def test_gopher_rules_semantics(spark):
    """Gopher rules on crafted documents: each rule must fire on the text
    shape it targets — including the newline-based bullet/ellipsis rules
    the single-line driver corpus cannot exercise."""
    from samu_ocr_extraction_poc_spark.operators.corpus import gopher_rules

    good = "the data goes to none of and that have with " + " ".join(
        f"plain{i} words here" for i in range(20)
    )
    bullets = "\n".join(["- item one"] * 9 + ["a normal line"])  # 9/10 bullets
    ellipses = "\n".join(["trailing off..."] * 4 + ["solid line"] * 6)  # 4/10
    symbols = "the be " + "# " * 20 + "w " * 40
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, bullets),
            (3, ellipses),
            (4, symbols),
            (5, ""),
            (6, "the of " + "a " * 60),  # 1-char words: mean length < 3
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs, min_words=10).collect()}
    assert out[1]["keep"] == 1  # sanity: a clean doc passes everything
    assert out[2]["is_bullet_ok"] == 0 and out[2]["is_ellipsis_ok"] == 1
    assert out[3]["is_ellipsis_ok"] == 0 and out[3]["is_bullet_ok"] == 1
    assert out[4]["is_symbol_ok"] == 0 and out[4]["is_stop_ok"] == 1
    assert out[5]["n_words"] == 0 and out[5]["keep"] == 0
    assert out[6]["is_mean_len_ok"] == 0
    for d in (2, 3, 4, 6):
        assert out[d]["keep"] == 0


def test_gopher_repetition_semantics(spark):
    """Gopher repetition rules on crafted documents, pinning the behaviors
    the oracle hash alone can't localize: identical-string dup reduction
    (total-minus-distinct), the lexicographic top-gram tie-break, the
    coverage-counted-ONCE discipline for overlapping duplicate n-grams,
    and the short/empty-doc descending-sequence guards."""
    from samu_ocr_extraction_poc_spark.operators.corpus import gopher_repetition

    clean = " ".join(f"word{i:02d}" for i in range(30))
    dup_lines = "\n".join(["alpha beta"] * 5 + [f"solo line{i}" for i in range(5)])
    dup_paras = "\n\n".join(["para one\nline two"] * 2 + ["unique\nclosing"])
    top_bigram = " ".join(["xy"] * 8)
    overlap = " ".join(["a"] * 6)  # 5-gram "a a a a a" at pos 1 and 2
    tie = "bb bb a a"  # all bigrams cnt=1; lexicographic min is "a a"
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, dup_lines),
            (3, dup_paras),
            (4, top_bigram),
            (5, overlap),
            (6, tie),
            (7, ""),
            (8, "p q r"),  # shorter than every dup-gram k: guard, not crash
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    assert out[1]["keep"] == 1  # sanity: a clean doc passes everything

    # 4 beyond-first copies of a 10-char line -> 4/10 > 0.3, 40 chars dup
    assert out[2]["n_lines"] == 10 and out[2]["dup_lines"] == 4
    assert out[2]["dup_line_chars"] == 40
    assert out[2]["is_dup_line_ok"] == 0 and out[2]["is_dup_line_char_ok"] == 0

    # 1 beyond-first copy of 3 paragraphs -> 1/3 > 0.3
    assert out[3]["n_paras"] == 3 and out[3]["dup_paras"] == 1
    assert out[3]["is_dup_para_ok"] == 0

    # top bigram "xy xy" x7, chars = 7 * 4 token chars vs 16 total
    assert out[4]["top2_chars"] == 28 and out[4]["total_chars"] == 16
    assert out[4]["is_top2_ok"] == 0

    # overlapping occurrences cover tokens ONCE: 6 chars, not 10
    assert out[5]["dup5_chars"] == 6 and out[5]["is_dup5_ok"] == 0
    # the 6-gram occurs only once -> not a duplicate
    assert out[5]["dup6_chars"] == 0 and out[5]["is_dup6_ok"] == 1

    # cnt-tie among bigrams -> lexicographically smallest gram "a a" wins
    assert out[6]["top2_chars"] == 2

    # empty doc: all-zero stats, every <= comparison holds at 0 <= 0
    assert out[7]["total_chars"] == 0 and out[7]["keep"] == 1
    # 3 tokens: every k>=5 gram array is guarded empty (sequence descends)
    assert out[8]["dup5_chars"] == 0 and out[8]["dup10_chars"] == 0
    assert all(out[8][f"is_dup{k}_ok"] == 1 for k in range(5, 11))


def test_bloom_membership_semantics(spark):
    """Bloom build/probe: every built key is a member (no false
    negatives, the structural guarantee); unseen keys are non-members at
    this m/k/n (deterministic md5 positions, so this is stable, not
    probabilistic flake); the filter is mergeable via bit_or."""
    from samu_ocr_extraction_poc_spark.operators.sketch import bloom_build, bloom_probe

    built = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "key string")
    probe = spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k3"), (4, "unseen-a"), (5, "unseen-b")],
        "doc_id long, key string",
    )
    bloom = bloom_build(built, "key")
    out = {r["doc_id"]: r["is_member"] for r in bloom_probe(bloom, probe, "key").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 0, 5: 0}

    # a doc_id duplicated in the batch must still read as a member (a
    # count-the-hits==k test would see 2k hits and emit the false
    # negative the structure forbids — r4 advice item)
    dup = spark.createDataFrame(
        [(1, "k1"), (1, "k1"), (2, "k2"), (2, "unseen-a")],
        "doc_id long, key string",
    )
    dout = {r["doc_id"]: r["is_member"] for r in bloom_probe(bloom, dup, "key").collect()}
    assert dout == {1: 1, 2: 0}  # 2 probed with a non-member key -> not all-member

    # mergeability: union of two half-filters == filter of the union
    h1 = bloom_build(spark.createDataFrame([("k1",), ("k2",)], "key string"), "key")
    h2 = bloom_build(spark.createDataFrame([("k3",)], "key string"), "key")
    merged = (
        h1.unionByName(h2)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").cast("bigint").alias("bits"))
    )
    direct = {(r["word_idx"], r["bits"]) for r in bloom.collect()}
    assert {(r["word_idx"], r["bits"]) for r in merged.collect()} == direct


def test_cms_semantics(spark):
    """Count-min sketch: estimates never undercount (the structural
    guarantee); at a wide sketch over a tiny key set there are no
    collisions, so estimates are exact; merged sketches equal the sketch
    of the concatenated input (CMS linearity); a width/depth-mismatched
    merge refuses."""
    import pytest as _pt

    from samu_ocr_extraction_poc_spark.operators.sketch import (
        cms_build,
        cms_merge,
        cms_query,
    )

    xs = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("c",), ("c",)], "key string"
    )
    ys = spark.createDataFrame([("a",), ("d",)], "key string")
    probe = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("unseen",)], "key string"
    )
    sk = cms_build(xs, "key")
    est = {r["key"]: r["est"] for r in cms_query(sk, probe, "key").collect()}
    # wide sketch, 3 keys: collision-free -> exact; unseen key -> 0
    assert est == {"a": 3, "b": 1, "c": 2, "d": 0, "unseen": 0}

    merged = cms_merge(cms_build(xs, "key"), cms_build(ys, "key"))
    both = cms_build(xs.unionByName(ys), "key")
    em = sorted(map(tuple, cms_query(merged, probe, "key").collect()))
    eb = sorted(map(tuple, cms_query(both, probe, "key").collect()))
    assert em == eb
    assert dict(em)["a"] == 4 and dict(em)["d"] == 1

    with _pt.raises(ValueError, match="cms meta mismatch on right merge input"):
        cms_merge(sk, cms_build(ys, "key", depth=2))

    # narrow sketch over a larger weighted stream: collisions now real;
    # the no-undercount guarantee must hold for every key
    big = spark.createDataFrame(
        [(f"k{i % 37}",) for i in range(500)], "key string"
    )
    nsk = cms_build(big, "key", width=16, depth=2)
    exact = {r["key"]: r["cnt"] for r in big.groupBy("key").count().withColumnRenamed("count", "cnt").collect()}
    nest = {
        r["key"]: r["est"]
        for r in cms_query(nsk, big.distinct(), "key").collect()
    }
    assert set(nest) == set(exact)
    assert all(nest[k] >= exact[k] for k in exact)
    assert any(nest[k] > exact[k] for k in exact)  # collisions really fire


def test_cms_heavy_hitters_exact_and_plan(spark):
    """CMS screen + verify-on-candidates heavy hitters: the result must
    equal the naive exact groupBy-then-filter at EVERY sketch width (the
    screen is lossless — CMS never undercounts, so true heavy hitters
    always survive it), collision-induced false candidates must really
    occur at narrow widths AND be killed by the exact verify, and the
    plan must show the screen filter BELOW the exchange (the whole point:
    the vocabulary tail dies before it shuffles) with no join, no
    SinglePartition."""
    import hashlib

    from samu_ocr_extraction_poc_spark.operators.sketch import cms_heavy_hitters

    rows = (
        [("hot",)] * 60
        + [("warm",)] * 25
        + [("cool",)] * 3
        + [(f"t{i}",) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(7)
    # total = 188; freq >= 1/10 -> cnt*10 >= 188 -> cnt >= 19: hot, warm
    expected = {"hot": 60, "warm": 25}
    for width in (4, 16, 256):
        got = {
            r["key"]: r["cnt"]
            for r in cms_heavy_hitters(
                df, "key", den=10, width=width, depth=2
            ).collect()
        }
        assert got == expected, width
    # at width 4 / depth 1 the 103 keys share 4 cells: some non-heavy key's
    # estimate is dragged over the bar by a heavy cellmate (deterministic
    # md5 arithmetic, replayed here), so the exact verify genuinely kills
    # screen survivors rather than rubber-stamping them
    exact = {}
    for (k,) in rows:
        exact[k] = exact.get(k, 0) + 1
    cells = [0, 0, 0, 0]
    for k, c in exact.items():
        cells[int(hashlib.md5(f"cms0:{k}".encode()).hexdigest()[:15], 16) % 4] += c
    false_candidates = [
        k
        for k, c in exact.items()
        if c * 10 < 188
        and cells[int(hashlib.md5(f"cms0:{k}".encode()).hexdigest()[:15], 16) % 4]
        * 10
        >= 188
    ]
    assert false_candidates  # the screen really over-admits at width 4...
    got4 = {
        r["key"]: r["cnt"]
        for r in cms_heavy_hitters(df, "key", den=10, width=4, depth=1).collect()
    }
    assert got4 == expected  # ...and the exact verify kills every one
    plan = _plan(cms_heavy_hitters(df, "key", den=10, width=16, depth=2))
    assert "SinglePartition" not in plan
    assert "Join" not in plan  # literal probe, not a cell-table join
    ex = plan.index("Exchange hashpartitioning(k__")
    assert "least(" in plan[ex:]  # the screen filter sits below the exchange


def test_vocab_coverage_semantics_and_plan(spark):
    """Top-V vocabulary coverage from the bounded count-of-counts level
    table: hand-computed values (including a tie straddling the V
    boundary — coverage is tie-independent, the property the level
    arithmetic rests on — and the oversized-V clamp), empty-stream
    behavior, and a plan with no window/rank anywhere (the naive form is
    a global row_number over the vocabulary; the oracle computes that
    serial form, this plan must not)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import vocab_coverage

    rows = (
        [("a",)] * 10 + [("b",)] * 5 + [("c",)] * 5 + [("d",)] * 5 + [("e",)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(5)
    out = {
        r["v"]: (r["covered"], r["total"], r["total_types"], r["cover_permille"])
        for r in vocab_coverage(df, sizes=(1, 2, 3, 4, 5, 100)).collect()
    }
    # total 26 occurrences, 5 types, levels {10:1, 5:3, 1:1}; V=2 and V=3
    # land inside the three-way tie at count 5
    assert out == {
        1: (10, 26, 5, 384),
        2: (15, 26, 5, 576),
        3: (20, 26, 5, 769),
        4: (25, 26, 5, 961),
        5: (26, 26, 5, 1000),
        100: (26, 26, 5, 1000),  # V > total_types clamps to full coverage
    }
    empty = spark.createDataFrame([], "key string")
    assert vocab_coverage(empty, sizes=(1, 10)).count() == 0
    plan = _plan(vocab_coverage(df, sizes=(1, 2)))
    assert "Window" not in plan and "row_number" not in plan
    # the only SinglePartition is the scalar totals over the bounded level
    # table (the length_quantiles documented class) — never the vocabulary
    assert plan.count("SinglePartition") <= 1


def test_hashed_classify_semantics_and_plan(spark):
    """fastText-style hashed linear classifier: score equals the
    hand-replayed md5 bucket-weight sum over unigrams + bigrams (with
    multiplicity), empty/single-token docs degrade cleanly, and the plan
    is completely NARROW — classifier inference must never shuffle (the
    explode+join formulation of the same op shuffles the whole feature
    stream)."""
    import hashlib

    from samu_ocr_extraction_poc_spark.operators.corpus import hashed_classify

    def w_of(feat: str) -> int:
        b = int(hashlib.md5(f"hc:{feat}".encode()).hexdigest()[:8], 16) % 4096
        return int(hashlib.md5(f"hcw:{b}".encode()).hexdigest()[:8], 16) % 256 - 128

    def expect(text: str) -> tuple[int, int, int]:
        toks = [t for t in __import__("re").sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if t]
        feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        score = sum(w_of(f) for f in feats)
        return len(feats), score, 1 if score > 0 else 0

    docs = [
        (1, "Hello, World: hello"),  # repeated unigram -> multiplicity counts
        (2, ""),  # empty -> 0 feats, score 0, label 0
        (3, "x"),  # single token -> no bigram
        (4, "a  b"),  # double space collapsed by normalization
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["score"], r["label"])
        for r in hashed_classify(df).collect()
    }
    assert got == {i: expect(t) for i, t in docs}
    assert got[2] == (0, 0, 0)
    assert got[3][0] == 1  # one unigram, zero bigrams
    plan = _plan(hashed_classify(df))
    assert "Exchange" not in plan  # narrow end to end
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_alpha_mix_semantics_and_plan(spark):
    """size^alpha mixture audit: exact-integer weights (isqrt incl. a
    non-perfect-square), the rate formula with the clamp and the
    zero-token source, kept counts equal the hand-replayed md5 gate, and
    a plan with no join/window (rates are collected-literal CASEs; the
    only exchange is the bounded per-source aggregation)."""
    import hashlib

    from samu_ocr_extraction_poc_spark.operators.corpus import alpha_mix

    # src a: 16 tokens (w=4), src b: 100 (w=10), src c: 2 (w=1 — isqrt of
    # a non-square), src d: one empty doc (0 tokens -> w=0, rate=0)
    docs = []
    did = 0
    for src, sizes in [
        ("a", [10, 6]),
        ("b", [50, 50]),
        ("c", [2]),
        ("d", [0]),
    ]:
        for n in sizes:
            docs.append((did, " ".join(f"t{i}" for i in range(n)), src))
            did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = {
        r["source"]: (
            r["n_docs"], r["n_tokens"], r["weight"], r["rate"],
            r["n_kept"], r["kept_tokens"],
        )
        for r in alpha_mix(df).collect()
    }
    # ttot=118, budget=47, wsum=15
    exp_rate = {
        "a": (47 * 4 * 1_000_000) // (15 * 16),
        "b": (47 * 10 * 1_000_000) // (15 * 100),
        "c": 1_000_000,  # 47*1e6/30 > 1e6 -> clamps: small source fully kept
        "d": 0,
    }
    assert exp_rate["c"] == min(1_000_000, (47 * 1 * 1_000_000) // (15 * 2))
    toks_of = {i: (len(t.split(" ")) if t else 0) for i, t, _ in docs}
    kept = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1_000_000
        < exp_rate[s]
        for i, _, s in docs
    }
    for src, sizes in [("a", [10, 6]), ("b", [50, 50]), ("c", [2]), ("d", [0])]:
        ids = [i for i, _, s in docs if s == src]
        assert out[src] == (
            len(sizes),
            sum(sizes),
            {"a": 4, "b": 10, "c": 1, "d": 0}[src],
            exp_rate[src],
            sum(1 for i in ids if kept[i]),
            sum(toks_of[i] for i in ids if kept[i]),
        ), src
    plan = _plan(alpha_mix(df))
    assert "Join" not in plan and "Window" not in plan
    assert "SinglePartition" not in plan


def test_hist_quantile_semantics(spark):
    """Histogram sketch: bin edges and interpolated estimates match the
    hand-computed integer arithmetic (incl. top-bin clamping of
    out-of-range values); merged histograms equal the histogram of the
    concatenated input; a parameter-mismatched merge refuses."""
    import pytest as _pt

    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hist_build,
        hist_merge,
        hist_quantiles,
    )

    vals = spark.createDataFrame([(5,), (10,), (15,), (20,), (100,)], "v bigint")
    h = hist_build(vals, "v", hi=100, n_bins=10)
    out = {
        r["p"]: (r["rnk"], r["est"], r["bin_lo"], r["bin_hi"])
        for r in hist_quantiles(h, [20, 50, 80, 100]).collect()
    }
    # bins: 5->b0, 10,15->b1, 20->b2, 100 clamps into b9; N=5
    assert out[20] == (1, 0, 0, 10)  # 1st order stat, bin 0 first member
    assert out[50] == (3, 15, 10, 20)  # 2nd of 2 in bin [10,20): 10+10//2
    assert out[80] == (4, 20, 20, 30)
    assert out[100] == (5, 90, 90, 100)  # clamped 100 reported in top bin

    # linearity: merge of two halves == histogram of the whole
    h1 = hist_build(vals.where(F.col("v") <= 10), "v", hi=100, n_bins=10)
    h2 = hist_build(vals.where(F.col("v") > 10), "v", hi=100, n_bins=10)
    merged = hist_merge(h1, h2)
    em = sorted(map(tuple, hist_quantiles(merged, [50, 100]).collect()))
    eb = sorted(map(tuple, hist_quantiles(h, [50, 100]).collect()))
    assert em == eb

    with _pt.raises(ValueError, match="hist meta mismatch"):
        hist_merge(h, hist_build(vals, "v", hi=200, n_bins=10))

    # empty input: the bin-less sketch reads off as zero quantile rows
    empty = hist_build(vals.where(F.col("v") < 0), "v", hi=100, n_bins=10)
    assert hist_quantiles(empty, [50]).count() == 0

    # overflow guard: an extreme outlier (>= 2^63 / n_bins — the
    # corrupt-input class) must clamp into the TOP bin, not wrap the
    # (v - lo) * n_bins product negative and land silently in bin 0
    huge = spark.createDataFrame([(2**62,), (-(2**62),), (50,)], "v bigint")
    hh = hist_build(huge, "v", hi=100, n_bins=10)
    bins = {r["b"]: r["cnt"] for r in hh.collect()}
    assert bins == {9: 1, 0: 1, 5: 1}


def test_grouped_quantiles_semantics(spark):
    """Per-group histogram quantiles: hand-computed edges/estimates per
    group, NULL-only groups absent, and the plan promise — no Window
    operator (a per-group ORDER BY would make stratum-sized window
    partitions at scale)."""
    from samu_ocr_extraction_poc_spark.operators.sketch import grouped_quantiles

    rows = (
        [("a", v) for v in (5, 10, 15, 20, 100)]
        + [("b", v) for v in (50, 50, 50)]
        + [("c", None)]
    )
    df = spark.createDataFrame(rows, "g string, v bigint")
    out = {
        (r["g"], r["p"]): (r["rnk"], r["est"], r["bin_lo"], r["bin_hi"])
        for r in grouped_quantiles(df, "g", "v", [50, 100], hi=100, n_bins=10).collect()
    }
    # group a matches the ungrouped hist_quantiles hand computation
    assert out[("a", 50)] == (3, 15, 10, 20)
    assert out[("a", 100)] == (5, 90, 90, 100)
    # group b: all three values in bin 5; rnk 2 -> 50 + (2-0-1)*10 DIV 3
    assert out[("b", 50)] == (2, 53, 50, 60)
    assert out[("b", 100)] == (3, 56, 50, 60)
    # NULL-only group produces no rows
    assert not any(g == "c" for (g, _p) in out)

    plan = grouped_quantiles(
        df, "g", "v", [50], hi=100, n_bins=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_ccnet_bucket_semantics(spark):
    """CCNet per-language perplexity buckets: labels are a pure
    threshold rule on the integer surprisal proxy, so within each
    language every head doc scores <= every middle doc <= every tail
    doc; a language with spread fills all three buckets; too-short docs
    produce no row (the unigram_surprise contract)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import ccnet_bucket

    # en: common words (low surprisal) through rare words (high);
    # fr: a second language with its own spread; one empty doc
    rows = [
        (1, "the the the the the the", "en"),
        (2, "the the the and and and", "en"),
        (3, "the and is of in to a", "en"),
        (4, "quixotic zephyr brouhaha", "en"),
        (5, "perambulate sesquipedalian", "en"),
        (6, "obfuscation recalcitrant", "en"),
        (7, "le le le le", "fr"),
        (8, "le la et un", "fr"),
        (9, "anticonstitutionnellement", "fr"),
        (10, "", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet_bucket(df).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []).append(r["su_i"])
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, buckets in by_lang.items():
        seq = sorted(buckets.items(), key=lambda kv: order[kv[0]])
        for (b1, v1), (b2, v2) in zip(seq, seq[1:]):
            assert max(v1) <= min(v2), (lang, b1, b2)
    assert set(by_lang["en"].keys()) == {"head", "middle", "tail"}
    # the empty doc: DuckDB's split('') == [''] quirk gives it one ''
    # pseudo-token (the pinned page round-trip semantics), so it IS
    # scored — total rows = all 10 docs
    assert len(out) == 10


def test_normalize_url_semantics(spark):
    """URL canonicalization edge shapes: fragment drop, tracking-param
    strip (order of survivors preserved), www collapse, trailing-slash
    trim, and no false positives on www-like hosts or 'ref'-prefixed
    VALUES."""
    from samu_ocr_extraction_poc_spark.functions.textfns import normalize_url

    cases = [
        ("https://www.site.com/a/b/?utm_source=x&id=3#frag", "https://site.com/a/b?id=3"),
        ("http://site.com/", "http://site.com"),
        ("https://site.com/p?ref=rss&fbclid=abc", "https://site.com/p"),
        ("https://site.com/p?b=2&a=1", "https://site.com/p?b=2&a=1"),  # order kept
        ("https://wwwx.com/x", "https://wwwx.com/x"),  # not a www. prefix
        # 'referrer=keep' starts with 'ref' but NOT 'ref=' — must be kept
        ("https://site.com/p?referrer=keep", "https://site.com/p?referrer=keep"),
        # a second '?' inside a param value stays in the query (the
        # substr-after-first-'?' semantics both engines share)
        ("https://site.com/p?a=1?b=2", "https://site.com/p?a=1?b=2"),
        # www strip is anchored to the scheme: an archive/proxy URL with
        # '://www.' embedded in its PATH must NOT be rewritten
        (
            "https://a.example/mirror/https://www.b.com/x",
            "https://a.example/mirror/https://www.b.com/x",
        ),
    ]
    df = spark.createDataFrame([(u, want) for u, want in cases], "url string, want string")
    out = df.select("url", "want", normalize_url(F.col("url")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"], f"{r['url']}: {r['got']} != {r['want']}"


def test_c4_rules_semantics(spark):
    """C4 heuristics on crafted pages: line filter (terminal punctuation
    AND >=5 words), the 3-sentence page gate, lorem-ipsum and brace page
    drops, and the '\"'-terminated-line acceptance."""
    from samu_ocr_extraction_poc_spark.operators.corpus import c4_rules

    good = "\n".join(
        [
            "this is a fine sentence one.",
            "and here is sentence number two!",
            'he said this line ends with a quote"',
            "a third proper sentence closes the page?",
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short.\nalso tiny!\nthree words only."),  # lines < 5 words
            (3, "five words but no terminal punctuation at all\nanother line without ending"),
            (4, good + "\nsome Lorem Ipsum filler appears here."),
            (5, good + "\nif (x) { return; }"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_rules(docs).collect()}
    assert out[1]["keep"] == 1 and out[1]["n_kept_lines"] == 4
    assert out[1]["clean_text"] == good  # the quote line survives
    assert out[1]["n_sentences"] == 3  # . ! ? (the quote adds none)
    assert out[2]["keep"] == 0 and out[2]["n_kept_lines"] == 0
    assert out[3]["keep"] == 0 and out[3]["n_kept_lines"] == 0
    assert out[4]["keep"] == 0 and out[4]["has_lorem"] == 1
    assert out[4]["clean_text"] == ""  # dropped pages return no text
    assert out[5]["keep"] == 0 and out[5]["has_brace"] == 1
    assert (out[6]["n_lines"], out[6]["keep"]) == (1, 0)  # ''.split -> ['']


def test_dsir_ranks_target_language_highest(spark):
    """DSIR end-to-end sanity: with the English slice as the target, the
    mean importance weight of English documents must exceed every other
    language's mean (the method's whole point — hashed-bigram LLR pulls
    the corpus toward the target distribution)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import dsir_importance

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    scores = dsir_importance(docs)
    by_lang = {
        r["lang"]: r["m"]
        for r in scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("dsir_logratio").alias("m"))
        .collect()
    }
    assert len(by_lang) == 5
    others = {k: v for k, v in by_lang.items() if k != "en"}
    assert all(by_lang["en"] > v for v in others.values()), by_lang


def test_semantic_dedup_drops_exact_duplicates(spark):
    """SemDeDup: injected exact duplicates land in the SAME learned
    cluster (identical distances, same tie-break) and the higher-id copy
    is dropped; every natural vector (max pairwise cos 0.479 in this
    fixture) survives a 0.999 threshold."""
    from samu_ocr_extraction_poc_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    injected = emb.select("vec_id", "embedding", "label").unionByName(dup)
    out = {r["vec_id"]: r for r in semantic_dedup(injected, threshold=0.999).collect()}
    n_inj = dup.count()
    assert len(out) == 500 + n_inj
    dropped = {vid for vid, r in out.items() if r["is_kept"] == 0}
    assert dropped == {vid for vid in out if vid >= 10000}
    # each copy shares its original's cluster
    for vid in dropped:
        assert out[vid]["cluster"] == out[vid - 10000]["cluster"]


def test_bpe_train_matches_classic_reference(spark):
    """Distributed BPE must reproduce the classic single-process Sennrich
    algorithm byte-for-byte: same merges, same order, same counts —
    including the greedy-leftmost merge inside words (the '(sym)(sym)'
    replace representation) and the lexicographic tie-break."""
    import collections
    import re

    from samu_ocr_extraction_poc_spark.operators.bpe import bpe_encode, bpe_train

    texts = [
        "low low low low low lower lower newest newest newest newest newest newest widest widest widest",
        "the cat sat on the mat the cat",
        "aaaa aaaa aa baaab",  # runs: greedy-left overlap handling
    ]
    docs = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def ref_bpe(texts, n):
        wf = collections.Counter()
        for t in texts:
            for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split():
                if w:
                    wf[w] += 1
        vocab = {tuple(w): f for w, f in wf.items()}
        merges = []
        for idx in range(1, n + 1):
            pc = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            mx = max(pc.values())
            p = sorted(pr for pr, c in pc.items() if c == mx)[0]
            merges.append((idx, p[0], p[1], p[0] + p[1], mx))
            newv = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == p[0] and syms[i + 1] == p[1]:
                        out.append(p[0] + p[1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                newv[tuple(out)] = newv.get(tuple(out), 0) + f
            vocab = newv
        return merges, vocab

    want, final_vocab = ref_bpe(texts, 10)
    for threshold, finish in FINISH_PATHS:
        stats: dict = {}
        with override_broadcast_threshold(spark, threshold):
            got = bpe_train(docs, n_merges=10, stats=stats)
        assert stats["finish"] == finish
        assert [tuple(r) for r in got] == want

    # encode totals must equal the reference vocabulary's symbol counts
    ref_tokens = collections.Counter()
    for t_i, t in enumerate(texts, start=1):
        wf_doc = [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]
        # re-encode each word greedily with the merge list
        for w in wf_doc:
            syms = list(w)
            for _, l, r, _m, _c in want:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            ref_tokens[t_i] += len(syms)
    enc = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_encode(docs, got).collect()}
    assert enc == dict(ref_tokens)


def test_bpe_train_many_merges_with_lineage_truncation(spark):
    """100+ merge rounds (VERDICT r3 item 6): the localCheckpoint lineage
    truncation (checkpoint_every) must leave results byte-identical to the
    classic reference — and to a run with a different checkpoint cadence —
    while keeping the plan depth bounded."""
    import collections

    from samu_ocr_extraction_poc_spark.operators.bpe import bpe_train

    # ~200 distinct structured words, skewed frequencies -> deep merge table
    words = [
        ("abcde"[i % 5] + "fghij"[j % 5] + "klmno"[(i + j) % 5] + "pqrst"[i % 5] * (j % 3 + 1))
        for i in range(20)
        for j in range(10)
    ]
    text = " ".join(w for k, w in enumerate(words) for _ in range(k % 7 + 1))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")

    def ref_bpe(text, n):
        wf = collections.Counter(text.split())
        vocab = {tuple(w): f for w, f in wf.items()}
        merges = []
        for idx in range(1, n + 1):
            pc = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            mx = max(pc.values())
            p = sorted(pr for pr, c in pc.items() if c == mx)[0]
            merges.append((idx, p[0], p[1], p[0] + p[1], mx))
            newv = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == p[0] and syms[i + 1] == p[1]:
                        out.append(p[0] + p[1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                newv[tuple(out)] = newv.get(tuple(out), 0) + f
            vocab = newv
        return merges

    want = ref_bpe(text, 110)
    assert len(want) == 110  # the corpus really sustains 110 merge rounds
    for threshold, finish in FINISH_PATHS:
        stats: dict = {}
        with override_broadcast_threshold(spark, threshold):
            got = bpe_train(docs, n_merges=110, checkpoint_every=8, stats=stats)
        assert [tuple(r) for r in got] == want
        # the loop truncates its lineage every 8 rounds; the finish has none
        assert (stats["finish"], stats["checkpoints"]) == (
            (finish, 110 // 8) if finish == "spark" else (finish, 0)
        )


def test_bpe_merge_table_empty_when_no_pair_exists(spark):
    """A corpus of single-character words has no symbol pair to merge: the
    merge table is empty on both paths, with its 5-column schema, instead
    of failing to build a 0-row literal frame."""
    from samu_ocr_extraction_poc_spark.operators.bpe import bpe_merge_table

    docs = spark.createDataFrame([(1, "a b c a"), (2, "x y")], "doc_id long, text string")
    for threshold, _finish in FINISH_PATHS:
        with override_broadcast_threshold(spark, threshold):
            table = bpe_merge_table(spark, docs)
            assert table.collect() == []
            assert table.schema.simpleString() == (
                "struct<merge_idx:int,lhs:string,rhs:string,merged:string,"
                "pair_count:bigint>"
            )


def test_values_frame_round_trips_literals(spark):
    """values_frame is a LocalRelation for any row count, zero included, and
    NaN, NULL, quotes and backslashes come back exactly as given."""
    import math

    from samu_ocr_extraction_poc_spark.functions.frames import values_frame

    ddl = "a bigint, s string, d double"
    rows = [(1, "it's a \\ path", float("nan")), (None, None, None), (-2, "", 0.5)]
    for given in ([], rows):
        df = values_frame(spark, given, ddl)
        plan = df._jdf.queryExecution().optimizedPlan().getClass().getName()
        assert plan.endswith("LocalRelation")
        assert df.schema.simpleString() == "struct<a:bigint,s:string,d:double>"
        got = [tuple(r) for r in df.collect()]
        assert len(got) == len(given)
    assert got[0][:2] == rows[0][:2] and math.isnan(got[0][2])
    assert got[1:] == rows[1:]


def test_winnowing_guarantee_and_sampling_rate(spark):
    """Winnowing's detection guarantee: two documents sharing a run of at
    least k + w - 1 tokens MUST share at least one fingerprint (the paper's
    correctness property), while the fingerprint index stays a fraction of
    the full k-gram index (~2/(w+1) expected)."""
    from samu_ocr_extraction_poc_spark.operators.winnow import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"one two three {run} four five six"),
            (2, f"seven eight {run} nine ten eleven twelve"),
            (3, "totally different words with no common run at all here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, w=5)
    by_doc = {
        d: {r["fp"] for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r["doc_id"]), key=lambda r: r["doc_id"]
        )
    }
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc  # empty doc -> no rows

    pairs = winnow_candidate_pairs(docs, min_shared=1, max_df=20).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    # sampling: the fingerprint index is a strict fraction of the k-gram index
    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    n_fp = winnow_fingerprints(corpus, k=4, w=5).count()
    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams

    n_grams = corpus.select(F.explode(_kgrams(F.col("text"), 4)).alias("g")).count()
    assert n_fp < 0.5 * n_grams, (n_fp, n_grams)


def test_blocklist_filter_token_level(spark):
    """Blocklist matching is token-level on the normalized text: 'lass' in
    the list must not trip 'class', punctuation variants of a blocked word
    must trip it, and the max_hits bound is inclusive."""
    from samu_ocr_extraction_poc_spark.operators.corpus import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "a perfectly clean document"),
            (2, "the class is not the lass word"),   # substring must NOT match
            (3, "bad Bad BAD!"),                      # 3 normalized hits
            (4, "one bad token only"),                # 1 hit
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in blocklist_filter(docs, ["bad", "lass"], max_hits=1).collect()}
    assert set(out) == {1, 2, 4, 5}          # doc 3 exceeds max_hits
    assert out[2]["n_blocked"] == 1          # 'lass' token itself, not 'class'
    assert out[4]["n_blocked"] == 1
    assert out[5]["n_tok"] == 0 and out[5]["n_blocked"] == 0


def test_centroid_classify_separable_fixture(spark):
    """Rocchio classification: on a linearly-separated fixture every
    vector classifies to its own label's centroid (diagonal confusion)."""
    from samu_ocr_extraction_poc_spark.operators.similarity import centroid_classify

    rows = []
    vid = 0
    for lab, base in [(0, 0.0), (1, 10.0), (2, -10.0)]:
        for j in range(4):
            rows.append((vid, [base + 0.1 * j, base - 0.1 * j], lab))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["true_label"], r["pred_label"]): r["n"] for r in centroid_classify(emb).collect()}
    assert out == {(0, 0): 4, (1, 1): 4, (2, 2): 4}


def _checkpoint_plan(spark, run) -> str:
    """The executed plan of the eager localCheckpoint job that ``run()``
    ends in, read from the SQL status store: the AQE final plan followed
    by the initial plan. Explain mode "simple" keeps each node and its
    arguments on one line, as ``executedPlan().toString()`` does."""
    key = "spark.sql.ui.explainMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "simple")
    try:
        run()
    finally:
        spark.conf.set(key, old)
    last = spark._jsparkSession.sharedState().statusStore().executionsList().last()
    call = last.details().splitlines()[0]  # the call site, whatever the job group
    assert ".localCheckpoint(" in call, call
    return last.physicalPlanDescription()


def test_new_corpus_ops_plan_shapes(spark):
    """Scale guards for the round-3 additions, read off the executed plans
    of their eager checkpoint jobs: DSIR's bucket-weight join must be a
    broadcast (the weight table is <= n_buckets rows; a shuffle join would
    move the corpus-sized feature frame), segment dedup's survivor
    selection must be an aggregation (never a global window), and neither
    plan — nor the lazy winnowing fingerprint op — may contain a
    single-partition exchange."""
    from samu_ocr_extraction_poc_spark.operators.corpus import (
        dsir_importance,
        exact_segment_dedup,
    )
    from samu_ocr_extraction_poc_spark.operators.winnow import winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    dsir_plan = _checkpoint_plan(spark, lambda: dsir_importance(docs))
    assert "BroadcastHashJoin" in dsir_plan
    # the ONLY single-partition exchange allowed is the 1-row corpus-totals
    # scalar aggregate (two-phase: 32 partial rows move, not the corpus)
    lines = dsir_plan.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            below = "\n".join(lines[i : i + 4])
            assert "keys=[], functions=[partial_" in below, ln
    assert "Window" not in dsir_plan

    seg_plan = _checkpoint_plan(spark, lambda: exact_segment_dedup(docs))
    assert "SinglePartition" not in seg_plan
    assert "Window" not in seg_plan  # survivor = min-struct agg, not a window

    win_plan = _plan(winnow_fingerprints(docs))
    assert "SinglePartition" not in win_plan

    # the checkpointed pair ops' interiors (PLANS.md dumps them as scans)
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        band_index,
        contamination_report,
        lsh_probe_dedup,
    )
    from samu_ocr_extraction_poc_spark.operators.winnow import winnow_candidate_pairs

    train = docs.where(F.col("doc_id") % 2 == 0)
    test_side = docs.where(F.col("doc_id") % 2 == 1)
    for plan in (
        _checkpoint_plan(spark, lambda: winnow_candidate_pairs(docs)),
        _checkpoint_plan(spark, lambda: contamination_report(train, test_side)),
        _plan(lsh_probe_dedup(test_side, band_index(train))),
    ):
        assert "SinglePartition" not in plan
        assert "Window" not in plan


def test_contamination_report_verdicts(spark):
    """Decontamination decision table: a fully-leaked test doc is dirty, a
    clean test doc has zero hits and is_clean=1, and every test doc gets a
    row (the denominator semantics cross_corpus_contamination lacks)."""
    from samu_ocr_extraction_poc_spark.operators.dedup import contamination_report

    leaked = " ".join(f"w{i}" for i in range(20))  # 20 tokens -> 5 windows @ k=16
    train = spark.createDataFrame(
        [(100, f"prefix tokens here {leaked} suffix tokens there")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(1, leaked), (2, " ".join(f"z{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in contamination_report(train, test).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_windows"] == 5 and out[1]["n_windows_hit"] == 5
    assert out[1]["contam_frac"] == 1.0 and out[1]["is_clean"] == 0
    assert out[2]["n_windows_hit"] == 0 and out[2]["is_clean"] == 1


def test_source_filter_gates_whole_domains(spark):
    """Domain-level gate: a document from a low-quality source is dropped
    even if the document itself is fine (the whole point of source-level
    filtering), and good sources keep all their docs."""
    from samu_ocr_extraction_poc_spark.operators.corpus import source_filter, source_stats

    good_text = "the quick brown fox jumps over a lazy dog and then the fox rests for a while near the river bank today"
    bad_text = "spam spam spam spam spam"
    docs = spark.createDataFrame(
        [
            (1, good_text, "good.com"),
            (2, good_text + " indeed quite readable content overall", "good.com"),
            (3, good_text, "spamfarm.net"),  # fine doc, bad source
            (4, bad_text, "spamfarm.net"),
            (5, bad_text, "spamfarm.net"),
        ],
        "doc_id long, text string, source string",
    )
    stats = {r["source"]: r["mean_quality"] for r in source_stats(docs).collect()}
    assert stats["good.com"] > stats["spamfarm.net"]
    thr = (stats["good.com"] + stats["spamfarm.net"]) / 2
    kept = {r["doc_id"] for r in source_filter(docs, min_mean_quality=thr).collect()}
    assert kept == {1, 2}  # doc 3 dropped with its domain


def test_lsh_probe_dedup_flags_known_dup(spark):
    """Incremental dedup: an incoming exact copy of an indexed document
    collides in every band (is_new=0), a genuinely novel document collides
    in none (is_new=1), and the probe agrees with the self-join
    construction on the same split."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        band_index,
        lsh_candidate_pairs,
        lsh_probe_dedup,
        minhash_signatures,
    )

    corpus_text = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, corpus_text), (2, "completely unrelated indexed content lives here quietly")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, corpus_text), (11, "fresh never seen words nowhere in any index at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lsh_probe_dedup(batch, band_index(corpus)).collect()}
    assert out[10]["is_new"] == 0 and out[10]["n_index_hits"] >= 1
    assert out[11]["is_new"] == 1 and out[11]["n_index_hits"] == 0

    # cross-check vs the self-join pairs over the union
    both = corpus.unionByName(batch)
    pairs = lsh_candidate_pairs(minhash_signatures(both), rows_per_band=2)
    cross = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.collect()
        if (r["doc_a"] < 10) != (r["doc_b"] < 10)
    }
    flagged = {d for d, r in out.items() if r["is_new"] == 0}
    assert flagged == {b for a, b in cross if b >= 10} | {a for a, b in cross if a >= 10}


def test_stream_probe_dedup_matches_batch(spark, tmp_path):
    """Streaming incremental dedup (stream-static anti joins against the
    corpus band index): the streamed survivors are exactly the batch
    lsh_probe_dedup's is_new=1 set on the same corpus/batch split, probing
    a band_index(corpus) frame the caller persisted."""
    from samu_ocr_extraction_poc_spark.operators.dedup import band_index, lsh_probe_dedup
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_probe_dedup

    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup data group query row"
    )
    corpus = spark.createDataFrame(
        [(1, base, "en", "s1", 10), (2, "some indexed corpus content here", "en", "s2", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    batch_rows = [
        (10, base + " alpha", "en", "s3", 10),           # near-dup of doc 1
        (11, "fresh unseen words nowhere indexed at all", "en", "s4", 10),
        (12, "another genuinely new document body", "en", "s5", 10),
    ]
    batch = spark.createDataFrame(
        batch_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    idx = band_index(corpus).persist()
    want_new = {
        r["doc_id"] for r in lsh_probe_dedup(batch, idx).collect() if r["is_new"] == 1
    }
    assert want_new == {11, 12}  # premise: the near-dup is flagged

    d = str(tmp_path / "probe_stream")
    batch.coalesce(1).write.mode("overwrite").parquet(d)
    q = (
        stream_probe_dedup(spark, d, idx)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("probe_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM probe_out").collect()}
    idx.unpersist()
    assert got == want_new


def test_band_index_roundtrip_and_pruning(spark, tmp_path):
    """Persisted LSH band index (the IVF-index amortization for the dedup
    path): probing the written table gives exactly the inline-index
    verdicts; meta guards refuse a mismatched signature family; per-band
    filters prune the scan to single directory partitions."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        band_index,
        band_index_params,
        build_band_index,
        load_band_index,
        lsh_probe_dedup,
    )

    corpus_text = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, corpus_text), (2, "completely unrelated indexed content lives here quietly")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, corpus_text), (11, "fresh never seen words nowhere in any index at all")],
        "doc_id long, text string",
    )
    loc = str(tmp_path / "bandidx")
    build_band_index(band_index(corpus), loc)

    direct = {tuple(r) for r in lsh_probe_dedup(batch, band_index(corpus)).collect()}
    loaded = load_band_index(spark, loc)
    indexed = {tuple(r) for r in lsh_probe_dedup(batch, loaded).collect()}
    assert indexed == direct and len(indexed) == 2
    # the table carries the signature family it was built with (k
    # included: it changes the key space as much as the hash family), so
    # no probe can use other parameters than the index's own
    assert band_index_params(loaded) == (8, 2, 3)
    assert not (tmp_path / "bandidx" / "meta").exists()

    plan = _plan(loaded.where(F.col("band_id") == 2))
    assert "PartitionFilters" in plan
    assert "band_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_band_index_without_parameters_is_refused(spark, tmp_path):
    """A bands/ table whose band_key carries no signature parameters (the
    layout written before the index described itself: plain parquet next
    to a meta/ table) is refused with a rebuild hint instead of being
    probed with guessed parameters."""
    from samu_ocr_extraction_poc_spark.operators.dedup import load_band_index

    loc = str(tmp_path / "old_idx")
    spark.createDataFrame(
        [(1, b, f"{b}_{b}") for b in range(4)], "index_id long, band_id int, band_key string"
    ).write.partitionBy("band_id").parquet(f"{loc}/bands")
    spark.createDataFrame(
        [(8, 2, 3)], "num_hashes int, rows_per_band int, k int"
    ).write.parquet(f"{loc}/meta")
    with pytest.raises(ValueError, match="rebuild"):
        load_band_index(spark, loc)


def test_probes_use_the_index_signature_parameters(spark, tmp_path):
    """An index built with num_hashes=16, rows_per_band=4, k=5 is probed
    with those parameters: the batch and the stream probe, over the index
    frame and over its persisted table, flag exactly the batch documents
    in a cross-split candidate pair of the self-join over corpus + batch
    with the same parameters."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        band_index,
        build_band_index,
        load_band_index,
        lsh_candidate_pairs,
        lsh_probe_dedup,
        minhash_signatures,
    )
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_probe_dedup

    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup data group query row"
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    corpus = spark.createDataFrame(
        [(1, base, "en", "s1", 10), (2, "some indexed corpus content here today", "en", "s2", 10)],
        schema,
    )
    batch = spark.createDataFrame(
        [
            (10, base + " alpha", "en", "s3", 10),  # near-dup of doc 1
            (11, base, "en", "s3", 10),  # exact copy of doc 1
            (12, "fresh unseen words nowhere indexed at all", "en", "s4", 10),
            (13, "another genuinely new document body here", "en", "s5", 10),
        ],
        schema,
    )
    pairs = lsh_candidate_pairs(
        minhash_signatures(corpus.unionByName(batch), num_hashes=16, k=5), rows_per_band=4
    )
    flagged = {b for a, b in ((r["doc_a"], r["doc_b"]) for r in pairs.collect()) if a < 10 <= b}
    assert flagged == {10, 11}  # premise: both populations present
    want_new = {10, 11, 12, 13} - flagged

    idx = band_index(corpus, num_hashes=16, rows_per_band=4, k=5).persist()
    loc = str(tmp_path / "bandidx16")
    build_band_index(idx, loc)
    d = str(tmp_path / "probe_stream16")
    batch.coalesce(1).write.mode("overwrite").parquet(d)
    for name, index in (("frame", idx), ("table", load_band_index(spark, loc))):
        verdicts = {r["doc_id"]: r["is_new"] for r in lsh_probe_dedup(batch, index).collect()}
        assert {i for i, new in verdicts.items() if new == 1} == want_new, name
        q = (
            stream_probe_dedup(spark, d, index)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"probe16_{name}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM probe16_{name}").collect()}
        assert got == want_new, name
    idx.unpersist()


def test_stream_probe_dedup_persisted_index_and_lifecycle(spark, tmp_path):
    """stream_probe_dedup over a load_band_index table (no inline index
    build at all). The caller owns the index's lifecycle: the probe
    persists nothing of its own."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        band_index,
        build_band_index,
        load_band_index,
        lsh_probe_dedup,
    )
    from samu_ocr_extraction_poc_spark.streaming.ingest import stream_probe_dedup

    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup data group query row"
    )
    corpus = spark.createDataFrame(
        [(1, base, "en", "s1", 10), (2, "some indexed corpus content here", "en", "s2", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " alpha", "en", "s3", 10),
            (11, "fresh unseen words nowhere indexed at all", "en", "s4", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    want_new = {
        r["doc_id"]
        for r in lsh_probe_dedup(batch, band_index(corpus)).collect()
        if r["is_new"] == 1
    }
    assert want_new == {11}

    loc = str(tmp_path / "bandidx")
    build_band_index(band_index(corpus), loc)
    d = str(tmp_path / "probe_stream")
    batch.coalesce(1).write.mode("overwrite").parquet(d)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    q = (
        stream_probe_dedup(spark, d, load_band_index(spark, loc))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("probe_idx_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM probe_idx_out").collect()}
    assert got == want_new
    assert cache.isEmpty() == was_empty


BPE_BATTERY = [
    ["a a a a"],                                  # single repeated 1-char word
    ["ab ab ab ba ba", "ab ba ab"],               # tie-heavy pair counts
    ["aaaa aaaa aa baaab"],                       # runs: greedy-left overlaps
    ["x"],                                        # no pairs -> early stop
    ["w1 w2 w3", "w1 w2", "w2 w3 w1"],            # digit-bearing words
    ["the the th he he e t t", "then there"],     # nested prefixes
]


@pytest.mark.parametrize("texts", BPE_BATTERY)
def test_bpe_battery_matches_python_reference(spark, texts):
    """bpe_train pinned to the classic Python algorithm on an adversarial
    corpus battery (ties, runs, early exhaustion, digits, prefixes) —
    independent of the DuckDB oracle, which shares the SQL formulation."""
    import collections
    import re

    from samu_ocr_extraction_poc_spark.operators.bpe import bpe_train

    def ref_bpe(texts, n):
        wf = collections.Counter()
        for t in texts:
            for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split():
                if w:
                    wf[w] += 1
        vocab = {tuple(w): f for w, f in wf.items()}
        merges = []
        for idx in range(1, n + 1):
            pc = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            mx = max(pc.values())
            p = sorted(pr for pr, c in pc.items() if c == mx)[0]
            merges.append((idx, p[0], p[1], p[0] + p[1], mx))
            newv = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == p[0] and syms[i + 1] == p[1]:
                        out.append(p[0] + p[1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                newv[tuple(out)] = newv.get(tuple(out), 0) + f
            vocab = newv
        return merges

    docs = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = ref_bpe(texts, 6)
    for threshold, finish in FINISH_PATHS:
        stats: dict = {}
        with override_broadcast_threshold(spark, threshold):
            assert [tuple(r) for r in bpe_train(docs, n_merges=6, stats=stats)] == want
        assert stats["finish"] == finish


def test_segment_dedup_and_winnow_python_replay(spark):
    """exact_segment_dedup and winnow_fingerprints pinned to independent
    pure-Python replays on an adversarial corpus (shared prefixes, empty,
    punctuation, a 60-token doc) — same 60-bit md5 convention."""
    import hashlib

    from samu_ocr_extraction_poc_spark.operators.corpus import exact_segment_dedup
    from samu_ocr_extraction_poc_spark.operators.winnow import winnow_fingerprints

    texts = {
        1: "s1 s2 s3 s4 a b c d",
        2: "s1 s2 s3 s4 p q",
        3: "",
        4: "s1 s2 s3 s4",
        5: " ".join(f"t{i % 7}" for i in range(60)),
        6: "Hello, World! HELLO world",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # --- segment dedup replay (seg_tokens=4, plain whitespace tokens) ---
    first = {}
    segs_by_doc = {}
    for d in sorted(texts):
        toks = texts[d].strip().split(" ") if texts[d].strip() else []
        segs = [" ".join(toks[i : i + 4]) for i in range(0, len(toks), 4)]
        segs_by_doc[d] = segs
        for pos, seg in enumerate(segs):
            first.setdefault(h60(seg), (d, pos))
    want = {
        d: " ".join(
            seg for pos, seg in enumerate(segs) if first[h60(seg)] == (d, pos)
        )
        for d, segs in segs_by_doc.items()
    }
    got = {
        r["doc_id"]: r["clean_text"]
        for r in exact_segment_dedup(docs, seg_tokens=4).collect()
    }
    assert got == want

    # --- winnowing replay (k=3, w=4, normalized tokens) ---
    import re

    want_fp = {}
    for d in sorted(texts):
        toks = [w for w in re.sub(r"[^a-z0-9]+", " ", texts[d].lower()).split() if w]
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        hs = [h60(g) for g in grams]
        if not hs:
            continue
        n_win = max(len(hs) - 3, 1)
        want_fp[d] = {min(hs[i : i + 4]) for i in range(n_win)}
    got_fp = {}
    for r in winnow_fingerprints(docs, k=3, w=4).collect():
        got_fp.setdefault(r["doc_id"], set()).add(r["fp"])
    assert got_fp == want_fp


def test_sample_exact_n_counts_and_determinism(spark):
    """Exact-size stratified sampling: every stratum yields exactly
    min(n, stratum size) rows, repeated runs agree, and raising n nests
    the samples (md5 order is a fixed permutation per stratum)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import sample_exact_n

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    totals = {r["lang"]: r["c"] for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    out = sample_exact_n(docs, n_per_stratum=40)
    counts = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts == {lang: min(40, t) for lang, t in totals.items()}
    ids_40 = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert ids_40 == {r["doc_id"] for r in sample_exact_n(docs, 40).select("doc_id").collect()}
    ids_60 = {r["doc_id"] for r in sample_exact_n(docs, 60).select("doc_id").collect()}
    assert ids_40 <= ids_60


def test_winnow_max_df_cut_drops_ubiquitous_fingerprints(spark):
    """A fingerprint present in more than max_df documents must generate
    NO pairs (the ubiquity cut) even when every doc shares it."""
    from samu_ocr_extraction_poc_spark.operators.winnow import winnow_candidate_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, f"{shared} filler{i}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    # all 5 docs share the run's fingerprints: with max_df=4 the shared
    # fps are cut and no pair survives; with max_df=5 pairs appear
    assert winnow_candidate_pairs(docs, min_shared=1, max_df=4).count() == 0
    assert winnow_candidate_pairs(docs, min_shared=1, max_df=5).count() > 0


def test_epoch_upsample_zero_factor_drops_stratum(spark):
    """A stratum factor of 0 must yield ZERO copies (stratum dropped from
    the mix) — sequence(1, 0) runs DESCENDING, so the empty-array guard
    is load-bearing (same trap as _kgrams)."""
    from samu_ocr_extraction_poc_spark.operators.corpus import epoch_upsample

    docs = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "fr"), (3, "c", "de")],
        "doc_id long, text string, lang string",
    )
    out = epoch_upsample(docs, factors={"en": 2, "fr": 0}).collect()
    got = {}
    for r in out:
        got.setdefault(r["stratum"], set()).add((r["doc_id"], r["epoch"]))
    assert got == {"en": {(1, 1), (1, 2)}, "de": {(3, 1)}}  # fr fully dropped


def test_fp_entries_invariant_to_shuffle_partition_count(spark):
    """The oracle-parity design leans on 'FP summation-order drift washes
    out in the round(4) output' — summation order is exactly what changes
    when the partition count changes on a real cluster. Pin it: the
    FP-heavy entries must produce IDENTICAL collected rows under
    different spark.sql.shuffle.partitions settings."""
    from samu_ocr_extraction_poc_spark.contract import QUERIES

    names = [
        "lm_surprise",
        "dsir_weights",
        "repetition_stats",
        "kmeans_clusters",
        "centroid_classify",
    ]
    def run_all():
        out = {}
        for n in names:
            rows = QUERIES[n](spark, SF).collect()
            out[n] = sorted(tuple(r) for r in rows)
        return out

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    for n in names:
        assert a[n] == b[n], f"{n}: output depends on shuffle partition count"


def test_hll_semantics_and_plan(spark):
    """HyperLogLog sketch: registers replay a pure-Python md5/bit-length
    reference exactly (the determinism contract behind the DuckDB
    oracle); the raw estimate lands within 3 standard errors
    (3 * 1.04/sqrt(m)) of the true distinct count on a 5k-item stream;
    duplicates never change a register (max-idempotence); merged halves
    equal the full build register-for-register; a parameter-mismatched
    merge refuses; and the BUILD plan shuffles only
    the <= m partial registers — the exchange is hash-partitioned on
    bucket, never SinglePartition (the corpus-sized pass stays
    partial-aggregable map-side)."""
    import hashlib

    import pytest as _pt
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_hash,
        hll_merge,
    )

    items = [f"item-{i}" for i in range(5000)]
    df = spark.createDataFrame([(x,) for x in items * 2], "key string")

    reg = hll_build(df, "key")
    got = {r["bucket"]: r["r"] for r in reg.collect()}

    # pure-Python replay of the documented md5/bit-length register rule
    want: dict[int, int] = {}
    for x in items:
        h = int(hashlib.md5(("hll:" + x).encode()).hexdigest()[:10], 16)
        b, w = h >> 32, h & 0xFFFFFFFF
        rho = 33 - w.bit_length() if w else 33
        want[b] = max(want.get(b, 0), rho)
    assert got == want

    est = hll_estimate(reg).collect()[0]
    assert est["m"] == 256
    assert est["occupied"] + est["n_zero"] == 256
    # 3 sigma of the HLL standard error 1.04/sqrt(256) = 6.5%
    assert abs(est["est"] - 5000) <= 3 * 0.065 * 5000

    # duplicates are free: the single-copy stream gives the same registers
    reg1 = hll_build(spark.createDataFrame([(x,) for x in items], "key string"), "key")
    assert {r["bucket"]: r["r"] for r in reg1.collect()} == want

    # merge of disjoint halves == full build, register for register
    d0 = df.where(F.crc32("key") % 2 == 0)
    d1 = df.where(F.crc32("key") % 2 == 1)
    merged = hll_merge(hll_build(d0, "key"), hll_build(d1, "key"))
    assert {r["bucket"]: r["r"] for r in merged.collect()} == want

    # a merge refuses mismatched parameters
    with _pt.raises(ValueError, match="hll meta mismatch"):
        hll_merge(reg, hll_build(d1, "key", p=9, w_bits=31))
    with _pt.raises(ValueError, match="p \\+ w_bits"):
        hll_build(df, "key", p=8, w_bits=33)
    with _pt.raises(ValueError, match="headroom"):
        hll_build(df, "key", p=14, w_bits=38)

    # exact-distinct companion hashes the same domain the sketch saw
    n_exact = df.select(hll_hash(F.col("key")).alias("h")).distinct().count()
    assert n_exact == 5000

    # plan: the only corpus-sized stage ends at a partial agg; the
    # exchange carries hashpartitioning(bucket), never SinglePartition
    plan = reg._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan and "bucket" in plan
    assert "SinglePartition" not in plan


def test_phrase_search_semantics_and_plan(spark):
    """Exact phrase search: the indexed adjacency-join path and the
    narrow row-local HOF matcher must agree EXACTLY — multiplicity,
    first positions, overlap semantics ("a a a a" holds three "a a"
    starts), punctuation-normalized tokens, empty docs — which is the
    positional index's correctness argument; empty-phrase calls refuse;
    and the narrow matcher's plan has NO exchange of any kind (a
    curation pass tagging by quoted string must stay one map stage on
    the scan)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.search import (
        phrase_match_counts,
        phrase_query,
        positional_index,
    )

    rows = [
        (1, "The quick brown fox jumps over the quick brown dog"),
        (2, "quick... BROWN!"),
        (3, "a a a a"),
        (4, ""),
        (5, "brown quick"),
        (6, "quick brownie"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = positional_index(df)

    for terms in (["quick", "brown"], ["a", "a"], ["fox"], ["zz", "yy"]):
        via_idx = sorted(map(tuple, phrase_query(idx, terms).collect()))
        via_hof = sorted(map(tuple, phrase_match_counts(df, terms).collect()))
        assert via_idx == via_hof, terms

    # pinned values: overlaps count, normalization folds case/punct,
    # "brownie" does not match "brown" (token-exact, not substring)
    got = dict(
        (r["doc_id"], (r["n_matches"], r["first_pos"]))
        for r in phrase_query(idx, ["quick", "brown"]).collect()
    )
    assert got == {1: (2, 2), 2: (1, 1)}
    assert phrase_query(idx, ["a", "a"]).collect()[0]["n_matches"] == 3

    with _pt.raises(ValueError):
        phrase_query(idx, [])
    with _pt.raises(ValueError):
        phrase_match_counts(df, [])

    plan = (
        phrase_match_counts(df, ["quick", "brown"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_asof_join_semantics(spark):
    """Bucketed as-of join vs a brute-force reference: inclusive match,
    carry across EMPTY buckets (the forward-fold correctness case),
    in-bucket vs carried candidate arbitration, unmatched-left NULLs,
    and the deterministic same-timestamp tie-break (largest payload
    struct). Bucket width 100 so every cross-bucket path exercises."""
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.temporal import asof_join

    # right rows: (key, t, rid); includes a (k1, 250) duplicate-t pair
    right_rows = [
        ("k1", 100, 1), ("k1", 250, 2), ("k1", 250, 3), ("k1", 900, 4),
        ("k2", 500, 5),
    ]
    left_rows = [
        ("k1", 50, 10),   # before everything -> NULL
        ("k1", 100, 11),  # inclusive: matches t=100
        ("k1", 260, 12),  # same bucket as 250: tie -> rid 3
        ("k1", 650, 13),  # buckets 3..5 empty on right: carry from t=250
        ("k1", 950, 14),  # in-bucket t=900 beats carried t=250
        ("k2", 499, 15),  # before k2's only right -> NULL
        ("k3", 700, 16),  # key absent on right -> NULL
    ]
    left = spark.createDataFrame(left_rows, "k string, t bigint, lid bigint")
    right = spark.createDataFrame(right_rows, "k string, t bigint, rid bigint")
    out = {
        r["lid"]: (r["matched_t"], r["matched_rid"])
        for r in asof_join(left, right, key_col="k", bucket_us=100).collect()
    }
    # brute-force reference
    want = {}
    for (k, lt, lid) in left_rows:
        cands = [(rt, rid) for (rk, rt, rid) in right_rows if rk == k and rt <= lt]
        want[lid] = max(cands) if cands else (None, None)
    assert out == want
    assert want[10] == (None, None) and want[12] == (250, 3)
    assert want[13] == (250, 3) and want[14] == (900, 4)


def test_range_join_semantics_and_plan(spark):
    """Bucketed range join: inclusive endpoints, multi-bucket intervals
    match without duplicate pairs (a pair meets in exactly ONE bucket),
    cross-key isolation, the max_len_us replication bound RAISES on
    violation, and the plan is an equi-join — never
    BroadcastNestedLoopJoin/CartesianProduct (the scale-killer the
    bucketing exists to avoid)."""
    import pytest as _pt

    from samu_ocr_extraction_poc_spark.operators.temporal import range_join

    points = spark.createDataFrame(
        [("k1", 50, 1), ("k1", 150, 2), ("k1", 250, 3), ("k1", 301, 4),
         ("k2", 150, 5)],
        "k string, t bigint, pid bigint",
    )
    intervals = spark.createDataFrame(
        [("k1", 100, 300, 100), ("k1", 250, 260, 101), ("k2", 0, 99, 102)],
        "k string, lo bigint, hi bigint, iid bigint",
    )
    pairs = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            points, intervals, key_col="k", bucket_us=100, max_len_us=250,
        ).collect()
    )
    # interval 100 spans buckets 1..3 and must match pids 2,3,4 exactly
    # once each (301 <= 300 fails; 250 and 150 inside; 50 outside);
    # interval 101 catches pid 3 too; k2's interval catches nothing
    assert pairs == [(2, 100), (3, 100), (3, 101)]

    with _pt.raises(ValueError, match="replication bound"):
        range_join(
            points, intervals, key_col="k", bucket_us=100, max_len_us=100,
        )

    plan = (
        range_join(
            points, intervals, key_col="k", bucket_us=100,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_proximity_query_semantics(spark):
    """Proximity (NEAR) search — the range_join composition must equal a
    brute-force positional cross-check: unordered window, pair
    multiplicity, closest distance, cross-bucket pairs (window 5 vs
    bucket 10 exercises interval replication), window < 1 refuses."""
    import pytest as _pt

    from samu_ocr_extraction_poc_spark.operators.search import (
        positional_index,
        proximity_query,
    )

    rows = [
        (1, "alpha x x x beta"),
        (2, "alpha beta"),
        (3, "beta x x x x x alpha"),
        (4, "alpha x beta x alpha"),
        (5, "alpha only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = positional_index(df)
    got = sorted(map(tuple, proximity_query(idx, "alpha", "beta", 5).collect()))
    want = []
    for did, text in rows:
        toks = [t for t in text.lower().split() if t]
        pa = [i + 1 for i, t in enumerate(toks) if t == "alpha"]
        pb = [i + 1 for i, t in enumerate(toks) if t == "beta"]
        prs = [(a, b) for a in pa for b in pb if abs(a - b) <= 5]
        if prs:
            want.append((did, len(prs), min(abs(a - b) for a, b in prs)))
    assert got == sorted(want)
    assert (3, 1, 6) not in got  # distance 6 > 5 excluded

    with _pt.raises(ValueError, match="window"):
        proximity_query(idx, "alpha", "beta", 0)


def test_stream_hll_equals_batch_and_replay_noop(spark, tmp_path):
    """Streaming HLL maintenance: after the stream drains, the persisted
    register table must equal the one-shot batch build over everything
    that arrived (merge associativity across micro-batch boundaries);
    re-merging an already-absorbed batch changes NOTHING (max
    idempotence — the property that makes at-least-once delivery
    sufficient, no transactional sink needed)."""
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.sketch import hll_build, hll_merge
    from samu_ocr_extraction_poc_spark.streaming.ingest import (
        latest_hll_state,
        stream_hll,
    )

    rows = [
        (i, f"alpha beta w{i} gamma delta w{i % 7} epsilon", "en", "s", 40)
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "hll_state")
    # two files -> at least one batch; availableNow drains all
    docs.where("doc_id < 30").coalesce(1).write.mode("append").parquet(in_dir)
    docs.where("doc_id >= 30").coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_hll(spark, in_dir, state)
    q.awaitTermination(180)

    state_df, version = latest_hll_state(spark, state)
    assert state_df is not None and version >= 0
    got = {(r["bucket"], r["r"]) for r in state_df.collect()}
    items = docs.select(F.explode(_kgrams(F.col("text"), 2)).alias("tok"))
    want = {
        (r["bucket"], r["r"]) for r in hll_build(items, "tok").collect()
    }
    assert got == want

    # torn write: a version dir without _SUCCESS must be invisible
    import os
    os.makedirs(f"{state}/v=999", exist_ok=True)
    with open(f"{state}/v=999/part-torn.parquet", "w") as fh:
        fh.write("garbage")
    df2, v2 = latest_hll_state(spark, state)
    assert v2 == version  # the uncommitted v=999 is ignored
    # replay: merging the first half AGAIN is a no-op
    again = hll_merge(
        df2,
        hll_build(
            docs.where("doc_id < 30").select(
                F.explode(_kgrams(F.col("text"), 2)).alias("tok")
            ),
            "tok",
        ),
    )
    assert {(r["bucket"], r["r"]) for r in again.collect()} == want


def test_stream_hll_keeps_only_the_latest_state_version(spark, tmp_path):
    """Each micro-batch commits its own state version and then deletes the
    versions below it: after three micro-batches only the latest version
    directory is left, holding the registers of everything that arrived."""
    import os

    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.sketch import hll_build
    from samu_ocr_extraction_poc_spark.streaming.ingest import latest_hll_state, stream_hll

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta w{i % 5} gamma", "en", "s", 30) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "hll_state")
    for part in range(3):  # one new file per run: one micro-batch each
        docs.where(F.col("doc_id") % 3 == part).coalesce(1).write.mode("append").parquet(in_dir)
        stream_hll(spark, in_dir, state).awaitTermination(180)
    assert sorted(n for n in os.listdir(state) if n.startswith("v=")) == ["v=2"]
    state_df, version = latest_hll_state(spark, state)
    assert version == 2
    items = docs.select(F.explode(_kgrams(F.col("text"), 2)).alias("tok"))
    want = {(r["bucket"], r["r"]) for r in hll_build(items, "tok").collect()}
    assert {(r["bucket"], r["r"]) for r in state_df.collect()} == want


def test_stream_hll_replay_of_the_committed_batch_keeps_its_state(
    spark, tmp_path, monkeypatch
):
    """At-least-once delivery replays a micro-batch whose sink ran but whose
    commit was never logged. When that batch's version is the only
    committed one, the replay must not rewrite it: an overwrite deletes the
    directory before it writes, so a crash mid-write would leave no
    committed state. The replay here runs with every parquet write torn
    (directory deleted, then a crash); the state must survive intact. A
    state whose checkpoint was deleted is refused, not silently ignored."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from samu_ocr_extraction_poc_spark.operators.corpus import _kgrams
    from samu_ocr_extraction_poc_spark.operators.sketch import hll_build
    from samu_ocr_extraction_poc_spark.streaming.ingest import latest_hll_state, stream_hll

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta w{i % 5} gamma", "en", "s", 30) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "hll_state")
    for part in range(2):  # one new file per run: one micro-batch each
        docs.where(F.col("doc_id") % 2 == part).coalesce(1).write.mode("append").parquet(in_dir)
        stream_hll(spark, in_dir, state).awaitTermination(180)
    assert sorted(n for n in os.listdir(state) if n.startswith("v=")) == ["v=1"]
    # forget that batch 1 committed: the restart replays it
    commits = f"{state}_ckpt/commits"
    for name in os.listdir(commits):
        if name in ("1", ".1.crc"):
            os.remove(os.path.join(commits, name))

    def torn_write(self, path, *args, **kwargs):
        shutil.rmtree(path, ignore_errors=True)
        raise OSError(f"crash while writing {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", torn_write)
    stream_hll(spark, in_dir, state).awaitTermination(180)
    monkeypatch.undo()

    state_df, version = latest_hll_state(spark, state)
    assert version == 1
    items = docs.select(F.explode(_kgrams(F.col("text"), 2)).alias("tok"))
    want = {(r["bucket"], r["r"]) for r in hll_build(items, "tok").collect()}
    assert {(r["bucket"], r["r"]) for r in state_df.collect()} == want
    assert os.listdir(commits).count("1") == 1  # the replay committed batch 1

    # a state past its checkpoint (the checkpoint was deleted, the state
    # kept) would restart at batch 0 below the committed version: refused
    shutil.rmtree(f"{state}_ckpt")
    with pytest.raises(Exception, match="checkpoint was reset"):
        stream_hll(spark, in_dir, state).awaitTermination(180)
    assert latest_hll_state(spark, state)[1] == 1


def test_salted_join_equals_plain_and_spreads_hot_key(spark):
    """Skew-salted join: result rows equal the unsalted join EXACTLY
    (the correctness pin — salting must never change semantics, only
    layout), and a 90%-hot-key input's max per-(key,salt) group shrinks
    ~n_salts× vs per-key (the layout claim the operator exists for).
    Salt is md5-deterministic: two runs produce identical salted rows
    (the task-retry-safety argument; rand() salts double/drop rows on
    retry)."""
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [("hot" if i % 10 < 9 else f"k{i % 97}", i) for i in range(2000)],
        "k string, row_id bigint",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("k3", 2), ("k17", 3)], "k string, dim_val bigint"
    )
    plain = sorted(
        (r["k"], r["row_id"], r["dim_val"])
        for r in big.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["row_id"], r["dim_val"])
        for r in salted_join(big, dim, "k", "row_id").collect()
    )
    assert salted == plain and len(plain) > 1800

    # layout: the hot key's biggest (key, salt) bucket is ~1/16 its size
    salt = (
        F.conv(F.substring(F.md5(F.col("row_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 16
    )
    sizes = (
        big.where(F.col("k") == "hot")
        .groupBy(salt.alias("s"))
        .count()
        .agg(F.max("count").alias("mx"), F.count("*").alias("n_buckets"))
        .collect()[0]
    )
    hot_total = big.where(F.col("k") == "hot").count()
    assert sizes["n_buckets"] == 16
    assert sizes["mx"] < hot_total / 8  # vs hot_total in the unsalted layout

    # determinism across runs
    s1 = sorted(map(tuple, salted_join(big, dim, "k", "row_id").collect()))
    s2 = sorted(map(tuple, salted_join(big, dim, "k", "row_id").collect()))
    assert s1 == s2

    # NULL salt source falls back to salt 0 — the row still matches
    import pytest as _pt

    nullish = spark.createDataFrame(
        [("hot", None), ("hot", 7)], "k string, row_id bigint"
    )
    nj = salted_join(nullish, dim, "k", "row_id").collect()
    assert len(nj) == 2  # a NULL salt would silently drop the first row

    # big-side-preserving joins only: right/full outer would surface an
    # unmatched dim row once per salt copy
    with _pt.raises(ValueError, match="big-side-preserving"):
        salted_join(big, dim, "k", "row_id", how="full")


def test_funnel_strict_order_semantics(spark):
    """Funnel conversion: strict > at every hop (an event at exactly
    t_prev does NOT convert), -1 sentinels, reached = highest stage,
    users with no stage-1 event excluded, out-of-order input immaterial
    (min-agg formulation)."""
    from samu_ocr_extraction_poc_spark.operators.temporal import funnel

    rows = [
        # u1 full conversion, with noise events interleaved
        ("u1", "click", 50), ("u1", "view", 100), ("u1", "click", 200),
        ("u1", "purchase", 150),  # before the click -> ignored
        ("u1", "purchase", 300),
        # u2: click at EXACTLY t1 -> strict > rejects; later click converts
        ("u2", "view", 100), ("u2", "click", 100), ("u2", "click", 101),
        # u3: view only
        ("u3", "view", 500),
        # u4: clicks/purchases but never views -> excluded entirely
        ("u4", "click", 10), ("u4", "purchase", 20),
        # u5: view then purchase with NO click -> stuck at stage 1 even
        # though a stage-3 event exists after t1
        ("u5", "view", 10), ("u5", "purchase", 20),
    ]
    ev = spark.createDataFrame(rows, "user_id string, event_type string, t bigint")
    got = {
        r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"], r["reached"])
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {
        "u1": (100, 200, 300, 3),
        "u2": (100, 101, -1, 2),
        "u3": (500, -1, -1, 1),
        "u5": (10, -1, -1, 1),
    }


def test_funnel_two_stage_and_plan_shape(spark):
    """Two-stage funnel + plan audit: the aggregation path must be
    partial-aggregable (HashAggregate, no Window/Sort-per-user operator
    — a hot user must never force its whole history into one partition)."""
    from samu_ocr_extraction_poc_spark.operators.temporal import funnel

    rows = [("u1", "a", 1), ("u1", "b", 2), ("u2", "a", 5)]
    ev = spark.createDataFrame(rows, "user_id string, event_type string, t bigint")
    out = funnel(ev, ["a", "b"])
    got = {
        r["user_id"]: (r["t1_us"], r["t2_us"], r["reached"]) for r in out.collect()
    }
    assert got == {"u1": (1, 2, 2), "u2": (5, -1, 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def _py_minhash_audit(texts, num_hashes=8, k=3):
    """Serial replay of minhash_jaccard_estimates' arithmetic: normalized
    k-shingles (try_element_at clamp at the tail), 28-bit md5 base hash,
    the (a_i x + b_i) mod M31 family, integer e4 fixed-point."""
    import hashlib
    import re

    P = (1 << 31) - 1

    def sh(text):
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
        n = len(toks)
        out = []
        for i in range(1, max(n - (k - 1), 1) + 1):
            parts = [toks[i + j - 1] for j in range(k) if i + j - 1 < n]
            out.append(" ".join(parts))
        return set(out)

    def sig(shingle_set):
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in shingle_set
        ]
        return [
            min(((1 + 2 * i) * x + 7919 * (i + 1)) % P for x in xs)
            for i in range(num_hashes)
        ]

    shs = {d: sh(t) for d, t in texts.items()}
    sigs = {d: sig(s) for d, s in shs.items()}

    def audit(a, b):
        n_agree = sum(1 for i in range(num_hashes) if sigs[a][i] == sigs[b][i])
        inter = len(shs[a] & shs[b])
        union = len(shs[a]) + len(shs[b]) - inter
        est = (n_agree * 10000) // num_hashes
        exact = (inter * 10000) // union
        return (n_agree, est, exact, est - exact)

    return audit


def test_minhash_jaccard_estimates_match_replay(spark):
    """Sketch-audit table vs the serial replay: identical docs pin
    est=exact=10000/err=0; near-dups carry the exact integer Jaccard and
    the signed estimator error; an unrelated doc never reaches the
    candidate set (LSH banding filters it)."""
    from samu_ocr_extraction_poc_spark.operators.dedup import (
        minhash_jaccard_estimates,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    texts = {
        1: base,
        2: base,  # exact duplicate of 1
        3: base + " with one extra tail clause appended here",  # near-dup
        4: "completely different content about spark shuffle partitions "
           "and catalyst optimizer rules with no shared shingles at all",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_agree"], r["est_e4"], r["exact_e4"], r["err_e4"]
        )
        for r in minhash_jaccard_estimates(df).collect()
    }
    audit = _py_minhash_audit(texts, num_hashes=8, k=3)
    # every emitted pair matches the serial arithmetic exactly
    for (a, b), vals in got.items():
        assert vals == audit(a, b), (a, b)
    # the exact-duplicate pair is a guaranteed candidate (all bands agree)
    assert got[(1, 2)] == (8, 10000, 10000, 0)
    # doc 4 shares no shingles with anyone: if banding ever surfaced it,
    # exact_e4 would be 0 — it must simply be absent
    assert not any(4 in pair for pair in got)


def test_hll_build_pre_hashed_matches_raw_build(spark):
    """The share-one-hash-pass form (hll_build(..., pre_hashed=True) over a
    precomputed hll_hash column) must produce byte-identical register
    tables — global and grouped — to the raw-item builds (the r6
    single-pass contract entries rely on this equivalence)."""
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hll_build,
        hll_build_grouped,
        hll_hash,
    )

    items = spark.createDataFrame(
        [(w, g) for i, (w, g) in enumerate(
            [(f"tok{j % 17}", "ab"[j % 2]) for j in range(200)]
        )],
        "key string, grp string",
    )
    hashed = items.select("grp", hll_hash(F.col("key")).alias("h"))

    raw = {(r["bucket"], r["r"]) for r in hll_build(items, "key").collect()}
    pre = {
        (r["bucket"], r["r"])
        for r in hll_build(hashed, "h", pre_hashed=True).collect()
    }
    assert raw == pre and len(raw) > 2

    raw_g = {
        (r["grp"], r["bucket"], r["r"])
        for r in hll_build_grouped(items, "grp", "key").collect()
    }
    pre_g = {
        (r["grp"], r["bucket"], r["r"])
        for r in hll_build_grouped(hashed, "grp", "h", pre_hashed=True).collect()
    }
    assert raw_g == pre_g and len(raw_g) > 3
