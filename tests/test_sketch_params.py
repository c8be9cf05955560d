"""The sketch family's parameters live in column metadata on each
sketch's key column (operators/sketch.py, read by
functions/frames.column_params): reads take no shape arguments and submit
no Spark job, the parameters survive the parquet round trip, and a frame
without them is refused with the name of the build that makes it. The
LSH banding reads its signature length from the frame the same way."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark.operators import sketch as SK


def _inputs(spark):
    keys = spark.createDataFrame(
        [(f"k{i % 37}", f"g{i % 3}", i) for i in range(300)],
        "key string, g string, v bigint",
    )
    probe = spark.createDataFrame(
        [(1, "k1"), (2, "k5"), (3, "unseen")], "doc_id long, key string"
    )
    return keys, probe


def _reads(probe, bloom, cms_a, cms_b, hist_a, hist_b, hll_a, hll_b, ghll):
    """Every merge and read of the family, lazily."""
    return {
        "bloom_probe": SK.bloom_probe(bloom, probe, "key"),
        "cms_query": SK.cms_query(SK.cms_merge(cms_a, cms_b), probe, "key"),
        "hist_quantiles": SK.hist_quantiles(SK.hist_merge(hist_a, hist_b), [10, 50, 90]),
        "hll_estimate": SK.hll_estimate(SK.hll_merge(hll_a, hll_b)),
        "hll_estimate_grouped": SK.hll_estimate_grouped(ghll, "g"),
    }


def _builds(keys):
    half_a, half_b = keys.where(F.col("v") % 2 == 0), keys.where(F.col("v") % 2 == 1)
    return (
        SK.bloom_build(keys, "key", m_bits=1 << 12, k=4),
        SK.cms_build(half_a, "key", width=64, depth=3),
        SK.cms_build(half_b, "key", width=64, depth=3),
        SK.hist_build(half_a, "v", hi=300, n_bins=30),
        SK.hist_build(half_b, "v", hi=300, n_bins=30),
        SK.hll_build(half_a, "key", p=9, w_bits=31),
        SK.hll_build(half_b, "key", p=9, w_bits=31),
        SK.hll_build_grouped(keys, "g", "key", p=9, w_bits=31),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_reading_a_sketch_submits_no_job(spark):
    """Builds, merges and reads only plan: the status tracker's job ids do
    not move until the first collect."""
    keys, probe = _inputs(spark)
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup(None))
    reads = _reads(probe, *_builds(keys))
    assert sorted(tracker.getJobIdsForGroup(None)) == before
    for name, df in reads.items():
        assert df.collect(), name
    assert sorted(tracker.getJobIdsForGroup(None)) != before


def test_sketches_survive_parquet_and_read_identically(spark, tmp_path):
    keys, probe = _inputs(spark)
    built = _builds(keys)
    reloaded = []
    for i, sk in enumerate(built):
        path = str(tmp_path / f"sketch{i}")
        sk.write.parquet(path)
        reloaded.append(spark.read.parquet(path))
    direct = _reads(probe, *built)
    back = _reads(probe, *reloaded)
    for name in direct:
        assert _rows(back[name]) == _rows(direct[name]), name
    assert SK.hll_estimate(reloaded[5]).collect()[0]["m"] == 512


@pytest.mark.parametrize(
    "build, read",
    [
        ("bloom_build", lambda s, p: SK.bloom_probe(s.selectExpr("1L AS word_idx", "1L AS bits"), p)),
        ("cms_build", lambda s, p: SK.cms_query(s.selectExpr("0L AS d", "0L AS c", "1L AS cnt"), p)),
        ("hist_build", lambda s, p: SK.hist_quantiles(s.selectExpr("0L AS b", "1L AS cnt"), [50])),
        ("hll_build", lambda s, p: SK.hll_estimate(s.selectExpr("0L AS bucket", "1L AS r"))),
        (
            "hll_build_grouped",
            lambda s, p: SK.hll_estimate_grouped(
                s.selectExpr("'a' AS g", "0L AS bucket", "1L AS r"), "g"
            ),
        ),
        ("cms_build", lambda s, p: SK.cms_merge(*[s.selectExpr("0L AS d", "0L AS c", "1L AS cnt")] * 2)),
        ("hist_build", lambda s, p: SK.hist_merge(*[s.selectExpr("0L AS b", "1L AS cnt")] * 2)),
        ("hll_build", lambda s, p: SK.hll_merge(*[s.selectExpr("0L AS bucket", "1L AS r")] * 2)),
    ],
)
def test_frame_without_parameters_is_refused(spark, build, read):
    keys, probe = _inputs(spark)
    with pytest.raises(ValueError, match=f"rebuild the frame with {build}$"):
        read(keys.limit(1), probe)


def test_parameters_read_back_are_validated(spark):
    """A register table from outside the program whose parameters the
    build would refuse is refused by the read too."""
    reg = spark.range(1).selectExpr("0L AS bucket", "1L AS r").withMetadata(
        "bucket", {"p": 8, "w_bits": 33, "grouped": False}
    )
    with pytest.raises(ValueError, match="p \\+ w_bits"):
        SK.hll_estimate(reg)


def test_stream_hll_refuses_a_state_without_parameters(spark, tmp_path):
    """A state version written before the register table carried its
    parameters is refused with a rebuild hint, not merged under guessed
    ones."""
    from samu_ocr_extraction_poc_spark.streaming.ingest import latest_hll_state

    state = str(tmp_path / "hll_state")
    spark.createDataFrame([(0, 3), (1, 5)], "bucket bigint, r bigint").write.parquet(
        f"{state}/v=0"
    )
    with pytest.raises(ValueError, match="rebuild"):
        latest_hll_state(spark, state)


def test_lsh_pairs_band_every_signature_column(spark):
    """lsh_candidate_pairs bands the frame's own h0..h{n-1}: two documents
    of a 16-hash signature that agree only on h8/h9 share band 4 at
    rows_per_band=2 (banding only h0..h7 would miss the pair)."""
    from samu_ocr_extraction_poc_spark.operators.dedup import lsh_candidate_pairs

    cols = ", ".join(f"h{i} bigint" for i in range(16))
    a = [100 + i for i in range(16)]
    b = [200 + i for i in range(16)]
    b[8], b[9] = a[8], a[9]
    sig = spark.createDataFrame([tuple([1] + a), tuple([2] + b)], f"doc_id long, {cols}")
    assert [tuple(r) for r in lsh_candidate_pairs(sig, rows_per_band=2).collect()] == [(1, 2)]
