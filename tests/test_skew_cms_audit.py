"""Operator semantics for operators/skew.py:skew_audit and
operators/sketch.py:cms_inner_product. Cross-engine value parity lives in
tests/test_oracle_parity.py ("skew_audit", "cms_join_size"); these tests
pin the semantics against pure-Python replays, the no-undercount
guarantee, the shape refusal, and the plan shapes (no Window; top-k via
TakeOrdered)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark.operators.sketch import (
    cms_build,
    cms_inner_product,
)
from samu_ocr_extraction_poc_spark.operators.skew import skew_audit


# ---------------------------------------------------------------------------
# skew_audit
# ---------------------------------------------------------------------------


def _keys_df(spark, counts: dict):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "k long")


def test_skew_audit_matches_serial_replay(spark):
    counts = {0: 50, 1: 20, 2: 20, 3: 7, 4: 2, 5: 1}
    total = sum(counts.values())
    n_keys = len(counts)
    got = {
        r["key"]: r.asDict()
        for r in skew_audit(_keys_df(spark, counts), "k", top_k=10).collect()
    }
    assert set(got) == set(counts)
    for k, cnt in counts.items():
        r = got[k]
        assert r["cnt"] == cnt
        assert r["share_e4"] == cnt * 10000 // total
        assert r["xmean_e4"] == cnt * n_keys * 10000 // total
        assert r["total"] == total and r["n_keys"] == n_keys
        assert r["is_hot"] == int(cnt * 10000 // total >= 100)
    # the 50% key reads 50x the 1% key on the same scale
    assert got[0]["share_e4"] == 5000 and got[0]["is_hot"] == 1
    # a uniform key reads ~10000 on the xmean scale; the hot one 3x that
    assert got[0]["xmean_e4"] == 50 * 6 * 10000 // 100 == 30000


def test_skew_audit_topk_keeps_heaviest_with_total_order(spark):
    # ties at the boundary resolve by key ASC: keys 2 and 3 tie at cnt=5,
    # top_k=2 must keep (0, then 2) — cnt DESC first, then key ASC
    counts = {0: 9, 2: 5, 3: 5}
    rows = skew_audit(_keys_df(spark, counts), "k", top_k=2).collect()
    assert [(r["key"], r["cnt"]) for r in rows] == [(0, 9), (2, 5)]


def test_skew_audit_counts_null_keys(spark):
    df = spark.createDataFrame([(1,), (None,), (None,), (2,)], "k long")
    got = {r["key"]: r["cnt"] for r in skew_audit(df, "k", top_k=10).collect()}
    assert got[None] == 2 and got[1] == 1 and got[2] == 1


def test_skew_audit_rejects_bad_topk(spark):
    with pytest.raises(ValueError, match="top_k"):
        skew_audit(_keys_df(spark, {0: 1}), "k", top_k=0)


def test_skew_audit_plan_shape(spark):
    plan = (
        skew_audit(_keys_df(spark, {0: 2, 1: 1}), "k", top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "TakeOrdered" in plan


# ---------------------------------------------------------------------------
# cms_inner_product
# ---------------------------------------------------------------------------


def _cell(key: str, j: int, width: int) -> int:
    h = hashlib.md5(f"cms{j}:{key}".encode()).hexdigest()[:15]
    return int(h, 16) % width


def _py_inner_product(a: dict, b: dict, width: int, depth: int) -> int:
    """Serial replay: a/b are {key: count} exact frequency maps."""
    est = None
    for j in range(depth):
        cells_a: dict[int, int] = {}
        cells_b: dict[int, int] = {}
        for k, n in a.items():
            c = _cell(k, j, width)
            cells_a[c] = cells_a.get(c, 0) + n
        for k, n in b.items():
            c = _cell(k, j, width)
            cells_b[c] = cells_b.get(c, 0) + n
        dot = sum(cells_a[c] * cells_b.get(c, 0) for c in cells_a)
        est = dot if est is None else min(est, dot)
    return est


def _str_keys_df(spark, counts: dict):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "k string")


@pytest.mark.parametrize("width", [8, 64])
def test_cms_inner_product_matches_serial_replay(spark, width):
    a = {f"k{i}": i + 1 for i in range(12)}
    b = {f"k{i}": 13 - i for i in range(3, 13)}
    sk_a = cms_build(_str_keys_df(spark, a), "k", width=width, depth=3)
    sk_b = cms_build(_str_keys_df(spark, b), "k", width=width, depth=3)
    got = cms_inner_product(sk_a, sk_b).collect()
    assert len(got) == 1
    assert got[0]["est"] == _py_inner_product(a, b, width, 3)


def test_cms_inner_product_never_undercounts(spark):
    # width 8 over 12 keys: heavy collisions — est must still dominate
    # the true inner product sum_k fA(k)*fB(k)
    a = {f"k{i}": i + 1 for i in range(12)}
    b = {f"k{i}": 13 - i for i in range(3, 13)}
    true_ip = sum(a[k] * b[k] for k in set(a) & set(b))
    sk_a = cms_build(_str_keys_df(spark, a), "k", width=8, depth=3)
    sk_b = cms_build(_str_keys_df(spark, b), "k", width=8, depth=3)
    est = cms_inner_product(sk_a, sk_b).collect()[0]["est"]
    assert est >= true_ip > 0


def test_cms_inner_product_zero_overlap_is_zero_not_null(spark):
    # pick keys whose cells never collide at width 4096 (verified by the
    # same md5 arithmetic the operator uses) -> every dot is 0
    a, b = {"alpha": 3}, {"beta": 5}
    assert all(
        _cell("alpha", j, 4096) != _cell("beta", j, 4096) for j in range(3)
    )
    sk_a = cms_build(_str_keys_df(spark, a), "k", width=4096, depth=3)
    sk_b = cms_build(_str_keys_df(spark, b), "k", width=4096, depth=3)
    got = cms_inner_product(sk_a, sk_b).collect()
    assert got[0]["est"] == 0


def test_cms_inner_product_rejects_shape_mismatch(spark):
    sk_a = cms_build(_str_keys_df(spark, {"x": 1}), "k", width=8, depth=3)
    sk_b = cms_build(_str_keys_df(spark, {"x": 1}), "k", width=16, depth=3)
    with pytest.raises(ValueError, match="meta mismatch"):
        cms_inner_product(sk_a, sk_b)


def test_cms_inner_product_plan_has_no_window(spark):
    sk_a = cms_build(_str_keys_df(spark, {"x": 2}), "k", width=8, depth=3)
    sk_b = cms_build(_str_keys_df(spark, {"y": 1}), "k", width=8, depth=3)
    df = cms_inner_product(sk_a, sk_b)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# hll_build_grouped / hll_estimate_grouped
# ---------------------------------------------------------------------------


def test_grouped_hll_matches_global_per_group(spark):
    """The grouped form's whole contract: slicing by group and running
    the GLOBAL build+estimate per slice must give exactly the grouped
    output — registers and staged-integer estimates alike."""
    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hll_build,
        hll_build_grouped,
        hll_estimate,
        hll_estimate_grouped,
    )

    rows = [(f"g{i % 3}", f"item-{i % 500}-{i % 7}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, key string")
    grouped = hll_estimate_grouped(hll_build_grouped(df, "g", "key"), "g")
    got = {r["g"]: r.asDict() for r in grouped.collect()}
    assert set(got) == {"g0", "g1", "g2"}
    for g in sorted(got):
        solo = hll_estimate(
            hll_build(df.where(df.g == g), "key")
        ).collect()[0]
        for col in ("m", "occupied", "n_zero", "z_scaled", "est"):
            assert got[g][col] == solo[col], (g, col)
    # per-group registers equal the per-slice global build too
    reg = hll_build_grouped(df, "g", "key")
    for g in ("g0", "g1", "g2"):
        want = {
            r["bucket"]: r["r"]
            for r in hll_build(df.where(df.g == g), "key").collect()
        }
        gotr = {
            r["bucket"]: r["r"]
            for r in reg.where(f"g = '{g}'").collect()
        }
        assert gotr == want


def test_cms_inner_product_missing_depth_row_means_zero(spark):
    """A depth row with no co-occupied cells proves the true inner
    product is 0 — the min must treat that ABSENT join row as a zero,
    not silently take the min over the colliding rows only (the
    review-caught inner-join gap). Keys are searched deterministically
    for a pair that collides in row d=0 but in neither d=1 nor d=2."""
    width = 16
    pair = None
    for i in range(2000):
        ka, kb = f"pa{i}", f"pb{i}"
        if (
            _cell(ka, 0, width) == _cell(kb, 0, width)
            and _cell(ka, 1, width) != _cell(kb, 1, width)
            and _cell(ka, 2, width) != _cell(kb, 2, width)
        ):
            pair = (ka, kb)
            break
    assert pair is not None
    a, b = {pair[0]: 7}, {pair[1]: 5}
    sk_a = cms_build(_str_keys_df(spark, a), "k", width=width, depth=3)
    sk_b = cms_build(_str_keys_df(spark, b), "k", width=width, depth=3)
    got = cms_inner_product(sk_a, sk_b).collect()
    assert got[0]["est"] == 0
    assert _py_inner_product(a, b, width, 3) == 0


def test_cms_inner_product_refuses_overflowable_masses(spark):
    # two 2^31-weight single-key sketches at width 1: |A|*|B|/width = 2^62
    big = 1 << 31
    df = spark.createDataFrame([("x", big)], "k string, w long")
    sk = cms_build(df, "k", width=1, depth=3, weight_col="w")
    with pytest.raises(ValueError, match="overflow"):
        cms_inner_product(sk, sk)


def test_hll_grouped_and_global_cross_reads_refuse(spark):
    """The grouped flag in the register table's parameters: a grouped
    register table must be unreadable by the GLOBAL read-off/merge
    (which would silently aggregate registers across groups — occupied
    > m, negative z_scaled), and a global build unreadable by the
    grouped read-off."""
    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hll_build,
        hll_build_grouped,
        hll_estimate,
        hll_estimate_grouped,
        hll_merge,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z")], "g string, key string"
    )
    greg = hll_build_grouped(df, "g", "key")
    with pytest.raises(ValueError, match="hll meta mismatch"):
        hll_estimate(greg)
    with pytest.raises(ValueError, match="hll meta mismatch"):
        hll_merge(greg, greg)
    with pytest.raises(ValueError, match="hll meta mismatch"):
        hll_estimate_grouped(hll_build(df, "key"), "g")


def test_hll_grouped_rejects_schema_colliding_group_col(spark):
    """group_col in {bucket, r, g__} would silently duplicate a register
    column through withColumnRenamed instead of erroring (ADVICE r5)."""
    from samu_ocr_extraction_poc_spark.operators.sketch import (
        hll_build_grouped,
        hll_estimate_grouped,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "bucket string, key string"
    )
    for bad in ("bucket", "r", "g__", "est", "m", "occupied", "n_zero",
                "z_scaled"):
        with pytest.raises(ValueError, match="collides"):
            hll_build_grouped(df.withColumnRenamed("bucket", bad), bad, "key")
        with pytest.raises(ValueError, match="collides"):
            hll_estimate_grouped(df, bad)


def test_grouped_quantiles_rejects_schema_colliding_group_col(spark):
    """Same defect class as the HLL guard: the g__ -> group_col reverse
    rename duplicates an output column for group_col in the read-off's
    own schema (r6 review)."""
    from samu_ocr_extraction_poc_spark.operators.sketch import (
        grouped_quantiles,
    )

    df = spark.createDataFrame([("a", 1), ("b", 2)], "g string, v long")
    for bad in ("p", "rnk", "est", "bin_lo", "bin_hi", "g__"):
        with pytest.raises(ValueError, match="collides"):
            grouped_quantiles(
                df.withColumnRenamed("g", bad), bad, "v", [50]
            )
