"""Operator semantics for operators/linkage.py (dirty-record synthesis +
blocked Fellegi-Sunter linkage). Cross-engine value parity lives in
tests/test_oracle_parity.py ("record_linkage"); these tests pin the
scoring ladder, the two-pass blocking union, and determinism against a
pure-Python replay on a crafted customer frame."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark.operators import linkage as LK


def _cust(spark, rows):
    return spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string"
    )


def _py_h(key: str, start: int, hex_chars: int, modulus: int) -> int:
    h = hashlib.md5(key.encode()).hexdigest()
    return int(h[start - 1 : start - 1 + hex_chars], 16) % modulus


def _py_records(rows, copies=2):
    """Serial replay of synth_dirty_records' md5-window draws."""
    out = []
    for ck, name, nat, bal, seg in rows:
        nd0, cents0 = name[9:18], round(bal * 100)
        for v in range(copies + 1):
            k = f"{ck}:{v}"
            nd, nk, cents, sg = nd0, nat, cents0, seg
            if v > 0:
                if _py_h(k, 1, 2, 4) == 0:
                    pos = _py_h(k, 3, 2, 9) + 1
                    nd = nd0[: pos - 1] + str(_py_h(k, 5, 2, 10)) + nd0[pos:]
                if _py_h(k, 7, 2, 5) == 0:
                    nk = (nat + 1 + _py_h(k, 9, 2, 23)) % 25
                if _py_h(k, 11, 2, 4) == 0:
                    cents = cents0 + _py_h(k, 13, 2, 101) - 50
                if _py_h(k, 15, 2, 6) == 0:
                    sg = None
            out.append((ck * 10 + v, ck, nd, nk, cents, sg))
    return out


def test_synthesis_matches_python_replay(spark):
    rows = [
        (i, f"Customer#{i:09d}", i % 25, 100.0 + 7.13 * i, "BUILDING")
        for i in range(40)
    ]
    got = sorted(
        tuple(r) for r in LK.synth_dirty_records(_cust(spark, rows)).collect()
    )
    assert got == sorted(_py_records(rows))


def test_scoring_ladder_and_threshold(spark):
    # two exact copies of one entity, plus a different entity in the SAME
    # nation + balance band (pass-B candidate) that must be rejected:
    # suffix differs (-10) + nation (+15) + bal close (+20) + seg (+10)
    # = 35 < 45.
    rows = [
        (1, "Customer#000000001", 7, 500.00, "AUTO"),
        (2, "Customer#000000002", 7, 500.50, "AUTO"),
    ]
    recs = spark.createDataFrame(
        _py_records(rows, copies=0),
        "rec_id long, entity_id long, name_digits string, nationkey long, "
        "cents long, segment string",
    )
    # copies=0 -> originals only; the cross-entity pair is the only cand
    assert LK.blocked_link_pairs(recs).count() == 0
    # same pair but with identical names scores 40+15+20+10 = 85
    recs2 = recs.withColumn("name_digits", F.lit("000000009"))
    [(a, b, score, is_true)] = [
        tuple(r) for r in LK.blocked_link_pairs(recs2).collect()
    ]
    assert (a, b, score, is_true) == (10, 20, 85, 0)


def test_pass_b_recovers_suffix_mutated_pairs(spark):
    # a mutation in the name SUFFIX breaks pass A's block key; the pair
    # must still surface through pass B (nation + balance band) and score
    # -10 + 15 + 20 + 10 = 35 -> visible at threshold 35, absent at 45.
    recs = spark.createDataFrame(
        [
            (10, 1, "000000001", 3, 1000, "AUTO"),
            (11, 1, "000000901", 3, 1000, "AUTO"),
        ],
        "rec_id long, entity_id long, name_digits string, nationkey long, "
        "cents long, segment string",
    )
    assert LK.blocked_link_pairs(recs, threshold=45).count() == 0
    [(a, b, score, is_true)] = [
        tuple(r)
        for r in LK.blocked_link_pairs(recs, threshold=35).collect()
    ]
    assert (a, b, score, is_true) == (10, 11, 35, 1)


def test_null_segment_is_neutral_and_pairs_deduped(spark):
    # NULL segment contributes 0 (not -15); the pair qualifies for BOTH
    # blocking passes and must appear exactly once.
    recs = spark.createDataFrame(
        [
            (10, 1, "000000001", 3, 1000, None),
            (11, 1, "000000001", 3, 1010, "AUTO"),
        ],
        "rec_id long, entity_id long, name_digits string, nationkey long, "
        "cents long, segment string",
    )
    out = [tuple(r) for r in LK.blocked_link_pairs(recs).collect()]
    assert out == [(10, 11, 40 + 15 + 20 + 0, 1)]


def test_linkage_deterministic_across_runs(spark):
    rows = [
        (i, f"Customer#{i:09d}", (3 * i) % 25, 50.0 * i - 400, "MACHINERY")
        for i in range(60)
    ]
    df = _cust(spark, rows)
    a = sorted(tuple(r) for r in LK.blocked_link_pairs(
        LK.synth_dirty_records(df)).collect())
    b = sorted(tuple(r) for r in LK.blocked_link_pairs(
        LK.synth_dirty_records(df)).collect())
    assert a == b and len(a) > 0


def test_failed_link_pairs_release_the_record_checkpoint(spark):
    """An analysis error in the blocking/scoring plan must not leave the
    checkpointed record table cached for the session's lifetime."""
    # boolean cents: the records checkpoint fine, then the balance-band
    # blocking key (cents DIV 10000) fails analysis
    recs = spark.createDataFrame(
        [(10, 1, "000000001", 7, True, "AUTO"), (20, 2, "000000001", 7, False, "AUTO")],
        "rec_id long, entity_id long, name_digits string, nationkey long, "
        "cents boolean, segment string",
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(AnalysisException):
        LK.blocked_link_pairs(recs)
    assert jsc.getPersistentRDDs().size() == before
