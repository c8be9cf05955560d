"""Replicates the driver's correctness gate locally at sf0.001: every
queries() entry with an oracle must match DuckDB on row count, column names,
and (order-insensitively) values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def _norm(v):
    """Type-strict canonicalization (driver-faithful, VERDICT.md round-1
    item 2): every value becomes a (type_tag, canonical_string) pair, so an
    int64 "42" can never equal a float/decimal "42.0", and a Decimal keeps
    its scale (trailing zeros) — exactly the two mechanisms behind the
    round-1 driver hash failures. No Decimal->float masking."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("ts", str(v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("list", str([_norm(x) for x in v]))
    return (type(v).__name__, str(v))


def _rows(rows, cols):
    normed = [tuple(_norm(r[c]) for c in cols) for r in rows]
    return sorted(normed, key=lambda t: tuple((v is None, str(v)) for v in t))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types_are_driver_safe(duck, name):
    """The driver's value canonicalization renders DuckDB HUGEINT (the
    result type of sum(BIGINT/INT)) as a float and is trailing-zero-
    sensitive for DECIMAL — both hash-mismatch against Spark's int64/string.
    Forbid them in any FINAL oracle column: integer sums must be
    CAST(... AS BIGINT), money must be rendered VARCHAR (or rounded DOUBLE)
    on both sides. (VERDICT.md round-1 items 1-2.)"""
    desc = duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    bad = [(c[0], c[1]) for c in desc
           if c[1] == "HUGEINT" or c[1].startswith("DECIMAL")]
    assert not bad, f"{name}: driver-unsafe oracle output types {bad}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_spark_output_types_are_driver_safe(spark, name):
    """Mirror of the oracle-side check: no DecimalType may reach a final
    Spark output column (render VARCHAR / rounded DOUBLE instead)."""
    from pyspark.sql.types import DecimalType

    sdf = QUERIES[name](spark, SF_DIR)
    bad = [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not bad, f"{name}: DecimalType output columns {bad}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(QUERIES[name](spark, SF_DIR), duck, name)


def _assert_matches_oracle(sdf, duck, name):
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    ores = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in ores.description]
    duck_rows = [dict(zip(duck_cols, r)) for r in ores.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    # Non-vacuity: a 0-row result proves nothing (round-1 q5 /
    # customers_without_orders lesson — VERDICT.md item 3).
    assert len(spark_rows) > 0, f"{name}: vacuous (0 rows) — check is meaningless"
    cols = sorted(spark_cols)
    srows, drows = _rows(spark_rows, cols), _rows(duck_rows, cols)
    mismatches = [(a, b) for a, b in zip(srows, drows) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def _sibling_sf(sf: str) -> str:
    """The ``sf`` test tables next to SF_DIR's."""
    return os.path.join(os.path.dirname(SF_DIR), sf)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ["pagerank", "curate_corpus"])
def test_driver_finish_and_spark_path_match_oracle(spark, name, sf):
    """pagerank and curate_corpus finish small inputs on the driver (the
    pagerank sweeps; the curation gates as literal frames); threshold -1
    pins pagerank's Spark loop and the gates' checkpoints. Both paths
    match the oracle."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{_sibling_sf(sf)}/documents.parquet'")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for value in (old, "-1"):
            spark.conf.set(key, value)
            _assert_matches_oracle(QUERIES[name](spark, _sibling_sf(sf)), con, name)
    finally:
        spark.conf.set(key, old)
        con.close()


@pytest.mark.parametrize(
    "name", ["pagerank", "repetition_stats", "quality_filter", "gopher_repetition"]
)
def test_null_doc_id_matches_oracle(spark, tmp_path, name):
    """A documents table with one null doc_id. pagerank keeps it as a node
    (the oracle's prnodes does) but leaves it out of n (its
    count(DISTINCT doc_id) skips nulls), on the driver finish and on the
    Spark loop (threshold -1). The repetition signals join to documents by
    id in the oracles, so the null-id row gets none: NULL fractions, 0
    Gopher n-gram chars, and a quality gate it passes on quality alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_DIR}/documents.parquet")
    null_row = {c: [None] for c in table.column_names}
    null_row["text"] = [
        "the quick brown fox jumps over the lazy dog and a cat sat on the mat"
        " in the sun of the day the quick brown fox"
    ]
    table = pa.concat_tables([table, pa.table(null_row, schema=table.schema)])
    pq.write_table(table, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for value in (old, "-1"):
            spark.conf.set(key, value)
            sdf = QUERIES[name](spark, str(tmp_path))
            assert sdf.where(sdf[sdf.columns[0]].isNull()).count() == 1
            _assert_matches_oracle(sdf, con, name)
    finally:
        spark.conf.set(key, old)
        con.close()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_table_schemas_match_parquet(spark, sf):
    """contract._t reads every test table with its declared schema; each
    one is the schema Spark infers from the parquet file."""
    from samu_ocr_extraction_poc_spark.schema import TABLE_SCHEMAS

    for name, schema in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{_sibling_sf(sf)}/{name}.parquet").schema
        assert inferred == schema, name


def test_table_read_runs_no_job(spark):
    """A schema-less parquet read infers the schema from a file footer in a
    Spark job of its own; contract._t reads with the declared schema, so
    reading a table and its schema submits no job."""
    from samu_ocr_extraction_poc_spark.contract import _t

    sc = spark.sparkContext
    group = "table-read"
    sc.setJobGroup(group, group)
    try:
        for name in ("customer", "documents", "embeddings", "events",
                     "lineitem", "nation", "orders", "region"):
            assert _t(spark, SF_DIR, name).schema.names
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert jobs == []


# Spark jobs per warm call at sf0.01 (local[4]). Each job pays Spark's
# per-job floor (planning, AQE re-planning, JIT), which is what bounds
# these queries on small tables; lower a number when a change cuts jobs.
CURATION_JOB_BUDGET = {
    "dedup_components": 8,
    "dedup_apply": 9,
    "bpe_train_merges": 3,
    "pagerank": 7,
    "curate_corpus": 13,
    "repetition_stats": 2,
    "quality_filter": 2,
    "gopher_repetition": 2,
}


def test_curation_queries_stay_within_their_job_budget(spark):
    """Each curation query, called warm at sf0.01, runs at most its budgeted
    number of jobs. Jobs are counted with the scheduler's job-id counter,
    which also sees the jobs that queries submit from their own threads
    (outside the caller's job group)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    sf = _sibling_sf("sf0.01")
    used = {}
    for name in CURATION_JOB_BUDGET:
        QUERIES[name](spark, sf).collect()  # warm
        first = dag.nextJobId()
        QUERIES[name](spark, sf).collect()
        used[name] = dag.nextJobId() - first
    over = {q: (n, CURATION_JOB_BUDGET[q]) for q, n in used.items() if n > CURATION_JOB_BUDGET[q]}
    assert not over, f"jobs (used, budget): {over}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "doc_id" in df.columns


ROWS_ONLY_ALLOWLIST = {
    # intentionally rows-only, with reasons:
    # - extract_pipeline: full wide-row Arrow engine output (its routing,
    #   span and byte totals ARE oracled via the extract_*_check queries)
    # - html_strip: Arrow-UDF DOM walk over synthesized HTML (the html
    #   family's output byte mass is oracled via extract_html_text_check)
    "extract_pipeline", "html_strip",
}


def test_every_query_is_oracled_or_allowlisted():
    """Contract hygiene: a new queries() entry must either ship a DuckDB
    oracle or be explicitly allowlisted as rows-only with a reason above."""
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY_ALLOWLIST
    assert not missing, f"queries lacking oracles: {missing}"
    stale = ROWS_ONLY_ALLOWLIST - set(QUERIES)
    assert not stale, f"allowlist entries without queries: {stale}"
    assert not (ROWS_ONLY_ALLOWLIST & set(ORACLES))


# The driver's correctness gate checks only the FIRST 50 queries() entries
# (insertion order). This list IS the round-5 rotation decision — the
# flagship extraction family, the r5-new entries (media_features,
# bpe_train_long), the kept r4-new block, then the stalest evidence first:
# the r02-only pair, the r03-only fill, and simhash_near_pairs, the head
# of the position-51+ block, in the slot a deleted entry freed (the entries cut by the cap —
# dedup_components, simhash, bpe_token_counts, budget_sample, pii_redact,
# stratified_sample, sample_documents, chunk_documents, rollup_revenue,
# pivot_status_by_segment, doc_digests —
# have same-family in-window coverage and head the r6 rotation; see the
# ORDERING CONTRACT comment at contract.py QUERIES). Change it ONLY
# together with the dict: the test below exists so adding a query can
# never again silently push verification out of the gate window
# (VERDICT r3 items 1+3, r4 item 3).
DRIVER_WINDOW_50 = [
    "extract_pipeline", "extract_routing_check", "extract_letter_text_check",
    "extract_email_text_check", "extract_transcript_text_check",
    "extract_html_text_check", "extract_pleading_medical_text_check",
    "html_strip",
    "media_features", "bpe_train_long",
    "cms_word_counts", "length_quantiles", "source_length_quantiles",
    "ccnet_buckets", "gopher_repetition", "heavy_hitters", "vocab_coverage",
    "hashed_classify", "alpha_mix", "hll_distinct", "hll_merge",
    "phrase_search", "asof_join", "range_join", "proximity_search",
    "pagerank", "tfidf_pairs", "record_linkage", "collocations",
    "triangle_count", "funnel_conversion", "minhash_jaccard_est",
    "cohort_retention", "table_profile", "salted_join_check",
    "decayed_topics", "sliding_active_users",
    "skew_audit", "cms_join_size", "zorder_layout", "grouped_hll",
    "remove_shared_windows", "extract_order_check",
    "c4_rules", "url_dedup", "bloom_probe",
    "user_sessions",
    "contamination_check",
    "shuffle_order",
    "simhash_near_pairs",
]


def test_driver_window_priority_order():
    """Rotate-proofing: the first 50 queries() entries must be exactly the
    pinned priority window above. A failing diff here means a registry
    edit changed what the driver gate verifies — re-decide the rotation
    explicitly (and update both places) rather than letting insertion
    order decide it."""
    assert len(DRIVER_WINDOW_50) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW_50
