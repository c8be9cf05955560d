"""Oracle parity on a pathological corpus: empty text, single tokens,
double spaces, unicode, regex metacharacters, money strings, huge docs.
The driver's testdata is well-behaved; real corpora are not — every
documents-based oracled query must stay engine-identical on these."""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod
from test_oracle_parity import _sibling_sf

EDGE_DOCS = [
    (1, "", "en", "src0", 0),
    (2, "one", "en", "src1", 3),
    (3, "a  b", "en", "src2", 4),  # double space -> empty token
    (4, "café naïve Fähre 北京 résumé", "fr", "src3", 20),
    (5, "the the the the the and and is of a", "en", "src4", 35),
    (6, "$1,234.50 (50%) [brackets] {braces} a.b*c+d?", "en", "src5", 40),
    (7, "word " * 500, "en", "src6", 2500),
    (8, "Tab\tseparated\tand trailing spaces   ", "en", "src7", 30),
    (9, "el la los que y el la", "es", "src8", 20),
    (10, "der und die nicht ist der", "de", "src9", 25),
]

DOC_QUERIES = [
    "page_group_concat", "doc_digests", "source_router", "dedup_exact",
    "dedup_keepfirst", "minhash_signatures", "minhash_lsh_pairs", "simhash",
    "simhash_near_pairs", "ngram_jaccard_top_pairs", "token_stats",
    "lang_id_heuristic", "bpe_token_counts",
    "repetition_stats", "pack_token_windows", "pack_assignments",
    "stratified_sample", "sample_documents", "quality_filter", "budget_sample",
    "pii_redact", "lm_surprise", "lm_surprise_bigram", "kmv_overlap",
    "boilerplate_strip", "kmv_distinct", "curate_corpus", "dedup_apply",
    "shared_window_pairs", "contamination_check", "chunk_documents",
    "segment_dedup", "dsir_weights", "dsir_select",
    "bpe_train_merges", "bpe_encode_counts",
    "winnow_fingerprints", "winnow_pairs", "blocklist_filter",
    "contamination_report", "source_stats", "source_filter", "curate_corpus_v2",
    "incremental_dedup", "epoch_upsample", "top_ngrams", "sample_exact_n",
    "remove_shared_windows", "gopher_rules", "c4_rules", "url_dedup",
    "bloom_probe",
    # round-5 additions (media_features synthesizes its own table; the
    # rest are documents-based and must hold on the pathological corpus)
    "bpe_train_long", "cms_word_counts",
    "length_quantiles", "source_length_quantiles", "ccnet_buckets",
    "gopher_repetition", "shuffle_order", "heavy_hitters", "vocab_coverage",
    "hashed_classify", "alpha_mix", "hll_distinct", "hll_merge",
    "phrase_search", "proximity_search", "pagerank", "tfidf_pairs",
    "collocations", "triangle_count", "minhash_jaccard_est",
    "grouped_hll",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge")
    spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet/*.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_edge_corpus_parity(spark, edge_dir, edge_duck, name):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    sdf = queries[name](spark, edge_dir)
    srows = [r.asDict() for r in sdf.collect()]
    ores = edge_duck.execute(oracles[name])
    dcols = [d[0] for d in ores.description]
    drows = [dict(zip(dcols, r)) for r in ores.fetchall()]
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    cols = sorted(sdf.columns)
    key = lambda t: tuple((v is None, str(v)) for v in t)  # noqa: E731
    a = sorted([tuple(_norm(r[c]) for c in cols) for r in srows], key=key)
    b = sorted([tuple(_norm(r[c]) for c in cols) for r in drows], key=key)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    assert not bad, f"{name}: {bad[:3]}"


def test_edge_corpus_has_the_declared_documents_schema(spark, edge_dir):
    """contract._t reads the edge corpus with the declared documents schema;
    it is the schema Spark infers from the written files."""
    from samu_ocr_extraction_poc_spark.schema import TABLE_SCHEMAS

    inferred = spark.read.parquet(f"{edge_dir}/documents.parquet").schema
    assert inferred == TABLE_SCHEMAS["documents"]


_PERFBENCH_DATA = Path(__file__).resolve().parents[1] / "perfbench" / "data"
DOCUMENTS_FILES = {
    **{sf: _sibling_sf(sf) for sf in ("sf0.001", "sf0.01", "sf0.1")},
    **{f"perfbench-{sf}": str(_PERFBENCH_DATA / sf) for sf in ("sf0.01", "sf0.1")},
}


@pytest.mark.parametrize("sf_dir", DOCUMENTS_FILES.values(), ids=DOCUMENTS_FILES.keys())
def test_documents_doc_id_is_a_key(sf_dir):
    """No two rows of a documents table share a non-null doc_id
    (schema.TABLE_SCHEMAS): the row-local operators score each row, the
    oracles group by doc_id, and the two agree only on a key."""
    n, n_ids = duckdb.sql(
        f"SELECT count(doc_id), count(DISTINCT doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert n > 0 and n == n_ids, (n, n_ids)


def test_edge_corpus_doc_id_is_a_key():
    ids = [row[0] for row in EDGE_DOCS if row[0] is not None]
    assert len(ids) == len(set(ids))
