"""Typed schemas for the engine.

The reference leaves its output schemaless (DynamoDB items get whatever the
handler marshals — reference lib/utils.ts:14-19); we fix it: every attribute
any handler writes becomes a typed column (SURVEY.md §1.3).

Input contract per BASELINE.json.input_hint:
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE),
    ]
)

# Header struct: field names (incl. the reference's typos `plaintifs` /
# `defendents`) mirror lib/pleading-extractor/stack.TextSaver.ts:130-135;
# state/county/court/district are the Textract query answers merged into the
# same `header` map (stack.TextSaver.ts:224-228, queries defined at
# stack.PleadingExtractor.ts:41-50).
HEADER_STRUCT = T.StructType(
    [
        T.StructField("plaintifs", T.StringType()),
        T.StructField("caseNumber", T.StringType()),
        T.StructField("division", T.StringType()),
        T.StructField("defendents", T.ArrayType(T.StringType())),
        T.StructField("state", T.ArrayType(T.StringType())),
        T.StructField("county", T.ArrayType(T.StringType())),
        T.StructField("court", T.ArrayType(T.StringType())),
        T.StructField("district", T.ArrayType(T.StringType())),
    ]
)

# stack.ICD10CodeSaver.ts:23-28
ICD10_STRUCT = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("condition", T.StringType()),
        T.StructField("attributes", T.ArrayType(T.StringType())),
    ]
)

# stack.RXNORMSaver.ts:23-29
PRESCRIPTION_STRUCT = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("attributes", T.ArrayType(T.StringType())),
    ]
)

# stack.SNOMEDSaver.ts:25-33
SNOMED_STRUCT = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("attributes", T.ArrayType(T.StringType())),
        T.StructField("traits", T.ArrayType(T.StringType())),
    ]
)

# stack.ExpenseSaver.ts:27-45,206-244
RECEIPT_INFO_STRUCT = T.StructType(
    [
        T.StructField("accountNumbers", T.ArrayType(T.StringType())),
        T.StructField(
            "provider",
            T.StructType(
                [
                    T.StructField("names", T.ArrayType(T.StringType())),
                    T.StructField("addresses", T.ArrayType(T.StringType())),
                ]
            ),
        ),
        T.StructField(
            "receiver",
            T.StructType(
                [
                    T.StructField("names", T.ArrayType(T.StringType())),
                    T.StructField("addresses", T.ArrayType(T.StringType())),
                ]
            ),
        ),
    ]
)

EXPENSE_PAGE_STRUCT = T.StructType(
    [
        T.StructField("totalExpenses", T.StringType()),
        T.StructField("totalPaid", T.StringType()),
        T.StructField("totalDue", T.StringType()),
        T.StructField("receiptInfo", RECEIPT_INFO_STRUCT),
        T.StructField("expenses", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
    ]
)

# lib/text-extractor.ts:35-114 (TextExtractorEmailResult.toDynamo fields)
EMAIL_STRUCT = T.StructType(
    [
        T.StructField("messageId", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("from", T.ArrayType(T.StringType())),
        T.StructField("to", T.ArrayType(T.StringType())),
        T.StructField("cc", T.ArrayType(T.StringType())),
        T.StructField("bcc", T.ArrayType(T.StringType())),
        T.StructField("subject", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("references", T.ArrayType(T.StringType())),
        T.StructField("attachments", T.ArrayType(T.StringType())),
    ]
)

# correspondence-extractor.text-extract.ts:101-107
TRANSCRIPT_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("sentiment", T.StringType()),
        T.StructField("participant", T.StringType()),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("doc_type", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("pages", T.ArrayType(T.StringType())),
        T.StructField("raw_text", T.StringType()),
        T.StructField("header", HEADER_STRUCT),
        T.StructField("paragraphs", T.ArrayType(T.StringType())),
        T.StructField("entities", T.ArrayType(T.StringType())),
        T.StructField("sentiments", T.ArrayType(T.StringType())),
        T.StructField("key_phrases", T.ArrayType(T.StringType())),
        T.StructField("icd10_conditions", T.ArrayType(ICD10_STRUCT)),
        T.StructField("prescriptions", T.ArrayType(PRESCRIPTION_STRUCT)),
        T.StructField("snomed_codes", T.ArrayType(SNOMED_STRUCT)),
        T.StructField("expenses_by_page", T.ArrayType(EXPENSE_PAGE_STRUCT)),
        T.StructField("email", EMAIL_STRUCT),
        # attachment sidecar (reference saves content to S3,
        # correspondence-extractor.text-extract.ts:63-68)
        T.StructField(
            "attachments_content",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("filename", T.StringType()),
                        T.StructField("content", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("transcript", T.ArrayType(TRANSCRIPT_STRUCT)),
        T.StructField("out_spans", SPANS_TYPE),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("proc_us", T.LongType()),
    ]
)


def _columns(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in fields])


# The contract's test tables (``<sf_dir>/<name>.parquet``), declared so a
# read takes its schema from here: a parquet read without one infers it
# from a file footer in a Spark job of its own. Timestamps are written
# timezone-naive, so Spark reads them as TIMESTAMP_NTZ.
_BIGINT, _INT, _DOUBLE, _STRING = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()
TABLE_SCHEMAS = {
    "customer": _columns(
        ("c_custkey", _BIGINT), ("c_name", _STRING), ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE), ("c_mktsegment", _STRING),
    ),
    # doc_id is a key: no two rows share a non-null doc_id, so the row-local
    # per-document operators (operators/corpus.py) equal the oracles'
    # GROUP BY doc_id (tests/test_oracle_edge.py checks every table).
    "documents": _columns(
        ("doc_id", _BIGINT), ("text", _STRING), ("lang", _STRING),
        ("source", _STRING), ("n_chars", _BIGINT),
    ),
    "embeddings": _columns(
        ("vec_id", _BIGINT), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT),
    ),
    "events": _columns(
        ("event_id", _BIGINT), ("ts", T.TimestampNTZType()), ("user_id", _BIGINT),
        ("event_type", _STRING), ("value", _DOUBLE), ("props", _STRING),
    ),
    "lineitem": _columns(
        ("l_orderkey", _BIGINT), ("l_partkey", _BIGINT), ("l_suppkey", _BIGINT),
        ("l_linenumber", _INT), ("l_quantity", _DOUBLE), ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE), ("l_tax", _DOUBLE), ("l_returnflag", _STRING),
        ("l_linestatus", _STRING), ("l_shipdate", T.TimestampNTZType()),
    ),
    "nation": _columns(("n_nationkey", _INT), ("n_name", _STRING), ("n_regionkey", _INT)),
    "orders": _columns(
        ("o_orderkey", _BIGINT), ("o_custkey", _BIGINT), ("o_orderstatus", _STRING),
        ("o_totalprice", _DOUBLE), ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", _STRING),
    ),
    "region": _columns(("r_regionkey", _INT), ("r_name", _STRING)),
}

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("status", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_spans", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)
