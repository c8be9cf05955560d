"""The extraction pipeline: one Arrow-batched UDF stage over
``documents(doc_id, spans)`` + typed result columns + per-partition lineage +
checkpoint-resume (SURVEY.md §3, §7; BASELINE.json north_rule).

Physical plan (SURVEY.md §4): partition-pruned scan -> (repartition on
hash(doc_id) only when the caller asks for write co-location, or when the
scan has fewer splits than ``defaultParallelism``, the executor slots) ->
ONE mapInArrow stage fusing all per-document operators (mirroring the
reference's hand-fused Lambda handlers) -> narrow selects -> partitioned
writes. At most one wide shuffle total.

Routing (F8, correspondence-extractor.text-extract.ts:21,79,142,163): the
reference dispatches on file suffix; here the span-kind inventory of a
document selects its family, and unknown kinds reproduce the
``'Unknown file type'`` fallback.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import nlp
from ..operators import medical
from ..operators.correspondence import (
    fold_transcript_text,
    join_lines,
    parse_email,
    parse_transcript,
    transcript_sentiments,
)
from ..operators.expense import expenses_by_page
from ..operators.html import strip_boilerplate
from ..operators.layout import reading_order_lines
from ..operators.pages import get_page_text, line_texts, real_pages
from ..operators.pleading import get_header, get_numbered_paragraphs, get_queries
from ..schema import LINEAGE_SCHEMA, RESULT_SCHEMA

_QUERY_ALIASES = ("state", "county", "court", "district")  # stack.PleadingExtractor.ts:41-50
_HEADER_FIELDS = ("plaintifs", "caseNumber", "division", "defendents")


def merge_header_fields(
    queries: dict,
    header: dict,
    aliases: tuple = _QUERY_ALIASES,
    fields: tuple = _HEADER_FIELDS,
) -> dict:
    """Reference merge order ``{...queries, ...header}`` (pleading
    stack.TextSaver.ts:219-231): header fields OVERRIDE query aliases on a
    key collision. With the current 4+4 disjoint key sets the order is
    unobservable, but the priority is load-bearing if an alias is ever added
    that shadows a header field — pinned by test_doccore."""
    return {
        **{a: queries.get(a, []) for a in aliases},
        **{k: header.get(k) for k in fields},
    }


def route_doc_type(kinds: set[str]) -> str:
    """F8 suffix router restated over span kinds (priority order mirrors the
    reference's if-chain: .eml, .json, .pdf, unknown)."""
    if "email" in kinds:
        return "correspondence_email"
    if "transcript_utt" in kinds:
        return "correspondence_transcript"
    if "query" in kinds or "query_result" in kinds:
        return "pleading"
    if "med_entity" in kinds or "expense_field" in kinds or "expense_item" in kinds:
        return "medical"
    if "html" in kinds:
        return "html"
    if "word_box" in kinds:
        return "layout"
    if "line" in kinds or "page_break" in kinds or "media" in kinds:
        return "correspondence_letter"
    return "unknown"


def _ocr_text(media_ref: str | None, ocr_lookup: dict[str, str]) -> str:
    """N7: deterministic media_ref -> text lookup (stands in for Textract
    sync OCR, text-extractor.ts:155-181)."""
    if not media_ref:
        return ""
    return ocr_lookup.get(media_ref, f"<unocr:{media_ref}>")


def _empty_result(doc_id: str) -> dict:
    return {
        "doc_id": doc_id,
        "doc_type": None,
        "status": "done",
        "error": None,
        "pages": None,
        "raw_text": None,
        "header": None,
        "paragraphs": None,
        "entities": None,
        "sentiments": None,
        "key_phrases": None,
        "icd10_conditions": None,
        "prescriptions": None,
        "snomed_codes": None,
        "expenses_by_page": None,
        "email": None,
        "attachments_content": None,
        "transcript": None,
        "out_spans": None,
        "n_spans": 0,
        "proc_us": 0,
    }


def _reinterleave(
    spans: list[dict],
    ocr_lookup: dict[str, str],
    html_blocks: dict[int, list[str]] | None = None,
    layout_lines: list[str] | None = None,
) -> list[dict]:
    """Re-interleave extraction output into ordered (kind, text, media_ref,
    offset) spans — the north_rule per-row invariant. ``spans`` must already
    be sorted by offset, as :func:`extract_document` sorts them. Content
    spans keep that order; media is OCR'd in place; html expands to its kept
    blocks; word_box groups collapse into reading-ordered lines.

    ``html_blocks``/``layout_lines`` carry results already computed by the
    family branch so the DOM parse / XY-cut runs once per document.
    """
    html_blocks = html_blocks or {}
    out: list[dict] = []
    word_box_seen = False
    for s in spans:
        kind = s.get("kind")
        if kind == "line" and s.get("text"):
            out.append({"kind": "line", "text": s["text"], "media_ref": ""})
        elif kind == "page_break":
            out.append({"kind": "page_break", "text": s.get("text") or "", "media_ref": ""})
        elif kind == "media":
            ref = s.get("media_ref") or ""
            out.append({"kind": "ocr_text", "text": _ocr_text(ref, ocr_lookup), "media_ref": ref})
        elif kind == "html" and s.get("text"):
            off = s.get("offset") or 0
            blocks = html_blocks.get(off)
            if blocks is None:
                blocks = strip_boilerplate(s["text"])
            for block in blocks:
                out.append({"kind": "text", "text": block, "media_ref": ""})
        elif kind == "word_box" and not word_box_seen:
            word_box_seen = True
            lines = layout_lines if layout_lines is not None else reading_order_lines(spans)
            for line in lines:
                out.append({"kind": "line", "text": line, "media_ref": ""})
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def _salvaged_spans(
    spans: list[dict],
    ocr_lookup: dict[str, str],
    html_blocks: dict[int, list[str]],
    layout_lines: list[str] | None,
) -> list[dict]:
    """An error row's out_spans: :func:`_reinterleave`'s output, with each
    html span the family branch did not parse parsed here on its own, so
    only a span whose parse raises contributes nothing; line, media and
    the other html spans stay."""
    html_blocks = dict(html_blocks)
    for s in spans:
        off = s.get("offset") or 0
        if s.get("kind") == "html" and s.get("text") and off not in html_blocks:
            try:
                html_blocks[off] = strip_boilerplate(s["text"])
            except Exception:  # noqa: BLE001
                html_blocks[off] = []
    return _reinterleave(spans, ocr_lookup, html_blocks, layout_lines)


def extract_document(
    doc_id: str,
    spans: list[dict],
    ocr_lookup: dict[str, str],
    thresholds: medical.Thresholds = medical.DEFAULT_THRESHOLDS,
) -> dict:
    """All per-document operators fused — the batch restatement of the
    reference's three Lambda families (SURVEY.md §3.1-3.3)."""
    res = _empty_result(doc_id)
    spans = sorted(spans, key=lambda s: s.get("offset") or 0)
    kinds = {s.get("kind") for s in spans}
    doc_type = route_doc_type(kinds)
    res["doc_type"] = doc_type
    res["n_spans"] = len(spans)
    html_blocks: dict[int, list[str]] = {}
    layout_lines: list[str] | None = None

    # OCR media refs inline so their text participates in line flows (S5/S6
    # collapse: the async job split disappears in batch, SURVEY §2.1).
    # Non-media spans are shared, not copied: no downstream operator
    # mutates a span dict (get_header's _splice edits its own list of
    # references; _reinterleave builds fresh dicts), and the per-span
    # dict() copy was a measurable slice of the Arrow-stage Python time.
    work_spans = []
    for s in spans:
        if s.get("kind") == "media":
            work_spans.append(
                {
                    "kind": "line",
                    "text": _ocr_text(s.get("media_ref"), ocr_lookup),
                    "media_ref": s.get("media_ref"),
                    "offset": s.get("offset"),
                }
            )
        else:
            work_spans.append(s)

    try:
        if doc_type == "pleading":
            # §3.3: pages (A1) -> queries (J1) -> header (W1) -> per-page
            # entities (N1, flattened A6) -> paragraphs (W2).
            pages = get_page_text(work_spans)
            queries = get_queries(work_spans)
            header = get_header(work_spans)
            entities = nlp.extract_entities_for_texts(real_pages(pages))
            lines = [s for s in work_spans if s.get("kind") == "line"]
            paragraphs = get_numbered_paragraphs(lines)
            res.update(
                pages=[p if p is not None else None for p in pages],
                header=merge_header_fields(queries, header),
                paragraphs=paragraphs,
                # reference stores `new Set(entities)` (TextSaver.ts:228) —
                # insertion-ordered distinct (A2)
                entities=entities,
                raw_text=join_lines(line_texts(work_spans)),
            )
        elif doc_type == "medical":
            entities = medical.med_entities(work_spans)
            pages = get_page_text(work_spans)
            res.update(
                pages=pages,
                raw_text=join_lines(line_texts(work_spans)),
                icd10_conditions=medical.icd10_conditions(entities, thresholds),
                prescriptions=medical.prescriptions(entities, thresholds),
                snomed_codes=medical.snomed_codes(entities, thresholds),
                expenses_by_page=expenses_by_page(work_spans),
            )
        elif doc_type == "correspondence_email":
            raw = next(
                (s["text"] for s in work_spans if s.get("kind") == "email" and s.get("text")),
                "",
            )
            email = parse_email(raw)
            body = email.get("body")
            res.update(
                email={k: email.get(k) for k in (
                    "messageId", "date", "from", "to", "cc", "bcc",
                    "subject", "body", "references", "attachments")},
                attachments_content=email.get("attachmentsWithContent"),
                entities=nlp.extract_entities_for_texts([body]),
                sentiments=nlp.extract_sentiments_for_texts([body]),
                key_phrases=nlp.extract_key_phrases_for_texts([body]),
                raw_text=body,
            )
        elif doc_type == "correspondence_transcript":
            transcript = parse_transcript(work_spans)
            folded = fold_transcript_text(transcript)
            res.update(
                transcript=[
                    {
                        "text": u.get("Content"),
                        "sentiment": u.get("Sentiment"),
                        "participant": u.get("ParticipantId"),
                    }
                    for u in transcript
                ],
                entities=nlp.extract_entities_for_texts([folded]),
                sentiments=transcript_sentiments(transcript),
                key_phrases=nlp.extract_key_phrases_for_texts([folded]),
                raw_text=folded,
            )
        elif doc_type == "correspondence_letter":
            # §3.2 .pdf path -> text-saver: join lines (A5), N1/N2/N4 on the
            # whole text (correspondence-extractor.text-saver.ts:8-61).
            lines = line_texts(work_spans)
            text = join_lines(lines)
            res.update(
                raw_text=text,
                pages=get_page_text(work_spans),
                entities=nlp.extract_entities_for_texts([text]),
                sentiments=nlp.extract_sentiments_for_texts([text]),
                key_phrases=nlp.extract_key_phrases_for_texts([text]),
            )
        elif doc_type == "html":
            blocks: list[str] = []
            for s in work_spans:
                if s.get("kind") == "html" and s.get("text"):
                    stripped = strip_boilerplate(s["text"])
                    html_blocks[s.get("offset") or 0] = stripped
                    blocks.extend(stripped)
                elif s.get("kind") == "line" and s.get("text"):
                    blocks.append(s["text"])
            text = join_lines(blocks)
            res.update(
                raw_text=text,
                entities=nlp.extract_entities_for_texts([text]),
                sentiments=nlp.extract_sentiments_for_texts([text]),
                key_phrases=nlp.extract_key_phrases_for_texts([text]),
            )
        elif doc_type == "layout":
            layout_lines = reading_order_lines(work_spans)
            res.update(raw_text=join_lines(layout_lines), paragraphs=layout_lines)
        else:
            # 'Unknown file type' passthrough (text-extract.ts:163)
            res.update(status="done", error=None, raw_text=None)
            res["doc_type"] = "unknown"
        res["out_spans"] = _reinterleave(spans, ocr_lookup, html_blocks, layout_lines)
    except Exception as e:  # noqa: BLE001 — poison-document guard
        # BadFormatError docs, and at 10^12 docs any single malformed
        # document, emit an error-status row instead of failing the job
        # (lineage requirement, SURVEY §7 'what's hard'; the lineage table
        # surfaces it and the partition still completes).
        res["status"] = "error"
        res["error"] = f"{type(e).__name__}: {e}"
        try:
            res["out_spans"] = _salvaged_spans(spans, ocr_lookup, html_blocks, layout_lines)
        except Exception:  # noqa: BLE001
            res["out_spans"] = []
    return res


def _pylist(arr) -> list:
    """``arr.to_pylist()``, converted in C++ through numpy for string arrays
    and null-free integer arrays instead of one Python scalar at a time.
    Other arrays take ``to_pylist()``: numpy would turn an integer array
    with nulls into floats with NaN."""
    t = arr.type
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or (pa.types.is_integer(t) and not arr.null_count)
    ):
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()


def decode_spans(col) -> list[list]:
    """``[x or [] for x in col.to_pylist()]`` for a ``spans``
    list<struct> Arrow column, built from one :func:`_pylist` conversion of
    the list offsets and of each struct field instead of one Python
    conversion per span. Null lists become ``[]``; null struct elements stay
    ``None``."""
    offsets = _pylist(col.offsets)
    lo = offsets[0]
    # col.values ignores the list's own slice offset; offsets index into it
    structs = col.values.slice(lo, offsets[-1] - lo)
    names = [f.name for f in structs.type]
    items = [
        dict(zip(names, vals))
        for vals in zip(*(_pylist(structs.field(i)) for i in range(len(names))))
    ]
    if structs.null_count:
        items = [x if ok else None for x, ok in zip(items, structs.is_valid().to_pylist())]
    out = [items[a - lo : b - lo] for a, b in zip(offsets, offsets[1:])]
    if col.null_count:
        out = [x if ok else [] for x, ok in zip(out, col.is_valid().to_pylist())]
    return out


def run_extraction(
    docs: DataFrame,
    ocr_lookup: dict[str, str] | None = None,
    thresholds: medical.Thresholds = medical.DEFAULT_THRESHOLDS,
    n_parts: int | None = None,
    repartition: bool | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> RESULT_SCHEMA via one mapInArrow stage.

    ``part_id = pmod(xxhash64(doc_id), n_parts)`` is attached BEFORE the UDF
    so results stay co-partitioned with the lineage/anti-join key; giant
    documents are bounded by the Arrow batch cap (session.py), the analog of
    the reference's per-Lambda memory sizing (medical/stack.ts:131-132).
    """
    ocr = ocr_lookup or {}
    spark = docs.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    bc_ocr = spark.sparkContext.broadcast(ocr)
    thr = thresholds

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    # fresh StructType: .add() would mutate the shared RESULT_SCHEMA in place
    out_schema = T.StructType(
        list(RESULT_SCHEMA.fields) + [T.StructField("part_id", T.IntegerType())]
    )
    arrow_schema = to_arrow_schema(out_schema)

    # mapInArrow rather than mapInPandas: the result is a wide nested row and
    # pyarrow's from_pylist builds it C++-side, skipping pandas object-dtype
    # inference (~35% faster end-to-end on the bench corpus).
    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lookup = bc_ocr.value
        for rb in batches:
            rows = []
            for doc_id, spans, part_id in zip(
                _pylist(rb.column("doc_id")),
                decode_spans(rb.column("spans")),
                _pylist(rb.column("part_id")),
            ):
                t0 = time.perf_counter_ns()
                row = extract_document(doc_id, spans, lookup, thr)
                row["proc_us"] = (time.perf_counter_ns() - t0) // 1000
                row["part_id"] = part_id
                rows.append(row)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    # Partitioning discipline (north_rule / SURVEY.md §4): the UDF stage is
    # narrow — it runs on the scan's file-level partitions when those already
    # cover the executor slots (the normal case on a many-file Iceberg
    # corpus). The hash repartition on part_id is applied only when (a) the
    # caller needs rows co-located with their lineage partition for a
    # partitioned write (run_resumable, streaming ingest: repartition=True),
    # or (b) the scan has fewer splits than ``defaultParallelism``
    # (small/unsplittable files). The bar is the slot count, not n_parts
    # (shuffle partitions, 2x cores by default): every Python task costs a
    # fixed setup before its first document, so shuffling to 2x the slots
    # doubles that cost for no extra parallelism.
    with_part = docs.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
    selected = with_part.select("doc_id", "spans", "part_id")
    if repartition is None:
        repartition = docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    if repartition:
        selected = selected.repartition(n_parts, "part_id")
    return selected.mapInArrow(_extract, out_schema)


def pages_table(results: DataFrame) -> DataFrame:
    """K3 text-artifact sidecar: per-page rows (doc_id, page, text), the
    relational form of the reference's ``${docId}/textract/extracted${i}.txt``
    S3 writes (medical/stack.TextSaver.ts:33-35; pleading ts:232-234 — JS
    .map skips the index-0 hole, so only real pages emit)."""
    return results.select(
        "doc_id", F.posexplode("pages").alias("page", "text")
    ).where(F.col("text").isNotNull())


def attachments_table(results: DataFrame) -> DataFrame:
    """K3 attachment sidecar: (doc_id, filename, content) rows — the
    reference saves each attachment body to
    ``${documentId}/attachments/${filename}`` (text-extract.ts:63-68)."""
    return results.select(
        "doc_id", F.explode("attachments_content").alias("a")
    ).select("doc_id", F.col("a.filename").alias("filename"), F.col("a.content").alias("content"))


def lineage_from_results(results: DataFrame, run_id: str) -> DataFrame:
    """K4 restated: per-partition metrics/lineage rows (north_rule) instead
    of SNS success/failure messages (lib/reporter.ts:27-50)."""
    return (
        results.groupBy("part_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).cast("long").alias("n_errors"),
            (F.sum("proc_us") / 1000).cast("long").alias("wall_ms"),
            F.max("error").alias("error"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("part_id"),
            F.lit("done").alias("status"),
            "n_docs",
            "n_spans",
            "n_errors",
            "wall_ms",
            "error",
        )
    )


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "run",
    n_parts: int = 32,
    ocr_lookup: dict[str, str] | None = None,
) -> DataFrame:
    """Checkpoint-resumable run (J4): left anti-join input partitions against
    completed lineage rows, process the remainder, idempotent
    partition-overwrite write (K1 semantics — DynamoDB PutItem overwrite,
    lib/dynamodb-persistor.ts:21-33).
    """
    results_dir = f"{out_dir}/results"
    lineage_dir = f"{out_dir}/lineage"

    with_part = docs.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
    try:
        done = (
            spark.read.schema(LINEAGE_SCHEMA)
            .parquet(lineage_dir)
            .where(F.col("status") == "done")
            .select("part_id")
            .distinct()
        )
    except AnalysisException as e:
        # only a missing lineage directory means a fresh run; any other
        # read failure must not silently reprocess the whole input
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        todo = with_part
    else:
        todo = with_part.join(F.broadcast(done), "part_id", "left_anti")

    results = run_extraction(
        todo.drop("part_id"), ocr_lookup=ocr_lookup, n_parts=n_parts, repartition=True
    ).persist()
    # dynamic partition overwrite: only partitions present in THIS run's
    # data are replaced (idempotent K1 semantics); completed partitions'
    # files are never touched or re-read
    results.write.mode("overwrite").partitionBy("part_id").parquet(results_dir)
    # lineage rows APPEND incrementally — computing them from this run's
    # (persisted) results, never by re-reading the whole results table,
    # which would be a full-corpus scan per resume at 10^12 docs. A re-run
    # partition gets a second lineage row; readers take status='done'
    # distinct part_ids, so duplicates are harmless.
    lineage_from_results(results, run_id).write.mode("append").parquet(lineage_dir)
    results.unpersist()
    return spark.read.parquet(results_dir)
