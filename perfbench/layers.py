"""Per-layer metrics for the traced run, each measured from outside by
timing calls into a public entry point or by reading Spark's status store.

Every name in ``PER_LAYER`` is reported on every workload; a layer the
workload does not exercise reads 0 (the curation queries on the extraction
workloads; extraction and the write path on ``curation_loops``)."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from samu_ocr_extraction_poc_spark.functions import nlp
from samu_ocr_extraction_poc_spark.operators import medical
from samu_ocr_extraction_poc_spark.operators.correspondence import join_lines, parse_email
from samu_ocr_extraction_poc_spark.operators.html import strip_boilerplate
from samu_ocr_extraction_poc_spark.operators.pages import get_page_text, line_texts
from samu_ocr_extraction_poc_spark.operators.pleading import get_header, get_numbered_paragraphs
from samu_ocr_extraction_poc_spark.plans.pipeline import extract_document
from samu_ocr_extraction_poc_spark.schema import DOCUMENTS_SCHEMA, RESULT_SCHEMA
from samu_ocr_extraction_poc_spark.sources.readers import load_documents

import gen
import probes
from workloads import CURATION_QUERIES, Curation, Extract, ResumeWrite

OPERATORS = [
    "html.strip_boilerplate", "nlp.extract_entities_for_texts", "nlp.extract_sentiments_for_texts",
    "nlp.extract_key_phrases_for_texts", "pages.get_page_text", "pleading.get_header",
    "pleading.get_numbered_paragraphs", "correspondence.parse_email", "medical.med_entities",
]
QUERY_METRICS = {"s": "s", "planning_ms": "ms", "driver_ms": "ms", "jobs": "count", "stages": "count",
                 "tasks": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}

PER_LAYER = {
    "session.start_s": "s",
    "scan.s": "s", "scan.bytes": "bytes", "scan.share": "ratio",
    "stage.jobs": "count", "stage.stages": "count", "stage.tasks": "count",
    "stage.tasks_failed": "count", "stage.executor_run_s": "s", "stage.task_skew": "ratio",
    "arrow.to_pylist_us_per_doc": "us", "arrow.from_pylist_us_per_doc": "us", "arrow.share": "ratio",
    "engine.share": "ratio", "residual.share": "ratio",
    **{f"engine.us_per_doc.{f}": "us" for f in gen.FAMILIES},
    **{f"op.{name}_us": "us" for name in OPERATORS},
    "write.s": "s", "write.bytes": "bytes", "write.files": "count", "shuffle.write_bytes": "bytes",
    "lineage.rows": "count", "resume.s": "s", "write.amp": "ratio",
    **{f"{q}.{m}": u for q in CURATION_QUERIES for m, u in QUERY_METRICS.items()},
    "self.op_s": "s", "self.job_s": "s", "self.stage_s": "s", "trace.overhead_s": "s",
}

ARROW_DOCS = to_arrow_schema(DOCUMENTS_SCHEMA)
ARROW_OUT = to_arrow_schema(T.StructType(list(RESULT_SCHEMA.fields) + [T.StructField("part_id", T.IntegerType())]))


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def scan(spark, wl, out: dict) -> float:
    """Scan-only pass over the workload's table into the noop sink, timed
    three times; ``scan.bytes`` is the table's size on disk. Returns the
    executor time of the last pass."""
    walls, stats = [], None
    for _ in range(3):
        j0 = probes.next_job_id(spark)
        t0 = time.perf_counter()
        if isinstance(wl, Curation):
            frame = spark.read.parquet(f"{wl.input_path}/documents.parquet")
        else:
            frame = load_documents(spark, wl.input_path)
        frame.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        stats = probes.job_stats(spark, range(j0, probes.next_job_id(spark)))
    out["scan.s"] = _med(walls)
    out["scan.bytes"] = wl.input_bytes()
    return stats.executor_run_s


def arrow_boundary(corpus: gen.Corpus, input_path: str | None, out: dict) -> float:
    """``to_pylist`` / ``from_pylist`` microseconds per document on batches
    the size Spark hands the Arrow stage, read from the workload's own input
    files (the family sample when the workload has none)."""
    if input_path:
        first = sorted(p for p in os.listdir(input_path) if p.endswith(".parquet"))[0]
        batches = list(pq.ParquetFile(f"{input_path}/{first}").iter_batches(batch_size=256))[:4]
    else:
        table = pa.table({"doc_id": corpus.doc_ids,
                          "spans": [[{k: s[k] for k in gen.SPAN_FIELDS} for s in sp] for sp in corpus.spans]},
                         schema=ARROW_DOCS)
        batches = table.to_batches(max_chunksize=256)
    n = sum(b.num_rows for b in batches)
    results = []
    for b in batches:
        rows = []
        for d in b.to_pylist():
            row = extract_document(d["doc_id"], d["spans"] or [], gen.OCR_LOOKUP)
            row["part_id"] = 0
            rows.append(row)
        results.append(rows)
    to_us = probes.median_time_us(lambda: [b.to_pylist() for b in batches], [()]) / n
    from_us = probes.median_time_us(
        lambda: [pa.RecordBatch.from_pylist(r, schema=ARROW_OUT) for r in results], [()]) / n
    out["arrow.to_pylist_us_per_doc"] = to_us
    out["arrow.from_pylist_us_per_doc"] = from_us
    return to_us + from_us


def engine_and_operators(samples: gen.Corpus, out: dict) -> None:
    """``extract_document`` per family, and each operator entry point, on
    the seeded per-family sample."""
    fam = samples.by_family()

    def spans_of(f: str) -> list[list[dict]]:
        return [samples.spans[i] for i in fam[f]]

    for f in gen.FAMILIES:
        out[f"engine.us_per_doc.{f}"] = probes.median_time_us(
            extract_document, [(samples.doc_ids[i], samples.spans[i], gen.OCR_LOOKUP) for i in fam[f]])
    letters = [join_lines(line_texts(sp)) for sp in spans_of("letter")]
    books = spans_of("book")
    pleading_book = [sp for sp in books if any(s["kind"] == "query" for s in sp)]
    inputs = {
        "html.strip_boilerplate": (strip_boilerplate, [
            (s["text"],) for sp in spans_of("html") for s in sp if s["kind"] == "html"]),
        "nlp.extract_entities_for_texts": (nlp.extract_entities_for_texts, [([t],) for t in letters]),
        "nlp.extract_sentiments_for_texts": (nlp.extract_sentiments_for_texts, [([t],) for t in letters]),
        "nlp.extract_key_phrases_for_texts": (nlp.extract_key_phrases_for_texts, [([t],) for t in letters]),
        "pages.get_page_text": (get_page_text, [(sp,) for sp in books]),
        "pleading.get_header": (get_header, [(sp,) for sp in spans_of("pleading") + pleading_book]),
        "pleading.get_numbered_paragraphs": (get_numbered_paragraphs, [
            ([s for s in sp if s["kind"] == "line"],) for sp in pleading_book]),
        "correspondence.parse_email": (parse_email, [
            (s["text"],) for sp in spans_of("email") for s in sp if s["kind"] == "email"]),
        "medical.med_entities": (medical.med_entities, [(sp,) for sp in spans_of("medical")]),
    }
    for name, (fn, args) in inputs.items():
        out[f"op.{name}_us"] = probes.median_time_us(fn, args)


def write_path(spark, wl, traced: list) -> list:
    """Ops that ran ``run_resumable``: the traced ops of ``resume_write``,
    or on an extraction workload two resumable runs over its input (the
    second counts; the first warms the write path)."""
    if isinstance(wl, ResumeWrite):
        return traced
    if not isinstance(wl, Extract):
        return []
    probe = ResumeWrite.over(wl)
    for i in range(2):
        res = probe.op(spark, i, traced=True)
        if not res.ok:
            raise RuntimeError(f"write-path probe failed its check: {res.why}")
    res.stats = probes.job_stats(spark, res.jobs)
    return [res]


def per_layer(spark, wl, ops, tracer: probes.Tracer, session_s: float) -> dict[str, tuple[float, str]]:
    traced = [o for o in ops if o.stats is not None]
    plain = [o for o in ops if o.stats is None]
    stats = [o.stats for o in traced]
    out: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = session_s

    exec_s = _med(s.executor_run_s for s in stats)
    out.update({
        "stage.jobs": _med(s.jobs for s in stats), "stage.stages": _med(s.stages for s in stats),
        "stage.tasks": _med(s.tasks for s in stats), "stage.tasks_failed": _med(s.tasks_failed for s in stats),
        "stage.executor_run_s": exec_s, "stage.task_skew": _med(s.task_skew for s in stats),
    })
    with tracer.span("layer.scan"):
        scan_exec_s = scan(spark, wl, out)
    out["scan.share"] = scan_exec_s / exec_s if exec_s else 0.0
    samples = gen.family_samples(wl.seed, per_family=40, book_pages=120)
    with tracer.span("layer.arrow"):
        arrow_us = arrow_boundary(samples, None if isinstance(wl, Curation) else wl.input_path, out)
    with tracer.span("layer.engine_and_operators"):
        engine_and_operators(samples, out)

    if wl.n_spans and exec_s:
        out["engine.share"] = _med(o.proc_s / o.stats.executor_run_s for o in traced)
        out["arrow.share"] = arrow_us * wl.n_docs / 1e6 / exec_s
        out["residual.share"] = 1.0 - out["engine.share"] - out["arrow.share"] - out["scan.share"]
    with tracer.span("layer.write"):
        writes = write_path(spark, wl, traced)
    for key in ("write.s", "write.bytes", "write.files", "lineage.rows", "resume.s", "write.amp"):
        out[key] = _med(o.layers[key] for o in writes)
    out["shuffle.write_bytes"] = _med(o.stats.shuffle_write_bytes for o in writes)
    for q in CURATION_QUERIES:
        per_q = [o.layers[q] for o in traced if q in o.layers]
        if not per_q:
            continue
        out[f"{q}.s"] = _med(q_s for q_s, _, _ in per_q)
        out[f"{q}.planning_ms"] = _med(p for _, p, _ in per_q)
        out[f"{q}.driver_ms"] = _med((q_s - st.job_covered_s()) * 1000 for q_s, _, st in per_q)
        for m, attr in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                        ("shuffle_bytes", "shuffle_write_bytes"), ("spill_bytes", "spill_bytes")):
            out[f"{q}.{m}"] = _med(getattr(st, attr) for _, _, st in per_q)

    self_s = tracer.self_times()
    for key, span in (("self.op_s", "op"), ("self.job_s", "spark.job"), ("self.stage_s", "spark.stage")):
        out[key] = self_s.get(span, 0.0) / len(traced) if traced else 0.0
    out["trace.overhead_s"] = _med(o.wall_s for o in traced) - _med(o.wall_s for o in plain)
    return {k: (float(out[k]), unit) for k, unit in PER_LAYER.items()}
