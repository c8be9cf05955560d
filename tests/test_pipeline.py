"""End-to-end Spark tests: one Arrow UDF stage over the canonical corpus,
span-sequence equality, lineage, and checkpoint-resume (SURVEY.md §5 items
1 & 3)."""

from __future__ import annotations

import pytest

from samu_ocr_extraction_poc_spark import fixtures as FX
from samu_ocr_extraction_poc_spark.schema import DOCUMENTS_SCHEMA
from samu_ocr_extraction_poc_spark.plans.pipeline import (
    _pylist,
    decode_spans,
    lineage_from_results,
    run_extraction,
    run_resumable,
)


@pytest.fixture(scope="module")
def results(spark):
    docs = FX.canonical_corpus(spark)
    df = run_extraction(docs, ocr_lookup=FX.OCR_LOOKUP, n_parts=8)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}
    return rows


def _r(results, key):
    return results[FX.doc_id_for(key)]


def test_routing(results):
    assert _r(results, "Pleadings/roe-v-acme.pdf")["doc_type"] == "pleading"
    assert _r(results, "Medical/patient-1.pdf")["doc_type"] == "medical"
    assert _r(results, "Correspondence/settlement.eml")["doc_type"] == "correspondence_email"
    assert _r(results, "Correspondence/call-1.json")["doc_type"] == "correspondence_transcript"
    assert _r(results, "Web/case-update.html")["doc_type"] == "html"
    assert _r(results, "Layout/two-column.pdf")["doc_type"] == "layout"
    assert _r(results, "Correspondence/letter-1.pdf")["doc_type"] == "correspondence_letter"
    assert _r(results, "Misc/blob.bin")["doc_type"] == "unknown"


def test_pleading_end_to_end(results):
    r = _r(results, "Pleadings/roe-v-acme.pdf")
    assert r["status"] == "done"
    assert r["header"]["plaintifs"] == "JANE ROE,"
    assert r["header"]["caseNumber"] == "Cause No. 2116-CV12345"
    assert r["header"]["defendents"] == ["ACME HOSPITAL LLC,", "JOHN DOE M.D.,"]
    assert r["header"]["state"] == ["MISSOURI"]
    assert r["header"]["county"] == ["JACKSON COUNTY"]
    assert r["header"]["court"] == ["CIRCUIT COURT"]
    assert r["header"]["district"] == []
    assert len(r["paragraphs"]) == 5
    assert r["pages"][0] is None and r["pages"][1].startswith(" \n IN THE CIRCUIT COURT")
    assert "LOCATION" in r["entities"]


def test_bad_format_pleading_is_error_row_not_failure(results):
    r = _r(results, "Pleadings/bad-format.pdf")
    assert r["status"] == "error"
    assert "BadFormatError" in r["error"]
    assert r["out_spans"]  # still re-interleaved


def test_medical_end_to_end(results):
    r = _r(results, "Medical/patient-1.pdf")
    assert [c["code"] for c in r["icd10_conditions"]] == ["I10"]
    assert [p["code"] for p in r["prescriptions"]] == ["29046"]
    assert [s["code"] for s in r["snomed_codes"]] == ["38341003"]


def test_expense_end_to_end(results):
    r = _r(results, "Medical/invoice-1.pdf")
    pages = r["expenses_by_page"]
    assert pages[0]["totalExpenses"] == "1234.50"
    assert pages[0]["expenses"][0]["price"] == "100.10"
    assert pages[1]["expenses"][0]["description"] == "Copay"


def test_email_end_to_end(results):
    r = _r(results, "Correspondence/settlement.eml")
    assert r["email"]["messageId"] == "<msg-100@example.com>"
    assert r["email"]["attachments"] == ["offer.txt", "terms.txt"]
    assert r["sentiments"] == ["POSITIVE"]


def test_transcript_end_to_end(results):
    r = _r(results, "Correspondence/call-1.json")
    assert r["sentiments"] == ["POSITIVE", "NEGATIVE", "NEUTRAL"]
    assert [t["participant"] for t in r["transcript"]] == ["AGENT", "CUSTOMER", "AGENT", "CUSTOMER"]


def test_html_reinterleave_with_media(results):
    r = _r(results, "Web/case-update.html")
    spans = r["out_spans"]
    kinds = [s["kind"] for s in spans]
    assert "text" in kinds and "ocr_text" in kinds
    ocr = next(s for s in spans if s["kind"] == "ocr_text")
    assert ocr["text"] == FX.OCR_LOOKUP["img-003"]
    assert ocr["media_ref"] == "img-003"
    # offsets are dense & strictly increasing (span-sequence order invariant)
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_letter_ocr_text_participates_in_raw_text(results):
    r = _r(results, "Correspondence/letter-1.pdf")
    assert FX.OCR_LOOKUP["img-002"] in r["raw_text"]
    assert r["sentiments"] == ["POSITIVE"]


def test_span_sequence_determinism(spark):
    """Permutation invariance: shuffled span input order must not change
    output, given offsets (SURVEY.md §5 property 3)."""
    docs = FX.canonical_corpus(spark)
    from pyspark.sql import functions as F

    shuffled = docs.select("doc_id", F.reverse("spans").alias("spans"))
    a = {r["doc_id"]: r["out_spans"] for r in run_extraction(docs, FX.OCR_LOOKUP).collect()}
    b = {r["doc_id"]: r["out_spans"] for r in run_extraction(shuffled, FX.OCR_LOOKUP).collect()}
    assert a == b


def test_lineage(spark):
    docs = FX.canonical_corpus(spark)
    res = run_extraction(docs, FX.OCR_LOOKUP, n_parts=8)
    lin = lineage_from_results(res, "t1").collect()
    assert sum(r["n_docs"] for r in lin) == docs.count()
    assert all(r["status"] == "done" for r in lin)
    assert sum(r["n_errors"] for r in lin) == 1  # the bad-format pleading


def test_resume_equals_single_run(spark, tmp_path):
    """Resume-after-partial-run equals single-run output (J4 invariant)."""
    docs = FX.canonical_corpus(spark)
    single = run_resumable(spark, docs, str(tmp_path / "single"), n_parts=4, ocr_lookup=FX.OCR_LOOKUP)
    single_rows = {r["doc_id"]: r["raw_text"] for r in single.collect()}

    # partial run: only half the docs present, then full corpus resumes
    part_dir = str(tmp_path / "resumed")
    half = docs.limit(5)
    run_resumable(spark, half, part_dir, n_parts=4, ocr_lookup=FX.OCR_LOOKUP)
    resumed = run_resumable(spark, docs, part_dir, n_parts=4, ocr_lookup=FX.OCR_LOOKUP)
    resumed_rows = {r["doc_id"]: r["raw_text"] for r in resumed.collect()}
    # every doc whose partition wasn't completed in the half-run is present;
    # completed partitions were skipped but their rows survive on disk
    assert set(single_rows) >= set(resumed_rows)
    for k, v in resumed_rows.items():
        assert single_rows[k] == v


def test_resume_fresh_only_when_lineage_is_missing(spark, tmp_path):
    """Only a missing lineage directory means a fresh run. Lineage that
    exists but cannot be read is an error: the call raises and no results
    are written. Two such cases: a file that is not parquet (it fails when
    the lineage is scanned), and a directory layout that does not match
    the lineage table (it fails while the read is planned, which a
    catch-all fresh-run fallback used to swallow)."""
    import os

    docs = FX.canonical_corpus(spark)
    fresh = str(tmp_path / "fresh")
    assert run_resumable(spark, docs, fresh, n_parts=4, ocr_lookup=FX.OCR_LOOKUP).count() == docs.count()
    lineage = spark.read.parquet(f"{fresh}/lineage").collect()
    assert sum(r["n_docs"] for r in lineage) == docs.count()

    def unreadable_file(lineage):
        lineage.mkdir(parents=True)
        (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")

    def mismatched_layout(lineage):
        spark.range(2).write.parquet(str(lineage / "a=1"))
        spark.range(2).write.parquet(str(lineage / "b=2"))

    for corrupt in (unreadable_file, mismatched_layout):
        out = tmp_path / corrupt.__name__
        corrupt(out / "lineage")
        with pytest.raises(Exception) as err:
            run_resumable(spark, docs, str(out), n_parts=4, ocr_lookup=FX.OCR_LOOKUP)
        assert "PATH_NOT_FOUND" not in str(err.value)
        written = [
            f
            for _, _, files in os.walk(out / "results")
            for f in files
            if f.endswith(".parquet")
        ]
        assert written == [], corrupt.__name__


def test_skew_doc_processes(spark):
    docs = FX.canonical_corpus(spark, with_skew=True)
    res = run_extraction(docs, FX.OCR_LOOKUP)
    giant = res.where(res.doc_id == FX.doc_id_for("Pleadings/giant.pdf")).collect()[0]
    assert giant["n_spans"] == 400 * 31
    assert len([p for p in giant["pages"] if p]) == 400


def test_pages_and_attachments_sidecars(spark):
    from samu_ocr_extraction_poc_spark.plans.pipeline import (
        attachments_table,
        pages_table,
        run_extraction,
    )

    res = run_extraction(FX.canonical_corpus(spark), FX.OCR_LOOKUP)
    pages = pages_table(res)
    prow = pages.where(
        (pages.doc_id == FX.doc_id_for("Pleadings/roe-v-acme.pdf")) & (pages.page == 1)
    ).collect()
    assert prow and prow[0]["text"].startswith(" \n IN THE CIRCUIT COURT")
    assert pages.where("page = 0").count() == 0  # index-0 hole never emits

    atts = attachments_table(res).collect()
    assert sorted(a["filename"] for a in atts) == ["offer.txt", "terms.txt"]
    assert any("Offer terms attached." in a["content"] for a in atts)


def test_poison_document_degrades_to_error_row(spark, monkeypatch):
    """Any unexpected per-document exception must become an error-status row
    (poison-doc guard) — the job itself never fails."""
    from samu_ocr_extraction_poc_spark.plans import pipeline as P

    def boom(texts):
        raise RuntimeError("synthetic poison")

    monkeypatch.setattr(P.nlp, "extract_entities_for_texts", boom)
    row = P.extract_document(
        "poison", [s for s in FX.letter_doc()], FX.OCR_LOOKUP
    )
    assert row["status"] == "error"
    assert "RuntimeError: synthetic poison" in row["error"]
    assert row["out_spans"]  # still re-interleaved


def test_html_parser_failure_is_counted_error_row(spark, monkeypatch):
    """A boilerplate-strip parser failure makes the HTML document an error
    row that lineage counts, not a 'done' row with no text."""
    from samu_ocr_extraction_poc_spark.operators import html
    from samu_ocr_extraction_poc_spark.plans import pipeline as P

    class ParserBroke(Exception):
        pass

    def boom(self, data):
        raise ParserBroke("synthetic parser failure")

    with monkeypatch.context() as m:
        m.setattr(html._ContentParser, "feed", boom)
        row = P.extract_document("html-poison", FX.html_doc(), FX.OCR_LOOKUP)
    assert row["status"] == "error"
    assert row["error"].startswith("ParserBroke:")
    # the same failure from real input, through the Arrow stage and lineage:
    # html.parser raises AssertionError on an unknown marked-section keyword
    broken = FX.html_doc()
    broken[0] = {**broken[0], "text": FX.HTML_RAW.replace("<article>", "<![bogus[x]]><article>")}
    docs = spark.createDataFrame(
        [(d, [tuple(s[f] for f in ("kind", "text", "media_ref", "offset")) for s in spans])
         for d, spans in [("html-ok", FX.html_doc()), ("html-broken", broken)]],
        schema=DOCUMENTS_SCHEMA,
    )
    res = run_extraction(docs, FX.OCR_LOOKUP, n_parts=2)
    status = {r["doc_id"]: (r["status"], r["error"]) for r in res.collect()}
    assert status["html-ok"] == ("done", None)
    assert status["html-broken"][0] == "error"
    assert status["html-broken"][1].startswith("AssertionError:")
    lin = lineage_from_results(res, "html").collect()
    assert sum(r["n_errors"] for r in lin) == 1


def test_html_parse_failure_row_keeps_its_other_spans():
    """Only the HTML span whose parse raised drops out of an error row's
    out_spans: the document's media span is still OCR'd in place."""
    from samu_ocr_extraction_poc_spark.plans import pipeline as P

    broken = FX.html_doc()
    broken[0] = {**broken[0], "text": FX.HTML_RAW.replace("<article>", "<![bogus[x]]><article>")}
    row = P.extract_document("html-broken", broken, FX.OCR_LOOKUP)
    assert row["status"] == "error" and row["error"].startswith("AssertionError:")
    assert [(s["kind"], s["media_ref"]) for s in row["out_spans"]] == [("ocr_text", "img-003")]
    assert row["out_spans"][0]["text"] == FX.OCR_LOOKUP["img-003"]


def test_resume_lineage_appends_incrementally(spark, tmp_path):
    """Lineage accumulates per run (no full-table re-read/rewrite): rows
    from the first run survive the resume, and the resume adds only the
    newly processed partitions."""
    out = str(tmp_path / "inc")
    docs = FX.canonical_corpus(spark)
    run_resumable(spark, docs.limit(2), out, run_id="r1", n_parts=8, ocr_lookup=FX.OCR_LOOKUP)
    lin1 = spark.read.parquet(f"{out}/lineage").collect()
    run_resumable(spark, docs, out, run_id="r2", n_parts=8, ocr_lookup=FX.OCR_LOOKUP)
    lin2 = spark.read.parquet(f"{out}/lineage").collect()
    assert {r["run_id"] for r in lin2} == {"r1", "r2"}
    r1_parts = {r["part_id"] for r in lin2 if r["run_id"] == "r1"}
    r2_parts = {r["part_id"] for r in lin2 if r["run_id"] == "r2"}
    assert not (r1_parts & r2_parts)  # resume skipped completed partitions
    assert len(lin1) == len(r1_parts)
    # partition-granular checkpoint semantics: resume assumes the SAME
    # input corpus; docs added later that hash into already-done
    # partitions are intentionally skipped. Expected rows = r1 docs +
    # full-corpus docs outside r1-completed partitions.
    from pyspark.sql import functions as F
    parts = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int").alias("p")
        ).collect()
    }
    r1_docs = {r["doc_id"] for r in docs.limit(2).collect()}
    expected = len(r1_docs) + sum(
        1 for d, p in parts.items() if d not in r1_docs and p not in r1_parts
    )
    assert spark.read.parquet(f"{out}/results").count() == expected


def test_compat_facade(spark):
    """Reference entry points by name: each family facade returns that
    family's rows in the reference's item shape."""
    from samu_ocr_extraction_poc_spark import compat

    docs = FX.canonical_corpus(spark)
    med = compat.start_medical_extraction(docs, FX.OCR_LOOKUP).collect()
    assert {r["type"] for r in med} == {"medical"} and len(med) == 2
    assert any(r["icd10Conditions"] for r in med)
    corr = compat.start_correspondence_extraction(docs, FX.OCR_LOOKUP).collect()
    assert len(corr) == 3
    assert {r["subtype"] for r in corr} == {"email", "transcript", None}
    ple = compat.start_pleading_extraction(docs, FX.OCR_LOOKUP).collect()
    assert len(ple) == 2
    ok = next(r for r in ple if r["status"] == "done")
    assert ok["header"]["plaintifs"] == "JANE ROE,"


def test_plain_text_ingestion_adapter(spark):
    """sources.readers.spans_from_plain_text: raw text -> interleaved span
    corpus -> full engine. Word sequence must round-trip exactly (lines are
    8-word folds; raw_text joins them with newlines), docs route to the
    letter family, and the ingest plan must stay narrow (no Exchange)."""
    from pyspark.sql import functions as F

    from samu_ocr_extraction_poc_spark.plans.pipeline import run_extraction
    from samu_ocr_extraction_poc_spark.sources.readers import spans_from_plain_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = spans_from_plain_text(docs)
    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # ingest is narrow on the scan

    res = run_extraction(corpus, repartition=False)
    out = {
        r["doc_id"]: (r["doc_type"], r["raw_text"])
        for r in res.select("doc_id", "doc_type", "raw_text").collect()
    }
    src = {str(r["doc_id"]): r["text"] for r in docs.collect()}
    assert len(out) == len(src)
    for did, text in src.items():
        doc_type, raw = out[did]
        assert doc_type == "correspondence_letter"
        assert raw.split() == text.split(), did  # exact word round-trip

    # empty text -> empty spans -> unknown family, not a crash
    empty = spans_from_plain_text(
        spark.createDataFrame([(99, "")], "doc_id long, text string")
    )
    assert empty.collect()[0]["spans"] == []


def _strict(x):
    """A value with the type of every leaf spelled out, so 1 and 1.0, or
    None and NaN, compare unequal."""
    if isinstance(x, list):
        return [_strict(v) for v in x]
    if isinstance(x, dict):
        return {k: _strict(v) for k, v in x.items()}
    return (type(x).__name__, repr(x))


def test_decode_spans_matches_to_pylist():
    """The column-wise span decode, and ``_pylist`` on every column it
    converts, equal ``to_pylist()`` type for type: null and empty lists,
    null struct elements, null string and int fields, slices at non-zero
    offsets, an empty batch, multi-byte text and a large_string field."""
    import pyarrow as pa

    for text_type in (pa.string(), pa.large_string()):
        span = pa.struct([
            ("kind", pa.string()),
            ("text", text_type),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ])
        s = {"kind": "line", "text": "a", "media_ref": "", "offset": 0}
        col = pa.array(
            [
                [s],
                None,
                [],
                [s, None, {"kind": None, "text": None, "media_ref": None, "offset": None}],
                [{"kind": "media", "text": "", "media_ref": "img-1", "offset": 7}],
                None,
                [s, {"kind": "line", "text": "Fähre 北京 — résumé 🙂", "media_ref": None, "offset": 3}],
                [],
                [{"kind": "page_break", "text": "ſ\u212a\u0130ß", "media_ref": "m", "offset": None}],
                [{"kind": "line", "text": None, "media_ref": None, "offset": 2**31 - 1}, None],
            ],
            type=pa.list_(span),
        )
        rb = pa.RecordBatch.from_arrays(
            [pa.array([f"d{i}" if i % 4 else None for i in range(10)]), col,
             pa.array(range(10), pa.int32()),
             pa.array([7, None, -1, 0, None, 2**40, 3, 1, 2, 5], pa.int64())],
            names=["doc_id", "spans", "part_id", "n"],
        )
        for batch in (rb, rb.slice(3, 5), rb.slice(1, 1), rb.slice(6), rb.slice(9, 0), rb.slice(0, 0)):
            c = batch.column("spans")
            assert _strict(decode_spans(c)) == _strict([x or [] for x in c.to_pylist()])
            arrays = [batch.column(n) for n in ("doc_id", "part_id", "n")]
            arrays += [c.offsets] + [c.values.field(i) for i in range(4)]
            for a in arrays:
                assert _strict(_pylist(a)) == _strict(a.to_pylist())


def test_decode_spans_on_corpus_batches(spark):
    """Every Arrow batch mapInArrow hands the UDF, on the canonical corpus
    (with the 400-page filing) and on spans synthesized from the edge-case
    texts, decodes as to_pylist() does."""
    import pyarrow as pa

    from test_oracle_edge import EDGE_DOCS

    edge = FX.synth_corpus_from_documents(
        spark.createDataFrame(
            EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )

    def _check(batches):
        for rb in batches:
            c = rb.column("spans")
            ok = decode_spans(c) == [x or [] for x in c.to_pylist()]
            yield pa.RecordBatch.from_pydict({"n": [rb.num_rows], "ok": [ok]})

    for docs in (FX.canonical_corpus(spark, with_skew=True), edge):
        rows = docs.mapInArrow(_check, "n long, ok boolean").collect()
        assert all(r["ok"] for r in rows)
        assert sum(r["n"] for r in rows) == docs.count()
