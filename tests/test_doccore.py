"""Unit tests for the pure-Python per-document operators (SURVEY.md §5 item 2).

Golden values are hand-computed from the reference semantics; file:line
citations in the operator docstrings map each assertion back.
"""

from __future__ import annotations

import pytest

from samu_ocr_extraction_poc_spark import fixtures as FX
from samu_ocr_extraction_poc_spark.functions.scalars import (
    js_parse_float,
    parse_document_value,
    sanitize_expense_value,
    to_fixed_2,
)
from samu_ocr_extraction_poc_spark.operators import medical
from samu_ocr_extraction_poc_spark.operators.correspondence import (
    fold_transcript_text,
    parse_email,
    parse_transcript,
    transcript_sentiments,
)
from samu_ocr_extraction_poc_spark.operators.expense import expenses_by_page
from samu_ocr_extraction_poc_spark.operators.html import strip_boilerplate
from samu_ocr_extraction_poc_spark.operators.layout import reading_order_lines
from samu_ocr_extraction_poc_spark.operators.pages import get_page_text, line_texts, real_pages
from samu_ocr_extraction_poc_spark.operators.pleading import (
    BadFormatError,
    get_header,
    get_numbered_paragraphs,
    get_queries,
)


def lines(texts, start=0):
    return [FX.span("line", t, offset=start + i) for i, t in enumerate(texts)]


# --- A1 page grouping -------------------------------------------------------


def test_page_text_leading_separator_and_one_based_hole():
    spans = FX._seq(
        [FX.span("page_break", "1"), FX.span("line", "a"), FX.span("line", "b"),
         FX.span("page_break", "2"), FX.span("line", "c")]
    )
    pages = get_page_text(spans)
    assert pages[0] is None  # 1-based hole (pleading TextSaver.ts:20-24)
    assert pages[1] == " \n a \n b"  # leading ' \n ' incl. first line
    assert pages[2] == " \n c"


def test_page_text_without_markers_defaults_to_page_1():
    pages = get_page_text(lines(["x", "y"]))
    assert pages == [None, " \n x \n y"]


def test_page_text_skips_empty_lines_and_real_pages_skips_holes():
    spans = FX._seq([FX.span("page_break", "3"), FX.span("line", ""), FX.span("line", "z")])
    pages = get_page_text(spans)
    assert pages == [None, None, None, " \n z"]
    assert real_pages(pages) == [" \n z"]


# --- W1 header --------------------------------------------------------------


def test_header_golden():
    h = get_header(FX.pleading_doc())
    assert h == {
        "plaintifs": "JANE ROE,",
        "caseNumber": "Cause No. 2116-CV12345",
        "division": "Division 12",
        "defendents": ["ACME HOSPITAL LLC,", "JOHN DOE M.D.,"],
    }


def test_header_missing_vs_raises():
    with pytest.raises(BadFormatError, match="vs line"):
        get_header(FX.bad_pleading_doc())


def test_header_missing_defendant_raises():
    with pytest.raises(BadFormatError, match="defendent"):
        get_header(lines(["JANE ROE,", "Plaintiff,"]))


def test_header_missing_case_number_raises():
    with pytest.raises(BadFormatError, match="case number"):
        get_header(lines(["JANE ROE,", "Plaintiff,", "vs.", "X", "Defendant."]))


# --- W2 paragraphs ----------------------------------------------------------


def test_paragraphs_golden_with_answer_tail():
    blocks = [s for s in FX.pleading_doc() if s["kind"] == "line"]
    paras = get_numbered_paragraphs(blocks)
    assert paras == [
        "1. Plaintiff is a resident of Jackson County, Missouri.",
        "2. Defendant Acme Hospital LLC operates a hospital in Independence, Missouri.",
        "3. On June 1, 2021 Plaintiff was admitted for care.",
        "4. Defendants negligently failed to diagnose the condition.",
        "5. As a direct result Plaintiff suffered damages in excess of $25,000.00? "
        "ANSWER: Defendants deny each and every allegation.",
    ]


def test_paragraphs_marker_at_index_zero_not_started():
    # strictly `index > 0` in the reference loop (stack.TextSaver.ts:146)
    blocks = lines(["1. first.", "2. second."])
    paras = get_numbered_paragraphs(blocks)
    # startIndex=0 -> while skipped; the final-paragraph path then emits from
    # startIndex and (via the `++endIndex` quirk, ts:161) swallows the next
    # line too -> one merged paragraph.
    assert paras == ["1. first. 2. second."]


def test_paragraphs_sentence_extension():
    # `++endIndex` before the final slice (ts:161,180) swallows one line
    # beyond the sentence end — reference quirk, reproduced exactly.
    blocks = lines(["intro", "1. begins", "continues", "ends.", "afterwards"])
    assert get_numbered_paragraphs(blocks) == ["1. begins continues ends. afterwards"]


def test_paragraphs_backward_first_match_is_kept():
    # JS findIndex searches from line 0: paragraph 3's first marker lies
    # before paragraph 2's, so 2 -> 3 is an empty slice and 3 -> 4 spans
    # back over paragraph 2.
    blocks = lines(["caption", "1. a", "3. c", "2. b", "4. d.", "x"])
    assert get_numbered_paragraphs(blocks) == ["1. a 3. c", "", "3. c 2. b", "4. d. x"]


def test_paragraph_lookup_visits_are_linear_in_the_filing():
    """A caption plus P numbered 7-line paragraphs: doubling P at most
    doubles the block reads (one paragraph-number lookup must not rescan
    the filing). Reads are counted, not timed, so a busy host cannot fail
    the check."""

    class Block(dict):
        reads = 0

        def get(self, key, default=None):
            Block.reads += 1
            return super().get(key, default)

        def __getitem__(self, key):
            Block.reads += 1
            return super().__getitem__(key)

    def reads(p):
        texts = ["IN THE CIRCUIT COURT OF JACKSON COUNTY, MISSOURI"]
        for n in range(1, p + 1):
            texts += [f"{n}. Plaintiff states"] + [f"line {j} of {n}" for j in range(5)] + ["and so on."]
        blocks = [Block(b) for b in lines(texts)]
        Block.reads = 0
        paras = get_numbered_paragraphs(blocks)
        assert len(paras) == p and paras[1] == "2. Plaintiff states " + " ".join(
            f"line {j} of 2" for j in range(5)) + " and so on."
        return Block.reads

    small, large = reads(200), reads(400)
    assert large <= 2 * small + 16, (small, large)


# --- J1 queries -------------------------------------------------------------


def test_queries_golden():
    q = get_queries(FX.pleading_doc())
    assert q == {
        "state": ["MISSOURI"],
        "county": ["JACKSON COUNTY"],
        "court": ["CIRCUIT COURT"],
        "district": [],
    }


def test_queries_missing_answer_is_none():
    spans = FX._seq([FX.span("query", "alias=a;text=q?", "missing-id")])
    assert get_queries(spans) == {"a": [None]}


# --- scalars (C1-C4) --------------------------------------------------------


def test_sanitize_and_parse_money():
    assert sanitize_expense_value(" $1,234.50 ") == "1234.50"
    assert parse_document_value("$1,234.50") == 1234.50
    assert parse_document_value("N/A") is None
    assert parse_document_value("") is None
    assert parse_document_value("12.5 USD") == 12.5  # parseFloat prefix parse
    assert js_parse_float(".5") == 0.5
    assert js_parse_float("abc") is None
    assert to_fixed_2(1234.5) == "1234.50"


def test_to_fixed_2_js_tie_rounding():
    """ECMA-262 Number::toFixed picks the LARGER n on an exact binary tie
    (round-half-up on the magnitude), where Python's format rounds
    half-to-even: 0.125 is exactly representable, so it IS a tie."""
    assert to_fixed_2(0.125) == "0.13"  # Python f"{0.125:.2f}" gives "0.12"
    assert to_fixed_2(-0.125) == "-0.13"  # spec negates first, then ties up
    assert to_fixed_2(0.375) == "0.38"  # tie; half-even agrees here
    assert to_fixed_2(1.005) == "1.00"  # NOT a tie: stored as 1.00499999...
    assert to_fixed_2(-0.0) == "0.00"  # sign only when x < 0 strictly
    assert to_fixed_2(-0.004) == "-0.00"  # ...but kept when it rounds to 0
    assert to_fixed_2(float("nan")) == "NaN"
    assert to_fixed_2(float("inf")) == "Infinity"
    # ECMA: |x| >= 1e21 returns ToString(x), not a fixed 23-digit string
    assert to_fixed_2(1e21) == "1e+21"
    assert to_fixed_2(1.5e21) == "1.5e+21"
    assert to_fixed_2(-1e21) == "-1e+21"
    # just below the 1e21 cutoff: JS prints the EXACT binary value of the
    # double (verified in node), which Decimal(x) reproduces
    assert to_fixed_2(999999999999999900000.0) == "999999999999999868928.00"


def test_header_merge_priority_header_wins():
    """Reference merge is {...queries, ...header} (TextSaver.ts:219-231):
    on a key collision the header field overrides the query alias."""
    from samu_ocr_extraction_poc_spark.plans.pipeline import merge_header_fields

    merged = merge_header_fields(
        {"division": ["query-division"], "state": ["MO"]},
        {"division": "header-division", "caseNumber": "12-CV"},
        aliases=("state", "division"),
        fields=("division", "caseNumber"),
    )
    assert merged["division"] == "header-division"  # header wins collision
    assert merged["state"] == ["MO"]
    assert merged["caseNumber"] == "12-CV"
    # default key sets: aliases absent from queries default to []
    base = merge_header_fields({}, {})
    assert base["state"] == [] and base["plaintifs"] is None


# --- F3-F5 / A3 medical ------------------------------------------------------


def test_medical_golden():
    ents = medical.med_entities(FX.medical_doc())
    icd = medical.icd10_conditions(ents)
    assert icd == [
        {
            "condition": "hypertension",
            "attributes": ["chronic"],  # 0.8 exact excluded (strict >)
            "code": "I10",
            "description": "Essential hypertension",
        }
    ]
    rx = medical.prescriptions(ents)
    assert rx == [
        {
            "type": "GENERIC_NAME",
            "name": "lisinopril",
            "attributes": ["10mg"],
            "code": "29046",
            "description": "lisinopril 10mg",
        }
    ]
    sn = medical.snomed_codes(ents)
    assert sn == [
        {
            "type": "DX_NAME",
            "category": "MEDICAL_CONDITION",
            "name": "hypertensive disorder",
            "traits": ["DIAGNOSIS"],  # 0.8 exact excluded
            "attributes": ["systemic"],
            "code": "38341003",
            "description": "Hypertensive disorder",
        }
    ]


def test_dedup_keep_first():
    items = [{"code": "a", "v": 1}, {"code": "b", "v": 2}, {"code": "a", "v": 3}]
    assert medical.dedup_keep_first(items, "code") == [
        {"code": "a", "v": 1},
        {"code": "b", "v": 2},
    ]


# --- A7 expense --------------------------------------------------------------


def test_expense_golden():
    pages = expenses_by_page(FX.expense_doc())
    assert len(pages) == 2
    p1, p2 = pages
    assert p1["totalExpenses"] == "1234.50"  # first TOTAL wins
    assert p1["totalPaid"] == "200.00"
    assert p1["totalDue"] == "0.00"  # missing -> ?? 0
    assert p1["receiptInfo"]["accountNumbers"] == ["AC-123"]  # distinct
    assert p1["receiptInfo"]["provider"]["names"] == ["Acme Hospital"]
    assert p1["receiptInfo"]["receiver"]["names"] == ["Jane Roe"]
    assert p1["expenses"] == [
        {
            "price": "100.10",
            "productCode": "XR-1",
            "description": "X-Ray",
            "unitPrice": "50.05",
            "diagnosisCode": "S42.001",
            "provider": "Dr. Doe",
            "quantity": "2.00",
        }
    ]  # missing-PRICE and bad-price items dropped
    assert p2["totalDue"] == "1034.50"
    assert p2["expenses"] == [{"price": "34.50", "description": "Copay"}]


# --- email / transcript -------------------------------------------------------


def test_email_golden():
    e = parse_email(FX.EMAIL_RAW)
    assert e["messageId"] == "<msg-100@example.com>"
    assert e["date"] == "Tue, 01 Aug 2023 10:00:00 GMT"
    assert e["from"] == ["Alice Counsel <alice@lawfirm.example>"]
    assert e["to"] == ["Bob Client <bob@client.example>, Carol <carol@client.example>"]
    assert e["cc"] == ["Dan Paralegal <dan@lawfirm.example>"]
    assert e["bcc"] is None
    assert e["subject"] == "Settlement Offer for Jackson County case"
    assert e["references"] == ["<msg-001@example.com>", "<msg-002@example.com>"]
    assert e["attachments"] == ["offer.txt", "terms.txt"]
    assert "good news" in e["body"]
    assert e["attachmentsWithContent"][0]["filename"] == "offer.txt"


def test_transcript_fold_and_sentiments():
    t = parse_transcript(FX.transcript_doc())
    folded = fold_transcript_text(t)
    assert folded.startswith("\nHello")  # leading \n (text-extract.ts:86-91)
    assert folded.count("\n") == 4
    assert transcript_sentiments(t) == ["POSITIVE", "NEGATIVE", "NEUTRAL"]


# --- N8 html -----------------------------------------------------------------


def test_html_strip_keeps_article_drops_boilerplate():
    blocks = strip_boilerplate(FX.HTML_RAW)
    joined = " ".join(blocks)
    assert "Court Approves Settlement" in joined
    assert "approved the settlement" in joined
    assert "Home" not in joined  # nav dropped
    assert "Copyright" not in joined  # footer dropped
    assert "promotional" not in joined  # sidebar class dropped


def test_html_strip_dedup_is_ancestry_scoped():
    """Innermost-block dedup must only drop true ANCESTORS of a kept block.
    A sibling <p> whose text happens to end with the next <p>'s entire text
    must survive (regression: a real corpus doc lost a main-content block
    this way); a wrapping <div> duplicating its child <p>'s text must still
    be deduped to the innermost."""
    tail = "and some more prose to pass the length gate."
    sib = (
        f"<html><body><article><p>alpha beta gamma delta {tail}</p>"
        f"<p>{tail}</p></article></body></html>"
    )
    blocks = strip_boilerplate(sib)
    assert blocks == [f"alpha beta gamma delta {tail}", tail]
    nested = f"<html><body><div><p>nested child text {tail}</p></div></body></html>"
    assert strip_boilerplate(nested) == [f"nested child text {tail}"]


# --- W4 layout ---------------------------------------------------------------


def test_xy_cut_two_columns():
    assert reading_order_lines(FX.layout_doc()) == [
        "Left one",
        "Left two",
        "Right one",
        "Right two",
    ]


def test_line_texts_filters_falsy():
    spans = FX._seq([FX.span("line", "a"), FX.span("line", ""), FX.span("query", "x")])
    assert line_texts(spans) == ["a"]


def test_plaintiff_at_index_zero_js_splice_wrap():
    """JS Array.splice with a negative start wraps from the end
    (getPlaintiff, stack.TextSaver.ts:99-103: plaintiffLineIndex-1 == -1
    when the plaintiff marker is the header's first line) — faithful quirk:
    the LAST header line becomes the plaintiff."""
    spans = lines([
        "Plaintiff,",          # marker at index 0 after earlier splices
        "Cause No. 1",
        "vs.",
        "Division 2",
        "ACME,",
        "Defendant.",
    ])
    h = get_header(spans)
    # header slice before 'Defendant.' = first 5 lines; case/vs/division
    # spliced out -> ['Plaintiff,', 'ACME,']; defendants = after idx 0 ->
    # ['ACME,']; then splice(-1, 2) on ['Plaintiff,'] wraps -> 'Plaintiff,'
    assert h["defendents"] == ["ACME,"]
    assert h["plaintifs"] == "Plaintiff,"


def test_answer_queries_synthesizes_from_caption():
    """N6: unlinked queries answered from page-1 caption patterns; linked
    queries untouched (J1 stays authoritative)."""
    from samu_ocr_extraction_poc_spark.operators.pleading import answer_queries

    spans = FX.pleading_doc()
    # the 'district' query has no linkage and no DISTRICT in the caption
    before = get_queries(spans)
    assert before["district"] == []
    enriched = answer_queries(spans)
    after = get_queries(enriched)
    assert after["state"] == ["MISSOURI"]  # linked answer untouched
    assert after["district"] == []  # nothing to match -> stays empty

    # now an unlinked state query over a bare caption
    bare = FX._seq(
        [FX.span("page_break", "1"),
         FX.span("line", "IN THE CIRCUIT COURT OF CLAY COUNTY, STATE OF MISSOURI"),
         FX.span("line", "SIXTEENTH JUDICIAL DISTRICT"),
         FX.span("query", "alias=state;text=In which state is this filed?", ""),
         FX.span("query", "alias=court;text=In which court is this filed?", ""),
         FX.span("query", "alias=district;text=In which district is this filed?", "")]
    )
    q = get_queries(answer_queries(bare))
    assert q["state"] == ["MISSOURI"]
    assert q["court"] == ["CIRCUIT COURT"]
    assert q["district"] == ["SIXTEENTH JUDICIAL DISTRICT"]


def test_infer_med_entities_dictionary_match():
    """N5 stand-in: raw clinical text -> entity payloads -> the exact F3-F5
    filter + A3 dedup chain."""
    from samu_ocr_extraction_poc_spark.operators.medical import (
        add_inferred_entities,
        icd10_conditions,
        med_entities,
        prescriptions,
    )

    spans = FX._seq([
        FX.span("page_break", "1"),
        FX.span("line", "Patient has hypertension; prescribed lisinopril for the hypertension."),
    ])
    enriched = add_inferred_entities(spans)
    ents = med_entities(enriched)
    assert len(ents) == 3  # two hypertension hits + lisinopril
    icd = icd10_conditions(ents)
    assert [c["code"] for c in icd] == ["I10"]  # A3 dedup keeps first
    rx = prescriptions(ents)
    assert [p["code"] for p in rx] == ["29046"]
    # docs that already carry model output are untouched
    med = FX.medical_doc()
    assert add_inferred_entities(med) == med


def test_nlp_pins():
    """Behavior pins for the deterministic Comprehend stand-ins (N1/N2/N4):
    frozen so future refactors can't silently change extraction output."""
    from samu_ocr_extraction_poc_spark.functions import nlp

    text = ("On June 1, 2021 Dr. Jane Roe of Acme Hospital LLC in Missouri "
            "approved a payment of $1,250.00 with great success.")
    assert nlp.extract_entity_types(text) == ["PERSON", "DATE", "QUANTITY", "ORGANIZATION", "LOCATION"]
    assert nlp.detect_sentiment(text) == "POSITIVE"
    assert nlp.detect_sentiment("The claim was denied due to negligence.") == "NEGATIVE"
    assert nlp.detect_sentiment("The sky is blue today.") == "NEUTRAL"
    assert nlp.detect_sentiment("A great failure.") == "MIXED"
    assert nlp.extract_key_phrases(text) == ["On June", "Dr Jane Roe", "Acme Hospital LLC"]
    assert nlp.extract_entity_types("") == []
    assert nlp.extract_entities_for_texts([None, "", "Missouri"]) == ["LOCATION"]


def _tagger_corpus() -> list[str]:
    """The sf0.1 documents texts (perfbench's copy), the edge-case texts,
    every fixture span text and a seeded fuzz set built around what the
    tagger's patterns hinge on: case-folding letters (``ſ`` folds to s,
    Kelvin ``K`` to k, ``İ``, ``ß``), month names, ``/``, ``$``, separators
    and ASCII and non-ASCII digits, glued with and without spaces."""
    import random
    from pathlib import Path

    import pyarrow.parquet as pq

    from test_oracle_edge import EDGE_DOCS

    sf = Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.1"
    texts = [t for t in pq.read_table(sf, columns=["text"])["text"].to_pylist() if t]
    texts += [d[1] for d in EDGE_DOCS]
    texts += [s["text"] for _, spans in FX.canonical_docs() for s in spans if s.get("text")]
    tokens = [
        "ſ", "\u212a", "\u0130", "ß", "/", "$", ",", ".", "-", "'", "&", "_", "x", "of", "the", "and",
        "0", "1", "7", "19", "20", "1999", "2024", "12/31/2024", "3/4/99", "1/2", "\u0661\u0662",
        "1,000", "$1,234.56", "12.5", "January", "june", "JULY", "ſeptember", "ſEPTEMBER",
        "dec", "novembre", "May", "Acme", "Hospital", "LLC", "Dr.", "Missouri", "County", "K2",
        "İstanbul", "Straße", "Jane", "ROE",
    ]
    seps = ["", " ", "  ", "\n", "/", ", "]
    rng = random.Random(11)
    for _ in range(20000):
        texts.append("".join(rng.choice(tokens) + rng.choice(seps) for _ in range(rng.randint(1, 8))))
    return texts


def test_entity_patterns_match_their_unguarded_forms():
    """The tagger's guarded patterns find exactly what their ``\\b``-led
    forms found, kept here verbatim: the same (start, text) lists on every
    corpus text, and the same ``_DATE_RE.match`` the tagger applies to each
    quantity."""
    import re

    from samu_ocr_extraction_poc_spark.functions import nlp

    months = "january|february|march|april|may|june|july|august|september|october|november|december"
    unguarded = {
        "_DATE_RE": re.compile(
            rf"\b(?:(?:19|20)\d{{2}}|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|(?:{months})\s+\d{{1,2}}(?:,\s*\d{{4}})?)\b",
            re.IGNORECASE,
        ),
        "_QUANTITY_RE": re.compile(r"(?<![/\w])\$?\d+(?:,\d{3})*(?:\.\d+)?\b(?!/)"),
        "_CAP_RUN_RE": re.compile(r"\b(?:[A-Z][A-Za-z&.'-]*)(?:\s+(?:[A-Z][A-Za-z&.'-]*|of|the|and))*\b"),
    }
    found = dict.fromkeys(unguarded, 0)
    for text in _tagger_corpus():
        for name, old in unguarded.items():
            want = [(m.start(), m.group()) for m in old.finditer(text)]
            assert [(m.start(), m.group()) for m in getattr(nlp, name).finditer(text)] == want, (name, text)
            found[name] += len(want)
        for m in unguarded["_QUANTITY_RE"].finditer(text):
            q = m.group()
            assert bool(nlp._DATE_RE.match(q)) == bool(unguarded["_DATE_RE"].match(q)), q
    # the corpus exercises every pattern
    assert all(n > 1000 for n in found.values()), found


def test_html_link_ratio_boundary():
    """N8 boundary pin: a block at exactly the 1/3 link-density threshold is
    kept (<=); above it is dropped."""
    # 30 text chars of which 10 are link text -> ratio exactly 1/3
    body_text = "x" * 20
    link_text = "y" * 10
    html_keep = f"<html><body><p>{body_text}<a href='/'>{link_text}</a></p></body></html>"
    kept = strip_boilerplate(html_keep)
    assert kept and link_text in kept[0]
    # 20 link chars of 30 -> ratio 2/3 -> dropped
    html_drop = f"<html><body><p>{'x' * 10}<a href='/'>{'y' * 20}</a></p></body></html>"
    assert strip_boilerplate(html_drop) == []


def test_queries_multiple_answer_ids():
    """Relationships[ANSWER].Ids is an array (stack.TextSaver.ts:34-40):
    a query may link several QUERY_RESULT blocks, in id order."""
    spans = FX._seq([
        FX.span("query", "alias=court;text=Which court?", "a1,a2"),
        FX.span("query_result", "CIRCUIT COURT", "a1"),
        FX.span("query_result", "SIXTEENTH DISTRICT", "a2"),
    ])
    assert get_queries(spans) == {"court": ["CIRCUIT COURT", "SIXTEENTH DISTRICT"]}
