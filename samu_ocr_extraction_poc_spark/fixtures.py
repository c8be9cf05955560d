"""Deterministic fixture corpus (SURVEY.md §5, FIXTURES.md).

Two generator surfaces:

- :func:`canonical_docs` — hand-built documents, >=1 per operator family
  (FIXTURES.md §5), with golden expectations pinned in tests/.
- :func:`spans_from_text` / :func:`synth_corpus` — deterministic synthesis of
  the interleaved ``documents(doc_id, spans)`` table from any plain-text
  corpus (used to drive the flagship pipeline from the driver's
  ``documents.parquet`` and for benchmarking). Same doc_id -> same spans,
  always.

No randomness anywhere: variation derives from sha256 of the doc key.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

from .schema import DOCUMENTS_SCHEMA


def span(kind: str, text: str = "", media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _seq(spans: list[dict]) -> list[dict]:
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans


def doc_id_for(key: str) -> str:
    """sha256 hex of the key — reference generateId (lib/utils.ts:8-12)."""
    return hashlib.sha256(key.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Canonical fixture documents (FIXTURES.md §5)
# ---------------------------------------------------------------------------

OCR_LOOKUP = {
    "img-001": "EXHIBIT A Medical invoice scan",
    "img-002": "Signature page",
    "img-003": "X-ray report: no fracture detected",
}


def pleading_doc() -> list[dict]:
    """3-page pleading: caption, ')' dividers, 5 numbered paragraphs with a
    Q&A tail, 4 page-1 queries with answers (W1, W2, J1, N6, A1, F10)."""
    lines1 = [
        "IN THE CIRCUIT COURT OF JACKSON COUNTY, MISSOURI",
        "AT INDEPENDENCE",
        "JANE ROE,",
        "Plaintiff,",
        ")",
        "vs.",
        ")",
        "Cause No. 2116-CV12345",
        "Division 12",
        "ACME HOSPITAL LLC,",
        "and,",
        "JOHN DOE M.D.,",
        ")",
        "Defendants.",
        "PETITION FOR DAMAGES",
    ]
    lines2 = [
        "COMES NOW Plaintiff and states as follows:",
        "1. Plaintiff is a resident of Jackson County, Missouri.",
        "2. Defendant Acme Hospital LLC operates a hospital",
        "in Independence, Missouri.",
        "3. On June 1, 2021 Plaintiff was admitted for care.",
        "4. Defendants negligently failed to diagnose the condition.",
    ]
    lines3 = [
        "5. As a direct result Plaintiff suffered damages",
        "in excess of $25,000.00?",
        "ANSWER: Defendants deny each and every allegation.",
        "WHEREFORE, Plaintiff prays for judgment.",
    ]
    spans = [span("page_break", "1")]
    spans += [span("line", t) for t in lines1]
    spans += [
        span("query", "alias=state;text=In which state is this filed?", "a1"),
        span("query", "alias=county;text=In which county is this filed?", "a2"),
        span("query", "alias=court;text=In which court is this filed?", "a3"),
        span("query", "alias=district;text=In which district is this filed?", ""),
        span("query_result", "MISSOURI", "a1"),
        span("query_result", "JACKSON COUNTY", "a2"),
        span("query_result", "CIRCUIT COURT", "a3"),
    ]
    spans += [span("page_break", "2")]
    spans += [span("line", t) for t in lines2]
    spans += [span("page_break", "3")]
    spans += [span("line", t) for t in lines3]
    return _seq(spans)


def bad_pleading_doc() -> list[dict]:
    """Missing 'vs.' marker -> BadFormatError path (stack.TextSaver.ts:56)."""
    lines = [
        "JANE ROE,",
        "Plaintiff,",
        "Cause No. 2116-CV99999",
        "Division 1",
        "ACME CORP,",
        "Defendants.",
        "1. A paragraph.",
    ]
    spans = [span("page_break", "1")] + [span("line", t) for t in lines]
    spans.append(span("query", "alias=state;text=In which state is this filed?", ""))
    return _seq(spans)


def medical_doc() -> list[dict]:
    """med_entity spans straddling each confidence threshold boundary
    (.2/.8/.85/.95 exact, above, below) + duplicate codes for keep-first
    dedup (F3-F5, A3)."""

    def ent(system, category, type_, text, score, concepts, attrs=None, traits=None):
        payload = {
            "System": system,
            "Category": category,
            "Type": type_,
            "Text": text,
            "Score": score,
            "Concepts": concepts,
        }
        if attrs is not None:
            payload["Attributes"] = attrs
        if traits is not None:
            payload["Traits"] = traits
        return span("med_entity", json.dumps(payload))

    spans = [
        span("page_break", "1"),
        span("line", "Patient presents with hypertension and was prescribed lisinopril."),
        # ICD10: exactly at .95 -> excluded (strict >)
        ent("ICD10", "MEDICAL_CONDITION", "DX_NAME", "hypertension", 0.95,
            [{"Code": "I10", "Description": "Essential hypertension", "Score": 0.9}]),
        # ICD10: above threshold, first concept below concept-thr (.2 exact ->
        # excluded), second kept
        ent("ICD10", "MEDICAL_CONDITION", "DX_NAME", "hypertension", 0.96,
            [{"Code": "I10.X", "Description": "skip-me", "Score": 0.2},
             {"Code": "I10", "Description": "Essential hypertension", "Score": 0.21}],
            attrs=[{"Text": "chronic", "Score": 0.81}, {"Text": "mild", "Score": 0.8}]),
        # ICD10: duplicate code -> dropped by keep-first dedup
        ent("ICD10", "MEDICAL_CONDITION", "DX_NAME", "high blood pressure", 0.99,
            [{"Code": "I10", "Description": "dup", "Score": 0.9}]),
        # ICD10: concept with empty Code -> transformConcept rejects
        ent("ICD10", "MEDICAL_CONDITION", "DX_NAME", "malaise", 0.97,
            [{"Code": "", "Description": "no code", "Score": 0.9}]),
        # ICD10: wrong category -> excluded
        ent("ICD10", "MEDICATION", "DX_NAME", "aspirin", 0.99,
            [{"Code": "Z00", "Description": "nope", "Score": 0.9}]),
        # RXNORM: at .85 -> excluded; above -> kept (no Code requirement)
        ent("RXNORM", "MEDICATION", "GENERIC_NAME", "lisinopril", 0.85,
            [{"Code": "29046", "Description": "lisinopril", "Score": 0.9}]),
        ent("RXNORM", "MEDICATION", "GENERIC_NAME", "lisinopril", 0.86,
            [{"Code": "29046", "Description": "lisinopril 10mg", "Score": 0.9}],
            attrs=[{"Text": "10mg", "Score": 0.85}]),
        # SNOMED: no category filter; score .86 kept, traits filtered at .8
        ent("SNOMED", "MEDICAL_CONDITION", "DX_NAME", "hypertensive disorder", 0.86,
            [{"Code": "38341003", "Description": "Hypertensive disorder", "Score": 0.5}],
            attrs=[{"Text": "systemic", "Score": 0.9}],
            traits=[{"Name": "DIAGNOSIS", "Score": 0.81}, {"Name": "NEGATION", "Score": 0.8}]),
        # SNOMED: below entity threshold
        ent("SNOMED", "TEST", "TEST_NAME", "blood pressure", 0.84,
            [{"Code": "75367002", "Description": "BP", "Score": 0.9}]),
    ]
    return _seq(spans)


def expense_doc() -> list[dict]:
    """2-page expense doc: $1,234.50-style values, OTHER Diagnosis/provider
    labels, missing-PRICE line item dropped (A7, C2-C4, F6-F7)."""

    def field(page, type_, value):
        return span("expense_field", json.dumps({"Page": page, "Type": type_, "Label": None, "Value": value}))

    def item(page, fields):
        return span("expense_item", json.dumps({"Page": page, "Fields": fields}))

    spans = [
        field(1, "TOTAL", "$1,234.50"),
        field(1, "TOTAL", "$9,999.99"),  # only the FIRST total counts
        field(1, "AMOUNT_PAID", "$200.00"),
        field(1, "ACCOUNT_NUMBER", "AC-123"),
        field(1, "ACCOUNT_NUMBER", "AC-123"),  # distinct-accumulated
        field(1, "VENDOR_NAME", "Acme Hospital"),
        field(1, "VENDOR_ADDRESS", "1 Main St, Independence MO"),
        field(1, "RECEIVER_NAME", "Jane Roe"),
        item(1, [
            {"Type": "PRICE", "Value": "$100.10"},
            {"Type": "ITEM", "Value": "X-Ray"},
            {"Type": "PRODUCT_CODE", "Value": "XR-1"},
            {"Type": "UNIT_PRICE", "Value": "$50.05"},
            {"Type": "QUANTITY", "Value": "2"},
            {"Type": "OTHER", "Label": "Diagnosis", "Value": "S42.001"},
            {"Type": "OTHER", "Label": "provider", "Value": "Dr. Doe"},
        ]),
        item(1, [  # missing PRICE -> dropped (ExpenseSaver.ts:140-144)
            {"Type": "ITEM", "Value": "Bandage"},
        ]),
        item(1, [  # unparseable price -> dropped
            {"Type": "PRICE", "Value": "N/A"},
            {"Type": "ITEM", "Value": "Misc"},
        ]),
        field(2, "AMOUNT_DUE", "$1,034.50"),
        item(2, [
            {"Type": "PRICE", "Value": "$34.50"},
            {"Type": "ITEM", "Value": "Copay"},
        ]),
    ]
    return _seq(spans)


EMAIL_RAW = (
    "Message-ID: <msg-100@example.com>\n"
    "Date: Tue, 01 Aug 2023 10:00:00 +0000\n"
    "From: Alice Counsel <alice@lawfirm.example>\n"
    "To: Bob Client <bob@client.example>, Carol <carol@client.example>\n"
    "Cc: Dan Paralegal <dan@lawfirm.example>\n"
    "Subject: Settlement Offer for Jackson County case\n"
    "References: <msg-001@example.com> <msg-002@example.com>\n"
    'Content-Type: multipart/mixed; boundary="b1"\n'
    "\n"
    "--b1\n"
    "Content-Type: text/plain\n"
    "\n"
    "Dear Bob, we are pleased to share good news about the settlement of\n"
    "$25,000.00 approved on August 1, 2023 by Acme Insurance Group.\n"
    "--b1\n"
    'Content-Type: text/plain; name="offer.txt"\n'
    'Content-Disposition: attachment; filename="offer.txt"\n'
    "\n"
    "Offer terms attached.\n"
    "--b1\n"
    'Content-Type: text/plain; name="terms.txt"\n'
    'Content-Disposition: attachment; filename="terms.txt"\n'
    "\n"
    "Full terms.\n"
    "--b1--\n"
)


def email_doc() -> list[dict]:
    return _seq([span("email", EMAIL_RAW)])


def transcript_doc() -> list[dict]:
    utts = [
        {"Content": "Hello, thanks for taking my call.", "Sentiment": "POSITIVE", "ParticipantId": "AGENT"},
        {"Content": "I am unhappy about the denied claim.", "Sentiment": "NEGATIVE", "ParticipantId": "CUSTOMER"},
        {"Content": "Let me check the status for you.", "Sentiment": "NEUTRAL", "ParticipantId": "AGENT"},
        {"Content": "It was denied again.", "Sentiment": "NEGATIVE", "ParticipantId": "CUSTOMER"},
    ]
    return _seq([span("transcript_utt", json.dumps(u)) for u in utts])


HTML_RAW = (
    "<html><head><title>Case Update</title><style>p{}</style></head><body>"
    "<nav><a href='/'>Home</a> <a href='/cases'>Cases</a> <a href='/about'>About</a></nav>"
    "<div class='sidebar'><p>Related links and lots of promotional text here</p></div>"
    "<article>"
    "<h1>Court Approves Settlement</h1>"
    "<p>The Circuit Court of Jackson County approved the settlement of the "
    "Roe case on August 1, 2023, ending two years of litigation.</p>"
    "<p>Counsel for the plaintiff said the outcome was a great success for "
    "the client and the community at large.</p>"
    "</article>"
    "<footer><p>Copyright 2023 Example News. <a href='/terms'>Terms</a> "
    "<a href='/privacy'>Privacy</a></p></footer>"
    "</body></html>"
)


def html_doc() -> list[dict]:
    """HTML boilerplate + main article + inline media span (N8, N7)."""
    return _seq(
        [
            span("html", HTML_RAW),
            span("media", "", "img-003"),
        ]
    )


def layout_doc() -> list[dict]:
    """Two-column page for XY-cut: left column two lines, right column two
    lines; correct reading order is left column then right column."""
    boxes = [
        # left column
        ("Left", 0.05, 0.10, 0.15, 0.13), ("one", 0.17, 0.10, 0.25, 0.13),
        ("Left", 0.05, 0.16, 0.15, 0.19), ("two", 0.17, 0.16, 0.25, 0.19),
        # right column
        ("Right", 0.55, 0.10, 0.68, 0.13), ("one", 0.70, 0.10, 0.78, 0.13),
        ("Right", 0.55, 0.16, 0.68, 0.19), ("two", 0.70, 0.16, 0.78, 0.19),
    ]
    return _seq(
        [span("word_box", f"{w}|{x0},{y0},{x1},{y1}") for (w, x0, y0, x1, y1) in boxes]
    )


def letter_doc() -> list[dict]:
    lines = [
        "Dear Ms. Roe,",
        "We appreciate your patience regarding the claim.",
        "The review was a success and payment of $1,250.00 was approved",
        "on July 15, 2023 by Acme Insurance Group.",
        "Sincerely, Claims Department",
    ]
    spans = [span("page_break", "1")] + [span("line", t) for t in lines]
    spans.append(span("media", "", "img-002"))
    return _seq(spans)


def skew_doc() -> list[dict]:
    """One 400-page doc of 30 lines a page among 1-page docs (salting /
    Arrow-batch-cap test)."""
    spans = []
    for p in range(1, 401):
        spans.append(span("page_break", str(p)))
        for i in range(30):
            spans.append(span("line", f"Page {p} line {i} of the long filing."))
    return _seq(spans)


def unknown_doc() -> list[dict]:
    return _seq([span("mystery", "???")])


def canonical_docs() -> list[tuple[str, list[dict]]]:
    """(doc_key, spans) for every operator family; doc_id = sha256(key)."""
    return [
        ("Pleadings/roe-v-acme.pdf", pleading_doc()),
        ("Pleadings/bad-format.pdf", bad_pleading_doc()),
        ("Medical/patient-1.pdf", medical_doc()),
        ("Medical/invoice-1.pdf", expense_doc()),
        ("Correspondence/settlement.eml", email_doc()),
        ("Correspondence/call-1.json", transcript_doc()),
        ("Web/case-update.html", html_doc()),
        ("Layout/two-column.pdf", layout_doc()),
        ("Correspondence/letter-1.pdf", letter_doc()),
        ("Misc/blob.bin", unknown_doc()),
    ]


def canonical_corpus(spark: SparkSession, with_skew: bool = False) -> DataFrame:
    docs = [(doc_id_for(k), v) for k, v in canonical_docs()]
    if with_skew:
        docs.append((doc_id_for("Pleadings/giant.pdf"), skew_doc()))
    return spark.createDataFrame(
        [(d, [tuple(s[f] for f in ("kind", "text", "media_ref", "offset")) for s in spans])
         for d, spans in docs],
        schema=DOCUMENTS_SCHEMA,
    )


def ocr_lookup_table(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §4 ``ocr_lookup(media_ref, text)`` as a table (the frozen
    Textract stand-in; join-able or collect-to-broadcast)."""
    return spark.createDataFrame(
        sorted(OCR_LOOKUP.items()), "media_ref string, text string"
    )


def ontology_dict_table(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §4 ``ontology_dict(term, system, code, description,
    score)`` as a table (drives the N5 dictionary matcher)."""
    from .operators.medical import ONTOLOGY_DICT

    rows = [
        (term, system, code, desc, float(score))
        for term, (system, _cat, _typ, code, desc, score) in sorted(ONTOLOGY_DICT.items())
    ]
    return spark.createDataFrame(
        rows, "term string, system string, code string, description string, score double"
    )


# ---------------------------------------------------------------------------
# Synthesis from plain text (driver documents table -> interleaved corpus)
# ---------------------------------------------------------------------------

WORDS_PER_LINE = 8
LINES_PER_PAGE = 5


def spans_from_text(key: str, text: str) -> list[dict]:
    """Deterministically interleave a plain-text doc into spans.

    Doc family rotates on sha256(key) so a corpus exercises EVERY extractor
    branch: 45% pdf-letter, 5% RFC-822 email, 15% html, 10% transcript,
    10% pleading, 5% medical, 5% expense, 5% mixed media-heavy.
    """
    h = int(hashlib.sha256(key.encode()).hexdigest()[:8], 16)
    words = text.split()
    lines = [" ".join(words[i : i + WORDS_PER_LINE]) for i in range(0, len(words), WORDS_PER_LINE)]
    sel = h % 20
    if sel < 9:  # pdf letter
        spans = []
        for i, line in enumerate(lines):
            if i % LINES_PER_PAGE == 0:
                spans.append(span("page_break", str(i // LINES_PER_PAGE + 1)))
            spans.append(span("line", line))
        if h % 3 == 0:
            spans.append(span("media", "", f"img-{h % 7:03d}"))
        return _seq(spans)
    if sel < 10:  # RFC-822 email (sel 9, carved from letters in round 3 —
        # VERDICT r2 item 2: parse_email/S3 was pytest-golden-only before)
        body = "\n".join(lines)
        raw = (
            f"Message-ID: <msg-{h % 100000}@example.test>\n"
            f"Date: Mon, {h % 28 + 1:02d} Jan 2024 "
            f"{h % 24:02d}:{h % 60:02d}:{(h // 7) % 60:02d} +0000\n"
            f"From: Sender {h % 50} <sender{h % 50}@example.test>\n"
            f"To: Recipient {h % 40} <recipient{h % 40}@example.test>\n"
            f"Subject: Matter {h % 1000}\n"
            "\n" + body
        )
        return _seq([span("email", raw)])
    if sel < 13:  # html
        body = "".join(f"<p>{line} and some more prose to pass the length gate.</p>" for line in lines[:6])
        html = (
            "<html><body><nav><a href='/'>Home</a><a href='/x'>X</a></nav>"
            f"<article><h1>Document {h % 1000}</h1>{body}</article>"
            "<footer><a href='/terms'>Terms</a></footer></body></html>"
        )
        return _seq([span("html", html)])
    if sel < 15:  # transcript
        utts = [
            {"Content": line, "Sentiment": ["POSITIVE", "NEGATIVE", "NEUTRAL"][(h + i) % 3], "ParticipantId": f"P{i % 2}"}
            for i, line in enumerate(lines[:8])
        ]
        return _seq([span("transcript_utt", json.dumps(u)) for u in utts])
    if sel < 17:  # pleading (well-formed caption + numbered paragraphs)
        caption = [
            f"PARTY {h % 97},",
            "Plaintiff,",
            "vs.",
            f"Cause No. {h % 10000}-CV",
            f"Division {h % 12 + 1}",
            f"RESPONDENT {h % 89} LLC,",
            "Defendants.",
        ]
        paras = [f"{i + 1}. {line}." for i, line in enumerate(lines[:5])]
        spans = [span("page_break", "1")]
        spans += [span("line", t) for t in caption]
        spans += [
            span("query", "alias=state;text=In which state is this filed?", f"q{h % 100}"),
            span("query_result", f"STATE {h % 50}", f"q{h % 100}"),
        ]
        spans += [span("line", t) for t in paras]
        return _seq(spans)
    if sel < 18:  # medical entities
        ents = []
        for i, line in enumerate(lines[:6]):
            term = line.split()[0] if line else "term"
            ents.append(
                span(
                    "med_entity",
                    json.dumps(
                        {
                            "System": ["ICD10", "RXNORM", "SNOMED"][i % 3],
                            "Category": ["MEDICAL_CONDITION", "MEDICATION", "TEST"][i % 3],
                            "Type": "DX_NAME",
                            "Text": term,
                            "Score": 0.8 + (h + i) % 20 / 100.0,
                            "Concepts": [
                                {"Code": f"C{(h + i) % 999}", "Description": term, "Score": 0.5}
                            ],
                            "Attributes": [{"Text": "attr", "Score": 0.81}],
                            "Traits": [{"Name": "T", "Score": 0.81}],
                        }
                    ),
                )
            )
        return _seq([span("page_break", "1"), span("line", lines[0] if lines else "")] + ents)
    if sel < 19:  # expense
        spans = [
            span("expense_field", json.dumps({"Page": 1, "Type": "TOTAL", "Label": None, "Value": f"${h % 9000}.{h % 100:02d}"})),
            span("expense_field", json.dumps({"Page": 1, "Type": "VENDOR_NAME", "Label": None, "Value": f"Vendor {h % 50}"})),
            span("expense_item", json.dumps({"Page": 1, "Fields": [
                {"Type": "PRICE", "Value": f"${h % 500}.{h % 90:02d}"},
                {"Type": "ITEM", "Value": lines[0][:30] if lines else "item"},
            ]})),
        ]
        return _seq(spans)
    # media-heavy mixed doc
    spans = [span("page_break", "1")]
    for i, line in enumerate(lines[:4]):
        spans.append(span("line", line))
        spans.append(span("media", "", f"img-{(h + i) % 7:03d}"))
    return _seq(spans)


def synth_corpus_from_documents(
    docs_df: DataFrame, replicate: int = 1
) -> DataFrame:
    """Driver ``documents(doc_id:int64, text, ...)`` -> interleaved corpus.

    JVM-side replication (explode over a literal sequence) lets the bench
    scale volume without Python in the loop; span synthesis itself is one
    Arrow-batched stage.
    """
    from pyspark.sql import functions as F

    from .schema import SPANS_TYPE

    base = docs_df.select(F.col("doc_id").cast("string").alias("key"), "text")
    if replicate > 1:
        base = base.select(
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("rep"), "key", "text"
        ).select(F.concat_ws("#", "key", "rep").alias("key"), "text")
    # hash-repartition before the Arrow synth stage: the sandbox's
    # single-row-group parquet reads as ONE task, which would serialize all
    # Python synthesis; a real corpus is many files and parallelizes at the
    # scan (SURVEY.md §4 partitioning discipline)
    base = base.repartition(
        int(docs_df.sparkSession.conf.get("spark.sql.shuffle.partitions")), "key"
    )

    import pandas as pd

    def _synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": [doc_id_for(k) for k in pdf["key"]],
                    "spans": [
                        [
                            tuple(s[f] for f in ("kind", "text", "media_ref", "offset"))
                            for s in spans_from_text(k, t)
                        ]
                        for k, t in zip(pdf["key"], pdf["text"])
                    ],
                }
            )

    return base.mapInPandas(_synth, DOCUMENTS_SCHEMA)
