"""Seeded inputs for the benchmark workloads.

The text comes from the repository's ``documents`` test tables, copied to
``perfbench/data/sf0.1`` and ``perfbench/data/sf0.01`` so that the benchmark
reads nothing outside its checkout. The seed goes into every document key,
so it moves the doc ids, the ``spans_from_text`` family rotation and the
drawn page counts. The program under test only sees the parquet tables
written here; the benchmark reads them back for its own reference checks
and layer samples.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from samu_ocr_extraction_poc_spark import fixtures as FX
from samu_ocr_extraction_poc_spark.plans.pipeline import route_doc_type
from samu_ocr_extraction_poc_spark.schema import DOCUMENTS_SCHEMA

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
SMALL_FAMILIES = ["letter", "email", "html", "transcript", "pleading", "medical", "expense", "media"]
FAMILIES = SMALL_FAMILIES + ["book"]
OCR_LOOKUP = FX.OCR_LOOKUP


def documents_path(sf: str) -> str:
    return os.path.join(DATA, sf, "documents.parquet")


def family_of(spans: list[dict]) -> str:
    """The family a document's span kinds put it in: the program's own
    router, with the two splits ``spans_from_text`` makes inside a route,
    medical entities vs expense fields and letters vs media-heavy docs."""
    kinds = [s["kind"] for s in spans]
    route = route_doc_type(set(kinds))
    if route == "medical":
        return "medical" if "med_entity" in kinds else "expense"
    if route == "correspondence_letter":
        return "media" if kinds.count("media") > 1 else "letter"
    return {"correspondence_email": "email", "correspondence_transcript": "transcript"}.get(route, route)


@dataclass
class Corpus:
    """An interleaved ``documents(doc_id, spans)`` corpus as the benchmark
    holds it in the driver."""

    doc_ids: list[str] = field(default_factory=list)
    spans: list[list[dict]] = field(default_factory=list)
    families: list[str] = field(default_factory=list)

    def add(self, doc_id: str, spans: list[dict], family: str) -> None:
        self.doc_ids.append(doc_id)
        self.spans.append(spans)
        self.families.append(family)

    @property
    def n_spans(self) -> int:
        return sum(len(s) for s in self.spans)

    def by_family(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for i, fam in enumerate(self.families):
            out.setdefault(fam, []).append(i)
        return out


def synth(spark, seed: int, sf: str, n_docs: int, replicate: int = 1):
    """``fixtures.synth_corpus_from_documents`` over the first ``n_docs``
    rows of the ``sf`` documents table, keyed ``<seed>/<doc_id>``."""
    docs = spark.read.parquet(documents_path(sf)).where(F.col("doc_id") < n_docs)
    keyed = docs.select(F.concat_ws("/", F.lit(str(seed)), F.col("doc_id").cast("string")).alias("doc_id"), "text")
    return FX.synth_corpus_from_documents(keyed, replicate=replicate)


def as_frame(spark, docs: list[tuple[str, list[dict]]]):
    """(key, spans) pairs as a ``documents`` frame, doc_id = sha256(key)."""
    return spark.createDataFrame(
        [(FX.doc_id_for(k), [tuple(s[f] for f in SPAN_FIELDS) for s in spans]) for k, spans in docs],
        schema=DOCUMENTS_SCHEMA,
    )


def bad_pleadings(seed: int, n: int) -> list[tuple[str, list[dict]]]:
    """Pleadings with no 'vs.' line: extraction turns each into one
    ``BadFormatError`` row, so the generator knows the error count."""
    return [(f"{seed}/bad/{i}", FX.bad_pleading_doc()) for i in range(n)]


def materialize(frame, out: str, n_files: int) -> None:
    frame.repartition(n_files).write.mode("overwrite").parquet(out)


def read_corpus(path: str) -> Corpus:
    """A materialized table read back into the driver."""
    table = pq.read_table(path)
    corpus = Corpus()
    for d, spans in zip(table["doc_id"].to_pylist(), table["spans"].to_pylist()):
        corpus.add(d, spans, "")
    return corpus


def line_pool(sf: str = "sf0.1") -> list[str]:
    """Every line ``spans_from_text`` cuts from the documents table's texts;
    book pages draw from it."""
    n = FX.WORDS_PER_LINE
    out = []
    for text in pq.read_table(documents_path(sf), columns=["text"])["text"].to_pylist():
        words = text.split()
        out += [" ".join(words[i:i + n]) for i in range(0, len(words), n)]
    return out


def book_spans(rng: random.Random, pool: list[str], n_pages: int, lines_per_page: int,
               pleading: bool) -> list[dict]:
    """A book-scale filing built like ``fixtures.skew_doc``: a page break and
    ``lines_per_page`` lines per page. The pleading variant opens with a
    well-formed caption and one query, and numbers a paragraph per page."""
    spans: list[dict] = []
    if pleading:
        spans.append(FX.span("page_break", "1"))
        for t in ("JANE ROE,", "Plaintiff,", "vs.", f"Cause No. {rng.randint(1000, 9999)}-CV",
                  f"Division {rng.randint(1, 12)}", "ACME HOSPITAL LLC,", "Defendants."):
            spans.append(FX.span("line", t))
        spans.append(FX.span("query", "alias=state;text=In which state is this filed?", "q1"))
        spans.append(FX.span("query_result", f"STATE {rng.randint(1, 50)}", "q1"))
    for p in range(2 if pleading else 1, n_pages + 1):
        spans.append(FX.span("page_break", str(p)))
        for i in range(lines_per_page):
            words = rng.choice(pool)
            spans.append(FX.span("line", f"{p - 1}. {words}" if pleading and i == 0 else words))
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans


def page_ladder(rng: random.Random, n: int, max_pages: int) -> list[int]:
    """``n`` page counts on a geometric ladder from ``max_pages / 12`` to
    ``max_pages``, each jittered by up to 10% and rescaled so the total is
    the same on every seed, in seeded order."""
    ratio = (1 / 12) ** (1 / max(1, n - 1))
    ladder = [max_pages * ratio**k for k in range(n)]
    jittered = [p * rng.uniform(0.9, 1.1) for p in ladder]
    pages = [max(2, round(p * sum(ladder) / sum(jittered))) for p in jittered]
    rng.shuffle(pages)
    return pages


def books(seed: int, n_books: int, giant_pages: int, letter_pages: int, pleading_pages: int,
          lines_per_page: int) -> list[tuple[str, list[dict]]]:
    """Book-scale filings: one letter filing of ``giant_pages`` (the
    straggler, the same length on every seed), then the rest split between
    the letter and the pleading route on seeded page ladders. The seed moves
    which filing is how long, not how much work there is. Pleadings stay
    shorter: paragraph segmentation grows with pages times paragraphs."""
    rng = random.Random(seed * 7919 + 1)
    pool = line_pool()
    rest = n_books - 1
    kinds = [(p, False) for p in page_ladder(rng, rest - rest // 2, letter_pages)]
    kinds += [(p, True) for p in page_ladder(rng, rest // 2, pleading_pages)]
    kinds.append((giant_pages, False))
    rng.shuffle(kinds)
    return [(f"{seed}/book/{b}", book_spans(rng, pool, n_pages, lines_per_page, pleading))
            for b, (n_pages, pleading) in enumerate(kinds)]


def family_samples(seed: int, per_family: int, book_pages: int) -> Corpus:
    """A fixed-size sample of every family for the driver-side layer timings:
    the first ``per_family`` documents of each family in the sf0.1 table,
    keyed as ``extract_mixed`` keys them, and two books."""
    table = pq.read_table(documents_path("sf0.1"), columns=["doc_id", "text"])
    corpus = Corpus()
    counts = dict.fromkeys(SMALL_FAMILIES, 0)
    for doc_id, text in zip(table["doc_id"].to_pylist(), table["text"].to_pylist()):
        key = f"{seed}/{doc_id}"
        spans = FX.spans_from_text(key, text)
        fam = family_of(spans)
        if counts[fam] < per_family:
            counts[fam] += 1
            corpus.add(FX.doc_id_for(key), spans, fam)
        if min(counts.values()) >= per_family:
            break
    rng = random.Random(seed * 31 + 5)
    pool = line_pool()
    for b in range(2):
        corpus.add(FX.doc_id_for(f"{seed}/sample-book/{b}"),
                   book_spans(rng, pool, book_pages, 20, pleading=b == 1), "book")
    return corpus


def curation_table(seed: int, n_docs: int, out: str) -> int:
    """The sf0.01 ``documents`` table for the curation queries: its first
    ``n_docs`` rows, the doc ids shifted by ``seed * 10**6`` and the rows
    shuffled by the seed. The shift keeps the ids' order, so the loop
    operators, whose components take the smallest id, run the same rounds
    on every seed; the texts stay the same."""
    table = pq.read_table(documents_path("sf0.01")).slice(0, n_docs)
    ids = pa.array([d + seed * 10**6 for d in table["doc_id"].to_pylist()], pa.int64())
    table = table.set_column(0, "doc_id", ids)
    table = table.take(random.Random(seed).sample(range(table.num_rows), table.num_rows))
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return table.num_rows
