"""Pleading caption parse (W1), paragraph segmentation (W2), query join (J1).

Faithful reimplementation of lib/pleading-extractor/stack.TextSaver.ts with
its mutation-order quirks preserved:

- getHeader (ts:105-136): drop ``')'`` dividers, slice before the first line
  containing 'defendant', then *mutating* extraction in this exact order:
  case/cause line, vs. line, division line, defendants (everything after the
  plaintiff line, minus 'and,' lines), plaintiff (2 lines spliced starting
  one *before* the plaintiff marker, first kept).
- getNumberedParagraphs (ts:141-184): strictly ``index > 0`` loop conditions
  (a marker at position 0 is not a paragraph start), sentence-final
  punctuation extension, and the 'answer' Q&A tail extension.
- getQueries (ts:30-47): QUERY -> ANSWER ids -> QUERY_RESULT lookup.

Span encoding (FIXTURES.md): query spans carry ``alias=<a>;text=<q>`` in
``text`` and comma-joined answer ids in ``media_ref``; query_result spans
carry their id in ``media_ref``.
"""

from __future__ import annotations

import re

from .pages import is_kind


class BadFormatError(Exception):
    """Mirror of the reference's BadFormatError (stack.TextSaver.ts:49)."""


_VS_PATTERNS = ("vs.", "v.")


def _find_index(items, pred):
    for i, it in enumerate(items):
        if pred(it):
            return i
    return -1


def _splice(lst: list, start: int, count: int | None = None) -> list:
    """JS Array.prototype.splice semantics (negative start wraps)."""
    n = len(lst)
    if start < 0:
        start = max(n + start, 0)
    else:
        start = min(start, n)
    if count is None:
        count = n - start
    count = max(0, min(count, n - start))
    removed = lst[start : start + count]
    del lst[start : start + count]
    return removed


def _lower_starts(text: str | None, *prefixes: str) -> bool:
    return text is not None and any(text.lower().startswith(p) for p in prefixes)


def get_queries(spans: list[dict]) -> dict[str, list[str | None]]:
    """J1: query->answer relationship join (stack.TextSaver.ts:30-47).

    Both sides live inside one document's span array, so this is an in-row
    dict lookup — no shuffle (SURVEY.md §2.3 J1 'preferred: no shuffle').
    """
    queries = [s for s in spans if is_kind(s, "query")]
    results = {s.get("media_ref"): s for s in spans if is_kind(s, "query_result")}
    out: dict[str, list[str | None]] = {}
    for q in queries:
        alias, _, _qtext = (q.get("text") or "").partition(";text=")
        alias = alias.removeprefix("alias=")
        ids = [i for i in (q.get("media_ref") or "").split(",") if i]
        answers = [results.get(i) for i in ids]
        out[alias] = [a.get("text") if a else None for a in answers] if ids else []
    return out


_CAPTION_RE = re.compile(
    r"IN THE (?P<court>.+?COURT) OF (?P<county>.+?COUNTY),?\s*(?:STATE OF\s+)?(?P<state>[A-Z][A-Z ]+)$",
    re.IGNORECASE,
)
_DISTRICT_RE = re.compile(r"\b(?P<district>[A-Z][A-Z ]*DISTRICT)\b", re.IGNORECASE)


def answer_queries(spans: list[dict]) -> list[dict]:
    """N6 stand-in for Textract Queries (stack.PleadingExtractor.ts:41-50):
    for query spans with NO answer linkage, pattern-match the page-1 caption
    (e.g. 'IN THE CIRCUIT COURT OF JACKSON COUNTY, MISSOURI') and emit
    query_result spans + linkage. A PRE-processing operator — it plays the
    layout model's role, so J1 semantics (stack.TextSaver.ts:30-47) stay
    untouched downstream. Returns a new span list; offsets are extended past
    the current maximum.
    """
    from .pages import span_pages

    page1_lines = [
        s["text"] for p, s in span_pages(spans)
        if p == 1 and s.get("kind") == "line" and s.get("text")
    ]
    fields: dict[str, str] = {}
    for line in page1_lines:
        m = _CAPTION_RE.search(line)
        if m:
            fields.setdefault("court", m.group("court").strip().upper())
            fields.setdefault("county", m.group("county").strip().upper())
            fields.setdefault("state", m.group("state").strip().upper())
        d = _DISTRICT_RE.search(line)
        if d:
            fields.setdefault("district", d.group("district").strip().upper())

    out = [dict(s) for s in spans]
    next_offset = max((s.get("offset") or 0 for s in spans), default=-1) + 1
    for i, s in enumerate(out):
        if not is_kind(s, "query") or s.get("media_ref"):
            continue  # already linked -> the model's answer stands (J1)
        alias, _, _q = (s.get("text") or "").partition(";text=")
        alias = alias.removeprefix("alias=")
        answer = fields.get(alias)
        if answer is None:
            continue
        rid = f"synth-{alias}-{next_offset}"
        out[i]["media_ref"] = rid
        out.append({"kind": "query_result", "text": answer, "media_ref": rid, "offset": next_offset})
        next_offset += 1
    return out


def _get_case_number(header: list[dict]) -> dict:
    idx = _find_index(header, lambda b: _lower_starts(b.get("text"), "cause", "case"))
    if idx < 0:
        raise BadFormatError("Unable to find case number")
    return _splice(header, idx, 1)[0]


def _remove_vs_line(header: list[dict]) -> None:
    idx = _find_index(header, lambda b: _lower_starts(b.get("text"), *_VS_PATTERNS))
    if idx < 0:
        raise BadFormatError("Unable to find vs line")
    _splice(header, idx, 1)


def _get_division(header: list[dict]) -> dict:
    idx = _find_index(header, lambda b: _lower_starts(b.get("text"), "division"))
    if idx < 0:
        raise BadFormatError("Unable to find division number")
    return _splice(header, idx, 1)[0]


def _get_defendants(header: list[dict]) -> list[dict]:
    idx = _find_index(header, lambda b: _lower_starts(b.get("text"), "plaintiff"))
    if idx < 0:
        raise BadFormatError("Unable to find defendant split")
    tail = _splice(header, idx + 1)
    return [b for b in tail if not _lower_starts(b.get("text"), "and,")]


def _get_plaintiff(header: list[dict]) -> dict:
    idx = _find_index(header, lambda b: _lower_starts(b.get("text"), "plaintiff"))
    if idx < 0:
        raise BadFormatError("Unable to find plaintiff line")
    return _splice(header, idx - 1, 2)[0]


def get_header(spans: list[dict]) -> dict:
    """W1 caption parse; returns the reference's (typo'd) field names
    (stack.TextSaver.ts:105-136)."""
    lines = [s for s in spans if is_kind(s, "line")]
    filtered = [b for b in lines if b.get("text") != ")"]
    didx = _find_index(
        filtered, lambda b: b.get("text") is not None and "defendant" in b["text"].lower()
    )
    if didx < 0:
        raise BadFormatError("Could not find defendent line")
    header = filtered[:didx]
    cause = _get_case_number(header)
    _remove_vs_line(header)
    division = _get_division(header)
    defendants = _get_defendants(header)
    plaintiff = _get_plaintiff(header)
    return {
        "plaintifs": plaintiff.get("text"),
        "caseNumber": cause.get("text"),
        "division": division.get("text"),
        "defendents": [b.get("text") for b in defendants],
    }


_PARA_NUM_RE = re.compile(r"([1-9][0-9]*)\.(?: |\Z)")


def _para_starts(blocks: list[dict]) -> dict[int, int]:
    """Each paragraph number's first line index, from one pass: the line
    whose text is ``f"{n}."`` or starts with ``f"{n}. "``. Looking a number
    up here is JS ``findIndex`` over the whole list, so a first match that
    lies before the current paragraph is kept."""
    first: dict[int, int] = {}
    for i, b in enumerate(blocks):
        t = b.get("text")
        m = _PARA_NUM_RE.match(t) if t else None
        if m:
            first.setdefault(int(m.group(1)), i)
    return first


_SENT_END = (".", "?", ":")


def _ends_sentence(b: dict | None) -> bool:
    if b is None:
        return False
    t = b.get("text")
    return t is not None and t.endswith(_SENT_END)


def get_numbered_paragraphs(blocks: list[dict]) -> list[str]:
    """W2 segmentation (stack.TextSaver.ts:141-184) over LINE blocks.

    Input must already be LINE-filtered (handler filters at ts:213-215).
    One deviation: the reference's Q&A tail scan (ts:173-178) has no bounds
    check and would spin forever past the end of the document; we stop at the
    end instead (documented deviation — unreachable on well-formed fixtures).
    """
    paragraphs: list[list[str]] = []
    starts = _para_starts(blocks)
    number = 1
    start = starts.get(number, -1)
    number += 1
    end = starts.get(number, -1)
    while start > 0 and end > 0:
        paragraphs.append([b["text"] for b in blocks[start:end]])
        start = end
        number += 1
        end = starts.get(number, -1)

    end = start
    while end < len(blocks) and not _ends_sentence(blocks[end] if 0 <= end < len(blocks) else None):
        end += 1

    end += 1
    nxt = blocks[end] if 0 <= end < len(blocks) else None
    if nxt is not None and _lower_starts(nxt.get("text"), "answer"):
        while end < len(blocks) and not _ends_sentence(blocks[end] if end < len(blocks) else None):
            end += 1

    # JS slice(start, end+1): negative start wraps from the end; Python's
    # slicing matches JS here for the clamping cases we can reach.
    paragraph = blocks[start : end + 1]
    paragraphs.append([b.get("text") for b in paragraph])
    return [" ".join(t for t in lines if t is not None) for lines in paragraphs]
