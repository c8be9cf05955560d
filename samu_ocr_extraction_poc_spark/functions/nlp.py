"""Deterministic rule-based stand-ins for the Comprehend calls (SURVEY.md §2.8).

The reference calls AWS Comprehend per text (lib/text-comprehend.ts); our
engine is hermetic, so each call becomes a frozen rule system whose outputs
the golden fixtures pin down. Semantics mirrored exactly:

- entities  (N1): collect Entity *types* (not texts!), insertion-ordered
  distinct (text-comprehend.ts:81-105 — ``Entities[].Type`` into a Set).
- sentiment (N2): one label per text, accumulated distinct
  (text-comprehend.ts:33-54).
- key phrases (N4): phrase texts, insertion-ordered distinct
  (text-comprehend.ts:56-79).

All functions are pure Python over one text; they run inside the Arrow
extraction stage (batched, not per-row Spark UDFs).
"""

from __future__ import annotations

import re

_MONTHS = (
    "january|february|march|april|may|june|july|august|september|october|"
    "november|december"
)

_ORG_SUFFIX = {
    "Inc.", "Inc", "LLC", "LLC.", "Corp.", "Corp", "Co.", "Company",
    "Court", "Hospital", "Clinic", "Center", "Department", "Agency",
    "Associates", "Partners", "Group", "Insurance", "Bank",
}

_STATES = {
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana",
    "Maine", "Maryland", "Massachusetts", "Michigan", "Minnesota",
    "Mississippi", "Missouri", "Montana", "Nebraska", "Nevada", "Ohio",
    "Oklahoma", "Oregon", "Pennsylvania", "Tennessee", "Texas", "Utah",
    "Vermont", "Virginia", "Washington", "Wisconsin", "Wyoming",
}

_HONORIFICS = {"Mr.", "Mrs.", "Ms.", "Dr.", "Judge", "Justice", "Hon."}

# The tagger's patterns are tried at every position of every text, and nearly
# every position fails. So each opens with a test of the one character every
# match starts with: a failing position costs that test instead of a ``\b``
# check followed by a (12-way, case-insensitive) alternation. The guarded
# forms match exactly what the ``\b``-led forms matched (test_doccore
# compares them).
# - date: every alternative starts with a digit or a month's first letter, a
#   word character, so ``\b`` there is ``(?<!\w)``.
_DATE_RE = re.compile(
    rf"(?<!\w)(?=[\djfmasond])(?:(?:19|20)\d{{2}}|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|(?:{_MONTHS})\s+\d{{1,2}}(?:,\s*\d{{4}})?)\b",
    re.IGNORECASE,
)
# - quantity: a match starts with ``$`` or a digit.
_QUANTITY_RE = re.compile(r"(?=[$\d])(?<![/\w])\$?\d+(?:,\d{3})*(?:\.\d+)?\b(?!/)")
# - capitalized run: the first character is [A-Z], a word character, so
#   ``\b`` there is ``(?<!\w)``; testing the letter first is the cheap order.
_CAP_RUN_RE = re.compile(r"(?=[A-Z])(?<!\w)(?:[A-Z][A-Za-z&.'-]*)(?:\s+(?:[A-Z][A-Za-z&.'-]*|of|the|and))*\b")

_POSITIVE = {
    "good", "great", "excellent", "happy", "pleased", "agree", "thank",
    "thanks", "appreciate", "resolved", "approved", "favorable", "success",
    "satisfied", "glad", "positive",
}
_NEGATIVE = {
    "bad", "poor", "unhappy", "dispute", "deny", "denied", "failure",
    "failed", "injury", "injured", "damages", "negligence", "complaint",
    "breach", "unfortunately", "negative", "pain", "loss", "overdue",
}

_WORD_RE = re.compile(r"[A-Za-z]+")

_COUNTY_STATE = {"County", "State"}


def _ordered_distinct(items):
    seen = set()
    out = []
    for it in items:
        if it not in seen:
            seen.add(it)
            out.append(it)
    return out


def extract_entity_types(text: str | None) -> list[str]:
    """N1: deterministic entity tagger; returns first-seen-ordered distinct
    entity TYPES, mirroring text-comprehend.ts:81-105."""
    if not text:
        return []
    # hot path of the Arrow extraction stage (called once per page/text):
    # locals bound outside the loops, the per-call set literal hoisted —
    # semantics byte-identical to the original (pinned by goldens)
    hits: list[tuple[int, str]] = []
    ap = hits.append
    for m in _DATE_RE.finditer(text):
        ap((m.start(), "DATE"))
    dmatch = _DATE_RE.match
    for m in _QUANTITY_RE.finditer(text):
        if dmatch(m.group(0)):
            continue
        ap((m.start(), "QUANTITY"))
    org, states, hon = _ORG_SUFFIX, _STATES, _HONORIFICS
    for m in _CAP_RUN_RE.finditer(text):
        phrase = m.group(0)
        words = phrase.split()
        if len(words) < 2:
            if phrase in states:
                ap((m.start(), "LOCATION"))
            continue
        if words[-1] in org or any(w in org for w in words):
            ap((m.start(), "ORGANIZATION"))
        elif any(w in states for w in words) or words[0] in _COUNTY_STATE or "County" in words or "State" in words:
            ap((m.start(), "LOCATION"))
        elif words[0] in hon or len(words) == 2:
            ap((m.start(), "PERSON"))
        else:
            ap((m.start(), "OTHER"))
    hits.sort(key=lambda h: h[0])
    return _ordered_distinct(t for _, t in hits)


def detect_sentiment(text: str | None) -> str | None:
    """N2: lexicon scorer -> POSITIVE/NEGATIVE/NEUTRAL/MIXED (README.md:231)."""
    if not text:
        return None
    pos = neg = 0
    positive, negative = _POSITIVE, _NEGATIVE
    for w in _WORD_RE.findall(text):
        lw = w.lower()
        if lw in positive:
            pos += 1
        elif lw in negative:
            neg += 1
    if pos == 0 and neg == 0:
        return "NEUTRAL"
    if pos > neg:
        return "POSITIVE"
    if neg > pos:
        return "NEGATIVE"
    return "MIXED"


def extract_key_phrases(text: str | None) -> list[str]:
    """N4: noun-phrase-ish chunker — maximal runs of capitalized tokens
    (stop punctuation-stripped), insertion-ordered distinct
    (text-comprehend.ts:56-79)."""
    if not text:
        return []
    phrases = []
    run: list[str] = []
    for raw in text.split():
        tok = raw.strip(".,;:!?()\"'")
        if tok and tok[0].isupper() and any(c.isalpha() for c in tok):
            run.append(tok)
        else:
            if len(run) >= 2:
                phrases.append(" ".join(run))
            run = []
    if len(run) >= 2:
        phrases.append(" ".join(run))
    return _ordered_distinct(phrases)


def extract_entities_for_texts(texts) -> list[str]:
    """Vector form over several texts accumulating one ordered-distinct set,
    mirroring the per-text loop in text-comprehend.ts:86-104 (falsy texts
    skipped)."""
    out: list[str] = []
    for t in texts:
        if not t:
            continue
        out.extend(extract_entity_types(t))
    return _ordered_distinct(out)


def extract_sentiments_for_texts(texts) -> list[str]:
    out = []
    for t in texts:
        if not t:
            continue
        s = detect_sentiment(t)
        if s:
            out.append(s)
    return _ordered_distinct(out)


def extract_key_phrases_for_texts(texts) -> list[str]:
    out: list[str] = []
    for t in texts:
        if not t:
            continue
        out.extend(extract_key_phrases(t))
    return _ordered_distinct(out)
