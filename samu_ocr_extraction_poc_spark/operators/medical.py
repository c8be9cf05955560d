"""Medical ontology extraction (N5) + confidence filters (F3-F5) + keep-first
dedup (A3) — SURVEY.md §2.2/§2.4/§2.8.

The reference runs Comprehend Medical ICD10/RxNorm/SNOMED inference jobs and
post-filters the entity files (stack.ICD10CodeSaver.ts:30-91,
stack.RXNORMSaver.ts:31-97, stack.SNOMEDSaver.ts:38-104, filters.ts:22-47).
Here the inference result is carried by ``med_entity`` spans whose ``text``
is a JSON record (FIXTURES.md §1); the post-filters are reproduced exactly:

- entity filter: category + ``Score > MIN_ENTITY`` (ICD10 requires
  MEDICAL_CONDITION, RxNorm MEDICATION, SNOMED score-only);
- concept filter: ``Score && Score > MIN_CONCEPT`` then take-first
  (``.shift()``); ICD10 additionally requires a truthy Code
  (ICD10CodeSaver.ts:13-21) while RxNorm/SNOMED do not;
- attribute/trait filters: ``Score > MIN_ATTRIBUTE/TRAIT``;
- final ``dedup(results, r => r.code)`` keep-first (lib/utils.ts:21-27).

Default thresholds are the stack's env values
(lib/medical-extractor/stack.ts:133-164).
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass(frozen=True)
class Thresholds:
    icd10_entity: float = 0.95
    rxnorm_entity: float = 0.85
    snomed_entity: float = 0.85
    concept: float = 0.2
    attribute: float = 0.8
    trait: float = 0.8


DEFAULT_THRESHOLDS = Thresholds()


def _score_gt(item: dict, key: str, thr: float) -> bool:
    s = item.get(key)
    # JS `concept.Score && concept.Score > thr`: 0 is falsy -> excluded.
    return bool(s) and s > thr


def _confident_concepts(concepts: list | None, thr: float) -> list:
    return [c for c in (concepts or []) if _score_gt(c, "Score", thr)]


def _confident_attributes(entity: dict, thr: float) -> list | None:
    attrs = entity.get("Attributes")
    if attrs is None:
        return None
    return [a for a in attrs if _score_gt(a, "Score", thr)]


def _confident_traits(entity: dict, thr: float) -> list | None:
    traits = entity.get("Traits")
    if traits is None:
        return None
    return [t for t in traits if _score_gt(t, "Score", thr)]


def dedup_keep_first(items: list[dict], key: str) -> list[dict]:
    """A3: stable keep-first-per-key (lib/utils.ts:21-27)."""
    seen = set()
    out = []
    for it in items:
        k = it.get(key)
        if k in seen:
            continue
        seen.add(k)
        out.append(it)
    return out


# Bundled ontology dictionary (FIXTURES.md §4 ontology_dict): term ->
# (system, category, type, code, description, score). Stands in for the
# Comprehend Medical inference models (N5) the reference starts as async
# jobs (ontologies/state-machine.ts:75-99); scores are frozen so the
# downstream threshold filters (F3-F5) behave deterministically.
ONTOLOGY_DICT: dict[str, tuple[str, str, str, str, str, float]] = {
    "hypertension": ("ICD10", "MEDICAL_CONDITION", "DX_NAME", "I10", "Essential (primary) hypertension", 0.98),
    "diabetes": ("ICD10", "MEDICAL_CONDITION", "DX_NAME", "E11.9", "Type 2 diabetes mellitus", 0.97),
    "fracture": ("ICD10", "MEDICAL_CONDITION", "DX_NAME", "S42.001", "Fracture of unspecified part", 0.96),
    "asthma": ("ICD10", "MEDICAL_CONDITION", "DX_NAME", "J45.909", "Unspecified asthma", 0.97),
    "lisinopril": ("RXNORM", "MEDICATION", "GENERIC_NAME", "29046", "lisinopril", 0.95),
    "metformin": ("RXNORM", "MEDICATION", "GENERIC_NAME", "6809", "metformin", 0.95),
    "aspirin": ("RXNORM", "MEDICATION", "GENERIC_NAME", "1191", "aspirin", 0.9),
    "albuterol": ("RXNORM", "MEDICATION", "GENERIC_NAME", "435", "albuterol", 0.94),
    "headache": ("SNOMED", "MEDICAL_CONDITION", "DX_NAME", "25064002", "Headache", 0.9),
    "pain": ("SNOMED", "MEDICAL_CONDITION", "DX_NAME", "22253000", "Pain", 0.88),
    "x-ray": ("SNOMED", "TEST", "TEST_NAME", "363680008", "Radiographic imaging", 0.9),
}


def infer_med_entities(text: str) -> list[dict]:
    """N5 inference stand-in: ``ONTOLOGY_DICT``-match raw text -> entity
    payloads (the role of StartICD10CMInferenceJob etc.), document-order, one entity
    per term occurrence (the reference's savers dedup by code afterwards,
    A3)."""
    import re as _re

    out = []
    for m in _re.finditer(r"[A-Za-z][A-Za-z-]+", text or ""):
        term = m.group(0).lower()
        hit = ONTOLOGY_DICT.get(term)
        if not hit:
            continue
        system, category, type_, code, desc, score = hit
        out.append(
            {
                "System": system,
                "Category": category,
                "Type": type_,
                "Text": m.group(0),
                "Score": score,
                "Concepts": [{"Code": code, "Description": desc, "Score": round(score - 0.05, 2)}],
                "Attributes": [],
                "Traits": [],
            }
        )
    return out


def add_inferred_entities(spans: list[dict]) -> list[dict]:
    """Pre-processor: append med_entity spans inferred from line text —
    used when a corpus carries raw clinical text without model outputs.
    Documents that already contain med_entity spans are left untouched
    (the model already ran)."""
    import json as _json

    if any(s.get("kind") == "med_entity" for s in spans):
        return [dict(s) for s in spans]
    text = " ".join(s.get("text") or "" for s in spans if s.get("kind") == "line")
    inferred = infer_med_entities(text)
    out = [dict(s) for s in spans]
    next_offset = max((s.get("offset") or 0 for s in spans), default=-1) + 1
    for e in inferred:
        out.append(
            {"kind": "med_entity", "text": _json.dumps(e), "media_ref": "", "offset": next_offset}
        )
        next_offset += 1
    return out


def med_entities(spans: list[dict]) -> list[dict]:
    """Decode ``med_entity`` span payloads (JSON) in document order."""
    out = []
    for s in spans:
        if s.get("kind") == "med_entity" and s.get("text"):
            try:
                payload = json.loads(s["text"])
            except (ValueError, TypeError):
                continue
            if isinstance(payload, dict):
                out.append(payload)
    return out


def icd10_conditions(entities: list[dict], thr: Thresholds = DEFAULT_THRESHOLDS) -> list[dict]:
    """ICD10CodeSaver.ts:48-88 over System='ICD10' entities."""
    results = []
    for e in entities:
        if e.get("System") != "ICD10":
            continue
        if e.get("Category") != "MEDICAL_CONDITION" or not _score_gt(e, "Score", thr.icd10_entity):
            continue
        confident = _confident_concepts(e.get("Concepts"), thr.concept)
        concept = confident[0] if confident else None
        # transformConcept (ICD10CodeSaver.ts:13-21): requires truthy Code.
        if not (concept and concept.get("Code")):
            continue
        attrs = _confident_attributes(e, thr.attribute)
        results.append(
            {
                "condition": e.get("Text"),
                "attributes": [a.get("Text") for a in attrs] if attrs is not None else [],
                "code": concept.get("Code"),
                "description": concept.get("Description"),
            }
        )
    return dedup_keep_first(results, "code")


def prescriptions(entities: list[dict], thr: Thresholds = DEFAULT_THRESHOLDS) -> list[dict]:
    """RXNORMSaver.ts:49-93 over System='RXNORM' entities."""
    results = []
    for e in entities:
        if e.get("System") != "RXNORM":
            continue
        if e.get("Category") != "MEDICATION" or not _score_gt(e, "Score", thr.rxnorm_entity):
            continue
        confident = _confident_concepts(e.get("Concepts"), thr.concept)
        if not confident:  # transformConcept(RxNorm) only needs a concept
            continue
        concept = confident[0]
        attrs = _confident_attributes(e, thr.attribute)
        results.append(
            {
                "type": e.get("Type"),
                "name": e.get("Text"),
                "attributes": [a.get("Text") for a in attrs] if attrs is not None else [],
                "code": concept.get("Code"),
                "description": concept.get("Description"),
            }
        )
    return dedup_keep_first(results, "code")


def snomed_codes(entities: list[dict], thr: Thresholds = DEFAULT_THRESHOLDS) -> list[dict]:
    """SNOMEDSaver.ts:56-101 over System='SNOMED' entities (score-only)."""
    results = []
    for e in entities:
        if e.get("System") != "SNOMED":
            continue
        if not _score_gt(e, "Score", thr.snomed_entity):
            continue
        confident = _confident_concepts(e.get("Concepts"), thr.concept)
        if not confident:
            continue
        concept = confident[0]
        attrs = _confident_attributes(e, thr.attribute)
        traits = _confident_traits(e, thr.trait)
        results.append(
            {
                "type": e.get("Type"),
                "category": e.get("Category"),
                "name": e.get("Text"),
                "traits": [t.get("Name") for t in traits] if traits is not None else [],
                "attributes": [a.get("Text") for a in attrs] if attrs is not None else [],
                "code": concept.get("Code"),
                "description": concept.get("Description"),
            }
        )
    return dedup_keep_first(results, "code")
