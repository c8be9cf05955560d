"""Ratchet on the package's tuning surface: the number of parameters with
defaults in every ``def`` under ``samu_ocr_extraction_poc_spark/``."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "samu_ocr_extraction_poc_spark"

MAX_DEFAULTED_PARAMS = 150


def _count_defaulted_params() -> int:
    n = 0
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n += len(node.args.defaults)
                n += sum(d is not None for d in node.args.kw_defaults)
    return n


def test_defaulted_parameters_do_not_grow():
    """A parameter with a default exists only where some caller passes
    another value; otherwise the value is a literal in the operator's body.

    A change that removes such parameters lowers ``MAX_DEFAULTED_PARAMS``
    to the new count. A change that adds one raises the bound in the same
    change and names, in CHANGES.md, the two non-test callers that need
    different values."""
    n = _count_defaulted_params()
    assert n <= MAX_DEFAULTED_PARAMS, f"{n} defaulted parameters, bound {MAX_DEFAULTED_PARAMS}"
