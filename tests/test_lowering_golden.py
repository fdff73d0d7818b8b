"""Replay the lowering golden corpus (tests/data/lowering_golden.json).

The corpus holds ``(function, input) -> output | ValueError message``
pairs for ``lower_select``, both statement splitters
(``sqldialect._split_statements``, ``scripting._split_script``),
``_strip_line_comments`` and ``_balanced_span``, recorded before the
dialect passes moved onto one lexer (functions/sqllex.py). Inputs come
from every registry build at sf0.001, the dialect / scripting / COPY
unit tests, and 500 fixed-seed examples of the rewriter-property
strategies. Every entry must replay byte-identical, except the ones
listed under ``desync_fixes``: inputs where the old scanners disagreed
about what is quoted text, each tagged with the desync class that
explains its new output.
"""

from __future__ import annotations

import json
from pathlib import Path

from end_to_end_etl_using_snowflake_spark.functions import sqllex
from end_to_end_etl_using_snowflake_spark.functions.sqldialect import lower_select

_CORPUS = json.loads(
    (Path(__file__).parent / "data" / "lowering_golden.json").read_text()
)
# corpus names (the helpers as they were recorded) -> today's functions;
# both statement splitters are now one
_FUNCS = {
    "lower_select": lower_select,
    "_split_statements": sqllex.split_statements,
    "_split_script": sqllex.split_statements,
    "_strip_line_comments": sqllex.strip_line_comments,
    "_balanced_span": sqllex.balanced_end,
}
# a backslash-escaped quote in a '...' literal; a "..." identifier,
# a comment or a $$ string holding another quote kind
_DESYNC_CLASSES = {"backslash", "identifier", "comment", "dollar"}


def _key(entry: dict) -> str:
    return json.dumps([entry["fn"], entry["input"]])


def _replay(fn: str, inp) -> dict:
    args = inp if fn == "_balanced_span" else [inp]
    try:
        return {"out": _FUNCS[fn](*args)}
    except ValueError as e:
        return {"error": str(e)}


def test_lowering_golden_corpus_replays():
    fixes = {_key(f): f for f in _CORPUS["desync_fixes"]}
    assert len(fixes) == len(_CORPUS["desync_fixes"])
    assert {f["class"] for f in fixes.values()} <= _DESYNC_CLASSES
    mismatches = []
    for entry in _CORPUS["entries"]:
        fix = fixes.pop(_key(entry), None)
        want = fix["after"] if fix else {
            k: entry[k] for k in ("out", "error") if k in entry
        }
        got = _replay(entry["fn"], entry["input"])
        if got != want:
            mismatches.append((entry["fn"], entry["input"], want, got))
    assert not fixes, f"desync fixes without a corpus entry: {list(fixes)}"
    assert not mismatches, mismatches[:5]
