"""One lexical layer under the Snowflake dialect passes.

Every text pass in ``sqldialect`` / ``scripting`` / ``copy_into`` has
to answer the same question before it rewrites anything: is this
position SQL code, or is it inside quoted text or a comment? This
module answers it once. ``lex`` classifies a text into the spans that
are NOT code:

- ``'...'`` string literals: ``''`` doubling and backslash pairs
  (``\\'`` does not close the literal; Spark's and Snowflake's parsers
  both read it as an escaped quote);
- ``"..."`` quoted identifiers, ``""`` doubling;
- ``$$...$$`` raw strings; ``$$`` opens one only when it does not
  follow an identifier character (``$`` is legal inside unquoted
  Snowflake identifiers, so ``a$$b`` is a name);
- ``--`` line comments (up to, not including, the line break) and
  ``/* */`` block comments.

An unterminated span runs to the end of the text. Everything outside
the spans is code, and the primitives below only ever look at code:
``in_code``, ``sub_in_code``, a depth-aware keyword finder, a
balanced-paren finder, one top-level splitter (for ``,`` and ``;``)
and line-comment stripping.
"""

from __future__ import annotations

import bisect
import functools
import re

STRING, IDENT, DOLLAR, LINE_COMMENT, BLOCK_COMMENT = "'", '"', "$$", "--", "/*"

_OPENER = re.compile(r"""'|"|(?<![\w$])\$\$|--|/\*""")
_STRING_BODY = re.compile(r"(?:[^'\\]+|\\[\s\S]|'')*")
_IDENT_BODY = re.compile(r'(?:[^"]+|"")*')
_LINE_END = re.compile(r"[\r\n]|\Z")
_WORD = re.compile(r"[()]|\w+")
_SEPARATORS = {sep: re.compile(r"[()" + sep + "]") for sep in ",;"}
_PAREN = re.compile(r"[()]")


class Lexed:
    """A text and its non-code spans, as sorted ``(start, end, kind)``
    triples; ``unclosed`` is the kind of an unterminated last span."""

    __slots__ = ("text", "spans", "unclosed", "_starts")

    def __init__(self, text: str):
        spans: list[tuple[int, int, str]] = []
        closed = True
        n = len(text)
        m = _OPENER.search(text)
        while m is not None:
            start, kind = m.start(), m.group()
            if kind == STRING or kind == IDENT:
                body = (_STRING_BODY if kind == STRING else _IDENT_BODY).match(
                    text, start + 1
                )
                end = body.end() + 1
                closed = text[end - 1 : end] == kind
            elif kind == LINE_COMMENT:
                end = _LINE_END.search(text, start).start()
            else:
                close = "*/" if kind == BLOCK_COMMENT else "$$"
                end = text.find(close, start + 2) + 2
                closed = end >= 2
            if not closed:
                end = n
            spans.append((start, end, kind))
            m = _OPENER.search(text, end)
        self.text = text
        self.spans = spans
        self.unclosed = None if closed else spans[-1][2]
        self._starts = [s for s, _, _ in spans]

    def span_at(self, pos: int) -> tuple[int, int, str] | None:
        """The non-code span covering ``pos`` (its opening character
        included), or None when ``pos`` is code."""
        i = bisect.bisect_right(self._starts, pos) - 1
        if i >= 0 and pos < self.spans[i][1]:
            return self.spans[i]
        return None

    def in_code(self, pos: int) -> bool:
        return self.span_at(pos) is None

    def code(self, start: int = 0):
        """Yield the ``(a, b)`` code segments at or after ``start``."""
        a = start
        first = max(bisect.bisect_right(self._starts, start) - 1, 0)
        for s, e, _ in self.spans[first:]:
            if e <= a:
                continue
            if s > a:
                yield a, s
            a = max(a, e)
        if a < len(self.text):
            yield a, len(self.text)


@functools.lru_cache(maxsize=64)
def lex(text: str) -> Lexed:
    return Lexed(text)


def in_code(sql: str, pos: int) -> bool:
    return lex(sql).in_code(pos)


def sub_in_code(pattern: "re.Pattern[str]", repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` for matches that start in code; a
    match that starts inside quoted text or a comment is kept as is."""
    lx = lex(sql)
    return pattern.sub(
        lambda m: repl(m) if lx.in_code(m.start()) else m.group(0), sql
    )


def string_end(sql: str, start: int) -> int:
    """Index just past the ``'...'`` literal opening at ``start``."""
    lx = lex(sql)
    span = lx.span_at(start)
    if span is None or span[0] != start or (span is lx.spans[-1] and lx.unclosed):
        raise ValueError(f"unterminated string literal at {sql[start:start+30]!r}")
    return span[1]


def code_tokens(sql: str, pattern: "re.Pattern[str]", start: int = 0):
    """``pattern`` matches inside the code segments at or after ``start``."""
    for a, b in lex(sql).code(start):
        yield from pattern.finditer(sql, a, b)


def find_keyword(sql: str, keyword: str, start: int = 0) -> int:
    """Index of the first code occurrence of the word ``keyword`` at
    paren depth 0 (counted from ``start``); -1 if absent."""
    depth = 0
    kw = keyword.upper()
    for m in code_tokens(sql, _WORD, start):
        t = m.group()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.upper() == kw:
            return m.start()
    return -1


def paren_depth(sql: str, end: int, start: int = 0) -> int:
    """Paren depth of code at ``end``, counted from ``start``."""
    depth = 0
    for m in code_tokens(sql, _PAREN, start):
        if m.start() >= end:
            break
        depth += 1 if m.group() == "(" else -1
    return depth


def balanced_end(sql: str, open_idx: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``open_idx``."""
    depth = 0
    for m in code_tokens(sql, _PAREN, open_idx):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return m.end()
    raise ValueError("unbalanced parentheses in FLATTEN call")


def split_top_level(text: str, sep: str) -> list[str]:
    """Split ``text`` on code ``sep`` (``,`` or ``;``) at paren depth 0."""
    parts: list[str] = []
    depth = 0
    start = 0
    for m in code_tokens(text, _SEPARATORS[sep]):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            parts.append(text[start : m.start()])
            start = m.end()
    parts.append(text[start:])
    return parts


def split_statements(text: str) -> list[str]:
    """The non-empty, stripped statements of a ``;``-separated script."""
    return [s for s in (x.strip() for x in split_top_level(text, ";")) if s]


def replace_spans(sql: str, kind: str, fn) -> str:
    """``sql`` with every ``kind`` span's text replaced by ``fn(text)``."""
    out = []
    pos = 0
    for s, e, k in lex(sql).spans:
        if k == kind:
            out.append(sql[pos:s])
            out.append(fn(sql[s:e]))
            pos = e
    out.append(sql[pos:])
    return "".join(out)


def strip_line_comments(sql: str) -> str:
    """``sql`` without its ``--`` comments, lines joined with ``\\n``."""
    return "\n".join(replace_spans(sql, LINE_COMMENT, lambda _: "").splitlines())
