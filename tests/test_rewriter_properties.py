"""Property-based invariants of the text-rewrite stack
(functions/sqldialect.py:lower_select and its passes), r13.

Every pass asks one lexer (functions/sqllex.py) which positions are
code: '...' string literals, "..." quoted identifiers, $$...$$
strings and -- / /* */ comments are classified once, and no pass
rewrites inside them. The property that keeps the whole approach
safe is: QUOTED TEXT AND COMMENTS ARE INVIOLATE. Hypothesis
generates bodies full of rewrite-trigger text (function heads,
'::NUMBER', '* EXCLUDE', 'RLIKE', comma intervals, regex
metacharacters, embedded quotes of the other kinds) and splices them
into queries; every pass composition must carry them through
byte-identical, rewrite the trigger text that follows them, and
never raise anything but the documented ValueError refusals.

r15 carves out exactly two DOCUMENTED exceptions (see the r15 block
at the bottom): Snowflake's form-feed and hex-pair literal escapes
(backslash-f, backslash-x-hh) respell to the uXXXX escape form, and
LIKE-pattern-position literals get value-level backslashes doubled. Outside those trigger spellings the invariant
is unchanged and pinned below.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
    lower_select,
)

# literal contents stuffed with trigger text; no single quotes here —
# embedded quotes are exercised separately via explicit '' doubling
_TRIGGER_WORDS = st.sampled_from([
    "RLIKE", "REGEXP", "x::NUMBER(10,2)", "* EXCLUDE (a)",
    "INTERVAL 1 day, 2 hours", "DATEDIFF(hour, a, b)", "CHR(9731)",
    "SPLIT(a, .)", "MINHASH(32, x)", "CAST(x AS TEXT)", "\\Q", "\\E",
    "DELETE FROM t USING s", "IFF(a, b, c)", "SEQ4()", "||",
    # r14 additions: value-window frames, TIME family, GROUPING alias
    "LAST_VALUE(x) OVER (ORDER BY k)", "NTH_VALUE(v, 2) FROM LAST",
    "TO_TIME(10:11:12)", "TIME_FROM_PARTS(1, 2, 3)", "GROUPING(a, b)",
    "x::TIME(9)", "* RENAME (a AS b)",
    "TO_JSON(OBJECT_CONSTRUCT(k, 1))", "CONCAT_WS(-, a, b)",
    "COMPRESS(s, zlib)", "COLLATE fr-ci-ai", "FACTORIAL(25)",
    "ORDER BY a DESC", "ORDER BY x, y LIMIT 3",
])
_FILLER = st.text(
    alphabet="abcXYZ ,.()[]{}%$^*+-/\\<>=!?:;_0123456789", max_size=12
)
_LITERAL_BODY = st.lists(
    st.one_of(_TRIGGER_WORDS, _FILLER), min_size=0, max_size=4
).map("".join)


@settings(max_examples=200, deadline=None)
@given(_LITERAL_BODY, _LITERAL_BODY)
def test_string_literals_survive_lowering(a, b):
    sql = f"SELECT '{a}' AS x, UPPER('{b}') AS y FROM t"
    try:
        out = lower_select(sql)
    except ValueError:
        # documented refusals are allowed; anything else would have
        # propagated as a different exception type and failed the test
        return
    assert f"'{a}'" in out, (sql, out)
    assert f"'{b}'" in out, (sql, out)


@settings(max_examples=100, deadline=None)
@given(_LITERAL_BODY)
def test_doubled_quotes_keep_parity(body):
    # an embedded quote is written '' — the doubled form must not end
    # the literal and let a trigger word AFTER the literal go
    # un-rewritten (or a trigger INSIDE it get rewritten)
    sql = f"SELECT 'pre''{body}''post' AS x, x::NUMBER(4,1) AS n FROM t"
    try:
        out = lower_select(sql)
    except ValueError:
        return
    assert f"'pre''{body}''post'" in out, out
    assert "::DECIMAL(4,1)" in out, out  # the real cast DID rewrite


# bodies for "..." identifiers and comments: trigger text plus bare
# apostrophes, which must not open a literal there
_QUOTED_BODY = st.lists(
    st.one_of(_TRIGGER_WORDS, _FILLER, st.sampled_from(["'", "don't", "''"])),
    min_size=0,
    max_size=4,
).map("".join)


@settings(max_examples=200, deadline=None)
@given(_QUOTED_BODY, _QUOTED_BODY, _QUOTED_BODY)
def test_identifiers_and_comments_survive_lowering(a, b, c):
    ident = f'"{a}"'
    line = f"-- {b}\n"
    block = "/* " + c.replace("*/", "* /") + " */"
    sql = (
        f"SELECT {ident} AS i, x::NUMBER(4,1) AS n {line}"
        f" , y::NUMBER(4,1) AS m {block} , z::NUMBER(4,1) AS k FROM t"
    )
    out = lower_select(sql)
    for body in (ident, line, block):
        assert body in out, (sql, out)
    # the trigger text after each of them still rewrites
    for col in ("x", "y", "z"):
        assert f"{col}::DECIMAL(4,1)" in out, (sql, out)


# NOTE deliberately absent: full lower_select idempotence is NOT a
# contract — lowerings may emit lower-case spellings their own heads
# would re-match (split/to_date), and every caller lowers exactly
# once. Per-pass idempotence where it matters (anchored literals,
# comma-free intervals, ::-type targets) is unit-pinned instead.


# ---------------------------------------------------------------------------
# r15 passes. Two of them create DOCUMENTED exceptions to the
# literals-inviolate invariant: rewrite_literal_escapes respells \f /
# \xhh inside literals (Snowflake's escapes, which Spark's parser
# mangles), and rewrite_like_default_escape doubles value-level
# backslashes in LIKE-pattern-position literals. The properties pin
# the exact boundary: without those trigger spellings, every literal
# still rides through byte-identical, and both passes are idempotent
# where they do rewrite.
# ---------------------------------------------------------------------------

from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (  # noqa: E402
    rewrite_dollar_strings,
    rewrite_grouping_sets_preagg,
    rewrite_like_default_escape,
    rewrite_limit_null,
    rewrite_literal_escapes,
)

# no lowercase f / x and no $: none of the r15 trigger spellings can
# appear, so all three literal-adjacent passes must be identities
_R15_SAFE_BODY = st.text(
    alphabet="abcdeghXYZ ,.()%*+-=_0123456789\\", max_size=16
)


@settings(max_examples=200, deadline=None)
@given(_R15_SAFE_BODY, _R15_SAFE_BODY)
def test_r15_passes_identity_without_triggers(a, b):
    sql = f"SELECT '{a}' AS p, '{b}' AS q FROM t WHERE c = '{a}'"
    assert rewrite_literal_escapes(sql) == sql
    assert rewrite_dollar_strings(sql) == sql
    assert rewrite_limit_null(sql) == sql
    # literals NOT in pattern position are inviolate for the LIKE
    # pass even when they contain backslashes
    assert rewrite_like_default_escape(sql) == sql


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcdeghXYZ ,.()%*+-=_0123456789", max_size=16))
def test_r15_literal_escape_idempotent(body):
    # body is backslash-free so a trailing \ can't merge with the \x
    # trigger (a \\x41 pair is a VALUE backslash + text — correctly
    # untouched, pinned in the unit battery)
    sql = f"SELECT 'a\\f{body}\\x41' AS s FROM t"
    once = rewrite_literal_escapes(sql)
    assert rewrite_literal_escapes(once) == once
    assert "\\u000C" in once and "\\u0041" in once


@settings(max_examples=100, deadline=None)
@given(_R15_SAFE_BODY)
def test_r15_like_literal_fix_idempotent(body):
    # a pattern-position literal with a value backslash is doubled
    # exactly once; re-running the pass doubles the (now 4-long) runs
    # again only if they still read as \\ pairs — the pass runs once
    # in lower_select, but idempotence on the NO-backslash result
    # must hold
    sql = "SELECT 1 FROM t WHERE c LIKE 'p%'"
    assert rewrite_like_default_escape(sql) == sql
    q = f"SELECT 1 FROM t WHERE c LIKE 'be{body}nd' ESCAPE 'x'"
    assert rewrite_like_default_escape(q) == q


@settings(max_examples=100, deadline=None)
@given(st.sampled_from([
    "AVG(x)", "COUNT(DISTINCT x)", "MEDIAN(x)", "LISTAGG(x)",
    "SUM(x) OVER ()", "ANY_VALUE(x)",
]))
def test_r15_grouping_preagg_fallbacks(agg):
    q = f"SELECT a, {agg} AS m FROM t GROUP BY GROUPING SETS ((a), ())"
    assert rewrite_grouping_sets_preagg(q) == q
