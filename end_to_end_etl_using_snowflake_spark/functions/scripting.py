"""Snowflake SESSION VARIABLES, ``EXECUTE IMMEDIATE``, and anonymous
SCRIPTING BLOCKS over the verbatim statement layer.

The reference workflow is an interactive console script
(customer-end-to-end-pipeline-script.sql) — and real console scripts
lean on session variables constantly: ``SET cutoff = ...;`` then
``$cutoff`` in every statement after it, ``EXECUTE IMMEDIATE`` for
statements built as strings, and pasted stored-procedure bodies
(``DECLARE ... BEGIN ... END``). This module closes that last
text-surface gap (VERDICT r11 #3/#5) the same way the DML/DDL shims
did: a small deterministic interpreter that dispatches every real
statement through the EXISTING shims (``snowflake_sql``), so the
engine's plans, pushdown posture, and read-your-writes semantics are
untouched — variables only ever splice SQL LITERALS into statement
text before dispatch.

Semantics pinned to Snowflake:

- ``SET v = <expr>`` evaluates the expression AT SET TIME (a query
  expression runs once, here via one scalar-subquery ``SELECT``); the
  variable holds the resulting VALUE, typed. ``SET (a, b) = (e1, e2)``
  sets both; ``UNSET v`` drops; ``SHOW VARIABLES`` lists name/value/
  type (names UPPERCASED, Snowflake's unquoted-identifier rule).
- ``$v`` in later statements is substituted as a typed SQL literal —
  never inside string literals or comments (``'give me $5'`` stays
  text), matching Snowflake's reference-not-template behavior.
  Referencing an unset variable raises ``Session variable '$V' does
  not exist`` (Snowflake's error, error-class for error-class).
- ``EXECUTE IMMEDIATE '<sql>'`` / ``$$<sql>$$`` / ``$v`` runs the
  contained statement (or scripting block) through the same dispatch,
  with variables resolved at EXECUTION time (a variable set between
  building and executing the string is honored, like Snowflake).
- Anonymous blocks ``[DECLARE ...] BEGIN ... [RETURN expr;] END``
  run the FULL Snowflake Scripting statement set (r12): typed
  declarations with ``DEFAULT``, ``LET``/re-assignment, embedded SQL
  with ``:x`` binds, ``RETURN``, control flow (IF/ELSEIF/ELSE, CASE
  searched+simple, WHILE, counter FOR [REVERSE], bare LOOP,
  REPEAT...UNTIL, BREAK/CONTINUE), EXCEPTION declaration / RAISE /
  handler sections with SQLCODE/SQLERRM/SQLSTATE, cursors (FOR-over-
  cursor bounded at 10k rows, manual OPEN/FETCH INTO/CLOSE), nested
  CALL (depth-capped, exceptions propagate across frames), and
  stored procedures, and RESULTSETs (assignment-snapshot handles,
  TABLE(r) reads, RETURN TABLE(r) table-valued results) — nothing
  silently mistranslates. The block result is Snowflake's one-column relation
  (named ``anonymous_block``).

Scale shape: the interpreter itself is O(statements) driver-side
string work; every data-touching statement executes through the same
lowered Spark plans as the rest of the text surface. A SET whose
expression scans a table costs exactly that one scan — the value is
then a literal, which is a PLANNING WIN at 100 TB: ``WHERE col >=
$cutoff`` arrives at Catalyst as a foldable predicate that prunes
partitions/files, where a correlated subquery might not.
"""

from __future__ import annotations

import re
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from ..operators.dml import local_frame
from .snowflake_sql import snowflake_sql
from .sqldialect import _dml_key, _DML_HEAD_RE, lower_select
from .sqllex import balanced_end, split_statements, strip_line_comments, sub_in_code

__all__ = [
    "SessionVariable",
    "console_script",
    "execute_immediate",
    "scripting_block",
    "substitute_variables",
]


class SessionVariable:
    """One session variable: the VALUE (python object), its rendered
    SQL literal (what ``$name`` splices), and the Snowflake-reported
    type name for SHOW VARIABLES."""

    __slots__ = ("value", "literal", "sf_type")

    def __init__(self, value, literal: str, sf_type: str):
        self.value = value
        self.literal = literal
        self.sf_type = sf_type


def _render_literal(value) -> tuple[str, str]:
    """python value -> (SQL literal text, Snowflake type name). The
    literal must parse identically in Spark SQL and (via the oracle
    twin statements) DuckDB, so only engine-neutral spellings are
    emitted."""
    if value is None:
        return "NULL", "null"
    if isinstance(value, bool):
        return ("TRUE" if value else "FALSE"), "boolean"
    if isinstance(value, int):
        return str(value), "fixed"
    if isinstance(value, Decimal):
        return str(value), "fixed"
    if isinstance(value, float):
        return repr(value), "real"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'", "text"
    if isinstance(value, datetime):
        return (
            "TIMESTAMP '" + value.strftime("%Y-%m-%d %H:%M:%S.%f") + "'",
            "timestamp",
        )
    if isinstance(value, date):
        return "DATE '" + value.isoformat() + "'", "date"
    raise ValueError(
        f"SET: unsupported variable value type {type(value).__name__}"
        " (scalars only — Snowflake session variables cannot hold"
        " arrays/objects either)"
    )


_VAR_REF = re.compile(r"\$([A-Za-z_]\w*)")


_IDENTIFIER_REF = re.compile(
    r"IDENTIFIER\s*\(\s*\$([A-Za-z_]\w*)\s*\)", re.IGNORECASE
)
_VALID_IDENT = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def substitute_variables(
    sql: str, variables: dict[str, SessionVariable]
) -> str:
    """Replace ``$name`` references with the variable's SQL literal —
    literal-aware (never inside '...' / comments); unknown names raise
    Snowflake's error. ``$1``-style positional stage refs don't match
    (digits are not identifier heads). ``IDENTIFIER($name)`` splices
    the variable's text as a BARE identifier (Snowflake's
    name-from-variable idiom — ``SELECT ... FROM IDENTIFIER($tbl)``);
    the value must be a valid dotted identifier, or it refuses —
    splicing arbitrary text as an identifier would be an injection
    hole, not a convenience."""

    def lookup(name: str) -> SessionVariable:
        key = name.upper()
        if key not in variables:
            raise ValueError(f"Session variable '${key}' does not exist")
        return variables[key]

    def ident_repl(m: "re.Match[str]") -> str:
        var = lookup(m.group(1))
        if var.sf_type != "text" or not _VALID_IDENT.fullmatch(
            str(var.value)
        ):
            raise ValueError(
                f"IDENTIFIER(${m.group(1).upper()}): value"
                f" {var.value!r} is not a valid identifier"
            )
        return str(var.value)

    def repl(m: "re.Match[str]") -> str:
        return lookup(m.group(1)).literal

    sql = sub_in_code(_IDENTIFIER_REF, ident_repl, sql)
    return sub_in_code(_VAR_REF, repl, sql)


def _eval_scalar(spark: SparkSession, expr: str):
    """Evaluate one scalar expression (literal, arithmetic, or scalar
    subquery over registered views) -> python value. One Spark job at
    most; a pure-literal expression folds to a LocalRelation."""
    row = spark.sql(lower_select(f"SELECT ({expr}) AS __v")).first()
    return row["__v"]


_SET_RE = re.compile(
    r"SET\s+(?:(?P<name>[A-Za-z_]\w*)|\(\s*(?P<names>[A-Za-z_]\w*"
    r"(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))\s*=\s*(?P<rhs>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_commas(s: str) -> list[str]:
    parts, depth, quote, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if ch == "'":
            quote = not quote
        elif not quote and ch in "([":
            depth += 1
        elif not quote and ch in ")]":
            depth -= 1
        elif not quote and depth == 0 and ch == ",":
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def _do_set(
    spark: SparkSession, stmt: str, variables: dict[str, SessionVariable]
) -> None:
    m = _SET_RE.match(stmt)
    if m is None:
        raise ValueError(f"unsupported SET shape: {stmt[:60]!r}")
    rhs = substitute_variables(m.group("rhs").strip(), variables)
    if m.group("name"):
        names, exprs = [m.group("name")], [rhs]
    else:
        names = [x.strip() for x in m.group("names").split(",")]
        body = rhs.strip()
        if not (body.startswith("(") and body.endswith(")")):
            raise ValueError(
                "SET (a, b) = ... needs a parenthesized expression list"
            )
        exprs = _split_top_commas(body[1:-1])
        if len(exprs) != len(names):
            raise ValueError(
                f"SET: {len(names)} names but {len(exprs)} expressions"
            )
    for name, expr in zip(names, exprs):
        value = _eval_scalar(spark, expr)
        literal, sf_type = _render_literal(value)
        variables[name.upper()] = SessionVariable(value, literal, sf_type)


def _show_variables(
    spark: SparkSession, variables: dict[str, SessionVariable]
) -> DataFrame:
    rows = [
        (name, str(v.value), v.sf_type)
        for name, v in sorted(variables.items())
    ]
    return local_frame(spark, rows, "name string, value string, type string")


# session parameters ride the same variables mapping under a reserved
# prefix ($-references can't reach it: '.' is not an identifier char)
_PARAM_PREFIX = "PARAM."

# ALTER SESSION SET accepts only parameters whose effect here is
# either METADATA (tags/timeouts — recorded, surfaced by SHOW
# PARAMETERS) or VERIFIABLE AGAINST THE ENGINE'S PINNED POSTURE
# (TIMEZONE=UTC is the engine's determinism pin — any other zone would
# silently change every timestamp-rendering statement after it, so it
# refuses). Every other parameter changes real statement semantics
# (WEEK_START, *_OUTPUT_FORMAT, ...) and refuses rather than being
# silently recorded-but-ignored.
_METADATA_PARAMS = {
    "QUERY_TAG", "STATEMENT_TIMEOUT_IN_SECONDS",
    "STATEMENT_QUEUED_TIMEOUT_IN_SECONDS", "ABORT_DETACHED_QUERY",
    "AUTOCOMMIT",  # TRUE is the engine's (and Snowflake's) default
}


def _alter_session(
    spark: SparkSession, stmt: str, variables: dict[str, SessionVariable]
) -> DataFrame:
    m = re.match(
        r"ALTER\s+SESSION\s+(SET\s+(?P<k>[A-Za-z_]\w*)\s*=\s*(?P<v>.+)"
        r"|UNSET\s+(?P<uk>[A-Za-z_]\w*))$",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        raise ValueError(f"unsupported ALTER SESSION shape: {stmt[:60]!r}")
    if m.group("uk"):
        variables.pop(_PARAM_PREFIX + m.group("uk").upper(), None)
        return _ok_status(spark)
    key = m.group("k").upper()
    raw = m.group("v").strip().strip("'\"")
    if key == "TIMEZONE":
        if raw not in ("UTC", "Etc/UTC"):
            raise ValueError(
                "ALTER SESSION SET TIMEZONE: the engine pins the"
                " session zone to UTC (determinism contract) — only"
                " 'UTC' is accepted"
            )
    elif key == "AUTOCOMMIT":
        if raw.upper() != "TRUE":
            raise ValueError(
                "ALTER SESSION SET AUTOCOMMIT=FALSE: implicit"
                " transactions are not supported — use explicit"
                " BEGIN/COMMIT scripts via transaction_script"
            )
    elif key not in _METADATA_PARAMS:
        raise ValueError(
            f"ALTER SESSION SET {key}: parameter changes real statement"
            " semantics and has no engine mapping — refusing rather"
            " than recording it silently"
        )
    literal, sf_type = _render_literal(raw)
    variables[_PARAM_PREFIX + key] = SessionVariable(raw, literal, sf_type)
    return _ok_status(spark)


def _ok_status(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, [("Statement executed successfully.",)], "status string"
    )


_EXEC_IMM_RE = re.compile(r"EXECUTE\s+IMMEDIATE\s+", re.IGNORECASE)

_RESULT_SCAN_RE = re.compile(
    r"TABLE\s*\(\s*RESULT_SCAN\s*\(\s*LAST_QUERY_ID\s*\(\s*(?:-\s*1)?"
    r"\s*\)\s*\)\s*\)",
    re.IGNORECASE,
)

_BLOCK_HEAD_RE = re.compile(r"(?:DECLARE|BEGIN)\b", re.IGNORECASE)
_TXN_BEGIN_RE = re.compile(
    r"BEGIN(?:\s+(?:TRANSACTION|WORK))?\s*(?:;|$)", re.IGNORECASE
)


def _is_block(stmt: str) -> bool:
    """Anonymous scripting block vs transaction BEGIN: a block starts
    with DECLARE, or with BEGIN followed by more than a transaction
    keyword (its body ends with END)."""
    s = strip_line_comments(stmt).strip()
    if re.match(r"DECLARE\b", s, re.IGNORECASE):
        return True
    if re.match(r"BEGIN\b", s, re.IGNORECASE):
        return not _TXN_BEGIN_RE.match(s)
    return False


def execute_immediate(
    spark: SparkSession,
    stmt: str,
    variables: dict[str, SessionVariable],
    **ctx,
) -> DataFrame | None:
    """``EXECUTE IMMEDIATE <'sql' | $$sql$$ | $var>`` — resolve the
    statement text, then run it through the console dispatch (so the
    payload may itself be a SET, a DML statement, or a block)."""
    m = _EXEC_IMM_RE.match(stmt)
    body = stmt[m.end():].strip()
    if body.startswith("$$") and body.endswith("$$") and len(body) >= 4:
        inner = body[2:-2]
    elif (
        body.startswith("'") and body.endswith("'") and len(body) >= 2
        # ONE literal, not an expression that merely starts and ends
        # with a quote ('SELECT ' || $v): after collapsing the ''
        # self-escape, no quote may remain inside
        and "'" not in body[1:-1].replace("''", "")
    ):
        inner = body[1:-1].replace("''", "'")
    else:
        vm = _VAR_REF.fullmatch(body)
        if vm is not None:
            name = vm.group(1).upper()
            if name not in variables:
                raise ValueError(
                    f"Session variable '${name}' does not exist"
                )
            var = variables[name]
            if var.sf_type != "text":
                raise ValueError(
                    f"EXECUTE IMMEDIATE ${name}: variable is"
                    f" {var.sf_type}, not text"
                )
            inner = var.value
        else:
            # Snowflake takes any string EXPRESSION ('SELECT ' ||
            # $col) — evaluate it, require text
            val = _eval_scalar(
                spark, substitute_variables(body, variables)
            )
            if not isinstance(val, str):
                raise ValueError(
                    "EXECUTE IMMEDIATE takes a string literal, a"
                    " $$-quoted body, a $variable, or a string"
                    f" expression — got {body[:40]!r}"
                )
            inner = val
    return console_script(spark, inner, variables=variables, **ctx)


def console_script(
    spark: SparkSession,
    text: str,
    pipelines=None,
    tables: dict | None = None,
    stages: dict | None = None,
    variables: dict[str, SessionVariable] | None = None,
    procedures: dict | None = None,
) -> DataFrame | None:
    """Run a ``;``-separated console script with session-variable
    state; returns the LAST statement's result relation (what the
    console shows). ``variables`` may be passed in to carry session
    state across calls — it is mutated in place, like the ``tables``
    read-your-writes convention of the statement layer. DML results
    are written back into ``tables`` so later statements read this
    script's writes (the snowflake_sql shims return post-state; the
    mapping update is the script runner's job, same as
    transaction_script's)."""
    if variables is None:
        variables = {}
    if procedures is None:
        procedures = {}
    result: DataFrame | None = None
    whole = text.strip()
    stmts = [whole] if _is_block(whole) else split_statements(text)
    for stmt in stmts:
        bare = strip_line_comments(stmt).strip().rstrip(";").strip()
        if not bare:
            continue
        low = " ".join(bare.lower().split())
        if _is_block(stmt):
            result = scripting_block(
                spark, stmt, variables,
                pipelines=pipelines, tables=tables, stages=stages,
                procedures=procedures,
            )
            continue
        if low.startswith("set ") or low.startswith("set("):
            _do_set(spark, bare, variables)
            result = None
            continue
        if low.startswith("unset "):
            name = bare.split(None, 1)[1].strip().upper()
            variables.pop(name, None)
            result = None
            continue
        if low == "show variables":
            result = _show_variables(spark, variables)
            continue
        if low in ("begin", "begin transaction", "begin work",
                   "start transaction", "commit", "rollback"):
            raise ValueError(
                "transaction blocks in scripts run through"
                " sqldialect.transaction_script (DML-only atomic"
                " scripts); the console runner keeps autocommit"
            )
        if low.startswith("alter session "):
            result = _alter_session(spark, bare, variables)
            continue
        if low == "show parameters":
            rows = sorted(
                (k[len(_PARAM_PREFIX):], str(v.value))
                for k, v in variables.items()
                if k.startswith(_PARAM_PREFIX)
            )
            result = local_frame(
                spark, rows or [("", "")], "key string, value string"
            )
            if not rows:
                result = result.limit(0)
            continue
        if low.startswith("execute immediate"):
            result = execute_immediate(
                spark, bare, variables,
                pipelines=pipelines, tables=tables, stages=stages,
                procedures=procedures,
            )
            continue
        if re.match(r"create\s+(or\s+replace\s+)?procedure\b", low):
            result = create_procedure_statement(spark, stmt, procedures)
            continue
        if low.startswith("call "):
            result = call_statement(
                spark, bare, variables, procedures,
                pipelines=pipelines, tables=tables, stages=stages,
            )
            continue
        if re.match(
            r"create\s+(or\s+replace\s+)?(temp(orary)?\s+)?function\b",
            low,
        ):
            result = create_function_statement(spark, stmt)
            continue
        resolved = substitute_variables(stmt, variables)
        rs = _RESULT_SCAN_RE.search(resolved)
        if rs is not None:
            # Snowflake's show-then-filter idiom: ``SHOW TASKS;
            # SELECT ... FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))`` —
            # the previous statement's relation queried as a table.
            # Only the immediately-previous result is kept (the
            # console runner's history depth is 1; explicit query ids
            # refuse below rather than silently aliasing).
            if result is None:
                raise ValueError(
                    "RESULT_SCAN(LAST_QUERY_ID()): no previous result"
                    " in this script"
                )
            result.createOrReplaceTempView("__console_last_result")
            resolved = _RESULT_SCAN_RE.sub(
                "__console_last_result", resolved
            )
        elif re.search(r"\bRESULT_SCAN\b", resolved, re.IGNORECASE):
            raise ValueError(
                "RESULT_SCAN supports only LAST_QUERY_ID() / "
                "LAST_QUERY_ID(-1) (the runner keeps one result of"
                " history; explicit query ids have no engine mapping)"
            )
        result = snowflake_sql(
            spark, resolved, pipelines=pipelines, tables=tables,
            stages=stages,
        )
        if tables is not None:
            dm = _DML_HEAD_RE.match(
                strip_line_comments(resolved).strip()
            )
            if dm is not None:
                tables[_dml_key(tables, dm.group("t"))] = result
    return result


# ---------------------------------------------------------------------------
# SQL UDFs (CREATE FUNCTION ... AS '<expr>')
# ---------------------------------------------------------------------------

# Snowflake type name -> Spark DDL type for UDF signatures. VARIANT /
# OBJECT / ARRAY map to STRING per the engine's JSON-text VARIANT
# convention; TIME and the zoned timestamps refuse (types the engine
# deliberately does not carry).
_SF_TYPE_MAP = {
    "NUMBER": "DECIMAL(38,0)", "NUMERIC": "DECIMAL(38,0)",
    "DECIMAL": "DECIMAL(38,0)", "INT": "BIGINT", "INTEGER": "BIGINT",
    "BIGINT": "BIGINT", "SMALLINT": "BIGINT", "TINYINT": "BIGINT",
    "BYTEINT": "BIGINT", "FLOAT": "DOUBLE", "FLOAT4": "DOUBLE",
    "FLOAT8": "DOUBLE", "DOUBLE": "DOUBLE", "REAL": "DOUBLE",
    "VARCHAR": "STRING", "CHAR": "STRING", "CHARACTER": "STRING",
    "STRING": "STRING", "TEXT": "STRING", "BOOLEAN": "BOOLEAN",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "DATETIME": "TIMESTAMP",
    "TIMESTAMP_NTZ": "TIMESTAMP", "BINARY": "BINARY",
    "VARIANT": "STRING", "OBJECT": "STRING", "ARRAY": "STRING",
}


def _sf_type_to_spark(t: str) -> str:
    m = re.fullmatch(r"([A-Za-z_]\w*)(\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?",
                     t.strip())
    if m is None:
        raise ValueError(f"unsupported type spelling: {t!r}")
    base = m.group(1).upper()
    args = re.sub(r"\s", "", m.group(2) or "")
    if base in ("NUMBER", "NUMERIC", "DECIMAL") and args:
        return f"DECIMAL{args if ',' in args else args[:-1] + ',0)'}"
    if base in ("VARCHAR", "CHAR", "CHARACTER", "STRING", "TEXT"):
        return "STRING"  # length is advisory in Snowflake too
    if base in ("TIME", "TIMESTAMP_TZ", "TIMESTAMP_LTZ"):
        raise ValueError(
            f"{base} is a type this engine deliberately does not carry"
            " (no Spark TIME type; zoned timestamps break the UTC"
            " determinism pin)"
        )
    if base not in _SF_TYPE_MAP:
        raise ValueError(f"unsupported Snowflake type: {t!r}")
    return _SF_TYPE_MAP[base]


_CREATE_FN_RE = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?FUNCTION\s+"
    r"(?P<name>[A-Za-z_]\w*)\s*\((?P<params>(?:[^()]|\([^()]*\))*)\)\s*"
    r"RETURNS\s+(?P<ret>[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"\s*(?P<tail>.*?)\s*AS\s+(?P<body>'(?:[^']|'')*'|\$\$.*?\$\$)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def create_function_statement(spark: SparkSession, text: str) -> DataFrame:
    """``CREATE [OR REPLACE] FUNCTION f(x NUMBER, ...) RETURNS <type>
    [LANGUAGE SQL] AS '<expr>'`` — the Snowflake SQL UDF — lowered to
    Spark's native SQL UDF (``CREATE OR REPLACE TEMPORARY FUNCTION ...
    RETURN <expr>``), so Catalyst INLINES the body into every calling
    plan: pushdown/codegen see the expression itself, the UDF is free
    at any scale (never a Python round-trip). Scalar expressions only;
    RETURNS TABLE, non-SQL LANGUAGEs, and RETURNS NULL ON NULL INPUT
    (strictness Spark's SQL UDFs cannot encode) refuse loudly. UDFs
    may call other UDFs — resolution happens at Spark's analysis time
    exactly like Snowflake's."""
    s = strip_line_comments(text).strip().rstrip(";").strip()
    if re.search(r"RETURNS\s+TABLE", s, re.IGNORECASE):
        raise ValueError(
            "CREATE FUNCTION ... RETURNS TABLE: table functions are not"
            " lowered (use a named query / view instead)"
        )
    m = _CREATE_FN_RE.match(s)
    if m is None:
        raise ValueError(
            "unsupported CREATE FUNCTION shape (need CREATE [OR"
            " REPLACE] FUNCTION name(args) RETURNS type [LANGUAGE SQL]"
            f" AS '<expr>'): {s[:80]!r}"
        )
    tail = m.group("tail").strip()
    if tail:
        t_up = " ".join(tail.upper().split())
        if re.search(r"RETURNS\s+NULL\s+ON\s+NULL\s+INPUT", t_up):
            raise ValueError(
                "RETURNS NULL ON NULL INPUT: Spark SQL UDFs cannot"
                " encode strictness — wrap the body in CASE WHEN ..."
                " IS NULL instead"
            )
        lang = re.fullmatch(
            r"(?:LANGUAGE\s+(\w+)\s*)?(?:IMMUTABLE|VOLATILE|CALLED\s+ON"
            r"\s+NULL\s+INPUT|\s)*",
            t_up,
        )
        if lang is None or (lang.group(1) and lang.group(1) != "SQL"):
            raise ValueError(
                f"unsupported CREATE FUNCTION clause: {tail[:40]!r}"
                " (LANGUAGE SQL only; JS/Python/Java bodies have no"
                " engine mapping)"
            )
    body = m.group("body")
    body = (body[2:-2] if body.startswith("$$")
            else body[1:-1].replace("''", "'"))
    params = []
    for p in _split_top_commas(m.group("params")):
        if not p:
            continue
        pm = re.fullmatch(r"([A-Za-z_]\w*)\s+(.+)", p.strip(), re.DOTALL)
        if pm is None:
            raise ValueError(f"unsupported parameter spelling: {p!r}")
        params.append(f"{pm.group(1)} {_sf_type_to_spark(pm.group(2))}")
    ddl = (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {m.group('name')}"
        f"({', '.join(params)})"
        f" RETURNS {_sf_type_to_spark(m.group('ret'))}"
        f" RETURN {lower_select(body)}"
    )
    spark.sql(ddl)
    return _ok_status(spark)


# ---------------------------------------------------------------------------
# anonymous scripting blocks (conservative subset)
# ---------------------------------------------------------------------------

_UNSUPPORTED_BLOCK = re.compile(
    r"^(CURSOR)\b",
    re.IGNORECASE,
)

# control-flow markers (r12 session 4): heads that OPEN a construct,
# and the branch/closer statements that terminate a parse level
_IF_HEAD = re.compile(r"^IF\s*\(", re.IGNORECASE)
_WHILE_HEAD = re.compile(r"^WHILE\s*\(", re.IGNORECASE)
_FOR_HEAD = re.compile(
    r"^FOR\s+(?P<var>[A-Za-z_]\w*)\s+IN\s+(?P<rev>REVERSE\s+)?"
    r"(?P<a>.+?)\s+TO\s+(?P<b>.+?)\s+(?:DO|LOOP)\b(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_FOR_CURSOR = re.compile(r"^FOR\s+[A-Za-z_]\w*\s+IN\s*\(", re.IGNORECASE)
_FOR_CURSOR_NAME = re.compile(
    r"^FOR\s+(?P<var>[A-Za-z_]\w*)\s+IN\s+(?P<cur>[A-Za-z_]\w*)\s+"
    r"(?:DO|LOOP)\b(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DECL_CURSOR_RE = re.compile(
    r"^(?P<name>[A-Za-z_]\w*)\s+CURSOR\s+FOR\s+(?P<query>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MAX_CURSOR_ROWS = 10_000
_DECL_RESULTSET_RE = re.compile(
    r"^(?P<name>[A-Za-z_]\w*)\s+RESULTSET\s*"
    r"(?:(?:DEFAULT|:=)\s*(?P<q>\(.*\)))?$",
    re.IGNORECASE | re.DOTALL,
)
_RETURN_TABLE_RE = re.compile(
    r"^TABLE\s*\(\s*(?P<name>[A-Za-z_]\w*)\s*\)$", re.IGNORECASE
)
_ELSEIF_HEAD = re.compile(r"^ELSE\s*IF\s*\(|^ELSEIF\s*\(", re.IGNORECASE)
_ELSE_HEAD = re.compile(r"^ELSE\b(?!\s*IF)(?P<rest>.*)$",
                        re.IGNORECASE | re.DOTALL)
_END_RE = re.compile(
    r"^END\s+(?P<kw>IF|FOR|WHILE|LOOP|CASE)\s*$", re.IGNORECASE
)
_OPEN_RE = re.compile(r"^OPEN\s+(?P<cur>[A-Za-z_]\w*)\s*$", re.IGNORECASE)
_CLOSE_RE = re.compile(r"^CLOSE\s+(?P<cur>[A-Za-z_]\w*)\s*$", re.IGNORECASE)
_FETCH_RE = re.compile(
    r"^FETCH\s+(?P<cur>[A-Za-z_]\w*)\s+INTO\s+(?P<vars>:?[A-Za-z_]\w*"
    r"(?:\s*,\s*:?[A-Za-z_]\w*)*)\s*$",
    re.IGNORECASE,
)
_CASE_WHEN_RE = re.compile(
    r"^WHEN\s+(?P<cond>.+?)\s+THEN\b(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)

_MAX_LOOP_ITERS = 100_000

_DECL_EXC_RE = re.compile(
    r"^(?P<name>[A-Za-z_]\w*)\s+EXCEPTION\s*"
    r"(?:\(\s*(?P<code>-?\d+)\s*,\s*'(?P<msg>[^']*)'\s*\))?$",
    re.IGNORECASE,
)
_RAISE_RE = re.compile(
    r"^RAISE(?:\s+(?P<name>[A-Za-z_]\w*))?\s*$", re.IGNORECASE
)
_EXC_SECTION_RE = re.compile(r"^EXCEPTION\s+(?P<rest>WHEN\b.*)$",
                             re.IGNORECASE | re.DOTALL)
_WHEN_CLAUSE_RE = re.compile(
    r"^WHEN\s+(?P<names>[A-Za-z_]\w*(?:\s+OR\s+[A-Za-z_]\w*)*)\s+"
    r"THEN\b(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)


class _BlockBreak(Exception):
    pass


class _BlockContinue(Exception):
    pass


class _BlockReturn(Exception):
    def __init__(self, value):
        self.value = value


class _BareRaise(Exception):
    """``RAISE;`` with no name — re-raise the current handler's
    exception; an error outside a handler."""


class _UserException(Exception):
    """A RAISEd declared exception — carries Snowflake's triple."""

    def __init__(self, name: str, code: int, msg: str):
        super().__init__(f"{name} ({code}): {msg}")
        self.name = name
        self.code = code
        self.msg = msg


class _StatementError(Exception):
    """An embedded SQL statement failed at runtime (the
    STATEMENT_ERROR handler class). Wraps the engine error."""

    def __init__(self, cause: Exception):
        super().__init__(str(cause))
        self.cause = cause


class _ExpressionError(Exception):
    """A block expression failed at runtime (EXPRESSION_ERROR)."""

    def __init__(self, cause: Exception):
        super().__init__(str(cause))
        self.cause = cause


def _cond_and_rest(stmt: str, head_kw: str, then_kw: str) -> tuple[str, str]:
    """Split ``IF (cond) THEN rest`` / ``WHILE (cond) DO rest`` with a
    BALANCED-paren condition (the condition may itself contain calls
    and subqueries). Snowflake Scripting requires the parentheses."""
    open_idx = stmt.index("(")
    close = balanced_end(stmt, open_idx)
    cond = stmt[open_idx + 1 : close - 1].strip()
    tail = stmt[close:].lstrip()
    km = re.match(rf"{then_kw}\b(?P<rest>.*)$", tail,
                  re.IGNORECASE | re.DOTALL)
    if km is None:
        raise ValueError(
            f"{head_kw} (condition) must be followed by {then_kw}"
        )
    return cond, km.group("rest").strip()


def _parse_block_body(
    stmts: list[str],
    terminators: tuple[str, ...] = (),
    eof_ok: bool = False,
):
    """Recursive-descent parse of the semicolon-split statement stream
    into nodes: ('stmt', text) | ('return', expr|None) |
    ('if', [(cond, body), ...], else_body) |
    ('while', cond, body) | ('for', var, a, b, reverse, body) |
    ('break',) | ('continue',). The first statement of a branch rides
    on the marker segment (no ';' after THEN/DO/ELSE) and is pushed
    back onto the stream. Returns (nodes, terminator) where terminator
    is the branch/closer statement that ended this level ('' at
    end-of-stream, only legal for the top level)."""
    nodes: list = []
    while stmts:
        raw = stmts.pop(0)
        bare = strip_line_comments(raw).strip()
        if not bare:
            continue
        kind = None
        em = _END_RE.match(bare)
        if em is not None:
            kind = "END " + em.group("kw").upper()
        elif _ELSEIF_HEAD.match(bare):
            kind = "ELSEIF"
        elif _ELSE_HEAD.match(bare):
            kind = "ELSE"
        elif re.match(r"^WHEN\b", bare, re.IGNORECASE):
            kind = "WHEN"
        elif re.match(r"^UNTIL\s*\(", bare, re.IGNORECASE):
            kind = "UNTIL"
        if kind is not None:
            for t in terminators:
                if kind == t or (kind.startswith("END") and t == kind):
                    return nodes, bare
            raise ValueError(
                f"scripting blocks: unexpected {kind} (no open construct"
                " expects it here)"
            )
        if _FOR_CURSOR.match(bare):
            raise ValueError(
                "scripting blocks: inline FOR x IN (SELECT ...) is not"
                " Snowflake Scripting grammar — DECLARE a cursor"
                " (c CURSOR FOR <query>) and loop FOR x IN c DO"
            )
        if _IF_HEAD.match(bare):
            cond, rest = _cond_and_rest(bare, "IF", "THEN")
            if rest:
                stmts.insert(0, rest)
            branches = []
            else_body: list = []
            while True:
                body, term = _parse_block_body(
                    stmts, ("ELSEIF", "ELSE", "END IF")
                )
                branches.append((cond, body))
                if _ELSEIF_HEAD.match(term):
                    cond, rest = _cond_and_rest(term, "ELSEIF", "THEN")
                    if rest:
                        stmts.insert(0, rest)
                    continue
                if _ELSE_HEAD.match(term):
                    rest = _ELSE_HEAD.match(term).group("rest").strip()
                    if rest:
                        stmts.insert(0, rest)
                    else_body, term2 = _parse_block_body(
                        stmts, ("END IF",)
                    )
                break
            nodes.append(("if", branches, else_body))
            continue
        if _WHILE_HEAD.match(bare):
            cond, rest = _cond_and_rest(bare, "WHILE", "(?:DO|LOOP)")
            if rest:
                stmts.insert(0, rest)
            body, _ = _parse_block_body(stmts, ("END WHILE", "END LOOP"))
            nodes.append(("while", cond, body))
            continue
        fm = _FOR_HEAD.match(bare)
        if fm is not None:
            rest = fm.group("rest").strip()
            if rest:
                stmts.insert(0, rest)
            body, _ = _parse_block_body(stmts, ("END FOR", "END LOOP"))
            nodes.append((
                "for", fm.group("var").upper(), fm.group("a").strip(),
                fm.group("b").strip(), bool(fm.group("rev")), body,
            ))
            continue
        cm = _FOR_CURSOR_NAME.match(bare)
        if cm is not None:
            rest = cm.group("rest").strip()
            if rest:
                stmts.insert(0, rest)
            body, _ = _parse_block_body(stmts, ("END FOR", "END LOOP"))
            nodes.append((
                "forc", cm.group("var").upper(),
                cm.group("cur").upper(), body,
            ))
            continue
        casem = re.match(r"^CASE\b(?P<rest>.*)$", bare,
                         re.IGNORECASE | re.DOTALL)
        if casem is not None:
            # CASE blocks (searched and simple) lower to the IF node:
            # a simple-CASE subject turns each WHEN value into an
            # equality condition (standard CASE semantics — a NULL
            # subject matches nothing and falls to ELSE)

            rest = casem.group("rest").strip()
            subject = None
            if rest.startswith("("):
                close = balanced_end(rest, 0)
                subject = rest[1:close - 1].strip()
                rest = rest[close:].strip()
            nxt = rest
            branches = []
            else_body: list = []
            while True:
                if not nxt:
                    if not stmts:
                        raise ValueError(
                            "CASE block: expected WHEN ... THEN"
                        )
                    nxt = strip_line_comments(stmts.pop(0)).strip()
                wm = _CASE_WHEN_RE.match(nxt)
                if wm is None:
                    raise ValueError(
                        f"CASE block: expected WHEN <cond> THEN, got"
                        f" {nxt[:60]!r}"
                    )
                cond = wm.group("cond").strip()
                if subject is not None:
                    cond = f"({subject}) = ({cond})"
                if wm.group("rest").strip():
                    stmts.insert(0, wm.group("rest").strip())
                body, term = _parse_block_body(
                    stmts, ("WHEN", "ELSE", "END CASE")
                )
                branches.append((cond, body))
                if re.match(r"^WHEN\b", term, re.IGNORECASE):
                    nxt = term
                    continue
                if _ELSE_HEAD.match(term):
                    r2 = _ELSE_HEAD.match(term).group("rest").strip()
                    if r2:
                        stmts.insert(0, r2)
                    else_body, _ = _parse_block_body(
                        stmts, ("END CASE",)
                    )
                break
            nodes.append(("if", branches, else_body))
            continue
        om = _OPEN_RE.match(bare)
        if om is not None:
            nodes.append(("open", om.group("cur").upper()))
            continue
        zm = _CLOSE_RE.match(bare)
        if zm is not None:
            nodes.append(("close", zm.group("cur").upper()))
            continue
        fe = _FETCH_RE.match(bare)
        if fe is not None:
            nodes.append((
                "fetch", fe.group("cur").upper(),
                [v.strip().lstrip(":").upper()
                 for v in fe.group("vars").split(",")],
            ))
            continue
        if re.match(r"^(IF|WHILE|FOR|ELSE|OPEN|FETCH|CLOSE)\b", bare,
                    re.IGNORECASE):
            # a control head that matched none of the supported shapes
            # must not fall through to the SQL path
            kw = bare.split(None, 1)[0].upper()
            raise ValueError(
                f"scripting blocks: unsupported {kw} shape (grammar:"
                " IF (cond) THEN ... [ELSEIF (cond) THEN ...] [ELSE"
                " ...] END IF; WHILE (cond) DO ... END WHILE;"
                " FOR i IN [REVERSE] a TO b DO ... END FOR)"
            )
        lpm = re.match(r"^LOOP\b(?P<rest>.*)$", bare,
                       re.IGNORECASE | re.DOTALL)
        if lpm is not None:
            # bare LOOP ... END LOOP: the unconditional loop — BREAK
            # is the only exit (plus the shared runaway guard)
            rest = lpm.group("rest").strip()
            if rest:
                stmts.insert(0, rest)
            body, _ = _parse_block_body(stmts, ("END LOOP",))
            nodes.append(("loop", body))
            continue
        rpm = re.match(r"^REPEAT\b(?P<rest>.*)$", bare,
                       re.IGNORECASE | re.DOTALL)
        if rpm is not None:
            # REPEAT ... UNTIL (cond) END REPEAT: body first, check
            # after — CONTINUE jumps to the UNTIL check
            rest = rpm.group("rest").strip()
            if rest:
                stmts.insert(0, rest)
            body, term = _parse_block_body(stmts, ("UNTIL",))
            open_idx = term.index("(")
            close = balanced_end(term, open_idx)
            cond = term[open_idx + 1 : close - 1].strip()
            tail = term[close:].strip()
            if not re.fullmatch(r"END\s+REPEAT", tail, re.IGNORECASE):
                raise ValueError(
                    "REPEAT: expected UNTIL (cond) END REPEAT, got"
                    f" {term[:60]!r}"
                )
            nodes.append(("repeat", cond, body))
            continue
        if re.match(r"^(BREAK|EXIT)\s*$", bare, re.IGNORECASE):
            nodes.append(("break",))
            continue
        if re.match(r"^(CONTINUE|ITERATE)\s*$", bare, re.IGNORECASE):
            nodes.append(("continue",))
            continue
        if re.match(r"^NULL\s*$", bare, re.IGNORECASE):
            continue  # Snowflake Scripting's explicit no-op statement
        rr = _RAISE_RE.match(bare)
        if rr is not None:
            nodes.append(("raise", (rr.group("name") or "").upper()))
            continue
        rm = re.match(r"RETURN(?:\s+(?P<expr>.+))?$", bare,
                      re.IGNORECASE | re.DOTALL)
        if rm:
            nodes.append(("return", rm.group("expr")))
            continue
        if _UNSUPPORTED_BLOCK.match(bare):
            kw = bare.split(None, 1)[0].upper()
            raise ValueError(
                f"scripting blocks: {kw} is not supported (supported"
                " control flow: IF/ELSEIF/ELSE, WHILE, counter FOR,"
                " BREAK/CONTINUE; plus LET / SQL statements / RETURN)"
            )
        nodes.append(("stmt", bare))
    if terminators and not eof_ok:
        raise ValueError(
            f"scripting blocks: unterminated construct (expected one of"
            f" {', '.join(terminators)})"
        )
    return nodes, ""

_DECL_RE = re.compile(
    r"^(?P<name>[A-Za-z_]\w*)\s+(?P<type>[A-Za-z_]\w*(?:\s*\(\s*\d+"
    r"(?:\s*,\s*\d+)?\s*\))?)\s*(?:(?:DEFAULT|:=)\s*(?P<dflt>.+))?$",
    re.IGNORECASE | re.DOTALL,
)

_LET_RE = re.compile(
    r"^(?:LET\s+)?(?P<name>[A-Za-z_]\w*)\s*(?:\:=|=)\s*(?P<expr>.+)$",
    re.IGNORECASE | re.DOTALL,
)

_BIND_REF = re.compile(r":([A-Za-z_]\w*)")


def _subst_block_vars(
    expr: str, block_vars: dict[str, SessionVariable]
) -> str:
    """In block EXPRESSIONS, variables are referenced BARE (Snowflake
    Scripting's expression scope); substitute known names as literals,
    word-boundary + literal-aware. Unknown bare words pass through —
    they may be column references inside a scalar subquery."""
    if not block_vars:
        return expr
    rx = re.compile(
        r"\b("
        + "|".join(
            re.escape(n)
            for n in sorted(block_vars, key=len, reverse=True)
        )
        + r")\b",
        re.IGNORECASE,
    )
    return sub_in_code(
        rx, lambda m: block_vars[m.group(1).upper()].literal, expr
    )


_BIND_REF = re.compile(r"(?<!:):([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)")


def _subst_binds(
    sql: str, block_vars: dict[str, SessionVariable]
) -> str:
    """In embedded SQL STATEMENTS, block variables are referenced with
    ``:name`` binds (Snowflake Scripting's statement scope); splice
    them as literals. A ``:name`` that is no block variable refuses —
    silence would ship an unbound parameter to the parser. The scan is
    literal-aware and skips ``::`` casts."""

    def repl(m: "re.Match[str]") -> str:
        name = m.group(1).upper()
        if name in block_vars:
            return block_vars[name].literal
        # The dot arm is greedy so cursor-row fields (:rec.col) match
        # whole, but a SCALAR variable followed by a path suffix
        # (:v.field on a VARIANT splice) must not be swallowed —
        # fall back to the undotted prefix and keep the suffix text.
        if "." in name:
            head, _, tail = m.group(1).partition(".")
            if head.upper() in block_vars:
                return block_vars[head.upper()].literal + "." + tail
        raise ValueError(f"undeclared bind variable :{m.group(1)}")

    # dotted names cover cursor-row fields (:rec.col); the longer
    # spelling must win, so the dot arm is greedy
    return sub_in_code(_BIND_REF, repl, sql)


def scripting_block(
    spark: SparkSession,
    text: str,
    variables: dict[str, SessionVariable] | None = None,
    pipelines=None,
    tables: dict | None = None,
    stages: dict | None = None,
    initial_vars: dict[str, SessionVariable] | None = None,
    result_name: str = "anonymous_block",
    procedures: dict | None = None,
    depth: int = 0,
) -> DataFrame:
    """Run an anonymous ``[DECLARE ...] BEGIN ... END`` block (the
    stored-procedure-body paste). Supported: typed DECLARE with
    DEFAULT, ``LET``/re-assignment, embedded SQL statements with
    ``:var`` binds, ``RETURN expr``, and (r12 session 4) CONTROL
    FLOW — ``IF (c) THEN / ELSEIF (c) THEN / ELSE / END IF``,
    ``WHILE (c) DO|LOOP ... END WHILE|LOOP``, counter
    ``FOR i IN [REVERSE] a TO b DO|LOOP ... END FOR|LOOP`` (bounds
    must evaluate to integers; the counter is loop-scoped), and
    ``BREAK``/``EXIT`` / ``CONTINUE``/``ITERATE``. Conditions must be
    parenthesized (Snowflake Scripting's grammar) and evaluate to
    BOOLEAN (NULL is not-taken, CASE semantics; any other type
    refuses — a silent coercion would hide a mistyped predicate);
    runaway loops refuse at 100k iterations. EXCEPTION handling (r12
    session 4): ``DECLARE e EXCEPTION [(code, 'msg')]``, ``RAISE e``,
    and one trailing ``EXCEPTION WHEN <e> [OR <e>] THEN ... [WHEN
    STATEMENT_ERROR|EXPRESSION_ERROR|OTHER THEN ...]`` section —
    embedded-SQL failures dispatch as STATEMENT_ERROR, block
    expression failures as EXPRESSION_ERROR (interpreter refusals
    stay loud — a handler must not swallow an unsupported-shape
    error), the handler sees SQLCODE/SQLERRM/SQLSTATE as block
    variables, bare ``RAISE`` re-raises, and an unhandled exception
    surfaces the ORIGINAL engine error. Cursors (r12 session 4):
    ``DECLARE c CURSOR FOR <query>``, ``FOR rec IN c DO`` (bounded at
    10k rows), manual ``OPEN``/``FETCH INTO``/``CLOSE`` (past-the-end
    FETCH leaves NULLs), and CASE blocks (searched + simple) lowered
    to the IF node. Nested ``CALL`` dispatches through the shared
    procedure registry (depth-capped at 16; exceptions propagate RAW
    across frames so a caller's handler catches a callee's RAISE by
    name). Bare ``LOOP ... END LOOP`` and ``REPEAT ...
    UNTIL (c) END REPEAT`` run under the same runaway guard. RESULTSETs (r12 s4):
    assignment executes-and-snapshots, TABLE(r) reads, RETURN
    TABLE(r) returns the relation. Still refused loudly: inline
    FOR-over-query. Session variables ($v) remain visible inside
    the block (resolved before block-local scope). Returns the
    one-column ``anonymous_block`` relation holding RETURN's value
    (cast to its natural type), or a NULL row when the block falls
    off the END without RETURN."""
    variables = variables if variables is not None else {}
    if depth > 16:
        raise ValueError(
            "procedure CALL depth exceeds 16 (recursion guard)"
        )
    s = text.strip().rstrip(";").strip()
    m = re.match(
        r"(?:DECLARE\s+(?P<decl>.*?))?\bBEGIN\b(?P<body>.*)\bEND$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        raise ValueError(
            "unsupported block shape (need [DECLARE ...] BEGIN ... END)"
        )
    block_vars: dict[str, SessionVariable] = dict(initial_vars or {})
    block_excs: dict[str, tuple[int, str]] = {}
    block_cursors: dict[str, str] = {}
    block_resultsets: dict[str, "DataFrame | None"] = {}

    def eval_expr(expr: str):
        # expressions accept BOTH variable spellings (Snowflake allows
        # :var inside expression subqueries too): resolve :binds first
        # — else the bare-name pass would rewrite the name inside a
        # ':name' and leave a stray ':' for the parser. TABLE(r)
        # resultset reads resolve before either.
        resolved = substitute_variables(
            _subst_block_vars(
                _subst_binds(_sub_resultsets(expr), block_vars),
                block_vars,
            ),
            variables,
        )
        if tables is not None:
            # scalar subqueries must read the CURRENT table states
            # (read-your-writes after embedded DML), not whatever a
            # temp view captured earlier
            for tname, tdf in tables.items():
                tdf.createOrReplaceTempView(tname)
        return _eval_scalar(spark, resolved)

    def _sub_resultsets(sqltext: str) -> str:
        """Replace ``TABLE(name)`` for an assigned RESULTSET with a
        registered temp view over its snapshot (only known names —
        TABLE(RESULT_SCAN(...)) and friends pass through)."""

        def repl(mm: "re.Match[str]") -> str:
            nm = mm.group("name").upper()
            if nm not in block_resultsets:
                return mm.group(0)
            rdf = block_resultsets[nm]
            if rdf is None:
                raise ValueError(f"RESULTSET {nm} is unassigned")
            view = f"__rs_{nm.lower()}"
            rdf.createOrReplaceTempView(view)
            return view

        return re.sub(
            r"\bTABLE\s*\(\s*(?P<name>[A-Za-z_]\w*)\s*\)",
            repl, sqltext, flags=re.IGNORECASE,
        )

    def eval_resultset(qtext: str) -> DataFrame:
        """Assign a RESULTSET: run the parenthesized query NOW and
        snapshot it (Snowflake executes at assignment — the handle is
        a materialized result, not a view; localCheckpoint gives the
        same statement-boundary snapshot the EXCEPTION path uses)."""
        q = qtext.strip()
        if q.startswith("(") and q.endswith(")"):
            q = q[1:-1].strip()
        q = substitute_variables(
            _subst_binds(_sub_resultsets(q), block_vars), variables
        )
        if tables is not None:
            for tname, tdf in tables.items():
                tdf.createOrReplaceTempView(tname)
        rdf = snowflake_sql(
            spark, q, pipelines=pipelines, tables=tables, stages=stages,
        )
        return rdf.localCheckpoint(eager=True)

    for decl in split_statements(m.group("decl") or ""):
        # tolerate a repeated DECLARE keyword per entry (Snowflake
        # needs it once, but real pastes write both spellings)
        decl = re.sub(r"^DECLARE\s+", "", decl.strip(), flags=re.IGNORECASE)
        rsm = _DECL_RESULTSET_RE.match(decl.strip())
        if rsm is not None:
            block_resultsets[rsm.group("name").upper()] = (
                eval_resultset(rsm.group("q")) if rsm.group("q") else None
            )
            continue
        xm = _DECL_EXC_RE.match(decl.strip())
        if xm is not None:
            # DECLARE name EXCEPTION [(code, 'msg')] — Snowflake's
            # user-exception declaration (default code -20000)
            block_excs[xm.group("name").upper()] = (
                int(xm.group("code") or -20000),
                xm.group("msg") or xm.group("name").lower(),
            )
            continue
        km = _DECL_CURSOR_RE.match(decl.strip())
        if km is not None:
            # DECLARE name CURSOR FOR <query> — the query text binds
            # lazily; it runs (once) when a FOR loop opens the cursor
            block_cursors[km.group("name").upper()] = km.group("query")
            continue
        dm = _DECL_RE.match(decl.strip())
        if dm is None:
            raise ValueError(f"unsupported DECLARE entry: {decl[:60]!r}")
        if dm.group("type").upper() in ("CURSOR", "RESULTSET", "EXCEPTION"):
            raise ValueError(
                f"DECLARE {dm.group('type').upper()} is not supported"
                " in this spelling (CURSOR takes 'c CURSOR FOR"
                " <query>'; EXCEPTION an optional (code, 'message')"
                " literal pair; RESULTSET an optional ':= (query)')"
            )
        value = eval_expr(dm.group("dflt")) if dm.group("dflt") else None
        literal, sf_type = _render_literal(value)
        block_vars[dm.group("name").upper()] = SessionVariable(
            value, literal, sf_type
        )

    def run_stmt(bare: str) -> None:
        lrs = re.match(
            r"^(?:LET\s+)?(?P<name>[A-Za-z_]\w*)(?:\s+RESULTSET)?"
            r"\s*:=\s*(?P<q>\(.*\))$",
            bare, re.IGNORECASE | re.DOTALL,
        )
        if lrs is not None and (
            lrs.group("name").upper() in block_resultsets
            or re.search(r"\bRESULTSET\b", bare[: lrs.start("q")],
                         re.IGNORECASE)
        ):
            block_resultsets[lrs.group("name").upper()] = eval_resultset(
                lrs.group("q")
            )
            return
        lm = _LET_RE.match(bare)
        head = bare.split(None, 1)[0].upper()
        if lm and (
            head == "LET"
            or (lm.group("name").upper() in block_vars and ":=" in bare)
        ):
            value = eval_tagged(lm.group("expr"))
            literal, sf_type = _render_literal(value)
            block_vars[lm.group("name").upper()] = SessionVariable(
                value, literal, sf_type
            )
            return
        resolved = substitute_variables(
            _subst_binds(_sub_resultsets(bare), block_vars), variables
        )
        if head == "CALL":
            # nested procedure calls (r12 s4): the callee runs with
            # the same context and a depth-capped recursion guard;
            # the result relation is discarded (Snowflake's statement
            # form — capture via the procedure's table effects)
            if procedures is None:
                raise ValueError(
                    "CALL inside a block needs a procedure registry"
                    " (run the script through console_script)"
                )
            try:
                call_statement(
                    spark, resolved, variables, procedures,
                    depth=depth + 1, pipelines=pipelines,
                    tables=tables, stages=stages,
                )
            except (_UserException, _StatementError, _ExpressionError):
                raise
            except ValueError:
                raise
            except Exception as exc:
                raise _StatementError(exc) from exc
            return
        try:
            out = snowflake_sql(
                spark, resolved, pipelines=pipelines, tables=tables,
                stages=stages,
            )
            dm2 = _DML_HEAD_RE.match(resolved) if tables is not None else None
            if exec_ctx["eager"]:
                # an EXCEPTION section demands STATEMENT-BOUNDARY
                # execution: Spark's laziness would otherwise carry a
                # data error (bad cast, ANSI overflow) past the
                # handler's scope. DML results are checkpointed (the
                # statement's effect becomes a stable snapshot, exactly
                # the read-your-writes the tables-dict promises);
                # other statements just execute and discard.
                if dm2 is not None:
                    out = out.localCheckpoint(eager=True)
                else:
                    out.count()
        except (_UserException, _StatementError, _ExpressionError):
            raise
        except Exception as exc:  # the STATEMENT_ERROR handler class
            raise _StatementError(exc) from exc
        if dm2 is not None:
            tables[_dml_key(tables, dm2.group("t"))] = out

    def eval_tagged(expr: str):
        try:
            return eval_expr(expr)
        except ValueError:
            raise  # interpreter refusals (undeclared bind, ...) stay loud
        except Exception as exc:  # the EXPRESSION_ERROR handler class
            raise _ExpressionError(exc) from exc

    exec_ctx = {"eager": False}
    cursor_state: dict[str, dict] = {}

    def open_cursor(cur: str) -> list:
        """Run a declared cursor's query once (through the statement
        dispatch, so variables/:binds and the block's table snapshot
        resolve) and return its rows, capped at _MAX_CURSOR_ROWS."""
        if cur not in block_cursors:
            raise ValueError(f"{cur}: no such declared cursor")
        q = substitute_variables(
            _subst_binds(_sub_resultsets(block_cursors[cur]), block_vars),
            variables,
        )
        if tables is not None:
            # the cursor query is a plain SELECT — bind the block's
            # table states as temp views so it reads the same
            # read-your-writes snapshot the DML shims maintain
            for tname, tdf in tables.items():
                tdf.createOrReplaceTempView(tname)
        try:
            cdf = snowflake_sql(
                spark, q, pipelines=pipelines, tables=tables,
                stages=stages,
            )
            rows = cdf.limit(_MAX_CURSOR_ROWS + 1).collect()
        except (_UserException, _StatementError, _ExpressionError):
            raise
        except Exception as exc:
            raise _StatementError(exc) from exc
        if len(rows) > _MAX_CURSOR_ROWS:
            raise ValueError(
                f"cursor {cur} exceeds {_MAX_CURSOR_ROWS} rows"
                " — a cursor is per-row driver orchestration;"
                " restructure as a set-based statement"
            )
        return rows

    def set_var(name: str, value) -> None:
        literal, sf_type = _render_literal(value)
        block_vars[name] = SessionVariable(value, literal, sf_type)

    def truthy(cond: str) -> bool:
        v = eval_tagged(cond)
        if v is None:
            return False  # CASE/WHERE semantics: NULL is not taken
        if not isinstance(v, bool):
            raise ValueError(
                f"scripting blocks: condition ({cond[:60]}) evaluated to"
                f" non-boolean {type(v).__name__} — a silent coercion"
                " would hide a mistyped predicate"
            )
        return v

    def run_nodes(nodes) -> None:
        for node in nodes:
            kind = node[0]
            if kind == "stmt":
                run_stmt(node[1])
            elif kind == "return":
                if node[1]:
                    tm = _RETURN_TABLE_RE.match(node[1].strip())
                    if tm and tm.group("name").upper() in block_resultsets:
                        rdf = block_resultsets[tm.group("name").upper()]
                        if rdf is None:
                            raise ValueError(
                                f"RESULTSET {tm.group('name').upper()}"
                                " is unassigned"
                            )
                        raise _BlockReturn(rdf)
                raise _BlockReturn(
                    eval_tagged(node[1]) if node[1] else None
                )
            elif kind == "break":
                raise _BlockBreak()
            elif kind == "continue":
                raise _BlockContinue()
            elif kind == "raise":
                name = node[1]
                if not name:
                    raise _BareRaise()
                if name not in block_excs:
                    raise ValueError(
                        f"RAISE {name}: no such declared exception"
                    )
                code, msg = block_excs[name]
                raise _UserException(name, code, msg)
            elif kind == "if":
                _, branches, else_body = node
                for cond, body in branches:
                    if truthy(cond):
                        run_nodes(body)
                        break
                else:
                    run_nodes(else_body)
            elif kind == "while":
                _, cond, body = node
                iters = 0
                while truthy(cond):
                    iters += 1
                    if iters > _MAX_LOOP_ITERS:
                        raise ValueError(
                            "scripting blocks: WHILE exceeded"
                            f" {_MAX_LOOP_ITERS} iterations (runaway"
                            " loop guard)"
                        )
                    try:
                        run_nodes(body)
                    except _BlockContinue:
                        continue
                    except _BlockBreak:
                        break
            elif kind == "loop":
                iters = 0
                while True:
                    iters += 1
                    if iters > _MAX_LOOP_ITERS:
                        raise ValueError(
                            "scripting blocks: LOOP exceeded"
                            f" {_MAX_LOOP_ITERS} iterations (runaway"
                            " loop guard)"
                        )
                    try:
                        run_nodes(node[1])
                    except _BlockContinue:
                        continue
                    except _BlockBreak:
                        break
            elif kind == "repeat":
                _, cond, body = node
                iters = 0
                while True:
                    iters += 1
                    if iters > _MAX_LOOP_ITERS:
                        raise ValueError(
                            "scripting blocks: REPEAT exceeded"
                            f" {_MAX_LOOP_ITERS} iterations (runaway"
                            " loop guard)"
                        )
                    try:
                        run_nodes(body)
                    except _BlockContinue:
                        pass  # falls through to the UNTIL check
                    except _BlockBreak:
                        break
                    if truthy(cond):
                        break
            elif kind == "open":
                cursor_state[node[1]] = {
                    "rows": open_cursor(node[1]), "pos": 0,
                }
            elif kind == "close":
                if node[1] not in cursor_state:
                    raise ValueError(f"CLOSE {node[1]}: cursor not open")
                del cursor_state[node[1]]
            elif kind == "fetch":
                _, cur, into = node
                if cur not in cursor_state:
                    raise ValueError(f"FETCH {cur}: cursor not open")
                st = cursor_state[cur]
                for v in into:
                    if v not in block_vars:
                        raise ValueError(
                            f"FETCH INTO {v}: variable not declared"
                        )
                if st["pos"] < len(st["rows"]):
                    row = st["rows"][st["pos"]]
                    st["pos"] += 1
                    if len(into) != len(row.__fields__):
                        raise ValueError(
                            f"FETCH {cur}: {len(row.__fields__)} cursor"
                            f" columns but {len(into)} INTO variables"
                        )
                    for v, f in zip(into, row.__fields__):
                        set_var(v, row[f])
                else:
                    # past the last row: Snowflake leaves NULLs
                    for v in into:
                        set_var(v, None)
            elif kind == "forc":
                # cursor FOR: run the declared query ONCE (through the
                # same statement dispatch, so tables-dict relations and
                # session variables resolve), then iterate rows
                # DRIVER-side — Snowflake's own cursor model. Bounded
                # state: more than _MAX_CURSOR_ROWS rows refuses
                # loudly (a cursor loop is per-row orchestration, not
                # a data plan — aggregate instead).
                _, var, cur, body = node
                rows = open_cursor(cur)
                fields = rows[0].__fields__ if rows else []
                keys = [f"{var}.{f.upper()}" for f in fields]
                shadow = {k: block_vars.get(k) for k in keys}
                for row in rows:
                    for f in fields:
                        set_var(f"{var}.{f.upper()}", row[f])
                    try:
                        run_nodes(body)
                    except _BlockContinue:
                        continue
                    except _BlockBreak:
                        break
                for k, old in shadow.items():
                    if old is None:
                        block_vars.pop(k, None)
                    else:
                        block_vars[k] = old
            else:  # for
                _, var, a_expr, b_expr, rev, body = node
                a, b = eval_tagged(a_expr), eval_tagged(b_expr)
                if not isinstance(a, int) or not isinstance(b, int):
                    raise ValueError(
                        "scripting blocks: FOR counter bounds must be"
                        f" integers (got {a!r} TO {b!r})"
                    )
                if b - a + 1 > _MAX_LOOP_ITERS:
                    raise ValueError(
                        "scripting blocks: FOR range exceeds"
                        f" {_MAX_LOOP_ITERS} iterations (runaway guard)"
                    )
                shadowed = block_vars.get(var)
                rng = range(b, a - 1, -1) if rev else range(a, b + 1)
                for v in rng:
                    set_var(var, v)
                    try:
                        run_nodes(body)
                    except _BlockContinue:
                        continue
                    except _BlockBreak:
                        break
                # the loop counter is loop-scoped (Snowflake: out of
                # scope after END FOR); restore any shadowed declare
                if shadowed is None:
                    block_vars.pop(var, None)
                else:
                    block_vars[var] = shadowed

    # split the statement stream at the EXCEPTION section head (one
    # section per block, Snowflake's shape; handler clauses are WHEN
    # <name> [OR <name>]* THEN <statements> in declaration order)
    body_stmts = split_statements(m.group("body"))
    handler_stmts: list[str] = []
    for idx, st in enumerate(body_stmts):
        xm = _EXC_SECTION_RE.match(strip_line_comments(st).strip())
        if xm is not None:
            handler_stmts = [xm.group("rest")] + body_stmts[idx + 1 :]
            body_stmts = body_stmts[:idx]
            break
    handlers: list[tuple[list[str], list]] = []
    while handler_stmts:
        head = strip_line_comments(handler_stmts.pop(0)).strip()
        wm = _WHEN_CLAUSE_RE.match(head)
        if wm is None:
            raise ValueError(
                f"EXCEPTION section: expected WHEN <exception> THEN,"
                f" got {head[:60]!r}"
            )
        if wm.group("rest").strip():
            handler_stmts.insert(0, wm.group("rest").strip())
        names = [
            n.strip().upper()
            for n in re.split(r"\s+OR\s+", wm.group("names"),
                              flags=re.IGNORECASE)
        ]
        for n in names:
            if n not in block_excs and n not in (
                "OTHER", "STATEMENT_ERROR", "EXPRESSION_ERROR"
            ):
                raise ValueError(
                    f"EXCEPTION handler for undeclared exception {n!r}"
                )
        body, term = _parse_block_body(
            handler_stmts, ("WHEN",), eof_ok=True
        )
        handlers.append((names, body))
        if term:
            handler_stmts.insert(0, term)

    parsed, _term = _parse_block_body(body_stmts)
    returned = None
    has_return = False
    caught: Exception | None = None
    exec_ctx["eager"] = bool(handlers)
    try:
        run_nodes(parsed)
    except _BlockReturn as r:
        returned = r.value
        has_return = True
    except (_BlockBreak, _BlockContinue):
        raise ValueError(
            "scripting blocks: BREAK/CONTINUE outside a loop"
        )
    except _BareRaise:
        raise ValueError(
            "scripting blocks: bare RAISE is only valid inside an"
            " EXCEPTION handler"
        )
    except (_UserException, _StatementError, _ExpressionError) as exc:
        caught = exc
    if caught is not None:
        if isinstance(caught, _UserException):
            want = {caught.name, "OTHER"}
            triple = (caught.code, caught.msg, "P0001")
        elif isinstance(caught, _StatementError):
            want = {"STATEMENT_ERROR", "OTHER"}
            triple = (-1, str(caught).splitlines()[0][:200], "42000")
        else:
            want = {"EXPRESSION_ERROR", "OTHER"}
            triple = (-1, str(caught).splitlines()[0][:200], "42000")
        clause = next(
            (body for names, body in handlers if want & set(names)), None
        )
        if clause is None:
            # unhandled: in a NESTED call frame, propagate RAW so the
            # caller's handler can still catch it by name/class
            # (Snowflake's propagation rule); at the outermost frame,
            # surface the ORIGINAL failure loudly
            if depth > 0:
                raise caught
            if isinstance(caught, _UserException):
                raise ValueError(f"uncaught exception {caught}") from caught
            raise caught.cause
        # Snowflake's handler scope: the error triple is readable as
        # block variables (and thus :binds) inside the handler
        for nm, v in zip(("SQLCODE", "SQLERRM", "SQLSTATE"), triple):
            lit, t = _render_literal(v)
            block_vars[nm] = SessionVariable(v, lit, t)
        current = caught

        try:
            try:
                run_nodes(clause)
            except _BareRaise:
                # bare RAISE re-raises the CURRENT exception
                raise current from None
        except _BlockReturn as r:
            returned = r.value
            has_return = True
        except _UserException as exc2:
            if depth > 0:
                raise
            raise ValueError(f"uncaught exception {exc2}") from exc2
        except (_StatementError, _ExpressionError) as exc2:
            if depth > 0:
                raise
            raise exc2.cause
    if has_return and isinstance(returned, DataFrame):
        # RETURN TABLE(r): the relation IS the result (table-valued
        # blocks/procedures — Snowflake's RETURNS TABLE contract)
        return returned
    literal, _t = _render_literal(returned if has_return else None)
    return spark.sql(f"SELECT {literal} AS {result_name}")


# ---------------------------------------------------------------------------
# stored procedures (CREATE PROCEDURE ... AS $$block$$; CALL)
# ---------------------------------------------------------------------------


class SqlProcedure:
    """One registered SQL procedure: typed parameter list + the block
    body text (parsed fresh at every CALL — the block interpreter owns
    all semantics)."""

    __slots__ = ("name", "params", "body")

    def __init__(self, name: str, params: list[tuple[str, str]], body: str):
        self.name = name
        self.params = params
        self.body = body


_CREATE_PROC_RE = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\((?P<params>(?:[^()]|\([^()]*\))*)\)\s*"
    r"RETURNS\s+(?P<ret>TABLE\s*\([^)]*\)"
    r"|[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"\s*(?P<tail>.*?)\s*AS\s+(?P<body>'(?:[^']|'')*'|\$\$.*?\$\$)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CALL_RE = re.compile(
    r"CALL\s+(?P<name>[A-Za-z_]\w*)\s*\((?P<args>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def create_procedure_statement(
    spark: SparkSession, text: str, procedures: dict[str, SqlProcedure]
) -> DataFrame:
    """``CREATE [OR REPLACE] PROCEDURE p(x NUMBER, ...) RETURNS <type>
    [LANGUAGE SQL] [EXECUTE AS CALLER|OWNER] AS $$ BEGIN ... END $$``
    — the paste-a-stored-procedure statement. The body must be a
    scripting block (the conservative subset ``scripting_block``
    runs); parameters bind as pre-declared block variables at CALL.
    Non-SQL LANGUAGEs refuse; EXECUTE AS is tolerated (the engine has
    one principal). The RETURNS type is advisory, like Snowflake's
    own (the block's RETURN value is what comes back)."""
    s = strip_line_comments(text).strip().rstrip(";").strip()
    m = _CREATE_PROC_RE.match(s)
    if m is None:
        raise ValueError(
            "unsupported CREATE PROCEDURE shape (need CREATE [OR"
            " REPLACE] PROCEDURE name(args) RETURNS type [LANGUAGE"
            f" SQL] AS $$ <block> $$): {s[:80]!r}"
        )
    tail = " ".join(m.group("tail").upper().split())
    if tail:
        ok = re.fullmatch(
            r"(?:LANGUAGE\s+SQL\s*|EXECUTE\s+AS\s+(?:CALLER|OWNER)\s*)*",
            tail,
        )
        lang = re.search(r"LANGUAGE\s+(\w+)", tail)
        if (lang and lang.group(1) != "SQL") or ok is None:
            raise ValueError(
                f"unsupported CREATE PROCEDURE clause: {tail[:40]!r}"
                " (LANGUAGE SQL only; JS/Python/Java bodies have no"
                " engine mapping)"
            )
    body = m.group("body")
    body = (body[2:-2] if body.startswith("$$")
            else body[1:-1].replace("''", "'")).strip()
    if not _is_block(body):
        raise ValueError(
            "CREATE PROCEDURE: the body must be a scripting block"
            " ([DECLARE ...] BEGIN ... END) — single-statement bodies"
            " run directly through console_script / snowflake_sql"
        )
    params: list[tuple[str, str]] = []
    for p in _split_top_commas(m.group("params")):
        if not p:
            continue
        pm = re.fullmatch(r"([A-Za-z_]\w*)\s+(.+)", p.strip(), re.DOTALL)
        if pm is None:
            raise ValueError(f"unsupported parameter spelling: {p!r}")
        _sf_type_to_spark(pm.group(2))  # validate the type spelling
        params.append((pm.group(1).upper(), pm.group(2).strip()))
    procedures[m.group("name").upper()] = SqlProcedure(
        m.group("name"), params, body
    )
    return _ok_status(spark)


def call_statement(
    spark: SparkSession,
    stmt: str,
    variables: dict[str, SessionVariable],
    procedures: dict[str, SqlProcedure],
    depth: int = 0,
    **ctx,
) -> DataFrame:
    """``CALL p(<expr>, ...)`` — evaluate the arguments (session
    variables resolve), bind them as the procedure's block variables,
    run the body block, and return Snowflake's one-column result
    relation named after the procedure."""
    m = _CALL_RE.match(stmt)
    if m is None:
        raise ValueError(f"unsupported CALL shape: {stmt[:60]!r}")
    key = m.group("name").upper()
    if key not in procedures:
        raise ValueError(f"unknown procedure: {m.group('name')!r}")
    proc = procedures[key]
    raw_args = [a for a in _split_top_commas(m.group("args")) if a]
    if len(raw_args) != len(proc.params):
        raise ValueError(
            f"CALL {proc.name}: {len(proc.params)} parameters but"
            f" {len(raw_args)} arguments"
        )
    bound: dict[str, SessionVariable] = {}
    for (pname, _ptype), arg in zip(proc.params, raw_args):
        value = _eval_scalar(spark, substitute_variables(arg, variables))
        literal, sf_type = _render_literal(value)
        bound[pname] = SessionVariable(value, literal, sf_type)
    return scripting_block(
        spark, proc.body, variables,
        initial_vars=bound, result_name=proc.name.lower(),
        procedures=procedures, depth=depth, **ctx,
    )
