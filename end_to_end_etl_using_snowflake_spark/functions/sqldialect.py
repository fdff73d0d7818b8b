"""Snowflake-dialect SQL shims.

The reference's queries are written in Snowflake SQL. Most of that
dialect is ANSI and runs through ``spark.sql`` unchanged (sql1-sql4
prove the shared-text surface); the one construct the reference
idiom leans on that OSS Spark's parser rejects is ``QUALIFY`` —
Snowflake's post-window filter (the standard way to write
latest-per-key: ``QUALIFY row_number() OVER (...) = 1``,
item-end-to-end-pipeline-script.sql:72-75 expresses exactly this
with a subquery).

``rewrite_qualify`` lowers a QUALIFY query to the ANSI subquery form
Spark executes:

    SELECT <list> FROM <rest> QUALIFY <pred>
      ->
    SELECT * EXCEPT (__qualify)
    FROM (SELECT <list>, (<pred>) AS __qualify FROM <rest>)
    WHERE __qualify

The rewrite is purely textual and deliberately conservative: it
handles ONE top-level SELECT ... QUALIFY [ORDER BY ...] [LIMIT n]
(parens, string literals, ``"quoted"`` identifiers and ``--``/``/*``
comments are respected when locating top-level keywords; a trailing
ORDER BY / LIMIT re-attaches OUTSIDE the subquery, matching
Snowflake's QUALIFY-before-ORDER-BY evaluation order); set operations
or stacked QUALIFYs should be pre-split by the caller.
"""

from __future__ import annotations

import re

from .sqllex import (
    DOLLAR,
    STRING,
    balanced_end,
    code_tokens,
    find_keyword,
    in_code,
    lex,
    paren_depth,
    replace_spans,
    split_statements,
    split_top_level,
    string_end,
    strip_line_comments,
    sub_in_code,
)


def rewrite_qualify(sql: str) -> str:
    """Lower a single top-level ``QUALIFY`` to the ANSI subquery form;
    returns the input unchanged when no top-level QUALIFY exists."""
    q = find_keyword(sql, "QUALIFY")
    if q < 0:
        return sql
    sel = find_keyword(sql, "SELECT")
    frm = find_keyword(sql, "FROM", start=sel)
    if sel < 0 or frm < 0 or not (sel < frm < q):
        raise ValueError("unsupported QUALIFY query shape (need SELECT ... FROM ... QUALIFY ...)")
    select_list = sql[sel + len("SELECT"):frm].strip()
    rest = sql[frm:q].strip()
    # A trailing top-level ORDER BY / LIMIT belongs to the OUTER query
    # (Snowflake applies QUALIFY before ORDER BY/LIMIT): split it off
    # the predicate and re-attach it outside the subquery.
    after = q + len("QUALIFY")
    tail_at = len(sql)
    for kw in ("ORDER", "LIMIT"):
        k = find_keyword(sql, kw, start=after)
        if 0 <= k < tail_at:
            tail_at = k
    pred = sql[after:tail_at].strip().rstrip(";").strip()
    tail = sql[tail_at:].strip().rstrip(";").strip()
    if not pred:
        raise ValueError("QUALIFY with empty predicate")
    return (
        "SELECT * EXCEPT (__qualify) FROM ("
        f"SELECT {select_list}, ({pred}) AS __qualify {rest}"
        ") WHERE __qualify"
        + (f" {tail}" if tail else "")
    )


_FLATTEN_HEAD = re.compile(r",?\s*LATERAL\s+FLATTEN\s*\(", re.IGNORECASE)

# ---------------------------------------------------------------------------
# Snowflake CONNECT BY (hierarchical query)
# ---------------------------------------------------------------------------

_CONNECT_RE = re.compile(
    r"SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)\s+"
    r"START\s+WITH\s+(?P<start>.*?)\s+"
    r"CONNECT\s+BY\s+(?P<nocycle>NOCYCLE\s+)?"
    r"PRIOR\s+(?P<prior>[A-Za-z_]\w*)\s*=\s*(?P<parent>.*?)"
    r"(?:\s+AND\s+LEVEL\s*<=\s*(?P<maxlvl>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SCBP_RE = re.compile(r"SYS_CONNECT_BY_PATH\s*\(", re.IGNORECASE)
_CBROOT_RE = re.compile(r"CONNECT_BY_ROOT\s+([A-Za-z_]\w*)", re.IGNORECASE)


def rewrite_connect_by(sql: str) -> str:
    """Lower Snowflake ``SELECT <list> FROM <table> START WITH <pred>
    CONNECT BY PRIOR <col> = <parent expr>`` (the org-chart / BOM
    hierarchy idiom) to ANSI ``WITH RECURSIVE``:

        WITH RECURSIVE __h AS (
            SELECT *, CAST(1 AS BIGINT) AS level FROM <table>
            WHERE <pred>
            UNION ALL
            SELECT c.*, __h.level + 1 FROM <table> c
            JOIN __h ON __h.<col> = <parent expr over c>
        ) SELECT <list> FROM __h

    Both engines this repo targets execute the lowered text natively
    (Spark 4 and DuckDB ship WITH RECURSIVE — sql4 proves the shared
    surface), so ONE lowering serves execution and oracle. The LEVEL
    pseudo-column is materialized as ``level`` (1-based like
    Snowflake's). Conservative single-SELECT shape: the select list
    may reference LEVEL; a trailing ``AND LEVEL <= n`` bounds the
    recursion depth (anchors always emit — Snowflake's semantics: the
    limit gates edge expansion, not the START WITH rows); the parent
    expression is rewritten against the child alias. The CONNECT BY
    companions lower too (r9 — VERDICT r8 Missing #3):

    - ``SYS_CONNECT_BY_PATH(col, '<sep>')`` -> a path column built
      through the recursion (anchor ``<sep> || col``, step
      ``parent_path || <sep> || col`` — Snowflake's leading-separator
      rendering),
    - ``CONNECT_BY_ROOT col`` -> the anchor row's value carried
      through the recursion,
    - ``NOCYCLE`` -> a visited-set guard on the recursive join (the
      PRIOR key's path is tracked as a '|'-delimited string; an edge
      leading back onto the current path is skipped — Oracle/Snowflake
      NOCYCLE semantics). The guard wraps every key in delimiters, so
      only a string key embedding '|<other key>|' verbatim could
      collide; numeric keys (the overwhelming CONNECT BY case)
      cannot.

    Still refused loudly: PRIOR on the right-hand side, LEVEL
    predicates other than the trailing bound.
    Scale shape: each recursion step is a keyed equi-join of the
    frontier against the table — Catalyst plans the per-level joins;
    depth is the hierarchy's, not the row count's. The NOCYCLE path
    string adds O(depth * key width) state per frontier row — the
    same order as SYS_CONNECT_BY_PATH itself.
    """
    if find_keyword(sql, "CONNECT") < 0:
        return sql
    m = _CONNECT_RE.search(sql.strip().rstrip(";"))
    if m is None:
        raise ValueError(
            "unsupported CONNECT BY shape (need SELECT ... FROM <table> "
            "START WITH <pred> CONNECT BY [NOCYCLE] PRIOR <col> ="
            " <parent expr>)"
        )
    sel, table, start = m.group("sel"), m.group("table"), m.group("start")
    prior, parent = m.group("prior"), m.group("parent")
    if re.search(r"\bPRIOR\b", parent, re.IGNORECASE):
        raise ValueError("PRIOR on the parent side is not supported by this shim")
    if re.search(r"\bLEVEL\b", parent, re.IGNORECASE):
        raise ValueError(
            "CONNECT BY LEVEL predicates other than a trailing"
            " 'AND LEVEL <= n' are not supported by this shim"
        )
    # SYS_CONNECT_BY_PATH(col, 'sep') occurrences -> internal recursion
    # columns __scbp{i}; CONNECT_BY_ROOT col -> __root{i}
    anchor_extra: list[str] = []
    step_extra: list[str] = []
    i_path = 0
    while True:
        mp = _SCBP_RE.search(sel)
        if mp is None:
            break
        close = balanced_end(sel, mp.end() - 1)
        args = split_top_level(sel[mp.end() : close - 1], ",")
        if len(args) != 2:
            raise ValueError("SYS_CONNECT_BY_PATH needs (column, 'separator')")
        col, sep = args[0].strip(), args[1].strip()
        if not re.fullmatch(r"[A-Za-z_]\w*", col):
            raise ValueError(
                f"SYS_CONNECT_BY_PATH column must be a bare column, got {col!r}"
            )
        if not (len(sep) >= 2 and sep[0] == "'" and sep[-1] == "'"):
            raise ValueError(
                f"SYS_CONNECT_BY_PATH separator must be a string literal, got {sep!r}"
            )
        name = f"__scbp{i_path}"
        i_path += 1
        anchor_extra.append(f"{sep} || CAST({col} AS STRING) AS {name}")
        step_extra.append(f"__h.{name} || {sep} || CAST(c.{col} AS STRING)")
        sel = sel[: mp.start()] + name + sel[close:]
    i_root = 0
    while True:
        mr = _CBROOT_RE.search(sel)
        if mr is None:
            break
        name = f"__root{i_root}"
        i_root += 1
        anchor_extra.append(f"{mr.group(1)} AS {name}")
        step_extra.append(f"__h.{name}")
        sel = sel[: mr.start()] + name + sel[mr.end() :]
    sel = re.sub(r"\bLEVEL\b", "level", sel)
    nocycle = bool(m.group("nocycle"))
    cycle_guard = ""
    if nocycle:
        anchor_extra.append(f"'|' || CAST({prior} AS STRING) || '|' AS __vis")
        step_extra.append(f"__h.__vis || CAST(c.{prior} AS STRING) || '|'")
        cycle_guard = (
            f" AND NOT contains(__h.__vis, '|' || CAST(c.{prior} AS STRING) || '|')"
        )
    # Snowflake's 'AND LEVEL <= n' bounds RECURSION DEPTH: START WITH
    # anchors are level 1 and always emitted; the limit gates only the
    # recursive arm, capping the number of frontier joins at n-1.
    maxlvl = m.group("maxlvl")
    depth_guard = f" WHERE __h.level + 1 <= {maxlvl}" if maxlvl else ""
    anchor_cols = "".join(f", {e}" for e in anchor_extra)
    step_cols = "".join(f", {e}" for e in step_extra)
    return (
        f"WITH RECURSIVE __h AS ("
        f"SELECT *, CAST(1 AS BIGINT) AS level{anchor_cols}"
        f" FROM {table} WHERE {start} "
        f"UNION ALL "
        f"SELECT c.*, __h.level + 1{step_cols} FROM {table} c "
        f"JOIN __h ON __h.{prior} = {_qualify_idents(parent, 'c')}"
        f"{cycle_guard}"
        f"{depth_guard}"
        f") SELECT {sel} FROM __h"
    )


_SQL_NON_COLUMN_WORDS = frozenset(
    """AS AND OR NOT NULL TRUE FALSE CASE WHEN THEN ELSE END IN IS LIKE
    BETWEEN BIGINT INT INTEGER SMALLINT TINYINT DOUBLE FLOAT REAL VARCHAR
    STRING DATE TIMESTAMP BOOLEAN DECIMAL NUMERIC INTERVAL DAY MONTH
    YEAR HOUR MINUTE SECOND""".split()
)


# a word not preceded by '.'; group 1 is set when a '(' (a call) or a
# '.' (a qualifier) follows it
_BARE_IDENT = re.compile(r"(?<![\w.$])[A-Za-z_][\w$]*(\s*[(.])?")


def _qualify_idents(expr: str, alias: str) -> str:
    """Prefix bare column identifiers in ``expr`` with ``alias.`` —
    function names (followed by '('), SQL keywords/type names, already-
    qualified references, and numeric/string literals are left alone.
    Used to bind CONNECT BY's parent expression to the child side of
    the recursive join, where the bare name would be ambiguous."""
    def repl(m: "re.Match[str]") -> str:
        word = m.group(0)
        if m.group(1) is None and word.upper() not in _SQL_NON_COLUMN_WORDS:
            return f"{alias}.{word}"
        return word

    return sub_in_code(_BARE_IDENT, repl, expr)


# ---------------------------------------------------------------------------
# Snowflake SAMPLE / TABLESAMPLE
# ---------------------------------------------------------------------------

# Sampling key per engine table (TESTDATA.md). Snowflake's row sampling
# is probabilistic per row; a cross-engine DETERMINISTIC lowering needs a
# per-row value both engines compute identically, so the shim hashes the
# table's key column with exact BIGINT arithmetic (Knuth multiplicative
# step mod 1e9+7 — (key % M) * 2654435761 stays under 2^63 for any
# BIGINT key). Callers can pass their own {table: key_expr} map; key
# expressions must be non-negative integers.
SAMPLE_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "(l_orderkey * 8 + l_linenumber)",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_SAMPLE_RE = re.compile(
    r"(?P<table>[A-Za-z_][\w.]*)\s+"
    r"(?:SAMPLE|TABLESAMPLE)\s+"
    r"(?:(?P<method>BERNOULLI|ROW|SYSTEM|BLOCK)\s+)?"
    r"\(\s*(?P<spec>[^()]*?)\s*\)"
    r"(?:\s+(?:REPEATABLE|SEED)\s*\(\s*(?P<seed>\d+)\s*\))?",
    re.IGNORECASE,
)

_SAMPLE_STOP_WORDS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "JOIN",
    "LEFT", "RIGHT", "INNER", "CROSS", "FULL", "ON", "USING", "UNION",
    "EXCEPT", "INTERSECT", "SAMPLE", "TABLESAMPLE", "SELECT", "FROM",
}


def _sample_hash(key: str, seed: int) -> str:
    return f"(({key} % 1000000007) * 2654435761 + {seed}) % 1000000007"


def rewrite_sample(sql: str, keys: dict[str, str] | None = None) -> str:
    """Lower Snowflake ``<table> SAMPLE [BERNOULLI|ROW] (<spec>)
    [REPEATABLE|SEED (n)]`` (``TABLESAMPLE`` synonym included) to a
    deterministic salted-hash derived table — the x6/x17 sampling
    machinery as a dialect surface, so one Snowflake source string runs
    on this engine AND (because the lowered text is plain ANSI
    arithmetic + ORDER BY/LIMIT) verbatim on DuckDB as the oracle.

    - ``SAMPLE (p)`` / ``SAMPLE BERNOULLI|ROW (p)`` — keep each row
      whose key hash lands under p%% of the 1e6 hash space (p accepts
      up to 4 decimal places, exactly).
    - ``SAMPLE (n ROWS)`` — the n rows with the smallest key hash
      (deterministic top-n, key tiebreak): fixed-size like Snowflake's
      row-count form, ORDER BY + LIMIT in the derived table so Spark
      plans TakeOrderedAndProject, never a global sort of the full
      table.
    - ``REPEATABLE(s)`` / ``SEED(s)`` folds the seed into the hash
      salt. Snowflake redraws per seed; here EVERY run is repeatable
      and the seed selects which repeatable sample.
    - ``SYSTEM`` / ``BLOCK`` (physical page sampling) raise: their
      result depends on storage layout, which no cross-engine rewrite
      can reproduce.

    Purely textual and conservative like the other shims: the table
    must be a bare (possibly dotted) identifier with a registered
    sampling key; an optional ``[AS] alias`` after the clause is
    preserved (else the table's last name component aliases the
    derived table, keeping ``t.col`` references valid). At 100 TB the
    lowered form is a pure projection+filter (percent) or top-n (rows)
    — no shuffle, no RNG state, retry-stable (x6's design notes).
    """
    keymap = SAMPLE_KEYS if keys is None else keys
    out = sql
    while True:
        m = _SAMPLE_RE.search(out)
        if m is None:
            return out
        table = m.group("table")
        method = (m.group("method") or "ROW").upper()
        if table.upper() in _SAMPLE_STOP_WORDS:
            raise ValueError(f"SAMPLE must follow a table name, got {table!r}")
        if method in {"SYSTEM", "BLOCK"}:
            raise ValueError(
                "SAMPLE SYSTEM/BLOCK is storage-layout sampling; this shim"
                " only lowers row sampling (BERNOULLI/ROW) — the engine's"
                " partition-granular block sampler is x25_sample_system"
                " (ManagedTable.read_partitions over hashed block values)"
            )
        base = table.rsplit(".", 1)[-1].lower()
        key = keymap.get(base)
        if key is None:
            raise ValueError(f"no sampling key registered for table {table!r}")
        seed = int(m.group("seed") or 0)
        spec = m.group("spec")
        rows_m = re.fullmatch(r"(\d+)\s+ROWS?", spec, re.IGNORECASE)
        if rows_m:
            n = int(rows_m.group(1))
            derived = (
                f"(SELECT * FROM {table} ORDER BY {_sample_hash(key, seed)},"
                f" {key} LIMIT {n})"
            )
        else:
            from decimal import Decimal, InvalidOperation

            try:
                pct = Decimal(spec)
            except InvalidOperation:
                raise ValueError(f"bad SAMPLE spec: {spec!r}") from None
            if not (0 <= pct <= 100):
                raise ValueError(f"SAMPLE percent out of [0, 100]: {spec!r}")
            bps = pct * 10000
            if bps != bps.to_integral_value():
                raise ValueError(
                    f"SAMPLE percent supports at most 4 decimal places: {spec!r}"
                )
            derived = (
                f"(SELECT * FROM {table}"
                f" WHERE {_sample_hash(key, seed)} % 1000000 < {int(bps)})"
            )
        am = _FLATTEN_ALIAS.match(out, m.end())
        if am is not None and am.group(1).upper() not in _SAMPLE_STOP_WORDS:
            alias, end = am.group(1), am.end()
        else:
            alias, end = base, m.end()
        out = out[: m.start()] + f"{derived} AS {alias}" + out[end:]
_FLATTEN_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z_0-9]*)")


_FLAT_PATH = re.compile(
    r'(?:[A-Za-z_]\w*|"[^"]+")(?:\.(?:[A-Za-z_]\w*|"[^"]+"))*'
)
_FLAT_SEG = re.compile(r'[A-Za-z_]\w*|"[^"]+"')


def _flat_path_to_json_path(path: str) -> str:
    """Render a validated FLATTEN/variant path to Spark's JSON-path
    syntax: bare segments as ``.seg``, ``"quoted"`` segments (r8 —
    keys with spaces/dots/reserved chars) as bracket form ``['seg']``
    (Spark's get_json_object accepts it; DuckDB oracles keep
    Snowflake's ``."seg"`` spelling — both probed byte-identical)."""
    parts = []
    for seg in _FLAT_SEG.findall(path):
        if seg.startswith('"'):
            key = seg[1:-1]
            if "'" in key:
                raise ValueError(
                    f"quoted path segment cannot contain a single quote: {seg!r}"
                )
            parts.append(f"['{key}']")
        else:
            parts.append(f".{seg}")
    return "$" + "".join(parts)


def _parse_flatten_args(
    inner: str,
) -> tuple[str, bool, str | None, str | None, bool]:
    """Parse FLATTEN's named arguments into (input_expr, outer, mode,
    path, recursive).

    Snowflake FLATTEN takes named args (INPUT, PATH, OUTER, RECURSIVE,
    MODE). Arguments are split on TOP-LEVEL commas and dispatched by
    NAME — so ``outer => true`` after ``input =>`` is seen (it used to
    slip past a before-the-first-'=>' scan), and an input expression
    that merely mentions a column like ``recursive_depth`` is NOT
    misread as the RECURSIVE mode (ADVICE r5). ``mode`` accepts
    'ARRAY' / 'OBJECT' / 'BOTH' (None when unspecified — the caller
    picks its documented default: ARRAY for the one-level rewriter,
    BOTH — Snowflake's actual default — for the recursive executor);
    ``path`` accepts a dotted identifier path ('a' / 'a.b.c'), with
    ``"quoted"`` segments for keys containing spaces/dots (r8 — no
    brackets or wildcards); ``recursive => true``
    is returned as a flag (only flatten_recursive_statement executes
    it — the one-level text rewriter refuses)."""
    input_expr: str | None = None
    outer = False
    mode: str | None = None
    path: str | None = None
    recursive = False
    for part in split_top_level(inner, ","):
        part = part.strip()
        if not part:
            continue
        arrow = part.find("=>")
        if arrow < 0:
            raise ValueError(
                "FLATTEN requires named arguments (input => <expr>"
                f" [, outer => true]); got positional: {part!r}"
            )
        name = part[:arrow].strip().lower()
        value = part[arrow + 2:].strip()
        if name == "input":
            input_expr = value
        elif name == "outer":
            flag = value.rstrip(";").strip().lower()
            if flag not in {"true", "false"}:
                raise ValueError(f"FLATTEN OUTER expects TRUE/FALSE, got: {value!r}")
            outer = flag == "true"
        elif name == "mode":
            m = value.rstrip(";").strip().strip("'\"").upper()
            if m not in {"ARRAY", "OBJECT", "BOTH"}:
                raise ValueError(
                    f"FLATTEN MODE supports 'ARRAY'/'OBJECT'/'BOTH', got: {value!r}"
                )
            mode = m
        elif name == "path":
            p = value.rstrip(";").strip()
            if not (len(p) >= 2 and p[0] == p[-1] and p[0] in "'\""):
                raise ValueError(f"FLATTEN PATH expects a quoted path, got: {value!r}")
            p = p[1:-1]
            if not _FLAT_PATH.fullmatch(p):
                raise ValueError(
                    "FLATTEN PATH supports dotted identifier paths with"
                    f" optional \"quoted\" segments ('a.\"b c\".d'); got: {p!r}"
                )
            path = p
        elif name == "recursive":
            flag = value.rstrip(";").strip().lower()
            if flag not in {"true", "false"}:
                raise ValueError(
                    f"FLATTEN RECURSIVE expects TRUE/FALSE, got: {value!r}"
                )
            recursive = flag == "true"
        else:
            raise ValueError(f"unknown FLATTEN argument: {name!r}")
    if input_expr is None:
        raise ValueError("FLATTEN requires the input => <expr> form")
    return input_expr, outer, mode, path, recursive


def rewrite_flatten(sql: str) -> str:
    """Lower Snowflake ``[,] LATERAL FLATTEN(input => <array expr>[,
    outer => true]) f`` to Spark's ``LATERAL VIEW [OUTER]
    posexplode(<expr>) f AS index, value``.

    The lowered alias exposes the two FLATTEN output columns this
    surface supports — ``f.index`` (0-based position, matching
    Snowflake) and ``f.value`` — which is the portion of FLATTEN's
    (SEQ, KEY, PATH, INDEX, VALUE, THIS) row the array-input form
    meaningfully populates. ``OUTER => TRUE`` maps to ``LATERAL VIEW
    OUTER``: both engines emit one (NULL index, NULL value) row for an
    empty or NULL array, which is Snowflake's left-join-like contract.
    ``MODE => 'OBJECT'`` flattens a flat JSON object into (key, value)
    rows via ``explode(from_json(..., 'map<string,string>'))``;
    ``PATH => 'a.b'`` first descends to the named subtree with
    ``get_json_object(<expr>, '$.a.b')`` — in ARRAY mode the subtree
    is parsed as a JSON string array before posexplode (string-element
    arrays render text-identically to Snowflake's VARIANT-to-text; a
    non-string element is out of contract), in OBJECT mode it feeds
    the map explode unchanged; RECURSIVE raises rather than
    mistranslate. Arguments are parsed as name => value
    pairs split on top-level commas, so flag detection keys on
    argument NAMES, never substrings of the input expression. Every
    occurrence is rewritten; the comma Snowflake places before LATERAL
    is dropped (Spark's LATERAL VIEW is clause syntax, not a join
    item).
    """
    out = sql
    while True:
        m = _FLATTEN_HEAD.search(out)
        if m is None:
            return out
        open_idx = out.index("(", m.start() + out[m.start():m.end()].upper().find("FLATTEN"))
        close = balanced_end(out, open_idx)
        inner = out[open_idx + 1:close - 1].strip()
        expr, outer, mode, path, recursive = _parse_flatten_args(inner)
        if recursive:
            raise ValueError(
                "FLATTEN RECURSIVE cannot be lowered to one-level"
                " LATERAL VIEW text — route the statement through"
                " flatten_recursive_statement instead"
            )
        mode = mode or "ARRAY"  # the rewriter's documented default
        if mode == "BOTH":
            raise ValueError(
                "FLATTEN MODE => 'BOTH' requires the recursive executor"
                " (the one-level rewriter lowers ARRAY or OBJECT)"
            )
        if path is not None:
            jp = _flat_path_to_json_path(path)
            # bracket segments carry single quotes — emit those inside
            # a double-quoted SQL literal (segments cannot contain '"')
            lit = f'"{jp}"' if "'" in jp else f"'{jp}'"
            expr = f"get_json_object({expr}, {lit})"
            if mode == "ARRAY":
                # the subtree is JSON text; posexplode needs an array.
                expr = f"from_json({expr}, 'array<string>')"
        am = _FLATTEN_ALIAS.match(out, close)
        if am is None or am.group(1).upper() in {
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY",
            "JOIN", "LEFT", "RIGHT", "INNER", "CROSS", "ON", "UNION",
        }:
            raise ValueError("FLATTEN requires a table alias")
        alias = am.group(1)
        view = "LATERAL VIEW OUTER" if outer else "LATERAL VIEW"
        if mode == "OBJECT":
            # Snowflake's OBJECT flatten emits (KEY, VALUE) per field.
            # Lowering: parse the JSON text as a string map and explode
            # it — scalar values render identically to Snowflake/DuckDB
            # text extraction ('69', 'x', '1.5', 'true', NULL). Flat
            # objects only: a NESTED object value is out of contract
            # (from_json's string map nulls it where VARIANT engines
            # return the subtree text).
            replacement = (
                f" {view} explode(from_json({expr}, 'map<string,string>'))"
                f" {alias} AS key, value"
            )
        else:
            replacement = f" {view} posexplode({expr}) {alias} AS index, value"
        out = out[:m.start()] + replacement + out[am.end():]


def flatten_recursive(
    df, input_col: str, mode: str = "BOTH", max_depth: int = 8
):  # noqa: ANN001
    """Snowflake ``FLATTEN(..., RECURSIVE => TRUE)`` as an engine
    operator over JSON text: emit one row per element at EVERY nesting
    level — compound values (objects/arrays) appear both as rows
    themselves and expanded (Snowflake's documented recursive
    contract). Output columns: the input DataFrame's columns plus
    ``path`` ('meta.et', 'tags[0]' — Snowflake's PATH rendering),
    ``key`` (object key or NULL), ``index`` (array position or NULL)
    and ``value`` (element as text: scalars unquoted, compound values
    as compact JSON — Spark's get_json_object rendering, probed
    byte-identical to DuckDB's json_extract).

    ``mode`` gates expansion like Snowflake: 'BOTH' (the default)
    recurses into objects and arrays, 'OBJECT'/'ARRAY' only into that
    kind. Identifier object keys only (the _FLAT_PATH contract shared
    with PATH =>); keys needing quoting are out of contract.

    Scale shape: the expansion is a FIXED ``max_depth``-deep chain of
    narrow per-row generators (explode over json_object_keys /
    sequence) unioned lazily — no shuffle, no join, and no driver-side
    emptiness probes (levels past the actual nesting depth are empty
    branches Catalyst executes for free). Depth beyond ``max_depth``
    is not expanded — raise it for deeper documents; Snowflake's own
    VARIANT nesting cap is 64."""
    from pyspark.sql import functions as F

    if mode not in {"BOTH", "ARRAY", "OBJECT"}:
        raise ValueError(f"flatten_recursive mode must be BOTH/ARRAY/OBJECT: {mode}")
    base_cols = [c for c in df.columns]
    v = F.col("value")
    trimmed = F.ltrim(v)
    is_obj = trimmed.startswith("{") & F.lit(mode in ("BOTH", "OBJECT"))
    is_arr = trimmed.startswith("[") & F.lit(mode in ("BOTH", "ARRAY"))
    obj_exp = F.transform(
        F.json_object_keys(v),
        lambda k: F.struct(
            k.alias("key"),
            F.lit(None).cast("long").alias("index"),
            F.when(F.col("path") == "", k)
            .otherwise(F.concat(F.col("path"), F.lit("."), k))
            .alias("npath"),
        ),
    )
    arr_exp = F.when(
        F.json_array_length(v) > 0,
        F.transform(
            F.sequence(F.lit(0), F.json_array_length(v) - 1),
            lambda i: F.struct(
                F.lit(None).cast("string").alias("key"),
                i.cast("long").alias("index"),
                F.concat(
                    F.col("path"), F.lit("["), i.cast("string"), F.lit("]")
                ).alias("npath"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<key:string,index:bigint,npath:string>>"))
    expansion = (
        F.when(is_obj, obj_exp)
        .when(is_arr, arr_exp)
        .otherwise(
            F.array().cast("array<struct<key:string,index:bigint,npath:string>>")
        )
    )
    child_value = F.when(
        F.col("e.key").isNotNull(),
        F.expr("get_json_object(value, concat('$.', e.key))"),
    ).otherwise(F.expr("get_json_object(value, concat('$[', e.index, ']'))"))

    frontier = df.select(
        *base_cols,
        F.lit("").alias("path"),
        F.col(input_col).cast("string").alias("value"),
    )
    levels = []
    for _depth in range(1, max_depth + 1):
        child = frontier.select(
            *base_cols, "path", "value", F.explode(expansion).alias("e")
        ).select(
            *base_cols,
            F.col("e.npath").alias("path"),
            F.col("e.key").alias("key"),
            F.col("e.index").alias("index"),
            child_value.alias("value"),
        )
        levels.append(child)
        frontier = child
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def flatten_recursive_statement(spark, text: str):  # noqa: ANN001
    """Execute a Snowflake ``LATERAL FLATTEN(..., RECURSIVE => TRUE)``
    statement VERBATIM against the flatten_recursive operator (the
    asof_dialect pattern: text -> engine operator, since a bounded
    fixpoint cannot be one LATERAL VIEW rewrite).

    Accepted shape (conservative like every shim)::

        SELECT <alias.col [AS name], ...>
        FROM (<subquery>) <ba>, LATERAL FLATTEN(input => <ba>.<col>
             [, recursive => true] [, mode => '...']) <fa>

    The subquery runs against the session's registered views; select
    items must be ``<ba>.<col>`` or ``<fa>.{path|key|index|value}``
    with optional AS. MODE defaults to 'BOTH' here — Snowflake's real
    default, which the recursion makes meaningful (the one-level
    rewriter keeps its documented ARRAY default)."""
    sql = strip_line_comments(text).strip().rstrip(";")
    m = re.search(r"^SELECT\s+(?P<sel>.*?)\s+FROM\s*\(", sql, re.IGNORECASE | re.DOTALL)
    if m is None:
        raise ValueError("flatten_recursive_statement needs SELECT ... FROM (subquery)")
    open_idx = sql.index("(", m.end() - 1)
    close = balanced_end(sql, open_idx)
    subquery = sql[open_idx + 1 : close - 1]
    tail = sql[close:]
    tm = re.match(
        r"\s*(?:AS\s+)?(?P<ba>[A-Za-z_]\w*)\s*,\s*LATERAL\s+FLATTEN\s*\(",
        tail,
        re.IGNORECASE,
    )
    if tm is None:
        raise ValueError(
            "flatten_recursive_statement needs (subquery) <alias>, LATERAL FLATTEN(...)"
        )
    ba = tm.group("ba")
    f_open = close + tm.end() - 1
    f_close = balanced_end(sql, f_open)
    expr, outer, mode, path, recursive = _parse_flatten_args(
        sql[f_open + 1 : f_close - 1]
    )
    if not recursive:
        raise ValueError("statement is not RECURSIVE — use rewrite_flatten")
    if outer or path is not None:
        raise ValueError("RECURSIVE with OUTER/PATH is not supported by this shim")
    am = re.match(r"\s*(?:AS\s+)?(?P<fa>[A-Za-z_]\w*)\s*$", sql[f_close:], re.IGNORECASE)
    if am is None:
        raise ValueError("FLATTEN requires a table alias")
    fa = am.group("fa")
    from pyspark.sql import functions as F

    em = re.fullmatch(rf"{re.escape(ba)}\.([A-Za-z_]\w*)", expr.strip(), re.IGNORECASE)
    if em is None:
        raise ValueError(f"input must be {ba}.<column>, got: {expr!r}")
    base = spark.sql(subquery)
    flat = flatten_recursive(base, em.group(1), mode=mode or "BOTH")
    out_cols = []
    for item in split_top_level(m.group("sel"), ","):
        item = item.strip()
        im = re.fullmatch(
            r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)(?:\s+AS\s+([A-Za-z_]\w*))?",
            item,
            re.IGNORECASE,
        )
        if im is None:
            raise ValueError(f"unsupported select item: {item!r}")
        alias_name, col, out_name = im.group(1), im.group(2), im.group(3)
        if alias_name.lower() == fa.lower():
            if col.lower() not in {"path", "key", "index", "value"}:
                raise ValueError(f"unknown FLATTEN output column: {col!r}")
            col = col.lower()
        elif alias_name.lower() != ba.lower():
            raise ValueError(f"unknown alias in select item: {item!r}")
        out_cols.append(F.col(col).alias(out_name or col))
    return flat.select(*out_cols)


# ---------------------------------------------------------------------------
# Snowflake ASOF JOIN ... MATCH_CONDITION
# ---------------------------------------------------------------------------

_ASOF_RE = re.compile(
    r"SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<lt>[A-Za-z_]\w*)\s+(?P<la>[A-Za-z_]\w*)\s+"
    r"ASOF\s+JOIN\s+(?P<rt>[A-Za-z_]\w*)\s+(?P<ra>[A-Za-z_]\w*)\s+"
    r"MATCH_CONDITION\s*\(\s*(?P<mc>.*?)\s*\)\s+"
    r"ON\s+(?P<on>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ASOF_MC = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(>=|<=|>|<)\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)$"
)
_ASOF_ITEM = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)(?:\s+AS\s+([A-Za-z_]\w*))?$", re.IGNORECASE
)


def asof_dialect(sql: str, tables: dict) -> "DataFrame":  # noqa: F821
    """Execute a Snowflake ``ASOF JOIN ... MATCH_CONDITION`` statement
    VERBATIM against the engine's as-of machinery
    (operators/asof.py:asof_join_directional — union + per-key window,
    one shuffle, zero range explosion).

    Accepted shape (conservative, like the other shims)::

        SELECT <alias.col [AS name], ...>
        FROM <left_table> <la> ASOF JOIN <right_table> <ra>
        MATCH_CONDITION ( la.ts >= ra.ts )       -- or <= for forward
        ON la.k = ra.k [AND ...]

    ``>=`` lowers to the backward (most recent at-or-before) direction,
    ``<=`` to forward; the STRICT forms ``>`` / ``<`` (r8) lower to the
    same windows with the side-marker tie-break swapped, excluding
    equal-ts matches — both Snowflake and DuckDB accept all four
    operators. Unmatched left rows emit NULL right columns
    — Snowflake's documented contract (DuckDB mirrors it as ``ASOF
    LEFT JOIN``). ``tables`` maps table names to DataFrames; right-side
    key/timestamp columns are renamed to the left names internally
    (the operator requires shared names) and mapped back for the
    select list, with the right timestamp exposed via the operator's
    ``matched_ts``.
    """
    from pyspark.sql import functions as _F

    from ..operators.asof import asof_join_directional

    m = _ASOF_RE.search(sql.strip().rstrip(";"))
    if m is None:
        raise ValueError(
            "unsupported ASOF JOIN shape (need SELECT ... FROM l la ASOF "
            "JOIN r ra MATCH_CONDITION (la.ts >= ra.ts) ON la.k = ra.k)"
        )
    la, ra = m.group("la"), m.group("ra")
    mc = _ASOF_MC.match(m.group("mc"))
    if mc is None:
        raise ValueError(f"unsupported MATCH_CONDITION: {m.group('mc')!r}")
    a1, c1, op, a2, c2 = mc.groups()
    if {a1, a2} != {la, ra} or a1 == a2:
        raise ValueError("MATCH_CONDITION must compare the two join sides")
    if a1 == ra:  # normalize to left-side-first
        a1, c1, a2, c2 = a2, c2, a1, c1
        op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}[op]
    strict = op in (">", "<")
    direction = "backward" if op in (">=", ">") else "forward"
    lts, rts = c1, c2
    on_pairs = []
    for clause in re.split(r"\bAND\b", m.group("on"), flags=re.IGNORECASE):
        pm = re.match(
            r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)$",
            clause.strip(),
        )
        if pm is None:
            raise ValueError(f"unsupported ON clause term: {clause.strip()!r}")
        b1, k1, b2, k2 = pm.groups()
        if b1 == ra:
            b1, k1, b2, k2 = b2, k2, b1, k1
        if b1 != la or b2 != ra:
            raise ValueError("ON terms must equate left and right columns")
        on_pairs.append((k1, k2))
    if m.group("lt") not in tables or m.group("rt") not in tables:
        raise KeyError("ASOF tables must be provided in the tables mapping")
    left = tables[m.group("lt")]
    right = tables[m.group("rt")]
    for lk, rk in on_pairs:
        if lk != rk:
            right = right.withColumnRenamed(rk, lk)
    if rts != lts:
        right = right.withColumnRenamed(rts, lts)
    items = [
        _ASOF_ITEM.match(item.strip())
        for item in split_top_level(m.group("sel"), ",")
    ]
    if any(i is None for i in items):
        raise ValueError("ASOF select list supports alias.col [AS name] items")
    keys = [lk for lk, _ in on_pairs]
    payload = []
    for i in items:
        al, col = i.group(1), i.group(2)
        if al == ra and col != rts and col not in dict(on_pairs).values():
            payload.append(col)
    res = asof_join_directional(
        left, right, on=keys, ts_col=lts, payload_cols=payload,
        direction=direction, strict=strict,
    )
    sel = []
    rename_back = {rk: lk for lk, rk in on_pairs}
    for i in items:
        al, col, name = i.group(1), i.group(2), i.group(3)
        if al == la:
            src = _F.col(col)
        elif col == rts:
            src = _F.col("matched_ts")
        elif col in rename_back:
            src = _F.col(rename_back[col])
        else:
            src = _F.col(col)
        sel.append(src.alias(name or col))
    return res.select(*sel)


# ---------------------------------------------------------------------------
# Snowflake GENERATOR / SEQ4 / DATEADD
# ---------------------------------------------------------------------------

_GENERATOR_RE = re.compile(
    r"TABLE\s*\(\s*GENERATOR\s*\(\s*ROWCOUNT\s*=>\s*(\d+)\s*\)\s*\)",
    re.IGNORECASE,
)
_SEQ_RE = re.compile(r"\bSEQ[48]\s*\(\s*\)", re.IGNORECASE)
_DATEADD_HEAD = re.compile(r"\bDATEADD\s*\(", re.IGNORECASE)


def rewrite_generator(sql: str) -> str:
    """Lower Snowflake's row generator idiom — ``FROM
    TABLE(GENERATOR(ROWCOUNT => n))`` with ``SEQ4()``/``SEQ8()``
    counters and ``DATEADD(unit, n, d)`` arithmetic (the date-spine
    recipe every Snowflake warehouse contains) — to Spark SQL:

    - the generator becomes ``(SELECT id AS __gen_seq FROM range(n))``
      (Spark's native lazy range — no data materialized, splits across
      the cluster);
    - ``SEQ4()``/``SEQ8()`` become the ``__gen_seq`` counter (like
      Snowflake, values are the trivial 0..n-1 sequence here);
    - ``DATEADD(day|week|month|quarter|year, <k>, <d>)`` becomes
      ``date_add``/``add_months`` calls (other units refuse; Snowflake
      semantics for these calendar units match Spark's).

    ``GENERATOR(TIMELIMIT => ...)`` refuses — a wall-clock-bounded row
    source is nondeterministic by definition.
    """
    if re.search(r"GENERATOR\s*\(\s*TIMELIMIT", sql, re.IGNORECASE):
        raise ValueError("GENERATOR(TIMELIMIT) is nondeterministic; use ROWCOUNT")
    # literal-aware substitutions (r13, rewriter property battery:
    # 'SEQ4()' as string CONTENT was being rewritten to '__gen_seq')
    out = sub_in_code(
        _GENERATOR_RE,
        lambda m: f"(SELECT id AS __gen_seq FROM range({m.group(1)}))",
        sql,
    )
    out = sub_in_code(_SEQ_RE, lambda m: "__gen_seq", out)
    # DATEADD(unit, k, d) -> date_add / add_months (balanced-paren args)
    da_pos = 0
    while True:
        m = _DATEADD_HEAD.search(out, da_pos)
        if m is None:
            return out
        if not in_code(out, m.start()):
            da_pos = m.end()
            continue
        open_idx = out.index("(", m.start())
        close = balanced_end(out, open_idx)
        args = split_top_level(out[open_idx + 1 : close - 1], ",")
        if len(args) != 3:
            raise ValueError("DATEADD expects (unit, n, date)")
        unit = args[0].strip().strip("'\"").lower()
        k, d = args[1].strip(), args[2].strip()
        if unit == "day":
            repl = f"date_add({d}, CAST({k} AS INT))"
        elif unit == "week":
            repl = f"date_add({d}, CAST(({k}) * 7 AS INT))"
        elif unit == "month":
            repl = f"add_months({d}, CAST({k} AS INT))"
        elif unit == "quarter":
            repl = f"add_months({d}, CAST(({k}) * 3 AS INT))"
        elif unit == "year":
            repl = f"add_months({d}, CAST(({k}) * 12 AS INT))"
        else:
            raise ValueError(f"DATEADD unit {unit!r} is not supported by this shim")
        out = out[: m.start()] + repl + out[close:]


# ---------------------------------------------------------------------------
# Snowflake time travel: AT (TIMESTAMP => ...)
# ---------------------------------------------------------------------------

_AT_TS_RE = re.compile(
    r"FROM\s+([A-Za-z_]\w*)\s+AT\s*\(\s*TIMESTAMP\s*=>\s*'([^']+)'\s*\)",
    re.IGNORECASE,
)

_AT_OFFSET_RE = re.compile(
    r"FROM\s+([A-Za-z_]\w*)\s+AT\s*\(\s*OFFSET\s*=>\s*(-?\d+)\s*\)",
    re.IGNORECASE,
)

_BEFORE_TS_RE = re.compile(
    r"FROM\s+([A-Za-z_]\w*)\s+BEFORE\s*\(\s*TIMESTAMP\s*=>\s*'([^']+)'\s*\)",
    re.IGNORECASE,
)


def parse_time_travel(
    sql: str, now: str | None = None
) -> tuple[str, str, str, bool]:
    """Parse Snowflake's ``FROM <table> AT (TIMESTAMP => '<ts>')``,
    ``AT (OFFSET => -<seconds>)``, or ``BEFORE (TIMESTAMP => '<ts>')``
    time travel clause; returns ``(clean_sql, table, ts, inclusive)``
    where clean_sql has the clause removed. The caller resolves the
    timestamp to a changelog version (Changelog.version_at when
    ``inclusive`` — AT's at-or-before rule — or
    Changelog.version_before when not — BEFORE's strictly-before
    rule), reconstructs the snapshot with snapshot_as_of, registers it
    under the table name, and runs clean_sql.

    ``AT (OFFSET => -n)`` is "the table state n seconds ago": it
    resolves to the absolute timestamp ``now + offset`` (offset must
    be <= 0, as in Snowflake), then time-resolves exactly like the
    TIMESTAMP form — "latest version whose commit stamp <= now - n".
    ``now`` is the injectable statement clock (the F1 convention;
    reference etl_script pipelines stamp current_timestamp the same
    way) and is REQUIRED for the OFFSET form — a wall-clock default
    would make the query nondeterministic.

    ``BEFORE (TIMESTAMP => ...)`` (r8) is the state immediately
    before the given instant — a version committed exactly AT the
    probe timestamp is EXCLUDED (Snowflake's documented AT-vs-BEFORE
    boundary). ``AT(STATEMENT =>)`` / ``BEFORE(STATEMENT =>)``
    refuse: the changelog indexes commit TIMES, and mistranslating a
    statement-id form would silently read the wrong snapshot.
    """
    up = sql.upper()
    if re.search(r"\b(AT|BEFORE)\s*\(\s*STATEMENT", up):
        raise ValueError(
            "STATEMENT-id time travel is not supported; use TIMESTAMP/OFFSET"
        )
    mb = _BEFORE_TS_RE.search(sql)
    if mb is not None:
        table, ts = mb.group(1), mb.group(2)
        clean = sql[: mb.start()] + f"FROM {table}" + sql[mb.end():]
        return clean, table, ts, False
    if re.search(r"\bBEFORE\s*\(", up):
        raise ValueError(
            "unsupported BEFORE(...) form (shim supports"
            " BEFORE (TIMESTAMP => '<ts>'))"
        )
    mo = _AT_OFFSET_RE.search(sql)
    if mo is not None:
        table, off = mo.group(1), int(mo.group(2))
        if off > 0:
            raise ValueError("AT(OFFSET) must be <= 0 (seconds before now)")
        if now is None:
            raise ValueError(
                "AT(OFFSET) needs the statement clock: pass now='<ts>'"
                " (wall-clock would be nondeterministic)"
            )
        import datetime as _dt

        base = _dt.datetime.fromisoformat(now)
        ts = (base + _dt.timedelta(seconds=off)).strftime("%Y-%m-%d %H:%M:%S")
        clean = sql[: mo.start()] + f"FROM {table}" + sql[mo.end():]
        return clean, table, ts, True
    m = _AT_TS_RE.search(sql)
    if m is None:
        raise ValueError(
            "no AT (TIMESTAMP => '...') / AT (OFFSET => -n) /"
            " BEFORE (TIMESTAMP => '...') clause found"
        )
    table, ts = m.group(1), m.group(2)
    clean = sql[: m.start()] + f"FROM {table}" + sql[m.end():]
    return clean, table, ts, True


_UPDATE_RE = re.compile(
    r"^UPDATE\s+(?P<t>[\w.]+)\s+SET\s+(?P<set>.+?)(?:\s+WHERE\s+(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<t>[\w.]+)"
    r"(?:\s+USING\s+(?P<using>[\w.]+(?:\s*,\s*[\w.]+)*))?"
    r"(?:\s+WHERE\s+(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _dml_key(tables: dict, name: str) -> str:
    # resolve by case-insensitive last dotted segment, but REFUSE when
    # two mapping entries share the short name — first-match would
    # silently route the DML to whichever was inserted first (ADVICE
    # r8; mirrors merge_statement's short-name registration posture).
    short = name.split(".")[-1].lower()
    hits = [n for n in tables if n.split(".")[-1].lower() == short]
    if len(hits) > 1:
        raise KeyError(
            f"table name {name!r} is ambiguous in the tables mapping: {sorted(hits)}"
        )
    if hits:
        return hits[0]
    raise KeyError(f"table {name!r} not in the tables mapping")


def _dml_table(tables: dict, name: str):
    return tables[_dml_key(tables, name)]


_DML_HEAD_RE = re.compile(
    r"^(?P<head>MERGE\s+INTO|INSERT\s+OVERWRITE(?:\s+INTO)?|INSERT\s+INTO|"
    r"UPDATE|DELETE\s+FROM)\s+(?P<t>[\w.]+)",
    re.IGNORECASE,
)


def transaction_script(spark, text: str, tables: dict) -> dict:  # noqa: ANN001
    """Run a ``;``-separated DML script with explicit transaction
    blocks — ``BEGIN ... COMMIT`` applies atomically, ``BEGIN ...
    ROLLBACK`` (or an error inside the block) leaves no trace —
    accepted VERBATIM (r9 session 2). Statements dispatch through the
    existing shims (MERGE / INSERT OVERWRITE / INSERT / UPDATE /
    DELETE); inside a block they run against a WORKING COPY of the
    tables mapping that replaces the live mapping only at COMMIT, so a
    statement sees the block's earlier uncommitted writes (read-your-
    writes, Snowflake's in-transaction visibility) while outside
    readers never do. Statements outside any block autocommit
    (Snowflake's AUTOCOMMIT=TRUE default). Nested BEGIN and an
    unterminated block refuse loudly. Returns the final name ->
    DataFrame mapping; the caller owns all writes, as everywhere in
    the statement layer. Plans: each statement's own shim lowering —
    a block adds NO materialization (the working copy holds lazy
    DataFrames; atomicity is mapping-swap, the pl_transaction
    storage-layer protocol's text-level analog)."""
    live = dict(tables)
    working: dict | None = None
    for stmt in split_statements(text):
        stmt = strip_line_comments(stmt).strip()
        if not stmt:
            continue
        low = " ".join(stmt.lower().split())
        if low in ("begin", "begin transaction", "begin work",
                   "start transaction"):
            if working is not None:
                raise ValueError("nested BEGIN is not supported")
            working = dict(live)
            continue
        if low == "commit":
            if working is None:
                raise ValueError("COMMIT outside a transaction block")
            live, working = working, None
            continue
        if low == "rollback":
            if working is None:
                raise ValueError("ROLLBACK outside a transaction block")
            working = None
            continue
        target = live if working is None else working
        m = _DML_HEAD_RE.match(stmt)
        if m is None:
            raise ValueError(
                f"unsupported statement in transaction script: {stmt[:60]!r}"
            )
        key = _dml_key(target, m.group("t"))
        head = " ".join(m.group("head").upper().split())
        if head == "MERGE INTO":
            new = merge_statement(spark, stmt, target)
        elif head.startswith("INSERT OVERWRITE"):
            new = insert_overwrite_statement(spark, stmt, target)
        elif head == "INSERT INTO":
            new = insert_statement(spark, stmt, target)
        elif head == "UPDATE":
            new = update_statement(spark, stmt, target)
        else:
            new = delete_statement(spark, stmt, target)
        target[key] = new
    if working is not None:
        raise ValueError("unterminated transaction block (missing COMMIT/ROLLBACK)")
    return live


def update_statement(spark, text: str, tables: dict):  # noqa: ANN001
    """Execute ``UPDATE <t> SET c = expr[, ...] [WHERE pred]`` verbatim
    (r8): assignments and predicate pass through the scalar dialect
    pack (IFF/DECODE/...), then lower to operators/dml.py:update_where
    — one conditional projection over the table, no join, no shuffle.
    Returns the new table state (the caller owns the overwrite, like
    the other statement shims). A missing WHERE updates every row,
    Snowflake's semantics."""
    from pyspark.sql import functions as F

    from ..operators.dml import update_where

    sql = strip_line_comments(text).strip().rstrip(";")
    m = _UPDATE_RE.match(sql)
    if m is None:
        raise ValueError("unsupported UPDATE shape (UPDATE t SET ... [WHERE ...])")
    df = _dml_table(tables, m.group("t"))
    assignments = {}
    for part in split_top_level(m.group("set"), ","):
        eq = part.find("=")
        if eq < 0:
            raise ValueError(f"SET item needs '=': {part.strip()!r}")
        col = part[:eq].strip()
        if col not in df.columns:
            raise ValueError(f"SET target {col!r} is not a column of the table")
        assignments[col] = F.expr(rewrite_scalar_funcs(part[eq + 1 :].strip()))
    pred = (
        F.expr(rewrite_scalar_funcs(m.group("pred").strip()))
        if m.group("pred")
        else F.lit(True)
    )
    return update_where(df, pred, assignments)


_INSERT_RE = re.compile(
    r"^INSERT\s+INTO\s+(?P<t>[\w.]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<body>VALUES\s*\(.+|SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)


def insert_statement(spark, text: str, tables: dict):  # noqa: ANN001
    """Execute plain ``INSERT INTO <t> [(cols)] VALUES (...)[, ...]``
    or ``INSERT INTO <t> [(cols)] SELECT ...`` verbatim (r8 — the last
    everyday DML statement without a standalone text face; MERGE /
    INSERT OVERWRITE / UPDATE / DELETE / TRUNCATE already have shims).
    The source rows come from Spark's own VALUES table constructor or
    from the lowered SELECT run over the ``tables`` mapping (each
    registered as a view); with a column list, unnamed target columns
    fill with typed NULLs and every provided column casts STRICTLY to
    the target type (the F4 convention — a silent coercion would
    corrupt). Returns the post-insert table state; the caller owns the
    overwrite, like the other statement shims."""
    from pyspark.sql import functions as F

    sql = strip_line_comments(text).strip().rstrip(";")
    m = _INSERT_RE.match(sql)
    if m is None:
        raise ValueError(
            "unsupported INSERT shape (INSERT INTO t [(cols)] VALUES"
            " (...) | SELECT ...)"
        )
    df = _dml_table(tables, m.group("t"))
    body = m.group("body").strip()
    cols = (
        [c.strip() for c in m.group("cols").split(",")]
        if m.group("cols")
        else list(df.columns)
    )
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        raise ValueError(f"INSERT columns not in the table: {unknown}")
    if body.upper().startswith("VALUES"):
        src = spark.sql(
            f"SELECT * FROM {body} AS __v({', '.join(cols)})"
        )
    else:
        for n, d in tables.items():
            d.createOrReplaceTempView(n.split(".")[-1])
        src = spark.sql(lower_select(body))
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT SELECT arity mismatch: {len(src.columns)} vs {len(cols)}"
            )
        src = src.toDF(*cols)
    types = dict(df.dtypes)
    aligned = src.select(
        *[
            (F.col(c).cast(types[c]).alias(c) if c in cols
             else F.lit(None).cast(types[c]).alias(c))
            for c in df.columns
        ]
    )
    return df.unionByName(aligned)


def delete_statement(spark, text: str, tables: dict):  # noqa: ANN001
    """Execute ``DELETE FROM <t> [USING s[, ...]] [WHERE pred]``
    verbatim (r8; USING r13): without USING the predicate lowers
    through the scalar pack to operators/dml.py:delete_where (the
    complement filter, NULL predicates keep the row — SQL's
    three-valued DELETE rule). With USING — Snowflake's join-delete,
    the everyday CDC tombstone apply — a target row is deleted when
    the predicate holds for AT LEAST ONE source-row combination,
    which is exactly ``NOT EXISTS`` on the kept side: Catalyst plans
    it as a LEFT ANTI join (one shuffle on the correlated keys, no
    row multiplication to dedup, source multiplicity irrelevant by
    construction). A missing WHERE empties the table only in the
    plain shape; with USING it deletes rows that have AT LEAST ONE
    source combination (predicate TRUE), so an EMPTY source deletes
    NOTHING — the r13 code truncated unconditionally, a silent
    divergence (ADVICE r13)."""
    from pyspark.sql import functions as F

    from ..operators.dml import delete_where

    sql = strip_line_comments(text).strip().rstrip(";")
    m = _DELETE_RE.match(sql)
    if m is None:
        raise ValueError(
            "unsupported DELETE shape (DELETE FROM t [USING s, ...]"
            " [WHERE ...])"
        )
    df = _dml_table(tables, m.group("t"))
    if not m.group("pred") and not m.group("using"):
        return df.filter(F.lit(False))
    pred = (m.group("pred") or "TRUE").strip()
    if m.group("using"):
        t_short = m.group("t").split(".")[-1]
        df.createOrReplaceTempView(t_short)
        using_names = []
        for s in m.group("using").split(","):
            s = s.strip()
            s_short = s.split(".")[-1]
            if s_short != t_short:
                _dml_table(tables, s).createOrReplaceTempView(s_short)
            using_names.append(s_short)
        return spark.sql(lower_select(
            f"SELECT {t_short}.* FROM {t_short} WHERE NOT EXISTS"
            f" (SELECT 1 FROM {', '.join(using_names)} WHERE ({pred}))"
        ))
    return delete_where(df, F.expr(rewrite_scalar_funcs(pred)))


_CTAS_RE = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?(?P<kind>TABLE|(?:SECURE\s+)?VIEW)\s+"
    r"(?P<name>[\w.]+)\s*"
    r"(?:CLUSTER\s+BY\s*\((?P<cluster>[^)]+)\)\s*)?"
    r"AS\s+(?P<body>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)


def ctas_statement(spark, text: str, tables: dict):  # noqa: ANN001
    """Execute ``CREATE [OR REPLACE] TABLE|[SECURE ]VIEW <name> AS
    SELECT ...`` verbatim (r8): the body runs through the full
    composed lowering over the ``tables`` mapping (each registered as
    a view) and the result comes back as the created relation's
    content — for TABLE the caller owns the materializing write (the
    statement-layer contract), for VIEW the lowered body ALSO
    registers under the view's name so later statements can reference
    it. Snowflake's SECURE modifier parses and is recorded only as
    text here (the masking/row-policy machinery in plans/governance.py
    is the engine's real secured-view surface — pl_secured_view)."""
    sql = strip_line_comments(text).strip().rstrip(";")
    m = _CTAS_RE.match(sql)
    if m is None:
        raise ValueError(
            "unsupported CREATE shape (CREATE [OR REPLACE] TABLE|VIEW"
            " <name> AS SELECT ...)"
        )
    for n, d in tables.items():
        d.createOrReplaceTempView(n.split(".")[-1])
    out = spark.sql(lower_select(m.group("body")))
    if m.group("cluster"):
        # Snowflake CLUSTER BY -> the Spark-native clustering: range-
        # partition the write on the cluster keys and sort within each
        # task, so every output file covers a DISJOINT key range —
        # exactly the property SYSTEM$CLUSTERING_INFORMATION measures
        # (average_overlaps -> 0) and zone-map pruning exploits
        # (operators/zonemap.py reads one file per point lookup). The
        # range partitioner samples, so this is the plan Spark would
        # pick for a sorted write at ANY scale; VIEWs reject the
        # clause (Snowflake clusters tables only).
        if "VIEW" in m.group("kind").upper():
            raise ValueError("CLUSTER BY applies to tables, not views")
        cols = [c.strip() for c in m.group("cluster").split(",")]
        out = out.repartitionByRange(*cols).sortWithinPartitions(*cols)
    if "VIEW" in m.group("kind").upper():
        out.createOrReplaceTempView(m.group("name").split(".")[-1])
    return out


_CHANGES_RE = re.compile(
    r"^SELECT\s+\*\s+FROM\s+(?P<table>[A-Za-z_]\w*)\s+CHANGES\s*\(\s*"
    r"INFORMATION\s*=>\s*(?P<info>DEFAULT|APPEND_ONLY)\s*\)\s+"
    r"AT\s*\(\s*TIMESTAMP\s*=>\s*'(?P<ts>[^']+)'\s*\)\s*$",
    re.IGNORECASE,
)


def changes_statement(spark, text: str, log, changes, keys):  # noqa: ANN001
    """Execute Snowflake's ``SELECT * FROM <t> CHANGES (INFORMATION =>
    DEFAULT | APPEND_ONLY) AT (TIMESTAMP => '<ts>')`` verbatim (r8) —
    the table-function form of streams: DEFAULT returns the NET row
    delta between the table state at the AT point and now;
    APPEND_ONLY follows Snowflake's journal-based contract (rows
    inserted then deleted in the interval still surface, re-inserts
    count) — both with METADATA$ACTION / METADATA$ISUPDATE columns.
    The AT timestamp resolves through the same stamped-version index
    as time travel (Changelog.version_at); the diff is
    streaming/changelog.py:table_changes. ``log``/``changes``/``keys``
    bind the engine changelog exactly as the AT/BEFORE executors do."""
    m = _CHANGES_RE.match(strip_line_comments(text).strip().rstrip(";"))
    if m is None:
        raise ValueError(
            "unsupported CHANGES shape (need SELECT * FROM <t> CHANGES"
            " (INFORMATION => DEFAULT|APPEND_ONLY) AT (TIMESTAMP => '<ts>'))"
        )
    from ..streaming.changelog import table_changes

    v_from = log.version_at(m.group("ts"))
    return table_changes(
        changes,
        keys,
        v_from,
        log.version,
        append_only=m.group("info").upper() == "APPEND_ONLY",
    )


# ---------------------------------------------------------------------------
# Snowflake MERGE INTO statement text
# ---------------------------------------------------------------------------

_MERGE_HEAD = re.compile(
    r"MERGE\s+INTO\s+(?P<target>[\w.]+)\s+USING\s+", re.IGNORECASE
)
_MERGE_WHEN = re.compile(r"WHEN\s+(?P<neg>NOT\s+)?MATCHED\b", re.IGNORECASE)


def merge_statement(
    spark, text: str, tables: dict, defaults: dict | None = None
) -> "DataFrame":  # noqa: F821
    """Execute a Snowflake ``MERGE INTO`` statement VERBATIM and return
    the post-merge target state as a DataFrame — the reference
    pipeline's central statement (customer-...sql:77-110,
    item-...sql:71-104, order/dim variants) accepted as raw text.

    Accepted shape (the reference's plus the CDC-apply extensions —
    conservative like every shim): ``MERGE INTO <t> USING
    <s>|(<subquery>) [AS] <alias> ON <equi-cond chain>`` followed by
    WHEN clauses in any Snowflake order:

    - ``WHEN MATCHED [AND <cond>] THEN UPDATE SET tgt.c = expr, ...``
      (at most one)
    - ``WHEN MATCHED [AND <cond>] THEN DELETE`` (at most one — the
      delete-flag half of the canonical CDC apply)
    - ``WHEN NOT MATCHED [AND <cond>] THEN INSERT (cols) VALUES
      (exprs)`` (exactly one)

    Clause ORDER is Snowflake's evaluation order: for a matched row
    the first clause whose predicate holds fires; later matched
    clauses are guarded by the cumulative negation of earlier ones. A
    NULL predicate fires nothing (the row is kept unchanged), matching
    Snowflake's three-valued WHEN semantics.

    Lowering: the statement compiles to the engine's MERGE state
    equation (operators/merge.py posture) as ONE Spark SQL text over
    temp views — matched/kept rows from a LEFT JOIN with CASE per SET
    column and a NOT-fired filter for DELETE, inserted rows from a
    LEFT ANTI JOIN with the VALUES exprs (unnamed target columns
    NULL-typed) — so the user's expressions run exactly as written,
    current_timestamp() and all. Names: every
    table in ``tables`` registers under its LAST dotted component (the
    reference's own references are short names); the source must be
    unique per key chain (Snowflake's nondeterministic-merge contract;
    the reference dedups with rownum=1 upstream). Scale shape is the
    MERGE operator's: one keyed join + one anti join, broadcastable
    batch side, no row multiplication.

    Snowflake fidelity extras: every SET / VALUES expression is CAST
    to the target column's type (Snowflake's implicit insert casts —
    the A3/F4 posture, ANSI-strict so garbage errors instead of
    corrupting), and ``defaults`` supplies DDL column defaults (SQL
    expr text) for insert columns the statement leaves unnamed — the
    reference dim tables fill added/updated timestamps this way
    (customer-...sql DDL defaults; pass a frozen literal for the F1
    injectable clock).
    """
    sql = strip_line_comments(text).strip().rstrip(";")
    short = {name: name.split(".")[-1] for name in tables}
    for name, s in short.items():
        if name != s:
            sql = re.sub(rf"\b{re.escape(name)}\b", s, sql, flags=re.IGNORECASE)

    hm = _MERGE_HEAD.search(sql)
    if hm is None:
        raise ValueError("not a MERGE INTO statement")
    tname = short.get(hm.group("target"), hm.group("target").split(".")[-1])
    i = hm.end()
    while sql[i].isspace():
        i += 1
    if sql[i] == "(":
        close = balanced_end(sql, i)
        subquery = sql[i + 1 : close - 1]
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", sql[close:], re.IGNORECASE)
        if am is None:
            raise ValueError("MERGE USING (subquery) requires an alias")
        sname, after_src = am.group(1), close + am.end()
    else:
        sm = re.match(r"([\w.]+)(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?", sql[i:], re.IGNORECASE)
        subquery = None
        src_table = short.get(sm.group(1), sm.group(1).split(".")[-1])
        sname = sm.group(2) or src_table
        after_src = i + sm.end()
    on_m = re.match(r"\s*ON\s+", sql[after_src:], re.IGNORECASE)
    if on_m is None:
        raise ValueError("MERGE requires an ON clause")
    cond_start = after_src + on_m.end()
    whens = [m for m in _MERGE_WHEN.finditer(sql) if m.start() >= cond_start]
    if not whens:
        raise ValueError("MERGE requires at least one WHEN clause")
    cond = sql[cond_start : whens[0].start()].strip()

    # Parse each WHEN clause: [AND <pred>] THEN <action>. The clause
    # predicate ends at the first top-level THEN (a CASE ... THEN
    # inside an unparenthesized predicate is out of contract).
    update_clause = None  # (order_idx, pred, set_text)
    delete_clause = None  # (order_idx, pred)
    insert_clause = None  # (pred, cols, vals)
    matched_preds: list[str | None] = []  # in clause order
    for ci, w in enumerate(whens):
        end = whens[ci + 1].start() if ci + 1 < len(whens) else len(sql)
        body = sql[w.end() : end]
        then_at = find_keyword(body, "THEN")
        if then_at < 0:
            raise ValueError("WHEN clause missing THEN")
        pre = body[:then_at].strip()
        pred: str | None = None
        if pre:
            am = re.match(r"AND\s+(?P<c>.+)$", pre, re.IGNORECASE | re.DOTALL)
            if am is None:
                raise ValueError(f"unsupported WHEN qualifier: {pre!r}")
            pred = am.group("c").strip()
        action = body[then_at + len("THEN") :].strip().rstrip(";").strip()
        if w.group("neg"):
            im = re.match(r"INSERT\s*\(", action, re.IGNORECASE)
            if im is None:
                raise ValueError("WHEN NOT MATCHED supports only INSERT (cols)")
            if insert_clause is not None:
                raise ValueError("at most one WHEN NOT MATCHED INSERT clause")
            cols_close = balanced_end(action, im.end() - 1)
            insert_cols = [
                c.strip()
                for c in split_top_level(action[im.end() : cols_close - 1], ",")
            ]
            vm = re.match(r"\s*VALUES\s*\(", action[cols_close:], re.IGNORECASE)
            if vm is None:
                raise ValueError("INSERT requires a VALUES (...) list")
            v_open = cols_close + vm.end() - 1
            v_close = balanced_end(action, v_open)
            insert_vals = [
                v.strip()
                for v in split_top_level(action[v_open + 1 : v_close - 1], ",")
            ]
            if len(insert_cols) != len(insert_vals):
                raise ValueError("INSERT column/value count mismatch")
            insert_clause = (pred, insert_cols, insert_vals)
        else:
            um = re.match(r"UPDATE\s+SET\s+", action, re.IGNORECASE)
            if um is not None:
                if update_clause is not None:
                    raise ValueError("at most one WHEN MATCHED UPDATE clause")
                update_clause = (len(matched_preds), pred, action[um.end() :])
            elif re.fullmatch(r"DELETE", action, re.IGNORECASE):
                if delete_clause is not None:
                    raise ValueError("at most one WHEN MATCHED DELETE clause")
                delete_clause = (len(matched_preds), pred)
            else:
                raise ValueError(
                    f"WHEN MATCHED supports UPDATE SET / DELETE, got: {action[:40]!r}"
                )
            matched_preds.append(pred)
    if insert_clause is None:
        raise ValueError("shim requires a WHEN NOT MATCHED THEN INSERT clause")
    insert_pred, insert_cols, insert_vals = insert_clause

    def _fire(order_idx: int, pred: str | None) -> str:
        """The clause's fire condition in Snowflake evaluation order:
        its own predicate AND the negation of every EARLIER matched
        clause's predicate (an earlier unconditional clause shadows)."""
        parts = []
        for p in matched_preds[:order_idx]:
            parts.append("FALSE" if p is None else f"NOT COALESCE(({p}), FALSE)")
        parts.append("TRUE" if pred is None else f"COALESCE(({pred}), FALSE)")
        return " AND ".join(parts)

    set_map: dict[str, str] = {}
    if update_clause is not None:
        for part in split_top_level(update_clause[2], ","):
            part = part.strip()
            if not part:
                continue
            eq = part.find("=")
            lhs = part[:eq].strip()
            col = lhs.split(".")[-1].lower()
            set_map[col] = part[eq + 1 :].strip()

    # source-side null-probe for the match flag (keys are non-null by
    # the merge contract)
    first = split_top_level(cond.replace(" AND ", ","), ",")[0]
    sides = [s.strip() for s in first.split("=")]
    probe = next(
        (s for s in sides if s.split(".")[0].lower() == sname.lower()), sides[-1]
    )

    target_df = next(df for n, df in tables.items() if short[n] == tname)
    target_df.createOrReplaceTempView(tname)
    for n, df in tables.items():
        if short[n] != tname:
            df.createOrReplaceTempView(short[n])
    if subquery is not None:
        # resolve the subquery's plan against the CURRENT views first,
        # THEN bind the result under the alias — the reference aliases
        # its dedup subquery with the SAME name as the stage view it
        # reads (item-...sql:75 `as stg_item_stm`), so registering by
        # text would self-reference
        src_df = spark.sql(subquery)
        src_df.createOrReplaceTempView(sname)
    else:
        src_df = next(df for n, df in tables.items() if short[n] == src_table)
        if sname.lower() != src_table.lower():
            spark.sql(
                f"CREATE OR REPLACE TEMP VIEW {sname} AS SELECT * FROM {src_table}"
            )

    out_cols = target_df.schema
    matched_sel = []
    insert_sel = []
    vals_by_col = {c.lower(): v for c, v in zip(insert_cols, insert_vals)}
    dflt = {k.lower(): v for k, v in (defaults or {}).items()}
    matched_flag = f"{probe} IS NOT NULL"
    update_fire = (
        f"{matched_flag} AND {_fire(update_clause[0], update_clause[1])}"
        if update_clause is not None
        else None
    )
    for f in out_cols.fields:
        c = f.name
        typ = f.dataType.simpleString()
        if c.lower() in set_map:
            matched_sel.append(
                f"CASE WHEN {update_fire} THEN"
                f" CAST(({set_map[c.lower()]}) AS {typ})"
                f" ELSE {tname}.{c} END AS {c}"
            )
        else:
            matched_sel.append(f"{tname}.{c} AS {c}")
        if c.lower() in vals_by_col:
            insert_sel.append(f"CAST(({vals_by_col[c.lower()]}) AS {typ}) AS {c}")
        elif c.lower() in dflt:
            insert_sel.append(f"CAST(({dflt[c.lower()]}) AS {typ}) AS {c}")
        else:
            insert_sel.append(f"CAST(NULL AS {typ}) AS {c}")
    kept_where = ""
    if delete_clause is not None:
        delete_fire = f"{matched_flag} AND {_fire(delete_clause[0], delete_clause[1])}"
        kept_where = f" WHERE NOT COALESCE(({delete_fire}), FALSE)"
    insert_where = (
        f" WHERE COALESCE(({insert_pred}), FALSE)" if insert_pred is not None else ""
    )
    final = (
        f"SELECT {', '.join(matched_sel)} FROM {tname}"
        f" LEFT JOIN {sname} ON {cond}{kept_where}"
        f" UNION ALL "
        f"SELECT {', '.join(insert_sel)} FROM {sname}"
        f" LEFT ANTI JOIN {tname} ON {cond}{insert_where}"
    )
    out = spark.sql(final)
    # the RESOLVED source relation (post any dedup subquery) — callers
    # recording CDC need the rows the statement actually applied, not
    # the pre-dedup stream (the sql25/26 script runtime's changes=)
    out._merge_source = src_df
    return out


# ---------------------------------------------------------------------------
# Snowflake INSERT OVERWRITE INTO ... SELECT statement text
# ---------------------------------------------------------------------------

_INSERT_OVERWRITE_RE = re.compile(
    r"INSERT\s+OVERWRITE\s+INTO\s+(?P<target>[\w.]+)\s*\(", re.IGNORECASE
)


def insert_overwrite_statement(spark, text: str, tables: dict) -> "DataFrame":  # noqa: F821
    """Execute a Snowflake ``INSERT OVERWRITE INTO <t> (cols)
    SELECT ...`` statement VERBATIM and return the SELECT's result with
    columns renamed positionally to the insert list — the reference's
    fact-rebuild statement shape (order-...sql:176-209, the M3
    INSERT OVERWRITE + O1 trailing ORDER BY). The caller owns the
    actual overwrite (ManagedTable.overwrite — M3's atomic swap);
    returning the relation keeps the shim pure and driver-checkable.

    Tables in ``tables`` register under their last dotted component
    (reference references mix qualified and bare names); ``--``
    comments anywhere in the statement are stripped (the reference's
    commented-out join residual, order-...sql:203). Snowflake maps
    SELECT items to the insert columns BY POSITION — so does this.
    """
    sql = strip_line_comments(text).strip().rstrip(";")
    short = {name: name.split(".")[-1] for name in tables}
    for name, s in short.items():
        if name != s:
            sql = re.sub(rf"\b{re.escape(name)}\b", s, sql, flags=re.IGNORECASE)
    m = _INSERT_OVERWRITE_RE.search(sql)
    if m is None:
        raise ValueError("not an INSERT OVERWRITE INTO ... (cols) SELECT statement")
    close = balanced_end(sql, m.end() - 1)
    cols = [c.strip() for c in split_top_level(sql[m.end() : close - 1], ",")]
    select = sql[close:].strip()
    if not re.match(r"SELECT\b", select, re.IGNORECASE):
        raise ValueError("INSERT OVERWRITE requires a SELECT body")
    for name, df in tables.items():
        df.createOrReplaceTempView(short[name])
    out = spark.sql(select)
    if len(out.columns) != len(cols):
        raise ValueError(
            f"insert list has {len(cols)} columns, SELECT produces {len(out.columns)}"
        )
    return out.toDF(*cols)


# ---------------------------------------------------------------------------
# Snowflake CREATE PIPE ... AS COPY INTO DDL text
# ---------------------------------------------------------------------------

_PIPE_DDL_RE = re.compile(
    r"CREATE\s+OR\s+REPLACE\s+PIPE\s+(?P<name>[\w.]+)\s+"
    r"(?:AUTO_INGEST\s*=\s*(?P<auto>TRUE|FALSE)\s+)?AS\s+"
    r"COPY\s+INTO\s+(?P<table>[\w.]+)\s+"
    r"FROM\s+@(?P<stage>[\w./]+)\s*"
    r"(?:FILE_FORMAT\s*=\s*\((?P<fmt>[^)]*)\))?",
    re.IGNORECASE | re.DOTALL,
)


def parse_pipe_ddl(text: str) -> dict:
    """Parse Snowflake ``CREATE OR REPLACE PIPE ... AS COPY INTO ...
    FROM @stage/path FILE_FORMAT = (...)`` DDL (the reference's ingest
    entry point, customer-...sql:51-56) into its components:
    ``{name, auto_ingest, table, stage_path, format_options}``. The
    caller binds them to the engine's Pipe (sources/pipe.py — the
    manifest-tracked idempotent COPY + pause/resume/status surface S3/
    S4 already drive). Inline format options parse as key=value pairs;
    ``type='CSV'``, ``skip_header=1`` and
    ``error_on_column_count_mismatch=false`` map onto the named CSV
    format's existing translation (sources/csv_format.py docstring);
    other types pass through to FileFormat. Refuses on missing COPY
    INTO body rather than guessing."""
    sql = strip_line_comments(text).strip().rstrip(";")
    m = _PIPE_DDL_RE.search(sql)
    if m is None:
        raise ValueError(
            "unsupported PIPE DDL shape (need CREATE OR REPLACE PIPE <n>"
            " [AUTO_INGEST=TRUE] AS COPY INTO <t> FROM @<stage>"
            " [FILE_FORMAT = (...)])"
        )
    fmt_opts: dict[str, str] = {}
    for part in split_top_level(m.group("fmt") or "", ","):
        part = part.strip()
        if not part:
            continue
        eq = part.find("=")
        if eq < 0:
            raise ValueError(f"bad FILE_FORMAT option: {part!r}")
        fmt_opts[part[:eq].strip().lower()] = part[eq + 1 :].strip().strip("'\"")
    return {
        "name": m.group("name"),
        "auto_ingest": (m.group("auto") or "FALSE").upper() == "TRUE",
        "table": m.group("table"),
        "stage_path": m.group("stage"),
        "format_options": fmt_opts,
    }


# ---------------------------------------------------------------------------
# Snowflake CREATE TASK DDL text
# ---------------------------------------------------------------------------

_TASK_DDL_RE = re.compile(
    r"CREATE\s+OR\s+REPLACE\s+TASK\s+(?P<name>[\w.]+)\s+"
    r"(?:WAREHOUSE\s*=\s*(?P<wh>\w+)\s+)?"
    r"(?:SCHEDULE\s*=\s*'(?P<sched>[^']*)'\s+)?"
    r"(?:AFTER\s+(?P<after>[\w.]+)\s+)?"
    r"(?:WHEN\s+(?P<whennot>NOT\s+)?"
    r"SYSTEM\$STREAM_HAS_DATA\s*\(\s*'(?P<stream>[^']+)'\s*\)\s+)?"
    r"AS\s+(?P<body>.*?)(?=;\s*(?:CREATE\s+OR\s+REPLACE\s+TASK\b|\Z)|\Z)",
    re.IGNORECASE | re.DOTALL,
)


def parse_task_ddls(text: str) -> list[dict]:
    """Parse one or more Snowflake ``CREATE OR REPLACE TASK`` DDLs (the
    reference's orchestration layer, e.g. customer-...sql:62-180) into
    ``{name, warehouse, schedule, after, when_stream, when_negated,
    body, body_kind}`` dicts — the T3/T4 surface (schedule + AFTER
    chain + WHEN stream gate, including the order script's negated
    ``when not system$stream_has_data`` resume guard,
    order-...sql:226-227) as text. ``body_kind`` classifies the statement
    the engine dispatches to: ``merge_into`` (merge_statement),
    ``insert_overwrite`` (insert_overwrite_statement), ``alter_pipe``
    / ``pipe_force_resume`` (sources/pipe.py pause/force_resume),
    ``truncate`` (ManagedTable.truncate), else ``other``. DDLs are
    split on the ``;`` that precedes the next CREATE TASK, so merge
    bodies with no inner semicolons pass through verbatim."""
    out = []
    for m in _TASK_DDL_RE.finditer(strip_line_comments(text)):
        body = m.group("body").strip().rstrip(";").strip()
        up = body.upper()
        if up.startswith("MERGE INTO"):
            kind = "merge_into"
        elif up.startswith("INSERT OVERWRITE"):
            kind = "insert_overwrite"
        elif "PIPE_EXECUTION_PAUSED" in up:
            kind = "alter_pipe"
        elif "SYSTEM$PIPE_FORCE_RESUME" in up:
            kind = "pipe_force_resume"
        elif up.startswith("TRUNCATE"):
            kind = "truncate"
        else:
            kind = "other"
        out.append(
            {
                "name": m.group("name"),
                "warehouse": m.group("wh"),
                "schedule": m.group("sched"),
                "after": m.group("after"),
                "when_stream": m.group("stream"),
                "when_negated": m.group("whennot") is not None,
                "body": body,
                "body_kind": kind,
            }
        )
    if not out:
        raise ValueError("no CREATE OR REPLACE TASK statements found")
    return out


# ---------------------------------------------------------------------------
# Snowflake CREATE STREAM DDL text
# ---------------------------------------------------------------------------

_STREAM_DDL_RE = re.compile(
    r"CREATE\s+OR\s+REPLACE\s+STREAM\s+(?P<name>[\w.]+)\s+"
    r"ON\s+TABLE\s+(?P<table>[\w.]+)",
    re.IGNORECASE,
)


def parse_stream_ddls(text: str) -> list[dict]:
    """Parse Snowflake ``CREATE OR REPLACE STREAM <s> ON TABLE <t>``
    DDLs (the reference's CDC declarations, customer-...sql:48-49,
    item-...sql:40-41, order-...sql:66-67) into ``{name, table}``
    dicts. The caller binds each to the engine's changelog on the
    named table (streaming/changelog.py — T1/T2); the stream's own
    name is the natural consumer id, since a Snowflake stream IS one
    advancing offset over its source table's change log."""
    out = [
        {"name": m.group("name"), "table": m.group("table")}
        for m in _STREAM_DDL_RE.finditer(strip_line_comments(text))
    ]
    if not out:
        raise ValueError("no CREATE OR REPLACE STREAM statements found")
    return out


# ---------------------------------------------------------------------------
# Snowflake scalar-function dialect pack
# ---------------------------------------------------------------------------


def _dd_day(a: str, b: str) -> str:
    return f"date_diff(CAST(({b}) AS DATE), CAST(({a}) AS DATE))"


def _chr_rewrite(name: str, args: list) -> str:
    """CHR/CHAR(n): Unicode code point -> character via the UTF-32
    identity encoding (Spark's chr is mod-256 ASCII — silent garbage
    past 255). Out-of-range code points refuse loudly; Java's UTF-32
    decoder would substitute U+FFFD silently. The surrogate block
    U+D800-U+DFFF is equally undecodable (Java yields U+FFFD for it
    too), so it joins the loud-refusal arm (ADVICE r13)."""
    if len(args) != 1:
        return _bad(name, args)
    x = args[0]
    return (
        f"(CASE WHEN ({x}) < 0 OR ({x}) > 1114111"
        f" OR (({x}) BETWEEN 55296 AND 57343) THEN"
        f" raise_error(concat('{name}: Unicode code point out of"
        f" range (or surrogate): ', CAST({x} AS STRING)))"
        f" ELSE decode(unhex(lpad(hex({x}), 8, '0')), 'UTF-32') END)"
    )


# ---------------------------------------------------------------------------
# MINHASH sketch family (r13) — Snowflake's MINHASH(k, ...) /
# MINHASH_COMBINE(state) / APPROXIMATE_SIMILARITY(state) lowered to
# declarative aggregate compositions over an array<bigint> register
# state. Snowflake's hash is engine-internal (its estimates are
# hash-draw-dependent there too); this engine uses its PORTABLE
# md5-derived 60-bit register hash (operators/sketches.md5_hash64's
# SQL spelling) so DuckDB oracles replay registers bit-exactly. The
# state is the bare k-register array, not Snowflake's versioned OBJECT
# wrapper — states interoperate within this engine only, the same
# caveat Snowflake documents across its own sketch versions.
# ---------------------------------------------------------------------------

# k aggregate buffers and k md5 calls per row are the inherent minhash
# cost; past 256 registers the generated expression (and each group's
# shuffle payload) stops being reasonable — refuse, don't crawl.
_MINHASH_MAX_K = 256


def _minhash_reg_hash(seed: int, value_expr: str) -> str:
    """Register hash: first 15 md5 hex chars parsed base-16 (60-bit,
    non-negative) of ``'<seed>:' || value`` — the exact SQL twin of
    operators/sketches.sql_md5_hash64."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}:', {value_expr})),"
        " 1, 15), 16, 10) AS BIGINT)"
    )


def _minhash_rewrite(args: list[str]) -> str:
    """``MINHASH(k, e1[, e2...])`` (aggregate) -> ``array(min(h0),
    ..., min(h(k-1)))``: k seeded register mins, exactly
    operators/dedup.py:_signatures_from_sets' shape. Whole-stage
    codegen with map-side partial mins — the shuffle carries k longs
    per group, never raw values. k must be a literal (Snowflake's own
    contract: a constant 2..1024; this engine caps at 256)."""
    if len(args) < 2:
        return _bad("MINHASH", args)
    try:
        k = int(args[0].strip())
    except ValueError:
        raise ValueError(
            "MINHASH(k, ...): k must be a literal integer constant"
        ) from None
    if not 2 <= k <= _MINHASH_MAX_K:
        raise ValueError(
            f"MINHASH k={k} out of range: 2..{_MINHASH_MAX_K}"
            " (k registers = k aggregate buffers and k hashes per row)"
        )
    vals = [f"CAST({a} AS STRING)" for a in args[1:]]
    value = vals[0] if len(vals) == 1 else (
        "concat(" + ", '|', ".join(vals) + ")"
    )
    mins = ", ".join(
        f"min({_minhash_reg_hash(i, value)})" for i in range(k)
    )
    return f"array({mins})"


# Register-wise min over the group's states. collect_list ships each
# group's STATES (k longs apiece, sketch-sized, never raw data) — the
# same bounded-state shape as the k4 HLL register union. CASE (not
# least/greatest) keeps this head-rewriter output from re-matching the
# null-poisoning LEAST lowering on a later scan.
_MINHASH_COMBINE_TMPL = (
    "aggregate(collect_list({s}), CAST(NULL AS ARRAY<BIGINT>),"
    " (__mh_acc, __mh_x) -> CASE WHEN __mh_acc IS NULL THEN __mh_x"
    " ELSE zip_with(__mh_acc, __mh_x, (__ma, __mb) ->"
    " CASE WHEN __ma < __mb THEN __ma ELSE __mb END) END)"
)


def _minhash_combine_rewrite(args: list[str]) -> str:
    """``MINHASH_COMBINE(state)`` (aggregate): merged state = register-
    wise min — combine(minhash(A), minhash(B)) == minhash(A UNION B)
    exactly, the property the k11 oracle pins."""
    if len(args) != 1:
        return _bad("MINHASH_COMBINE", args)
    return _MINHASH_COMBINE_TMPL.format(s=args[0])


def _approx_similarity_rewrite(name: str, args: list[str]) -> str:
    """``APPROXIMATE_SIMILARITY(state)`` / ``APPROXIMATE_JACCARD_
    INDEX(state)`` (aggregate over >=2 state rows): the standard
    k-way minhash Jaccard estimator — the fraction of registers on
    which ALL states agree, i.e. where the register-wise min equals
    the register-wise max. k is read from the state itself (size), so
    no literal is needed here."""
    if len(args) != 1:
        return _bad(name, args)
    mn = _MINHASH_COMBINE_TMPL.format(s=args[0])
    mx = (
        f"aggregate(collect_list({args[0]}), CAST(NULL AS ARRAY<BIGINT>),"
        " (__mh_acc, __mh_x) -> CASE WHEN __mh_acc IS NULL THEN __mh_x"
        " ELSE zip_with(__mh_acc, __mh_x, (__ma, __mb) ->"
        " CASE WHEN __ma > __mb THEN __ma ELSE __mb END) END)"
    )
    return (
        f"(CAST(size(filter(zip_with({mn}, {mx},"
        " (__sa, __sb) -> __sa <=> __sb), __sp -> __sp)) AS DOUBLE)"
        f" / CAST(size({mn}) AS DOUBLE))"
    )


_SCALAR_REWRITES = {
    "IFF": lambda args: (
        f"CASE WHEN {args[0]} THEN {args[1]} ELSE {args[2]} END"
        if len(args) == 3
        else _bad("IFF", args)
    ),
    "NVL2": lambda args: (
        f"CASE WHEN ({args[0]}) IS NOT NULL THEN {args[1]} ELSE {args[2]} END"
        if len(args) == 3
        else _bad("NVL2", args)
    ),
    # ---- everyday-scalar pack 2 (r11): spellings the probe battery
    # showed were passing through the rewriter UNMAPPED and dying in
    # Spark's analyzer — worse than a refusal. Each lowers to exact
    # built-in compositions; the two with no faithful equivalent
    # (JAROWINKLER_SIMILARITY, OBJECT_INSERT/DELETE) refuse loudly.
    "TRUNCATE": lambda args: _numeric_trunc_rewrite("TRUNCATE", args),
    "TRUNC": lambda args: _numeric_trunc_rewrite("TRUNC", args),
    "LAST_DAY": lambda args: _last_day_rewrite(args),
    "UUID_STRING": lambda args: (
        "uuid()" if not args or args == [""] else _bad("UUID_STRING", args)
    ),
    # Snowflake SEQn are SIGNED n-byte integers: the wrap past the
    # positive max goes NEGATIVE (127 -> -128 for SEQ1), so a plain
    # unsigned pmod would emit 128..255 — values Snowflake can never
    # produce — and never the negative half it does. Two's-complement
    # wrap: pmod(id + 2^(8n-1), 2^(8n)) - 2^(8n-1). SEQ8 is the full
    # 64-bit id (BIGINT arithmetic already wraps two's-complement).
    "SEQ1": lambda args: (
        "(pmod(monotonically_increasing_id() + 128, 256) - 128)"
    ),
    "SEQ2": lambda args: (
        "(pmod(monotonically_increasing_id() + 32768, 65536) - 32768)"
    ),
    "SEQ4": lambda args: (
        "(pmod(monotonically_increasing_id() + 2147483648,"
        " 4294967296) - 2147483648)"
    ),
    "SEQ8": lambda args: "monotonically_increasing_id()",
    # Snowflake RANDOM([seed]) returns a 64-BIT INTEGER — Spark's
    # native random() is a float, a silent type-contract divergence
    # for RANDOM() % n arithmetic. Seeded form: one seed per query,
    # like Snowflake's per-row-varying seeded stream.
    "RANDOM": lambda args: (
        "CAST((rand() * 2.0 - 1.0) * 9.223372036854775E18 AS BIGINT)"
        if not args or args == [""]
        else (
            f"CAST((rand({args[0]}) * 2.0 - 1.0)"
            f" * 9.223372036854775E18 AS BIGINT)"
            if len(args) == 1
            else _bad("RANDOM", args)
        )
    ),
    # Snowflake HASH(...) is a 64-bit stable hash — Spark's native
    # hash() is 32-bit murmur; xxhash64 keeps the width contract
    # (values are engine-specific in Snowflake too, never portable).
    "HASH": lambda args: (
        f"xxhash64({', '.join(args)})" if args and args != [""]
        else _bad("HASH", args)
    ),
    # 2-arg form: max_line_length 0 = no wrapping (Spark's only mode);
    # nonzero wrapping refuses rather than emitting unwrapped silently
    "BASE64_ENCODE": lambda args: (
        f"base64(CAST({args[0]} AS BINARY))"
        if len(args) == 1
        or (len(args) == 2 and args[1].strip() == "0")
        else (_ for _ in ()).throw(ValueError(
            "BASE64_ENCODE(input, max_line_length): Spark's base64"
            " never wraps lines — only max_line_length = 0 is lowered"
        )) if len(args) == 2
        else _bad("BASE64_ENCODE", args)
    ),
    "BASE64_DECODE_STRING": lambda args: (
        f"CAST(unbase64({args[0]}) AS STRING)"
        if len(args) == 1
        else _bad("BASE64_DECODE_STRING", args)
    ),
    "BASE64_DECODE_BINARY": lambda args: (
        f"unbase64({args[0]})"
        if len(args) == 1
        else _bad("BASE64_DECODE_BINARY", args)
    ),
    "HEX_ENCODE": lambda args: (
        f"hex({args[0]})" if len(args) == 1 else _bad("HEX_ENCODE", args)
    ),
    "HEX_DECODE_STRING": lambda args: (
        f"CAST(unhex({args[0]}) AS STRING)"
        if len(args) == 1
        else _bad("HEX_DECODE_STRING", args)
    ),
    "HEX_DECODE_BINARY": lambda args: (
        f"unhex({args[0]})"
        if len(args) == 1
        else _bad("HEX_DECODE_BINARY", args)
    ),
    "MD5_HEX": lambda args: (
        f"md5({args[0]})" if len(args) == 1 else _bad("MD5_HEX", args)
    ),
    "SHA1_HEX": lambda args: (
        f"sha1({args[0]})" if len(args) == 1 else _bad("SHA1_HEX", args)
    ),
    "JAROWINKLER_SIMILARITY": lambda args: (_ for _ in ()).throw(
        ValueError(
            "JAROWINKLER_SIMILARITY has no Spark built-in; use the"
            " engine's jaro_winkler_pairs operator (operators/"
            "analysis.py, the x28 registry entry — q-gram-blocked"
            " candidates scored by the standard DP, DuckDB-exact), or"
            " EDITDISTANCE (lowered to levenshtein) for inline use"
        )
    ),
    # DIV0 / DIV0NULL (probe battery 4, r12): Snowflake's most common
    # safe-division idioms. The CASE keeps ANSI division-by-zero from
    # raising (lazy branch), exactly Snowflake's contract: 0 on a zero
    # (DIV0) or zero-or-NULL (DIV0NULL) divisor, a/b otherwise.
    "DIV0": lambda args: (
        f"(CASE WHEN ({args[1]}) = 0 THEN 0"
        f" ELSE ({args[0]}) / ({args[1]}) END)"
        if len(args) == 2
        else _bad("DIV0", args)
    ),
    "DIV0NULL": lambda args: (
        f"(CASE WHEN ({args[1]}) = 0 OR ({args[1]}) IS NULL THEN 0"
        f" ELSE ({args[0]}) / ({args[1]}) END)"
        if len(args) == 2
        else _bad("DIV0NULL", args)
    ),
    "REGEXP_SUBSTR_ALL": lambda args: _regexp_substr_all_rewrite(args),
    "INITCAP": lambda args: _initcap_rewrite(args),
    # MINHASH sketch family (r13, VERDICT r12 #5) — lowered onto the
    # same register shape as operators/dedup.py's signature builder.
    "MINHASH": lambda args: _minhash_rewrite(args),
    "MINHASH_COMBINE": lambda args: _minhash_combine_rewrite(args),
    "APPROXIMATE_SIMILARITY": lambda args: _approx_similarity_rewrite(
        "APPROXIMATE_SIMILARITY", args
    ),
    "APPROXIMATE_JACCARD_INDEX": lambda args: _approx_similarity_rewrite(
        "APPROXIMATE_JACCARD_INDEX", args
    ),
    "STRTOK": lambda args: _strtok_rewrite("STRTOK", args),
    "STRTOK_TO_ARRAY": lambda args: _strtok_rewrite("STRTOK_TO_ARRAY", args),
    "INSERT": lambda args: (
        # INSERT(base, pos, len, repl): replace len chars at 1-based pos
        f"concat(substr({args[0]}, 1, ({args[1]}) - 1), {args[3]},"
        f" substr({args[0]}, ({args[1]}) + ({args[2]})))"
        if len(args) == 4
        else _bad("INSERT", args)
    ),
    "OBJECT_INSERT": lambda args: (_ for _ in ()).throw(
        ValueError(
            "OBJECT_INSERT over an OPAQUE json-text VARIANT cannot be"
            " lowered losslessly (each remaining value's type — string"
            " vs number vs nested — is unrecoverable from extracted"
            " text at re-serialization); it IS lowered compositionally"
            " when the base object is an inline"
            " OBJECT_CONSTRUCT[_KEEP_NULL](...) expression"
        )
    ),
    "OBJECT_DELETE": lambda args: (_ for _ in ()).throw(
        ValueError(
            "OBJECT_DELETE over an OPAQUE json-text VARIANT cannot be"
            " lowered losslessly; it IS lowered compositionally when"
            " the base object is an inline"
            " OBJECT_CONSTRUCT[_KEEP_NULL](...) expression"
        )
    ),
    "OBJECT_PICK": lambda args: (_ for _ in ()).throw(
        ValueError(
            "OBJECT_PICK over an OPAQUE json-text VARIANT cannot be"
            " lowered losslessly; it IS lowered compositionally when"
            " the base object is an inline"
            " OBJECT_CONSTRUCT[_KEEP_NULL](...) expression"
        )
    ),
    "CHECK_JSON": lambda args: (
        # Snowflake: NULL if valid/NULL input, an error string if not.
        # The message is a deterministic constant here (Snowflake's
        # parser prose is not reproducible) — documented divergence.
        f"(CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS STRING)"
        f" WHEN try_parse_json({args[0]}) IS NULL THEN 'invalid JSON'"
        f" ELSE CAST(NULL AS STRING) END)"
        if len(args) == 1
        else _bad("CHECK_JSON", args)
    ),
    "PARSE_URL": lambda args: _parse_url_rewrite(args),
    "BOOLXOR": lambda args: (
        f"((({args[0]}) <> 0) <> (({args[1]}) <> 0))"
        if len(args) == 2
        else _bad("BOOLXOR", args)
    ),
    "BOOLNOT": lambda args: (
        f"(({args[0]}) = 0)" if len(args) == 1 else _bad("BOOLNOT", args)
    ),
    # three-valued OR/AND over the <> 0 truth map — Snowflake's NULL
    # rules fall out of SQL semantics (NULL OR TRUE = TRUE,
    # NULL OR FALSE = NULL, dually for AND)
    "BOOLOR": lambda args: (
        f"((({args[0]}) <> 0) OR (({args[1]}) <> 0))"
        if len(args) == 2
        else _bad("BOOLOR", args)
    ),
    "BOOLAND": lambda args: (
        f"((({args[0]}) <> 0) AND (({args[1]}) <> 0))"
        if len(args) == 2
        else _bad("BOOLAND", args)
    ),
    "HLL": lambda args: (
        f"approx_count_distinct({', '.join(args)})"
        if len(args) >= 1
        else _bad("HLL", args)
    ),
    "VARIANCE_POP": lambda args: (
        f"var_pop({args[0]})" if len(args) == 1 else _bad("VARIANCE_POP", args)
    ),
    "VARIANCE_SAMP": lambda args: (
        f"var_samp({args[0]})"
        if len(args) == 1
        else _bad("VARIANCE_SAMP", args)
    ),
    "ZEROIFNULL": lambda args: (
        f"coalesce({args[0]}, 0)" if len(args) == 1 else _bad("ZEROIFNULL", args)
    ),
    "NULLIFZERO": lambda args: (
        f"nullif({args[0]}, 0)" if len(args) == 1 else _bad("NULLIFZERO", args)
    ),
    "LEN": lambda args: (
        f"length({args[0]})" if len(args) == 1 else _bad("LEN", args)
    ),
    # ---- conversion pack (r8; format strings r9). TO_NUMBER/
    # TO_DECIMAL default to NUMBER(38, 0) — Snowflake's documented
    # default precision/scale; TRY_ variants null out instead of
    # erroring (Spark try_cast). Format strings translate through a
    # strict element table (_sf_datetime_format_to_spark /
    # _sf_number_format): any element without an exact Spark
    # equivalent refuses loudly — a mistranslated format would corrupt
    # silently (Spark's pattern letters differ: Snowflake YYYY/DD/MI
    # are Spark yyyy/dd/mm; passing Snowflake text through unmapped
    # would parse week-years and day-of-year).
    "TO_NUMBER": lambda args: _to_number_rewrite("TO_NUMBER", "cast", args),
    "TO_DECIMAL": lambda args: _to_number_rewrite("TO_DECIMAL", "cast", args),
    "TRY_TO_NUMBER": lambda args: _to_number_rewrite(
        "TRY_TO_NUMBER", "try_cast", args
    ),
    "TRY_TO_DECIMAL": lambda args: _to_number_rewrite(
        "TRY_TO_DECIMAL", "try_cast", args
    ),
    "TO_DATE": lambda args: _to_datetime_rewrite(
        "TO_DATE", args, as_date=True, try_=False
    ),
    "TO_TIMESTAMP": lambda args: _to_datetime_rewrite(
        "TO_TIMESTAMP", args, as_date=False, try_=False
    ),
    "TO_TIMESTAMP_NTZ": lambda args: _to_datetime_rewrite(
        "TO_TIMESTAMP_NTZ", args, as_date=False, try_=False
    ),
    "TRY_TO_DATE": lambda args: _to_datetime_rewrite(
        "TRY_TO_DATE", args, as_date=True, try_=True
    ),
    "TRY_TO_TIMESTAMP": lambda args: _to_datetime_rewrite(
        "TRY_TO_TIMESTAMP", args, as_date=False, try_=True
    ),
    # TO_CHAR/TO_VARCHAR: 1-arg = string cast; 2-arg datetime format
    # -> date_format with the translated pattern (numeric 9/0-padding
    # output formats refuse — no exact Spark equivalent)
    "TO_CHAR": lambda args: _to_char_rewrite("TO_CHAR", args),
    "TO_VARCHAR": lambda args: _to_char_rewrite("TO_VARCHAR", args),
    # ---- everyday scalar pack (r9): the functions real Snowflake ETL
    # uses constantly that Spark either lacks or names differently.
    # DATEADD lowers to `expr + INTERVAL` so the INPUT TYPE is
    # preserved exactly like Snowflake (DATE + months stays DATE,
    # DATE + hours promotes to TIMESTAMP; month-end clamps match).
    "DATEADD": lambda args: _dateadd_rewrite("DATEADD", args),
    "TIMEADD": lambda args: _dateadd_rewrite("TIMEADD", args),
    "TIMESTAMPADD": lambda args: _dateadd_rewrite("TIMESTAMPADD", args),
    # Snowflake CHARINDEX(needle, hay[, start]) = Spark locate
    "CHARINDEX": lambda args: (
        f"locate({', '.join(args)})"
        if len(args) in (2, 3)
        else _bad("CHARINDEX", args)
    ),
    # Snowflake EDITDISTANCE(a, b[, max_distance]): the 3-arg form
    # CAPS the result at max_distance (a negative/zero cap returns 0).
    # Spark's levenshtein(a, b, threshold) is the right physical plan
    # (banded DP, early exit — the 100 TB path for long documents) but
    # returns -1 when exceeded, so the lowering maps -1 back to the
    # cap; the NULL guard is explicit because Spark's least()/coalesce
    # would otherwise swallow a NULL input into the cap value.
    "EDITDISTANCE": lambda args: (
        f"levenshtein({args[0]}, {args[1]})"
        if len(args) == 2
        else (
            f"CASE WHEN ({args[0]}) IS NULL OR ({args[1]}) IS NULL"
            f" OR ({args[2]}) IS NULL THEN CAST(NULL AS INT)"
            f" WHEN ({args[2]}) <= 0 THEN 0"
            f" ELSE coalesce(nullif(levenshtein({args[0]}, {args[1]},"
            f" CAST({args[2]} AS INT)), -1), CAST({args[2]} AS INT)) END"
            if len(args) == 3
            else _bad("EDITDISTANCE", args)
        )
    ),
    # Snowflake returns 3-letter English abbreviations
    "DAYNAME": lambda args: (
        f"date_format({args[0]}, 'EEE')" if len(args) == 1 else _bad("DAYNAME", args)
    ),
    "MONTHNAME": lambda args: (
        f"date_format({args[0]}, 'MMM')"
        if len(args) == 1
        else _bad("MONTHNAME", args)
    ),
    # Spark's boolean cast accepts Snowflake's t/f/y/n/yes/no/true/
    # false/0/1 set EXCEPT on/off — intercept those, cast the rest of
    # the ORIGINAL expression (numeric nonzero -> true rides the cast)
    "TO_BOOLEAN": lambda args: _to_boolean_rewrite("cast", args),
    "TRY_TO_BOOLEAN": lambda args: _to_boolean_rewrite("try_cast", args),
    # ---- array pack (r9): the Snowflake array functions whose names
    # or SEMANTICS differ from Spark's. Same-name/same-semantics ones
    # (ARRAY_DISTINCT, ARRAY_EXCEPT, ARRAYS_OVERLAP, ARRAY_MAX/MIN)
    # pass through untouched.
    "ARRAY_CAT": lambda args: (
        f"concat({args[0]}, {args[1]})"
        if len(args) == 2
        else _bad("ARRAY_CAT", args)
    ),
    # Snowflake ARRAYS_ZIP returns an array of '$1'..'$n'-keyed
    # OBJECTS padded with nulls to the LONGEST input — Spark's
    # arrays_zip returns source-named structs, a different shape, so
    # it zips explicitly (r15; closes the r14 edge-tier refusal)
    "ARRAYS_ZIP": lambda args: _arrays_zip_rewrite(args),
    # Snowflake: 0-based from, EXCLUSIVE to, negatives from the end;
    # Spark slice is 1-based (start, length) with negative start from
    # the end — the CASE keeps both sign conventions exact
    "ARRAY_SLICE": lambda args: (
        f"slice({args[0]}, CASE WHEN ({args[1]}) >= 0 THEN ({args[1]}) + 1"
        f" ELSE ({args[1]}) END, ({args[2]}) - ({args[1]}))"
        if len(args) == 3
        else _bad("ARRAY_SLICE", args)
    ),
    # Snowflake renders NULL elements as EMPTY STRING (Spark's default
    # array_join SKIPS them — the third argument restores fidelity)
    "ARRAY_TO_STRING": lambda args: (
        f"array_join({args[0]}, {args[1]}, '')"
        if len(args) == 2
        else _bad("ARRAY_TO_STRING", args)
    ),
    "ARRAY_COMPACT": lambda args: (
        f"filter({args[0]}, x -> x IS NOT NULL)"
        if len(args) == 1
        else _bad("ARRAY_COMPACT", args)
    ),
    # Snowflake: (element, array), 0-BASED, NULL when absent; Spark:
    # (array, element), 1-based, 0 when absent
    "ARRAY_POSITION": lambda args: (
        f"(nullif(array_position({args[1]}, {args[0]}), 0) - 1)"
        if len(args) == 2
        else _bad("ARRAY_POSITION", args)
    ),
    # Snowflake's ARRAY_INTERSECTION / ARRAY_EXCEPT are MULTISET
    # operations (x kept min(m,n) / max(m-n,0) times) — Spark's
    # array_intersect/array_except DEDUPLICATE, a silent divergence
    # for duplicate-bearing arrays (probe battery 6). Exact lowering:
    # keep the k-th occurrence of x iff k <= / > count(x in other),
    # via one indexed filter (null-safe <=>; O(n^2) per row over
    # row-local arrays — the arrays are lambda-bound columns, no
    # recompute hazard).
    "ARRAY_INTERSECTION": lambda args: (
        f"filter({args[0]}, (x, i) ->"
        f" size(filter(slice({args[0]}, 1, i + 1), y -> y <=> x))"
        f" <= size(filter({args[1]}, y -> y <=> x)))"
        if len(args) == 2
        else _bad("ARRAY_INTERSECTION", args)
    ),
    "ARRAY_EXCEPT": lambda args: (
        f"filter({args[0]}, (x, i) ->"
        f" size(filter(slice({args[0]}, 1, i + 1), y -> y <=> x))"
        f" > size(filter({args[1]}, y -> y <=> x)))"
        if len(args) == 2
        else _bad("ARRAY_EXCEPT", args)
    ),
    # Snowflake ARRAY_INSERT is 0-BASED (Spark's native is 1-based —
    # passing through was a silent off-by-one); non-negative
    # positions shift by one, negative positions refuse (the two
    # engines' from-the-end conventions disagree in a way no shift
    # reconciles).
    "ARRAY_INSERT": lambda args: (
        f"(CASE WHEN ({args[1]}) < 0 THEN"
        f" raise_error('ARRAY_INSERT: negative positions are not"
        f" lowered (Snowflake and Spark count from the end"
        f" differently)') ELSE"
        f" array_insert({args[0]}, ({args[1]}) + 1, {args[2]}) END)"
        if len(args) == 3
        else _bad("ARRAY_INSERT", args)
    ),
    # ARRAY_REMOVE_AT: 0-based position; negative counts from the
    # end; out-of-range returns the array unchanged (Snowflake's
    # documented rule). concat of the two surrounding slices.
    "ARRAY_REMOVE_AT": lambda args: (
        (
            lambda a, p: (
                f"(CASE WHEN ({a}) IS NULL OR ({p}) IS NULL THEN NULL"
                f" WHEN (CASE WHEN ({p}) < 0 THEN size({a}) + ({p})"
                f" ELSE ({p}) END) < 0"
                f" OR (CASE WHEN ({p}) < 0 THEN size({a}) + ({p})"
                f" ELSE ({p}) END) >= size({a}) THEN {a}"
                f" ELSE concat("
                f"slice({a}, 1, CASE WHEN ({p}) < 0 THEN size({a}) + ({p})"
                f" ELSE ({p}) END),"
                f" slice({a}, (CASE WHEN ({p}) < 0 THEN size({a}) + ({p})"
                f" ELSE ({p}) END) + 2,"
                f" size({a}))) END)"
            )
        )(args[0], args[1])
        if len(args) == 2
        else _bad("ARRAY_REMOVE_AT", args)
    ),
    # VARIANT = JSON-text OBJECT_KEYS (document order, both engines)
    "OBJECT_KEYS": lambda args: (
        f"json_object_keys({args[0]})"
        if len(args) == 1
        else _bad("OBJECT_KEYS", args)
    ),
    # JSON null -> SQL NULL (r13, probe battery 9); any other variant
    # passes through. Path extractions already map JSON null to SQL
    # NULL (get_json_object's rule), so the top-level literal 'null'
    # is the one case left.
    "STRIP_NULL_VALUE": lambda args: (
        f"(CASE WHEN CAST({args[0]} AS STRING) = 'null' THEN NULL"
        f" ELSE {args[0]} END)"
        if len(args) == 1
        else _bad("STRIP_NULL_VALUE", args)
    ),
    # VARIANT = JSON text (the sql30/sql34 contract): PARSE_JSON is
    # the identity on already-JSON text, TO_VARIANT of a scalar is its
    # JSON rendering
    "PARSE_JSON": lambda args: (
        f"({args[0]})" if len(args) == 1 else _bad("PARSE_JSON", args)
    ),
    # scalar-safe VARIANT encoding: to_json rejects scalar input, so
    # wrap in a 1-element array and strip exactly one bracket per end
    # (substr, not btrim/regex — btrim over-strips nested arrays and
    # SQL literals eat regex backslashes). Structs/arrays round-trip
    # identically to plain to_json; scalars become JSON scalars
    # ('"a"', '1') — the engine's JSON-text VARIANT convention (f30).
    # ---- probe battery 3 (r11): timestamp aliases, console context
    # functions, order-independent aggregate hashing
    "SYSDATE": lambda args: "current_timestamp()",
    "GETDATE": lambda args: "current_timestamp()",
    "SYSTIMESTAMP": lambda args: "current_timestamp()",
    # TIME-of-day family (r14, VERDICT r13 #5): Spark 4.1 ships a
    # native TIME type behind spark.sql.timeType.enabled — the engine
    # turns it on (session.py; register_views/snowflake_sql set it on
    # caller-provided sessions), so TO_TIME lowers onto to_time()
    # instead of the old loud refusal. The 1-arg AUTO form extracts
    # the HH[:MM[:SS[.fff]]] run from the RENDERED value so timestamps
    # and timestamp strings yield their time-of-day like Snowflake;
    # garbage extracts '' and to_time('') raises (CANNOT_PARSE_TIME —
    # loud, never a silent midnight). AM/PM inputs refuse with
    # format-argument guidance in BOTH forms: Snowflake's AUTO parses
    # them, this extraction would silently drop the meridiem.
    "TO_TIME": lambda args: _to_time_rewrite("TO_TIME", args, try_=False),
    "TRY_TO_TIME": lambda args: _to_time_rewrite(
        "TRY_TO_TIME", args, try_=True
    ),
    # order-independent content hash of the group (Snowflake's exact
    # hash value is proprietary; this engine's contract matches —
    # deterministic, order- and partitioning-independent, equal
    # multisets hash equal): wrap-free decimal SUM of per-row
    # xxhash64, folded back to 64 bits. SUM (not XOR) so duplicate
    # row pairs cannot cancel.
    "HASH_AGG": lambda args: (
        f"CAST(pmod(sum(CAST(xxhash64({', '.join(args)})"
        f" AS DECIMAL(38,0))), CAST(9223372036854775807"
        f" AS DECIMAL(38,0))) AS BIGINT)"
        if args and args != [""]
        else _bad("HASH_AGG", args)
    ),
    # deterministic spelling of Snowflake's arbitrary-order result
    "ARRAY_UNIQUE_AGG": lambda args: (
        f"sort_array(array_distinct(collect_list({args[0]})))"
        if len(args) == 1
        else _bad("ARRAY_UNIQUE_AGG", args)
    ),
    # console context functions: honest engine-local values — no
    # virtual warehouse or named session exists (NULL, exactly what
    # Snowflake returns when none is bound), the default role is
    # PUBLIC, version is the real engine version
    "CURRENT_WAREHOUSE": lambda args: "CAST(NULL AS STRING)",
    "CURRENT_SESSION": lambda args: "CAST(NULL AS STRING)",
    "CURRENT_ROLE": lambda args: "'PUBLIC'",
    "CURRENT_REGION": lambda args: "'LOCAL'",
    "CURRENT_VERSION": lambda args: "version()",
    "ENCRYPT": lambda args: (_ for _ in ()).throw(
        ValueError("ENCRYPT: no cipher surface in Spark SQL expressions;"
                   " encrypt at the storage layer")
    ),
    "DECRYPT": lambda args: (_ for _ in ()).throw(
        ValueError("DECRYPT: no cipher surface in Spark SQL expressions")
    ),
    "TO_VARIANT": lambda args: (
        f"substr(to_json(array({args[0]})), 2,"
        f" length(to_json(array({args[0]}))) - 2)"
        if len(args) == 1
        else _bad("TO_VARIANT", args)
    ),
    "ARRAYS_TO_OBJECT": lambda args: (
        f"to_json(map_from_arrays({args[0]}, {args[1]}))"
        if len(args) == 2
        else _bad("ARRAYS_TO_OBJECT", args)
    ),
    # GET_IGNORE_CASE (r12 s4 — closes the refusal): resolve the
    # actual key case-insensitively from json_object_keys (FIRST
    # match in document order — Snowflake documents the multi-match
    # pick as arbitrary, this engine pins it deterministic), then
    # extract through a DYNAMIC bracket-quoted path — Spark's
    # get_json_object accepts non-foldable paths, and the
    # '$[''key'']' form survives dots/spaces in keys. Same text-out
    # convention as GET / the ':' path operator (scalars unquoted,
    # compound values compact JSON). try_element_at keeps the
    # no-match case NULL under ANSI; NULL/non-object inputs
    # propagate NULL exactly like Snowflake. A matched key that
    # itself contains a quote cannot be spelled in the path — loud
    # runtime refusal rather than a silent NULL.
    "GET_IGNORE_CASE": lambda args: (
        (
            lambda obj, key: (
                f"get_json_object({obj}, concat('$[''',"
                f" CASE WHEN try_element_at(filter(json_object_keys({obj}),"
                f" k -> lower(k) = lower({key})), 1) LIKE '%''%'"
                f" THEN raise_error('GET_IGNORE_CASE: matched key"
                f" contains a quote — not spellable in a JSON path')"
                f" ELSE try_element_at(filter(json_object_keys({obj}),"
                f" k -> lower(k) = lower({key})), 1) END, ''']'))"
            )
        )(args[0], args[1])
        if len(args) == 2
        else _bad("GET_IGNORE_CASE", args)
    ),
    "REGEXP_EXTRACT_ALL": lambda args: (
        f"regexp_extract_all({args[0]}, {args[1]}, 0)"
        if len(args) == 2
        else (
            f"regexp_extract_all({', '.join(args)})"
            if len(args) == 3
            else _bad("REGEXP_EXTRACT_ALL", args)
        )
    ),
    # Snowflake CHR/CHAR is the UNICODE code point -> character;
    # Spark's same-named natives are mod-256 ASCII (chr(9731) = '\x03'
    # silently — probe battery 9). UTF-32 is the code point identity
    # encoding, so unhex(lpad(hex(n))) decoded as UTF-32 is exact for
    # the whole range incl. astral planes; out-of-range refuses like
    # Snowflake (Java's decoder would emit U+FFFD silently).
    "CHR": lambda args: _chr_rewrite("CHR", args),
    "CHAR": lambda args: _chr_rewrite("CHAR", args),
    # TRY_ decode family (r13): NULL on invalid input via
    # try_to_binary; the non-TRY forms keep their strict lowerings
    "TRY_BASE64_DECODE_STRING": lambda args: (
        f"decode(try_to_binary({args[0]}, 'base64'), 'UTF-8')"
        if len(args) == 1
        else _bad("TRY_BASE64_DECODE_STRING", args)
    ),
    "TRY_HEX_DECODE_STRING": lambda args: (
        f"decode(try_to_binary({args[0]}, 'hex'), 'UTF-8')"
        if len(args) == 1
        else _bad("TRY_HEX_DECODE_STRING", args)
    ),
    "TRY_BASE64_DECODE_BINARY": lambda args: (
        f"try_to_binary({args[0]}, 'base64')"
        if len(args) == 1
        else _bad("TRY_BASE64_DECODE_BINARY", args)
    ),
    "TRY_HEX_DECODE_BINARY": lambda args: (
        f"try_to_binary({args[0]}, 'hex')"
        if len(args) == 1
        else _bad("TRY_HEX_DECODE_BINARY", args)
    ),
    # MD5 halves as unsigned 64-bit integers (Snowflake's NUMBER
    # carries u64; BIGINT cannot) — conv() is exact through 64 bits
    # and DECIMAL(20,0) holds the unsigned range
    "MD5_NUMBER_LOWER64": lambda args: (
        f"CAST(conv(substring(md5({args[0]}), 17, 16), 16, 10)"
        " AS DECIMAL(20,0))"
        if len(args) == 1
        else _bad("MD5_NUMBER_LOWER64", args)
    ),
    "MD5_NUMBER_UPPER64": lambda args: (
        f"CAST(conv(substring(md5({args[0]}), 1, 16), 16, 10)"
        " AS DECIMAL(20,0))"
        if len(args) == 1
        else _bad("MD5_NUMBER_UPPER64", args)
    ),
    "UNICODE": lambda args: (
        f"ascii({args[0]})" if len(args) == 1 else _bad("UNICODE", args)
    ),
    "TO_DOUBLE": lambda args: (
        f"CAST({args[0]} AS DOUBLE)"
        if len(args) == 1
        else _bad("TO_DOUBLE", args)
    ),
    "TRY_TO_DOUBLE": lambda args: (
        f"try_cast({args[0]} AS DOUBLE)"
        if len(args) == 1
        else _bad("TRY_TO_DOUBLE", args)
    ),
    # ISO week-year via the Thursday rule (Spark forbids week-year
    # letters in its formatter); this engine runs the ISO week policy
    # throughout, so YEAROFWEEK == YEAROFWEEKISO (defined in the
    # calendar pack below — r13 removed a duplicate dict key here
    # that silently shadowed this one; both spellings agreed on all
    # dates, but a dict literal must not carry duplicate keys).
    "YEAROFWEEK": lambda args: (
        f"year(date_add(CAST(date_trunc('WEEK', {args[0]}) AS DATE), 3))"
        if len(args) == 1
        else _bad("YEAROFWEEK", args)
    ),
    # Snowflake *_FROM_PARTS NORMALIZE out-of-range components
    # (month 14 -> next year's February; day 0 -> last day of the
    # prior month) — make_date errors instead, so build from an
    # anchor + exact month/day arithmetic
    "DATE_FROM_PARTS": lambda args: (
        f"date_add(add_months(make_date({args[0]}, 1, 1),"
        f" ({args[1]}) - 1), ({args[2]}) - 1)"
        if len(args) == 3
        else _bad("DATE_FROM_PARTS", args)
    ),
    "TIMESTAMP_FROM_PARTS": lambda args: _timestamp_from_parts(
        "TIMESTAMP_FROM_PARTS", args
    ),
    "TIMESTAMP_NTZ_FROM_PARTS": lambda args: _timestamp_from_parts(
        "TIMESTAMP_NTZ_FROM_PARTS", args
    ),
    # Snowflake documents out-of-range parts as ROLLING OVER (minute
    # 120 -> 2 hours; negative seconds roll backward) — Spark's
    # make_time range-checks, so the lowering normalizes to
    # microseconds-past-midnight first (pmod handles the negative
    # direction exactly like Snowflake's backward roll).
    "TIME_FROM_PARTS": lambda args: _time_from_parts_rewrite(args),
    "NORMAL": lambda args: (
        # gaussian generator; the gen argument (RANDOM()) selects
        # Snowflake's stream — Spark's randn() is the one stream
        f"(({args[0]}) + ({args[1]}) * randn())"
        if len(args) == 3
        else _bad("NORMAL", args)
    ),
    "UNIFORM": lambda args: (
        f"uniform({args[0]}, {args[1]})"
        if len(args) == 3
        else _bad("UNIFORM", args)
    ),
    "RTRIMMED_LENGTH": lambda args: (
        f"length(rtrim({args[0]}))"
        if len(args) == 1
        else _bad("RTRIMMED_LENGTH", args)
    ),
    # codec family (r14 — replaces the r8 refusals): real zlib/bz2
    # stream formats via Arrow-batched pandas UDFs registered by
    # register_views/snowflake_sql (functions/codecs.py). zstd/snappy
    # refuse at rewrite time when the method is a literal (their libs
    # are absent in this environment — the multimodal gate posture).
    "COMPRESS": lambda args: _codec_call_rewrite(
        "COMPRESS", "__sf_compress", args
    ),
    "DECOMPRESS_STRING": lambda args: _codec_call_rewrite(
        "DECOMPRESS_STRING", "__sf_decompress_string", args
    ),
    "DECOMPRESS_BINARY": lambda args: _codec_call_rewrite(
        "DECOMPRESS_BINARY", "__sf_decompress_binary", args
    ),
    "TO_GEOGRAPHY": lambda args: (_ for _ in ()).throw(
        ValueError("TO_GEOGRAPHY: geospatial types are not supported"
                   " by this engine")
    ),
    "TO_GEOMETRY": lambda args: (_ for _ in ()).throw(
        ValueError("TO_GEOMETRY: geospatial types are not supported"
                   " by this engine")
    ),
    # GET_PATH(v, 'a.b') is the function form of v:a.b
    "GET_PATH": lambda args: _get_path_rewrite(args),
    # Snowflake's argument order is (value, array) — Spark's is
    # (array, value). Lowered to array_position > 0 (same truth table
    # incl. NULL value -> NULL) — emitting Spark's own array_contains
    # would re-match this case-insensitive head and never converge.
    "ARRAY_CONTAINS": lambda args: (
        f"(array_position({args[1]}, {args[0]}) > 0)"
        if len(args) == 2
        else _bad("ARRAY_CONTAINS", args)
    ),
    "ARRAY_SIZE": lambda args: (
        f"size({args[0]})" if len(args) == 1 else _bad("ARRAY_SIZE", args)
    ),
    # TO_ARRAY dispatches on the RUNTIME type (array -> identity,
    # scalar -> one-element array) — Spark expressions are statically
    # typed, so no single lowering covers both without silently
    # wrapping arrays one level deeper. Refuse with the split.
    "TO_ARRAY": lambda args: (_ for _ in ()).throw(ValueError(
        "TO_ARRAY cannot dispatch on runtime type in statically-typed"
        " Spark SQL: over an array expression it is the identity"
        " (drop the call); over a scalar use ARRAY_CONSTRUCT(x)"
    )),
    "ARRAY_CONSTRUCT": lambda args: f"array({', '.join(args)})",
    "ARRAY_FLATTEN": lambda args: (
        f"flatten({args[0]})" if len(args) == 1 else _bad("ARRAY_FLATTEN", args)
    ),
    "ARRAY_REVERSE": lambda args: (
        f"reverse({args[0]})"
        if len(args) == 1
        else _bad("ARRAY_REVERSE", args)
    ),
    # Snowflake's P123 soundex VARIANT differs from the standard
    # algorithm exactly when adjacent letters share a code class —
    # Spark ships only the standard; a silent swap would mis-bucket
    # those names (r13 bulk scan)
    "SOUNDEX_P123": lambda args: (_ for _ in ()).throw(ValueError(
        "SOUNDEX_P123 (the keep-first-digit variant) has no Spark"
        " built-in; SOUNDEX (standard algorithm) is lowered — the two"
        " differ when adjacent letters share a code class"
    )),
    # Zipf sampling needs the harmonic-sum inverse CDF — not a
    # closed-form expression; UNIFORM/NORMAL are lowered, and exact
    # weighted sampling exists as the x17 operator
    "ZIPF": lambda args: (_ for _ in ()).throw(ValueError(
        "ZIPF(s, n, gen) is not lowered (inverse-CDF needs the"
        " harmonic sum); use UNIFORM/NORMAL or the engine's exact"
        " weighted sampler (plans/llm_ops.py x17_weighted_sample)"
    )),
    # Snowflake SPLIT splits on the LITERAL delimiter — Spark's
    # same-named native takes a REGEX, so SPLIT(s, '.') silently
    # exploded every character (probe battery 6). \Q...\E quotes any
    # delimiter, runtime expressions included; an empty delimiter
    # returns the whole string as a one-element array (Snowflake's
    # rule); NULLs propagate through concat/split naturally. A runtime
    # delimiter CONTAINING the two characters '\E' would end the quote
    # region early and leave the remainder interpreted as regex — a
    # silent wrong-split — so that case raise_errors loudly (same
    # pattern as the zero-width occurrence guard).
    "SPLIT": lambda args: (
        f"(CASE WHEN ({args[1]}) = '' THEN array({args[0]})"
        f" WHEN contains({args[1]}, '\\\\E') THEN"
        f" raise_error(concat('SPLIT: delimiter ', {args[1]},"
        " ' contains the regex-quote terminator \\\\E; literal"
        " splitting on it is not expressible via \\\\Q-quoting'))"
        f" ELSE split({args[0]},"
        f" concat('\\\\Q', {args[1]}, '\\\\E')) END)"
        if len(args) == 2
        else _bad("SPLIT", args)
    ),
    # Snowflake ARRAY_SORT(a[, ascending[, nulls_first]]) with
    # literal booleans (Spark's 2-arg array_sort takes a COMPARATOR
    # lambda, so the boolean forms died in the analyzer): each of the
    # four combinations maps to an exact Spark composition —
    # asc/nulls-last = array_sort, asc/nulls-first = sort_array(true),
    # desc/nulls-last = sort_array(false), desc/nulls-first =
    # reverse(array_sort). Runtime booleans refuse.
    "ARRAY_SORT": lambda args: _array_sort_rewrite(args),
    # Snowflake's stop is EXCLUSIVE; Spark's sequence() is inclusive —
    # the stop shifts by one against the step's sign (literal steps
    # only: a runtime-signed step cannot shift deterministically)
    "ARRAY_GENERATE_RANGE": lambda args: _array_generate_range(args),
    # ---- NULL-semantics fidelity pack (r8). Snowflake's GREATEST /
    # LEAST return NULL when ANY argument is NULL; Spark's builtins
    # SKIP nulls — a pasted query would silently produce different
    # results. Lowered via array_max/array_min under an any-null guard
    # (emitting Spark's greatest/least would re-match this
    # case-insensitive head and never converge — the ARRAY_CONTAINS
    # lesson). The *_IGNORE_NULLS forms are Spark's skip behavior,
    # spelled explicitly.
    "GREATEST": lambda args: _null_poisoning_extreme("array_max", args),
    "LEAST": lambda args: _null_poisoning_extreme("array_min", args),
    "GREATEST_IGNORE_NULLS": lambda args: f"array_max(array({', '.join(args)}))",
    "LEAST_IGNORE_NULLS": lambda args: f"array_min(array({', '.join(args)}))",
    "EQUAL_NULL": lambda args: (
        f"(({args[0]}) <=> ({args[1]}))"
        if len(args) == 2
        else _bad("EQUAL_NULL", args)
    ),
    # Snowflake's CONCAT_WS is NULL-POISONING like its CONCAT ("if any
    # input value is NULL, returns NULL"); Spark's concat_ws SKIPS
    # NULL values entirely and never returns NULL — a silent
    # divergence on every row with a NULL part (probe battery 11,
    # r14). Lowered as separator-interleaved concat(), which poisons
    # on NULL in both engines; args render through CAST AS STRING
    # (Snowflake's implicit varchar conversion).
    "CONCAT_WS": lambda args: _concat_ws_rewrite(args),
    # Spark's factorial() silently returns NULL outside [0, 20]
    # (bigint overflow); Snowflake computes up to 33 (NUMBER(38,0))
    # and errors on negatives. 21..33 can't be represented in BIGINT
    # — refuse loudly rather than silently NULLing (battery 11).
    "FACTORIAL": lambda args: (
        f"(CASE WHEN ({args[0]}) < 0 OR ({args[0]}) > 20 THEN"
        f" raise_error(concat('FACTORIAL: supported range is 0..20"
        f" (Spark BIGINT; Snowflake reaches 33), got ',"
        f" CAST({args[0]} AS STRING)))"
        f" ELSE factorial({args[0]}) END)"
        if len(args) == 1
        else _bad("FACTORIAL", args)
    ),
    # TO_JSON dispatches on the LOWERED argument's shape (battery 11,
    # corrected after the first cut broke OBJECT_CONSTRUCT users):
    # earlier passes emit to_json(...) for the JSON-text convention,
    # so a blanket rewrite here re-matched and mangled THEIR output —
    # the ARRAY_CONTAINS convergence lesson again. See
    # _to_json_rewrite for the dispatch table.
    "TO_JSON": lambda args: _to_json_rewrite(args),
    # Snowflake docs: JSON_EXTRACT_PATH_TEXT(v, path) == GET_PATH +
    # TO_VARCHAR; get_json_object returns unquoted scalar text, which
    # IS that contract under the JSON-text convention (battery 11)
    "JSON_EXTRACT_PATH_TEXT": lambda args: _get_path_rewrite(args),
    "BOOLOR_AGG": lambda args: (
        f"bool_or({args[0]})" if len(args) == 1 else _bad("BOOLOR_AGG", args)
    ),
    "BOOLAND_AGG": lambda args: (
        f"bool_and({args[0]})" if len(args) == 1 else _bad("BOOLAND_AGG", args)
    ),
    # Snowflake documents BOOLXOR_AGG as "TRUE if EXACTLY ONE record
    # in the group is TRUE" — NOT cumulative odd-parity XOR (a 3-TRUE
    # group is FALSE there, TRUE under parity; r13 shipped parity, a
    # silent divergence). NULLs ignored, all-NULL -> NULL (Snowflake's
    # aggregate NULL rule). count() counts non-null, count_if() the
    # TRUEs — both partial-agg codegen (r14 fix).
    "BOOLXOR_AGG": lambda args: (
        f"(CASE WHEN count({args[0]}) = 0 THEN CAST(NULL AS BOOLEAN)"
        f" ELSE count_if({args[0]}) = 1 END)"
        if len(args) == 1
        else _bad("BOOLXOR_AGG", args)
    ),
    # ---- statistics / aggregate pack (r11): every lowering here is
    # ORDER-DETERMINISTIC — moment-based aggregates (SKEW, KURTOSIS,
    # REGR_*) go through exact fixed-point-integer DECIMAL power sums
    # (addition commutes exactly at any partitioning) and convert to
    # double only for the final closed-form arithmetic, so a value
    # hash of the result is stable across engines and shuffle orders.
    "MEDIAN": lambda args: (
        f"median({args[0]})" if len(args) == 1 else _bad("MEDIAN", args)
    ),
    "MODE": lambda args: (
        # WITHIN GROUP pins the tie rule: lowest value among the most
        # frequent (Snowflake leaves ties unspecified; determinism is
        # this engine's convention so oracles can replay it)
        f"mode() WITHIN GROUP (ORDER BY {args[0]})"
        if len(args) == 1
        else _bad("MODE", args)
    ),
    "BITAND_AGG": lambda args: (
        f"bit_and({args[0]})" if len(args) == 1 else _bad("BITAND_AGG", args)
    ),
    "BITOR_AGG": lambda args: (
        f"bit_or({args[0]})" if len(args) == 1 else _bad("BITOR_AGG", args)
    ),
    "BITXOR_AGG": lambda args: (
        f"bit_xor({args[0]})" if len(args) == 1 else _bad("BITXOR_AGG", args)
    ),
    "WIDTH_BUCKET": lambda args: (
        f"width_bucket({', '.join(args)})"
        if len(args) == 4
        else _bad("WIDTH_BUCKET", args)
    ),
    # Snowflake documents multi-arg GROUPING(e1, e2, ...) as an alias
    # of GROUPING_ID (leftmost arg = most significant bit — the same
    # bit order Spark and DuckDB use); Spark's grouping() is strictly
    # single-arg, so the multi-arg spelling dies in the analyzer
    # without this lowering (probe battery 10, r14).
    "GROUPING": lambda args: (
        f"grouping({args[0]})"
        if len(args) == 1
        else f"grouping_id({', '.join(args)})"
        if args
        else _bad("GROUPING", args)
    ),
    "OBJECT_AGG": lambda args: (
        # JSON-text OBJECT (this engine's VARIANT convention, f30),
        # keys sorted so the aggregate is order-insensitive
        f"concat('{{', concat_ws(',', sort_array(collect_list("
        f"btrim(to_json(map({args[0]}, {args[1]})), '{{}}')))), '}}')"
        if len(args) == 2
        else _bad("OBJECT_AGG", args)
    ),
    "SKEW": lambda args: (
        _skew_kurt_lower("SKEW", args[0])
        if len(args) == 1
        else _bad("SKEW", args)
    ),
    "KURTOSIS": lambda args: (
        _skew_kurt_lower("KURTOSIS", args[0])
        if len(args) == 1
        else _bad("KURTOSIS", args)
    ),
    "REGR_SLOPE": lambda args: (
        _regr_lower("SLOPE", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_SLOPE", args)
    ),
    "REGR_INTERCEPT": lambda args: (
        _regr_lower("INTERCEPT", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_INTERCEPT", args)
    ),
    "REGR_R2": lambda args: (
        _regr_lower("R2", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_R2", args)
    ),
    "REGR_AVGX": lambda args: (
        _regr_lower("AVGX", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_AVGX", args)
    ),
    "REGR_AVGY": lambda args: (
        _regr_lower("AVGY", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_AVGY", args)
    ),
    "REGR_SXX": lambda args: (
        _regr_lower("SXX", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_SXX", args)
    ),
    "REGR_SYY": lambda args: (
        _regr_lower("SYY", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_SYY", args)
    ),
    "REGR_SXY": lambda args: (
        _regr_lower("SXY", args[0], args[1])
        if len(args) == 2
        else _bad("REGR_SXY", args)
    ),
    "REGR_COUNT": lambda args: (
        f"COUNT(CASE WHEN ({args[0]}) IS NOT NULL"
        f" AND ({args[1]}) IS NOT NULL THEN 1 END)"
        if len(args) == 2
        else _bad("REGR_COUNT", args)
    ),
    "TIME_SLICE": lambda args: _time_slice_rewrite(args),
    # ---- REGEXP argument forms (r9 session 2): Snowflake's position/
    # occurrence/parameters/group arguments, and REGEXP_LIKE's implicit
    # FULL-MATCH anchoring (Spark's regexp_like is a substring search).
    # RLIKE/REGEXP function forms share REGEXP_LIKE's contract (and
    # are registered below -- the head regex only matches the CALL form
    # `RLIKE(`, so infix `x RLIKE 'p'` is untouched; a parenthesized
    # infix operand `x RLIKE ('p')` arrives here with arity 1 and is
    # passed through verbatim).
    "REGEXP_LIKE": lambda args: _regexp_like_rewrite("REGEXP_LIKE", args),
    "RLIKE": lambda args: _regexp_like_rewrite("RLIKE", args),
    "REGEXP": lambda args: _regexp_like_rewrite("REGEXP", args),
    "REGEXP_SUBSTR": lambda args: _regexp_substr_rewrite("REGEXP_SUBSTR", args),
    "REGEXP_COUNT": lambda args: _regexp_count_rewrite("REGEXP_COUNT", args),
    "REGEXP_INSTR": lambda args: _regexp_instr_rewrite("REGEXP_INSTR", args),
    "REGEXP_REPLACE": lambda args: _regexp_replace_rewrite(
        "REGEXP_REPLACE", args
    ),
    # ---- calendar / timezone pack (r9 session 2). The ISO family is
    # session-parameter-independent (Snowflake's plain DAYOFWEEK/WEEK
    # obey WEEK_START; the ISO forms are the stable contract).
    "CONVERT_TIMEZONE": lambda args: _convert_timezone_rewrite(args),
    "DAYOFWEEKISO": lambda args: (
        f"((dayofweek({args[0]}) + 5) % 7 + 1)"
        if len(args) == 1
        else _bad("DAYOFWEEKISO", args)
    ),
    # Probe battery 8 (r13): Snowflake's ADD_MONTHS carries the
    # Oracle LAST-DAY RULE — if the input is the last day of its
    # month, the result is the last day of the target month
    # (ADD_MONTHS('2016-02-29', 1) = '2016-03-31') — which Spark's
    # same-named native does NOT (it returns '2016-03-29'): a silent
    # month-end divergence on every month-end fact date. (Snowflake's
    # DATEADD(month)/+INTERVAL deliberately keep the plain clamp —
    # only ADD_MONTHS has the rule, in both engines' docs.) Spark's
    # add_months family is DATE-typed, so time-of-day on TIMESTAMP
    # inputs is dropped (Spark's documented contract, unchanged here).
    "ADD_MONTHS": lambda args: (
        f"(CASE WHEN CAST({args[0]} AS DATE) = last_day({args[0]})"
        f" THEN last_day(add_months({args[0]}, {args[1]}))"
        f" ELSE add_months({args[0]}, {args[1]}) END)"
        if len(args) == 2
        else _bad("ADD_MONTHS", args)
    ),
    # Snowflake MONTHS_BETWEEN does not round; Spark's same-named
    # native rounds to 8 decimal places by default — pass
    # roundOff=false to keep the exact 31-day-rule float
    "MONTHS_BETWEEN": lambda args: (
        f"months_between({args[0]}, {args[1]}, false)"
        if len(args) == 2
        else _bad("MONTHS_BETWEEN", args)
    ),
    # Probe battery 8 (r13): bare DAYOFWEEK previously passed through
    # to Spark's native (Sunday=1..Saturday=7) — a SILENT off-by-one
    # against Snowflake's default/pinned profile, where WEEK_START=0
    # (legacy) uses ISO-like semantics: Monday=1..Sunday=7. This
    # engine pins the ISO session profile throughout (see
    # _DATE_PART_FN), so DAYOFWEEK == DAYOFWEEKISO here. Emitting
    # lower-case dayofweek( is safe: the scan resumes past each
    # replacement.
    "DAYOFWEEK": lambda args: (
        f"((dayofweek({args[0]}) + 5) % 7 + 1)"
        if len(args) == 1
        else _bad("DAYOFWEEK", args)
    ),
    # bare WEEK(x) died in Spark's analyzer (no such function); under
    # the pinned ISO profile it is weekofyear
    "WEEK": lambda args: (
        f"weekofyear({args[0]})" if len(args) == 1 else _bad("WEEK", args)
    ),
    "WEEKISO": lambda args: (
        f"weekofyear({args[0]})" if len(args) == 1 else _bad("WEEKISO", args)
    ),
    "YEAROFWEEKISO": lambda args: (
        f"extract(YEAROFWEEK FROM {args[0]})"
        if len(args) == 1
        else _bad("YEAROFWEEKISO", args)
    ),
    # strictly-before counterpart of next_day (strictly-after): the
    # 8-day re-base makes the search window (d-8, d-1] — exactly the
    # latest such weekday EARLIER than d, never d itself
    "PREVIOUS_DAY": lambda args: (
        f"next_day(date_sub(CAST({args[0]} AS DATE), 8), {args[1]})"
        if len(args) == 2
        else _bad("PREVIOUS_DAY", args)
    ),
    "DATE_PART": lambda args: _date_part_rewrite(args),
    # ---- bit-operation pack (r9 session 2): Snowflake's named bit
    # functions -> Spark's operators/builtins. BITSHIFTRIGHT is an
    # ARITHMETIC shift on signed integers in both engines.
    "BITAND": lambda args: (
        f"(({args[0]}) & ({args[1]}))" if len(args) == 2 else _bad("BITAND", args)
    ),
    "BITOR": lambda args: (
        f"(({args[0]}) | ({args[1]}))" if len(args) == 2 else _bad("BITOR", args)
    ),
    "BITXOR": lambda args: (
        f"(({args[0]}) ^ ({args[1]}))" if len(args) == 2 else _bad("BITXOR", args)
    ),
    "BITNOT": lambda args: (
        f"(~({args[0]}))" if len(args) == 1 else _bad("BITNOT", args)
    ),
    "BITSHIFTLEFT": lambda args: (
        f"shiftleft({args[0]}, {args[1]})"
        if len(args) == 2
        else _bad("BITSHIFTLEFT", args)
    ),
    "BITSHIFTRIGHT": lambda args: (
        f"shiftright({args[0]}, {args[1]})"
        if len(args) == 2
        else _bad("BITSHIFTRIGHT", args)
    ),
    "GETBIT": lambda args: (
        f"getbit({args[0]}, {args[1]})"
        if len(args) == 2
        else _bad("GETBIT", args)
    ),
    # ---- VARIANT type predicates (r9 session 2). VARIANT = JSON text
    # in this engine (the sql30/sql34 contract), so TYPEOF classifies
    # the rendered JSON: structural classes by first character, JSON
    # numbers fine-classed the way Snowflake's PARSE_JSON stores them
    # (integer text -> INTEGER, plain fraction -> DECIMAL, exponent
    # form -> DOUBLE). NULL SQL value stays NULL; JSON null is the
    # distinct NULL_VALUE.
    "TYPEOF": lambda args: (
        _typeof_case(args[0]) if len(args) == 1 else _bad("TYPEOF", args)
    ),
    "IS_OBJECT": lambda args: (
        f"(startswith(trim({args[0]}), '{{'))"
        if len(args) == 1
        else _bad("IS_OBJECT", args)
    ),
    "IS_ARRAY": lambda args: (
        f"(startswith(trim({args[0]}), '['))"
        if len(args) == 1
        else _bad("IS_ARRAY", args)
    ),
    "IS_BOOLEAN": lambda args: (
        f"(trim({args[0]}) IN ('true', 'false'))"
        if len(args) == 1
        else _bad("IS_BOOLEAN", args)
    ),
    "IS_NULL_VALUE": lambda args: (
        f"(trim({args[0]}) = 'null')"
        if len(args) == 1
        else _bad("IS_NULL_VALUE", args)
    ),
    # AS_* strict variant casts (probe battery 5, r12): the typed
    # extraction twins of the IS_* family — value when the JSON-text
    # VARIANT holds that type, NULL otherwise (Snowflake's contract;
    # never a coercion)
    "AS_INTEGER": lambda args: (
        f"(CASE WHEN trim({args[0]}) RLIKE '^-?[0-9]+$'"
        f" THEN CAST(trim({args[0]}) AS BIGINT) END)"
        if len(args) == 1
        else _bad("AS_INTEGER", args)
    ),
    "AS_NUMBER": lambda args: (
        f"(CASE WHEN trim({args[0]}) RLIKE '^-?[0-9]+$'"
        f" THEN CAST(trim({args[0]}) AS BIGINT) END)"
        if len(args) == 1
        else _bad("AS_NUMBER", args)
    ),
    "AS_DOUBLE": lambda args: (
        f"(CASE WHEN trim({args[0]}) RLIKE"
        f" '^-?[0-9]+(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$'"
        f" THEN CAST(trim({args[0]}) AS DOUBLE) END)"
        if len(args) == 1
        else _bad("AS_DOUBLE", args)
    ),
    "AS_REAL": lambda args: (
        f"(CASE WHEN trim({args[0]}) RLIKE"
        f" '^-?[0-9]+(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$'"
        f" THEN CAST(trim({args[0]}) AS DOUBLE) END)"
        if len(args) == 1
        else _bad("AS_REAL", args)
    ),
    "AS_VARCHAR": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '\"')"
        f" THEN get_json_object({args[0]}, '$') END)"
        if len(args) == 1
        else _bad("AS_VARCHAR", args)
    ),
    "AS_CHAR": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '\"')"
        f" THEN get_json_object({args[0]}, '$') END)"
        if len(args) == 1
        else _bad("AS_CHAR", args)
    ),
    "AS_BOOLEAN": lambda args: (
        f"(CASE WHEN trim({args[0]}) IN ('true', 'false')"
        f" THEN trim({args[0]}) = 'true' END)"
        if len(args) == 1
        else _bad("AS_BOOLEAN", args)
    ),
    "AS_ARRAY": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '[')"
        f" THEN {args[0]} END)"
        if len(args) == 1
        else _bad("AS_ARRAY", args)
    ),
    "AS_OBJECT": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '{{')"
        f" THEN {args[0]} END)"
        if len(args) == 1
        else _bad("AS_OBJECT", args)
    ),
    "AS_DATE": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '\"')"
        f" THEN try_cast(get_json_object({args[0]}, '$') AS DATE) END)"
        if len(args) == 1
        else _bad("AS_DATE", args)
    ),
    "AS_TIMESTAMP_NTZ": lambda args: (
        f"(CASE WHEN startswith(trim({args[0]}), '\"')"
        f" THEN try_cast(get_json_object({args[0]}, '$') AS TIMESTAMP)"
        f" END)"
        if len(args) == 1
        else _bad("AS_TIMESTAMP_NTZ", args)
    ),
    # TO_JSON deliberately NOT rewritten: Spark's native to_json
    # covers every constructor output (struct/map/array — including
    # the 2-arg options form the semi-structured pass itself emits,
    # which a naive identity rewrite here broke in r12: f18's
    # OBJECT_CONSTRUCT_KEEP_NULL lowering re-entered this table).
    # TO_JSON over a JSON-TEXT variant column errors loudly at
    # analysis (the VARIANT already IS its json text — drop the call).
    "SQUARE": lambda args: (
        f"(({args[0]}) * ({args[0]}))"
        if len(args) == 1
        else _bad("SQUARE", args)
    ),
    # great-circle distance in km, Snowflake's HAVERSINE signature
    # (lat1, lon1, lat2, lon2); IEEE trig composition — keep out of
    # bit-exact oracles unless rounded
    "HAVERSINE": lambda args: (
        "(2 * 6371 * asin(sqrt("
        f"pow(sin(radians(({args[2]}) - ({args[0]})) / 2), 2)"
        f" + cos(radians({args[0]})) * cos(radians({args[2]}))"
        f" * pow(sin(radians(({args[3]}) - ({args[1]})) / 2), 2))))"
        if len(args) == 4
        else _bad("HAVERSINE", args)
    ),
    "IS_VARCHAR": lambda args: (
        f"(startswith(trim({args[0]}), '\"'))"
        if len(args) == 1
        else _bad("IS_VARCHAR", args)
    ),
    "IS_INTEGER": lambda args: (
        f"(trim({args[0]}) RLIKE '^-?[0-9]+$')"
        if len(args) == 1
        else _bad("IS_INTEGER", args)
    ),
}


def _array_generate_range(args: list) -> str:
    """Snowflake's stop is EXCLUSIVE and an empty range returns [];
    Spark's sequence() is inclusive and REVERSES direction when start
    passes stop — both deltas guarded (the empty case emits a typed
    empty array via slice of a 1-element sequence)."""
    if len(args) not in (2, 3):
        return _bad("ARRAY_GENERATE_RANGE", args)
    a, b = args[0], args[1]
    step = args[2].strip() if len(args) == 3 else "1"
    if re.fullmatch(r"-?\d+", step) is None:
        raise ValueError(
            "ARRAY_GENERATE_RANGE: step must be an integer literal"
            " (the exclusive-stop shift depends on its sign)"
        )
    if int(step) == 0:
        raise ValueError("ARRAY_GENERATE_RANGE: step must be nonzero")
    neg = int(step) < 0
    shift = "+ 1" if neg else "- 1"
    empty_when = f"({a}) <= ({b})" if neg else f"({a}) >= ({b})"
    tail = f", {step}" if len(args) == 3 else ""
    return (
        f"(CASE WHEN {empty_when} THEN slice(sequence({a}, {a}), 1, 0)"
        f" ELSE sequence({a}, ({b}) {shift}{tail}) END)"
    )


def _typeof_case(v: str) -> str:
    t = f"trim({v})"
    return (
        f"(CASE WHEN ({v}) IS NULL THEN CAST(NULL AS STRING)"
        f" WHEN {t} = 'null' THEN 'NULL_VALUE'"
        f" WHEN startswith({t}, '{{') THEN 'OBJECT'"
        f" WHEN startswith({t}, '[') THEN 'ARRAY'"
        f" WHEN startswith({t}, '\"') THEN 'VARCHAR'"
        f" WHEN {t} IN ('true', 'false') THEN 'BOOLEAN'"
        f" WHEN {t} RLIKE '^-?[0-9]+$' THEN 'INTEGER'"
        f" WHEN {t} RLIKE '^-?[0-9]+\\\\.[0-9]+$' THEN 'DECIMAL'"
        f" ELSE 'DOUBLE' END)"
    )


_TIME_SLICE_SECS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _time_slice_rewrite(args: list) -> str:
    """``TIME_SLICE(ts, n, 'unit' [, 'START'|'END'])`` -> fixed-width
    epoch bucketing (Snowflake slices align to the 1970-01-01 epoch,
    including weeks). Calendar units (month/quarter/year) refuse —
    they are not fixed-width and DATE_TRUNC is the right tool there.
    The epoch math routes through unix_timestamp so TIMESTAMP_NTZ
    inputs work (the events-table gotcha: NTZ does not cast to
    double)."""
    if len(args) not in (3, 4):
        raise ValueError("TIME_SLICE needs (ts, n, 'unit' [, 'START'|'END'])")
    ts, n_txt, unit_txt = args[0], args[1].strip(), args[2].strip().strip("'\"").lower()
    kind = (args[3].strip().strip("'\"").upper() if len(args) == 4 else "START")
    if kind not in ("START", "END"):
        raise ValueError("TIME_SLICE kind must be 'START' or 'END'")
    if not n_txt.isdigit() or int(n_txt) < 1:
        raise ValueError("TIME_SLICE width must be a positive integer literal")
    if unit_txt not in _TIME_SLICE_SECS:
        raise ValueError(
            f"TIME_SLICE unit {unit_txt!r} is not fixed-width"
            " (second/minute/hour/day/week supported; use DATE_TRUNC for"
            " calendar units)"
        )
    w = int(n_txt) * _TIME_SLICE_SECS[unit_txt]
    off = w if kind == "END" else 0
    return (
        f"to_timestamp(CAST(FLOOR(unix_timestamp({ts}) /"
        f" CAST({w} AS DOUBLE)) AS BIGINT) * {w} + {off})"
    )


def _null_poisoning_extreme(fn: str, args: list) -> str:
    if len(args) < 2:
        raise ValueError("GREATEST/LEAST need at least 2 arguments")
    any_null = " OR ".join(f"({a}) IS NULL" for a in args)
    return (
        f"(CASE WHEN {any_null} THEN NULL"
        f" ELSE {fn}(array({', '.join(args)})) END)"
    )


# Snowflake datetime format elements -> Spark (Java DateTimeFormatter)
# pattern letters. STRICT and longest-first: anything not in this table
# (and not allowed punctuation or a "quoted" literal) refuses loudly —
# Snowflake's letters overlap Spark's with DIFFERENT meanings (Spark Y
# is week-year, D is day-of-year), so passthrough would corrupt
# silently. Case-insensitive like Snowflake.
_SF_DT_ELEMS: tuple[tuple[str, str], ...] = (
    ("YYYY", "yyyy"),
    ("YY", "yy"),
    ("MMMM", "MMMM"),  # full month name
    ("MON", "MMM"),  # abbreviated month name
    ("MM", "MM"),
    ("DAY", "EEEE"),  # full day name
    ("DY", "EEE"),  # abbreviated day name
    ("DD", "dd"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("HH", "HH"),  # Snowflake treats bare HH as HH24
    ("AM", "a"),
    ("PM", "a"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("FF6", "SSSSSS"),
    ("FF5", "SSSSS"),
    ("FF4", "SSSS"),
    ("FF3", "SSS"),
    ("FF2", "SS"),
    ("FF1", "S"),
)
_SF_DT_PUNCT = " -/,.:;"


def _sf_datetime_format_to_spark(fmt: str) -> str:
    """Translate a Snowflake datetime format string (``'YYYYMMDD'``,
    ``'YYYY-MM-DD"T"HH24:MI:SS.FF3'``) to Spark's pattern letters.
    Raises ValueError on any element without an exact Spark equivalent
    (FF7-FF9 nanoseconds, TZH/TZM offsets, bare FF) — refusal beats a
    silent mistranslation."""
    out: list[str] = []
    i, n = 0, len(fmt)
    up = fmt.upper()
    while i < n:
        c = fmt[i]
        if c == '"':  # Snowflake's quoted literal -> Spark's 'literal'
            j = fmt.find('"', i + 1)
            if j < 0:
                raise ValueError(f"unterminated quoted literal in format: {fmt!r}")
            lit = fmt[i + 1 : j]
            if "'" in lit:
                raise ValueError(
                    f"format literal cannot contain a single quote: {lit!r}"
                )
            out.append(f"'{lit}'")
            i = j + 1
            continue
        for sf, sp in _SF_DT_ELEMS:
            if up.startswith(sf, i):
                out.append(sp)
                i += len(sf)
                break
        else:
            if c in _SF_DT_PUNCT:
                out.append(c)
                i += 1
                continue
            raise ValueError(
                f"unsupported datetime format element at {fmt[i:]!r}"
                f" in {fmt!r} (supported: "
                + ", ".join(e for e, _ in _SF_DT_ELEMS)
                + ', punctuation, "quoted" literals)'
            )
    return "".join(out)


def _numeric_trunc_rewrite(name: str, args: list) -> str:
    """Snowflake TRUNCATE/TRUNC(x[, scale]): numeric truncation TOWARD
    ZERO at a literal integer scale (Spark's ``trunc`` is date-only).
    TRUNC with a quoted second argument keeps Spark's native
    date-truncation passthrough (``trunc(d, 'MON')``); arity-1 TRUNC
    is numeric scale 0 (use DATE_TRUNC for timestamps — documented)."""
    if name == "TRUNC" and len(args) == 2 and _fmt_literal(args, 1, name):
        part = _fmt_literal(args, 1, name).upper()
        if part in ("DAY", "DD", "D", "DAYS", "HOUR", "HH", "HOURS",
                    "MINUTE", "MI", "MINUTES", "SECOND", "SS",
                    "SECONDS"):
            # Spark's trunc() is month-grain-and-up and returns NULL
            # for time parts — a silent divergence; sub-day grains
            # route to date_trunc (timestamp out, Snowflake's type)
            canon = {"DD": "DAY", "D": "DAY", "DAYS": "DAY",
                     "HH": "HOUR", "HOURS": "HOUR", "MI": "MINUTE",
                     "MINUTES": "MINUTE", "SS": "SECOND",
                     "SECONDS": "SECOND"}.get(part, part)
            return f"date_trunc('{canon}', {args[0]})"
        if part not in ("YEAR", "YYYY", "YY", "YEARS", "MONTH", "MON",
                        "MM", "MONTHS", "QUARTER", "Q", "QUARTERS",
                        "WEEK", "WK", "WEEKS"):
            raise ValueError(
                f"TRUNC: unsupported date part {part!r} (Spark's"
                " trunc would return NULL silently)"
            )
        return f"trunc({args[0]}, {args[1]})"
    if len(args) not in (1, 2):
        return _bad(name, args)
    d_txt = args[1].strip() if len(args) == 2 else "0"
    try:
        d = int(d_txt)
    except ValueError:
        raise ValueError(
            f"{name} scale must be an integer literal (got {d_txt!r})"
        ) from None
    x = args[0]
    if d >= 0:
        f = 10 ** d
        return (
            f"(CASE WHEN ({x}) >= 0 THEN FLOOR(({x}) * {f}) / {f}"
            f" ELSE -FLOOR(-({x}) * {f}) / {f} END)"
        )
    f = 10 ** (-d)
    return (
        f"(CASE WHEN ({x}) >= 0 THEN FLOOR(({x}) / {f}) * {f}"
        f" ELSE -FLOOR(-({x}) / {f}) * {f} END)"
    )


def _strtok_rewrite(name: str, args: list) -> str:
    """STRTOK(s[, delims[, part]]) / STRTOK_TO_ARRAY(s[, delims]):
    ``delims`` is a SET of single characters (Snowflake semantics —
    consecutive delimiters collapse, empty tokens never surface), so
    it lowers to one regex character class + a filter; the token index
    is 1-based and out-of-range returns NULL (try_element_at). The
    delimiter must be a string literal (the class is built at rewrite
    time)."""
    max_args = 2 if name == "STRTOK_TO_ARRAY" else 3
    if not 1 <= len(args) <= max_args:
        return _bad(name, args)
    delims = " "
    if len(args) >= 2:
        lit = _fmt_literal(args, 1, name)
        if lit is None:
            raise ValueError(f"{name} delimiters must be a string literal")
        delims = lit
    if "\\" in delims:
        raise ValueError(
            f"{name}: backslash delimiter is not supported (regex/SQL"
            " literal escaping is engine-ambiguous)"
        )
    # build the character class POSITIONALLY instead of with backslash
    # escapes: Spark SQL string literals eat unknown escapes ('\-' ->
    # '-'), so an escaped class silently changes meaning. ']' is
    # literal first-in-class, '-' literal last, '^' literal anywhere
    # but first.
    # dedupe (delims is a SET of chars) — also keeps a repeated '&'
    # from forming Java regex class intersection ('[&&]')
    delims = "".join(dict.fromkeys(delims))
    plain = [c for c in delims if c not in "]^-"]
    cls = "[" + ("]" if "]" in delims else "") + "".join(plain) + (
        "^" if "^" in delims else "") + ("-" if "-" in delims else "") + "]"
    arr = (
        f"filter(split({args[0]}, {_sql_str(cls)}), __t -> __t <> '')"
    )
    if name == "STRTOK_TO_ARRAY":
        return arr
    part = args[2] if len(args) == 3 else "1"
    return f"try_element_at({arr}, {part})"


def _parse_url_rewrite(args: list) -> str:
    """PARSE_URL(u): Snowflake's OBJECT result re-expressed in this
    engine's JSON-text VARIANT convention via Spark's parse_url parts:
    {fragment, host, parameters (query map), path (leading '/'
    stripped, as Snowflake does), port (omitted when absent —
    to_json drops null fields), query, scheme}. The permissive
    second argument is not supported (errors must surface)."""
    if len(args) != 1:
        return _bad("PARSE_URL", args)
    u = args[0]
    return (
        "to_json(named_struct("
        f"'fragment', parse_url({u}, 'REF'), "
        f"'host', parse_url({u}, 'HOST'), "
        f"'parameters', str_to_map(parse_url({u}, 'QUERY'), '&', '='), "
        f"'path', regexp_replace(parse_url({u}, 'PATH'), '^/', ''), "
        f"'port', nullif(regexp_extract({u}, '://[^/@]*:([0-9]+)', 1),"
        f" ''), "
        f"'query', parse_url({u}, 'QUERY'), "
        f"'scheme', parse_url({u}, 'PROTOCOL')))"
    )


def _timestamp_from_parts(name: str, args: list) -> str:
    """TIMESTAMP[_NTZ]_FROM_PARTS(y, mo, d, h, mi, s): normalized like
    Snowflake (out-of-range components roll over — hour 25 lands on
    the next day) via anchor-date + exact interval arithmetic. The
    optional nanoseconds argument refuses unless it is the literal 0
    (Spark timestamps are microsecond; silent truncation is worse
    than a refusal)."""
    if len(args) == 7:
        if args[6].strip() != "0":
            raise ValueError(
                f"{name}: nanoseconds argument must be 0 (Spark"
                " timestamps are microsecond-precision)"
            )
        args = args[:6]
    if len(args) != 6:
        return _bad(name, args)
    y, mo, d, h, mi, sec = args
    base = (
        f"CAST(date_add(add_months(make_date({y}, 1, 1), ({mo}) - 1),"
        f" ({d}) - 1) AS TIMESTAMP)"
    )
    return (
        f"({base} + make_interval(0, 0, 0, 0, {h}, {mi}, {sec}))"
    )


def _last_day_rewrite(args: list) -> str:
    """LAST_DAY(d[, part]): Spark's last_day is month-only; year /
    quarter / week lower to date_trunc arithmetic (week = ISO Monday
    week, so its last day is the Sunday)."""
    if len(args) == 1:
        return f"last_day({args[0]})"
    if len(args) != 2:
        return _bad("LAST_DAY", args)
    part = (_fmt_literal(args, 1, "LAST_DAY") or args[1]).strip().lower()
    canon = _DATE_PART_CANON.get(part)
    if canon is None:
        raise ValueError(f"LAST_DAY: unknown date part {part!r}")
    unit, mult = canon
    d = args[0]
    if (unit, mult) == ("MONTH", 1):
        return f"last_day({d})"
    if (unit, mult) == ("MONTH", 3):
        return (
            f"date_sub(add_months(CAST(date_trunc('QUARTER', {d})"
            f" AS DATE), 3), 1)"
        )
    if (unit, mult) == ("YEAR", 1):
        return f"make_date(year({d}), 12, 31)"
    if (unit, mult) == ("DAY", 7):
        return f"date_add(CAST(date_trunc('WEEK', {d}) AS DATE), 6)"
    raise ValueError(f"LAST_DAY: unsupported date part {part!r}")


def _fmt_literal(args: list, idx: int, name: str) -> str | None:
    """Return the unquoted string if args[idx] is a '...' literal."""
    if idx >= len(args):
        return None
    a = args[idx].strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'" and "'" not in a[1:-1]:
        return a[1:-1]
    return None


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _ts_numeric_heuristic(expr: str, cast_fn: str) -> str:
    """Snowflake's TO_TIMESTAMP integer-scale heuristic as one lazy
    CASE: the digit-string guard keeps the BIGINT read off non-integer
    inputs, so strings/dates/timestamps fall through to the plain
    cast unchanged. Under TRY_, an out-of-range integer rendering
    yields NULL (try_cast NULL propagates through every branch);
    strict mode errors loudly, as Snowflake does."""
    s = f"CAST({expr} AS STRING)"
    c = f"{cast_fn}({s} AS BIGINT)"
    return (
        f"(CASE WHEN {s} RLIKE '^-?[0-9]+$' THEN"
        f" (CASE WHEN abs({c}) < 31536000000"
        f" THEN {cast_fn}({c} AS TIMESTAMP)"
        f" WHEN abs({c}) < 31536000000000 THEN timestamp_millis({c})"
        f" WHEN abs({c}) < 31536000000000000 THEN timestamp_micros({c})"
        f" ELSE timestamp_micros({c} div 1000) END)"
        f" ELSE {cast_fn}({expr} AS TIMESTAMP) END)"
    )


def _to_datetime_rewrite(name: str, args: list, *, as_date: bool, try_: bool) -> str:
    """TO_DATE / TO_TIMESTAMP[_NTZ] / TRY_ variants, with Snowflake
    format strings translated element-by-element (r9 — VERDICT r8
    flagged ``TO_DATE(col, 'YYYYMMDD')`` as the most common remaining
    real-user refusal). AUTO = the no-format default. Non-format,
    non-literal second arguments refuse (Snowflake also accepts a
    session-parameter name there — not a deterministic lowering)."""
    target = "DATE" if as_date else "TIMESTAMP"
    fmt = _fmt_literal(args, 1, name)
    if len(args) == 1 or (len(args) == 2 and fmt is not None and fmt.upper() == "AUTO"):
        f = "try_cast" if try_ else "cast"
        if not as_date:
            # Probe battery 9 (r13): Snowflake's TO_TIMESTAMP applies
            # a documented MAGNITUDE heuristic to integer inputs —
            # < 31536000000 seconds, then milliseconds, microseconds,
            # nanoseconds by successive factors of 1000. Spark's cast
            # always reads seconds, so an epoch-milliseconds column
            # silently landed in year ~55840 (or errored). The
            # heuristic dispatches on the RENDERED value (digit
            # strings included — Snowflake treats those the same);
            # non-integer inputs keep the plain cast. Negative epochs
            # dispatch on magnitude.
            return _ts_numeric_heuristic(args[0], f)
        return f"{f}({args[0]} AS {target})"
    if len(args) == 2 and fmt is not None:
        spark_fmt = _sql_str(_sf_datetime_format_to_spark(fmt))
        if try_:
            base = f"try_to_timestamp({args[0]}, {spark_fmt})"
            return f"CAST({base} AS DATE)" if as_date else base
        fn = "to_date" if as_date else "to_timestamp"
        return f"{fn}({args[0]}, {spark_fmt})"
    raise ValueError(
        f"{name} supports (expr) or (expr, '<format>') with a literal"
        f" format string; got {len(args)} args"
    )


# time-of-day run inside any rendered value: HH[:MM[:SS[.fff]]];
# [.] instead of \. keeps the pattern literal-escape-proof in both
# engines' string-literal rules
_TIME_EXTRACT_RX = "'([0-9]{1,2}:[0-9]{2}(:[0-9]{2}([.][0-9]+)?)?)'"


def _arrays_zip_rewrite(args: list) -> str:
    """Snowflake ``ARRAYS_ZIP(a1, a2, ...)`` — an ARRAY of OBJECTs
    keyed ``$1``..``$n``, one per input array, padded with nulls to
    the LONGEST input; NULL input array -> NULL result. Spark's own
    ``arrays_zip`` emits structs named after the source expressions
    (not ``$k`` JSON objects), so the lowering zips explicitly:
    index 1..longest with ``get()`` (NULL past the end = Snowflake's
    padding) and render each element through the JSON-text VARIANT
    convention with nulls KEPT (``{"$1":3,"$2":null}`` — the pad is
    part of the documented output). Elements that are already
    JSON-text VARIANTs re-encode as strings — same caveat as TO_JSON
    over the convention, documented there."""
    if not args:
        return _bad("ARRAYS_ZIP", args)
    null_guard = " OR ".join(f"({a}) IS NULL" for a in args)
    sizes = ", ".join(f"size({a})" for a in args)
    longest = f"greatest({sizes})" if len(args) > 1 else sizes
    fields = ", ".join(
        f"'${i + 1}', get({a}, __zi - 1)" for i, a in enumerate(args)
    )
    return (
        f"(CASE WHEN {null_guard} THEN NULL"
        f" WHEN {longest} < 1 THEN array()"
        f" ELSE transform(sequence(1, {longest}), __zi ->"
        f" to_json(named_struct({fields}),"
        f" map('ignoreNullFields', 'false'))) END)"
    )


def _to_time_rewrite(name: str, args: list, *, try_: bool) -> str:
    """TO_TIME / TRY_TO_TIME onto Spark 4.1's native TIME type (r14).
    1-arg AUTO extracts the time-of-day run from the rendered value
    (so TIMESTAMP inputs work like Snowflake's); 2-arg translates the
    Snowflake format like the TO_TIMESTAMP family. AM/PM inputs need
    an explicit format: TO_TIME refuses loudly; TRY_TO_TIME returns
    NULL (advice r14 — TRY_'s contract is never-raise, so a whole
    query must not die on one meridiem value; the NULL-vs-parsed
    divergence from Snowflake is documented here). The meridiem guard
    requires a digit-adjacent [AP][.]?M ending at a word boundary so
    ordinary words ('10:30 Amsterdam', '9 amps') don't trip it —
    boundary spelled as a char class to keep the SQL literal free of
    backslash escapes."""
    fn = "try_to_time" if try_ else "to_time"
    if len(args) == 1:
        rendered = f"CAST(({args[0]}) AS STRING)"
        ampm = (
            f"raise_error('{name}: AM/PM times need an explicit"
            f" format argument')"
            if not try_
            else "NULL"
        )
        return (
            f"(CASE WHEN {rendered} RLIKE"
            f" '(?i)[0-9] *[AP][.]?M([^A-Z0-9_]|$)' THEN {ampm}"
            f" ELSE {fn}(regexp_extract({rendered},"
            f" {_TIME_EXTRACT_RX}, 1)) END)"
        )
    fmt = _fmt_literal(args, 1, name)
    if len(args) == 2 and fmt is not None:
        if re.search(r"(?i)AM|PM|HH12", fmt):
            raise ValueError(
                f"{name}: 12-hour formats (HH12/AM/PM) have no"
                " verified Spark TIME-parse mapping — convert via"
                " TO_TIMESTAMP(expr, format) and take the time part"
            )
        return f"{fn}({args[0]}, {_sql_str(_sf_datetime_format_to_spark(fmt))})"
    raise ValueError(
        f"{name} supports (expr) or (expr, '<format>') with a literal"
        f" format string; got {len(args)} args"
    )


def _time_from_parts_rewrite(args: list) -> str:
    """TIME_FROM_PARTS(h, m, s[, ns]) with Snowflake's documented
    rollover: parts normalize to microseconds-past-midnight (pmod, so
    negatives roll backward) before make_time splits them back out."""
    if len(args) not in (3, 4):
        return _bad("TIME_FROM_PARTS", args)
    h, m, s = args[0], args[1], args[2]
    ns_us = f"(CAST(({args[3]}) AS BIGINT) DIV 1000)" if len(args) == 4 else "0"
    tot = (
        f"pmod(CAST(({h}) AS BIGINT) * 3600000000"
        f" + CAST(({m}) AS BIGINT) * 60000000"
        f" + CAST(({s}) AS BIGINT) * 1000000"
        f" + {ns_us}, 86400000000)"
    )
    return (
        f"make_time(CAST(({tot}) DIV 3600000000 AS INT),"
        f" CAST((({tot}) % 3600000000) DIV 60000000 AS INT),"
        f" CAST((({tot}) % 60000000) AS DECIMAL(16,6)) / 1000000)"
    )


def _to_char_rewrite(name: str, args: list) -> str:
    if len(args) == 1:
        return f"cast({args[0]} AS STRING)"
    fmt = _fmt_literal(args, 1, name)
    if len(args) == 2 and fmt is not None:
        # numeric masks are exactly the ones with 0/9 digit positions
        # (no datetime element contains either, so '999.99MI' routes
        # here and refuses with the NUMERIC message, not a confusing
        # datetime-element error) — plus the all-X hex masks (r12)
        if (("0" in fmt or "9" in fmt) and "FF" not in fmt.upper()) or (
            fmt.strip() and set(fmt.strip()) <= {"X", "x"}
        ):
            return _to_char_numeric_lower(name, args[0], fmt)
        return f"date_format({args[0]}, {_sql_str(_sf_datetime_format_to_spark(fmt))})"
    raise ValueError(
        f"{name} supports (expr) or (expr, '<format>');"
        f" got {len(args)} args"
    )


def _to_char_numeric_lower(name: str, x: str, fmt: str) -> str:
    """Lower a Snowflake numeric OUTPUT mask (``TO_CHAR(amt,
    '$9,999,999.00')``) to a composition of exact-decimal Spark
    expressions (VERDICT r10 #2 — previously a refusal).

    Pinned semantics (each reproducible bit-exactly in ANSI SQL, so the
    DuckDB oracle twin replicates every branch):

    - the value is rounded HALF-AWAY-FROM-ZERO to the mask's scale by a
      ``DECIMAL(38, s)`` cast (both engines' documented decimal-cast
      rounding) — never through a double;
    - fraction digits render to exactly ``s`` places (trailing zeros
      kept); a zero integer part renders ``0`` (``'0.10'``);
    - ``,``/``G`` groups the integer digits every 3 (the standard
      grouping every real mask encodes positionally);
    - ``0`` positions zero-pad the integer part to the width from the
      leftmost ``0``; zero padding combined with grouping refuses
      (contradictory rendering, and Snowflake masks don't mix them);
    - ``S`` renders an explicit ``+``/``-``; without ``S`` negatives
      get ``-`` and positives no sign character;
    - ``$`` prefixes the digits, after the sign (``-$12.40``);
    - integer overflow of the mask renders ``#`` across the mask's
      digit/group/decimal positions with the ``$``/sign kept
      (``'$####'`` — snowflake.com/en/sql-reference/sql-format-models);
    - DIVERGENCE, stated loudly: Snowflake blank-pads unused leading
      digit positions to a fixed width; this engine emits the unpadded
      canonical form (wrap with LPAD for fixed-width output). Values,
      signs, grouping, rounding, and overflow behavior match.

    - ``MI`` renders the sign TRAILING: ``-`` for negatives, a blank
      for non-negatives (the Oracle-model alignment contract MI exists
      for — a signless positive would misalign the column);
    - ``PR`` renders negatives in angle brackets (``<12.40>``) and
      non-negatives with a trailing blank standing in the ``>``
      position (the leading ``<`` position is absorbed by the same
      unpadded-leading-edge convention stated above);
    - ``S`` combined with ``MI``/``PR`` refuses (two sign locations).

    - ``EEEE`` (scientific notation, r12): ``[S]9[.99]EEEE`` lowers to
      the C/Java ``%.<s>E`` rendering — mantissa rounded to the
      fraction width, ``E±NN`` exponent — which Spark's format_string
      and DuckDB's printf produce byte-identically. ``S`` maps to the
      explicit-sign ``%+``; $/grouping/MI/PR with EEEE refuse.
    - ``X`` masks (hexadecimal, r12): all-X masks render the value
      rounded to an integer as hex (mask case sets digit case —
      ``XXXX`` upper, ``xxxx`` lower). Negative values and values
      wider than the mask render the ``#`` fill (the overflow
      convention; Snowflake errors on negatives — fill is this
      engine's documented no-per-row-errors posture). Masks over 15 X
      positions refuse (past the exact BIGINT-hex envelope).

    FM and masks with more than 18 integer digit positions refuse
    loudly (no silent mistranslation).
    """
    bare = fmt.strip()
    em = re.fullmatch(r"(S?)([09])(?:\.([09]+))?EEEE", bare.upper())
    if em:
        s = len(em.group(3) or "")
        spec = ("%+." if em.group(1) else "%.") + str(s) + "E"
        return f"format_string('{spec}', CAST(({x}) AS DOUBLE))"
    if bare and set(bare) <= {"X", "x"}:
        if len(set(bare)) != 1:
            raise ValueError(
                f"{name} format {fmt!r}: mixed-case hex mask"
            )
        if len(bare) > 15:
            raise ValueError(
                f"{name} format {fmt!r}: more than 15 hex positions"
                " exceeds the exact BIGINT envelope"
            )
        d = f"CAST(({x}) AS DECIMAL(38,0))"
        h = f"hex(CAST({d} AS BIGINT))"
        if bare[0] == "x":
            h = f"lower({h})"
        fill = "'" + "#" * len(bare) + "'"
        return (
            f"(CASE WHEN {d} < 0 OR {d} > 1152921504606846975"
            f" THEN {fill}"
            f" WHEN length({h}) > {len(bare)} THEN {fill}"
            f" ELSE {h} END)"
        )
    f = fmt.strip().upper().replace("G", ",").replace("D", ".")
    m = re.fullmatch(r"(S?)(\$?)([09,]*[09])(?:\.([09]*))?(MI|PR)?", f)
    if m is None:
        raise ValueError(
            f"{name} format {fmt!r} is not a supported numeric format"
            " (S, $, 0/9 digits, ',' groups, '.' decimal, trailing"
            " MI/PR; standalone [S]9[.99]EEEE and all-X hex masks"
            " lower; other combinations refuse)"
        )
    sign_explicit = bool(m.group(1))
    dollar = m.group(2)
    int_mask = m.group(3)
    frac = m.group(4) or ""
    trailing_sign = m.group(5)  # 'MI' | 'PR' | None
    if sign_explicit and trailing_sign:
        raise ValueError(
            f"{name} format {fmt!r}: S combined with {trailing_sign}"
            " puts the sign in two places"
        )
    ip = sum(ch in "09" for ch in int_mask)
    s = len(frac)
    if ip > 18:
        raise ValueError(
            f"{name} format {fmt!r}: more than 18 integer digit positions"
        )
    has_comma = "," in int_mask
    zpad = 0
    if "0" in int_mask:
        zpad = sum(ch in "09" for ch in int_mask[int_mask.index("0"):])
    if zpad and has_comma:
        raise ValueError(
            f"{name} format {fmt!r}: zero padding combined with group"
            " separators is not lowered"
        )
    d = f"CAST(({x}) AS DECIMAL(38,{s}))"
    a = f"ABS({d})"
    astr = f"CAST({a} AS STRING)"
    # DECIMAL(38,s) renders with exactly s decimals on both engines
    istr = f"substring_index({astr}, '.', 1)" if s else astr
    if has_comma:
        int_out = f"format_number(CAST({istr} AS BIGINT), 0)"
    elif zpad:
        int_out = (
            f"lpad({istr}, greatest(length({istr}), {zpad}), '0')"
        )
    else:
        int_out = istr
    body = int_out
    if s:
        body = f"concat({int_out}, '.', substring_index({astr}, '.', -1))"
    if trailing_sign == "MI":
        sign = "''"
        suffix = f"(CASE WHEN {d} < 0 THEN '-' ELSE ' ' END)"
    elif trailing_sign == "PR":
        sign = f"(CASE WHEN {d} < 0 THEN '<' ELSE '' END)"
        suffix = f"(CASE WHEN {d} < 0 THEN '>' ELSE ' ' END)"
    elif sign_explicit:
        sign = f"(CASE WHEN {d} < 0 THEN '-' ELSE '+' END)"
        suffix = "''"
    else:
        sign = f"(CASE WHEN {d} < 0 THEN '-' ELSE '' END)"
        suffix = "''"
    prefix = f"concat({sign}, '{dollar}')" if dollar else sign
    width = len(int_mask) + (s + 1 if s else 0)
    fill = "'" + "#" * width + "'"
    return (
        f"(CASE WHEN length({istr}) > {ip}"
        f" THEN concat({prefix}, {fill}, {suffix})"
        f" ELSE concat({prefix}, {body}, {suffix}) END)"
    )


def _fixed_point_sums(
    x: str, scale: int = 100, carrier: str = "DECIMAL(38,0)"
) -> dict[str, str]:
    """Exact moment machinery: round x to 1/``scale`` fixed-point and
    carry it as an INTEGER decimal (scale 0 — decimal multiplication
    can cap precision but never rounds a zero-scale value), so SUM(m),
    SUM(m^2), SUM(m^3), SUM(m^4) are exact integers whatever the
    partitioning/order, then convert to DOUBLE once. Skewness, excess
    kurtosis, slope and R^2 are invariant to the linear x -> 100x
    rescale, so the fixed-point factor cancels in every consumer
    except REGR_INTERCEPT (which divides it back out). Exactness
    envelope: |x| <= ~3e7 at 2 dp keeps m^4 under 38 digits; beyond
    that the SUM overflows to NULL loudly (never silently wrong).
    Inputs are rounded to 2 dp — the money/measure class this engine's
    determinism conventions target.

    Runtime envelope DETECTOR (ADVICE r11 #2 — neither hazard may
    produce a silently-wrong number):

    - ``n_inexact``: rows where the fixed-point rounding MOVED the
      value (x*scale not integral — all-decimal comparison, exact on
      both engines). Rounding noise is uniform on ±0.5 units
      (sd ~0.29); when the data's own sd in units is within ~10x of
      that, the moments are dominated by quantization — consumers NULL
      when ``n_inexact > 0`` and the rounded variance sits under
      ``_RESOLUTION_VAR_FLOOR`` units^2. Data already exact at the
      resolution (2-dp money) never trips it, whatever its variance.
    - Per-row cast overflow (|x| > ~1e32) is LOUD by the ANSI
      contract both engines run under: Spark (ANSI on, the engine's
      F4 posture) raises ARITHMETIC_OVERFLOW and DuckDB raises a
      Conversion Error — the counted-but-unsummed silent-skew mode
      ADVICE r11 #2 described requires a non-ANSI session this engine
      never creates (unit-pinned in the moment-aggregate battery).
      Detecting it with extra COUNT aggregates is exactly what pushed
      the f32 aggregate past whole-stage codegen's expression budget
      (measured 2.7x cliff at 60M rows), so the contract is enforced
      by configuration + test, not per-row bookkeeping.
    """
    # ``carrier`` is the exact-integer type holding the fixed-point
    # values: DECIMAL(38,0) on Spark; a DuckDB oracle twin passes
    # HUGEINT (int128) — same integers, so the DOUBLE conversions and
    # the (textually identical) closed-form arithmetic match bit-exact
    m = (
        f"CAST(ROUND(CAST(({x}) AS DECIMAL(38,6)) * {scale})"
        f" AS {carrier})"
    )
    d100 = f"(CAST(({x}) AS DECIMAL(38,6)) * {scale})"
    return {
        "n": f"CAST(COUNT({x}) AS DOUBLE)",
        "s1": f"CAST(SUM({m}) AS DOUBLE)",
        "s2": f"CAST(SUM({m} * {m}) AS DOUBLE)",
        "s3": f"CAST(SUM({m} * {m} * {m}) AS DOUBLE)",
        "s4": f"CAST(SUM({m} * {m} * {m} * {m}) AS DOUBLE)",
        "count": f"COUNT({x})",
        # m <> d100 detects rounding movement ~2.3x cheaper than a
        # second ROUND (measured, 60M rows). The carrier is explicitly
        # cast to DECIMAL(38,6) for the comparison: without it Spark's
        # (38,0)-vs-(38,6) promotion caps at 38 digits and ROUNDS the
        # fractional operand to scale 0 — silently equal, detector
        # dead. The explicit cast makes both engines compare in the
        # (38,6) domain exactly (values past ~1e32 throw, the ANSI
        # loud-overflow posture).
        "n_inexact": (
            f"COUNT(CASE WHEN CAST({m} AS DECIMAL(38,6)) <> {d100}"
            f" THEN 1 END)"
        ),
    }


# Quantization-noise floor for the fixed-point moment detectors: NULL
# a moment statistic when rounding moved any input AND the rounded
# variance is under this many units^2 (sd < 3 units = 0.03 at the
# default 2-dp scale, ~10x the +-0.5-uniform rounding noise's 0.29 sd).
_RESOLUTION_VAR_FLOOR = 9


def _skew_kurt_lower(
    name: str, x: str, carrier: str = "DECIMAL(38,0)"
) -> str:
    """Snowflake SKEW / KURTOSIS = the SAMPLE (bias-corrected, Excel
    SKEW/KURT) statistics, via exact central-moment expansions over
    :func:`_fixed_point_sums` (scale-invariant, so the fixed-point
    factor cancels). NULL below the defined arity (n<3 / n<4) and at
    zero variance — never an IEEE Inf/NaN in the output."""
    f = _fixed_point_sums(x, carrier=carrier)
    n, s1, s2, s3, s4 = f["n"], f["s1"], f["s2"], f["s3"], f["s4"]
    mu = f"(({s1}) / ({n}))"
    m2 = f"(({s2}) - ({s1}) * ({s1}) / ({n}))"  # sum (x-mu)^2
    svar = f"(({m2}) / (({n}) - 1))"
    # envelope detector (see _fixed_point_sums): variation below the
    # fixed-point resolution -> NULL, never a quantization-noise
    # artifact (cast overflow is loud by the ANSI contract).
    guards = (
        f"WHEN {f['n_inexact']} > 0"
        f" AND {m2} < {_RESOLUTION_VAR_FLOOR} * ({n}) THEN NULL"
    )
    # NO pow(): libm pow is not correctly rounded and differs across
    # engines in the last ulp; explicit IEEE multiplies and sqrt (which
    # IS correctly rounded everywhere) keep both dialects bit-identical
    if name == "SKEW":
        m3 = (
            f"(({s3}) - 3 * {mu} * ({s2})"
            f" + 2 * ({n}) * ({mu} * {mu} * {mu}))"
        )
        return (
            f"(CASE {guards}"
            f" WHEN {f['count']} < 3 OR {m2} <= 0 THEN NULL ELSE"
            f" (({n}) / ((({n}) - 1) * (({n}) - 2)))"
            f" * ({m3}) / (({svar}) * sqrt({svar})) END)"
        )
    m4 = (
        f"(({s4}) - 4 * {mu} * ({s3}) + 6 * ({mu} * {mu}) * ({s2})"
        f" - 3 * ({n}) * ({mu} * {mu} * {mu} * {mu}))"
    )
    return (
        f"(CASE {guards}"
        f" WHEN {f['count']} < 4 OR {m2} <= 0 THEN NULL ELSE"
        f" (({n}) * (({n}) + 1) / ((({n}) - 1) * (({n}) - 2)"
        f" * (({n}) - 3))) * ({m4}) / (({svar}) * ({svar}))"
        f" - 3 * ((({n}) - 1) * (({n}) - 1))"
        f" / ((({n}) - 2) * (({n}) - 3)) END)"
    )


def _regr_lower(
    kind: str, y: str, x: str, carrier: str = "DECIMAL(38,0)"
) -> str:
    """REGR_SLOPE / REGR_INTERCEPT / REGR_R2 over exact fixed-point
    sums; pairs with ANY null are excluded (the ANSI/Snowflake rule)
    via a CASE inside every aggregate. R2 follows the ANSI contract:
    NULL at zero x-variance, 1 at zero y-variance, else corr^2.

    Envelope detector (see _fixed_point_sums): the variance-dependent
    kinds NULL when rounding moved any input on either side and the
    relevant rounded variance sits under the quantization-noise floor
    (one fused COUNT across both sides — the guard only tests > 0, so
    per-side counts would buy nothing but aggregate-expression budget,
    which is what keeps the consumer's whole-stage codegen alive).
    AVGX / AVGY carry no detector — a mean's quantization error is
    bounded by half a unit, inside the documented 2-dp convention;
    per-row cast overflow is loud by the ANSI contract."""
    both = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
    mx = (
        f"CAST(ROUND(CAST((CASE WHEN {both} THEN ({x}) END)"
        f" AS DECIMAL(38,6)) * 100) AS {carrier})"
    )
    my = (
        f"CAST(ROUND(CAST((CASE WHEN {both} THEN ({y}) END)"
        f" AS DECIMAL(38,6)) * 100) AS {carrier})"
    )
    n = f"CAST(COUNT(CASE WHEN {both} THEN 1 END) AS DOUBLE)"
    cnt = f"COUNT(CASE WHEN {both} THEN 1 END)"
    sx = f"CAST(SUM({mx}) AS DOUBLE)"
    sy = f"CAST(SUM({my}) AS DOUBLE)"
    sxy = f"CAST(SUM({mx} * {my}) AS DOUBLE)"
    sx2 = f"CAST(SUM({mx} * {mx}) AS DOUBLE)"
    sy2 = f"CAST(SUM({my} * {my}) AS DOUBLE)"
    num = f"(({n}) * ({sxy}) - ({sx}) * ({sy}))"
    varx = f"(({n}) * ({sx2}) - ({sx}) * ({sx}))"
    vary = f"(({n}) * ({sy2}) - ({sy}) * ({sy}))"
    slope = f"(({num}) / ({varx}))"
    dx = f"(CAST((CASE WHEN {both} THEN ({x}) END) AS DECIMAL(38,6)) * 100)"
    dy = f"(CAST((CASE WHEN {both} THEN ({y}) END) AS DECIMAL(38,6)) * 100)"
    # one fused detector across both sides (identical text in every
    # kind -> ONE deduped aggregate in the consumer's plan); explicit
    # (38,6) carrier cast — see _fixed_point_sums's n_inexact note
    inexact = (
        f"COUNT(CASE WHEN CAST({mx} AS DECIMAL(38,6)) <> {dx}"
        f" OR CAST({my} AS DECIMAL(38,6)) <> {dy} THEN 1 END)"
    )
    floor2 = f"{_RESOLUTION_VAR_FLOOR} * ({n}) * ({n})"
    res = (
        f"WHEN {inexact} > 0 AND (({varx}) < {floor2}"
        f" OR ({vary}) < {floor2}) THEN NULL"
    )
    res_x = f"WHEN {inexact} > 0 AND ({varx}) < {floor2} THEN NULL"
    res_y = f"WHEN {inexact} > 0 AND ({vary}) < {floor2} THEN NULL"
    if kind == "AVGX":
        return (
            f"(CASE WHEN {cnt} < 1 THEN NULL"
            f" ELSE ({sx}) / (({n}) * 100) END)"
        )
    if kind == "AVGY":
        return (
            f"(CASE WHEN {cnt} < 1 THEN NULL"
            f" ELSE ({sy}) / (({n}) * 100) END)"
        )
    if kind == "SXX":
        # sum (x - avg x)^2 over non-null pairs; /100^2 unscales
        return (
            f"(CASE {res_x} WHEN {cnt} < 1 THEN NULL"
            f" ELSE (({sx2}) - ({sx}) * ({sx}) / ({n})) / 10000 END)"
        )
    if kind == "SYY":
        return (
            f"(CASE {res_y} WHEN {cnt} < 1 THEN NULL"
            f" ELSE (({sy2}) - ({sy}) * ({sy}) / ({n})) / 10000 END)"
        )
    if kind == "SXY":
        return (
            f"(CASE {res} WHEN {cnt} < 1 THEN NULL"
            f" ELSE (({sxy}) - ({sx}) * ({sy}) / ({n})) / 10000 END)"
        )
    if kind == "SLOPE":
        return (
            f"(CASE {res} WHEN {cnt} < 2 OR {varx} <= 0 THEN NULL"
            f" ELSE {slope} END)"
        )
    if kind == "INTERCEPT":
        # sums are in 100x fixed-point units; slope is scale-free, the
        # intercept divides the factor back out
        return (
            f"(CASE {res} WHEN {cnt} < 2 OR {varx} <= 0 THEN NULL"
            f" ELSE (({sy}) - {slope} * ({sx})) / (({n}) * 100) END)"
        )
    return (
        f"(CASE {res} WHEN {cnt} < 1 OR {varx} <= 0 THEN NULL"
        f" WHEN {vary} <= 0 THEN CAST(1.0 AS DOUBLE)"
        f" ELSE ({num}) * ({num}) / (({varx}) * ({vary})) END)"
    )


def _sf_number_format(name: str, fmt: str) -> tuple[int, int]:
    """Validate a Snowflake numeric format ('$9,999,999.99', 'S0000',
    'G'/'D' synonyms) and derive the result (precision, scale): every
    0/9 is a digit position, digits after the decimal marker set the
    scale. Elements without a clean parse lowering (MI trailing minus,
    PR angle brackets, X hex, EEEE) refuse."""
    f = fmt.strip().upper().replace("G", ",").replace("D", ".")
    m = re.fullmatch(r"(S?)(\$?)([09,]*[09])(?:\.([09]+))?", f)
    if m is None:
        raise ValueError(
            f"{name} format {fmt!r} is not a supported numeric format"
            " (S, $, 0/9 digits, ',' groups, '.' decimal; MI/PR/X/EEEE"
            " refuse)"
        )
    int_digits = sum(ch in "09" for ch in m.group(3))
    frac = m.group(4) or ""
    p, s = int_digits + len(frac), len(frac)
    if p > 38:
        raise ValueError(f"{name} format {fmt!r} implies precision {p} > 38")
    return p, s


_DATE_PART_CANON = {
    # Snowflake's documented date-part aliases -> (canonical Spark
    # interval unit, multiplier). WEEK/QUARTER aren't ANSI interval
    # qualifiers, so they scale into DAY/MONTH.
    **{k: ("YEAR", 1) for k in ("year", "y", "yy", "yyy", "yyyy", "yr", "years", "yrs")},
    **{k: ("MONTH", 3) for k in ("quarter", "q", "qtr", "qtrs", "quarters")},
    **{k: ("MONTH", 1) for k in ("month", "mm", "mon", "mons", "months")},
    **{k: ("DAY", 7) for k in ("week", "w", "wk", "weekofyear", "woy", "wy", "weeks")},
    **{k: ("DAY", 1) for k in ("day", "d", "dd", "days", "dayofmonth")},
    **{k: ("HOUR", 1) for k in ("hour", "h", "hh", "hr", "hours", "hrs")},
    **{k: ("MINUTE", 1) for k in ("minute", "m", "mi", "min", "minutes", "mins")},
    **{k: ("SECOND", 1) for k in ("second", "s", "sec", "seconds", "secs")},
}

# sub-second DATEADD parts (probe battery 8, r13): microseconds per
# unit; nanoseconds are flagged separately (amounts must be whole µs)
_NANOSECOND_PARTS = frozenset(
    ("nanosecond", "ns", "nsec", "nanosec", "nsecond", "nanoseconds",
     "nanosecs", "nseconds")
)
_SUBSECOND_PART_MICROS = {
    **{k: 1000 for k in ("millisecond", "ms", "msec", "milliseconds")},
    **{k: 1 for k in ("microsecond", "us", "usec", "microseconds")},
    **{k: 1 for k in _NANOSECOND_PARTS},
}


def _dateadd_rewrite(name: str, args: list) -> str:
    """DATEADD/TIMEADD/TIMESTAMPADD(part, n, expr) -> ``expr +
    INTERVAL 'n' <unit>`` — the only lowering that preserves
    Snowflake's RESULT TYPE rule (DATE + year/month/day parts stays
    DATE, time parts promote to TIMESTAMP; month-end clamping
    matches). The amount must be an integer literal: a column amount
    would force timestampadd, which silently promotes DATE results to
    TIMESTAMP — refuse instead."""
    if len(args) != 3:
        raise ValueError(f"{name} needs (part, amount, expr)")
    part = args[0].strip().strip("'\"").lower()
    n = args[1].strip()
    if not re.fullmatch(r"[+-]?\d+", n):
        raise ValueError(
            f"{name} amount must be an integer literal (got {n!r}) — a"
            " column amount has no type-preserving lowering (timestampadd"
            " would silently promote DATE results to TIMESTAMP)"
        )
    canon = _DATE_PART_CANON.get(part)
    if canon is None:
        # probe battery 8 (r13): sub-second parts as a fractional
        # SECOND interval (Spark's grammar has no sub-second unit).
        # Spark timestamps are microsecond-precision, so nanosecond
        # amounts must be whole microseconds — refuse a lossy add.
        mult_us = _SUBSECOND_PART_MICROS.get(part)
        if mult_us is None:
            raise ValueError(f"{name} date part {part!r} is not supported")
        if part in _NANOSECOND_PARTS:
            if int(n) % 1000:
                raise ValueError(
                    f"{name}(nanosecond): Spark timestamps carry"
                    " microsecond precision — the amount must be a"
                    f" multiple of 1000 ns (got {n})"
                )
            total_us = int(n) // 1000
        else:
            total_us = int(n) * mult_us
        sign = "-" if total_us < 0 else ""
        whole, frac = divmod(abs(total_us), 1_000_000)
        return (
            f"(({args[2]}) + INTERVAL '{sign}{whole}.{frac:06d}' SECOND)"
        )
    unit, mult = canon
    return f"(({args[2]}) + INTERVAL '{int(n) * mult}' {unit})"


def _to_boolean_rewrite(cast_fn: str, args: list) -> str:
    if len(args) != 1:
        raise ValueError("TO_BOOLEAN/TRY_TO_BOOLEAN take one argument")
    e = args[0]
    low = f"lower(CAST(({e}) AS STRING))"
    return (
        f"(CASE WHEN {low} = 'on' THEN true WHEN {low} = 'off' THEN false"
        f" ELSE {cast_fn}(({e}) AS BOOLEAN) END)"
    )


def _to_number_rewrite(name: str, cast_fn: str, args: list) -> str:
    """TO_NUMBER/TO_DECIMAL and TRY_ variants: (expr), (expr, p),
    (expr, p, s), and the r9 format-string forms (expr, '<fmt>'
    [, p [, s]]). A format strips the grouping/currency characters it
    declares ($ and ,) before the strict DECIMAL cast and supplies the
    default (p, s) from its digit layout."""
    fmt = _fmt_literal(args, 1, name)
    if fmt is not None and fmt.upper() != "AUTO":
        fp, fs = _sf_number_format(name, fmt)
        rest = args[2:]
        if len(rest) == 2 and rest[0].strip().isdigit() and rest[1].strip().isdigit():
            fp, fs = int(rest[0]), int(rest[1])
        elif len(rest) == 1 and rest[0].strip().isdigit():
            fp, fs = int(rest[0]), 0
        elif rest:
            raise ValueError(f"{name}: trailing args must be precision[, scale]")
        # probe battery 8 (r13): strip ONLY the group/currency
        # characters the mask DECLARES. The old unconditional '[,$]'
        # strip silently accepted TO_NUMBER('$12', '99') — input
        # characters the mask never declared, which Snowflake rejects;
        # now the undeclared character survives into the strict cast
        # and fails loudly (or yields NULL under TRY_).
        f_norm = fmt.strip().upper().replace("G", ",").replace("D", ".")
        strip_chars = "".join(
            c for c in ",$" if c in f_norm
        )
        if strip_chars:
            # '$' is literal inside a character class — no escaping
            stripped = f"regexp_replace({args[0]}, '[{strip_chars}]', '')"
        else:
            stripped = args[0]
        return f"{cast_fn}({stripped} AS DECIMAL({fp}, {fs}))"
    if len(args) == 1 or (fmt is not None and fmt.upper() == "AUTO" and len(args) == 2):
        return f"{cast_fn}({args[0]} AS DECIMAL(38, 0))"
    if len(args) == 2 and args[1].strip().isdigit():
        return f"{cast_fn}({args[0]} AS DECIMAL({args[1].strip()}, 0))"
    if len(args) == 3:
        p, s = args[1].strip(), args[2].strip()
        if p.isdigit() and s.isdigit():
            return f"{cast_fn}({args[0]} AS DECIMAL({p}, {s}))"
    raise ValueError(
        f"{name} supports (expr), (expr, precision[, scale]), or"
        f" (expr, '<format>'[, precision[, scale]])"
    )


def _get_path_rewrite(args: list) -> str:
    if len(args) != 2:
        raise ValueError("GET_PATH needs (variant, 'path')")
    p = args[1].strip()
    if not (len(p) >= 2 and p[0] == p[-1] and p[0] == "'"):
        raise ValueError(f"GET_PATH path must be a string literal, got: {p!r}")
    path = p[1:-1]
    if not re.fullmatch(
        r'(?:[A-Za-z_]\w*|"[^"]+")(?:\.(?:[A-Za-z_]\w*|"[^"]+")|\[\d+\])*', path
    ):
        raise ValueError(f"GET_PATH supports dotted identifier paths, got: {path!r}")
    jp_parts = []
    for m in re.finditer(r'[A-Za-z_]\w*|"[^"]+"|\[\d+\]', path):
        seg = m.group(0)
        if seg.startswith('"'):
            if "'" in seg:
                # same refusal as _flat_path_to_json_path: the bracket
                # rendering ['it's'] is not a parseable JSON path and
                # get_json_object would return NULL silently (ADVICE r8)
                raise ValueError(
                    f"quoted path segment cannot contain a single quote: {seg!r}"
                )
            jp_parts.append(f"['{seg[1:-1]}']")
        elif seg.startswith("["):
            jp_parts.append(seg)
        else:
            jp_parts.append(f".{seg}")
    jp = "$" + "".join(jp_parts)
    lit = f'"{jp}"' if "'" in jp else f"'{jp}'"
    return f"get_json_object({args[0]}, {lit})"


def _bad(name: str, args: list) -> str:
    raise ValueError(f"{name} expects a fixed arity, got {len(args)} args")


# argument heads that are unambiguously COMPOUND (native array/struct/
# map producers) — TO_JSON renders them with Spark's native to_json
_TO_JSON_COMPOUND_HEADS = (
    "named_struct", "struct", "array", "map", "map_from_entries",
    "map_from_arrays", "collect_list", "collect_set", "array_agg",
    "sort_array", "array_sort", "array_distinct", "array_compact",
    "arrays_zip", "sequence", "split", "flatten", "slice", "transform",
    # reverse/filter are string-or-array overloaded, but every engine
    # lowering that feeds them into TO_JSON produces arrays (the
    # ARRAY_AGG WITHIN GROUP chain emits reverse(array_sort(...)));
    # a user's string input fails loudly at analysis, never silently
    "reverse", "filter", "zip_with", "aggregate",
)


def _to_json_rewrite(args: list) -> str:
    """TO_JSON under the VARIANT-as-JSON-text convention. The lowered
    argument dispatches by shape: an emitted ``to_json(...)`` (the
    OBJECT_CONSTRUCT / ARRAY_AGG-WITHIN-GROUP lowerings) is ALREADY
    JSON text — identity, which also makes the head convergent when
    it re-matches an earlier pass's emission; string literals,
    ``get_json_object`` paths, and bare identifiers (VARIANT columns
    are JSON-text strings by convention) render via CAST; known
    compound constructors go through native ``to_json``. Anything
    else refuses loudly — ``concat`` and friends are string-or-array
    overloaded and a wrong guess silently changes the rendering. The
    2-arg form is Spark's native options spelling (the
    OBJECT_CONSTRUCT_KEEP_NULL lowering emits
    ``to_json(struct, map('ignoreNullFields', 'false'))``) and passes
    through unchanged."""
    if len(args) == 2:
        return f"to_json({args[0]}, {args[1]})"
    if len(args) != 1:
        return _bad("TO_JSON", args)
    core = args[0].strip()
    while (
        core.startswith("(")
        and balanced_end(core, 0) == len(core)
    ):
        core = core[1:-1].strip()
    low = core.lower()
    if re.match(r"^to_json\s*\(", low):
        return core
    if (
        re.fullmatch(r"'(?:[^']|'')*'", core)
        or re.match(r"^get_json_object\s*\(", low)
        or re.fullmatch(r"[A-Za-z_][\w.]*", core)
    ):
        return f"CAST(({core}) AS STRING)"
    head = re.match(r"^([a-z_]\w*)\s*\(", low)
    if head is not None and head.group(1) in _TO_JSON_COMPOUND_HEADS:
        return f"to_json({core})"
    raise ValueError(
        "TO_JSON: cannot tell whether the argument is JSON text or a"
        " native compound — pass a VARIANT producer (PARSE_JSON of a"
        " literal, OBJECT_CONSTRUCT, GET_PATH, a VARIANT column) or a"
        f" compound constructor directly; got: {core[:80]!r}"
    )


def _codec_call_rewrite(name: str, udf: str, args: list) -> str:
    """COMPRESS / DECOMPRESS_* -> the registered Arrow UDFs
    (functions/codecs.py). A LITERAL method outside zlib/bz2 refuses
    here (analysis-time, before any task runs); a non-literal method
    defers to the UDF's own per-value refusal."""
    if len(args) != 2:
        return _bad(name, args)
    m = args[1].strip()
    if len(m) >= 2 and m[0] == m[-1] == "'":
        method = m[1:-1].strip().lower().split("(")[0]
        if method not in ("zlib", "bz2"):
            raise ValueError(
                f"{name} method {m}: only 'zlib' and 'bz2' are"
                " available in this environment (zstd/snappy"
                " libraries absent — environment-gated)"
            )
    return f"{udf}(CAST(({args[0]}) AS BINARY), {args[1]})"


def _concat_ws_rewrite(args: list) -> str:
    """Snowflake CONCAT_WS(sep, v1 [, v2 ...]) — NULL-poisoning (see
    the map comment). Interleaves the separator into one concat();
    the single-value form still poisons on a NULL separator."""
    if len(args) < 2:
        return _bad("CONCAT_WS", args)
    sep = f"CAST(({args[0]}) AS STRING)"
    vals = [f"CAST(({a}) AS STRING)" for a in args[1:]]
    if len(vals) == 1:
        return f"(CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS STRING) ELSE {vals[0]} END)"
    parts = [vals[0]]
    for v in vals[1:]:
        parts += [sep, v]
    return f"concat({', '.join(parts)})"


def _decode_rewrite(args: list) -> str:
    if len(args) < 3:
        raise ValueError("DECODE needs (expr, search, result [, ...] [, default])")
    expr, rest = args[0], args[1:]
    # Snowflake DECODE matches NULL to NULL — null-safe equality
    branches = [
        f"WHEN ({expr}) <=> ({rest[i]}) THEN {rest[i + 1]}"
        for i in range(0, len(rest) - 1, 2)
    ]
    default = f" ELSE {rest[-1]}" if len(rest) % 2 == 1 else ""
    return "CASE " + " ".join(branches) + default + " END"


def _datediff_rewrite(args: list) -> str:
    if len(args) != 3:
        raise ValueError("DATEDIFF needs (part, start, end)")
    part = args[0].strip().strip("'\"").lower()
    a, b = args[1], args[2]
    # Snowflake counts date-part BOUNDARIES crossed, not complete
    # periods — datediff(day, 23:00, next 01:00) = 1. Probe battery 8
    # (r13) extended the part set from day/month/year to the full
    # family, each spelled as an explicit boundary count: truncate
    # both endpoints to the part, then count whole parts between the
    # truncations (timestampdiff counts COMPLETE periods — wrong by
    # one around every boundary).
    if part in {"day", "dd", "days"}:
        return _dd_day(a, b)
    if part in {"month", "mm", "mon", "mons", "months"}:
        return (
            f"((year(CAST(({b}) AS DATE)) - year(CAST(({a}) AS DATE))) * 12"
            f" + (month(CAST(({b}) AS DATE)) - month(CAST(({a}) AS DATE))))"
        )
    if part in {"year", "y", "yy", "yyy", "yyyy", "yr", "years", "yrs"}:
        return f"(year(CAST(({b}) AS DATE)) - year(CAST(({a}) AS DATE)))"
    if part in {"quarter", "q", "qtr", "qtrs", "quarters"}:
        return (
            f"((year(CAST(({b}) AS DATE)) - year(CAST(({a}) AS DATE))) * 4"
            f" + (quarter(CAST(({b}) AS DATE))"
            f" - quarter(CAST(({a}) AS DATE))))"
        )
    if part in {"week", "w", "wk", "weekofyear", "woy", "wy", "weeks"}:
        # ISO Monday-week boundaries (the engine's pinned profile):
        # truncate both to week start, count days, divide exactly by 7
        return (
            f"(date_diff(CAST(date_trunc('WEEK', {b}) AS DATE),"
            f" CAST(date_trunc('WEEK', {a}) AS DATE)) div 7)"
        )
    if part in {"hour", "h", "hh", "hr", "hours", "hrs"}:
        return _dd_subday(a, b, 3600)
    if part in {"minute", "m", "mi", "min", "minutes", "mins"}:
        return _dd_subday(a, b, 60)
    if part in {"second", "s", "sec", "seconds", "secs"}:
        # unix_timestamp truncates to whole seconds — already the
        # boundary count
        return (
            f"(unix_timestamp(CAST(({b}) AS TIMESTAMP))"
            f" - unix_timestamp(CAST(({a}) AS TIMESTAMP)))"
        )
    if part in {"millisecond", "ms", "msec", "milliseconds"}:
        # pmod-exact floor division: plain `div` truncates toward
        # zero, which miscounts boundaries for pre-1970 timestamps
        ua = f"unix_micros(CAST(({a}) AS TIMESTAMP))"
        ub = f"unix_micros(CAST(({b}) AS TIMESTAMP))"
        return (
            f"((({ub} - pmod({ub}, 1000)) div 1000)"
            f" - (({ua} - pmod({ua}, 1000)) div 1000))"
        )
    if part in {"microsecond", "us", "usec", "microseconds"}:
        return (
            f"(unix_micros(CAST(({b}) AS TIMESTAMP))"
            f" - unix_micros(CAST(({a}) AS TIMESTAMP)))"
        )
    if part in {"nanosecond", "ns", "nsec", "nanosec", "nsecond",
                "nanoseconds", "nanosecs", "nseconds"}:
        # Spark timestamps are microsecond-precision; the ns count is
        # exact (always a multiple of 1000), never an approximation
        return (
            f"((unix_micros(CAST(({b}) AS TIMESTAMP))"
            f" - unix_micros(CAST(({a}) AS TIMESTAMP))) * 1000)"
        )
    raise ValueError(f"DATEDIFF part {part!r} is not lowered")


def _dd_subday(a: str, b: str, unit_seconds: int) -> str:
    """Boundary count for hour/minute: floor-truncate both endpoints'
    epoch seconds to the unit, then take whole units between. floor
    (not int-div) keeps pre-1970 negative epochs on calendar
    boundaries."""
    fa = f"floor(unix_timestamp(CAST(({a}) AS TIMESTAMP)) / {unit_seconds})"
    fb = f"floor(unix_timestamp(CAST(({b}) AS TIMESTAMP)) / {unit_seconds})"
    return f"CAST({fb} - {fa} AS BIGINT)"


# ---------------------------------------------------------------------------
# Snowflake REGEXP_* argument forms (r9 session 2). Snowflake's regex
# functions carry position/occurrence/parameters/group arguments Spark's
# same-named builtins lack, and REGEXP_LIKE is IMPLICITLY FULL-MATCH
# anchored (Spark's is a substring search — a pasted predicate would
# silently match more rows). Everything lowers to JVM builtins; the
# emitted text is never rescanned (resume-after-replacement), so
# same-name heads like regexp_replace are safe to emit.
# ---------------------------------------------------------------------------


def _regex_params(name: str, args: list, idx: int) -> tuple[str, bool]:
    """Parse the Snowflake ``regex_parameters`` literal at ``args[idx]``
    into (inline-flag prefix, extract_mode). Default 'c' (case
    sensitive); of 'c'/'i' the LAST wins (documented); 's' and 'm' map
    to the identical Java/RE2 inline flags; 'e' switches SUBSTR to
    group extraction. Unknown letters refuse loudly."""
    if idx >= len(args):
        return "", False
    p = _fmt_literal(args, idx, name)
    if p is None:
        raise ValueError(f"{name}: regex parameters must be a string literal")
    ci = False
    extract = False
    flags: set[str] = set()
    for ch in p:
        if ch == "c":
            ci = False
        elif ch == "i":
            ci = True
        elif ch in ("s", "m"):
            flags.add(ch)
        elif ch == "e":
            extract = True
        else:
            raise ValueError(
                f"{name}: unsupported regex parameter {ch!r} (c/i/s/m/e)"
            )
    if ci:
        flags.add("i")
    return ("(?" + "".join(sorted(flags)) + ")") if flags else "", extract


def _regex_pattern(name: str, args: list, flags: str) -> str:
    """SQL literal for the (flag-prefixed) pattern. The pattern must be
    a string literal whenever flags apply — splicing inline flags into
    a runtime expression would need engine-side escaping we refuse to
    guess at."""
    pat = _fmt_literal(args, 1, name)
    if pat is None:
        if flags:
            raise ValueError(
                f"{name}: pattern must be a string literal when regex"
                " parameters are given"
            )
        return args[1]
    return _sql_str(flags + pat)


def _regex_int_literal(name: str, args: list, idx: int, default: int) -> int:
    if idx >= len(args):
        return default
    a = args[idx].strip()
    if not re.fullmatch(r"\d+", a):
        raise ValueError(
            f"{name}: argument {idx + 1} must be a non-negative integer"
            f" literal, got {a!r}"
        )
    return int(a)


_REGEXP_INFIX_RE = re.compile(r"\b(?:RLIKE|REGEXP)\b", re.IGNORECASE)
_INFIX_IDENT_RE = re.compile(r"[A-Za-z_][\w.]*")
_WS = re.compile(r"\s*")
_CONCAT_OP = re.compile(r"\s*\|\|\s*")


def _regexp_operand_end(sql: str, j: int) -> int:
    """End index of ONE pattern-operand segment starting at ``j``: a
    string literal, a balanced parenthesized expression, or an
    identifier (optionally a call). Anything else refuses — the infix
    operator cannot be anchored textually for shapes we cannot
    delimit."""
    n = len(sql)
    if j < n and sql[j] == "'":
        return string_end(sql, j)
    if j < n and sql[j] == "(":
        return balanced_end(sql, j)
    im = _INFIX_IDENT_RE.match(sql, j)
    if im is None:
        raise ValueError(
            "infix RLIKE/REGEXP pattern operand is not a string"
            " literal, parenthesized expression, or identifier:"
            f" {sql[j:j+40]!r} (Snowflake's infix operator is"
            " full-match anchored; this shape cannot be anchored"
            " textually)"
        )
    end = im.end()
    rest = sql[end:]
    if rest.lstrip().startswith("("):
        end = balanced_end(sql, sql.index("(", end))
    return end


def _operand_chain_end(sql: str, j: int) -> int:
    """End of a ``seg (|| seg)*`` pattern operand starting at ``j``."""
    end = _regexp_operand_end(sql, j)
    while (cm := _CONCAT_OP.match(sql, end)) is not None:
        end = _regexp_operand_end(sql, cm.end())
    return end


def rewrite_regexp_infix(sql: str) -> str:
    """Snowflake's INFIX ``subject [NOT] RLIKE|REGEXP pattern`` is
    FULL-MATCH anchored — the same contract as the function forms
    (probe battery 9, r13; the infix spelling previously passed
    through to Spark's substring-search operator and silently matched
    MORE rows). The pattern operand is anchored in place: literal
    patterns wrap at rewrite time, parenthesized / identifier /
    call-shaped pattern expressions wrap through concat; any other
    operand shape refuses loudly. Literal-aware (an 'RLIKE' inside a
    string is text, not an operator); the scan resumes past each
    rewritten operand, and already-anchored literals are left alone
    (idempotent under repeated lowering)."""
    pos = 0
    while True:
        m = _REGEXP_INFIX_RE.search(sql, pos)
        if m is None:
            return sql
        # inside quoted text or a comment?
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        j = _WS.match(sql, m.end()).end()
        if j >= len(sql):
            return sql
        if sql[j] == "(":
            end = balanced_end(sql, j)
            # `RLIKE(subject, pattern[, params])` — the FUNCTION form
            # (>= 2 top-level args) — belongs to the scalar-head pass;
            # a single top-level operand is the parenthesized INFIX
            # pattern and anchors below.
            if len(split_top_level(sql[j + 1 : end - 1], ",")) > 1:
                pos = end
                continue
        # parse the pattern operand as a ``seg (|| seg)*`` chain —
        # `x RLIKE 'a' || 'b'` binds the concatenation INTO the
        # pattern (|| is tighter than the comparison in both
        # dialects), so anchoring only the first literal would
        # silently corrupt the regex (r13 self-review)
        end = _operand_chain_end(sql, j)
        op = sql[j:end]
        if op.startswith("'") and op.endswith("'") and "||" not in op:
            inner = op[1:-1]
            if inner.startswith("^(?:") and inner.endswith(")$"):
                pos = end  # already anchored — idempotence guard
                continue
            repl = f"'^(?:{inner})$'"
        else:
            repl = f"concat('^(?:', {op}, ')$')"
        sql = sql[:j] + repl + sql[end:]
        pos = j + len(repl)


def _regexp_like_rewrite(name: str, args: list) -> str:
    if name in ("RLIKE", "REGEXP") and len(args) == 1:
        # head matched a parenthesized INFIX operand — but
        # rewrite_regexp_infix runs FIRST and anchors the operand
        # before this head can match, so by the time we get here the
        # single argument is already the anchored pattern: pass
        # through. (A genuinely malformed 1-arg CALL — a pasted
        # `RLIKE(pattern)` missing its subject — is textually
        # indistinguishable and is deferred to Spark's analyzer.)
        return f"{name}({args[0]})"
    if len(args) not in (2, 3):
        return _bad(name, args)
    flags, extract = _regex_params(name, args, 2)
    if extract:
        raise ValueError(f"{name}: parameter 'e' does not apply")
    pat = _fmt_literal(args, 1, name)
    if pat is not None:
        # inline flags HOISTED before the leading anchor so ^ and $ see
        # the same mode -- flags inside the group would leave ^ a
        # subject anchor while (?m) turns $ into a line anchor
        # (asymmetric anchoring no Snowflake mode has; r9 ADVICE)
        anchored = _sql_str(flags + "^(?:" + pat + ")$")
    else:
        if flags:
            raise ValueError(
                f"{name}: pattern must be a string literal when regex"
                " parameters are given"
            )
        anchored = f"concat('^(?:', {args[1]}, ')$')"
    # Snowflake REGEXP_LIKE is a FULL match (implicit ^...$); the
    # non-capturing wrap keeps top-level alternation inside the anchors
    return f"(({args[0]}) RLIKE {anchored})"


def _regexp_substr_rewrite(name: str, args: list) -> str:
    if not 2 <= len(args) <= 6:
        return _bad(name, args)
    flags, extract = _regex_params(name, args, 4)
    pos = _regex_int_literal(name, args, 2, 1)
    occ = _regex_int_literal(name, args, 3, 1)
    if pos < 1 or occ < 1:
        raise ValueError(f"{name}: position and occurrence must be >= 1")
    # Snowflake: specifying group_num IMPLIES 'e' (docs: "if you
    # specify group_num, Snowflake assumes extraction") -- a 6th arg
    # without an explicit 'e' is valid text, not an error (r9 ADVICE)
    if len(args) == 6:
        extract = True
    grp = _regex_int_literal(name, args, 5, 1) if extract else 0
    pat = _regex_pattern(name, args, flags)
    subject = args[0] if pos == 1 else f"substr({args[0]}, {pos})"
    return (
        f"try_element_at(regexp_extract_all({subject}, {pat}, {grp}), {occ})"
    )


def _regexp_count_rewrite(name: str, args: list) -> str:
    if not 2 <= len(args) <= 4:
        return _bad(name, args)
    flags, _ = _regex_params(name, args, 3)
    pos = _regex_int_literal(name, args, 2, 1)
    if pos < 1:
        raise ValueError(f"{name}: position must be >= 1")
    pat = _regex_pattern(name, args, flags)
    subject = args[0] if pos == 1 else f"substr({args[0]}, {pos})"
    return f"size(regexp_extract_all({subject}, {pat}, 0))"


def _regexp_instr_rewrite(name: str, args: list) -> str:
    if not 2 <= len(args) <= 6:
        return _bad(name, args)
    flags, extract = _regex_params(name, args, 5)
    if extract:
        raise ValueError(
            f"{name}: the 'e'/group form is not lowered (Spark's"
            " regexp_instr reports whole-match positions)"
        )
    pos = _regex_int_literal(name, args, 2, 1)
    occ = _regex_int_literal(name, args, 3, 1)
    opt = _regex_int_literal(name, args, 4, 0)
    if pos < 1:
        raise ValueError(f"{name}: position must be >= 1")
    if occ < 1:
        raise ValueError(f"{name}: occurrence must be >= 1")
    if opt not in (0, 1):
        raise ValueError(f"{name}: option must be 0 or 1")
    pat = _regex_pattern(name, args, flags)
    subject = args[0] if pos == 1 else f"substr({args[0]}, {pos})"
    if occ > 1:
        # n-th match position via the same splice as REGEXP_REPLACE's
        # occurrence form: 1 + |seg_1||m_1||…||seg_occ prefix| (+ the
        # match length when option=1), re-based by pos; 0 when fewer
        # matches exist. Same runtime zero-width guard; the prefix
        # length folds over ONE slice of the zipped pairs (arrays
        # bound once — see _splice_zip).
        m = f"regexp_extract_all({subject}, {pat}, 0)"
        g = f"split({subject}, {pat}, -1)"
        z = _splice_zip(subject, pat)
        before = (
            f"aggregate(slice({z}, 1, {occ - 1}), 0, (acc, p) ->"
            f" acc + length(p.s) + length(coalesce(p.mm, '')))"
        )
        end = f" + length(element_at({m}, {occ}))" if opt == 1 else ""
        bad, err = _occurrence_guard(name, subject, pat)
        return (
            f"(CASE WHEN size({m}) < {occ} THEN 0"
            f" WHEN {bad} THEN {err}"
            f" ELSE {pos - 1} + 1 + {before}"
            f" + length(element_at({g}, {occ})){end} END)"
        )
    base = f"regexp_instr({subject}, {pat})"
    if pos == 1 and opt == 0:
        return base
    # 0 stays 0 (no match); otherwise re-base to the full string and,
    # for option=1, add the match length (position AFTER the match)
    end = (
        f" + length(regexp_extract({subject}, {pat}, 0))" if opt == 1 else ""
    )
    return (
        f"(CASE WHEN {base} = 0 THEN 0"
        f" ELSE {base} + {pos - 1}{end} END)"
    )


def _java_replacement(name: str, raw: str) -> str:
    """Translate a Snowflake regex replacement to Java's ``$N`` form —
    at the RAW SQL-text level. Both Snowflake and Spark process C-style
    backslash escapes inside '...' literals, so a Snowflake backref is
    written ``\\\\N`` in the SQL text (string value ``\\N``); the raw
    span is rewritten to ``$N`` (value ``$N``, Java's backref), a
    Java-meaningful ``$`` is escaped to raw ``\\\\$`` (value ``\\$``),
    and an escaped backslash (raw ``\\\\\\\\``) passes through — the
    same raw spelling is a literal backslash in both grammars. Other
    escape sequences (``\\n`` …) mean the same character in both
    parsers and pass through untouched."""
    out: list[str] = []
    i = 0
    while i < len(raw):
        c = raw[i]
        nxt = raw[i + 1] if i + 1 < len(raw) else ""
        nxt2 = raw[i + 2] if i + 2 < len(raw) else ""
        if c == "\\" and nxt == "\\" and nxt2.isdigit():
            out.append("$" + nxt2)
            i += 3
        elif c == "\\" and nxt == "\\":
            out.append("\\\\")
            i += 2
        elif c == "$":
            out.append("\\\\$")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _splice_zip(subject: str, pat: str) -> str:
    """The (segment, match) pair array underlying the occurrence
    splice: ``split`` and ``regexp_extract_all`` run the SAME
    java.util.regex engine with the same leftmost-greedy find loop,
    so ``s == seg_1 || m_1 || … || m_n || seg_{n+1}`` exactly
    whenever the two agree on the match count (guarded at runtime).
    CRITICAL scale shape: both arrays are bound ONCE as ``zip_with``
    arguments — referencing ``element_at(split(...), i)`` inside a
    per-element lambda re-evaluates the whole split per element
    (higher-order functions are interpreted, not codegen'd), turning
    the splice O(len²) per row; measured 21x slower on real text.
    The last pair carries a NULL match (split is one longer)."""
    m = f"regexp_extract_all({subject}, {pat}, 0)"
    g = f"split({subject}, {pat}, -1)"
    return (
        f"zip_with({g}, {m}, (x, y) -> named_struct('s', x, 'mm', y))"
    )


def _occurrence_guard(name: str, subject: str, pat: str) -> str:
    """The zero-width defense: if ``split`` segments the subject
    differently than the find loop counts matches (possible only for
    patterns that can match the empty string, where Java's split
    drops a leading zero-width delimiter), the splice would silently
    reassemble a DIFFERENT string — refuse loudly at runtime instead."""
    m = f"regexp_extract_all({subject}, {pat}, 0)"
    g = f"split({subject}, {pat}, -1)"
    return (
        f"size({g}) <> size({m}) + 1"
    ), (
        f"raise_error('{name}: occurrence splice cannot segment this"
        f" subject (pattern matches a zero-width span — Java split and"
        f" the match loop disagree); rewrite the pattern to consume at"
        f" least one character')"
    )


def _regexp_replace_occurrence(
    name: str, args: list, pat: str, pos: int, occ: int
) -> str:
    """``REGEXP_REPLACE(s, pat, repl, pos, occ)`` with ``occ >= 1`` —
    replace ONLY the occ-th match (Snowflake semantics; the subject is
    returned unchanged when fewer matches exist). No Spark builtin
    addresses a single occurrence, but the whole operation is a
    deterministic SPLICE over two builtins that share one regex
    engine: ``split`` yields the between-match segments, ``regexp_
    extract_all`` the matches, and the result is
    ``seg_1||m_1||…||seg_occ || REPL || seg_{occ+1}||m_{occ+1}||…`` —
    all JVM-side, codegen-friendly, zero Python. Backreferences in the
    replacement refuse (the replacement is spliced literally, never
    re-matched — re-running the pattern against its own match text
    can bind groups differently). Runtime guard: see
    ``_occurrence_guard``."""
    raw = _fmt_literal(args, 2, name) if len(args) >= 3 else ""
    if raw is None:
        raise ValueError(
            f"{name}: replacement must be a string literal"
        )
    i = 0
    while i < len(raw) - 2:
        if raw[i] == "\\" and raw[i + 1] == "\\":
            if raw[i + 2].isdigit():
                raise ValueError(
                    f"{name}: backreferences are not supported with an"
                    " occurrence argument (the single-occurrence splice"
                    " inserts the replacement literally; re-matching the"
                    " pattern against its own match text to bind groups"
                    " is not guaranteed to reproduce the in-context"
                    " capture) — use occurrence 0 or restructure"
                )
            i += 2
            continue
        i += 1
    repl = _sql_str(raw)
    s = args[0] if pos == 1 else f"substr({args[0]}, {pos})"
    kept = "" if pos == 1 else f"substr({args[0]}, 1, {pos - 1}), "
    m = f"regexp_extract_all({s}, {pat}, 0)"
    z = _splice_zip(s, pat)
    # ONE indexed pass over the zipped pairs: every segment verbatim,
    # every match verbatim except the occ-th, which becomes REPL
    body = (
        f"array_join(transform({z}, (p, i) -> concat(p.s,"
        f" CASE WHEN i + 1 = {occ} THEN {repl}"
        f" ELSE coalesce(p.mm, '') END)), '')"
    )
    bad, err = _occurrence_guard(name, s, pat)
    return (
        f"(CASE WHEN size({m}) < {occ} THEN {args[0]}"
        f" WHEN {bad} THEN {err}"
        f" ELSE concat({kept}{body}) END)"
    )


def _array_sort_rewrite(args: list) -> str:
    if len(args) == 1:
        return f"array_sort({args[0]})"
    if len(args) not in (2, 3):
        return _bad("ARRAY_SORT", args)
    flags = []
    for a in args[1:]:
        v = a.strip().upper()
        if v not in ("TRUE", "FALSE"):
            raise ValueError(
                "ARRAY_SORT: sort_ascending / nulls_first must be the"
                " literal TRUE or FALSE (runtime flags cannot pick the"
                " Spark composition)"
            )
        flags.append(v == "TRUE")
    asc = flags[0]
    nulls_first = flags[1] if len(flags) == 2 else False
    a0 = args[0]
    if asc and not nulls_first:
        return f"array_sort({a0})"
    if asc and nulls_first:
        return f"sort_array({a0}, true)"
    if not asc and nulls_first:
        return f"reverse(array_sort({a0}))"
    return f"sort_array({a0}, false)"


def _regexp_substr_all_rewrite(args: list) -> str:
    """``REGEXP_SUBSTR_ALL(subject, pattern[, position[, occurrence[,
    params[, group_num]]]])`` (r12 s4 — closes the positional-variant
    refusal): every match in order; ``position`` starts the search
    (substr), ``occurrence`` drops matches BEFORE the occ-th
    (Snowflake: "the first occurrence from which to start returning
    matches" -> an array slice), params/'e'/group_num exactly as
    REGEXP_SUBSTR (a 6th arg implies 'e')."""
    name = "REGEXP_SUBSTR_ALL"
    if not 2 <= len(args) <= 6:
        return _bad(name, args)
    flags, extract = _regex_params(name, args, 4)
    pos = _regex_int_literal(name, args, 2, 1)
    occ = _regex_int_literal(name, args, 3, 1)
    if pos < 1 or occ < 1:
        raise ValueError(f"{name}: position and occurrence must be >= 1")
    if len(args) == 6:
        extract = True
    grp = _regex_int_literal(name, args, 5, 1) if extract else 0
    pat = _regex_pattern(name, args, flags)
    subject = args[0] if pos == 1 else f"substr({args[0]}, {pos})"
    base = f"regexp_extract_all({subject}, {pat}, {grp})"
    if occ == 1:
        return base
    return (
        f"slice({base}, {occ}, greatest(size({base}) - {occ - 1}, 0))"
    )


# Snowflake's DEFAULT INITCAP delimiter set (docs: whitespace plus
# this exact punctuation list; the apostrophe is NOT in it, so
# o'brien -> O'brien). Spelled as a Java regex character class.
_INITCAP_DEFAULT_CLASS = (
    "[\\s!?@\"^#$&~_,.:;+\\-*%/|\\\\\\[\\](){}<>]+"
)


def _initcap_rewrite(args: list) -> str:
    """``INITCAP(expr[, delimiters])`` (r12 s4): Snowflake
    capitalizes the first letter after ANY delimiter-set character
    and lowercases the rest — Spark's native ``initcap`` splits on
    spaces only, so even the 1-ARG form was a silent divergence for
    punctuation-adjacent words ('john-doe' -> 'John-Doe' in
    Snowflake). Both forms now lower to the split/extract_all splice:
    delimiter RUNS are preserved verbatim, each between-run segment
    gets first-char-upper + rest-lower (NOT Spark initcap — a
    segment may contain spaces that are not delimiters). The
    delimiter set must be a string literal (a runtime set cannot be
    compiled into the character class); '' means the whole string is
    one word."""
    if len(args) not in (1, 2):
        return _bad("INITCAP", args)
    s = args[0]

    def capseg(x: str) -> str:
        return (
            f"concat(upper(substring({x}, 1, 1)),"
            f" lower(substring({x}, 2)))"
        )

    if len(args) == 1:
        cls_value = _INITCAP_DEFAULT_CLASS
    else:
        raw = _fmt_literal(args, 1, "INITCAP")
        if raw is None:
            raise ValueError(
                "INITCAP: the delimiter set must be a string literal"
                " (a runtime set cannot be compiled into the regex"
                " character class)"
            )
        if raw == "":
            return f"({capseg(s)})"
        body = "".join(
            ("\\" + c) if c in "\\^]-[" else c for c in dict.fromkeys(raw)
        )
        cls_value = f"[{body}]+"
    # spell the class as a Spark string literal: the parser processes
    # C-style escapes inside '...', so every backslash doubles
    pat = "'" + cls_value.replace("\\", "\\\\").replace("'", "''") + "'"
    # ONE pass over the zipped (segment, delimiter-run) pairs; the
    # last pair's NULL run coalesces to '' (see _splice_zip for why
    # the arrays must be zip_with arguments, not lambda re-reads) —
    # NULL input propagates through zip_with/array_join naturally
    z = _splice_zip(s, pat)
    return (
        f"array_join(transform({z}, p ->"
        f" concat({capseg('p.s')}, coalesce(p.mm, ''))), '')"
    )


def _regexp_replace_rewrite(name: str, args: list) -> str:
    if not 2 <= len(args) <= 6:
        return _bad(name, args)
    flags, _ = _regex_params(name, args, 5)
    pos = _regex_int_literal(name, args, 3, 1)
    occ = _regex_int_literal(name, args, 4, 0)
    if pos < 1:
        raise ValueError(f"{name}: position must be >= 1")
    pat = _regex_pattern(name, args, flags)
    if occ != 0:
        return _regexp_replace_occurrence(name, args, pat, pos, occ)
    if len(args) >= 3:
        raw = _fmt_literal(args, 2, name)
        if raw is None:
            raise ValueError(
                f"{name}: replacement must be a string literal (Java's"
                " '$'/backslash replacement grammar differs from"
                " Snowflake's — a runtime expression would corrupt"
                " silently)"
            )
        repl = _sql_str(_java_replacement(name, raw))
    else:
        repl = "''"
    tail = f", {pos}" if pos != 1 else ""
    return f"regexp_replace({args[0]}, {pat}, {repl}{tail})"


# ---------------------------------------------------------------------------
# Snowflake calendar / timezone scalars (r9 session 2)
# ---------------------------------------------------------------------------


def _convert_timezone_rewrite(args: list) -> str:
    if len(args) == 2:
        # CONVERT_TIMEZONE(target, ts): Snowflake interprets a naive
        # ts in the SESSION timezone and returns the same instant as
        # TIMESTAMP_TZ in target. This engine pins TIMEZONE=UTC (its
        # determinism pin — ALTER SESSION refuses any other zone), so
        # the instant is the naive value read as UTC, and the result
        # is carried as the target-zone WALLCLOCK (TIMESTAMP_NTZ):
        # exactly the value Snowflake displays, minus the offset
        # annotation the engine's type system (deliberately) does not
        # carry. DST-correct via the JVM tz database.
        tgt, ts = args
        return f"from_utc_timestamp({ts}, {tgt})"
    if len(args) != 3:
        return _bad("CONVERT_TIMEZONE", args)
    src, tgt, ts = args
    # interpret the naive ts in src, re-express its instant in tgt —
    # exactly from_utc_timestamp∘to_utc_timestamp (DST-correct, both
    # ends named IANA zones resolved by the JVM tz database)
    return f"from_utc_timestamp(to_utc_timestamp({ts}, {src}), {tgt})"


_DATE_PART_FN = {
    # DATE_PART aliases -> plain Spark function heads (never rescanned)
    **{k: "year" for k in ("year", "y", "yy", "yyy", "yyyy", "yr", "years")},
    **{k: "quarter" for k in ("quarter", "q", "qtr", "quarters")},
    **{k: "month" for k in ("month", "mm", "mon", "months")},
    **{k: "day" for k in ("day", "d", "dd", "days", "dayofmonth")},
    **{k: "dayofyear" for k in ("dayofyear", "yearday", "doy", "dy")},
    **{k: "hour" for k in ("hour", "h", "hh", "hr", "hours")},
    **{k: "minute" for k in ("minute", "mi", "min", "minutes")},
    **{k: "second" for k in ("second", "s", "sec", "seconds")},
    # WEEK/WEEKISO both map to ISO weekofyear: this engine pins
    # WEEK_OF_YEAR_POLICY = 0 + WEEK_START = 1 (the ISO profile);
    # Snowflake's other session profiles are refused by omission
    **{k: "weekofyear" for k in ("week", "wk", "weekofyear", "woy", "wy",
                                 "weekiso", "week_iso", "weekofyeariso")},
}


def _date_part_rewrite(args: list) -> str:
    if len(args) != 2:
        return _bad("DATE_PART", args)
    part = args[0].strip().strip("'\"").lower()
    x = args[1]
    if part in ("epoch_second", "epoch_seconds", "epoch"):
        return f"unix_timestamp({x})"
    if part in ("epoch_millisecond", "epoch_milliseconds"):
        return f"unix_millis(CAST({x} AS TIMESTAMP))"
    if part in ("dayofweekiso", "weekday_iso", "dow_iso"):
        return f"((dayofweek({x}) + 5) % 7 + 1)"
    if part in ("yearofweekiso", "yearofweek"):
        return f"extract(YEAROFWEEK FROM {x})"
    if part in ("dayofweek", "weekday", "dow", "dw"):
        # Probe battery 8 (r13): previously refused as session-
        # parameter-dependent, but this engine PINS the ISO profile
        # (WEEK_OF_YEAR_POLICY=0, WEEK_START legacy/ISO — see
        # _DATE_PART_FN), under which DAYOFWEEK == DAYOFWEEKISO:
        # Monday=1..Sunday=7. Other profiles remain refused by the
        # session pin itself, not by this part.
        return f"((dayofweek({x}) + 5) % 7 + 1)"
    fn = _DATE_PART_FN.get(part)
    if fn is None:
        raise ValueError(f"DATE_PART part {part!r} is not lowered")
    return f"{fn}({x})"


_WITHIN_GROUP_RE = re.compile(
    r"\s*WITHIN\s+GROUP\s*\(", re.IGNORECASE
)
_ORDER_BY_BODY_RE = re.compile(
    r"^\s*ORDER\s+BY\s+(?P<expr>.+?)\s*(?P<dir>ASC|DESC)?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_WINFN_HEAD = re.compile(
    r"\b(?P<fn>RATIO_TO_REPORT|CONDITIONAL_TRUE_EVENT|CONDITIONAL_CHANGE_EVENT)"
    r"\s*\(",
    re.IGNORECASE,
)
_OVER_RE = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def rewrite_window_dialect(sql: str) -> str:
    """Lower the Snowflake-specific window functions (r8):

    - ``RATIO_TO_REPORT(x) OVER (w)`` -> ``x / SUM(x) OVER (w)`` as
      one double division (the share-of-partition idiom).
    - ``CONDITIONAL_TRUE_EVENT(cond) OVER (w)`` -> running count of
      rows where cond held, with an explicit ROWS frame (Snowflake's
      row-based semantics; a default RANGE frame would double-count
      order-key ties).
    - ``CONDITIONAL_CHANGE_EVENT(expr) OVER (w)`` -> the
      gaps-and-islands run id (exactly the MATCH_RECOGNIZE engine's
      __chg/running-sum construction): 0 on each partition's first row,
      +1 whenever expr IS DISTINCT FROM the previous row's value. A
      window function cannot nest inside another's argument, so the
      per-row change flag is computed in a WRAPPED subquery (the
      QUALIFY pattern) and the outer call becomes a running SUM over
      it. First-row detection uses ``LAG(named_struct('v', expr))`` —
      NULL only at the partition edge, so a NULL-valued expr mid-run
      still compares correctly.

    CHANGE_EVENT requires the plain SELECT ... FROM shape (trailing
    ORDER BY / LIMIT stay on the outer query); other shapes refuse.
    """
    cce = []  # (placeholder, inner_col_sql, outer_sql)
    out = sql
    while True:
        m = _WINFN_HEAD.search(out)
        if m is None:
            break
        fn = m.group("fn").upper()
        open_idx = out.index("(", m.end() - 1)
        close = balanced_end(out, open_idx)
        arg = out[open_idx + 1 : close - 1].strip()
        om = _OVER_RE.match(out[close:])
        if om is None:
            raise ValueError(f"{fn} requires an OVER (...) clause")
        w_open = close + om.end() - 1
        w_close = balanced_end(out, w_open)
        win = out[w_open + 1 : w_close - 1].strip()
        rows_frame = f"{win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if fn == "RATIO_TO_REPORT":
            repl = (
                f"(CAST(({arg}) AS DOUBLE)"
                f" / CAST(SUM({arg}) OVER ({win}) AS DOUBLE))"
            )
        elif fn == "CONDITIONAL_TRUE_EVENT":
            repl = (
                f"SUM(CASE WHEN ({arg}) THEN 1 ELSE 0 END)"
                f" OVER ({rows_frame})"
            )
        else:  # CONDITIONAL_CHANGE_EVENT
            i = len(cce)
            inner = (
                f"CASE WHEN LAG(named_struct('v', ({arg}))) OVER ({win}) IS NULL"
                f" THEN 0 WHEN ({arg}) IS DISTINCT FROM LAG({arg}) OVER ({win})"
                f" THEN 1 ELSE 0 END AS __cce_{i}"
            )
            repl = f"SUM(__cce_{i}) OVER ({rows_frame})"
            cce.append(inner)
        out = out[: m.start()] + repl + out[w_close:]
    if not cce:
        return out
    sel = find_keyword(out, "SELECT")
    frm = find_keyword(out, "FROM", start=sel)
    if sel < 0 or frm < 0:
        raise ValueError(
            "CONDITIONAL_CHANGE_EVENT needs the plain SELECT ... FROM shape"
        )
    select_list = out[sel + len("SELECT") : frm].strip()
    tail_at = len(out)
    for kw in ("ORDER", "LIMIT"):
        k = find_keyword(out, kw, start=frm)
        if 0 <= k < tail_at:
            tail_at = k
    rest = out[frm:tail_at].strip().rstrip(";")
    tail = out[tail_at:].strip().rstrip(";")
    inner_cols = ", ".join(cce)
    return (
        f"SELECT {select_list} FROM (SELECT *, {inner_cols} {rest})"
        + (f" {tail}" if tail else "")
    )


# ---------------------------------------------------------------------------
# Snowflake value-window DEFAULT FRAMES (probe battery 10, r14).
# Snowflake documents FIRST_VALUE / LAST_VALUE / NTH_VALUE as
# defaulting to the ENTIRE window — "ROWS BETWEEN UNBOUNDED PRECEDING
# AND UNBOUNDED FOLLOWING" — an explicit, documented deviation from
# the ANSI default that Spark follows (RANGE UNBOUNDED PRECEDING ..
# CURRENT ROW). On a frameless ``LAST_VALUE(x) OVER (PARTITION BY p
# ORDER BY o)`` Spark silently returns the CURRENT row's value where
# Snowflake returns the partition's last — the classic wrong-answer
# trap, so the lowering appends the whole-window ROWS frame whenever
# the OVER clause has a top-level ORDER BY and no explicit frame.
# (Frameless AGGREGATE windows are NOT touched: Snowflake's implied
# cumulative frame there matches the ANSI RANGE default Spark uses —
# tie behavior pinned by f43's oracle.) NTH_VALUE's ``FROM FIRST`` is
# the default and drops; ``FROM LAST`` has no Spark spelling and
# refuses with the reverse-the-ORDER-BY rewrite.
# ---------------------------------------------------------------------------

_VALUE_WIN_HEAD = re.compile(
    r"\b(?P<fn>FIRST_VALUE|LAST_VALUE|NTH_VALUE)\s*\(", re.IGNORECASE
)
_FROM_DIR_RE = re.compile(r"\s*FROM\s+(?P<dir>FIRST|LAST)\b", re.IGNORECASE)
_NULLS_OPT_RE = re.compile(r"\s*(?:IGNORE|RESPECT)\s+NULLS\b", re.IGNORECASE)
_WHOLE_FRAME = " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def rewrite_value_window_frames(sql: str) -> str:
    pos = 0
    while True:
        m = _VALUE_WIN_HEAD.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        fn = m.group("fn").upper()
        close = balanced_end(sql, m.end() - 1)
        i = close
        fm = _FROM_DIR_RE.match(sql[i:])
        if fm is not None:
            # Only a real NTH_VALUE modifier if (after an optional
            # IGNORE/RESPECT NULLS) an OVER follows — a table literally
            # named "first"/"last" ('SELECT FIRST_VALUE(v) FROM first')
            # is a genuine FROM clause and must ride through (advice
            # r14).
            k = i + fm.end()
            knm = _NULLS_OPT_RE.match(sql[k:])
            if knm is not None:
                k += knm.end()
            if _OVER_RE.match(sql[k:]) is None:
                fm = None
        if fm is not None:
            if fm.group("dir").upper() == "LAST":
                raise ValueError(
                    f"{fn} ... FROM LAST has no Spark spelling — reverse"
                    " the window's ORDER BY direction and use FROM FIRST"
                )
            # FROM FIRST is the default: drop the tokens
            sql = sql[:i] + sql[i + fm.end():]
        nm = _NULLS_OPT_RE.match(sql[i:])
        if nm is not None:
            i += nm.end()
        om = _OVER_RE.match(sql[i:])
        if om is None:
            pos = close  # bare aggregate use (no OVER): leave untouched
            continue
        w_open = i + om.end() - 1
        w_close = balanced_end(sql, w_open)
        win = sql[w_open + 1 : w_close - 1]
        has_order = find_keyword(win, "ORDER") >= 0
        has_frame = any(
            find_keyword(win, kw) >= 0
            for kw in ("ROWS", "RANGE", "GROUPS")
        )
        if has_order and not has_frame:
            sql = sql[: w_close - 1] + _WHOLE_FRAME + sql[w_close - 1 :]
            pos = w_close + len(_WHOLE_FRAME)
        else:
            pos = w_close
    return sql


# ---------------------------------------------------------------------------
# Default NULL ORDERING (probe battery 12, r14). Snowflake and Spark
# document OPPOSITE defaults: Snowflake sorts NULLs LAST on ASC and
# FIRST on DESC; Spark sorts NULLs FIRST on ASC and LAST on DESC. On
# any ORDER BY over a nullable key — a window's ORDER BY feeding
# row_number/rank/first_value, or a top-k's sort — the NULL rows
# silently land at the other end. The lowering appends the explicit
# Snowflake placement to every sort item that does not already carry
# a NULLS FIRST/LAST clause, in final ORDER BYs and window ORDER BYs
# alike. (DuckDB's default is NULLS LAST in BOTH directions, so
# oracles for DESC cases must also spell it explicitly.)
# ---------------------------------------------------------------------------

_ORDER_BY_HEAD = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_NULLS_TAIL = re.compile(r"(?i)\bNULLS\s+(FIRST|LAST)\s*$")
_DESC_TAIL = re.compile(r"(?i)\bDESC\s*$")
_ASC_TAIL = re.compile(r"(?i)\bASC\s*$")
# keywords that terminate an ORDER BY list at its own paren depth
_ORDER_STOP = re.compile(
    r"(?i)\b(LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|UNION|EXCEPT|"
    r"INTERSECT|MINUS|WINDOW|QUALIFY|FOR)\b"
)
_ORDER_TOKEN = re.compile(r"[(),;]|\w+")


def _annotate_order_item(item: str) -> str:
    body = item.rstrip()
    pad = item[len(body):]
    if not body or _NULLS_TAIL.search(body):
        return item
    if _DESC_TAIL.search(body):
        return body + " NULLS FIRST" + pad
    return body + " NULLS LAST" + pad


def rewrite_null_ordering(sql: str) -> str:
    pos = 0
    while True:
        m = _ORDER_BY_HEAD.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        # walk the sort list: items split on depth-0 commas; the list
        # ends at a depth-0 stop keyword, an unbalanced ')', a
        # statement terminator (verbatim pasted text keeps it), or EOS
        depth = 0
        items: list[str] = []
        start = m.end()
        end = len(sql)
        for t in code_tokens(sql, _ORDER_TOKEN, start):
            c = t.group()
            if c == "(":
                depth += 1
            elif depth == 0 and (c == ")" or c == ";" or _ORDER_STOP.fullmatch(c)):
                end = t.start()
                break
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 0:
                items.append(sql[start : t.start()])
                start = t.end()
        if end > start or items:
            items.append(sql[start:end])
        new_list = ",".join(_annotate_order_item(it) for it in items)
        sql = sql[: m.end()] + new_list + sql[end:]
        # resume from the HEAD, not past the list: an ORDER BY nested
        # inside a sort item (ORDER BY ROW_NUMBER() OVER (ORDER BY b))
        # must be annotated too. The re-scan is safe — already-
        # annotated items are idempotent via _NULLS_TAIL, and the
        # search never re-matches this head (it starts past it).
        # (advice r14)
        pos = m.end()
    return sql


_LIMIT_NULL_RE = re.compile(r"\bLIMIT\s+(?:NULL\b|'')", re.IGNORECASE)


def rewrite_limit_null(sql: str) -> str:
    """Snowflake documents ``LIMIT NULL`` (and the equivalent
    ``LIMIT ''``) as "no limit applied"; Spark's parser requires an
    integer limit expression and refuses the paste (probe battery 13,
    r15). Strip the clause at any nesting depth — an OFFSET that
    follows survives as a bare OFFSET, which Spark supports."""
    pos = 0
    while True:
        m = _LIMIT_NULL_RE.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        sql = sql[: m.start()] + sql[m.end():]
        pos = m.start()
    return sql


# ---------------------------------------------------------------------------
# String-literal ESCAPE SEQUENCES (probe battery 13c, r15). Snowflake
# documents ``\f`` (form feed, 0x0C) and ``\xhh`` (two-hex-digit
# char) among its single-quote escape sequences; Spark's literal
# parser supports neither — it silently DROPS the backslash, so the
# pasted value gains a stray 'f' / 'x41' instead of the control or
# hex character. Both engines agree on \b \n \r \t \0 \' \" \\ and
# \uXXXX (probed), so the fix respells just the two divergent forms
# as the \uXXXX Spark understands, inside single-quoted literals
# only. Runs FIRST in the lowering so every later literal-aware pass
# sees already-converged text.
# ---------------------------------------------------------------------------

def rewrite_dollar_strings(sql: str) -> str:
    """Snowflake ``$$...$$`` dollar-quoted strings in the plain-query
    path (r15; the scripting executor already handles them in
    procedure bodies — functions/scripting.py). The body is RAW in
    Snowflake (no escape processing, newlines allowed), so it lowers
    to a '...' literal with backslashes and quotes self-escaped.
    A ``$$`` inside quoted text or a comment is text."""
    if lex(sql).unclosed == DOLLAR:
        raise ValueError("unterminated $$...$$ string")
    return replace_spans(
        sql,
        DOLLAR,
        lambda t: "'" + t[2:-2].replace("\\", "\\\\").replace("'", "''") + "'",
    )


# one backslash pair: \xhh (group 1) or any other escaped char (group 2)
_LITERAL_ESC_RE = re.compile(r"\\(?:x([0-9A-Fa-f]{2})|([\s\S]))")


def _literal_escape(m: "re.Match[str]") -> str:
    if m.group(1) is not None:
        return "\\u00" + m.group(1).upper()
    return "\\u000C" if m.group(2) == "f" else m.group(0)


def rewrite_literal_escapes(sql: str) -> str:
    return replace_spans(
        sql, STRING, lambda t: _LITERAL_ESC_RE.sub(_literal_escape, t)
    )


# ---------------------------------------------------------------------------
# LIKE default-escape semantics (probe battery 13b, r15). Snowflake
# documents NO default escape character for LIKE/ILIKE — a backslash
# in the pattern is a literal backslash unless an explicit ESCAPE
# clause names one. Spark's LIKE treats backslash as the DEFAULT
# escape: 'a\%b' silently matches a literal '%' (Snowflake: literal
# backslash + wildcard) and 'a\b' dies with INVALID_FORMAT. With an
# explicit ESCAPE clause both engines agree (probed: only the named
# character escapes; backslash is literal), so ESCAPE'd predicates
# pass through untouched. The rewrite doubles backslashes in literal
# patterns and wraps expression patterns in a replace() — both
# no-ops when no backslash is present (literals are only touched if
# they contain one, so constant-prefix pushdown is unaffected).
# ---------------------------------------------------------------------------

_LIKE_INFIX_RE = re.compile(r"\b(?:LIKE|ILIKE)\b", re.IGNORECASE)
_LIKE_QUANT_RE = re.compile(r"\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE)
_ESCAPE_KW_RE = re.compile(r"\s*ESCAPE\b", re.IGNORECASE)
_BS_DOUBLED = "chr(92), concat(chr(92), chr(92))"


def _like_fix_literal(op: str) -> str:
    """Make value-level backslashes literal in a '...'-pattern.

    Two interpretation layers stack: the string-LITERAL layer (both
    engines parse C-style escapes, so raw ``\\\\`` is one backslash
    in the pattern VALUE) and the LIKE layer (where the value-level
    backslash is literal in Snowflake but the escape in Spark). The
    fix doubles exactly the ``\\\\`` pairs — the only raw spelling
    that yields a value backslash — so the value reaching Spark's
    matcher carries the self-escaped ``\\\\\\\\``. Single-backslash
    escape sequences (``\\n``, ``\\t``, …) produce no value
    backslash and must ride through untouched."""
    out = []
    i = 0
    n = len(op)
    while i < n:
        if op[i] == "\\":
            if i + 1 < n and op[i + 1] == "\\":
                out.append("\\\\\\\\")
                i += 2
                continue
            # \u005C (the respelling rewrite_literal_escapes emits for
            # \x5c) and a raw \x5c both yield a VALUE backslash too —
            # double them the same way (ADVICE r15 #5)
            if op[i : i + 6].upper() == "\\U005C":
                out.append(op[i : i + 6] * 2)
                i += 6
                continue
            if op[i : i + 4].upper() == "\\X5C":
                out.append(op[i : i + 4] * 2)
                i += 4
                continue
            out.append(op[i : i + 2])
            i += 2
        else:
            out.append(op[i])
            i += 1
    return "".join(out)


def rewrite_like_default_escape(sql: str) -> str:
    pos = 0
    while True:
        m = _LIKE_INFIX_RE.search(sql, pos)
        if m is None:
            return sql
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        qm = _LIKE_QUANT_RE.match(sql, m.end())
        if qm is not None:
            # LIKE ANY/ALL (p1, p2, ...): fix each literal item;
            # expression items get the same value-level replace()
            # wrap as the scalar path (a no-op without backslashes)
            open_idx = qm.end() - 1
            close = balanced_end(sql, open_idx)
            items = split_top_level(sql[open_idx + 1 : close - 1], ",")
            fixed = ", ".join(
                _like_fix_literal(it.strip())
                if it.strip().startswith("'")
                else f"replace({it.strip()}, {_BS_DOUBLED})"
                for it in items
            )
            if _ESCAPE_KW_RE.match(sql, close):
                pos = close  # explicit escape: both engines agree
                continue
            sql = sql[: open_idx + 1] + fixed + sql[close - 1 :]
            pos = open_idx + 1 + len(fixed) + 1
            continue
        j = _WS.match(sql, m.end()).end()
        if j >= len(sql):
            return sql
        # pattern operand, including a || chain (binds tighter). A
        # shape the delimiter cannot parse rides through untouched —
        # this pass is an emulation upgrade, never a new refusal (a
        # backslash in such a pattern still dies loudly at runtime).
        try:
            end = _operand_chain_end(sql, j)
        except ValueError:
            pos = m.end()
            continue
        if _ESCAPE_KW_RE.match(sql, end):
            pos = end  # explicit escape: both engines agree
            continue
        op = sql[j:end]
        if op.startswith("'") and op.endswith("'") and "||" not in op:
            if "\\\\" not in op:
                # no value-level backslash (single-\ escape sequences
                # yield control chars, not backslashes): untouched
                pos = end
                continue
            repl = _like_fix_literal(op)
        else:
            repl = f"replace({op}, {_BS_DOUBLED})"
        sql = sql[:j] + repl + sql[end:]
        pos = j + len(repl)


# ---------------------------------------------------------------------------
# WHERE-clause column aliases (probe battery 13d, r15). Snowflake
# documents a proprietary EXTENSION: a SELECT-list alias is visible
# in the same statement's WHERE clause ("Snowflake allows column
# aliases to be referenced in the WHERE clause"), with the REAL
# column winning on a name conflict. Spark resolves WHERE against
# the child relation only, so an alias-only reference dies with
# UNRESOLVED_COLUMN. The repair is ERROR-DRIVEN, which makes it
# provably faithful: it runs only after Spark's analyzer has
# established the name is NOT a real column — exactly the case where
# Snowflake's own precedence falls through to the alias. When the
# name DOES resolve as a column, Spark succeeds with column
# semantics, which is Snowflake's conflict rule — parity without any
# rewrite.
# ---------------------------------------------------------------------------

_WHERE_STOP_KWS = (
    "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT",
    "OFFSET", "FETCH", "UNION", "INTERSECT", "EXCEPT", "MINUS",
)


def substitute_where_alias(sql: str, name: str) -> str | None:
    """Replace bare references to SELECT-list alias ``name`` inside
    the TOP-level WHERE clause with the alias's parenthesized
    expression. Returns None when the repair does not apply (no such
    top-level ``AS name`` item, no top-level WHERE, or no bare
    reference in it) — the caller re-raises the original analyzer
    error."""
    sel = _SELECT_HEAD_RE.match(sql)
    if sel is None:
        return None
    from_at = find_keyword(sql, "FROM")
    if from_at < 0:
        return None
    expr = None
    for item in split_top_level(sql[sel.end(): from_at], ","):
        m = re.search(
            r"(?is)^\s*(.*\S)\s+AS\s+" + re.escape(name) + r"\s*$", item
        )
        if m is not None:
            expr = m.group(1)
            break
    if expr is None:
        return None
    where_at = find_keyword(sql, "WHERE")
    if where_at < 0 or where_at < from_at:
        return None
    end = len(sql)
    for kw in _WHERE_STOP_KWS:
        k = find_keyword(sql, kw, where_at)
        if k >= 0:
            end = min(end, k)
    clause = sql[where_at:end]
    ref = re.compile(
        r'(?<![\w.$"])' + re.escape(name) + r"(?![\w$])(?!\s*\()",
        re.IGNORECASE,
    )
    new_clause = sub_in_code(ref, lambda _m: f"({expr})", clause)
    if new_clause == clause:
        return None
    return sql[:where_at] + new_clause + sql[end:]


# ---------------------------------------------------------------------------
# GROUPING SETS pre-aggregate factoring (r15 — generalizes x29 into
# the lowering, VERDICT r14 #2). Spark plans GROUP BY GROUPING SETS
# as Expand — one copy of EVERY input row per set — then one
# aggregate: O(sets x rows) expanded rows. When the aggregates are
# decomposable (SUM / COUNT / MIN / MAX) the algebra factors:
# aggregate to the FINEST GRAIN (the union of all set keys) first —
# one ordinary map-side-combined shuffle — then run the grouping sets
# over the tiny intermediate with aggregates-of-partials (COUNT
# becomes COALESCE(SUM(cnt), 0) so the empty-input global row keeps
# COUNT = 0). Identical results (x29's oracle IS the direct query);
# measured 5.9x at sf10-equivalent, and the gap grows with input size
# at fixed key cardinality. Catalyst does not perform this factoring.
#
# The rewrite applies only when it is provably safe from the text:
# a single plain SELECT (no WITH / set operators / DISTINCT / nested
# subqueries or windows in the select list or tail), bare-identifier
# set keys, >= 2 sets, and no non-decomposable aggregate anywhere in
# the select list / HAVING / ORDER BY. Anything else keeps the
# direct Expand plan — a fallback, never a refusal: the direct plan
# is correct, just not the 100 TB shape.
# ---------------------------------------------------------------------------

_GS_HEAD_RE = re.compile(
    r"\bGROUP\s+BY\s+GROUPING\s+SETS\s*\(", re.IGNORECASE
)
_GS_AGG_RE = re.compile(r"\b(?P<fn>SUM|COUNT|MIN|MAX)\s*\(", re.IGNORECASE)
# (r16: the deny-list of non-decomposable aggregates is gone — the
# gate is INVERTED per ADVICE r15 #3: see _GS_OUTER_ALLOW_FNS below;
# any function call outside the recognized SUM/COUNT/MIN/MAX spans
# that is not a known non-aggregate keeps the direct plan.)
# UNQUALIFIED identifiers only: a qualified key (o.k) would resolve
# against the vanished table alias in the outer re-group — the
# pre-aggregate exposes bare column names, so qualified spellings
# keep the direct plan
_GS_KEY_RE = re.compile(r"^[A-Za-z_]\w*$")
_SELECT_HEAD_RE = re.compile(r"^\s*SELECT\b(?!\s+DISTINCT)", re.IGNORECASE)


# non-aggregate calls permitted in the outer clauses of the rewritten
# grouping-sets statement (everything else keeps the direct plan):
# grouping-key functions plus scalar wrappers that provably cannot be
# aggregates in any dialect this engine lowers
_GS_OUTER_ALLOW_FNS = {
    "GROUPING", "GROUPING_ID",
    "CAST", "TRY_CAST", "COALESCE", "NULLIF", "NVL", "IFF", "IFNULL",
    "ROUND", "ABS", "CONCAT", "FLOOR", "CEIL", "CEILING",
}


def _gs_without_spans(text: str, found: list[tuple[int, int, str, str]]) -> str:
    """``text`` with the listed call spans removed — the residue the
    inverted aggregate gate inspects."""
    out = []
    prev = 0
    for st, en, _fn, _call in found:
        out.append(text[prev:st])
        prev = en
    out.append(text[prev:])
    return "".join(out)


def _gs_outer_agg_calls(text: str) -> list[tuple[int, int, str, str]]:
    """Outermost SUM/COUNT/MIN/MAX call spans in ``text`` as
    (start, end, FN, full_call_text); nested matches inside an outer
    call are skipped (nested aggregates are invalid SQL anyway)."""
    calls = []
    pos = 0
    while True:
        m = _GS_AGG_RE.search(text, pos)
        if m is None:
            return calls
        if not in_code(text, m.start()):
            pos = m.end()
            continue
        end = balanced_end(text, m.end() - 1)
        calls.append(
            (m.start(), end, m.group("fn").upper(), text[m.start():end])
        )
        pos = end


def rewrite_grouping_sets_preagg(sql: str) -> str:
    m = _GS_HEAD_RE.search(sql)
    if m is None or not in_code(sql, m.start()):
        return sql
    # exactly one grouping-sets clause, at paren depth 0
    if _GS_HEAD_RE.search(sql, m.end()) is not None:
        return sql
    if paren_depth(sql, m.start()) != 0:
        return sql
    # single plain SELECT statement: no WITH, no set operators
    head = sql[: m.start()]
    if re.match(r"^\s*WITH\b", head, re.IGNORECASE):
        return sql
    if not _SELECT_HEAD_RE.match(head):
        return sql
    for kw in ("UNION", "INTERSECT", "EXCEPT", "MINUS"):
        if find_keyword(sql, kw) >= 0:
            return sql
    # parse the set list
    sets_open = m.end() - 1
    sets_close = balanced_end(sql, sets_open)
    sets_text = sql[sets_open:sets_close]
    inner = sets_text[1:-1]
    items = split_top_level(inner, ",")
    if len(items) < 2:
        return sql  # a single set is a plain GROUP BY; nothing to win
    keys: list[str] = []
    for it in items:
        it = it.strip()
        members = (
            [p.strip() for p in it[1:-1].split(",") if p.strip()]
            if it.startswith("(")
            else ([it] if it else [])
        )
        for k in members:
            if not _GS_KEY_RE.match(k):
                return sql  # expression keys: keep the direct plan
            if k not in keys:
                keys.append(k)
    if not keys:
        return sql
    # split the statement: SELECT <list> FROM <from..where> GROUP BY ...
    from_at = find_keyword(sql, "FROM")
    if from_at < 0 or from_at > m.start():
        return sql
    sel_list = sql[_SELECT_HEAD_RE.match(head).end(): from_at]
    from_where = sql[from_at + len("FROM"): m.start()]
    tail = sql[sets_close:]
    if tail.lstrip().startswith(","):
        # composite grouping — GROUP BY GROUPING SETS (...), extra_key —
        # is legal; the extra keys are not in the pre-aggregate's grain,
        # so the rewrite would fail where the direct plan works. Keep
        # the direct plan (ADVICE r15 #2).
        return sql
    outer = sel_list + " " + tail
    # safety gates on the outer clauses
    if re.search(r"\bSELECT\b|\bOVER\b", outer, re.IGNORECASE):
        return sql  # subqueries / windows: keep the direct plan
    if re.search(r"\b[A-Za-z_]\w*\s*\.\s*[A-Za-z_]\w*", outer):
        # table-qualified references would resolve against vanished
        # aliases over the pre-aggregate: keep the direct plan
        return sql
    calls = _gs_outer_agg_calls(sel_list)
    tail_calls = _gs_outer_agg_calls(tail)
    for _, _, _, text in calls + tail_calls:
        if re.search(r"\(\s*DISTINCT\b", text, re.IGNORECASE):
            return sql  # COUNT/SUM DISTINCT do not decompose
    # Inverted gate (ADVICE r15 #3): with the decomposable-aggregate
    # spans removed, every remaining function call in the outer clauses
    # must be a KNOWN NON-AGGREGATE (grouping-key functions and plain
    # scalars) — an unrecognized name could be an aggregate that the
    # pre-aggregate silently strips the inputs of (BITAND_AGG, TRY_SUM,
    # a future builtin), so anything else keeps the direct plan. This
    # subsumes the old deny-list of known non-decomposables.
    residue = (
        _gs_without_spans(sel_list, calls)
        + " "
        + _gs_without_spans(tail, tail_calls)
    )
    for fm in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", residue):
        if not in_code(residue, fm.start()):
            continue
        if fm.group(1).upper() not in _GS_OUTER_ALLOW_FNS:
            return sql
    # unique partial per distinct call text
    partials: dict[str, tuple[str, str]] = {}
    for _, _, fn, text in calls + tail_calls:
        if text not in partials:
            partials[text] = (fn, f"__gs_p{len(partials)}")

    def _replace(text: str, found: list[tuple[int, int, str, str]]) -> str:
        out = []
        prev = 0
        for s, e, fn, call in found:
            out.append(text[prev:s])
            name = partials[call][1]
            if fn == "COUNT":
                out.append(f"COALESCE(SUM({name}), 0)")
            else:
                out.append(f"{fn}({name})")
            prev = e
        out.append(text[prev:])
        return "".join(out)

    new_sel = _replace(sel_list, calls)
    new_tail = _replace(tail, tail_calls)
    key_list = ", ".join(keys)
    pre_cols = ", ".join(
        [key_list] + [f"{call} AS {name}" for call, (_, name) in partials.items()]
    )
    return (
        f"WITH __gs_pre AS (SELECT {pre_cols} FROM{from_where}"
        f"GROUP BY {key_list}) SELECT{new_sel}FROM __gs_pre"
        f" GROUP BY GROUPING SETS {sets_text}{new_tail}"
    )


_TOP_RE = re.compile(r"^(\s*SELECT)\s+TOP\s+(\d+)\s+", re.IGNORECASE)


def rewrite_top(sql: str) -> str:
    """Lower Snowflake's ``SELECT TOP n ...`` to ``... LIMIT n`` (r8).
    Top-level statement only (a TOP in a subquery fails loudly in
    Spark's parser rather than silently mistranslating); refuses when
    the statement already carries a LIMIT (Snowflake forbids mixing
    TOP and LIMIT too)."""
    m = _TOP_RE.match(sql)
    if m is None:
        return sql
    body = sql[m.end():].rstrip().rstrip(";")
    if re.search(r"\bLIMIT\s+\d+\s*$", body, re.IGNORECASE):
        raise ValueError("TOP and LIMIT cannot be combined")
    return f"{m.group(1)} {body} LIMIT {m.group(2)}"


_OBJ_MUT_HEAD = re.compile(
    r"\b(?P<fn>OBJECT_INSERT|OBJECT_DELETE|OBJECT_PICK)\s*\(",
    re.IGNORECASE,
)
_OBJ_BASE_HEAD = re.compile(
    r"^(?P<fn>OBJECT_CONSTRUCT(?:_KEEP_NULL)?)\s*\(", re.IGNORECASE
)


def _object_mutators(sql: str) -> str:
    """Fold ``OBJECT_INSERT`` / ``OBJECT_DELETE`` / ``OBJECT_PICK``
    whose base object is an inline ``OBJECT_CONSTRUCT[_KEEP_NULL]``
    into a single constructor call, COMPOSITIONALLY (innermost
    mutator first, so chains like
    ``OBJECT_INSERT(OBJECT_DELETE(OBJECT_CONSTRUCT(...), 'a'), 'b', v)``
    fold completely) — closing the r11 refusal for the common
    paste-an-expression case without pretending the impossible one
    works: over an OPAQUE json-text column the engine cannot re-apply
    each remaining value's type when re-serializing (string vs number
    vs nested is unrecoverable from extracted text), so that form
    still refuses loudly with this guidance. Snowflake semantics
    preserved at rewrite time:

    - INSERT of an existing key errors unless the literal updateFlag
      TRUE is given (then it replaces); a runtime updateFlag refuses.
    - INSERT of a SQL NULL value follows the base constructor's null
      policy (plain OBJECT_CONSTRUCT omits the pair — Snowflake's
      documented rule, "use PARSE_JSON('null') to insert a JSON
      null"; the _KEEP_NULL base keeps it as ``"k":null``).
    - DELETE of an absent key is a no-op; PICK keeps only the listed
      keys (absent keys contribute nothing).
    - Deleting/picking down to zero pairs emits the literal ``'{}'``
      (Snowflake's empty object).

    The output is ordinary OBJECT_CONSTRUCT text handled by the pass
    below; everything stays a per-row JVM expression."""
    pos = 0
    while True:
        m = _OBJ_MUT_HEAD.search(sql, pos)
        if m is None:
            return sql
        fn = m.group("fn").upper()
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        args = [
            a.strip()
            for a in split_top_level(sql[open_idx + 1 : close - 1], ",")
        ]
        if len(args) < 2:
            raise ValueError(f"{fn} needs an object and at least one key")
        base = _OBJ_BASE_HEAD.match(args[0])
        if base is None:
            # not (yet) a constructor base — an inner mutator may fold
            # first; rescan from inside this head's argument list
            pos = open_idx + 1
            continue
        b_open = args[0].index("(", base.end() - 1)
        b_close = balanced_end(args[0], b_open)
        if args[0][b_close:].strip():
            pos = open_idx + 1
            continue
        keep = base.group("fn").upper().endswith("KEEP_NULL")
        inner = args[0][b_open + 1 : b_close - 1].strip()
        raw_pairs = (
            [a.strip() for a in split_top_level(inner, ",")]
            if inner
            else []
        )
        if len(raw_pairs) % 2 != 0:
            raise ValueError(f"{fn}: base OBJECT_CONSTRUCT needs (key, value) pairs")
        pairs: list[tuple[str, str]] = []
        for k, v in zip(raw_pairs[::2], raw_pairs[1::2]):
            km = re.match(r"^'(?P<k>[^']*)'$", k)
            if km is None:
                raise ValueError(
                    f"{fn}: base OBJECT_CONSTRUCT key must be a string"
                    f" literal: {k!r}"
                )
            pairs.append((km.group("k"), v))

        def _lit_key(arg: str, what: str) -> str:
            km = re.match(r"^'(?P<k>[^']*)'$", arg.strip())
            if km is None:
                raise ValueError(
                    f"{fn}: {what} must be a string literal (a runtime"
                    " key cannot be folded at rewrite time): {0!r}".format(arg)
                )
            return km.group("k")

        if fn == "OBJECT_INSERT":
            if len(args) not in (3, 4):
                raise ValueError("OBJECT_INSERT needs (object, key, value[, updateFlag])")
            key = _lit_key(args[1], "key")
            flag = args[3].strip().upper() if len(args) == 4 else "FALSE"
            if flag not in ("TRUE", "FALSE"):
                raise ValueError(
                    "OBJECT_INSERT: updateFlag must be the literal TRUE or"
                    " FALSE (a runtime flag cannot be folded)"
                )
            exists = any(k == key for k, _ in pairs)
            if exists and flag != "TRUE":
                raise ValueError(
                    f"OBJECT_INSERT: key {key!r} already exists (Snowflake"
                    " errors unless updateFlag is TRUE)"
                )
            pairs = [(k, v) for k, v in pairs if k != key]
            pairs.append((key, args[2]))
        elif fn == "OBJECT_DELETE":
            drop = {_lit_key(a, "key") for a in args[1:]}
            pairs = [(k, v) for k, v in pairs if k not in drop]
        else:  # OBJECT_PICK
            want = {_lit_key(a, "key") for a in args[1:]}
            pairs = [(k, v) for k, v in pairs if k in want]

        if pairs:
            body = ", ".join(f"'{k}', {v}" for k, v in pairs)
            repl = (
                f"OBJECT_CONSTRUCT{'_KEEP_NULL' if keep else ''}({body})"
            )
        else:
            repl = "'{}'"
        sql = sql[: m.start()] + repl + sql[close:]
        pos = 0  # restart: an outer mutator may now see a constructor


def rewrite_semi_structured(sql: str) -> str:
    """Lower the Snowflake semi-structured construction idioms to
    Spark's JSON-text VARIANT convention (the sql30/sql34 contract:
    VARIANT = compact JSON text), keys in canonical alphabetical
    order — byte-identical to ``TO_JSON(OBJECT_CONSTRUCT(...))`` in
    Snowflake, which sorts object keys:

    - ``OBJECT_CONSTRUCT('k1', v1, 'k2', v2, ...)`` (literal keys) ->
      ``to_json(named_struct(...))`` with pairs sorted by key;
      NULL-valued pairs are OMITTED (Snowflake's default, and exactly
      Spark to_json's default ignoreNullFields behavior).
    - ``OBJECT_CONSTRUCT_KEEP_NULL(...)`` -> same with
      ``map('ignoreNullFields', 'false')`` so nulls render as
      ``"k":null``.
    - ``OBJECT_AGG(k, v)`` -> ``to_json(map_from_entries(filter(
      array_sort(array_agg(named_struct('key', k, 'value', v))), ...)))``
      — deterministic alphabetical key order; pairs with NULL key or
      value omitted (Snowflake's documented rule).
    - ``ARRAY_AGG([DISTINCT] x) WITHIN GROUP (ORDER BY e [ASC|DESC])``
      -> ``array_sort(array_agg(x))`` when e is x itself (reverse()
      for DESC), else the struct-sort-project form
      ``transform(array_sort(array_agg(named_struct('o', e, 'v', x))),
      s -> s.v)``; DISTINCT is supported only in the self-ordered
      form (the struct carrier would dedupe (e, x) pairs, not x).

    ``OBJECT_CONSTRUCT(*)`` and non-literal keys refuse loudly
    (star-expansion needs schema binding, and a computed key cannot be
    canonically sorted at rewrite time). Everything lowered is a
    per-row / per-group expression: pushdown, partial aggregation, and
    codegen are unaffected; no shuffle is added beyond the aggregate
    the user already wrote."""
    # ---- OBJECT_INSERT / OBJECT_DELETE / OBJECT_PICK over inline
    # constructors fold FIRST, so the constructor pass below sees
    # plain OBJECT_CONSTRUCT text (see _object_mutators) ------------
    sql = _object_mutators(sql)
    # ---- ARRAY_AGG ... WITHIN GROUP --------------------------------
    head = re.compile(r"\bARRAY_AGG\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = head.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        arg = sql[open_idx + 1 : close - 1].strip()
        wg = _WITHIN_GROUP_RE.match(sql[close:])
        if wg is None:
            pos = close
            continue
        wg_open = close + wg.end() - 1
        wg_close = balanced_end(sql, wg_open)
        ob = _ORDER_BY_BODY_RE.match(sql[wg_open + 1 : wg_close - 1])
        if ob is None:
            raise ValueError("WITHIN GROUP needs (ORDER BY <expr> [ASC|DESC])")
        order_expr = ob.group("expr").strip()
        desc = (ob.group("dir") or "ASC").upper() == "DESC"
        distinct = re.match(r"^DISTINCT\s+(?P<x>.+)$", arg, re.IGNORECASE | re.DOTALL)
        x = (distinct.group("x") if distinct else arg).strip()
        if order_expr.lower() == x.lower():
            inner = f"array_agg({'DISTINCT ' if distinct else ''}{x})"
            repl = f"array_sort({inner})"
        else:
            if distinct:
                raise ValueError(
                    "ARRAY_AGG(DISTINCT x) WITHIN GROUP supports ORDER BY x"
                    " only (a struct carrier would dedupe (order, x) pairs)"
                )
            # 'on' (order-key-is-null) leads the struct so NULL order
            # keys sort LAST (Snowflake's ASC default); NULL aggregated
            # values are dropped (ARRAY_AGG skips them — the plain
            # array_agg path gets this for free, the struct carrier
            # must filter)
            repl = (
                f"transform(array_sort(filter(array_agg(named_struct("
                f"'on', ({order_expr}) IS NULL, 'o', {order_expr},"
                f" 'v', {x})), s -> s.v IS NOT NULL)), s -> s.v)"
            )
        if desc:
            repl = f"reverse({repl})"
        sql = sql[: m.start()] + repl + sql[wg_close:]
        pos = m.start() + len(repl)

    # ---- OBJECT_CONSTRUCT[_KEEP_NULL] ------------------------------
    head = re.compile(
        r"\b(?P<fn>OBJECT_CONSTRUCT(?:_KEEP_NULL)?)\s*\(", re.IGNORECASE
    )
    oc_pos = 0
    while True:
        m = head.search(sql, oc_pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            oc_pos = m.end()
            continue
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : close - 1], ",")]
        if len(args) == 1 and args[0] == "*":
            raise ValueError("OBJECT_CONSTRUCT(*) needs schema binding; list the keys")
        if len(args) % 2 != 0 or not args:
            raise ValueError("OBJECT_CONSTRUCT needs (key, value) pairs")
        pairs = []
        for k, v in zip(args[::2], args[1::2]):
            km = re.match(r"^'(?P<k>[^']*)'$", k)
            if km is None:
                raise ValueError(
                    f"OBJECT_CONSTRUCT key must be a string literal: {k!r}"
                )
            pairs.append((km.group("k"), v))
        pairs.sort(key=lambda p: p[0])  # Snowflake canonical key order
        body = ", ".join(f"'{k}', {v}" for k, v in pairs)
        keep = m.group("fn").upper().endswith("KEEP_NULL")
        opts = ", map('ignoreNullFields', 'false')" if keep else ""
        sql = sql[: m.start()] + f"to_json(named_struct({body}){opts})" + sql[close:]

    # ---- OBJECT_AGG ------------------------------------------------
    head = re.compile(r"\bOBJECT_AGG\s*\(", re.IGNORECASE)
    while True:
        m = head.search(sql)
        if m is None:
            return sql
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : close - 1], ",")]
        if len(args) != 2:
            raise ValueError("OBJECT_AGG needs (key, value)")
        k, v = args
        repl = (
            f"to_json(map_from_entries(filter(array_sort(array_agg("
            f"named_struct('key', {k}, 'value', {v}))),"
            f" s -> s.key IS NOT NULL AND s.value IS NOT NULL)))"
        )
        sql = sql[: m.start()] + repl + sql[close:]


def rewrite_scalar_funcs(sql: str) -> str:
    """Lower the Snowflake scalar functions OSS Spark's parser lacks —
    IFF, NVL2, DECODE, ZEROIFNULL, NULLIFZERO, LEN, and DATEDIFF(part,
    a, b) — to ANSI equivalents, so the everyday Snowflake SELECT runs
    unchanged. Highest-fidelity details: DECODE uses NULL-SAFE
    equality (Snowflake's DECODE matches NULL to NULL — a plain CASE
    x WHEN would silently drop those rows), and DATEDIFF counts
    date-part BOUNDARIES crossed, not complete periods (Snowflake's
    documented semantics — ``timestampdiff`` would be wrong by one
    around midnight). Arguments are parsed with balanced parens /
    string-literal awareness; nested rewritable calls resolve on
    subsequent passes. Everything lowered is a per-row expression:
    pushdown, pruning, and codegen unaffected."""
    # infix RLIKE/REGEXP anchoring first, so the function-head scan
    # below never sees an unanchored infix operand (probe battery 9)
    sql = rewrite_regexp_infix(sql)
    fns = dict(_SCALAR_REWRITES)
    fns["DECODE"] = _decode_rewrite
    fns["DATEDIFF"] = _datediff_rewrite
    head = re.compile(r"\b(" + "|".join(fns) + r")\s*\(", re.IGNORECASE)
    # Scan left-to-right with an explicit position: arguments are
    # lowered RECURSIVELY before the replacement is built, and the
    # scan resumes AFTER the replacement — so a lowering may emit
    # Spark functions whose names the head would match (to_date /
    # to_timestamp, the r9 format-string forms) without re-matching
    # its own output forever.
    pos = 0
    guard = 0
    while True:
        m = head.search(sql, pos)
        if m is None:
            return sql
        guard += 1
        if guard > 200:
            raise RuntimeError("rewrite_scalar_funcs did not converge")
        # literal-awareness (r13, found by the rewriter property
        # battery): a head INSIDE a string literal is text, not a
        # call — 'DATEDIFF(hour, a, b)' as a VALUE was being rewritten
        # into its lowering.
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        name = m.group(1).upper()
        if name == "INSERT":
            # ADVICE r11 #5: the scalar INSERT(base, pos, len, repl)
            # must not swallow DML column lists that reach a text
            # lowering path — ``... THEN INSERT (a,b,c,d)`` (MERGE) or
            # ``INSERT (a,b,c,d) VALUES ...`` would be silently
            # spliced into substr/concat when exactly 4 columns line
            # up. Skip when the context is a DML clause: preceded by
            # THEN/ALL/FIRST/OVERWRITE or followed by VALUES/SELECT.
            before = sql[: m.start()].rstrip()
            after = sql[close:].lstrip()
            if (
                re.search(r"\b(THEN|ALL|FIRST|OVERWRITE)$", before,
                          re.IGNORECASE)
                or re.match(r"(VALUES|SELECT)\b", after, re.IGNORECASE)
            ):
                pos = close
                continue
        if name == "CHAR":
            # the scalar CHAR(n) must not swallow the TYPE in
            # ``CAST(x AS CHAR(3))`` (left native by the cast-type
            # pass): skip when preceded by the AS keyword (r13)
            before = sql[: m.start()].rstrip()
            if re.search(r"\bAS$", before, re.IGNORECASE):
                pos = close
                continue
        inner = rewrite_scalar_funcs(sql[open_idx + 1 : close - 1])
        args = [a.strip() for a in split_top_level(inner, ",")]
        repl = fns[name](args)
        sql = sql[: m.start()] + repl + sql[close:]
        pos = m.start() + len(repl)


# ---------------------------------------------------------------------------
# Snowflake comma-separated INTERVAL constants (r13):
# ``ts + INTERVAL '1 day, 2 hours'`` — the documented Snowflake
# multi-unit spelling — is not Spark grammar, and mixed year-month +
# day-time units cannot be ONE Spark interval literal at all
# (different interval types). Split into CHAINED signed additions:
# ``ts + INTERVAL '1 day' + INTERVAL '2 hours'`` (each unit becomes
# its own typed literal; subtraction distributes the minus). Interval
# constants only ever appear after +/- in Snowflake arithmetic, so a
# comma form without a preceding sign refuses.
# ---------------------------------------------------------------------------

_INTERVAL_COMMA_RE = re.compile(
    r"(?P<op>[+-])\s*INTERVAL\s*'(?P<body>[^']*,[^']*)'", re.IGNORECASE
)
_INTERVAL_BARE_COMMA_RE = re.compile(
    r"\bINTERVAL\s*'[^']*,[^']*'", re.IGNORECASE
)


def rewrite_interval_commas(sql: str) -> str:
    def repl(m: "re.Match[str]") -> str:
        op = m.group("op")
        parts = [p.strip() for p in m.group("body").split(",") if p.strip()]
        if not parts:
            raise ValueError(f"empty INTERVAL constant: {m.group(0)!r}")
        return " ".join(f"{op} INTERVAL '{p}'" for p in parts)

    pos = 0
    while True:
        m = _INTERVAL_COMMA_RE.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        r = repl(m)
        sql = sql[: m.start()] + r + sql[m.end():]
        pos = m.start() + len(r)
    # backstop: resume past literal-interior hits so a string literal
    # containing INTERVAL-comma text cannot mask a LATER genuine
    # signless comma constant (ADVICE r13)
    bpos = 0
    while True:
        m = _INTERVAL_BARE_COMMA_RE.search(sql, bpos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            bpos = m.end()
            continue
        raise ValueError(
            "comma-separated INTERVAL constant without a preceding"
            f" +/- sign cannot be split: {m.group(0)!r}"
        )
    return sql


# ---------------------------------------------------------------------------
# Snowflake star column modifiers (r13): ``SELECT [t.]* EXCLUDE ...``
# maps exactly onto Spark's ``* EXCEPT (...)`` (remaining columns keep
# their positions — the same semantics, different keyword); the other
# three modifiers have no position-preserving Spark lowering, so they
# refuse LOUDLY with the precise rewrite instead of dying in the
# parser: RENAME/REPLACE would need the schema to expand ``*`` without
# silently moving the touched column to the end, and ILIKE needs the
# column list.
# ---------------------------------------------------------------------------

# Only a SELECT-LIST star can carry a modifier: anchor to stars
# preceded by SELECT [DISTINCT|ALL], a list comma, or a qualifier dot
# (``t.*``). Without the anchor, ordinary multiplication false-matched:
# ``2 * REPLACE(s,'a','b')`` hit the refusal, and ``price *
# excluded_rate`` (EXCLUDE lacked a trailing \b) was mangled into
# ``price * EXCEPT (d_rate)``.
_STAR_MOD_HEAD = r"(?P<pre>(?:\bSELECT\s+(?:DISTINCT\s+|ALL\s+)?|,\s*|\.)\*\s+)"
_STAR_EXCLUDE_RE = re.compile(
    _STAR_MOD_HEAD + r"EXCLUDE\b\s*(?:\((?P<plist>[^)]*)\)|(?P<pcol>[A-Za-z_]\w*))",
    re.IGNORECASE,
)
_STAR_REFUSE_RE = re.compile(
    _STAR_MOD_HEAD + r"(?P<kw>RENAME|REPLACE|ILIKE)\b", re.IGNORECASE
)


def rewrite_star_modifiers(sql: str) -> str:
    pos = 0
    while True:
        m = _STAR_EXCLUDE_RE.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        cols = m.group("plist") if m.group("plist") is not None else m.group("pcol")
        repl = f"{m.group('pre')}EXCEPT ({cols})"
        sql = sql[: m.start()] + repl + sql[m.end():]
        pos = m.start() + len(repl)
    # resume-past loop: a literal-interior match must not mask a later
    # genuine select-list modifier (same pattern as the other scans)
    rpos = 0
    m = None
    while True:
        cand = _STAR_REFUSE_RE.search(sql, rpos)
        if cand is None:
            break
        if not in_code(sql, cand.start()):
            rpos = cand.end()
            continue
        m = cand
        break
    if m is not None:
        kw = m.group("kw").upper()
        hint = {
            "RENAME": "SELECT * EXCEPT (a), a AS new_name (the renamed"
                      " column moves to the end) or list the columns",
            "REPLACE": "SELECT * EXCEPT (a), <expr> AS a (the replaced"
                       " column moves to the end) or list the columns",
            "ILIKE": "list the matching columns explicitly",
        }[kw]
        raise ValueError(
            f"SELECT * {kw} has no position-preserving Spark lowering"
            f" — {hint}"
        )
    return sql


# ---------------------------------------------------------------------------
# Snowflake cast TYPE NAMES (probe battery 9, r13). Spark's parser
# either rejects Snowflake's everyday type spellings (NUMBER(10,2),
# TEXT, DATETIME, FLOAT8 — loud analyzer deaths on pasted SQL) or
# parses them as DIFFERENT types: Snowflake's FLOAT/FLOAT4/REAL are
# all 8-byte doubles while Spark's FLOAT/REAL are 4-byte (a silent
# precision divergence on x::FLOAT), and Spark's bare DECIMAL defaults
# to (10,0) vs Snowflake's NUMBER default (38,0). Translate the cast
# TARGET in both spellings (``expr::TYPE`` and ``CAST(expr AS TYPE)``)
# wherever the faithful mapping exists; VARIANT/OBJECT/ARRAY cast
# targets refuse with TO_VARIANT/TO_OBJECT/TO_ARRAY guidance (Spark 4
# would parse ::VARIANT as its NATIVE variant type — a silent break
# from this engine's JSON-text VARIANT convention). INT/INTEGER/
# SMALLINT/TINYINT stay native: Snowflake treats them as NUMBER(38,0)
# aliases, but Spark's narrower types fail LOUDLY on overflow (ANSI),
# and rewriting them would churn the schema of every existing caller.
# ---------------------------------------------------------------------------

# trailing \b keeps ::DECIMALS / ::DECADE-style identifiers whole;
# (?!\s*<) leaves Spark's generic ARRAY<...> / MAP<...> untouched
_SF_CAST_TYPE_RE = re.compile(
    r"(?P<base>NUMBER|NUMERIC|DECIMAL|DEC|TEXT|DATETIME|TIMESTAMP_NTZ"
    r"|TIME|FLOAT8|FLOAT4|FLOAT|REAL|BYTEINT|VARIANT|OBJECT|ARRAY"
    r"|VARCHAR|NVARCHAR2|NVARCHAR|CHARACTER|NCHAR|CHAR)\b(?!\s*<)"
    r"(?P<args>\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?",
    re.IGNORECASE,
)
# Snowflake string-type cast targets (probe battery 13, r15). Bare
# VARCHAR (= VARCHAR(16777216), no constraint) is Snowflake's everyday
# stringify idiom but Spark's parser REFUSES a length-less VARCHAR
# ("DATATYPE_MISSING_SIZE"); sized VARCHAR(n) parses in Spark but the
# length is IGNORED where Snowflake documents silent truncation to n
# chars. CHAR is CHAR(1) in Snowflake — a bare ::CHAR truncates to one
# character.
_STR_CAST_UNLIMITED = ("VARCHAR", "NVARCHAR", "NVARCHAR2")  # no-length = max
_STR_CAST_CHAR1 = ("CHAR", "CHARACTER", "NCHAR")  # no-length = length 1
_SF_VARCHAR_MAX = 16_777_216


def _str_cast_len(base: str, args: str) -> int | None:
    """Effective Snowflake truncation length for a string cast target;
    None = unconstrained (lower to plain STRING)."""
    if args:
        n = int(args.strip("()"))
        return None if n >= _SF_VARCHAR_MAX else n
    return 1 if base in _STR_CAST_CHAR1 else None
_CAST_HEAD_RE = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)
_DCOLON_TYPE_RE = re.compile(
    r"::\s*" + _SF_CAST_TYPE_RE.pattern, re.IGNORECASE
)


def _sf_cast_type_repl(base: str, args: str | None) -> str:
    b = base.upper()
    a = re.sub(r"\s", "", args or "")
    if b in ("VARIANT", "OBJECT", "ARRAY"):
        raise ValueError(
            f"::{b} cast: Spark's native {b} type is not this engine's"
            f" JSON-text VARIANT convention — use TO_{b}(...) instead"
        )
    if b in ("NUMBER", "NUMERIC", "DECIMAL", "DEC"):
        if a:
            return f"DECIMAL{a if ',' in a else a[:-1] + ',0)'}"
        return "DECIMAL(38,0)"  # Snowflake's default precision
    if b == "TEXT":
        return "STRING"
    if b in ("DATETIME", "TIMESTAMP_NTZ"):
        return "TIMESTAMP"
    if b == "TIME":
        # Spark 4.1's native TIME (behind spark.sql.timeType.enabled,
        # which the engine turns on — session.py / register_views /
        # snowflake_sql). Snowflake's default precision is 9 (nanos);
        # Spark tops out at 6 — the same documented micros floor the
        # TO_TIMESTAMP family uses.
        if a:
            p = int(a.strip("()").split(",")[0])
            return f"TIME({min(p, 6)})"
        return "TIME(6)"
    if b in ("FLOAT", "FLOAT4", "FLOAT8", "REAL"):
        return "DOUBLE"  # all 8-byte in Snowflake
    if b == "BYTEINT":
        return "BIGINT"
    if b in _STR_CAST_UNLIMITED or b in _STR_CAST_CHAR1:
        # sized/CHAR targets are handled (wrapped or refused) by the
        # callers; reaching here means unconstrained -> plain STRING
        return "STRING"
    raise AssertionError(b)


def rewrite_cast_types(sql: str) -> str:
    """Translate Snowflake cast type names in both cast spellings.
    Literal-aware; the scan resumes past each replacement. Type names
    Spark already parses identically (DATE, TIMESTAMP, BOOLEAN,
    STRING, BINARY, the int family) pass through untouched, as do
    Spark-native generics (ARRAY<...> never matches the bare ARRAY
    refusal). The string family is translated (r15): bare VARCHAR ->
    STRING (Spark refuses a length-less VARCHAR); VARCHAR(n)/CHAR(n)
    casts wrap in LEFT(..., n) because Snowflake documents silent
    truncation to n chars while Spark ignores the cast length; bare
    CHAR is Snowflake's CHAR(1)."""
    # ---- expr::TYPE ----
    pos = 0
    while True:
        m = _DCOLON_TYPE_RE.search(sql, pos)
        if m is None:
            break
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        base = m.group("base").upper()
        args = re.sub(r"\s", "", m.group("args") or "")
        if base in _STR_CAST_UNLIMITED or base in _STR_CAST_CHAR1:
            n = _str_cast_len(base, args)
            if n is not None:
                # the ``::`` spelling gives no textual operand span to
                # wrap in LEFT(), so a truncating target refuses loudly
                # with the exact rewrite (never a silent no-truncate)
                raise ValueError(
                    f"::{base}{args or ''}: Snowflake truncates to {n}"
                    f" char(s) but Spark ignores the cast length —"
                    f" spell it CAST(expr AS {base}({n})) or"
                    f" LEFT(expr::STRING, {n})"
                )
        repl = "::" + _sf_cast_type_repl(base, m.group("args"))
        sql = sql[: m.start()] + repl + sql[m.end():]
        pos = m.start() + len(repl)
    # ---- CAST(expr AS TYPE) / TRY_CAST(expr AS TYPE) ----
    pos = 0
    while True:
        m = _CAST_HEAD_RE.search(sql, pos)
        if m is None:
            return sql
        if not in_code(sql, m.start()):
            pos = m.end()
            continue
        open_idx = sql.index("(", m.end() - 1)
        close = balanced_end(sql, open_idx)
        inner = sql[open_idx + 1 : close - 1]
        # the LAST depth-0 code '\sAS\s' splits operand from type text
        as_start = as_at = -1
        for am in re.finditer(r"\sAS\s", inner, re.IGNORECASE):
            if in_code(inner, am.start() + 1) and paren_depth(inner, am.start()) == 0:
                as_start, as_at = am.start(), am.end()
        if as_at < 0:
            pos = open_idx + 1  # malformed/no AS: let Spark complain
            continue
        type_text = inner[as_at:].strip()
        tm = _SF_CAST_TYPE_RE.fullmatch(type_text)
        if tm is None:
            pos = open_idx + 1  # Spark-native type: recurse inside
            continue
        base = tm.group("base").upper()
        if base in _STR_CAST_UNLIMITED or base in _STR_CAST_CHAR1:
            n = _str_cast_len(
                base, re.sub(r"\s", "", tm.group("args") or "")
            )
            if n is not None:
                # Snowflake's sized string cast TRUNCATES to n chars;
                # Spark parses VARCHAR(n)/CHAR(n) casts but ignores the
                # length entirely — wrap the whole cast in LEFT() to
                # keep the documented truncation (probe battery 13)
                cast_kw = sql[m.start() : open_idx].strip().rstrip("(")
                operand = inner[:as_start]
                repl = (
                    f"LEFT({cast_kw}({operand} AS STRING), {n})"
                )
                sql = sql[: m.start()] + repl + sql[close:]
                pos = m.start() + len("LEFT(")  # rescan inside
                continue
        new_type = _sf_cast_type_repl(base, tm.group("args"))
        new_inner = inner[:as_at] + " " + new_type
        sql = sql[: open_idx + 1] + new_inner + sql[close - 1 :]
        pos = open_idx + 1  # rescan inside for nested casts


# ---------------------------------------------------------------------------
# Snowflake VARIANT path access (col:path.sub[0]::type)
# ---------------------------------------------------------------------------

# a "quoted" segment holding a single quote never matches: ['it's'] is
# no parseable JSON path, so such a path is left for Spark's parser to
# reject rather than lowered to a get_json_object that NULLs silently
_VARIANT_PATH_RE = re.compile(
    r"(?P<base>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*(?<!:):(?!:)\s*"
    r'(?P<path>(?:[A-Za-z_]\w*|"[^"\']+")'
    r'(?:\.(?:[A-Za-z_]\w*|"[^"\']+")|\[\d+\])*)'
)
_VARIANT_SEG_RE = re.compile(r'[A-Za-z_]\w*|"[^"]+"|\[\d+\]')


def rewrite_variant_path(sql: str) -> str:
    """Lower Snowflake VARIANT path access — ``col:seg.seg2[0]`` — to
    ``get_json_object(col, '$.seg.seg2[0]')``. The single most
    Snowflake-specific piece of query text there is: every
    semi-structured query in the reference's ecosystem reads fields
    this way, usually with a trailing ``::type`` cast, which Spark 4
    parses natively and therefore passes through untouched (the lowered
    expression yields the element as text: scalars unquoted, compound
    values as compact JSON — the FLATTEN/sql30 contract).

    Conservative: the base must be a bare (possibly alias-qualified)
    identifier and the path identifier segments / [int] indexes /
    ``"quoted"`` segments for keys with spaces or dots (r8, rendered
    in Spark's bracket form) — functions-as-base refuse by not
    matching.
    String literals are left untouched (a ``':'`` inside text never
    rewrites), and ``::`` casts are explicitly not path separators.
    Pure expression rewriting: pushdown/pruning unaffected at any
    scale."""
    return sub_in_code(_VARIANT_PATH_RE, _variant_repl, sql)


def _variant_repl(m: "re.Match[str]") -> str:
    parts = []
    for seg in _VARIANT_SEG_RE.findall(m.group("path")):
        if seg.startswith('"'):
            # r8: "quoted" segment (key with spaces/dots) -> Spark's
            # bracket form; segments cannot contain a double quote.
            # A single quote inside the key refuses like
            # _flat_path_to_json_path — ['it's'] is not a parseable
            # JSON path, get_json_object would NULL silently (ADVICE r8)
            if "'" in seg:
                raise ValueError(
                    f"quoted path segment cannot contain a single quote: {seg!r}"
                )
            parts.append(f"['{seg[1:-1]}']")
        elif seg.startswith("["):
            parts.append(seg)
        else:
            parts.append(f".{seg}")
    jp = "$" + "".join(parts)
    # bracket segments carry single quotes — emit those inside a
    # double-quoted SQL literal
    lit = f'"{jp}"' if "'" in jp else f"'{jp}'"
    return f"get_json_object({m.group('base')}, {lit})"


# ---------------------------------------------------------------------------
# Snowflake SPLIT_TO_TABLE / STRTOK_SPLIT_TO_TABLE
# ---------------------------------------------------------------------------

_SPLIT_TO_TABLE_RE = re.compile(
    r",?\s*(?:LATERAL\s+)?(?P<fn>STRTOK_SPLIT_TO_TABLE|SPLIT_TO_TABLE)\s*\(",
    re.IGNORECASE,
)


def rewrite_split_to_table(sql: str) -> str:
    """Lower Snowflake ``[LATERAL] SPLIT_TO_TABLE(<expr>, <delim>)
    <alias>`` (and ``STRTOK_SPLIT_TO_TABLE`` — the any-of-delimiters
    variant) to ``LATERAL VIEW posexplode(split(...))`` — the string
    tokenizer half of the FLATTEN family (Snowflake docs group them).

    Column mapping: the alias exposes Snowflake's ``INDEX`` (1-based —
    unlike FLATTEN's 0-based index) and ``VALUE``; every
    ``<alias>.index`` reference in the statement is rewritten to the
    1-based arithmetic over the 0-based posexplode position. SEQ (the
    global input-row sequence) is not materialized — statements
    referencing ``<alias>.seq`` refuse. SPLIT_TO_TABLE keeps empty
    tokens (both engines' split contract); STRTOK drops them and
    treats the delimiter string as a SET of single-char delimiters,
    lowered to a regex char class + a filter on empty values. Still a
    per-row generator: no shuffle, no join at any scale."""
    out = sql
    while True:
        m = _SPLIT_TO_TABLE_RE.search(out)
        if m is None:
            return out
        close = balanced_end(out, m.end() - 1)
        args = split_top_level(out[m.end() : close - 1], ",")
        if len(args) != 2:
            raise ValueError("SPLIT_TO_TABLE takes (string, delimiter)")
        expr, delim = args[0].strip(), args[1].strip()
        am = _FLATTEN_ALIAS.match(out, close)
        if am is None or am.group(1).upper() in _SAMPLE_STOP_WORDS:
            raise ValueError("SPLIT_TO_TABLE requires a table alias")
        alias = am.group(1)
        strtok = m.group("fn").upper().startswith("STRTOK")
        if strtok:
            if not (len(delim) >= 2 and delim[0] == delim[-1] == "'"):
                raise ValueError(
                    "STRTOK_SPLIT_TO_TABLE requires a literal delimiter set"
                )
            chars = re.escape(delim[1:-1])
            split_call = f"split({expr}, '[{chars}]')"
        else:
            # Snowflake splits on the LITERAL delimiter; Spark's
            # split takes a REGEX — '.' would split on every
            # character. \Q...\E quotes ANY delimiter (runtime
            # expressions included); the empty delimiter returns the
            # whole string as one token (Snowflake's rule; an empty
            # regex would explode per character).
            # a delimiter containing '\E' would terminate the quote
            # region early (remainder read as regex) — refuse loudly
            split_call = (
                f"CASE WHEN ({delim}) = '' THEN array({expr})"
                f" WHEN contains({delim}, '\\\\E') THEN"
                f" raise_error(concat('SPLIT_TO_TABLE: delimiter ',"
                f" {delim}, ' contains the regex-quote terminator"
                " \\\\E; literal splitting on it is not expressible"
                " via \\\\Q-quoting'))"
                f" ELSE split({expr},"
                f" concat('\\\\Q', {delim}, '\\\\E')) END"
            )
        repl = f" LATERAL VIEW posexplode({split_call}) {alias} AS __idx0, value"
        out = out[: m.start()] + repl + out[am.end() :]
        if re.search(rf"\b{re.escape(alias)}\.seq\b", out, re.IGNORECASE):
            raise ValueError(
                "SPLIT_TO_TABLE SEQ output is not materialized by this shim"
            )
        # Snowflake's INDEX is 1-based; rewrite references to the
        # 0-based posexplode position
        out = re.sub(
            rf"\b{re.escape(alias)}\.index\b",
            f"({alias}.__idx0 + 1)",
            out,
            flags=re.IGNORECASE,
        )
        if strtok:
            # STRTOK drops empty tokens (Snowflake contract)
            out = _append_where(out, f"{alias}.value <> ''")


def _append_where(sql: str, pred: str) -> str:
    """AND ``pred`` into the statement's top-level WHERE (or add one
    before a trailing GROUP/ORDER/LIMIT, else at the end)."""
    w = find_keyword(sql, "WHERE")
    if w >= 0:
        insert_at = w + len("WHERE")
        return sql[:insert_at] + f" ({pred}) AND" + sql[insert_at:]
    cut = len(sql)
    for kw in ("GROUP", "ORDER", "LIMIT", "HAVING"):
        k = find_keyword(sql, kw)
        if 0 <= k < cut:
            cut = k
    return sql[:cut] + f" WHERE {pred} " + sql[cut:]


# ---------------------------------------------------------------------------
# Snowflake MATCH_RECOGNIZE (row-pattern matching) text
# ---------------------------------------------------------------------------

_MR_HEAD = re.compile(
    r"^SELECT\s+\*\s+FROM\s+(?P<table>[\w.]+)\s+MATCH_RECOGNIZE\s*\(",
    re.IGNORECASE,
)
_MR_BODY = re.compile(
    r"PARTITION\s+BY\s+(?P<part>.+?)\s+"
    r"ORDER\s+BY\s+(?P<order>.+?)\s+"
    r"MEASURES\s+(?P<measures>.+?)\s+"
    r"(?P<permatch>ONE\s+ROW\s+PER\s+MATCH|ALL\s+ROWS\s+PER\s+MATCH)\s+"
    r"(?:AFTER\s+MATCH\s+"
    r"(?P<skip>SKIP\s+TO\s+NEXT\s+ROW|SKIP\s+PAST\s+LAST\s+ROW"
    r"|SKIP\s+TO\s+(?P<skipdir>FIRST|LAST)\s+(?P<skipsym>[A-Za-z_]\w*))\s+)?"
    # pattern may itself contain (grouping|alternation) parens, so it
    # matches lazily up to the ') DEFINE' anchor (DEFINE is always the
    # last clause in the accepted shape)
    r"PATTERN\s*\(\s*(?P<pattern>.*?)\s*\)\s+"
    r"DEFINE\s+(?P<define>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MR_DEFINE = re.compile(
    r"^(?P<sym>[A-Za-z_]\w*)\s+AS\s+(?P<col>[A-Za-z_]\w*)\s*"
    r"(?P<op><|>)\s*PREV\s*\(\s*(?P<col2>[A-Za-z_]\w*)\s*\)$",
    re.IGNORECASE,
)
_MR_QUANT = re.compile(
    r"^(?P<sym>[A-Za-z_]\w*)(?:\{(?P<lo>\d+)(?P<comma>,)?\}|(?P<plus>\+))?$"
)
_MR_GROUP_QUANT = re.compile(r"^\{(?P<lo>\d+),(?P<hi>\d+)\}")


def _mr_leg_token(tok: str, define: dict[str, int]) -> tuple[str, int, bool]:
    """One pattern symbol with its optional quantifier -> (sym, n, exact)."""
    qm = _MR_QUANT.match(tok)
    if qm is None:
        raise ValueError(f"unsupported PATTERN token: {tok!r}")
    sym = qm.group("sym").upper()
    if sym not in define:
        raise ValueError(f"PATTERN symbol {sym!r} has no DEFINE")
    if qm.group("plus"):
        return sym, 1, False
    if qm.group("lo") is not None:
        return sym, int(qm.group("lo")), qm.group("comma") is None
    return sym, 1, True  # bare symbol = exactly one row


def _mr_parse_pattern(
    pat: str, define: dict[str, int]
) -> list[list[list[tuple[str, int, bool]]]]:
    """Parse the PATTERN body into match VARIANTS, each a sequence of
    LEGS, each leg a set of symbol ALTERNATIVES:

    - ``SYM`` / ``SYM+`` / ``SYM{n}`` / ``SYM{n,}`` — a singleton leg
      (the original grammar).
    - ``(A|B)`` — ONE leg with alternative symbols (branches may carry
      their own quantifiers); which branch matched is resolved at
      runtime by the run's direction, so branches must have DISTINCT
      directions (same-direction branches are the same predicate under
      strict PREV defines — ambiguous attribution, refused).
    - ``(A B){m,n}`` — a grouped sequence repeated m..n times
      (1 <= m <= n), expanded to one variant per repetition count in
      GREEDY order (longest first — the ANSI default); at most one
      quantified group per pattern so greedy preference stays a total
      order.

    Variants whose adjacency is statically dead (two adjacent legs
    whose every alternative pair shares a direction — impossible over
    maximal direction runs) are dropped; that is the pattern's real
    semantics, not an error, unless NO variant survives.
    """
    elems: list[tuple] = []  # ('leg', alts) | ('group', legs, m, n)
    i, n = 0, len(pat)
    saw_group = False
    while i < n:
        c = pat[i]
        if c.isspace():
            i += 1
            continue
        if c == "(":
            close = pat.find(")", i)
            if close < 0:
                raise ValueError("unbalanced parens in PATTERN")
            inner = pat[i + 1 : close]
            if "(" in inner:
                raise ValueError("nested PATTERN groups are not supported")
            i = close + 1
            gq = _MR_GROUP_QUANT.match(pat[i:])
            if "|" in inner:
                if gq is not None:
                    raise ValueError(
                        "quantified alternation groups are not supported"
                    )
                alts = [
                    _mr_leg_token(b.strip(), define)
                    for b in inner.split("|")
                ]
                dirs = [define[a[0]] for a in alts]
                if len(set(dirs)) != len(dirs):
                    raise ValueError(
                        "alternation branches must have distinct directions"
                        " (same-direction branches are the same predicate)"
                    )
                elems.append(("leg", alts))
            else:
                legs = [
                    [_mr_leg_token(t, define)] for t in inner.split()
                ]
                if not legs:
                    raise ValueError("empty PATTERN group")
                if gq is None:
                    elems.extend(("leg", alts) for alts in legs)
                else:
                    lo, hi = int(gq.group("lo")), int(gq.group("hi"))
                    if not (1 <= lo <= hi):
                        raise ValueError(
                            "group quantifier needs 1 <= m <= n"
                        )
                    if hi - lo > 15:
                        raise ValueError(
                            "group quantifier span {m,n} wider than 16"
                            " is not supported"
                        )
                    if saw_group:
                        raise ValueError(
                            "at most one quantified group per PATTERN"
                            " (greedy preference must stay a total order)"
                        )
                    saw_group = True
                    i += gq.end()
                    elems.append(("group", legs, lo, hi))
        elif c == ")":
            raise ValueError("unbalanced parens in PATTERN")
        else:
            j = i
            while j < n and not pat[j].isspace() and pat[j] not in "()|":
                j += 1
            elems.append(("leg", [_mr_leg_token(pat[i:j], define)]))
            i = j
    if not elems:
        raise ValueError("empty PATTERN")

    def _expansions() -> list[list[list[tuple[str, int, bool]]]]:
        g = next((idx for idx, e in enumerate(elems) if e[0] == "group"), None)
        if g is None:
            return [[e[1] for e in elems]]
        prefix = [e[1] for e in elems[:g]]
        suffix = [e[1] for e in elems[g + 1 :]]
        _, legs, lo, hi = elems[g]
        return [
            prefix + legs * k + suffix for k in range(hi, lo - 1, -1)
        ]  # greedy: longest first

    variants = []
    for var in _expansions():
        dead = False
        for a, b in zip(var, var[1:]):
            if all(
                define[sa[0]] == define[sb[0]] for sa in a for sb in b
            ):
                dead = True
                break
        if not dead:
            variants.append(var)
    if not variants:
        raise ValueError(
            "adjacent PATTERN symbols must differ in direction"
            " (no variant of this pattern can match maximal runs)"
        )
    return variants
_MR_MEASURE = re.compile(
    r"^(?:(?P<sem>RUNNING|FINAL)\s+)?"
    r"(?:(?P<fn>FIRST|LAST)\s*\(\s*(?P<msym>[A-Za-z_]\w*)\.(?P<mcol>[A-Za-z_]\w*)\s*\)"
    r"|COUNT\s*\(\s*(?P<csym>[A-Za-z_]\w*)\.\*\s*\)"
    r"|(?P<mn>MATCH_NUMBER\s*\(\s*\))"
    r"|(?P<cls>CLASSIFIER\s*\(\s*\)))\s+AS\s+(?P<name>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)


def parse_match_recognize(text: str) -> dict:
    """Parse a Snowflake/ANSI ``MATCH_RECOGNIZE`` statement into its
    compilable spec. Accepted (conservative — the e13/e17 lowering's
    reach, now reachable from TEXT):

        SELECT * FROM <table> MATCH_RECOGNIZE (
          PARTITION BY <cols> ORDER BY <cols>
          MEASURES FIRST(sym.<ordcol>)|LAST(sym.<ordcol>)|COUNT(sym.*)
                   |MATCH_NUMBER() AS name, ...
          ONE ROW PER MATCH
          [AFTER MATCH SKIP TO NEXT ROW | SKIP PAST LAST ROW]
          PATTERN ( SYM[{n,}|{n}|+] | (A|B) | (SYM ...){m,n} ... )
          DEFINE SYM AS <col> < PREV(<col>), SYM2 AS <col> > PREV(<col>)
        )

    DEFINE symbols must all compare ONE column against PREV of itself
    ('<' falls, '>' rises) — the direction-run normal form; adjacent
    pattern symbols must differ in direction (same-direction neighbors
    would merge into one run, which ANSI pattern concatenation cannot
    produce under strict PREV defines). r8 (VERDICT r7 item #4) adds
    ``(A|B)`` alternation legs (branch resolved at runtime by run
    direction) and ``(A B){m,n}`` grouped repetition (expanded to
    greedy-ordered variants — see :func:`_mr_parse_pattern`); r8 adds
    ALL ROWS PER MATCH; r9 adds the full AFTER MATCH SKIP family:
    PAST LAST ROW (the ANSI/Snowflake DEFAULT when the clause is
    absent — non-overlapping matches via greedy earliest-first
    selection over the candidate run spans) and TO FIRST|LAST
    <symbol> (resume at the symbol's run — the run-aligned contract;
    the symbol must be an unconditional leg of every variant, and a
    first-leg resume refuses as ANSI's infinite-loop error)."""
    sql = strip_line_comments(text).strip().rstrip(";")
    hm = _MR_HEAD.search(sql)
    if hm is None:
        raise ValueError(
            "unsupported MATCH_RECOGNIZE shape (need SELECT * FROM <t>"
            " MATCH_RECOGNIZE (...))"
        )
    close = balanced_end(sql, hm.end() - 1)
    if sql[close:].strip():
        raise ValueError("trailing clauses after MATCH_RECOGNIZE are unsupported")
    body = sql[hm.end() : close - 1].strip()
    bm = _MR_BODY.search(body)
    if bm is None:
        raise ValueError(
            "MATCH_RECOGNIZE needs PARTITION BY / ORDER BY / MEASURES /"
            " ONE ROW PER MATCH / PATTERN / DEFINE in that order"
        )
    part = [c.strip() for c in bm.group("part").split(",")]
    order = [c.strip() for c in bm.group("order").split(",")]
    define: dict[str, int] = {}
    def_col: str | None = None
    for d in split_top_level(bm.group("define"), ","):
        dm = _MR_DEFINE.match(d.strip())
        if dm is None:
            raise ValueError(
                f"DEFINE supports only '<col> </> PREV(<col>)': {d.strip()!r}"
            )
        if dm.group("col").lower() != dm.group("col2").lower():
            raise ValueError("DEFINE must compare a column to PREV of itself")
        if def_col is None:
            def_col = dm.group("col").lower()
        elif def_col != dm.group("col").lower():
            raise ValueError("all DEFINE symbols must use one column")
        define[dm.group("sym").upper()] = -1 if dm.group("op") == "<" else 1
    variants = _mr_parse_pattern(bm.group("pattern"), define)
    # Back-compat view: the original flat (sym, n, exact) list when the
    # pattern has exactly one variant of singleton legs (the pre-r8
    # grammar); None for alternation / grouped patterns.
    pattern: list[tuple[str, int, bool]] | None = None
    if len(variants) == 1 and all(len(alts) == 1 for alts in variants[0]):
        pattern = [alts[0] for alts in variants[0]]
    all_rows = "ALL" in bm.group("permatch").upper().split()[0]
    measures = []
    for item in split_top_level(bm.group("measures"), ","):
        mm = _MR_MEASURE.match(item.strip())
        if mm is None:
            raise ValueError(f"unsupported MEASURES item: {item.strip()!r}")
        # aggregate semantics: ANSI defaults RUNNING in ALL ROWS mode,
        # and RUNNING == FINAL at a match's last row, which is the one
        # row ONE ROW mode emits — so ONE ROW always resolves to final
        sem = (mm.group("sem") or ("RUNNING" if all_rows else "FINAL")).lower()
        if not all_rows:
            sem = "final"
        if mm.group("mn"):
            measures.append(("match_number", None, mm.group("name"), sem))
        elif mm.group("cls"):
            if not all_rows:
                raise ValueError(
                    "CLASSIFIER() needs ALL ROWS PER MATCH (a one-row"
                    " match summary has no single classifier)"
                )
            measures.append(("classifier", None, mm.group("name"), sem))
        elif mm.group("csym"):
            measures.append(
                ("count", mm.group("csym").upper(), mm.group("name"), sem)
            )
        else:
            mcol = mm.group("mcol").lower()
            if mcol != order[0].lower():
                raise ValueError(
                    "FIRST/LAST measures support the primary ORDER BY column"
                    f" only (got {mcol!r})"
                )
            measures.append(
                (mm.group("fn").lower(), mm.group("msym").upper(), mm.group("name"), sem)
            )
    skip_clause = (bm.group("skip") or "").upper()
    # ANSI/Snowflake default is SKIP PAST LAST ROW (non-overlapping
    # matches); an explicit SKIP TO NEXT ROW allows overlaps; SKIP TO
    # FIRST|LAST <sym> resumes at the symbol's run under the engine's
    # run-aligned contract (r9 — VERDICT r8 Missing #3 named the skip
    # variants). skip_leg maps each variant to the resume OFFSET (runs
    # past the match start).
    skip_leg: list[int] | None = None
    if bm.group("skipdir"):
        sym = bm.group("skipsym").upper()
        if sym not in define:
            raise ValueError(f"SKIP TO {bm.group('skipdir')} {sym}: undefined symbol")
        first = bm.group("skipdir").upper() == "FIRST"
        skip = "to_first_sym" if first else "to_last_sym"
        skip_leg = []
        for var in variants:
            # only UNCONDITIONAL legs (no alternation) participate
            # statically; runtime participation would make the resume
            # point data-dependent in a way the normal form can't bind
            idxs = [
                i for i, alts in enumerate(var)
                if len(alts) == 1 and alts[0][0] == sym
            ]
            if not idxs:
                raise ValueError(
                    f"SKIP TO {'FIRST' if first else 'LAST'} {sym}: the symbol"
                    " must appear as an unconditional leg of every pattern"
                    " variant"
                )
            leg = idxs[0] if first else idxs[-1]
            if leg == 0:
                raise ValueError(
                    f"SKIP TO {'FIRST' if first else 'LAST'} {sym} resolves to"
                    " the match's own first run — infinite loop (ANSI errors"
                    " here too)"
                )
            skip_leg.append(leg)
    elif "NEXT" in skip_clause:
        skip = "next_row"
    else:
        skip = "past_last"
    return {
        "table": hm.group("table"),
        "partition_by": part,
        "order_by": order,
        "define": define,
        "def_col": def_col,
        "pattern": pattern,
        "variants": variants,
        "measures": measures,
        "all_rows": all_rows,
        "skip": skip,
        "skip_leg": skip_leg,
    }


def match_recognize_statement(spark, text: str, tables: dict):  # noqa: ANN001
    """Execute a MATCH_RECOGNIZE statement VERBATIM by compiling the
    parsed pattern to the engine's run-relation normal form (the
    e13/e17 scheme, now a general compiler): per-row direction via
    lag over (PARTITION BY, ORDER BY), run-length encoding via the
    gaps-and-islands running sum, one aggregate row per run, then ONE
    adjacent-run equi-join per pattern leg (run_id + i), with each
    leg's direction and quantifier as join-side predicates. Matches
    report per ANSI AFTER MATCH SKIP TO NEXT ROW.

    Scale shape: one shuffle by the partition key builds the run
    relation (input compressed to ~one row per direction reversal);
    k pattern legs = k-1 equi-joins on data already clustered by the
    key — never a rescan of the raw stream, never a cartesian."""
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F

    spec = parse_match_recognize(text)
    df = next(
        d for n, d in tables.items()
        if n.split(".")[-1].lower() == spec["table"].split(".")[-1].lower()
    )
    part, order, col = spec["partition_by"], spec["order_by"], spec["def_col"]
    w = _W.partitionBy(*part).orderBy(*order)
    v = F.col(col)
    dirs = df.withColumn(
        "__dir",
        F.when(v < F.lag(col).over(w), -1)
        .when(v > F.lag(col).over(w), 1)
        .when(F.lag(col).over(w).isNull(), F.lit(None).cast("int"))
        .otherwise(0),
    )
    numbered = (
        dirs.withColumn(
            "__chg",
            F.when(~F.col("__dir").eqNullSafe(F.lag("__dir").over(w)), 1).otherwise(0),
        )
        .filter(F.col("__dir").isNotNull())
        .withColumn(
            "__run",
            F.sum("__chg").over(w.rowsBetween(_W.unboundedPreceding, 0)),
        )
    )
    ord0 = order[0]
    runs = numbered.groupBy(*part, "__run", "__dir").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.min(ord0).alias("__first"),
        F.max(ord0).alias("__last"),
    )
    # Every pattern leg joins against a filtered copy of ``runs``, and
    # the per-leg filters sit BELOW each join exchange, so Catalyst's
    # ReuseExchange never fires: a k-leg pattern re-ran the raw-stream
    # scan + the three stacked windows + the RLE aggregate k times
    # (the r16 sql50 plan carried 11 such chains for its three
    # statements). persist() pins the run relation — the already-
    # compressed ~one-row-per-direction-reversal form — so the stream
    # is scanned and windowed once per statement and every leg reads
    # the in-memory copy (persist, NOT localCheckpoint: the cached
    # relation keeps plan stats, so the per-leg joins stay broadcast;
    # a checkpoint's stat-less LogicalRDD demoted them to SMJ and
    # measured 3.6x WORSE than the recompute it saved).
    runs = runs.persist()
    def chain(var):
        out = None
        for i, alts in enumerate(var):
            cond = None
            for sym, n, exact in alts:
                q = (F.col("__n") == n) if exact else (F.col("__n") >= n)
                c = (F.col("__dir") == spec["define"][sym]) & q
                cond = c if cond is None else (cond | c)
            leg = runs.filter(cond).select(
                *[F.col(p).alias(f"__p{j}_{i}") for j, p in enumerate(part)],
                (F.col("__run") - i).cast("long").alias(f"__m_{i}"),
                F.col("__n").alias(f"__n_{i}"),
                F.col("__first").alias(f"__first_{i}"),
                F.col("__last").alias(f"__last_{i}"),
                F.col("__dir").alias(f"__d_{i}"),
            )
            if out is None:
                out = leg
            else:
                conds = [
                    out[f"__p{j}_0"] == leg[f"__p{j}_{i}"] for j in range(len(part))
                ] + [out["__m_0"] == leg[f"__m_{i}"]]
                out = out.join(leg, on=conds)
        return out

    def var_sym_legs(var):
        # (leg index, unconditional?) per symbol: an alternation leg
        # contributes to a symbol's measure only when the matched run's
        # direction IS that symbol's (ANSI: un-participating symbols
        # yield NULL for FIRST/LAST, 0 for COUNT)
        sym_legs: dict[str, list[tuple[int, bool]]] = {}
        for i, alts in enumerate(var):
            for sym, _n, _e in alts:
                sym_legs.setdefault(sym, []).append((i, len(alts) == 1))
        return sym_legs

    def final_measure_expr(kind, sym, sym_legs):
        legs = sym_legs.get(sym)
        if not legs:
            raise ValueError(f"measure references undefined symbol {sym!r}")
        d = spec["define"][sym]
        if kind == "count":
            expr = None
            for i, uncond in legs:
                term = (
                    F.col(f"__n_{i}")
                    if uncond
                    else F.when(F.col(f"__d_{i}") == d, F.col(f"__n_{i}")).otherwise(F.lit(0))
                )
                expr = term if expr is None else expr + term
            return expr.cast("long")
        src = "__first" if kind == "first" else "__last"
        cols = [
            F.col(f"{src}_{i}")
            if uncond
            else F.when(F.col(f"__d_{i}") == d, F.col(f"{src}_{i}"))
            for i, uncond in legs
        ]
        if len(cols) == 1:
            return cols[0]
        return F.least(*cols) if kind == "first" else F.greatest(*cols)

    need_span = spec["skip"] != "next_row"

    def resume_offset(var, vrank):
        # runs past the match start where the scan resumes after an
        # accepted match: past-last = the whole span; SKIP TO
        # FIRST/LAST <sym> = that symbol's (static) leg
        if spec["skip"] == "past_last":
            return len(var)
        return spec["skip_leg"][vrank]

    def build_variant(var, vrank):
        out = chain(var)
        sym_legs = var_sym_legs(var)
        sel = [F.col(f"__p{j}_0").alias(p) for j, p in enumerate(part)]
        for kind, sym, name, _sem in spec["measures"]:
            if kind == "match_number":
                sel.append(F.col("__m_0").alias(name))
            else:
                sel.append(final_measure_expr(kind, sym, sym_legs).alias(name))
        if len(spec["variants"]) > 1 or need_span:
            sel.append(F.col("__m_0").alias("__start"))
            sel.append(F.lit(vrank).alias("__v"))
        if need_span:
            sel.append(
                (F.col("__m_0") + resume_offset(var, vrank))
                .cast("long")
                .alias("__resume")
            )
        return out.select(*sel)

    def greedy_non_overlapping(df, start_col, resume_col, group_cols):
        # AFTER MATCH SKIP selection: earliest-first scan per
        # partition, resuming at each accepted match's __resume run
        # (PAST LAST ROW = past the whole span; SKIP TO <sym> = at the
        # symbol's run, so later matches may overlap the earlier one's
        # tail). Each acceptance depends on the previous one — an
        # INHERENTLY sequential chain — so it crosses to Python once,
        # over the CANDIDATE relation (already compressed to ~one row
        # per direction reversal, orders of magnitude smaller than the
        # raw stream; the same per-key-sequential class as stateful
        # sessionization). It runs as ONE mapInPandas over partitions
        # hash-clustered by the key, NOT groupBy().applyInPandas: the
        # grouped-map form builds one pandas frame per GROUP, and on
        # a many-small-groups relation (sql50: 1500 users, ~10 rows
        # each) that per-group overhead measured 4.5 s where the
        # per-PARTITION form below measures ~0.4 s for the identical
        # selection (r16). Memory: one partition of candidates is
        # buffered per task — the same order as the sort buffer the
        # grouped-map form already required per group times the
        # groups-per-task, and the relation is run-compressed by
        # construction.
        import numpy as np
        import pandas as pd

        schema = df.schema
        gcols = list(group_cols)

        # Key-type caveat (ADVICE r16): Arrow->pandas turns a SQL NULL
        # in a FLOAT/DOUBLE partition key into NaN, so pandas
        # groupby(dropna=False) would collapse NULL-key and literal-
        # NaN-key rows into one group where Spark's groupBy keeps them
        # distinct (and hash-partitions them independently). Float
        # PARTITION BY keys carrying literal NaN are therefore
        # unsupported in MATCH_RECOGNIZE; integer/string/date keys
        # (the dialect's tested surface) are unaffected.
        def pick_partition(batches):
            parts = [b for b in batches]
            if not parts:
                return
            pdf = (
                pd.concat(parts, ignore_index=True)
                if len(parts) > 1
                else parts[0]
            )
            if len(pdf) == 0:
                return
            pdf = pdf.sort_values([*gcols, start_col], ignore_index=True)
            # group boundaries via ngroup (dropna=False: a NULL key is
            # one group, matching groupBy's null handling)
            codes = pdf.groupby(gcols, sort=False, dropna=False).ngroup().to_numpy()
            starts = pdf[start_col].to_numpy()
            resumes = pdf[resume_col].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            resume = None
            last_s = None
            prev_code = None
            for i in range(len(pdf)):
                if codes[i] != prev_code:
                    prev_code = codes[i]
                    resume = None
                    last_s = None
                s = starts[i]
                if resume is None or (s >= resume and s > last_s):
                    keep[i] = True
                    resume = resumes[i]
                    last_s = s
            yield pdf.loc[keep]

        return df.repartition(*[F.col(c) for c in gcols]).mapInPandas(
            pick_partition, schema
        )

    def build_variant_all_rows(var, vrank):
        # match relation -> one row per (match, leg), carrying the
        # leg's run id and resolved CLASSIFIER, plus every FINAL
        # aggregate (computed once per match, replicated per row)
        out = chain(var)
        sym_legs = var_sym_legs(var)
        finals = []
        for kind, sym, name, sem in spec["measures"]:
            if kind in ("count", "first", "last") and sem == "final":
                finals.append(
                    final_measure_expr(kind, sym, sym_legs).alias(f"__fm_{name}")
                )
        leg_structs = []
        for i, alts in enumerate(var):
            if len(alts) == 1:
                cls = F.lit(alts[0][0])
            else:
                cls = None
                for sym, _n, _e in alts:
                    d = spec["define"][sym]
                    term = F.when(F.col(f"__d_{i}") == d, F.lit(sym))
                    cls = term if cls is None else cls.when(F.col(f"__d_{i}") == d, F.lit(sym))
            leg_structs.append(
                F.struct(
                    (F.col("__m_0") + i).cast("long").alias("rid"),
                    cls.alias("cls"),
                )
            )
        resume = (
            [
                (F.col("__m_0") + resume_offset(var, vrank))
                .cast("long")
                .alias("__resume")
            ]
            if need_span
            else []
        )
        return out.select(
            *[F.col(f"__p{j}_0").alias(f"__ep{j}") for j in range(len(part))],
            F.col("__m_0").alias("__mn"),
            F.lit(vrank).alias("__v"),
            *resume,
            *finals,
            F.explode(F.array(*leg_structs)).alias("__leg"),
        ).select(
            "*",
            F.col("__leg.rid").alias("__rid"),
            F.col("__leg.cls").alias("__cls"),
        ).drop("__leg")

    variants = spec["variants"]
    if not spec["all_rows"]:
        if len(variants) == 1:
            cand = build_variant(variants[0], 0)
            if need_span:
                cand = greedy_non_overlapping(cand, "__start", "__resume", part)
                cand = cand.drop("__start", "__resume", "__v")
            return cand
        # Greedy selection across variants (ANSI: quantifiers prefer the
        # longest match from a given start): variants were expanded
        # longest first, so per (partition key, start run) keep the
        # lowest rank.
        unioned = build_variant(variants[0], 0)
        for vrank, var in enumerate(variants[1:], start=1):
            unioned = unioned.unionByName(build_variant(var, vrank))
        wv = _W.partitionBy(*part, "__start").orderBy("__v")
        picked = (
            unioned.withColumn("__rk", F.row_number().over(wv))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
        if need_span:
            picked = greedy_non_overlapping(
                picked.drop("__v"), "__start", "__resume", part
            ).drop("__resume")
        return picked.drop("__start", "__v")

    # ---- ALL ROWS PER MATCH (r8) -----------------------------------
    # One row per matched input row: the per-leg exploded match
    # relation joins back to the numbered row relation on
    # (partition key, run id) — a keyed equi-join against data already
    # clustered by the key, never a rescan of the raw stream. Output
    # projection contract (documented, conservative): partition
    # columns + order columns + measures. RUNNING aggregates are
    # windows over (partition, match) in the statement's ORDER BY.
    exploded = build_variant_all_rows(variants[0], 0)
    for vrank, var in enumerate(variants[1:], start=1):
        exploded = exploded.unionByName(build_variant_all_rows(var, vrank))
    if len(variants) > 1:
        # greedy: keep only legs of the lowest-rank variant per match
        wmin = _W.partitionBy(*[f"__ep{j}" for j in range(len(part))], "__mn")
        exploded = exploded.withColumn("__vmin", F.min("__v").over(wmin)).filter(
            F.col("__v") == F.col("__vmin")
        )
    if need_span:
        # AFTER MATCH SKIP on the exploded relation: select matches at
        # MATCH level (start run + per-variant resume run) then keep
        # only their legs
        ep = [f"__ep{j}" for j in range(len(part))]
        spans = exploded.groupBy(*ep, "__mn").agg(
            F.min("__mn").cast("long").alias("__start"),
            F.max("__resume").cast("long").alias("__rs"),
        )
        accepted = greedy_non_overlapping(spans, "__start", "__rs", ep).select(
            *ep, "__mn"
        )
        exploded = exploded.join(accepted, on=[*ep, "__mn"], how="left_semi")
    conds = [
        numbered[p] == exploded[f"__ep{j}"] for j, p in enumerate(part)
    ] + [numbered["__run"] == exploded["__rid"]]
    joined = numbered.join(exploded, on=conds)
    wrun = _W.partitionBy(
        *[numbered[p] for p in part], exploded["__mn"]
    ).orderBy(*[numbered[o] for o in order]).rowsBetween(
        _W.unboundedPreceding, 0
    )
    sel = [numbered[p].alias(p) for p in part] + [
        numbered[o].alias(o) for o in order
    ]
    for kind, sym, name, sem in spec["measures"]:
        if kind == "match_number":
            sel.append(exploded["__mn"].alias(name))
        elif kind == "classifier":
            sel.append(exploded["__cls"].alias(name))
        elif sem == "final":
            sel.append(exploded[f"__fm_{name}"].alias(name))
        elif kind == "count":
            sel.append(
                F.sum(
                    F.when(exploded["__cls"] == sym, 1).otherwise(0)
                ).over(wrun).cast("long").alias(name)
            )
        else:  # running first / last of the primary order column
            probe = F.when(exploded["__cls"] == sym, numbered[ord0])
            fn = F.first if kind == "first" else F.last
            sel.append(fn(probe, ignorenulls=True).over(wrun).alias(name))
    return joined.select(*sel)


def sql_match_recognize(text: str, value_expr: str | None = None) -> str:
    """DuckDB twin of :func:`match_recognize_statement` — the identical
    run relation and leg-join chain generated from the same parsed
    spec, so any accepted statement carries its own oracle.
    ``value_expr`` optionally substitutes the DEFINE column in the
    run-building comparisons (e.g. an exact-cents rewrite)."""
    spec = parse_match_recognize(text)
    part = ", ".join(spec["partition_by"])
    order = ", ".join(spec["order_by"])
    col = value_expr or spec["def_col"]
    ord0 = spec["order_by"][0]
    table = spec["table"]
    part_sel = ", ".join(f"l0.{p}" for p in spec["partition_by"])
    multi = len(spec["variants"]) > 1

    def var_parts(var):
        legs_sql = []
        join_sql = []
        for i, alts in enumerate(var):
            alias = f"l{i}"
            branches = []
            for sym, n, exact in alts:
                op = "=" if exact else ">="
                branches.append(
                    f"({alias}.__dir = {spec['define'][sym]}"
                    f" AND {alias}.__n {op} {n})"
                )
            pred = " OR ".join(branches)
            if i == 0:
                join_sql.append(f"FROM runs {alias}")
            else:
                keys = " AND ".join(
                    f"{alias}.{p} = l0.{p}" for p in spec["partition_by"]
                )
                join_sql.append(
                    f"JOIN runs {alias} ON {keys} AND {alias}.__run = l0.__run + {i}"
                )
            legs_sql.append(f"({pred})" if len(branches) > 1 else pred)
        sym_legs: dict[str, list[tuple[int, bool]]] = {}
        for i, alts in enumerate(var):
            for sym, _n, _e in alts:
                sym_legs.setdefault(sym, []).append((i, len(alts) == 1))
        return join_sql, legs_sql, sym_legs

    def final_meas_sql(kind, sym, sym_legs):
        legs = sym_legs[sym]
        d = spec["define"][sym]
        if kind == "count":
            terms = " + ".join(
                f"l{i}.__n"
                if uncond
                else f"(CASE WHEN l{i}.__dir = {d} THEN l{i}.__n ELSE 0 END)"
                for i, uncond in legs
            )
            return f"CAST({terms} AS BIGINT)"
        src = "__first" if kind == "first" else "__last"
        fn = "least" if kind == "first" else "greatest"
        terms = ", ".join(
            f"l{i}.{src}"
            if uncond
            else f"(CASE WHEN l{i}.__dir = {d} THEN l{i}.{src} END)"
            for i, uncond in legs
        )
        return f"{fn}({terms})" if len(legs) > 1 else terms

    need_span = spec["skip"] != "next_row"

    def resume_offset(var, vrank: int) -> int:
        if spec["skip"] == "past_last":
            return len(var)
        return spec["skip_leg"][vrank]

    def variant_select(var, vrank: int) -> str:
        join_sql, legs_sql, sym_legs = var_parts(var)
        meas_sql = []
        for kind, sym, name, _sem in spec["measures"]:
            if kind == "match_number":
                meas_sql.append(f"CAST(l0.__run AS BIGINT) AS {name}")
            else:
                meas_sql.append(f"{final_meas_sql(kind, sym, sym_legs)} AS {name}")
        extra = ""
        if multi or need_span:
            extra += f", CAST(l0.__run AS BIGINT) AS __start, {vrank} AS __v"
        if need_span:
            extra += (
                f", CAST(l0.__run + {resume_offset(var, vrank)} AS BIGINT)"
                " AS __resume"
            )
        return (
            f"SELECT {part_sel}, {', '.join(meas_sql)}{extra}\n"
            f"    {' '.join(join_sql)}\n"
            f"    WHERE {' AND '.join(legs_sql)}"
        )

    def greedy_sel_cte(cands: str, part_cols: list[str]) -> str:
        # AFTER MATCH SKIP selection as a recursive CTE: per partition,
        # accept the earliest candidate, then repeatedly the earliest
        # starting at/after the accepted match's resume run (and
        # strictly after its start, so SKIP TO <sym> always advances) —
        # the same greedy the Spark executor runs in applyInPandas.
        keys_cc = " AND ".join(f"c2.{p} = c.{p}" for p in part_cols) or "TRUE"
        keys_sc = " AND ".join(f"c.{p} = s.{p}" for p in part_cols) or "TRUE"
        keys_s2 = " AND ".join(f"c2.{p} = s.{p}" for p in part_cols) or "TRUE"
        step = "c2.__start >= s.__resume AND c2.__start > s.__start"
        return (
            f"__sel AS (\n"
            f"        SELECT c.* FROM {cands} c\n"
            f"        WHERE c.__start = (SELECT min(c2.__start) FROM {cands} c2"
            f" WHERE {keys_cc})\n"
            f"        UNION ALL\n"
            f"        SELECT c.* FROM __sel s JOIN {cands} c"
            f" ON {keys_sc} AND c.__start >= s.__resume"
            f" AND c.__start > s.__start\n"
            f"        WHERE c.__start = (SELECT min(c2.__start) FROM {cands} c2"
            f" WHERE {keys_s2} AND {step})\n"
            f"    )"
        )

    def variant_all_rows_select(var, vrank: int) -> str:
        # one SELECT per LEG of the variant: (partition, match number,
        # variant rank, leg run id, resolved classifier, finals)
        join_sql, legs_sql, sym_legs = var_parts(var)
        finals = []
        for kind, sym, name, sem in spec["measures"]:
            if kind in ("count", "first", "last") and sem == "final":
                finals.append(f"{final_meas_sql(kind, sym, sym_legs)} AS __fm_{name}")
        out = []
        for i, alts in enumerate(var):
            if len(alts) == 1:
                cls = f"'{alts[0][0]}'"
            else:
                whens = " ".join(
                    f"WHEN {spec['define'][sym]} THEN '{sym}'"
                    for sym, _n, _e in alts
                )
                cls = f"(CASE l{i}.__dir {whens} END)"
            cols = [
                part_sel,
                f"CAST(l0.__run AS BIGINT) AS __mn",
                f"{vrank} AS __v",
                f"CAST(l0.__run + {i} AS BIGINT) AS __rid",
                f"{cls} AS __cls",
                *(
                    [
                        f"CAST(l0.__run + {resume_offset(var, vrank)} AS BIGINT)"
                        " AS __resume"
                    ]
                    if need_span
                    else []
                ),
                *finals,
            ]
            out.append(
                f"SELECT {', '.join(cols)}\n"
                f"    {' '.join(join_sql)}\n"
                f"    WHERE {' AND '.join(legs_sql)}"
            )
        return "\n    UNION ALL\n    ".join(out)

    extra_ctes = ""
    if spec["all_rows"]:
        unions = "\n    UNION ALL\n    ".join(
            variant_all_rows_select(var, vrank)
            for vrank, var in enumerate(spec["variants"])
        )
        keys_b = ", ".join(spec["partition_by"])
        pick = (
            f"SELECT * FROM (\n    {unions}\n    )\n"
            + (
                f"    QUALIFY __v = min(__v) OVER (PARTITION BY {keys_b}, __mn)"
                if multi
                else ""
            )
        )
        if need_span:
            # match-level AFTER MATCH SKIP selection, then keep only
            # accepted matches' legs
            sel_keys = " AND ".join(
                f"e.{p} = s.{p}" for p in spec["partition_by"]
            )
            extra_ctes = (
                f",\n    __exp AS (\n    {pick}\n    ),\n"
                f"    __cands AS (\n"
                f"        SELECT {keys_b}, __mn,"
                f" CAST(min(__mn) AS BIGINT) AS __start,"
                f" CAST(max(__resume) AS BIGINT) AS __resume\n"
                f"        FROM __exp GROUP BY {keys_b}, __mn\n    ),\n    "
                + greedy_sel_cte("__cands", spec["partition_by"])
            )
            pick = (
                f"SELECT e.* FROM __exp e JOIN __sel s"
                f" ON {sel_keys} AND e.__mn = s.__mn"
            )
        run_keys = " AND ".join(
            f"n.{p} = x.{p}" for p in spec["partition_by"]
        )
        sel = [f"n.{p}" for p in spec["partition_by"]] + [
            f"n.{o}" for o in spec["order_by"]
        ]
        wrun = (
            f"OVER (PARTITION BY {', '.join('n.' + p for p in spec['partition_by'])},"
            f" x.__mn ORDER BY {', '.join('n.' + o for o in spec['order_by'])}"
            f" ROWS UNBOUNDED PRECEDING)"
        )
        for kind, sym, name, sem in spec["measures"]:
            if kind == "match_number":
                sel.append(f"x.__mn AS {name}")
            elif kind == "classifier":
                sel.append(f"x.__cls AS {name}")
            elif sem == "final":
                sel.append(f"x.__fm_{name} AS {name}")
            elif kind == "count":
                sel.append(
                    f"CAST(SUM(CASE WHEN x.__cls = '{sym}' THEN 1 ELSE 0 END)"
                    f" {wrun} AS BIGINT) AS {name}"
                )
            else:
                fn = "first_value" if kind == "first" else "last_value"
                sel.append(
                    f"{fn}(CASE WHEN x.__cls = '{sym}' THEN n.{ord0} END"
                    f" IGNORE NULLS) {wrun} AS {name}"
                )
        var_sql = (
            f"SELECT {', '.join(sel)}\n"
            f"    FROM numbered n JOIN (\n    {pick}\n    ) x\n"
            f"    ON {run_keys} AND n.__run = x.__rid"
        )
    elif not multi:
        if need_span:
            cand_sql = variant_select(spec["variants"][0], 0)
            var_sql = (
                f"SELECT * EXCLUDE (__start, __v, __resume) FROM __sel"
            )
            extra_ctes = (
                f",\n    __cands AS (\n    {cand_sql}\n    ),\n    "
                + greedy_sel_cte("__cands", spec["partition_by"])
            )
        else:
            var_sql = variant_select(spec["variants"][0], 0)
    else:
        # greedy pick per (partition, start run): variants are emitted
        # longest-first, keep the lowest __v (ANSI greedy quantifier)
        unions = "\n    UNION ALL\n    ".join(
            variant_select(var, vrank)
            for vrank, var in enumerate(spec["variants"])
        )
        keys = ", ".join(spec["partition_by"])
        if need_span:
            pick_sql = (
                f"SELECT * EXCLUDE (__v) FROM (\n    {unions}\n    )\n"
                f"    QUALIFY row_number() OVER (PARTITION BY {keys}, __start"
                f" ORDER BY __v) = 1"
            )
            var_sql = "SELECT * EXCLUDE (__start, __resume) FROM __sel"
            extra_ctes = (
                f",\n    __cands AS (\n    {pick_sql}\n    ),\n    "
                + greedy_sel_cte("__cands", spec["partition_by"])
            )
        else:
            var_sql = (
                f"SELECT * EXCLUDE (__start, __v) FROM (\n    {unions}\n    )\n"
                f"    QUALIFY row_number() OVER (PARTITION BY {keys}, __start"
                f" ORDER BY __v) = 1"
            )
    recursive = " RECURSIVE" if need_span else ""
    return f"""
    WITH{recursive} dirs AS (
        SELECT *, CASE
            WHEN {col} < lag({col}) OVER w THEN -1
            WHEN {col} > lag({col}) OVER w THEN 1
            WHEN lag({col}) OVER w IS NULL THEN NULL
            ELSE 0 END AS __dir
        FROM {table}
        WINDOW w AS (PARTITION BY {part} ORDER BY {order})
    ),
    numbered AS (
        SELECT *, SUM(__chg) OVER (PARTITION BY {part} ORDER BY {order}
                                   ROWS UNBOUNDED PRECEDING) AS __run
        FROM (
            SELECT *, CASE WHEN __dir IS DISTINCT FROM lag(__dir) OVER w2
                           THEN 1 ELSE 0 END AS __chg
            FROM dirs
            WINDOW w2 AS (PARTITION BY {part} ORDER BY {order})
        ) WHERE __dir IS NOT NULL
    ),
    runs AS (
        SELECT {part}, __run, __dir,
               CAST(count(*) AS BIGINT) AS __n,
               min({ord0}) AS __first, max({ord0}) AS __last
        FROM numbered GROUP BY {part}, __run, __dir
    ){extra_ctes}
    {var_sql}
    """


# ---------------------------------------------------------------------------
# Composed SELECT lowering: paste a Snowflake SELECT, run it
# ---------------------------------------------------------------------------


_COLLATE_RE = re.compile(r"COLLATE\s+'([^']*)'", re.IGNORECASE)


# Snowflake spec modifiers -> Spark collation suffixes. pi/ps
# (punctuation), fl/fu (case conversion), trim variants have no Spark
# analog and refuse; cs/as are the defaults and drop from the name.
_COLLATE_MAPPED_MODS = {"ci", "cs", "ai", "as"}
_COLLATE_REFUSED_MODS = {"pi", "ps", "fl", "fu", "trim", "ltrim", "rtrim",
                         "upper", "lower"}
# Snowflake locale tags carry ISO-3166 alpha-2 countries; Spark's ICU
# collation names use alpha-3. Common pairs only — an unknown country
# refuses with the alpha-3 guidance rather than guessing.
_COLLATE_COUNTRY3 = {
    "us": "USA", "gb": "GBR", "ca": "CAN", "au": "AUS", "br": "BRA",
    "cn": "CHN", "tw": "TWN", "de": "DEU", "fr": "FRA", "mx": "MEX",
    "pt": "PRT", "in": "IND", "jp": "JPN", "kr": "KOR", "ch": "CHE",
}


def rewrite_collate(sql: str) -> str:
    """Snowflake ``COLLATE '<spec>'`` -> Spark's native collation
    clause (Spark 4 carries real ICU collations — r14 widened the r8
    conservative map). Locale-free ``ci``/``utf8-ci`` lower to
    ``UTF8_LCASE`` (pure case-fold — no locale was claimed);
    locale-tagged specs lower to the matching ICU collation
    (``'en-ci'`` -> en_CI, ``'fr-ai'`` -> fr_AI, bare ``'de'`` -> de
    with real linguistic ordering — previously refusals); binary/cs
    forms drop the clause (Spark's default binary collation IS that
    semantics). Punctuation-insensitivity, case-conversion
    (upper/lower/fl/fu) and trim specs still refuse loudly — a wrong
    collation silently changes every comparison it touches. Spark
    and DuckDB disagree with each other on NONE of the probed ICU
    edges (ß/ss at CI strength, accent folds, de/fr ordering), so
    the f47 oracle replays these semantics bit-for-bit."""

    def repl(m: "re.Match[str]") -> str:
        spec = m.group(1).strip().lower().replace("_", "-")
        if spec in ("", "cs", "utf8", "binary", "utf8-cs"):
            return ""
        parts = [p for p in spec.split("-") if p]
        mods = [p for p in parts if p in _COLLATE_MAPPED_MODS
                or p in _COLLATE_REFUSED_MODS]
        locale_toks = [p for p in parts if p not in mods]
        bad = sorted(set(mods) & _COLLATE_REFUSED_MODS)
        if bad:
            raise ValueError(
                f"COLLATE {m.group(1)!r}: the {'/'.join(bad)} spec"
                " component(s) have no exact Spark mapping"
                " (punctuation-insensitive / case-conversion / trim"
                " collations change comparisons silently)"
            )
        ci = "ci" in mods
        ai = "ai" in mods
        if not locale_toks or locale_toks == ["utf8"]:
            if ai:
                name = "UNICODE" + ("_CI" if ci else "") + "_AI"
            elif ci:
                name = "UTF8_LCASE"
            else:
                return ""
        else:
            lang = locale_toks[0]
            if not re.fullmatch(r"[a-z]{2,3}", lang):
                raise ValueError(
                    f"COLLATE {m.group(1)!r}: unrecognized locale"
                    f" tag {lang!r}"
                )
            name = lang
            if len(locale_toks) > 1:
                c3 = _COLLATE_COUNTRY3.get(locale_toks[1])
                if c3 is None or len(locale_toks) > 2:
                    raise ValueError(
                        f"COLLATE {m.group(1)!r}: country tag"
                        f" {'-'.join(locale_toks[1:])!r} has no mapped"
                        " ICU alpha-3 form — use Spark's COLLATE"
                        " <lang>_<ALPHA3> spelling directly"
                    )
                name += f"_{c3}"
            if ci:
                name += "_CI"
            if ai:
                name += "_AI"
        return f"COLLATE {name}"

    # the spec operand is matched WITH its quotes, so only the keyword
    # has to be code: COLLATE inside quoted text never rewrites
    return sub_in_code(_COLLATE_RE, repl, sql)


def lower_select(sql: str) -> str:
    """Compose every pure-text SELECT rewriter into one lowering — the
    "paste your Snowflake query" entry point behind
    ``snowflake_sql()``'s plain-query path. Order matters and is
    fixed: VARIANT paths first (so later rewriters see plain
    expressions), then the semi-structured constructors
    (OBJECT_CONSTRUCT / OBJECT_AGG / ARRAY_AGG WITHIN GROUP, r8),
    scalar functions, the generator family
    (SPLIT_TO_TABLE / FLATTEN / GENERATOR), SAMPLE, CONNECT BY, and
    QUALIFY last (it wraps the final select list). Each rewriter is a
    no-op when its construct is absent, so any subset composes; the
    statement executors (MATCH_RECOGNIZE, recursive FLATTEN, ASOF,
    MERGE/INSERT OVERWRITE, time travel) stay separate because they
    bind engine objects, not text."""
    # an unterminated '...' literal swallows the rest of the text:
    # refuse it before any pass rewrites what follows it
    lx = lex(sql)
    if lx.unclosed == STRING:
        start = lx.spans[-1][0]
        raise ValueError(f"unterminated string literal at {sql[start:start+30]!r}")
    # FIRST: lower raw $$...$$ strings to ordinary literals, then
    # converge the two divergent literal escape spellings (\f, \xhh)
    # so every later literal-aware pass sees final text.
    sql = rewrite_dollar_strings(sql)
    sql = rewrite_literal_escapes(sql)
    sql = rewrite_top(sql)
    sql = rewrite_limit_null(sql)
    # EARLY — before any pass can generate LIKE text of its own: only
    # USER patterns get the Snowflake no-default-escape emulation.
    sql = rewrite_like_default_escape(sql)
    sql = rewrite_collate(sql)
    sql = rewrite_star_modifiers(sql)
    sql = rewrite_interval_commas(sql)
    sql = rewrite_variant_path(sql)
    sql = rewrite_cast_types(sql)
    sql = rewrite_window_dialect(sql)
    sql = rewrite_value_window_frames(sql)
    sql = rewrite_semi_structured(sql)
    sql = rewrite_scalar_funcs(sql)
    sql = rewrite_split_to_table(sql)
    sql = rewrite_flatten(sql)
    sql = rewrite_generator(sql)
    sql = rewrite_sample(sql)
    sql = rewrite_connect_by(sql)
    sql = rewrite_qualify(sql)
    # after scalar rewrites (multi-arg GROUPING is grouping_id by now)
    # and QUALIFY (a QUALIFY-wrapped statement simply falls back to
    # the direct Expand plan): factor decomposable GROUPING SETS
    # through a finest-grain pre-aggregate — the 100 TB shape.
    sql = rewrite_grouping_sets_preagg(sql)
    # LAST: Snowflake's default NULL placement (NULLS LAST on ASC,
    # FIRST on DESC — Spark defaults are the exact opposite) applies
    # to every ORDER BY in the final text, including ones earlier
    # passes moved or generated from user clauses (QUALIFY's
    # row_number must rank NULL keys where Snowflake would).
    return rewrite_null_ordering(sql)
