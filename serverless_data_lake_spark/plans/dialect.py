"""DuckDB-dialect → Spark SQL transpile shims.

The reference promises its users "the full DuckDB SELECT dialect"
(the transform-agent prompt at
``lambdas/transformation_agent/.../analyzer.py:35-77`` and chat
prompt ``lambdas/chat_api/prompt.py:24`` pin the surface actually
relied on). Almost all of it maps 1:1 to Spark SQL; this module
covers the names/clauses that differ. It is a deliberately
lightweight string-level pass (mirroring the reference's own regex
rewrites) — Catalyst parses the result, so a shim that misfires
surfaces as a parse error, never silent corruption. ``mask_literals``
below is the one SQL lexer in ``plans/``: strings and comments are
masked before every pass and spliced back afterwards, so their text
is never rewritten.

Shimmed surface:

=========================  =======================================
DuckDB                     Spark
=========================  =======================================
``epoch_ms(x)``            ``timestamp_millis(x)``
``to_timestamp(x)``        ``timestamp_seconds(x)`` (epoch-seconds,
                           DuckDB semantics; Spark's string-parsing
                           ``to_timestamp`` is reachable as
                           ``try_to_timestamp``/``cast``)
``epoch(ts)``              ``unix_timestamp(ts)``
``json_extract_string``    ``get_json_object``
``list_contains``          ``array_contains``
``list_filter``            ``filter``
``list_transform``         ``transform``
``list_sort``              ``sort_array``
``array_to_string``        ``array_join``
``array_length``           ``size``
``string_split``           ``split``
``str_split``              ``split``
``strpos``                 ``instr``
``list_value``             ``array``
``regexp_matches``         ``rlike``
``* EXCLUDE (...)``        ``* EXCEPT (...)``
``* REPLACE (e AS c)``     ``* EXCEPT (c), e AS c`` (replaced
                           columns move to the end of the column
                           list — set-identical, order differs)
``QUALIFY pred``           subquery + ``WHERE`` on a helper column
``FROM t, UNNEST(a)``      ``FROM t LATERAL VIEW explode(a) u AS v``
``  AS u(v)``              (the lateral form the reference's
                           transform-agent prompt mandates,
                           ``analyzer.py:50-69``)
``SELECT unnest(a)``       ``SELECT explode(a)`` (DuckDB also allows
                           the projection position; Spark's
                           generator rules apply — one per SELECT)
``from_json(c,'["T"]')``   ``from_json(c, 'array<t>')`` — DuckDB's
                           JSON type-descriptor literals (pinned by
                           ``analyzer.py:59-74``) are converted to
                           Spark DDL type strings; Spark-native DDL
                           second arguments pass through untouched
=========================  =======================================

``len`` and ``||`` and ``DATE(x)`` already exist in Spark ≥3.4 and
need no shim.
"""

from __future__ import annotations

import json
import re

_FUNCTION_RENAMES: dict[str, str] = {
    "epoch_ms": "timestamp_millis",
    "to_timestamp": "timestamp_seconds",
    "epoch": "unix_timestamp",
    "json_extract_string": "get_json_object",
    "list_contains": "array_contains",
    "list_filter": "filter",
    "list_transform": "transform",
    "list_sort": "sort_array",
    "array_to_string": "array_join",
    "array_length": "size",
    "string_split": "split",
    "str_split": "split",
    "strpos": "instr",
    "list_value": "array",
    "regexp_matches": "rlike",
}

_RENAME_RE = re.compile(
    r"\b(" + "|".join(_FUNCTION_RENAMES) + r")\s*\(", re.IGNORECASE
)
_EXCLUDE_RE = re.compile(r"(\*\s*)EXCLUDE(\s*\()", re.IGNORECASE)

_QUALIFY_HELPER = "__qualify__"


# ---------------------------------------------------------------------------
# The lexer: every pass in plans/ runs on masked text, so a literal like
# 'epoch(x)' or 'sales.silver.orders', or the same text in a comment, is
# never mutated and never read as code. It follows Spark's own lexical
# rules (SqlBaseLexer, ANSI mode, escapedStringLiterals=false):
#   '…' and "…" strings, with backslash escapes and doubled quotes;
#   r'…' and r"…" raw strings (the r starts a token);
#   `…` identifiers with doubled backticks, passed through whole;
#   -- comments, which a backslash before the newline continues;
#   /* */ comments, which nest; /*+ opens a hint, which is code;
#   */ outside a comment is one token, so its / opens no comment.
# A string becomes \x00i\x00 and a comment \x01i\x01, where i indexes
# the originals; an unclosed token runs to the end (Spark rejects it).
# A \x00 or \x01 in code or in an identifier would read as such a mark,
# so the lexer refuses it (in code, Spark's lexer has no token for it).
# ---------------------------------------------------------------------------
_TOKEN_RE = re.compile(
    r"""(?P<str>(?<!\w)[rR](?:'[^']*'?|"[^"]*"?)"""
    r"""|'(?:[^'\\]|\\.|'')*'?|"(?:[^"\\]|\\.|"")*"?)"""
    r"""|(?P<code>`(?:[^`\x00\x01]|``)*`?|\*/|/\*\+)"""
    r"""|(?P<line>--(?:\\\n|[^\r\n])*)|(?P<block>/\*)|(?P<ctl>[\x00\x01])""",
    re.S,
)
_BLOCK_RE = re.compile(r"(/\*(?!\+))|\*/")
_MASK_RE = re.compile("[\x00\x01](\\d+)[\x00\x01]")
_LIT = "\x00(\\d+)\x00"  # a masked string literal, for the passes below


def mask_literals(sql: str) -> tuple[str, list[str]]:
    """Mask every string and comment; returns (masked, originals).
    Raises ValueError on a \\x00 or \\x01 outside a string or
    comment."""
    out: list[str] = []
    lits: list[str] = []
    pos = 0
    while m := _TOKEN_RE.search(sql, pos):
        out.append(sql[pos : m.start()])
        kind, end = m.lastgroup, m.end()
        if kind == "ctl":
            raise ValueError("\\x00 or \\x01 outside a string literal or comment")
        if kind == "block":
            depth = 1
            for b in _BLOCK_RE.finditer(sql, end):
                depth += 1 if b.group(1) else -1
                if depth == 0:
                    end = b.end()
                    break
            else:
                end = len(sql)
        tok = sql[m.start() : end]
        if kind == "code":  # an identifier, */ or /*+
            out.append(tok)
        else:
            mark = "\x00" if kind == "str" else "\x01"
            out.append(f"{mark}{len(lits)}{mark}")
            lits.append(tok)
        pos = end
    out.append(sql[pos:])
    return "".join(out), lits


def unmask_literals(sql: str, lits: list[str]) -> str:
    return _MASK_RE.sub(lambda m: lits[int(m.group(1))], sql)


def _rename_functions(sql: str) -> str:
    return _RENAME_RE.sub(
        lambda m: _FUNCTION_RENAMES[m.group(1).lower()] + "(", sql
    )


def _match_paren(sql: str, open_pos: int) -> int:
    """Index just past the ``)`` matching the ``(`` at open_pos."""
    depth = 0
    for i in range(open_pos, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(sql)


def _split_top_commas(text: str) -> list[str]:
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _split_protected(sql: str, keyword_re: re.Pattern[str]) -> list[int]:
    """Offsets of keyword matches at paren-depth 0. Used to find
    top-level QUALIFY / ORDER BY / LIMIT."""
    hits: list[int] = []
    depth = 0
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = keyword_re.match(sql, i)
            if m:
                hits.append(i)
                i = m.end()
                continue
        i += 1
    return hits


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_TAIL_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", re.IGNORECASE)


def _rewrite_qualify(sql: str) -> str:
    """Rewrite a top-level ``QUALIFY <pred>`` into a subquery.

    ``SELECT <list> FROM ... QUALIFY <pred> [ORDER BY/LIMIT tail]``
    becomes::

        SELECT * EXCEPT (__qualify__) FROM (
            SELECT <list>, (<pred>) AS __qualify__ FROM ...
        ) WHERE __qualify__ [tail]

    Works because Spark evaluates window functions in the projection
    and ``* EXCEPT`` drops the helper column. Only the *last*
    top-level QUALIFY is handled per pass; nested/CTE qualifies are
    handled by recursing on parenthesized blocks.
    """
    hits = _split_protected(sql, _QUALIFY_RE)
    if not hits:
        # Recurse into parenthesized subqueries / CTE bodies.
        out: list[str] = []
        i = 0
        n = len(sql)
        while i < n:
            ch = sql[i]
            if ch == "(":
                j = _match_paren(sql, i)
                inner = sql[i + 1 : j - 1]
                if _QUALIFY_RE.search(inner):
                    inner = _rewrite_qualify(inner)
                out.append("(" + inner + ")")
                i = j
            else:
                out.append(ch)
                i += 1
        return "".join(out)

    pos = hits[-1]
    head = sql[:pos]
    rest = sql[pos:]
    rest = _QUALIFY_RE.sub("", rest, count=1)
    tail_hits = _split_protected(rest, _TAIL_RE)
    cut = tail_hits[0] if tail_hits else len(rest)
    pred, tail = rest[:cut], rest[cut:]

    # Inject the helper column after the SELECT list of the SELECT
    # that owns this QUALIFY: the last top-level FROM before it.
    from_hits = _split_protected(head, re.compile(r"\bFROM\b", re.IGNORECASE))
    if not from_hits:
        return sql  # malformed; let Spark raise
    from_pos = from_hits[-1]
    inner = (
        head[:from_pos]
        + f", ({pred.strip()}) AS {_QUALIFY_HELPER} "
        + head[from_pos:]
    )
    return (
        f"SELECT * EXCEPT ({_QUALIFY_HELPER}) FROM ({inner}) "
        f"WHERE {_QUALIFY_HELPER} {tail}"
    )


# ---------------------------------------------------------------------------
# UNNEST: FROM-clause lateral form (the one the reference prompt
# mandates) and the SELECT-projection form DuckDB also accepts.
# ---------------------------------------------------------------------------
_UNNEST_LATERAL_RE = re.compile(
    r"""(?P<joiner>,|\bCROSS\s+JOIN\b)\s*          # comma- or cross-join
        UNNEST\s*(?=\()""",
    re.IGNORECASE | re.VERBOSE,
)
_UNNEST_ALIAS_RE = re.compile(
    r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?",
    re.IGNORECASE,
)
_UNNEST_SELECT_RE = re.compile(r"\bUNNEST\s*\(", re.IGNORECASE)


def _rewrite_unnest(sql: str) -> str:
    """``FROM t, UNNEST(expr) AS u(val)`` →
    ``FROM t LATERAL VIEW explode(expr) u AS val``.

    Handles comma-join and CROSS JOIN spellings, nested parens in the
    expression, and ``AS u(val)`` / ``AS u`` / bare ``u`` aliases
    (bare alias exposes the element as ``u.u``, matching DuckDB's
    default column name = alias). Any UNNEST left after this pass
    (projection position) is renamed to ``explode`` — Spark accepts
    generators in the SELECT list with the same row-multiplying
    semantics, subject to its one-generator-per-SELECT rule.

    Limitation: the UNNEST must be the LAST table reference in its
    FROM clause. The rewrite consumes the comma/CROSS JOIN joiner, so
    ``FROM t, UNNEST(a) AS u(v), other`` would produce
    ``LATERAL VIEW ... , other``, which Spark rejects at parse time
    (LATERAL VIEW must follow all table refs) — fail-loud, never
    wrong results. Reorder the query so plain table refs precede the
    UNNEST; multiple trailing UNNESTs chain fine (each becomes its
    own LATERAL VIEW).
    """
    while True:
        m = _UNNEST_LATERAL_RE.search(sql)
        if not m:
            break
        open_pos = sql.index("(", m.end() - 1)
        close = _match_paren(sql, open_pos)
        expr = sql[open_pos + 1 : close - 1]
        am = _UNNEST_ALIAS_RE.match(sql, close)
        if am and am.group(1) and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "LIMIT", "ON", "JOIN", "LEFT",
            "RIGHT", "INNER", "CROSS", "UNION", "QUALIFY", "HAVING",
        ):
            alias = am.group(1)
            col = am.group(2) or alias
            end = am.end()
        else:
            alias, col, end = "__unnest__", "__unnest__", close
        sql = (
            sql[: m.start()]
            + f" LATERAL VIEW explode({expr}) {alias} AS {col} "
            + sql[end:]
        )
    return _UNNEST_SELECT_RE.sub("explode(", sql)


# ---------------------------------------------------------------------------
# * REPLACE (expr AS col, ...) → * EXCEPT (col, ...), expr AS col, ...
# ---------------------------------------------------------------------------
_REPLACE_RE = re.compile(r"\*\s*REPLACE\s*(?=\()", re.IGNORECASE)
_REPLACE_ITEM_RE = re.compile(
    r"(?s)^(.*\S)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", re.IGNORECASE
)


def _rewrite_star_replace(sql: str) -> str:
    while True:
        m = _REPLACE_RE.search(sql)
        if not m:
            return sql
        open_pos = sql.index("(", m.end() - 1)
        close = _match_paren(sql, open_pos)
        items = _split_top_commas(sql[open_pos + 1 : close - 1])
        pairs: list[tuple[str, str]] = []
        for item in items:
            im = _REPLACE_ITEM_RE.match(item.strip())
            if not im:
                return sql  # not the REPLACE form; let Spark raise
            pairs.append((im.group(1), im.group(2)))
        # A qualified star (t.* REPLACE ...) keeps its qualifier: the
        # match starts at '*', qualification sits before it untouched.
        names = ", ".join(c for _, c in pairs)
        exprs = ", ".join(f"{e} AS {c}" for e, c in pairs)
        sql = sql[: m.start()] + f"* EXCEPT ({names}), {exprs}" + sql[close:]


# ---------------------------------------------------------------------------
# from_json DuckDB type-descriptor → Spark DDL type string.
# ---------------------------------------------------------------------------
_FROM_JSON_RE = re.compile(r"\bfrom_json\s*(?=\()", re.IGNORECASE)

_DUCK_TO_SPARK_TYPES = {
    "VARCHAR": "string", "TEXT": "string", "STRING": "string",
    "JSON": "string", "UUID": "string",
    "TINYINT": "tinyint", "SMALLINT": "smallint",
    "INTEGER": "int", "INT": "int",
    "BIGINT": "bigint", "HUGEINT": "decimal(38,0)",
    "UBIGINT": "decimal(20,0)", "UINTEGER": "bigint",
    "DOUBLE": "double", "REAL": "float", "FLOAT": "float",
    "BOOLEAN": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp", "TIME": "string", "BLOB": "binary",
}


def _duck_type_to_ddl(node) -> str | None:
    """DuckDB JSON type descriptor (parsed) → Spark DDL type."""
    if isinstance(node, str):
        t = node.strip().upper()
        if t in _DUCK_TO_SPARK_TYPES:
            return _DUCK_TO_SPARK_TYPES[t]
        dm = re.match(r"^DECIMAL\s*\((\d+)\s*,\s*(\d+)\)$", t)
        if dm:
            return f"decimal({dm.group(1)},{dm.group(2)})"
        lm = re.match(r"^(.+)\[\]$", t)  # VARCHAR[] array shorthand
        if lm:
            inner = _duck_type_to_ddl(lm.group(1))
            return f"array<{inner}>" if inner else None
        return None
    if isinstance(node, list) and len(node) == 1:
        inner = _duck_type_to_ddl(node[0])
        return f"array<{inner}>" if inner else None
    if isinstance(node, dict) and node:
        fields = []
        for k, v in node.items():
            inner = _duck_type_to_ddl(v)
            if inner is None or not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", k):
                return None
            fields.append(f"{k}:{inner}")
        return "struct<" + ",".join(fields) + ">"
    return None


_ARROW_RE = re.compile(r"->>\s*" + _LIT)
_ARROW_LHS_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*$")


def _rewrite_json_arrows(sql: str, lits: list[str]) -> str:
    """DuckDB ``expr ->> 'key'`` / ``expr ->> '$.path'`` →
    ``get_json_object(expr, '$.key' / '$.path')``.

    LHS support: a (possibly qualified) identifier or a parenthesized
    expression — covering how generated SQL actually uses the
    operator. Runs on MASKED text (the RHS is a literal placeholder;
    the rewritten JSONPath is appended to ``lits`` as a new
    placeholder), so arrows inside string literals are never touched.
    The ``->`` operator (JSON-typed result, quoted strings) is
    intentionally NOT shimmed: its output differs from any Spark
    function, and silently changing quoting would be the corruption
    this module promises never to produce."""
    while True:
        m = _ARROW_RE.search(sql)
        if not m:
            return sql
        path = lits[int(m.group(1))][1:-1]  # strip surrounding quotes
        if not path.startswith("$"):
            path = "$." + path
        lits.append(f"'{path}'")
        rhs = f"\x00{len(lits) - 1}\x00"
        # LHS: parenthesized group, string literal (placeholder), or
        # qualified identifier
        head = sql[: m.start()].rstrip()
        pm = re.search(_LIT + "$", head)
        if pm:
            lhs_start = pm.start()
        elif head.endswith(")"):
            depth = 0
            k = len(head) - 1
            while k >= 0:
                if head[k] == ")":
                    depth += 1
                elif head[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            lhs_start = k
        else:
            lm = _ARROW_LHS_RE.search(head)
            if not lm:
                return sql  # unsupported shape; let Spark raise
            lhs_start = lm.start()
        lhs = head[lhs_start:]
        sql = (
            head[:lhs_start]
            + f"get_json_object({lhs}, {rhs})"
            + sql[m.end() :]
        )


def _rewrite_from_json(sql: str, lits: list[str]) -> str:
    """Convert ``from_json(expr, '<duckdb json type>')`` second
    arguments (e.g. ``'["VARCHAR"]'``, ``'{"k":"INTEGER"}'``) to
    Spark DDL type strings. Spark-native second arguments ('k INT',
    'array<string>') don't parse as JSON type descriptors and pass
    through untouched. Runs on masked text and reads the literal
    through ``lits``."""
    out: list[str] = []
    pos = 0
    while True:
        m = _FROM_JSON_RE.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        open_pos = sql.index("(", m.end() - 1)
        close = _match_paren(sql, open_pos)
        args = _split_top_commas(sql[open_pos + 1 : close - 1])
        out.append(sql[pos : open_pos + 1])
        if len(args) >= 2:
            lm = re.fullmatch(_LIT, args[1].strip())
            ddl = None
            if lm:
                try:  # no valid descriptor holds a quote, so no unescaping
                    ddl = _duck_type_to_ddl(json.loads(lits[int(lm.group(1))][1:-1]))
                except (ValueError, TypeError):
                    ddl = None
            if ddl is not None:
                args = [args[0], f" '{ddl}'", *args[2:]]
        out.append(",".join(args))
        out.append(sql[close - 1 : close])
        pos = close


def transpile(sql: str) -> str:
    """Full dialect pass, all on masked text: function renames,
    EXCLUDE→EXCEPT, ``* REPLACE``, UNNEST, ``->>``, QUALIFY and the
    from_json type-descriptor conversion."""
    masked, lits = mask_literals(sql)
    masked = _rename_functions(masked)
    masked = _EXCLUDE_RE.sub(r"\1EXCEPT\2", masked)
    masked = _rewrite_star_replace(masked)
    masked = _rewrite_unnest(masked)
    masked = _rewrite_json_arrows(masked, lits)
    if _QUALIFY_RE.search(masked):
        masked = _rewrite_qualify(masked)
    return unmask_literals(_rewrite_from_json(masked, lits), lits)


_EPOCH_MS_RE = re.compile(r"\bepoch_ms\s*\(", re.IGNORECASE)


def reverse_epoch_ms(sql: str) -> str | None:
    """DuckDB's ``epoch_ms`` is OVERLOADED: ``epoch_ms(BIGINT) →
    TIMESTAMP`` and ``epoch_ms(TIMESTAMP) → BIGINT``. A static rename
    can only pick one Spark target (``timestamp_millis``, the
    integer→timestamp direction the reference's queries use); this
    helper produces the alternate rewrite (``unix_millis``, the
    timestamp→bigint direction) for the caller to retry when analysis
    fails with a type mismatch on ``timestamp_millis``. Returns None
    when the query has no ``epoch_ms`` call (nothing to flip).
    Mixed-direction queries (both overloads in one statement) are not
    resolvable by a homogeneous flip and keep their original error.
    """
    masked, lits = mask_literals(sql)
    if not _EPOCH_MS_RE.search(masked):
        return None
    flipped = _EPOCH_MS_RE.sub("unix_millis(", masked)
    return unmask_literals(flipped, lits)


def is_epoch_ms_type_mismatch(exc: BaseException) -> bool:
    """True when an analysis error is the timestamp-input-to-
    ``timestamp_millis`` mismatch produced by the wrong ``epoch_ms``
    overload choice."""
    msg = str(exc)
    return "timestamp_millis" in msg and (
        "UNEXPECTED_INPUT_TYPE" in msg or "INTEGRAL" in msg
    )
