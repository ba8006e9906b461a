"""SQLite → Spark SQL dialect shim.

The reference's query surface *is* SQLite's dialect (README.md:326-334);
users of this engine bring SQLite-flavored SQL. Spark SQL covers almost all
of it natively — the shim rewrites the rest:

- double-quoted identifiers → backticks (SQL-standard ``"t"`` vs Spark's
  default, which parses double quotes as strings);
- function renames/reshapes: strftime → date_format (format-code
  translation + argument swap), julianday → epoch arithmetic,
  printf → format_string, ifnull → nvl, group_concat → concat_ws∘
  collect_list, random → 64-bit rand;
- ``sqlite_master`` works because the engine registers a compat view
  (engine.py) — no rewrite needed here.

One lexer serves the whole front door: ``_TOKEN_RX`` / ``_split_tokens``
is the only code that knows SQL's lexical rules (strings with the ``''``
escape, ``"…"`` and `` `…` `` identifiers, ``--`` and ``/* */``
comments). Every scan works on its output or on the same-length mask built
from it (``_div_mask``: literals and quoted identifiers → NUL, comments →
spaces), with ``_div_find_close`` / ``_div_split_args`` for balanced parens
and ``_find_depth0`` for clause keywords. Comments never pass the front
door: ``rewrite``, ``bind_params`` and ``split_statements`` blank them to
spaces on entry, so no pass sees one, and nothing inside a literal or a
quoted identifier is ever rewritten.
"""

from __future__ import annotations

import re

from filesql_spark.errors import FilesqlError

# strftime format codes → Spark/Java datetime pattern fragments
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
    "%e": "d",
    "%I": "hh",
    "%p": "a",
    "%f": "ss.SSS",
    # pure pattern aliases (C strftime compounds)
    "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss",
    "%R": "HH:mm",
    "%%": "%",
}

# codes with no Java pattern equivalent — compiled to expressions and
# spliced into a concat() (see _strftime)
_STRFTIME_EXPR = {
    # SQLite %w: day of week 0-6, Sunday = 0; Spark dayofweek: Sunday = 1
    "%w": "CAST(dayofweek({x}) - 1 AS STRING)",
    # SQLite %W (= C strftime %W): week of year 00-53, first Monday starts
    # week 1, days before it are week 0: floor((yday + 6 - mon0_wd) / 7)
    "%W": (
        "lpad(CAST(CAST(floor((dayofyear({x}) + 6 - "
        "((dayofweek({x}) + 5) % 7)) / 7) AS INT) AS STRING), 2, '0')"
    ),
    # SQLite %s: seconds since epoch
    "%s": "CAST(unix_timestamp({x}) AS STRING)",
    # C strftime %u: ISO day of week 1-7, Monday = 1; Spark dayofweek
    # is Sunday = 1, so rotate by (d+5) % 7 + 1
    "%u": "CAST((dayofweek({x}) + 5) % 7 + 1 AS STRING)",
    # C strftime %U: week of year 00-53, first Sunday starts week 1
    "%U": (
        "lpad(CAST(CAST(floor((dayofyear({x}) + 6 - "
        "(dayofweek({x}) - 1)) / 7) AS INT) AS STRING), 2, '0')"
    ),
    # %V: ISO 8601 week 01-53 (SQLite 3.46; Spark weekofyear is ISO)
    "%V": "lpad(CAST(weekofyear({x}) AS STRING), 2, '0')",
    # %G: ISO week-based year = calendar year of that week's Thursday
    # (ISO weekday via the same Sunday=1 → Monday=1 rotation as %u)
    "%G": (
        "lpad(CAST(year(date_add(CAST({x} AS DATE), "
        "4 - ((dayofweek({x}) + 5) % 7 + 1))) AS STRING), 4, '0')"
    ),
    # %g: two-digit ISO week-based year
    "%g": (
        "lpad(CAST(year(date_add(CAST({x} AS DATE), "
        "4 - ((dayofweek({x}) + 5) % 7 + 1))) % 100 AS STRING), 2, '0')"
    ),
    # SQLite %J: Julian day number incl. fraction, rendered with %.16g —
    # 16 significant digits = 9 decimals for the 7-integer-digit julian
    # days of the modern era — trailing zeros (and a bare trailing dot)
    # stripped; fuzz-tested vs sqlite3
    "%J": (
        "regexp_replace(CAST(CAST("
        "unix_micros(CAST({x} AS TIMESTAMP)) / 86400000000.0 + 2440587.5 "
        "AS DECIMAL(20, 9)) AS STRING), '\\\\.?0+$', '')"
    ),
    # %k / %l: space-padded 24h / 12h hour (SQLite 3.46 additions)
    "%k": "lpad(CAST(hour({x}) AS STRING), 2, ' ')",
    "%l": (
        "lpad(CAST(CASE WHEN hour({x}) % 12 = 0 THEN 12 "
        "ELSE hour({x}) % 12 END AS STRING), 2, ' ')"
    ),
}


# The front door's whole lexical grammar, as in SQLite's tokenizer:
# '…' strings ('' is the only escape), "…" and `…` quoted identifiers,
# and both comment forms. Text between matches is code. An unterminated
# token runs to the end of the input.
_TOKEN_RX = re.compile(
    r"(?P<string>'[^']*(?:''[^']*)*'?)"
    r'|(?P<dquote>"[^"]*"?)'
    r"|(?P<backtick>`[^`]*`?)"
    r"|(?P<comment>--[^\n]*|/\*.*?(?:\*/|\Z))",
    re.S,
)


def _split_tokens(sql: str) -> list[tuple[str, str]]:
    """Split into ('code' | 'string' | 'dquote' | 'backtick' | 'comment',
    text) chunks — the only place that knows SQL's lexical rules."""
    out: list[tuple[str, str]] = []
    pos = 0
    for m in _TOKEN_RX.finditer(sql):
        if m.start() > pos:
            out.append(("code", sql[pos : m.start()]))
        out.append((m.lastgroup, m.group()))
        pos = m.end()
    if pos < len(sql):
        out.append(("code", sql[pos:]))
    return out


def blank_comments(sql: str) -> str:
    """``sql`` with every comment blanked to same-length spaces (SQLite
    reads a comment as whitespace). Runs once at each entry point —
    rewrite, bind_params, the statement splitter — so no later pass
    ever sees a comment."""
    if "--" not in sql and "/*" not in sql:
        return sql
    return _TOKEN_RX.sub(
        lambda m: " " * len(m.group()) if m.lastgroup == "comment" else m.group(),
        sql,
    )


_TRIGGER_HEAD_RX = re.compile(r"\s*create\s+(?:temp(?:orary)?\s+)?trigger\b", re.I)
_STMT_END_RX = re.compile(r";|\b(?:case|end)\b", re.I)


def split_statements(script: str) -> list[str]:
    """Split a script on ``;`` with SQLite's rule: semicolons inside
    literals, quoted identifiers and comments never split, and inside
    ``CREATE TRIGGER`` only the ``;`` after the body's closing ``END``
    does (a ``CASE … END`` in the body is not that END). Comments are
    blanked; empty statements are dropped."""
    sql = blank_comments(script)
    mask = _div_mask(sql)
    stmts: list[str] = []
    start = cases = 0
    in_trigger = _TRIGGER_HEAD_RX.match(mask) is not None
    for m in _STMT_END_RX.finditer(mask):
        tok = m.group().lower()
        if tok == "case":
            cases += 1
        elif tok == "end":
            if cases:
                cases -= 1
            else:
                in_trigger = False
        elif not in_trigger:
            stmts.append(sql[start : m.start()])
            start, cases = m.end(), 0
            in_trigger = _TRIGGER_HEAD_RX.match(mask, start) is not None
    stmts.append(sql[start:])
    return [s for s in (x.strip() for x in stmts) if s]


def _escape_string_backslashes(sql: str) -> str:
    """SQLite string literals have NO escape character — a backslash is a
    literal backslash ('' is the only quote escape). Spark's default
    parser consumes backslashes as C-style escapes, so ``'a\\c'`` would
    silently become ``ac``. Double them at the boundary; extractors that
    read literal *contents* afterwards (GLOB patterns) must un-double."""
    return "".join(
        text.replace("\\", "\\\\") if kind == "string" else text
        for kind, text in _split_tokens(sql)
    )


def _literal_content(text: str) -> str:
    """Original SQLite content of a (post-escaping) string token."""
    return text[1:-1].replace("\\\\", "\\").replace("''", "'")


_PLACEHOLDER_RX = re.compile(r"\?(\d+)?|[:@$]([A-Za-z_][A-Za-z0-9_]*)")


def _render_param(v) -> str:
    """One bound value → a SQLite-dialect literal (backslashes literal,
    '' quote escape — downstream ``rewrite`` handles Spark escaping)."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise FilesqlError(f"cannot bind non-finite float {v!r}")
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, _dt.datetime):
        return "'" + v.isoformat(sep=" ") + "'"
    if isinstance(v, _dt.date):
        return "'" + v.isoformat() + "'"
    raise FilesqlError(
        f"cannot bind parameter of type {type(v).__name__}; supported: "
        "None, bool, int, float, str, bytes, date, datetime"
    )


def substitute_session_functions(
    sql: str, changes: int, total_changes: int, last_insert_rowid: int = 0
) -> str:
    """SQLite's connection-state functions, resolved against the engine's
    counters at query time: ``changes()`` → rows of the last completed
    INSERT/UPDATE/DELETE, ``total_changes()`` → their running sum,
    ``last_insert_rowid()`` → the engine's bridged rowid counter (r11;
    dml._insert maintains it — exact for integer-PRIMARY-KEY tables,
    whose declared key IS the rowid, and for append-only implicit-rowid
    histories; divergences documented at the dml.py tracking site)."""
    sql = _rewrite_calls(sql, "changes", lambda args: str(changes))
    sql = _rewrite_calls(sql, "total_changes", lambda args: str(total_changes))
    return _rewrite_calls(
        sql, "last_insert_rowid", lambda args: str(int(last_insert_rowid))
    )


def bind_params(sql: str, params) -> str:
    """Substitute SQLite-style placeholders with literal values, mirroring
    database/sql binding on the reference's surface (``db.QueryContext(ctx,
    "… WHERE id = ?", id)`` — filesql.go exposes plain database/sql, so
    every placeholder form SQLite accepts is legal):

    - positional ``?`` / ``?NNN`` with a sequence — a bare ``?`` takes
      (largest index used so far) + 1, SQLite's rule;
    - named ``:name`` / ``@name`` / ``$name`` with a mapping.

    Placeholders inside string literals and quoted identifiers are never
    touched (token-aware, like the rest of the shim). Values are rendered
    as SQLite-dialect literals BEFORE ``rewrite``, so string escaping and
    type handling ride the existing literal pipeline. Comments are
    blanked first: a ``?`` inside one is not a placeholder."""
    named = isinstance(params, dict)
    seq = None if named else list(params)
    used: set = set()
    max_idx = 0

    def sub(m: re.Match) -> str:
        nonlocal max_idx
        name = m.group(2)
        if name is not None:
            if not named:
                raise FilesqlError(
                    f"named placeholder {m.group(0)!r} needs a dict of "
                    "parameters, got a sequence"
                )
            if name not in params:
                raise FilesqlError(f"no value supplied for placeholder :{name}")
            used.add(name)
            return _render_param(params[name])
        if named:
            raise FilesqlError(
                "positional placeholder '?' needs a sequence of parameters, "
                "got a dict"
            )
        idx = int(m.group(1)) if m.group(1) else max_idx + 1
        if not 1 <= idx <= len(seq):
            raise FilesqlError(
                f"placeholder index {idx} out of range: "
                f"{len(seq)} parameter(s) supplied"
            )
        max_idx = max(max_idx, idx)
        used.add(idx)
        return _render_param(seq[idx - 1])

    bound = "".join(
        _PLACEHOLDER_RX.sub(sub, text) if kind == "code" else text
        for kind, text in _split_tokens(blank_comments(sql))
    )
    if named:
        extra = set(params) - used
    else:
        extra = set(range(1, len(seq) + 1)) - used
    if extra:
        raise FilesqlError(
            f"parameter(s) {sorted(extra)} supplied but never referenced "
            "by a placeholder"
        )
    return bound


def _requote_identifiers(sql: str) -> str:
    """\"ident\" → `ident` (outside string literals)."""
    parts = []
    for kind, text in _split_tokens(sql):
        if kind == "dquote":
            parts.append("`" + text[1:-1].replace("`", "``") + "`")
        else:
            parts.append(text)
    return "".join(parts)


def _find_call(sql: str, name: str, start: int = 0) -> tuple[int, int, list[str]] | None:
    """Locate ``name( … )`` at a code position; return (start, end_exclusive,
    args) with balanced-paren, token-aware arg splitting."""
    name_l = name.lower()
    if sql.lower().find(name_l, start) == -1:
        return None
    mask = _div_mask(sql)
    low = mask.lower()
    for m in re.compile(re.escape(name_l)).finditer(low, start):
        i, j = m.start(), m.end()
        # must be a standalone identifier followed by '('
        if i > 0 and (sql[i - 1].isalnum() or sql[i - 1] in "_`\"'"):
            continue
        while j < len(mask) and mask[j] in " \t\n":
            j += 1
        if j >= len(mask) or mask[j] != "(":
            continue
        # not a parenthesized TYPE name: `CAST(x AS CHAR(5))` must survive
        k = i
        while k > 0 and mask[k - 1].isspace():
            k -= 1
        if low[k - 2 : k] == "as" and (
            k < 3 or not (low[k - 3].isalnum() or low[k - 3] == "_")
        ):
            continue
        close = _div_find_close(mask, j, len(mask))
        if close == -1:
            return None  # unbalanced; leave untouched
        args = _div_split_args(mask, j + 1, close)
        return i, close + 1, [sql[a:b].strip() for a, b in args]
    return None


def _rewrite_calls(sql: str, name: str, builder) -> str:
    """Repeatedly rewrite every ``name(...)`` call via builder(args)->str.
    A builder may return None to leave that call untouched (e.g. CAST
    forms outside its scope). A declined call's ARGUMENTS are still
    scanned (advance past the name, not the close paren): earlier
    passes emit SQLite-spelled interior forms — e.g. truthiness wraps a
    WHEN condition in CAST(… AS REAL) expecting this pass to expand it
    to the prefix parse — and skipping the whole interior of a declined
    CAST(… AS DATE) left that raw REAL cast for Spark's ANSI mode to
    crash on junk text (r14 advice, high)."""
    pos = 0
    while True:
        hit = _find_call(sql, name, pos)
        if hit is None:
            return sql
        start, end, args = hit
        replacement = builder(args)
        if replacement is None:
            pos = start + len(name)
            continue
        sql = sql[:start] + replacement + sql[end:]
        pos = start + len(replacement)


def translate_strftime_format(fmt: str) -> str:
    """SQLite strftime codes → Java pattern; raise on unsupported codes."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            code = fmt[i : i + 2]
            if code in _STRFTIME_MAP:
                out.append(_STRFTIME_MAP[code])
                i += 2
                continue
            raise FilesqlError(f"unsupported strftime code {code!r} in {fmt!r}")
        # literal character — quote letters so Java doesn't interpret them
        ch = fmt[i]
        out.append(f"'{ch}'" if ch.isalpha() else ch)
        i += 1
    return "".join(out)


def _strftime(args: list[str]) -> str:
    if len(args) < 2:
        raise FilesqlError(f"strftime expects >= 2 args, got {len(args)}: {args}")
    fmt = args[0].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise FilesqlError("strftime format must be a string literal")
    inner = fmt[1:-1]
    x = _base_and_modifiers("strftime", args[1], args[2:])
    # split the format into pattern-translatable runs and expression codes
    # (%w/%W/%s have no Java pattern form), splicing the result as concat()
    pieces: list[tuple[str, str]] = []  # ('fmt'|'expr', text)
    i = 0
    run = ""
    while i < len(inner):
        code = inner[i : i + 2] if inner[i] == "%" else inner[i]
        if inner[i] == "%" and code in _STRFTIME_EXPR:
            if run:
                pieces.append(("fmt", run))
                run = ""
            pieces.append(("expr", _STRFTIME_EXPR[code].format(x=x)))
            i += 2
        elif inner[i] == "%" and i + 1 < len(inner):
            run += code
            i += 2
        else:
            run += inner[i]
            i += 1
    if run:
        pieces.append(("fmt", run))
    parts = [
        f"date_format({x}, '{translate_strftime_format(t)}')" if kind == "fmt" else t
        for kind, t in pieces
    ]
    if not parts:
        return "''"
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def _julianday(args: list[str]) -> str:
    """julianday(time-value, modifiers…) — full modifier support and the
    numeric-base julian default via _base_and_modifiers (r13b; was a
    bare 1-arg CAST that read numerics as epoch seconds)."""
    if not args:
        raise FilesqlError("julianday() expects at least one argument")
    x = _base_and_modifiers("julianday", args[0], args[1:])
    return f"(unix_micros({x}) / 86400000000.0 + 2440587.5)"


_SUM_CALL_RX = re.compile(r"(?is)^sum\s*\(")
_SUM_COERCED_RX = re.compile(r"(?is)^cast\s*\(\s*\((.*)\)\s+as\s+real\s*\)$")


def _sum_text_render(expr: str) -> str | None:
    """SQLite types sum() INTEGER when EVERY non-NULL input is a clean
    integer string (func.c sumStep keeps the integer accumulator only
    for lossless conversions; any junk/partial/real-format input —
    '5x', '', '5.0', '5e1' — flips the whole sum to REAL, pinned vs
    sqlite3). Spark's schema is static, so the VALUE stays DOUBLE
    (exact; COVERAGE.md r14 decision note) and the dispatch lands at
    rendering sites: an aggregate condition over the same group picks
    INTEGER digits vs %!.15g. Returns the dispatched rendering of
    ``expr`` — a sum() call over a provably-TEXT argument, raw or
    already coerced by _agg_numeric_coerce_call — or None."""
    s = expr.strip()
    m = _SUM_CALL_RX.match(s)
    if not m or not s.endswith(")"):
        return None
    sm = _div_mask(s)
    if _div_find_close(sm, m.end() - 1, len(s)) != len(s) - 1:
        return None
    args = _div_split_args(sm, m.end(), len(s) - 1)
    if len(args) != 1:
        return None
    arg = s[args[0][0]:args[0][1]].strip()
    cm = _SUM_COERCED_RX.match(arg)
    x = cm.group(1).strip() if cm else arg
    if _static_affinity(x) != "text":
        return None
    # FINAL-form Spark only (TRY_CAST/try_cast, no SQLite-spelled CAST
    # except the skip-safe outer `AS STRING`): the emission may land
    # either before or after the cast pass, and a nested SQLite CAST
    # inside an outer call whose builder returns None is never visited
    # (_rewrite_calls advances past the whole call)
    int_rx = r"'^[ \\t\\r\\n]*[+-]?[0-9]+[ \\t\\r\\n]*$'"
    real_rx = (
        r"'^[ \\t\\r\\n]*([+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)"
        r"(?:[eE][+-]?[0-9]+)?)'"
    )
    coerce = (
        f"(CASE WHEN ({x}) IS NULL THEN TRY_CAST(NULL AS DOUBLE) "
        f"ELSE nvl(try_cast(regexp_extract(({x}), {real_rx}, 1) "
        f"AS DOUBLE), 0.0d) END)"
    )
    sum_d = f"sum({coerce})"
    cond = (
        f"count(CASE WHEN ({x}) IS NOT NULL AND "
        f"NOT (({x}) RLIKE {int_rx}) THEN 1 END) = 0"
    )
    return (
        f"(CASE WHEN {cond} "
        f"THEN TRY_CAST(TRY_CAST({sum_d} AS BIGINT) AS STRING) "
        f"ELSE filesql_double_text({sum_d}) END)"
    )


def _sqlite_text_of(expr: str) -> str:
    """``expr`` rendered to TEXT the way SQLite renders it: %!.15g via
    the double_to_text UDF when the affinity tracker proves the input
    REAL, Spark's CAST AS STRING otherwise (statically-untyped floats
    keep Java rendering — documented divergence, SURVEY §5)."""
    d = _sum_text_render(expr)  # sum() over TEXT: per-group dispatch
    if d is not None:
        return d
    mask = _div_mask(expr)
    t = _div_walk(expr, mask, 0, len(expr), _ACTIVE_COLUMN_TYPES, [])
    if t == "real":
        return f"filesql_double_text(TRY_CAST(({expr}) AS DOUBLE))"
    d = _vd_render_text(expr)  # value-dependent: runtime dispatch (r13)
    if d is not None:
        return d
    return f"CAST(({expr}) AS STRING)"


def _group_concat(args: list[str]) -> str:
    # SQLite renders REAL elements with %!.15g ('0.333333333333333,…');
    # concat_ws would render Java-style — wrap ONLY provably-REAL args
    # (r11); everything else keeps the plain emission
    first = args[0]
    mask = _div_mask(first)
    t = _div_walk(first, mask, 0, len(first), _ACTIVE_COLUMN_TYPES, [])
    d = _sum_text_render(first)  # nested sum() over TEXT (rare)
    if d is not None:
        first = d
    elif t == "real":
        first = f"filesql_double_text(TRY_CAST(({first}) AS DOUBLE))"
    elif t is None:
        d = _vd_render_text(first)  # value-dependent: runtime dispatch
        if d is not None:
            first = d
    if len(args) == 1:
        return f"concat_ws(',', collect_list({first}))"
    return f"concat_ws({args[1]}, collect_list({first}))"


def _random(args: list[str]) -> str:
    # SQLite random(): uniform int64
    return "CAST((rand() - 0.5) * 1.8446744073709552E19 AS BIGINT)"


def _scalar_minmax(fn: str):
    """SQLite MIN/MAX are scalar with ≥2 args (→ least/greatest) and
    aggregates with 1 arg (→ leave untouched)."""

    def build(args: list[str]) -> str:
        # the sweep resumes after each replacement, so nested scalar
        # min/max inside the argument text must be rewritten here
        # (same skip as _ascii_fold; found by tests/test_fuzz_dialect.py)
        args = [
            _rewrite_calls(
                _rewrite_calls(a, "min", _CALL_REWRITES["min"]),
                "max",
                _CALL_REWRITES["max"],
            )
            for a in args
        ]
        if len(args) >= 2:
            # SQLite scalar min/max return NULL if ANY argument is NULL;
            # Spark's least/greatest skip NULLs. Guard explicitly (args
            # re-evaluate in the guard — scalar expressions, acceptable).
            guard = " OR ".join(f"({a}) IS NULL" for a in args)
            # SQLite compares by STORAGE CLASS: every numeric sorts
            # below every text (sqlite3MemCompare), so with statically
            # mixed arg classes the winner set is known — min picks
            # among the numerics, max among the texts (r14; closes the
            # TEXT-args residue for the engine's single-typed columns).
            cls = []
            for a in args:
                aff, vcl = _cmp_classify(a, _ACTIVE_COLUMN_TYPES)
                if vcl in ("num", "numlit"):
                    cls.append("n")
                elif vcl in ("strlit", "text"):
                    cls.append("t")
                else:
                    cls.append("?")
            if "?" not in cls and "n" in cls and "t" in cls:
                want = "n" if fn == "least" else "t"
                pick = [a for a, c in zip(args, cls) if c == want]
                body = pick[0] if len(pick) == 1 else \
                    f"{fn}({', '.join(pick)})"
                return f"(CASE WHEN {guard} THEN NULL ELSE {body} END)"
            return (
                f"(CASE WHEN {guard} THEN NULL "
                f"ELSE {fn}({', '.join(args)}) END)"
            )
        name = "min" if fn == "least" else "max"
        return f"{name}({', '.join(args)})"

    return build


_MOD_UNIT_US = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _apply_modifier(x: str, mod: str) -> str:
    """Fold one SQLite datetime modifier over timestamp expression ``x``.

    Supported (the documented core set, applied left-to-right like SQLite):
    ±NNN seconds/minutes/hours/days (fractional ok), ±NNN months/years
    (integer, with SQLite's day-overflow normalization: Jan 31 + 1 month =
    Mar 2/3, NOT clamped like Spark's add_months), start of day/month/year,
    weekday N (advance to next weekday N, staying put if already there),
    localtime/utc (identity: the engine pins the session timezone to UTC —
    queries/__init__._pin_session_confs — so local time IS UTC, matching
    SQLite running with TZ=UTC). 'unixepoch' reinterprets the *base* value
    and is handled in _base_and_modifiers, not here.
    """
    if mod in ("localtime", "utc"):
        return x
    m = re.fullmatch(r"([+-]?\d+(?:\.\d+)?)\s+(second|minute|hour|day)s?", mod)
    if m:
        v, unit = float(m.group(1)), m.group(2)
        us = round(v * _MOD_UNIT_US[unit])
        return f"timestampadd(MICROSECOND, {us}, {x})"
    m = re.fullmatch(r"([+-]?\d+)\s+(month|year)s?", mod)
    if m:
        n, unit = int(m.group(1)), m.group(2).upper()
        # SQLite normalizes day overflow instead of clamping: rebuild from
        # the first of the month, then re-add (day-1) days and time-of-day.
        first = f"timestampadd({unit}, {n}, date_trunc('MONTH', {x}))"
        with_day = f"timestampadd(DAY, day({x}) - 1, {first})"
        tod = f"unix_micros({x}) - unix_micros(date_trunc('DAY', {x}))"
        return f"timestampadd(MICROSECOND, {tod}, {with_day})"
    m = re.fullmatch(r"start\s+of\s+(day|month|year)", mod)
    if m:
        return f"date_trunc('{m.group(1).upper()}', {x})"
    m = re.fullmatch(r"weekday\s+([0-6])", mod)
    if m:
        # SQLite: advance to next date with weekday N (0 = Sunday); no
        # change if already N. Spark dayofweek: Sunday = 1.
        n = int(m.group(1))
        return (
            f"timestampadd(DAY, ({n} - (dayofweek({x}) - 1) + 7) % 7, {x})"
        )
    raise FilesqlError(f"unsupported datetime modifier {mod!r}")


def _julian_base(d: str) -> str:
    """Timestamp from a julian-day-number DOUBLE expression, in SQLite's
    millisecond precision (date.c: iJD = round(jd * 86400000);
    2440587.5 * 86400000 = 210866760000000 ms at the unix epoch)."""
    # TRY_CAST (plain CAST would be re-expanded by the SQLite-CAST pass)
    # and +0.5-truncate rather than round() (whose sweep would wrap the
    # argument in the text-coercion expansion): julian days are positive
    # for the whole of SQLite's supported range, so truncate(x + .5) IS
    # round-half-up there.
    return (
        f"timestamp_micros((TRY_CAST(({d}) * 86400000.0 + 0.5 AS BIGINT)"
        f" - 210866760000000) * 1000)"
    )


def _base_and_modifiers(kind: str, base: str, raw_mods: list[str]) -> str:
    """Resolve a SQLite time value + modifier list to a timestamp expr.

    'unixepoch' / 'auto' / 'julianday' must be the first modifier
    (SQLite's rule) and switch the base interpretation. A bare NUMERIC
    base is a julian day number — SQLite's default (date.c
    parseDateOrTime; r13b fix: was wrongly read as epoch seconds) —
    including numeric-looking strings, via a runtime TRY_CAST dispatch
    for text/unknown affinity."""
    mods = []
    for raw in raw_mods:
        s = raw.strip()
        if not (s.startswith("'") and s.endswith("'")):
            raise FilesqlError(
                f"{kind}() modifiers must be string literals, got {raw!r}"
            )
        mods.append(s[1:-1].strip().lower())
    base = base.strip()
    if mods and mods[0] == "unixepoch":
        x = f"timestamp_seconds(CAST(({base}) AS DOUBLE))"
        mods = mods[1:]
    elif mods and mods[0] == "julianday":
        x = _julian_base(f"TRY_CAST(({base}) AS DOUBLE)")
        mods = mods[1:]
    elif mods and mods[0] == "auto":
        # numeric in the julian-day range → julian day, other numerics →
        # epoch seconds, non-numeric → date/time string (date.c 'auto')
        d = f"TRY_CAST(({base}) AS DOUBLE)"
        x = (
            f"(CASE WHEN {d} IS NULL THEN CAST(({base}) AS TIMESTAMP) "
            f"WHEN {d} >= 0 AND {d} < 5373484.5 THEN {_julian_base(d)} "
            f"ELSE timestamp_seconds({d}) END)"
        )
        mods = mods[1:]
    elif base.lower() == "'now'":
        x = "current_timestamp()"
    else:
        t = _static_affinity(base)
        if t in ("int", "real"):
            x = _julian_base(f"TRY_CAST(({base}) AS DOUBLE)")
        elif base.startswith("'") and base.endswith("'"):
            # string literal: julian iff the content is numeric (static)
            if _div_str_lit_type(_literal_content(base)) in ("int", "real"):
                x = _julian_base(f"TRY_CAST(({base}) AS DOUBLE)")
            else:
                x = f"CAST(({base}) AS TIMESTAMP)"
        elif t == "null":
            x = "CAST(NULL AS TIMESTAMP)"
        elif t == "text":
            # known-TEXT column: per-row dispatch, numeric-looking →
            # julian (SQLite's default numeric interpretation)
            d = f"TRY_CAST(({base}) AS DOUBLE)"
            x = (
                f"(CASE WHEN {d} IS NOT NULL THEN {_julian_base(d)} "
                f"ELSE CAST(({base}) AS TIMESTAMP) END)"
            )
        else:
            # unknown affinity (Spark TIMESTAMP/DATE columns and
            # arbitrary expressions): date/time-string semantics — a
            # TIMESTAMP column casts to DOUBLE as epoch seconds, which
            # must NOT be misread as a julian day
            x = f"CAST(({base}) AS TIMESTAMP)"
    for mod in mods:
        if mod in ("unixepoch", "auto", "julianday"):
            raise FilesqlError(
                f"'{mod}' must be the first datetime modifier"
            )
        x = _apply_modifier(x, mod)
    return x


def _now_family(kind: str):
    """date/datetime/time('now' | expr, modifiers…) → TEXT, like SQLite.

    Modifiers fold left-to-right over the base timestamp (SQLite doc.go:68-77
    delegates these to the SQLite core dialect; see _apply_modifier /
    _base_and_modifiers for the supported set)."""
    fmt = {"date": "yyyy-MM-dd", "datetime": "yyyy-MM-dd HH:mm:ss", "time": "HH:mm:ss"}[kind]

    def build(args: list[str]) -> str:
        if not args:
            raise FilesqlError(f"{kind}() expects at least one argument")
        x = _base_and_modifiers(kind, args[0], args[1:])
        return f"date_format({x}, '{fmt}')"

    return build


def _unixepoch(args: list[str]) -> str:
    """unixepoch(time-value, modifiers…) → BIGINT epoch seconds
    (SQLite 3.38+; no-arg form means 'now')."""
    if not args or (len(args) == 1 and not args[0].strip()):
        x = "current_timestamp()"
    else:
        x = _base_and_modifiers("unixepoch", args[0], args[1:])
    return f"CAST(unix_timestamp({x}) AS BIGINT)"


def _total(args: list[str]) -> str:
    """SQLite total(): SUM that returns 0.0 instead of NULL on empty/all-NULL
    input, always REAL (sqlite doc: aggfunc total)."""
    if len(args) != 1:
        raise FilesqlError(f"total() expects 1 arg, got {len(args)}")
    return f"coalesce(sum(CAST(({args[0]}) AS DOUBLE)), CAST(0 AS DOUBLE))"


def _log(args: list[str]) -> str:
    """SQLite log(X) is base-10 (log(B,X) is base-B) — Spark's 1-arg log is
    natural; a silent divergence without this rewrite. TEXT args
    strict-coerce like the rest of the math family (r17)."""
    args = [
        f"TRY_CAST(({a}) AS DOUBLE)"
        if _static_affinity(a) == "text" else a
        for a in args
    ]
    if len(args) == 1:
        return f"log10({args[0]})"
    return f"log({', '.join(args)})"


def _char(args: list[str]) -> str:
    """SQLite char(C1, C2, …): string from unicode codepoints. Spark's own
    chr() truncates mod 256, so each codepoint goes through a UTF-32
    decode (exact for the full range)."""
    if not args or not args[0].strip():
        raise FilesqlError("char() expects at least one codepoint")
    # conv(n, 10, 16), not hex(n): the later hex() pass rewrites any
    # hex( spelling to SQLite's text-rendering semantics, which would
    # corrupt this codepoint emission (caught by test_char_unicode_quote)
    parts = [
        f"decode(unhex(lpad(conv({a}, 10, 16), 8, '0')), 'UTF-32')"
        for a in args
    ]
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def _quote(args: list[str]) -> str:
    """SQLite quote(X): NULL → 'NULL', numbers unquoted, text as a
    ''-escaped single-quoted literal. The numeric branch keys off Spark's
    typeof() — the static expression type, constant-folded by Catalyst,
    which matches SQLite's dynamic type for typed table columns (the only
    divergence left is TEXT columns holding numerals, which SQLite also
    quotes — same behavior)."""
    if len(args) != 1:
        raise FilesqlError(f"quote() expects 1 arg, got {len(args)}")
    core = args[0].strip()
    stripped = re.sub(r"^[+\-\s]+", "", core)
    if stripped and _NUM_LIT_RX.fullmatch(stripped):
        # numeric literal: constant-fold the rendering at rewrite time
        # (exact, and bare sessions never need the rendering UDF)
        from filesql_spark.json1 import quote_double

        neg = core[:len(core) - len(stripped)].count("-") % 2 == 1
        if stripped[:2].lower() == "0x":
            text = str(-int(stripped, 16) if neg else int(stripped, 16))
        elif _div_lit_type(stripped) == "real" or stripped[-1:] in "dDfF":
            v = float(stripped.rstrip("dDfF"))
            text = quote_double(-v if neg else v)
        else:
            text = str(-int(stripped) if neg else int(stripped))
        return "'" + text.replace("'", "''") + "'"
    x = f"({args[0]})"
    s = f"CAST({x} AS STRING)"
    num = s
    if _static_affinity(args[0]) == "real":
        # provably-REAL input renders like SQLite quote() (r14): %!.15g
        # when it round-trips, else the 20-digit scientific form (the
        # fallback truncates the exact binary expansion — first ~17
        # significant digits match every SQLite printer; the tail
        # varies across SQLite's own printer generations, documented).
        # Statically-untyped floats keep Java rendering (SURVEY §5).
        num = f"filesql_quote_double(TRY_CAST({x} AS DOUBLE))"
    quoted = f"concat('''', replace({s}, '''', ''''''), '''')"
    return (
        f"(CASE WHEN {x} IS NULL THEN 'NULL' "
        f"WHEN typeof{x} RLIKE '^(tinyint|smallint|int|bigint|float|double|decimal)' "
        f"THEN {num} "
        f"WHEN typeof{x} = 'binary' THEN concat('X''', upper(hex{x}), '''') "
        f"ELSE {quoted} END)"
    )


def _regex_literal(rx: str) -> str:
    """Embed a regex as a Spark SQL string literal: backslashes must be
    doubled (Spark's literal parser consumes them as escapes — ``'\\.'``
    reaches RLIKE as ``.``, silently turning an escaped dot into
    match-anything), quotes doubled."""
    return "'" + rx.replace("\\", "\\\\").replace("'", "''") + "'"


def _glob_call(args: list[str]) -> str:
    """SQLite's function form glob(P, S) ≡ S GLOB P (note the swapped
    argument order). Same literal-pattern restriction as the operator
    rewrite — translation happens at rewrite time."""
    if len(args) != 2:
        raise FilesqlError(f"glob() expects 2 args, got {len(args)}")
    pat = args[0].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise FilesqlError(
            "glob() requires a string-literal pattern (non-literal "
            "patterns are not supported)"
        )
    rx = _glob_regex(_literal_content(pat))
    return f"(({args[1]}) RLIKE {_regex_literal(rx)})"


def _like_call(args: list[str]) -> str | None:
    """SQLite's function form like(P, S[, E]) ≡ S LIKE P [ESCAPE E]
    (swapped argument order, case-insensitive). Runs as a pre-pass
    BEFORE the operator rewrite, which would otherwise rename the
    function head to ILIKE( and silently swap Spark's ilike(str, pat)
    argument order. One argument means the OPERATOR with a parenthesized
    pattern — ``x LIKE ('a%')`` — declined (None) for the operator pass.
    Literal patterns get the same backslash-literalizing fix as the
    operator rewrite; with an explicit ESCAPE the pattern's own escape
    semantics apply unchanged."""
    if len(args) == 1:
        return None
    if len(args) not in (2, 3):
        raise FilesqlError(f"like() expects 2-3 args, got {len(args)}")
    # no backslash handling here: the emitted ILIKE runs through the
    # operator pass next, which literalizes a literal pattern's
    # backslashes (and correctly skips when ESCAPE follows)
    esc = f" ESCAPE {args[2]}" if len(args) == 3 else ""
    return f"(({args[1]}) ILIKE {args[0].strip()}{esc})"


def _json_extract(args: list[str]) -> str:
    """SQLite json1 json_extract(X, P) → get_json_object (path syntax is
    shared: '$.k', '$[0]', '$.a.b'). Divergence note: SQLite returns SQL
    values (numbers as numbers); get_json_object returns the text form —
    pinned in tests. The multi-path form (returns a JSON array) has no
    single-call Spark equivalent and raises."""
    if len(args) != 2:
        raise FilesqlError(
            f"json_extract with {len(args)} args is not supported "
            "(only the 2-arg form json_extract(doc, path))"
        )
    return f"get_json_object({args[0]}, {args[1]})"


def _json_array_length(args: list[str]) -> str:
    """json_array_length(X[, P]) — Spark's builtin covers the 1-arg form;
    the path form peels the subarray out with get_json_object first."""
    if len(args) == 1:
        return f"json_array_length({args[0]})"
    if len(args) == 2:
        return f"json_array_length(get_json_object({args[0]}, {args[1]}))"
    raise FilesqlError(f"json_array_length expects 1-2 args, got {len(args)}")


def _json_valid(args: list[str]) -> str:
    """json_valid(X) → 1/0 like SQLite (default RFC-8259 flags): Spark's
    get_json_object(X, '$') yields NULL for malformed input."""
    if len(args) != 1:
        raise FilesqlError(f"json_valid expects 1 arg, got {len(args)}")
    x = args[0]
    return (
        f"(CASE WHEN ({x}) IS NULL THEN NULL "
        f"WHEN get_json_object({x}, '$') IS NOT NULL THEN 1 ELSE 0 END)"
    )


def _json_quote(args: list[str]) -> str:
    """json_quote(X): NULL → 'null', numbers unquoted, text as a
    JSON-escaped string literal. Text rides to_json(array(x)) with the
    brackets stripped — Jackson applies the same RFC-8259 escapes
    (quote, backslash, control chars) SQLite does."""
    if len(args) != 1:
        raise FilesqlError(f"json_quote expects 1 arg, got {len(args)}")
    x = f"({args[0]})"
    arr = f"to_json(array({x}))"
    return (
        f"(CASE WHEN {x} IS NULL THEN 'null' "
        f"WHEN typeof({x}) RLIKE "
        f"'^(int|bigint|smallint|tinyint|double|float|decimal.*)$' "
        f"THEN CAST({x} AS STRING) "
        f"ELSE substring({arr}, 2, length({arr}) - 2) END)"
    )


def _json_type(args: list[str]) -> str:
    """json_type(X) — the top-level JSON type name, with SQLite's
    'malformed JSON' error for invalid input (raise_error, per-row).
    The path form json_type(X, P) rides the filesql_json_type session
    UDF (json1.json_type_at — Arrow-batched, r13b; get_json_object
    could not distinguish extracted text from numbers)."""
    if len(args) == 2:
        return (
            f"filesql_json_type(CAST(({args[0]}) AS STRING), "
            f"CAST(({args[1]}) AS STRING))"
        )
    if len(args) != 1:
        raise FilesqlError(f"json_type expects 1-2 args, got {len(args)}")
    x = f"({args[0]})"
    t = f"trim({x})"
    return (
        f"(CASE WHEN {x} IS NULL THEN NULL "
        f"WHEN get_json_object({x}, '$') IS NULL "
        f"THEN raise_error('malformed JSON') "
        f"ELSE CASE substring({t}, 1, 1) "
        f"WHEN '{{' THEN 'object' WHEN '[' THEN 'array' "
        f"WHEN '\"' THEN 'text' WHEN 't' THEN 'true' "
        f"WHEN 'f' THEN 'false' WHEN 'n' THEN 'null' "
        f"ELSE (CASE WHEN {t} RLIKE '^-?[0-9]+$' THEN 'integer' "
        f"ELSE 'real' END) END END)"
    )


def _typeof(args: list[str]) -> str:
    """SQLite typeof(X) → 'integer'/'real'/'text'/'blob'/'null', keyed off
    Spark's static expression type (constant-folded CASE over typeof()).
    Divergence note: SQLite types are per-VALUE; with this engine's
    inference making columns homogeneous, the static type matches except
    for mixed-affinity columns, which inference already stringifies."""
    if len(args) != 1:
        raise FilesqlError(f"typeof() expects 1 arg, got {len(args)}")
    x = f"({args[0]})"
    return (
        f"(CASE WHEN {x} IS NULL THEN 'null' "
        f"WHEN typeof{x} RLIKE '^(tinyint|smallint|int|bigint|boolean)$' THEN 'integer' "
        f"WHEN typeof{x} RLIKE '^(float|double|decimal)' THEN 'real' "
        f"WHEN typeof{x} = 'binary' THEN 'blob' "
        f"ELSE 'text' END)"
    )


def _json_object(args: list[str]) -> str:
    """json_object(K1, V1, …) — element-wise like _json_array (r13b;
    was to_json(named_struct(…)), which required literal keys and
    stringified JSON-subtype values). Byte-identical to SQLite: compact
    separators, duplicate keys kept in argument order, NULL values as
    json null, values produced by other json1 calls spliced as JSON
    trees (json_func.c jsonObjectFunc's subtype check). Labels: string
    literals quote statically; other TEXT/unknown expressions quote at
    runtime with SQLite's exact 'labels must be TEXT' error on NULL;
    provably-numeric labels fail at rewrite with the same wording."""
    if not args or not args[0].strip():
        return "concat('{', '}')"  # flag-recognizable empty (folds)
    if len(args) % 2 != 0:
        raise FilesqlError("json_object expects an even number of arguments")
    parts: list[str] = []
    for k, v in zip(args[::2], args[1::2]):
        ks = k.strip()
        if ks.startswith("'") and ks.endswith("'"):
            key = _json_quote([k])
        else:
            if _static_affinity(k) in ("int", "real", "null"):
                raise FilesqlError("json_object() labels must be TEXT")
            key = (
                f"(CASE WHEN ({k}) IS NULL THEN "
                f"raise_error('json_object() labels must be TEXT') "
                f"ELSE {_json_quote([k])} END)"
            )
        fl = _json_value_flag(v)  # flag BEFORE recursion: raw spelling
        # same-name nesting: the per-name sweep skips this builder's own
        # emission, so an embedded json_object must be rewritten here
        # (other json1 calls are expanded by their own later sweeps)
        v = _rewrite_calls(v, "json_object", _json_object)
        val = (
            f"({v})" if fl == "j"
            else _json_array_loose(v) if fl == "l"
            else _json_quote([v])
        )
        parts.append(f"{key}, ':', {val}")
    return "concat('{', " + ", ',', ".join(parts) + ", '}')"


# json1 mutation (json_set/insert/replace/remove, json minify) rides the
# filesql_json_mutate session UDF (json1.py; Engine registers it).
# SQLite's JSON "subtype" — values produced by other json1 calls splice
# in as JSON trees, plain SQL values as scalars — is decided
# syntactically at rewrite time and shipped per-value as a flag char:
# 's' scalar (json_quote-encoded), 'j' JSON subtype, 'l' loose
# (json_extract output: containers/numbers parse, scalar text stays
# text). Pinned against stdlib sqlite3 in tests/test_fuzz_dialect.py.

_JSON_SUBTYPE_FNS = frozenset({
    "json", "json_array", "json_object", "json_quote", "json_set",
    "json_insert", "json_replace", "json_remove", "json_patch",
    "json_group_array", "json_group_object",
    # the already-rewritten spellings: a value that went through an
    # earlier json pass shows up as one of these by the time a later
    # pass inspects it
    "filesql_json_mutate", "to_json",
})
_JSON_LOOSE_FNS = frozenset({"json_extract", "get_json_object"})

_CALL_HEAD_RX = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(")


def _json_value_flag(expr: str) -> str:
    """Subtype flag for one json_set/insert/replace value argument."""
    e = expr.strip()
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1].strip()
        if inner.startswith(("concat('[", "concat('{", "filesql_json_")):
            e = inner
    # this pass's own json_array/json_object emissions — recognized by
    # structure (r13b) so the subtype survives re-inspection regardless
    # of sweep order. Documented divergence: a user hand-assembling JSON
    # text via concat('{', …) gets spliced where SQLite would quote.
    if e.startswith(("concat('[", "concat('{")):
        return "j"
    m = _CALL_HEAD_RX.match(e)
    if m and e.endswith(")"):
        hit = _find_call(e, m.group(1))
        if hit and hit[1] == len(e):
            name = m.group(1).lower()
            if name == "filesql_json_arrow":
                # `->` (…, false) keeps the JSON subtype; `->>` (…, true)
                # extracts a plain SQL value (json_func.c jsonExtractFunc)
                return "j" if e[:-1].rstrip().endswith("false") else "s"
            if name in _JSON_SUBTYPE_FNS:
                return "j"
            if name in _JSON_LOOSE_FNS:
                return "l"
    return "s"


def _rewrite_json_family(expr: str) -> str:
    """Recursively rewrite nested json-mutation calls inside an argument
    (the per-name sweep skips text its own builder emitted, so nesting
    like json_set(json_set(…), …) needs this explicit recursion)."""
    for name, fn in _JSON_MUTATION_REWRITES.items():
        expr = _rewrite_calls(expr, name, fn)
    return expr


_EMPTY_STR_ARRAY = "CAST(array() AS ARRAY<STRING>)"


def _json_mutate_call(doc: str, op: str, paths: list[str],
                      vals: list[str], flags: str) -> str:
    paths_sql = f"array({', '.join(paths)})" if paths else _EMPTY_STR_ARRAY
    vals_sql = f"array({', '.join(vals)})" if vals else _EMPTY_STR_ARRAY
    return (
        f"filesql_json_mutate(({doc}), '{op}', {paths_sql}, {vals_sql}, "
        f"'{flags}')"
    )


def _json_set_family(op: str):
    def build(args: list[str]) -> str:
        if len(args) < 3 or len(args) % 2 == 0:
            raise FilesqlError(
                f"json_{op} expects an odd argument count ≥ 3 "
                f"(doc, then path/value pairs), got {len(args)}"
            )
        doc = _rewrite_json_family(args[0])
        paths, vals, flags = [], [], []
        for p, v in zip(args[1::2], args[2::2]):
            paths.append(_rewrite_json_family(p))
            fl = _json_value_flag(v)
            v = _rewrite_json_family(v)
            vals.append(_json_quote([v]) if fl == "s" else f"({v})")
            flags.append(fl)
        return _json_mutate_call(doc, op, paths, vals, "".join(flags))

    return build


def _json_remove(args: list[str]) -> str:
    if not args:
        raise FilesqlError("json_remove expects at least 1 argument")
    doc = _rewrite_json_family(args[0])
    paths = [_rewrite_json_family(p) for p in args[1:]]
    return _json_mutate_call(doc, "remove", paths, [], "")


def _json_patch(args: list[str]) -> str:
    if len(args) != 2:
        raise FilesqlError(f"json_patch expects 2 args, got {len(args)}")
    doc = _rewrite_json_family(args[0])
    patch = _rewrite_json_family(args[1])
    return _json_mutate_call(doc, "patch", [], [f"({patch})"], "j")


def _json_minify(args: list[str]) -> str:
    if len(args) != 1:
        raise FilesqlError(f"json expects 1 arg, got {len(args)}")
    doc = _rewrite_json_family(args[0])
    return _json_mutate_call(doc, "json", [], [], "")


def _json_pretty(args: list[str]) -> str:
    """json_pretty(X[, indent]) — SQLite 3.46 (in the reference's bundled
    engine; stdlib sqlite3 here is older, format pinned from the docs)."""
    if len(args) not in (1, 2):
        raise FilesqlError(f"json_pretty expects 1-2 args, got {len(args)}")
    doc = _rewrite_json_family(args[0])
    vals = [f"({_rewrite_json_family(args[1])})"] if len(args) == 2 else []
    return _json_mutate_call(doc, "pretty", [], vals, "s" * len(vals))


_JSON_MUTATION_REWRITES = {
    "json_set": _json_set_family("set"),
    "json_insert": _json_set_family("insert"),
    "json_replace": _json_set_family("replace"),
    "json_remove": _json_remove,
    "json_patch": _json_patch,
    "json": _json_minify,
    "json_pretty": _json_pretty,
}


def _json_array_loose(a: str) -> str:
    """One json_array element of the 'l' (loose) subtype class — a
    json_extract output. Mirror json1._decode_value's loose rule at the
    SQL level: splice if the text is valid JSON (containers, numbers,
    booleans — get_json_object's own output is already normalized), else
    quote it as a plain string. Same documented divergence as json_set's
    'l' flag: a scalar STRING that happens to parse (doc value "[1,2]")
    splices where SQLite would quote — parse-if-valid can't see SQLite's
    subtype bit (r11 ADVICE fix; was falling through to json_quote)."""
    v = f"({a})"
    return (
        f"(CASE WHEN {v} IS NULL THEN 'null' "
        f"WHEN get_json_object({v}, '$') IS NOT NULL THEN {v} "
        f"ELSE {_json_quote([a])} END)"
    )


def _json_array(args: list[str]) -> str:
    """json_array(V1, …) — element-wise json_quote joined with concat,
    preserving SQLite's per-element typing on MIXED arguments
    (json_array(1, 'a') → [1,"a"]). A homogeneous to_json(array(…))
    can't express that: Spark arrays coerce to a common element type,
    which ANSI mode outright rejects for int/text mixes (r10 fix)."""
    if not args or not args[0].strip():
        return "concat('[', ']')"  # flag-recognizable empty (folds)
    flags = [_json_value_flag(a) for a in args]  # flag raw spellings
    # same-name nesting: the per-name sweep skips this builder's own
    # emission, so any embedded json_array must be expanded here
    args = [_rewrite_calls(a, "json_array", _json_array) for a in args]
    quoted = [
        f"({a})" if fl == "j"
        else _json_array_loose(a) if fl == "l"
        else _json_quote([a])
        for a, fl in zip(args, flags)
    ]
    return "concat('[', " + ", ',', ".join(quoted) + ", ']')"


def _raise_fe(msg: str):
    raise FilesqlError(msg)


_SIMPLE_RENAMES = {
    "ifnull": "nvl",
    "unicode": "ascii",  # first-codepoint (Spark ascii returns full codepoint)
}


def _iif_call(args: list[str]) -> str:
    """SQLite iif(X, Y[, Z]): Y when X is TRUE under SQLite truthiness —
    numeric coercion, non-zero, NULL → Z. Spark's if() demands a
    BOOLEAN condition, so a bare rename errored on the common
    `iif(flag, a, b)` numeric-column form (r13 fix); the TRY_CAST
    coercion matches SQLite for numerics, booleans, and clean-numeric
    strings (divergence: '3x' coerces to 3/truthy in SQLite, NULL/falsy
    here — the prefix-parse machinery is not worth the hot-path cost).
    The 2-arg form (SQLite 3.48) yields NULL on false."""
    if len(args) not in (2, 3):
        raise FilesqlError(f"iif expects 2-3 args, got {len(args)}")
    args = [_rewrite_calls(a, "iif", _iif_call) for a in args]
    cond = f"nvl(TRY_CAST(({args[0]}) AS DOUBLE) <> 0, false)"
    z = args[2] if len(args) == 3 else "NULL"
    return f"if({cond}, {args[1]}, {z})"

# Spark math functions that return NaN out of domain where SQLite's
# return NULL ("SQLite returns NULL instead of NaN" — math-function
# docs; func.c math1Func/math2Func check isnan); a nanvl wrap restores
# the NULL (r17 — silent divergence: sqrt(-2) was NaN, SQLite NULL)
_MATH_NAN_FUNCS = frozenset({
    "sqrt", "asin", "acos", "acosh", "atanh", "pow", "power",
})


def _math_call(word: str):
    """SQLite's 3.35 math functions (sqrt/exp/ln/log2/log10/trig/
    pow/degrees/radians): TEXT arguments coerce via
    sqlite3_value_numeric_type — a STRICT full parse ('5y' → NULL,
    '2e1' → 20.0) — where Spark's implicit ANSI cast crashes; and any
    NaN result returns SQL NULL. Wrap provably-TEXT args in TRY_CAST
    AS DOUBLE and NaN-capable calls in nanvl(…, NULL) (r17)."""
    def build(args: list[str]) -> str | None:
        wrapped = []
        changed = False
        for a in args:
            if _static_affinity(a) == "text":
                wrapped.append(f"TRY_CAST(({a}) AS DOUBLE)")
                changed = True
            else:
                wrapped.append(a)
        core = f"{word}({', '.join(wrapped)})"
        if word in _MATH_NAN_FUNCS:
            return f"nanvl({core}, CAST(NULL AS DOUBLE))"
        return core if changed else None
    return build


_CALL_REWRITES = {
    # concat FIRST: SQLite 3.44's concat() IGNORES NULL arguments and
    # renders numbers as text, where Spark's NULL-propagates — only
    # user-written concat gets the wrap; later passes emit Spark-native
    # concat( safely because each pass sweeps once in dict order
    "concat": lambda args: _concat_call(args),
    # substring/substr SECOND (before every emission-producing pass):
    # json_quote emits substring(arr, 2, length(arr) - 2) — non-literal
    # third arg — and a later substr pass would re-expand it through the
    # general staged path (~20× text per json_array element, r11 ADVICE
    # fix). Sweeping substr first normalizes only user-written calls;
    # every later pass's substring(...) emission is already Spark-native.
    # substring stays BEFORE substr: the substr pass emits substring(...)
    # with already-normalized args — a later substring pass would wrap
    # the emission in a second (identity, textually huge) layer.
    "substring": lambda args: _substr_call(args),
    "substr": lambda args: _substr_call(args),
    "strftime": _strftime,
    "julianday": _julianday,
    "unixepoch": _unixepoch,
    "group_concat": _group_concat,
    "random": _random,
    "total": _total,
    # SQLite numeric coercion inside avg/sum over provably-TEXT inputs
    # (r13b; crash-to-correct: Spark's aggregates ANSI-fail on junk
    # text). Before "cast" so the emitted CAST(… AS REAL) expands.
    "avg": lambda args: _agg_numeric_coerce_call("avg", args),
    "sum": lambda args: _agg_numeric_coerce_call("sum", args),
    # mixed text/numeric coalesce-family → SQLite TEXT rendering
    # projection (r13b; crash-to-correct, divergence documented at the
    # builder)
    "coalesce": lambda args: _mixed_text_pick_call("coalesce", args),
    "ifnull": lambda args: _mixed_text_pick_call("ifnull", args),
    "nvl": lambda args: _mixed_text_pick_call("nvl", args),
    "log": _log,
    "char": _char,
    # typeof must precede quote: quote's expansion emits Spark typeof()
    # calls, which the (single-sweep) typeof pass must not re-rewrite
    "typeof": _typeof,
    "quote": _quote,
    # json1 mutation AFTER typeof/quote (their emissions embed typeof())
    # and BEFORE the other json passes (their emissions embed raw
    # json_array/json_quote calls for the later passes to expand)
    "json_set": _JSON_MUTATION_REWRITES["json_set"],
    "json_insert": _JSON_MUTATION_REWRITES["json_insert"],
    "json_replace": _JSON_MUTATION_REWRITES["json_replace"],
    "json_remove": _JSON_MUTATION_REWRITES["json_remove"],
    "json_patch": _JSON_MUTATION_REWRITES["json_patch"],
    "json": _JSON_MUTATION_REWRITES["json"],
    "json_pretty": _JSON_MUTATION_REWRITES["json_pretty"],
    # SQLite 3.43 timediff(A, B) → the filesql_timediff session UDF
    # (json1.timediff_text; format/algorithm notes there). 'now' follows
    # the date-function convention: the session's current timestamp.
    "timediff": lambda args: (
        "filesql_timediff(" + ", ".join(
            "CAST(current_timestamp() AS STRING)"
            if a.strip().lower() in ("'now'", '"now"')
            else f"CAST(({a}) AS STRING)"
            for a in args
        ) + ")"
    ) if len(args) == 2 else _raise_fe(
        f"timediff expects 2 args, got {len(args)}"
    ),
    # json_array BEFORE the other json passes: its subtype detection
    # (_json_value_flag) must see arguments in their RAW spelling
    # (json('…'), json_object(…)) — later passes expand them inside the
    # emission
    "iif": _iif_call,
    "json_array": _json_array,
    "json_extract": _json_extract,
    "json_array_length": _json_array_length,
    "json_valid": _json_valid,
    "json_type": _json_type,
    "json_quote": lambda args: _json_quote(args),
    "json_object": _json_object,
    "glob": _glob_call,
    # SQLite planner hints — semantically the identity of their first arg
    "likely": lambda args: f"({args[0]})",
    "unlikely": lambda args: f"({args[0]})",
    "likelihood": lambda args: f"({args[0]})",
    "min": _scalar_minmax("least"),
    "max": _scalar_minmax("greatest"),
    "date": _now_family("date"),
    "datetime": _now_family("datetime"),
    "time": _now_family("time"),
    # SQLite upper()/lower() fold ASCII ONLY ("assuming the ASCII
    # character set" — SQLite docs; é stays é), Spark's fold full
    # Unicode. translate() is the exact ASCII map and stays in codegen.
    # Listed after quote: its emitted upper(hex(…)) folds identically
    # under the ASCII map (hex output is [0-9A-F]).
    "upper": lambda args: _ascii_fold("upper", args),
    "lower": lambda args: _ascii_fold("lower", args),
    # SQLite hex(X) renders the BLOB interpretation of X: NULL → ''
    # (not NULL), numbers → hex of their TEXT rendering ('3132' for 12,
    # where Spark gives 'C'). Blobs pass through untouched — Spark's
    # typeof is a static type dispatch, free at runtime. Listed after
    # quote on purpose: quote's emitted hex() sits in a typeof='binary'
    # branch, where this dispatch reduces to the same hex(x).
    "hex": lambda args: _hex_call(args),
    "round": lambda args: _round_call(args),
    "trim": lambda args: _trim_family("BOTH", "trim")(args),
    "ltrim": lambda args: _trim_family("LEADING", "ltrim")(args),
    "rtrim": lambda args: _trim_family("TRAILING", "rtrim")(args),
    "cast": lambda args: _cast_call(args),
    # printf AFTER cast: its emissions embed _cast_call output, which the
    # cast pass must not re-wrap
    "printf": lambda args: _printf_call(args),
    "format": lambda args: _printf_call(args),  # printf alias (3.38+)
    # string_agg(x, sep) is SQLite 3.44's standard-SQL alias for
    # group_concat; zeroblob(n) is n zero bytes
    "string_agg": lambda args: _group_concat(args),
    "zeroblob": lambda args: f"unhex(repeat('00', {args[0]}))",
    # the SQLite line bundled by the reference's modernc.org/sqlite
    # v1.38.2 (go.mod:11) — scripts that branch on version keep working
    "sqlite_version": lambda args: "'3.50.2'",
    # RAISE() reaching the general rewrite means it's outside a trigger
    # body (triggers.py consumes trigger-body RAISE before rewriting);
    # SQLite's exact wording
    "raise": lambda args: _raise_outside_trigger(),
    # SQLite sign() returns INTEGER -1/0/1 (func.c signFunc); Spark's
    # signum returns DOUBLE (r11 sweep finding). TEXT args strict-parse
    # like the other math functions (sign('0.5x') is NULL — r17).
    "sign": lambda args: (
        f"CAST(sign(TRY_CAST(({args[0]}) AS DOUBLE)) AS BIGINT)"
        if _static_affinity(args[0]) == "text"
        else f"CAST(sign({args[0]}) AS BIGINT)"
    ),
    # math-function affinity repairs (r13b; pinned vs stdlib sqlite3):
    # ceil/floor preserve input affinity, 1-arg trunc is toward-zero
    # truncation, mod is fmod (always REAL, NULL on zero divisor)
    "ceil": lambda args: _ceil_floor_call("ceil")(args),
    "ceiling": lambda args: _ceil_floor_call("ceiling")(args),
    "floor": lambda args: _ceil_floor_call("floor")(args),
    "trunc": lambda args: _trunc_call(args),
    "mod": lambda args: _mod_call(args),
    # SQLite integers are always int64, so abs(-2147483648) widens to
    # 2147483648; Spark types the literal INT and ANSI-overflows. Widen
    # provably-INTEGER operands; REAL/unknown stay untouched (abs of a
    # double must stay double). int64 min still errors in BOTH engines.
    "abs": lambda args: _abs_call(args),
    # the 3.35 math-function family: strict TEXT coercion + NaN → NULL
    # (r17; builders at _math_call)
    "sqrt": _math_call("sqrt"),
    "exp": _math_call("exp"),
    "ln": _math_call("ln"),
    "log2": _math_call("log2"),
    "log10": _math_call("log10"),
    "pow": _math_call("pow"),
    "power": _math_call("power"),
    "sin": _math_call("sin"),
    "cos": _math_call("cos"),
    "tan": _math_call("tan"),
    "asin": _math_call("asin"),
    "acos": _math_call("acos"),
    "atan": _math_call("atan"),
    "atan2": _math_call("atan2"),
    "sinh": _math_call("sinh"),
    "cosh": _math_call("cosh"),
    "tanh": _math_call("tanh"),
    "asinh": _math_call("asinh"),
    "acosh": _math_call("acosh"),
    "atanh": _math_call("atanh"),
    "degrees": _math_call("degrees"),
    "radians": _math_call("radians"),
    # randomblob(N): N pseudo-random bytes; N < 1 yields 1 byte (SQLite
    # parity, pinned). Per-element rand() inside a transform stays
    # JVM-side and nondeterministic per byte per row.
    "randomblob": lambda args: (
        f"unhex(array_join(transform("
        f"sequence(1, greatest(CAST(({args[0]}) AS INT), 1)), "
        f"rb_i -> lpad(hex(CAST(floor(rand() * 256) AS INT)), 2, '0')), ''))"
    ),
    # json1 aggregates. The struct wrap keeps NULLs (collect_list drops
    # bare NULLs; SQLite renders them as json null), and the to_json
    # option renders null map values. Row order is Spark's collect order
    # — same documented caveat as group_concat.
    "json_group_array": lambda args: (
        f"to_json(transform(collect_list(struct(({args[0]}) AS x)), "
        f"s -> s.x))"
    ),
    "json_group_object": lambda args: (
        f"to_json(map_from_entries(collect_list(struct("
        f"CAST(({args[0]}) AS STRING), ({args[1]})))), "
        f"map('ignoreNullFields', 'false'))"
    ),
}


_TOTAL_OVER_RX = re.compile(r"(?i)\btotal\s*\(")


def _rewrite_total_over(sql: str) -> str:
    """``total(X) OVER …``: the aggregate rewrite wraps sum() in
    coalesce, which cannot carry the OVER clause (Spark:
    MISSING_GROUP_BY) — rewrite the windowed form directly with
    coalesce AROUND the windowed sum. Plain total(X) stays for the
    call pass (r17). The SQLite-spelled CAST(… AS DOUBLE) is expanded
    to the prefix parse by the cast pass, as in _total."""
    if "total" not in sql.lower():
        return sql
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    for m in _TOTAL_OVER_RX.finditer(mask):
        o = m.start()
        if o > 0 and (mask[o - 1].isalnum() or mask[o - 1] in "_."):
            continue
        close = _div_find_close(mask, m.end() - 1, len(sql))
        if close == -1:
            continue
        j = close + 1
        while j < len(sql) and mask[j] in " \t\r\n":
            j += 1
        w = _WORD_RX.match(mask, j)
        if not w or low[j:w.end()] != "over":
            continue
        k = w.end()
        while k < len(sql) and mask[k] in " \t\r\n":
            k += 1
        if k < len(sql) and mask[k] == "(":
            spec_close = _div_find_close(mask, k, len(sql))
            if spec_close == -1:
                continue
            spec_end = spec_close + 1
        else:
            w2 = _WORD_RX.match(mask, k)
            if not w2:
                continue
            spec_end = w2.end()  # named window: OVER w
        arg = sql[m.end():close]
        spec = sql[j:spec_end]
        edits.append((o, spec_end, (
            f"coalesce(sum(CAST(({arg}) AS DOUBLE)) {spec}, "
            f"CAST(0 AS DOUBLE))"
        )))
    for a, b, r0 in sorted(edits, reverse=True):
        sql = sql[:a] + r0 + sql[b:]
    return sql


def _raise_outside_trigger():
    raise FilesqlError("RAISE() may only be used within a trigger-program")


def _abs_call(args: list[str]) -> str | None:
    if len(args) != 1:
        raise FilesqlError(f"abs expects 1 arg, got {len(args)}")
    expr = args[0]
    mask = _div_mask(expr)
    t = _div_walk(expr, mask, 0, len(expr), _ACTIVE_COLUMN_TYPES, [])
    if t == "int":
        return f"abs(CAST(({expr}) AS BIGINT))"
    if t == "text":
        # SQLite abs() coerces TEXT via sqlite3_value_double — the
        # numeric-PREFIX parse, junk → 0.0, result always REAL
        # (func.c absFunc; r17 — was a loud ANSI cast error). The cast
        # pass has already run at this table position, so expand the
        # prefix parse directly instead of emitting CAST(… AS REAL).
        return f"abs({_cast_call([f'({expr}) AS REAL'])})"
    return None  # REAL/unknown: leave exactly as written


def _static_affinity(expr: str) -> str | None:
    """Static SQLite affinity of an expression fragment (the tracker's
    'int'/'real'/'null'/'text', or None when undecidable)."""
    mask = _div_mask(expr)
    return _div_walk(expr, mask, 0, len(expr), _ACTIVE_COLUMN_TYPES, [])


def _ceil_floor_call(word: str):
    """SQLite ceil()/ceiling()/floor() preserve the input's affinity —
    INTEGER in, INTEGER out; REAL in, REAL out (func.c ceilingFunc).
    Spark's ceil/floor return BIGINT for DOUBLE input, so provably-REAL
    operands get an explicit widen back (ceil(2.1) must be 3.0, not 3).
    Integer and unknown-affinity operands keep the plain call (for int
    the BIGINT result already matches; unknown stays on Spark typing —
    same documented static-undecidability divergence as SURVEY §5 #2)."""
    def build(args: list[str]) -> str | None:
        if len(args) != 1:
            raise FilesqlError(f"{word} expects 1 arg, got {len(args)}")
        t = _static_affinity(args[0])
        if t == "real":
            return f"CAST({word}({args[0]}) AS DOUBLE)"
        if t == "text":
            # strict numeric coercion like the other math functions
            # (junk → NULL); SQLite's int-text-in/int-out vs
            # real-text-in/real-out result TYPE is value-dependent —
            # Spark's BIGINT result is value-exact (documented
            # static-schema class, r17)
            return f"{word}(TRY_CAST(({args[0]}) AS DOUBLE))"
        return None
    return build


def _trunc_call(args: list[str]) -> str | None:
    """SQLite 1-arg trunc(X) (math function, func.c): toward-zero
    truncation, INTEGER input passes through as INTEGER, anything else
    coerces to REAL (strict clean-numeric conversion — '2x' is NULL).
    Spark has no 1-arg trunc (its trunc is date truncation, which SQLite
    doesn't have — a 2-arg call is left for Spark to resolve). The REAL
    path duplicates the operand (same purity requirement as the
    value-dependent division dispatch: arguments are assumed pure);
    |X| ≥ 2^53 doubles carry no fractional part, so the magnitude guard
    both avoids BIGINT overflow and is value-exact."""
    if len(args) != 1:
        return None  # Spark's own trunc(date, fmt)
    x = args[0]
    if _static_affinity(x) == "int":
        return f"({x})"
    d = f"TRY_CAST(({x}) AS DOUBLE)"
    return (
        f"(CASE WHEN abs({d}) < 9.007199254740992e15 "
        f"THEN CAST(CAST({d} AS BIGINT) AS DOUBLE) ELSE {d} END)"
    )


def _mixed_text_pick_call(word: str, args: list[str]) -> str | None:
    """SQLite's dynamic typing lets coalesce/ifnull pick between numeric
    and TEXT arguments per row; Spark's coalesce forces ONE static type
    and widens text next to numerics to DOUBLE — a per-row runtime CAST
    crash on any non-numeric text value. When argument affinities
    provably mix text with numerics, project the call to SQLite's TEXT
    rendering instead: INTEGER args render via CAST AS STRING, REAL args
    via %!.15g (filesql_double_text) — byte-identical to how SQLite
    renders those values in a TEXT context. Documented divergence
    (SURVEY §5 family): the projected value is TEXT for every row, so
    comparisons/ordering against it follow TEXT semantics where SQLite
    compares per-row value classes (numerics sort before text). All-
    numeric, all-text, and unknown-affinity calls stay untouched."""
    types = [_static_affinity(a) for a in args]
    if None in types or "text" not in types:
        return None
    if not any(t in ("int", "real") for t in types):
        return None
    parts = []
    for a, t in zip(args, types):
        if t == "int":
            parts.append(f"TRY_CAST(({a}) AS STRING)")
        elif t == "real":
            parts.append(f"filesql_double_text(TRY_CAST(({a}) AS DOUBLE))")
        else:  # text / literal NULL
            parts.append(f"({a})")
    return f"coalesce({', '.join(parts)})"


def _agg_numeric_coerce_call(word: str, args: list[str]) -> str | None:
    """SQLite avg()/sum() apply numeric coercion to TEXT inputs (the
    CAST-AS-REAL rules: longest numeric prefix, no prefix → 0, NULLs
    still skipped); Spark's aggregates ANSI-crash on the first
    non-numeric string. Wrap provably-TEXT arguments in the cast pass's
    prefix-parse expansion. Documented divergence: SQLite types sum()
    INTEGER when every coerced input is an integer — the coerced column
    is DOUBLE here, so sum of clean-integer text renders 11.0 where
    SQLite renders 11 (the value is exact either way)."""
    if len(args) != 1:
        return None
    if _static_affinity(args[0]) != "text":
        return None
    # SQLite-spelled CAST: the cast pass (later in the sweep order, same
    # pattern as _total's emission) expands it to the typeof-dispatched
    # prefix parse
    return f"{word}(CAST(({args[0]}) AS REAL))"


def _mod_call(args: list[str]) -> str | None:
    """SQLite mod(X, Y) (math function): C fmod — the result is ALWAYS
    REAL, text coerces strictly (mod('abc',3) is NULL), and a zero
    divisor yields NULL (fmod's NaN surfaces as SQL NULL). Spark's mod
    keeps integer typing and ANSI-errors on x % 0, so both need fixing
    (sign-of-dividend semantics already agree)."""
    if len(args) != 2:
        raise FilesqlError(f"mod expects 2 args, got {len(args)}")
    x, y = args
    return (
        f"CAST(TRY_CAST(({x}) AS DOUBLE) % "
        f"nullif(TRY_CAST(({y}) AS DOUBLE), 0.0D) AS DOUBLE)"
    )


_PRINTF_DIR_RE = re.compile(r"%([-+ 0#]*)(\d+)?(\.\d+)?([a-zA-Z%])")


def _sql_str(s: str) -> str:
    """Embed a Python string as a (post-escaping-stage) Spark literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _printf_call(args: list[str]) -> str | None:
    """SQLite printf()/format(): arguments COERCE to the directive's type
    (C sprintf semantics — '%d' of 3.7 is 3, of '12abc' is 12, of NULL is
    0; '%s' of NULL is ''), and %q/%Q/%w do SQL quoting. Java's
    format_string instead throws on any type mismatch. For a literal
    format string, wrap each argument with the matching SQLite coercion
    (reusing the CAST prefix-parse emulation) and translate the
    SQLite-only directives (%i→%d, %u→%d, %q/%Q/%w→%s + quoting expr).
    Non-literal formats, width-from-arg (*), and C directives Java renders
    differently (%g/%G/%c) fall back to the plain rename."""
    if len(args) < 1:
        return None
    for name in ("printf", "format"):
        args = [_rewrite_calls(a, name, _CALL_REWRITES[name]) for a in args]
    fmt_tok = args[0].strip()
    if not (fmt_tok.startswith("'") and fmt_tok.endswith("'")):
        return f"format_string({', '.join(args)})"
    fmt = _literal_content(fmt_tok)
    out_fmt: list[str] = []
    wrapped: list[str] = []
    pos = 0
    argi = 1
    for m in _PRINTF_DIR_RE.finditer(fmt):
        out_fmt.append(fmt[pos : m.start()])
        pos = m.end()
        flags, width, prec, conv = m.groups()
        head = f"%{flags}{width or ''}{prec or ''}"
        if conv == "%":
            out_fmt.append("%%")
            continue
        if conv in "gGc" or argi > len(args) - 1:
            return f"format_string({', '.join(args)})"
        a = f"({args[argi]})"
        argi += 1
        if conv in "diu":
            out_fmt.append(f"{head}d")
            wrapped.append(f"nvl({_cast_call([f'{a} AS INTEGER'])}, 0)")
        elif conv in "oxX":
            out_fmt.append(f"{head}{conv}")
            wrapped.append(f"nvl({_cast_call([f'{a} AS INTEGER'])}, 0)")
        elif conv in "eEf":
            out_fmt.append(f"{head}{conv}")
            wrapped.append(f"nvl({_cast_call([f'{a} AS REAL'])}, 0.0d)")
        elif conv == "s":
            out_fmt.append(f"{head}s")
            # SQLite renders REAL args with %!.15g here too (r11)
            wrapped.append(f"nvl({_sqlite_text_of(a)}, '')")
        elif conv == "q":
            out_fmt.append(f"{head}s")
            wrapped.append(
                f"(CASE WHEN {a} IS NULL THEN '(NULL)' "
                f"ELSE replace({_sqlite_text_of(a)}, '''', '''''') END)"
            )
        elif conv == "Q":
            out_fmt.append(f"{head}s")
            wrapped.append(
                f"(CASE WHEN {a} IS NULL THEN 'NULL' ELSE '''' || "
                f"replace({_sqlite_text_of(a)}, '''', '''''') || '''' END)"
            )
        elif conv == "w":
            out_fmt.append(f"{head}s")
            wrapped.append(
                f"(CASE WHEN {a} IS NULL THEN '(NULL)' "
                f'ELSE replace({_sqlite_text_of(a)}, \'"\', \'""\') END)'
            )
        else:
            return f"format_string({', '.join(args)})"
    out_fmt.append(fmt[pos:])
    rest = args[argi:]  # extra args beyond directives: both engines ignore
    parts = [_sql_str("".join(out_fmt))] + wrapped + list(rest)
    return f"format_string({', '.join(parts)})"


_CAST_SPLIT_RE = re.compile(
    r"(?is)^(.*\S)\s+AS\s+([A-Za-z]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*$"
)
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _cast_call(args: list[str]) -> str | None:
    """SQLite CAST(X AS INTEGER/REAL) on TEXT parses the longest numeric
    PREFIX ('12abc' → 12, no prefix → 0, out-of-range clamps to the
    int64 bounds); Spark's cast yields NULL for any trailing garbage.
    Emulated for string inputs only (typeof is a static type dispatch);
    every other CAST form — TEXT, BLOB, NUMERIC, CHAR(n), non-string
    inputs — is left exactly as written (None = untouched). SQLite's
    affinity rules name the families: a type containing INT is INTEGER,
    containing REAL/FLOA/DOUB is REAL."""
    if len(args) != 1:
        return None
    m = _CAST_SPLIT_RE.match(args[0])
    if not m:
        return None
    expr, typ = m.group(1), m.group(2).upper()
    if "BLOB" in typ:
        # CAST(X AS BLOB): the TEXT rendering's bytes (SQLite castTo
        # BLOB goes through the text form: CAST(7.5 AS BLOB) = b'7.5');
        # BINARY input is identity (Spark binary↔string round-trips
        # byte-exact). r13b — was an unrewritten Spark parse error.
        inner = _rewrite_calls(expr, "cast", _CALL_REWRITES["cast"])
        return f"CAST(({_sqlite_text_of(inner)}) AS BINARY)"
    if "INT" not in typ and any(t in typ for t in ("CHAR", "CLOB", "TEXT")):
        # TEXT affinity (checked after INT — SQLite's rule order): a
        # provably-REAL input renders as SQLite's %!.15g via the
        # double_to_text session UDF (json1.py) — Spark's CAST AS STRING
        # is Java's 17-digit shortest round-trip. Affinity comes from
        # the division pass's static tracker (literals, function table,
        # engine column catalog). Other inputs: TEXT/CLOB targets are
        # not Spark types at all and must become CAST(… AS STRING);
        # CHAR(n) targets Spark parses natively, so they stay untouched
        # and bare (non-engine) sessions never see the UDF. Unknown-
        # affinity float inputs keep Java rendering — documented
        # divergence (SURVEY §5).
        d = _sum_text_render(expr)  # sum() over TEXT: group dispatch
        if d is not None:           # (pre-expansion: the recognizer
            return d                # needs the CAST(… AS REAL) shape)
        mask = _div_mask(expr)
        t = _div_walk(expr, mask, 0, len(expr), _ACTIVE_COLUMN_TYPES, [])
        inner = _rewrite_calls(expr, "cast", _CALL_REWRITES["cast"])
        if t == "real":
            return f"filesql_double_text(CAST(({inner}) AS DOUBLE))"
        d = _vd_render_text(inner)  # value-dependent: runtime dispatch
        if d is not None:
            return d
        if "CHAR" in typ and "(" in typ:
            return None  # CHAR(n)/VARCHAR(n): Spark parses natively
        # bare CHAR/NCHAR/VARCHAR have no Spark spelling (DATATYPE_
        # MISSING_SIZE) — SQLite treats them as TEXT affinity (r17)
        return f"CAST(({inner}) AS STRING)"
    if "INT" in typ:
        to = "BIGINT"
        rx = r"'^[ \\t\\r\\n]*([+-]?[0-9]+)'"
    elif any(t in typ for t in ("REAL", "FLOA", "DOUB")) or \
            typ.split("(")[0].strip() == "NUMERIC":
        # bare NUMERIC target = SQLite numeric affinity: text prefix-
        # parses exactly like REAL (value-exact; SQLite types integral
        # results INTEGER — static-schema divergence, same class as
        # sum()'s decision note). DECIMAL/BOOLEAN etc. stay untouched:
        # internal emissions rely on Spark-native DECIMAL(p, s) and
        # CAST(NULL AS BOOLEAN) typing (r14).
        to = "DOUBLE"
        rx = (
            r"'^[ \\t\\r\\n]*([+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)"
            r"(?:[eE][+-]?[0-9]+)?)'"
        )
    else:
        return None
    expr = _rewrite_calls(expr, "cast", _CALL_REWRITES["cast"])
    e = f"({expr})"
    if to == "BIGINT":
        # parse the integer prefix wide (DECIMAL 38,0, try_cast: ANSI-safe
        # on '' and >38-digit prefixes), clamp to the int64 bounds like
        # SQLite; numeric inputs clamp by sign on overflow (SQLite
        # saturates where an ANSI cast would raise)
        return (
            f"(CASE WHEN {e} IS NULL THEN CAST(NULL AS BIGINT) "
            f"WHEN typeof({e}) = 'string' THEN "
            f"CAST(least(greatest(nvl(try_cast(regexp_extract({e}, {rx}, 1) "
            f"AS DECIMAL(38, 0)), 0), {_INT64_MIN}), {_INT64_MAX}) AS BIGINT) "
            f"ELSE nvl(try_cast({e} AS BIGINT), "
            f"CASE WHEN {e} > 0 THEN {_INT64_MAX} ELSE {_INT64_MIN} END) END)"
        )
    return (
        f"(CASE WHEN {e} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN typeof({e}) = 'string' THEN "
        f"nvl(try_cast(regexp_extract({e}, {rx}, 1) AS DOUBLE), 0.0d) "
        f"ELSE CAST({e} AS DOUBLE) END)"
    )


_INT_LIT_RE = re.compile(r"^\s*[-+]?\d+\s*$")


def _int_lit(text: str) -> int | None:
    return int(text) if _INT_LIT_RE.match(text) else None


def _substr_call(args: list[str]) -> str:
    """SQLite substr(S, Y[, Z]) — exact func.c semantics: Y=0 starts at 1
    but yields one fewer char, negative Y counts from the end (under-run
    shortens Z), negative Z takes abs(Z) chars BEFORE position Y. Spark's
    substring diverges on all three (found by tests/test_fuzz_dialect.py).

    Literal Y/Z — the overwhelmingly common case — partially evaluates
    HERE, in Python: the staged sign-normalization collapses to a plain
    substring (plus at most 3 length() references when Y counts from the
    end), so nesting can't blow up the expression text. Non-literal Y/Z
    take the general staged form, whose nested CASEs grow ~20x per call
    — acceptable once, pathological when nested, hence the literal path.
    """
    if len(args) not in (2, 3):
        raise FilesqlError(f"substr expects 2-3 args, got {len(args)}")
    for name in ("substr", "substring"):
        args = [_rewrite_calls(a, name, _CALL_REWRITES[name]) for a in args]
    S = args[0]
    yl = _int_lit(args[1])
    zl = _int_lit(args[2]) if len(args) == 3 else None
    if yl is not None and (len(args) == 2 or zl is not None):
        if yl >= 1:
            if len(args) == 2:
                return f"substring({S}, {yl})"
            if zl >= 0:
                return f"substring({S}, {yl}, {zl})"
            # negative Z: abs(Z) chars BEFORE position Y — fully static
            start0, p2 = yl - 1 + zl, -zl
            if start0 < 0:
                p2, start0 = max(p2 + start0, 0), 0
            return f"substring({S}, {start0 + 1}, {p2})"
        if yl == 0:
            if len(args) == 2:
                return f"substring({S}, 1)"
            if zl > 0:
                return f"substring({S}, 1, {zl - 1})"
            return f"substring({S}, 1, 0)"  # Z <= 0 from position 0 → ''
        # yl < 0: start counts from the end — needs length() at runtime
        L = f"length({S})"
        A = f"({L} + {yl})"  # 0-based start before clamping
        if len(args) == 2:
            return f"substring({S}, greatest({A}, 0) + 1)"
        if zl >= 0:
            # an under-run start (A < 0) shortens the length
            return (
                f"substring({S}, greatest({A}, 0) + 1, "
                f"greatest({zl} + least({A}, 0), 0))"
            )
        # yl < 0 and zl < 0: greatest(A,0) + (Z + least(A,0)) = A + Z
        return (
            f"substring({S}, greatest({A} + {zl}, 0) + 1, "
            f"greatest(-({zl} + least({A}, 0)) + least({A} + {zl}, 0), 0))"
        )
    # general (non-literal) path: staged sign normalization as CASEs
    y = f"({args[1]})"
    L = f"length({S})"
    z = f"({args[2]})" if len(args) == 3 else f"(2 * {L} + 2)"
    p1a = f"(CASE WHEN {y} < 0 THEN {y} + {L} WHEN {y} > 0 THEN {y} - 1 ELSE 0 END)"
    p2a = (
        f"(CASE WHEN {y} = 0 AND {z} > 0 THEN {z} - 1 "
        f"WHEN {y} < 0 AND {y} + {L} < 0 THEN {z} + {y} + {L} ELSE {z} END)"
    )
    p1b = f"greatest({p1a}, 0)"
    p1c = f"(CASE WHEN {p2a} < 0 THEN {p1b} + {p2a} ELSE {p1b} END)"
    p2b = f"abs({p2a})"
    p1d = f"greatest({p1c}, 0)"
    p2c = f"(CASE WHEN {p1c} < 0 THEN {p2b} + {p1c} ELSE {p2b} END)"
    return f"substring({S}, {p1d} + 1, greatest({p2c}, 0))"


def _round_call(args: list[str]) -> str:
    """SQLite round(X, Y): ALWAYS returns REAL (Spark's round preserves
    the input type, so integer inputs go through DOUBLE); negative Y is
    taken as 0 (never rounds into the integer part the way Spark's
    negative scale does); NULL Y stays NULL."""
    args = [_rewrite_calls(a, "round", _CALL_REWRITES["round"]) for a in args]
    if len(args) == 1:
        return f"round(CAST(({args[0]}) AS DOUBLE))"
    if len(args) != 2:
        raise FilesqlError(f"round expects 1-2 args, got {len(args)}")
    x, y = args
    return (
        f"(CASE WHEN ({y}) IS NULL THEN NULL "
        f"ELSE round(CAST(({x}) AS DOUBLE), greatest({y}, 0)) END)"
    )


def _trim_family(spark_kind: str, name: str):
    """SQLite's 2-arg trim(X, Y)/ltrim/rtrim strip Y's characters; Spark
    spells that trim(BOTH|LEADING|TRAILING Y FROM X)."""

    def build(args: list[str]) -> str:
        args = [_rewrite_calls(a, name, _CALL_REWRITES[name]) for a in args]
        if len(args) == 1:
            return f"{name}({args[0]})"
        if len(args) != 2:
            raise FilesqlError(f"{name} expects 1-2 args, got {len(args)}")
        return f"trim({spark_kind} {args[1]} FROM {args[0]})"

    return build


def _concat_call(args: list[str]) -> str:
    """SQLite 3.44 concat(): NULL args are ignored (skipped), non-text
    args render as text — REAL args with %!.15g like `||` (r12; was
    Java's 17-digit rendering); concat() of all NULLs is ''. Spark's
    concat returns NULL if any argument is NULL."""
    if not args or not args[0].strip():
        raise FilesqlError("concat() expects at least one argument")
    args = [_rewrite_calls(a, "concat", _CALL_REWRITES["concat"]) for a in args]
    parts = []
    for a in args:
        mask = _div_mask(a)
        t = _div_walk(a, mask, 0, len(a), _ACTIVE_COLUMN_TYPES, [])
        if t == "real":
            a = f"filesql_double_text(TRY_CAST(({a}) AS DOUBLE))"
        elif t is None:
            d = _vd_render_text(a)  # value-dependent: runtime dispatch
            if d is not None:
                a = d
        parts.append(f"nvl(CAST(({a}) AS STRING), '')")
    return f"concat({', '.join(parts)})"


def _hex_call(args: list[str]) -> str:
    x = _rewrite_calls(args[0], "hex", _CALL_REWRITES["hex"])
    return (
        f"(CASE WHEN ({x}) IS NULL THEN '' "
        f"WHEN typeof({x}) = 'binary' THEN hex({x}) "
        f"ELSE hex(CAST(({x}) AS STRING)) END)"
    )


def _ascii_fold(which: str, args: list[str]) -> str:
    """upper/lower → ASCII-only translate. The sweep in _rewrite_calls
    resumes AFTER each replacement, so same-function nesting
    (upper(upper(x))) would leave the inner call unrewritten — recurse
    into the argument text for both folds before wrapping."""
    a = args[0]
    a = _rewrite_calls(a, "upper", _CALL_REWRITES["upper"])
    a = _rewrite_calls(a, "lower", _CALL_REWRITES["lower"])
    lo, up = "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    frm, to = (lo, up) if which == "upper" else (up, lo)
    return f"translate({a}, '{frm}', '{to}')"


_LIKE_RE = re.compile(r"\blike\b", re.IGNORECASE)


def _rewrite_like(sql: str) -> str:
    """``a LIKE b`` → ``a ILIKE b`` (outside string literals and quoted
    identifiers).

    SQLite's LIKE is case-insensitive by default (reference exercises it at
    filesql_test.go:130-141 on mixed-case data); Spark's LIKE is
    case-sensitive, so the same query text would return different rows.
    Spark's ILIKE accepts the same wildcards and an ESCAPE clause, so the
    clause passes through unchanged. Divergence note: SQLite's
    case-folding is ASCII-only while ILIKE folds full Unicode — pinned in
    tests/test_dialect.py. ``ILIKE`` in the input is left untouched (the
    \\b boundary cannot match inside it).

    Backslashes: SQLite LIKE has NO escape character unless ESCAPE is
    given (a ``\\`` in the pattern is a literal backslash); Spark's
    matcher always treats ``\\`` as an escape (a trailing one even
    errors). For the common literal-pattern case — a string literal
    directly after LIKE, no ESCAPE clause — double the backslashes in
    the pattern VALUE so the matcher sees them as literals (found by
    tests/test_fuzz_dialect.py). Computed patterns keep Spark's escape
    semantics — documented divergence.
    """
    toks = _split_tokens(sql)
    out = []
    pending_pattern = False  # previous code chunk ended with (I)LIKE
    for idx, (kind, text) in enumerate(toks):
        if kind == "code":
            pending_pattern = bool(
                re.search(r"(?i)\bi?like\s*$", text)
            )
            out.append(_LIKE_RE.sub("ILIKE", text))
            continue
        if kind == "string" and pending_pattern:
            nxt = toks[idx + 1][1] if idx + 1 < len(toks) else ""
            if not re.match(r"(?i)\s*escape\b", nxt):
                text = text.replace("\\", "\\\\")
        pending_pattern = False
        out.append(text)
    return "".join(out)


def _glob_regex(pat: str) -> str:
    """GLOB pattern → anchored Java regex: ``*`` → ``.*``, ``?`` → ``.``,
    ``[class]``/``[^class]`` re-escaped member-by-member (SQLite classes
    have no escape character, so ``\\``, a leading literal ``]``, and
    ``&`` — Java class intersection — must be escaped for Java; ``-``
    ranges share semantics and pass through), everything else escaped."""
    out, i, n = [], 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            neg = j < n and pat[j] == "^"
            if neg:
                j += 1
            body_start = j
            if j < n and pat[j] == "]":
                j += 1  # leading ] is a literal class member in SQLite
            while j < n and pat[j] != "]":
                j += 1
            if j >= n:
                out.append(re.escape(c))  # unterminated: a literal '['
            else:
                body = "".join(
                    "\\" + ch if ch in "\\]&[" else ch
                    for ch in pat[body_start:j]
                )
                cls = "[" + ("^" if neg else "") + body + "]"
                try:
                    # degenerate ranges ([b-a], [a-*]) are rejected by
                    # both Python and Java regex; SQLite's matcher has
                    # its own quirks for them — refuse at translate time
                    # instead of failing inside RLIKE at runtime.
                    # (Python 3.12 warns about future set-difference
                    # syntax like [a--b]; only the hard error matters
                    # for this validity probe.)
                    import warnings

                    with warnings.catch_warnings():
                        warnings.simplefilter("ignore", FutureWarning)
                        re.compile(cls)
                except re.error as e:
                    raise FilesqlError(
                        f"unsupported GLOB class {pat[i : j + 1]!r}: {e}"
                    ) from None
                out.append(cls)
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def _rewrite_glob(sql: str) -> str:
    """``a GLOB 'pat'`` → ``a RLIKE '^regex$'`` (GLOB is SQLite's
    case-sensitive ``*``/``?``/``[class]`` matcher; RLIKE keeps the case
    sensitivity). Only literal patterns are rewritable — a non-literal
    right-hand side raises instead of silently mis-matching."""
    toks = _split_tokens(sql)
    out: list[str] = []
    for idx, (kind, text) in enumerate(toks):
        if (
            kind == "string"
            and out
            and toks[idx - 1][0] == "code"
        ):
            m = re.search(r"\bglob(\s*)$", toks[idx - 1][1], re.IGNORECASE)
            if m:
                out[-1] = toks[idx - 1][1][: m.start()] + "RLIKE" + (m.group(1) or " ")
                out.append(_regex_literal(_glob_regex(_literal_content(text))))
                continue
        if kind == "code":
            for m in re.finditer(r"\bglob\b", text, re.IGNORECASE):
                rest = text[m.end() :]
                if rest.lstrip().startswith("("):
                    continue  # function form glob(p, s): _CALL_REWRITES
                nxt = toks[idx + 1] if idx + 1 < len(toks) else None
                if rest.strip() == "" and nxt and nxt[0] == "string":
                    continue  # operator form with literal: rewritten above
                raise FilesqlError(
                    "GLOB requires a string-literal pattern (non-literal "
                    "patterns are not supported)"
                )
        out.append(text)
    return "".join(out)


# --------------------------------------------------------------- division
# SQLite `/` truncates toward zero when BOTH operands carry INTEGER
# affinity, and every `/` and `%` yields NULL on a zero divisor
# (https://sqlite.org/lang_expr.html; the reference inherits this by
# delegating to SQLite, builder.go:353-361).  Spark `/` is always
# fractional and, under ANSI mode (the Spark 4 default), raises on zero
# divisors.  This pass closes both gaps with a type-tracked rewrite over
# the token stream (no full parser): `a / b` becomes `a DIV nullif(b, 0)`
# when both operand types statically resolve to INTEGER, and any division
# or modulo with a known-numeric divisor gets the `nullif(d, 0)` guard.
# Operands whose affinity cannot be established statically (TEXT columns,
# mixed-type COALESCE, scalar subqueries) are left untouched — the
# conservative direction: behavior is unchanged rather than wrongly
# truncated.  Remaining documented divergence: INT64_MIN / -1 (SQLite
# widens to REAL, Spark ANSI overflows).

_DIV_KEYWORDS = frozenset("""
    select from where group by order having limit offset join on using
    inner outer left right full cross natural and or not in is between
    like glob regexp match escape as union all distinct intersect except
    values insert into update set delete returning with recursive exists
    over partition rows range groups preceding following unbounded
    current row filter window asc desc nulls first last collate when
    then else end isnull notnull div
""".split())

# SQLite result affinities for the function surface the shim supports.
_DIV_INT_FUNCS = frozenset({
    "length", "octet_length", "char_length", "character_length", "instr",
    "unicode", "count", "row_number", "rank", "dense_rank", "ntile",
    "changes", "total_changes", "random", "sign", "json_array_length",
    "json_valid", "strftime_int",
})
_DIV_REAL_FUNCS = frozenset({
    "round", "avg", "total", "julianday", "exp", "ln", "log", "log2",
    "log10", "sqrt", "pow", "power", "acos", "asin", "atan", "atan2",
    "cos", "sin", "tan", "cosh", "sinh", "tanh", "degrees", "radians",
    "pi", "mod", "asinh", "acosh", "atanh",
    # nanvl: the r17 NaN→NULL emission around the math family
    "nanvl",
})
_DIV_PASSTHRU_FUNCS = frozenset({
    "abs", "sum", "nullif", "likely", "unlikely",
    # likelihood(X, p) returns X unchanged (the hint rewrite keeps only
    # X); ceil/floor/trunc preserve the input's int/real affinity
    # (func.c ceilingFunc — pinned vs stdlib sqlite3, r13b)
    "likelihood", "ceil", "ceiling", "floor", "trunc",
})
# least/greatest/nvl: the Spark spellings earlier rewrite passes emit for
# min/max/ifnull — this tracker also types already-rewritten text (e.g.
# inside _cast_call, which runs after the min/max pass)
_DIV_SAMETYPE_FUNCS = frozenset({
    "ifnull", "coalesce", "min", "max", "iif", "least", "greatest", "nvl",
})
# TEXT-returning scalar functions (func.c): their results in arithmetic
# take SQLite's numeric-prefix coercion, and the value-dependent pass
# needs the static 'text' type to fire on `upper(s) * 2` (r16). The
# Spark spellings earlier passes emit (translate for upper/lower,
# concat for ||) are included — this tracker also types rewritten text.
_DIV_TEXT_FUNCS = frozenset({
    "upper", "lower", "trim", "ltrim", "rtrim", "replace", "hex",
    "quote", "char", "translate", "substr", "substring", "typeof",
    "printf", "format", "concat", "concat_ws", "group_concat",
    "string_agg",
})

# the optional [dDfF] suffix: this tracker also types expressions the
# real-literal pass has already rewritten (1.5 → 1.5D), e.g. inside
# _cast_call, which runs after it
_NUM_LIT_RX = re.compile(
    r"0[xX][0-9a-fA-F]+|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[dDfF]?"
)
_WORD_RX = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _div_combine(a: str | None, b: str | None) -> str | None:
    """Affinity of an arithmetic combination (int iff both int; a
    literal-NULL operand is neutral — the result is NULL either way).
    A 'text' operand is runtime-typed under SQLite's numeric coercion
    (int or real per VALUE), so the combination is undecidable."""
    if a is None or b is None or a == "text" or b == "text":
        return None
    if a == "null":
        return b
    if b == "null":
        return a
    if a == "int" and b == "int":
        return "int"
    return "real"


def _div_lit_type(text: str) -> str | None:
    """Affinity of a numeric literal token."""
    if text[:2].lower() == "0x":
        return "int"
    if text[-1] in "dDfF":  # Spark double/float suffix (real-literal pass)
        return "real"
    if "." in text or "e" in text.lower():
        return "real"
    # SQLite silently widens out-of-range integer literals to REAL
    return "int" if abs(int(text)) <= 0x7FFFFFFFFFFFFFFF else "real"


def _div_str_lit_type(content: str) -> str | None:
    """Affinity SQLite's numeric coercion gives a string literal used in
    arithmetic: the longest numeric prefix decides int vs real; a literal
    with no clean numeric form stays unknown (Spark's cast semantics for
    junk text differ, so we never rewrite those)."""
    s = content.strip()
    m = re.fullmatch(r"[+-]?\d+", s)
    if m:
        return _div_lit_type(s.lstrip("+-"))
    if re.fullmatch(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?", s):
        return "real"
    # no clean numeric form: known-TEXT (r13b) — numeric consumers treat
    # 'text' exactly like unknown (never rewritten into arithmetic), and
    # the mixed-affinity coalesce projection needs the positive signal
    return "text"


def _div_mask(sql: str) -> str:
    """Same-length scan mask: code chars verbatim, string and quoted-
    identifier chars replaced by NUL so operators and parens inside them
    are invisible, comments by spaces."""
    return _TOKEN_RX.sub(_mask_token, sql)


def _mask_token(m: re.Match) -> str:
    return (" " if m.lastgroup == "comment" else "\x00") * (m.end() - m.start())


def _div_find_close(mask: str, open_pos: int, end: int) -> int:
    """Index of the ')' matching the '(' at open_pos, or -1."""
    depth = 0
    for i in range(open_pos, end):
        c = mask[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _div_split_args(mask: str, start: int, end: int) -> list[tuple[int, int]]:
    """Top-level comma-split of a call's argument span → (start, end) pairs."""
    spans = []
    depth = 0
    a = start
    for i in range(start, end):
        c = mask[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((a, i))
            a = i + 1
    spans.append((a, end))
    return spans


def _find_depth0(mask: str, rx: re.Pattern, start: int = 0) -> re.Match | None:
    """First match of ``rx`` in ``mask`` at paren depth 0, counting from
    ``start`` — the clause-keyword finder (WHERE, RETURNING, UNION …)."""
    depth, last = 0, start
    for m in rx.finditer(mask, start):
        depth += mask.count("(", last, m.start()) - mask.count(")", last, m.start())
        last = m.start()
        if depth == 0:
            return m
    return None


def _case_marks(sql, mask, pos, end):
    """Top-level WHEN/THEN/ELSE/END keyword positions of the `CASE`
    starting at pos (the C of CASE), paren- and nesting-aware. Returns
    the marks list (last entry is the closing ("end")) or None when the
    CASE is unterminated within [pos, end)."""
    low = sql.lower()
    i = pos + 4
    depth_case = 1
    marks: list[tuple[int, str]] = []
    while i < end:
        c = mask[i]
        if c == "(":
            i = _div_find_close(mask, i, end)
            if i == -1:
                return None
            i += 1
            continue
        if c.isalpha() or c == "_":
            m = _WORD_RX.match(mask, i)
            if m is None:  # non-ASCII letter
                i += 1
                continue
            w = low[m.start():m.end()]
            if w == "case":
                depth_case += 1
            elif w == "end":
                depth_case -= 1
                if depth_case == 0:
                    marks.append((i, "end"))
                    break
            elif depth_case == 1 and w in ("when", "then", "else"):
                marks.append((i, w))
            i = m.end()
            continue
        i += 1
    if depth_case != 0:
        return None
    return marks


def _div_scan_case(sql, mask, pos, end, coltypes, edits):
    """Scan `CASE … END` starting at pos (the C of CASE). Walks every
    sub-span for nested division edits; returns (end_after_END, type)."""
    marks = _case_marks(sql, mask, pos, end)
    if marks is None:
        return end, None
    # sub-spans between marks: operand (CASE..first mark), conditions
    # (WHEN..THEN), branches (THEN../ELSE.. to next mark)
    branch_types: list[str | None] = []
    prev_pos, prev_kw = pos + 4, "case"
    saw_else = False
    for mpos, kw in marks:
        t = _div_walk(sql, mask, prev_pos, mpos, coltypes, edits)
        if prev_kw in ("then", "else"):
            branch_types.append(t)
        if kw == "else":
            saw_else = True
        prev_pos, prev_kw = mpos + len(kw), kw
    # literal-NULL branches are neutral (incl. the implicit ELSE NULL);
    # mixed int/real branches are value-dependent in SQLite → unknown
    branch_types = [b for b in branch_types if b != "null"]
    if not branch_types:
        t = "null"
    elif all(b == branch_types[0] for b in branch_types):
        t = branch_types[0]
    else:
        t = None
    return marks[-1][0] + 3, t


_CASE_WORD_RX = re.compile(r"(?i)\bcase\b")
# tokens whose depth-0 presence makes a WHEN condition already boolean
_BOOL_CTX_WORDS = frozenset({
    "is", "in", "like", "glob", "regexp", "match", "exists",
    "isnull", "notnull", "true", "false",
    # Spark spellings users may hand-write; both are boolean-valued
    "ilike", "rlike",
})


def _cond_truthy_edits(sql, mask, low, a, b, edits) -> None:
    """Wrap a searched-CASE WHEN condition in SQLite truthiness
    (numeric coercion, non-zero, NULL → false) unless it is already a
    boolean expression. Recurses through depth-0 AND/OR (each operand
    is its own truthiness context, BETWEEN's AND excluded), strips
    redundant parens and leading NOT, and skips nested CASE bodies
    (the main sweep visits every CASE site). Coerces via the SQLite
    CAST-AS-REAL prefix parse (junk text → 0 → false, '12abc' → 12 →
    true, NULL stays NULL)."""
    while a < b and mask[a] in " \t\r\n":
        a += 1
    while b > a and mask[b - 1] in " \t\r\n":
        b -= 1
    if a >= b:
        return
    if mask[a] == "(" and _div_find_close(mask, a, b) == b - 1:
        return _cond_truthy_edits(sql, mask, low, a + 1, b - 1, edits)
    m = _WORD_RX.match(mask, a)
    if m and low[a:m.end()] == "not":
        return _cond_truthy_edits(sql, mask, low, m.end(), b, edits)
    if m and low[a:m.end()] in ("likely", "unlikely", "likelihood"):
        # planner hints are identity: the truthiness context is the
        # FIRST argument (the whole call must span the condition)
        k = _skip_ws(mask, m.end())
        if k < b and mask[k] == "(" and _div_find_close(mask, k, b) == b - 1:
            spans = _div_split_args(mask, k + 1, b - 1)
            if spans:
                return _cond_truthy_edits(
                    sql, mask, low, spans[0][0], spans[0][1], edits
                )
    i, between, has_cmp = a, 0, False
    splits: list[tuple[int, int]] = []
    while i < b:
        c = mask[i]
        if c == "(":
            close = _div_find_close(mask, i, b)
            if close == -1:
                return  # unbalanced: bail on the whole condition
            i = close + 1
            continue
        if c in "<>" and mask[i + 1:i + 2] == c:
            i += 2  # << / >> is a SHIFT — not a boolean context (r15)
            continue
        if c in "=<>!":
            has_cmp = True
            i += 1
            continue
        m = _WORD_RX.match(mask, i)
        if m:
            w = low[i:m.end()]
            if w == "case":
                marks = _case_marks(sql, mask, i, b)
                if marks is None:
                    return
                i = marks[-1][0] + 3
                continue
            if w == "between":
                between += 1
                has_cmp = True
            elif w == "and":
                if between:
                    between -= 1
                else:
                    splits.append((i, m.end()))
            elif w == "or":
                splits.append((i, m.end()))
            elif w in _BOOL_CTX_WORDS:
                has_cmp = True
            i = m.end()
            continue
        i += 1
    if splits:
        prev = a
        for s0, s1 in splits:
            _cond_truthy_edits(sql, mask, low, prev, s0, edits)
            prev = s1
        _cond_truthy_edits(sql, mask, low, prev, b, edits)
        return
    if has_cmp:
        return
    # SQLite-spelled CAST AS REAL: the cast pass (later in the sweep)
    # expands it to the prefix parse, so junk text coerces to 0 (false —
    # SQLite keeps 'abc' rows under NOT) and '12abc' stays truthy, while
    # a true SQL NULL stays NULL so NOT/AND/OR keep three-valued logic
    # (NOT NULL is NULL → the WHEN simply doesn't match). The earlier
    # TRY_CAST form mapped junk text to NULL, silently dropping
    # WHERE NOT s rows that SQLite keeps (r13 advice, medium).
    # A trailing COLLATE is inert under numeric coercion (it never
    # changes the value, only text comparison order) and breaks the
    # prefix-parse's typeof()='string' guard (typeof of a collated
    # Spark string is not 'string') — trim it from the operand (r16).
    # A match implies depth 0: a paren-nested COLLATE is followed by
    # its closing ')' before b.
    trail = b
    while True:
        tm = re.search(r"(?i)\bcollate\s+[A-Za-z_][A-Za-z0-9_]*\s*$",
                       mask[a:b])
        if not tm:
            break
        b = a + tm.start()
        while b > a and mask[b - 1] in " \t\r\n":
            b -= 1
    if a >= b:
        return
    if trail > b:
        edits.append((b, trail, ""))  # delete the inert clause
    edits.append((a, a, "(CAST(("))
    edits.append((b, b, ") AS REAL) <> 0)"))


def _rewrite_case_truthiness(sql: str) -> str:
    """SQLite evaluates searched-CASE WHEN conditions under truthiness
    (`CASE WHEN flag THEN …` — expr.c sqlite3ExprIfTrue numeric
    coercion); Spark demands BOOLEAN and rejects the plan. Runs before
    every emission-producing pass, so only user-written CASE text is
    touched; simple CASE (`CASE x WHEN v`) compares values and is left
    alone. Wraps are pure insertions, so nested CASE conditions compose
    (positions never collide)."""
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    for m in _CASE_WORD_RX.finditer(mask):
        pos = m.start()
        marks = _case_marks(sql, mask, pos, len(sql))
        if not marks:
            continue
        first_pos, first_kw = marks[0]
        if first_kw != "when" or sql[pos + 4:first_pos].strip():
            continue  # simple CASE (or malformed): conditions are values
        prev_pos, prev_kw = pos + 4, "case"
        for mpos, kw in marks:
            if prev_kw == "when" and kw == "then":
                _cond_truthy_edits(sql, mask, low, prev_pos, mpos, edits)
            prev_pos, prev_kw = mpos + len(kw), kw
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]), reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


_NOT_WORD_RX = re.compile(r"(?i)\bnot\b")
_NOT_SKIP_NEXT = frozenset({
    "in", "like", "glob", "regexp", "match", "between", "null",
    "exists", "indexed", "deferrable",
})
_NOT_STOP_WORDS = frozenset({
    "as", "from", "where", "group", "order", "limit", "having", "then",
    "else", "end", "when", "and", "or", "union", "intersect", "except",
    "offset", "on", "join", "inner", "left", "right", "full", "cross",
    "natural", "using", "window", "returning", "set", "values",
    # ORDER BY modifiers + COLLATE bind outside the NOT operand:
    # `ORDER BY NOT s DESC` is `(NOT s) DESC`, not NOT (s DESC)
    "asc", "desc", "nulls", "collate",
})


def _not_operand_end(sql, mask, low, j) -> int:
    depth = 0
    i = j
    while i < len(sql):
        c = mask[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0:
            if c in ",;":
                break
            w = _WORD_RX.match(mask, i)
            if w:
                word = low[i:w.end()]
                if word == "case":
                    marks = _case_marks(sql, mask, i, len(sql))
                    if marks is None:
                        return j
                    i = marks[-1][0] + 3
                    continue
                if word in _NOT_STOP_WORDS:
                    break
                i = w.end()
                continue
        i += 1
    return i


_UNARY_CTX_WORDS = frozenset({
    "select", "when", "then", "else", "and", "or", "not", "where",
    "by", "having", "on", "set", "returning", "limit", "offset", "in",
    "case", "between", "escape", "like", "glob", "union", "all",
    "intersect", "except", "values", "distinct",
})


def _is_unary_sign(sql, mask, low, k) -> bool:
    """True when the +/- at ``k`` is UNARY: nothing but an operator,
    an opener, or an expression-starting keyword precedes it."""
    k2 = k - 1
    while k2 >= 0 and mask[k2] in " \t\r\n":
        k2 -= 1
    if k2 < 0 or mask[k2] in "(,;=<>!~+-*/%&|":
        return True
    if mask[k2].isalnum() or mask[k2] == "_":
        ws = k2
        while ws >= 0 and (mask[ws].isalnum() or mask[ws] == "_"):
            ws -= 1
        return low[ws + 1:k2 + 1] in _UNARY_CTX_WORDS
    return False


def _strip_unary_plus(sql: str) -> str:
    """SQLite's unary ``+`` is a VALUE no-op (expr.c: `+'2e1' | 0` is
    2 — the STRING survives into the bitwise int-prefix parse) while
    Spark's unary ``+`` numerically COERCES its operand (`+'2e1'` is
    20.0, `+s` crashes on junk text). BUT `+column` also strips the
    column's AFFINITY in comparisons (datatype3 §4.2: `+s >= 6`
    storage-compares), which the comparison passes model explicitly —
    so the + is deleted ONLY when its operand is glued to an
    arithmetic/bitwise/concat operator, where affinity is already
    gone and only the value no-op matters (r16 campaign find). The
    exponent sign inside a numeric literal (1e+5) is untouched — its
    predecessor is a word char."""
    if "+" not in sql:
        return sql
    mask = _div_mask(sql)
    low = sql.lower()
    edits = []
    i = 0
    while i < len(mask):
        if mask[i] != "+" or not _is_unary_sign(sql, mask, low, i):
            i += 1
            continue
        k = i - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        prev_arith = k >= 0 and (
            mask[k] in "+-*/%&~"
            or mask[k] == "|"
            or (mask[k] in "<>" and k >= 1 and mask[k - 1] == mask[k])
        )
        f0, e0, t0 = _div_scan_primary(sql, mask, i + 1, len(sql),
                                       None, [])
        if t0 == "kw" or e0 <= i + 1:
            i += 1
            continue
        j = e0
        while j < len(mask) and mask[j] in " \t\r\n":
            j += 1
        nxt_arith = j < len(mask) and (
            mask[j:j + 2] in ("<<", ">>", "||")
            or mask[j] in "+-*/%&"
            or (mask[j] == "|" and mask[j + 1:j + 2] != "|")
        )
        # string literals and function calls carry NO affinity for +
        # to strip (datatype3 §4.2 lists only columns and CASTs), so
        # + before them is identity in every context — strip it
        # (r16 c3: `'2e1' IN (+'2e1', …)` must string-match verbatim;
        # Spark's + would coerce the string). Columns and paren groups
        # keep their + outside arithmetic (it strips their affinity in
        # comparisons); numeric literals keep it too (`ORDER BY +5` is
        # an expression while a stripped `ORDER BY 5` is positional,
        # and Spark evaluates +5 natively anyway). CAST/TRY_CAST are
        # calls that DO carry affinity — keep their +.
        c0 = sql[f0] if f0 < len(sql) else ""
        no_affinity = c0 == "'"
        if not no_affinity and (c0.isalpha() or c0 == "_"):
            wm0 = _WORD_RX.match(mask, f0)
            if wm0:
                j0 = _skip_ws(mask, wm0.end())
                no_affinity = (
                    j0 < len(mask) and mask[j0] == "("
                    and low[wm0.start():wm0.end()] not in
                    ("cast", "try_cast", "exists")
                )
        if prev_arith or nxt_arith or no_affinity:
            edits.append((i, i + 1, ""))
        i += 1
    if not edits:
        return sql
    for a, b, repl in reversed(edits):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _rewrite_numlit_arith(sql: str) -> str:
    """Clean-numeric STRING literals glued to arithmetic/bitwise
    operators unquote to their numeric form (r16): SQLite coerces
    `'1e2' - 1` to 100.0 - 1 = 99.0 via numeric affinity, while Spark
    strict-casts the string to the operator's type and crashes on
    '1e2' (not a BIGINT literal). Only literals whose FULL content is
    a clean int/real (per _div_str_lit_type) and whose int value fits
    int64 are unquoted; junk text stays quoted (different coercion
    class), and ||-adjacent literals stay quoted (concat is a string
    context). Comparison adjacency is untouched — quoting matters
    there (`s = '7'` is a TEXT compare)."""
    if "'" not in sql:
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    i = 0
    while i < len(mask):
        if mask[i] != "\x00" or sql[i] != "'":
            i += 1
            continue
        run = i
        while run < len(mask) and mask[run] == "\x00":
            run += 1
        text = sql[i:run]
        i, a, b = run, i, run
        if not text.startswith("'") or not text.endswith("'"):
            continue
        content = _literal_content(text)
        t = _div_str_lit_type(content)
        if t not in ("int", "real"):
            continue
        s = content.strip()
        if t == "int" and not (_INT64_MIN <= int(s) <= _INT64_MAX):
            continue  # SQLite would fall back to REAL; stay native
        # adjacency classes (pinned vs sqlite3, r16): + - * / REAL-
        # coerce the string ('2e1' -> 20.0) so unquoting is exact;
        # % & | << >> ~ INTEGER-PREFIX-parse it ('2e1' -> 2, NOT 20)
        # — those sides must stay quoted (the %-CAST and bitwise
        # passes expand the exact prefix parse); || keeps the string
        # VERBATIM ('2e1' || x is '2e1x') and binds tighter than
        # every binary operator, so a ||-adjacent literal belongs to
        # the concat and must stay quoted. EXCEPTION: a directly
        # attached unary - binds tighter than everything and REAL-
        # coerces the string (-'2e1' is -20.0, -'2e1' & 3 is -20 & 3
        # — pinned), so a signed literal unquotes unconditionally.
        k = a - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        low0 = sql.lower()
        # parenthesize signed contents: a bare unquote of '-3' after a
        # unary minus would splice `--3` — a line comment (r16 c3 find)
        s_out = f"({s})" if s[:1] in "+-" else s
        if k >= 0 and mask[k] == "-" and _is_unary_sign(sql, mask,
                                                        low0, k):
            # always parenthesized: `ORDER BY -'0'` must stay the
            # constant -(0), never the positional ORDER BY -0 (r16 c3)
            edits.append((a, b, f"({s})"))
            continue
        prev_real = k >= 0 and mask[k] in "+-*/"
        prev_int = k >= 0 and (
            mask[k] in "%&~"
            or (mask[k] == "|" and (k == 0 or mask[k - 1] != "|"))
            or (mask[k] in "<>" and k >= 1 and mask[k - 1] == mask[k])
        )
        prev_concat = k >= 1 and mask[k] == "|" and mask[k - 1] == "|"
        j = b
        while j < len(mask) and mask[j] in " \t\r\n":
            j += 1
        nxt_real = j < len(mask) and mask[j] in "+-*/" and \
            mask[j:j + 2] != "||"
        nxt_int = j < len(mask) and (
            mask[j:j + 2] in ("<<", ">>")
            or mask[j] in "%&"
            or (mask[j] == "|" and mask[j + 1:j + 2] != "|")
        )
        nxt_concat = j + 1 < len(mask) and mask[j:j + 2] == "||"
        # the int-op veto only matters for REAL-typed content: an
        # int-typed literal's INTEGER prefix parse IS its full value
        # ('+5' & x agrees quoted or not — r16 c3), so it can unquote
        # into bitwise/% chains, where Spark would type-crash on the
        # string
        if t == "int" and (prev_int or nxt_int) and not (
            prev_concat or nxt_concat
        ):
            edits.append((a, b, f"({s})" if s[:1] in "+-" else s))
            continue
        if (prev_real or nxt_real) and not (
            prev_int or nxt_int or prev_concat or nxt_concat
        ):
            edits.append((a, b, s_out))
    if not edits:
        return sql
    for a, b, repl in reversed(edits):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _concat_run_left(sql, mask, i):
    """Start of the maximal ``||`` run whose operator sits at ``i``
    (run = primaries joined by ||, each with optional unary ~/+/-
    prefixes, which bind tighter than || in SQLite). None when a left
    operand is unscannable."""
    low = sql.lower()
    a = i
    while True:
        e0 = a
        while e0 > 0 and mask[e0 - 1] in " \t\r\n":
            e0 -= 1
        st = _rev_primary_start(sql, mask, e0)
        if st is None and e0 >= 3 and low[e0 - 3:e0] == "end" and (
            e0 - 4 < 0 or not (mask[e0 - 4].isalnum()
                               or mask[e0 - 4] == "_")
        ):
            # unparenthesized CASE … END operand: word-level depth scan
            depth = 0
            for wm in reversed(list(_WORD_RX.finditer(mask, 0, e0))):
                w = low[wm.start():wm.end()]
                if w == "end":
                    depth += 1
                elif w == "case":
                    depth -= 1
                    if depth == 0:
                        st = wm.start()
                        break
        if st is None:
            return None
        # absorb directly-preceding unary operators (tighter than ||)
        while True:
            k = st - 1
            while k >= 0 and mask[k] in " \t\r\n":
                k -= 1
            if k >= 0 and mask[k] == "~":
                st = k
                continue
            if k >= 0 and mask[k] in "+-" and _is_unary_sign(
                sql, mask, low, k
            ):
                st = k  # unary sign (keyword-preceded included — r16
                # c3: `WHERE -n || ''` groups (-n) || '', never
                # -(n || ''))
                continue
            break
        a = st
        k = a - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k >= 1 and mask[k] == "|" and mask[k - 1] == "|":
            a = k - 1  # another || to the left: keep extending
            continue
        return a


def _concat_run_right(sql, mask, i):
    """End (exclusive) of the maximal ``||`` run whose operator sits at
    ``i`` (two-char op). None when a right operand is unscannable."""
    b = i + 2
    while True:
        r0, r1, _t = _div_scan_primary(sql, mask, b, len(sql), None, [])
        if r1 <= r0 or _t == "kw":
            return None
        b = r1
        j = b
        while j < len(mask) and mask[j] in " \t\r\n":
            j += 1
        if mask[j:j + 2] == "||":
            b = j + 2
            continue
        return b


def _rewrite_concat_grouping(sql: str) -> str:
    """SQLite binds ``||`` ABOVE all arithmetic/bitwise operators
    (expr.y: only COLLATE and unary bind tighter); Spark binds it
    BELOW them, so `1 + n || s` silently mis-groups as `(1 + n) || s`
    (r16 campaign find — silent wrong values, not just type errors).
    Parenthesize every maximal ||-run that is adjacent to an
    arithmetic/bitwise operator, restoring SQLite's grouping before
    the affinity/coercion passes walk the chains."""
    if "||" not in sql:
        return sql
    for _ in range(sql.count("||") + 1):
        mask = _div_mask(sql)
        edit = None
        pos = 0
        while edit is None:
            i = mask.find("||", pos)
            if i == -1:
                break
            pos = i + 2
            a = _concat_run_left(sql, mask, i)
            if a is None:
                continue
            b = _concat_run_right(sql, mask, i)
            if b is None:
                continue
            k = a - 1
            while k >= 0 and mask[k] in " \t\r\n":
                k -= 1
            left_adj = k >= 0 and (
                mask[k] in "+-*/%&"
                or (mask[k] == "|" and (k == 0 or mask[k - 1] != "|"))
                or (mask[k] in "<>" and k >= 1 and mask[k - 1] == mask[k])
            )
            j = b
            while j < len(mask) and mask[j] in " \t\r\n":
                j += 1
            right_adj = j < len(mask) and (
                mask[j:j + 2] in ("<<", ">>")
                or mask[j] in "+-*/%&"
                or (mask[j] == "|" and mask[j + 1:j + 2] != "|")
            )
            if left_adj or right_adj:
                edit = (a, b)
        if edit is None:
            return sql
        a, b = edit
        sql = f"{sql[:a]}({sql[a:b]}){sql[b:]}"
    return sql


_NULL_POSTFIX_RX = re.compile(
    r"(?i)\b(notnull|isnull|not\s+null)\b"
)
# words that can precede a prefix-NOT / literal-NULL context — after
# these, `NOT NULL` is NOT the postfix null test
_NULL_POSTFIX_PREV_KEYWORDS = frozenset({
    "select", "when", "then", "else", "and", "or", "not", "where",
    "on", "case", "by", "from", "in", "like", "glob", "escape", "is",
    "all", "distinct", "union", "intersect", "except", "having",
    "between", "using", "values", "set", "returning", "limit",
    "offset", "exists", "as",
})


def _rewrite_null_postfix(sql: str) -> str:
    """SQLite's postfix null tests (expr.y: `expr NOTNULL`,
    `expr ISNULL`, `expr NOT NULL`) → the portable `IS [NOT] NULL`
    Spark parses (r16). Only fires when the preceding token ends an
    expression (identifier/`)`/backtick — never after SELECT/WHEN/AND/
    IS …, where NOT NULL is prefix-NOT over the literal) and the next
    token does not continue an expression (SQLite lets the 0/1 result
    feed arithmetic; that residue stays loud-native)."""
    low = sql.lower()
    if "null" not in low:
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _NULL_POSTFIX_RX.finditer(mask):
        word = re.sub(r"\s+", " ", low[m.start():m.end()])
        k = m.start() - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k < 0:
            continue
        c = mask[k]
        if c.isalnum() or c == "_":
            s0 = k
            while s0 >= 0 and (mask[s0].isalnum() or mask[s0] == "_"):
                s0 -= 1
            if low[s0 + 1:k + 1] in _NULL_POSTFIX_PREV_KEYWORDS:
                continue
        elif c == "\x00" and sql[k] in "'`":
            pass  # string literal / backtick identifier ends the expr
        elif c != ")" and c != "`":
            continue  # operator/paren-open/comma: prefix context
        j = _skip_ws(mask, m.end())
        if j < len(mask):
            nc = mask[j]
            if nc in "+-*/%&|~<>=!" or nc == "(":
                continue  # result feeds an expression: stay native
            wn = _WORD_RX.match(mask, j)
            if wn and low[wn.start():wn.end()] == "collate":
                continue
        repl = "IS NULL" if word == "isnull" else "IS NOT NULL"
        edits.append((m.start(), m.end(), repl))
    if not edits:
        return sql
    for a, b, repl in reversed(edits):
        sql = sql[:a] + repl + sql[b:]
    return sql


_EXISTS_WORD_RX = re.compile(r"(?i)\bexists\b")


def _rewrite_exists_operand(sql: str) -> str:
    """EXISTS glued into an arithmetic/bitwise/concat chain (r16,
    VERDICT r15 #4): SQLite evaluates EXISTS to INTEGER 0/1, so
    `1 + EXISTS(SELECT …) = s` is a plain numeric chain; Spark types
    EXISTS as BOOLEAN and either parse- or type-crashes. Coerce the
    EXISTS term to `TRY_CAST((EXISTS …) AS INT)` whenever an operator
    that binds it into a chain (+ - * / % & | << >> ~ ||) is adjacent
    on either side — predicate-position EXISTS (WHERE EXISTS …,
    NOT EXISTS …) is untouched. Runs BEFORE the truthiness passes so
    a coerced chain in WHERE/CASE gets the numeric-truthiness wrap
    (the raw EXISTS word would read as already-boolean)."""
    if "exists" not in sql.lower():
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    last_end = -1
    for m in _EXISTS_WORD_RX.finditer(mask):
        if m.start() < last_end:
            continue  # inside an already-coerced outer EXISTS body
        j = _skip_ws(mask, m.end())
        if j >= len(sql) or mask[j] != "(":
            continue
        close = _div_find_close(mask, j, len(sql))
        if close == -1:
            continue
        k = m.start() - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        prev_op = k >= 0 and (
            mask[k] in "+-*/%&|~"
            or (mask[k] in "<>" and k >= 1 and mask[k - 1] == mask[k])
        )
        nx = _skip_ws(mask, close + 1)
        nxt_op = nx < len(mask) and (
            mask[nx:nx + 2] in ("<<", ">>", "||")
            or mask[nx] in "+-*/%&"
            or (mask[nx] == "|" and mask[nx + 1:nx + 2] != "|")
        )
        if not (prev_op or nxt_op):
            continue
        edits.append((
            m.start(), close + 1,
            f"TRY_CAST(({sql[m.start():close + 1]}) AS INT)",
        ))
        last_end = close + 1
    if not edits:
        return sql
    for a, b, repl in reversed(edits):
        sql = sql[:a] + repl + sql[b:]
    return sql


_NOT_ARG_NONCALL_WORDS = frozenset({
    "in", "values", "exists", "select", "where", "on", "using", "over",
    "all", "any", "some", "and", "or", "not", "when", "then", "else",
    "case", "by", "distinct", "union", "intersect", "except", "from",
    "join", "as", "between", "like", "glob", "having", "limit", "offset",
})


def _not_arg_cast_edit(sql, mask, low, not_start, j, end):
    """When the bare-NOT at ``not_start`` (operand span [j, end)) is a
    whole function-call argument, return the (a, b, repl) edit that
    emits SQLite's INTEGER value: CAST((NOT <truthiness-wrapped
    operand>) AS INT). None = not an argument position (caller keeps
    the plain boolean wrap)."""
    k = not_start - 1
    while k >= 0 and mask[k] in " \t\r\n":
        k -= 1
    if k < 0 or mask[k] not in "(,":
        return None
    # find the enclosing call's name word
    depth = 0
    p = k if mask[k] == "(" else k - 1
    while p >= 0:
        c = mask[p]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                break
            depth -= 1
        p -= 1
    if p < 0:
        return None
    i = p - 1
    while i >= 0 and mask[i] in " \t\r\n":
        i -= 1
    if i < 0 or not (mask[i].isalnum() or mask[i] == "_"):
        return None  # grouping paren / subquery, not a call
    s0 = i
    while s0 >= 0 and (mask[s0].isalnum() or mask[s0] == "_"):
        s0 -= 1
    fname = low[s0 + 1:i + 1]
    if not fname or fname in _NOT_ARG_NONCALL_WORDS:
        return None
    # consume an inert trailing COLLATE (NOT yields INTEGER)
    span_end = end
    jc = _skip_ws(mask, span_end)
    wc = _WORD_RX.match(mask, jc) if jc < len(sql) else None
    if wc and low[wc.start():wc.end()] == "collate":
        jn = _skip_ws(mask, wc.end())
        wn = _WORD_RX.match(mask, jn) if jn < len(sql) else None
        if wn:
            span_end = wn.end()
    # the NOT expression must BE the whole argument
    t = _skip_ws(mask, span_end)
    if t >= len(sql) or mask[t] not in ",)":
        return None
    tmp: list[tuple[int, int, str]] = []
    _cond_truthy_edits(sql, mask, low, j, end, tmp)
    seg = sql[j:end]
    for a2, b2, r2 in sorted(tmp, key=lambda e: (e[0], e[1]),
                             reverse=True):
        seg = seg[:a2 - j] + r2 + seg[b2 - j:]
    # TRY_CAST, not CAST: the SQLite-CAST call pass would re-expand a
    # spelled CAST(x AS INT) through the prefix parse; TRY_CAST is the
    # Spark-native spelling every pass leaves alone, and
    # try_cast(boolean AS INT) is exactly 0/1/NULL
    return not_start, span_end, f"TRY_CAST((NOT {seg}) AS INT)"


def _rewrite_bare_not(sql: str) -> str:
    """Value-context NOT (`SELECT NOT s`, `SELECT NOT n + 1 AS c`):
    SQLite applies truthiness to the operand and yields 0/1/NULL
    INTEGER; Spark rejects NOT over a non-boolean. Wrap the operand
    through the same truthiness machinery the clause passes use —
    boolean-shaped operands (comparisons, IN, LIKE, EXISTS …) are left
    native, `IS NOT` / `NOT IN`-family postfix forms are skipped, and
    already-wrapped conditions are idempotent (the wrap itself scans
    as a comparison). The projected VALUE stays Spark BOOLEAN vs
    SQLite 0/1 — the pinned projected-predicate divergence — but the
    form now runs instead of crashing (r15)."""
    if not re.search(r"(?i)\bnot\b", sql):
        return sql
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    consumed_end = -1
    for m in _NOT_WORD_RX.finditer(mask):
        if m.start() < consumed_end:
            continue  # inside an arg-cast replacement span (its seg
            # already wrapped the nested NOT's operand)
        k = m.start() - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k >= 1 and low[k - 1:k + 1] == "is" and (
            k == 1 or not (mask[k - 2].isalnum() or mask[k - 2] == "_")
        ):
            continue  # IS NOT
        j = _skip_ws(mask, m.end())
        wm = _WORD_RX.match(mask, j)
        if wm and low[wm.start():wm.end()] in _NOT_SKIP_NEXT:
            # `NULL` skip guards the postfix `expr NOT NULL` operator;
            # after '(' or ',' there is no preceding expr, so this is
            # prefix NOT over the NULL literal (abs(NOT NULL)) — r16
            if not (low[wm.start():wm.end()] == "null"
                    and k >= 0 and mask[k] in "(,"):
                continue
        end = _not_operand_end(sql, mask, low, j)
        if end <= j:
            continue
        # function-argument VALUE position (r16, VERDICT r15 #5):
        # `abs(NOT s)` needs SQLite's 0/1/NULL INTEGER, not a Spark
        # boolean (abs/greatest/coalesce type-crash on BOOLEAN). When
        # the NOT expression is a whole argument of a function call —
        # preceded by the call's '(' or a ',', terminated by ',' or
        # ')' — emit CAST((NOT <wrapped>) AS INT). An inert trailing
        # COLLATE is consumed (NOT yields INTEGER).
        cast_edit = _not_arg_cast_edit(sql, mask, low, m.start(), j, end)
        if cast_edit is not None:
            edits.append(cast_edit)
            consumed_end = cast_edit[1]
            continue
        before = len(edits)
        _cond_truthy_edits(sql, mask, low, j, end, edits)
        # NOT always yields 0/1/NULL INTEGER, so a trailing COLLATE on
        # it is inert (integer ordering/comparison ignores collation)
        # while Spark rejects COLLATE on a boolean — consume the
        # clause when the operand was wrapped (r16)
        if len(edits) > before:
            jc = _skip_ws(mask, end)
            wc = _WORD_RX.match(mask, jc) if jc < len(sql) else None
            if wc and low[wc.start():wc.end()] == "collate":
                jn = _skip_ws(mask, wc.end())
                wn = _WORD_RX.match(mask, jn) if jn < len(sql) else None
                if wn:
                    edits.append((jc, wn.end(), ""))
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]),
                             reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


_INDEXED_RX = re.compile(
    r"(?i)\bNOT\s+INDEXED\b|\bINDEXED\s+BY\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
)


def _strip_indexed_clauses(sql: str) -> str:
    """Drop SQLite's `NOT INDEXED` / `INDEXED BY name` query-planner
    clauses (expr.c: pure hints — Catalyst plans its own access paths;
    the engine's CREATE INDEX is already a recorded no-op)."""
    if "indexed" not in sql.lower():
        return sql
    mask = _div_mask(sql)
    out, last = [], 0
    for m in _INDEXED_RX.finditer(mask):
        out.append(sql[last:m.start()])
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_VALUES_WORD_RX = re.compile(r"(?i)\bvalues\b")
_VALUES_NONALIAS_WORDS = frozenset({
    "where", "on", "join", "inner", "left", "right", "full", "cross",
    "natural", "union", "all", "except", "intersect", "order", "limit",
    "offset", "group", "having", "using", "when", "then", "else", "end",
})


def _rewrite_values_columns(sql: str) -> str:
    """SQLite names VALUES columns column1..columnN (select.c); Spark
    names them col1..colN. Pure insertions: a VALUES table in a derived
    position gets `AS filesql_valuesK (column1, …)` (or just the column
    list after a bare user alias); a top-level VALUES statement (or
    compound arm) is wrapped `SELECT * FROM ( … ) AS …`. INSERT's
    VALUES (previous token an identifier or `)`) is untouched."""
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    n_seen = 0
    for m in _VALUES_WORD_RX.finditer(mask):
        a = m.start()
        k = a - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k < 0 or mask[k] == ";":
            derived = False
        elif mask[k] == "(":
            # relation position (FROM/JOIN/join-list comma before the
            # paren) takes an inline alias; any other parenthesized
            # context (CTE body, IN (...), scalar subquery) is a QUERY
            # and gets the SELECT wrapper
            k2 = k - 1
            while k2 >= 0 and mask[k2] in " \t\r\n":
                k2 -= 1
            if k2 >= 0 and mask[k2] == ",":
                derived = True
            else:
                j = k2
                while j >= 0 and (mask[j].isalnum() or mask[j] == "_"):
                    j -= 1
                derived = low[j + 1:k2 + 1] in ("from", "join")
        else:
            j = k
            while j >= 0 and (mask[j].isalnum() or mask[j] == "_"):
                j -= 1
            if low[j + 1:k + 1] not in ("union", "all", "except",
                                        "intersect"):
                continue  # INSERT INTO t VALUES / other contexts
            derived = False
        p = _skip_ws(mask, m.end())
        if p >= len(sql) or mask[p] != "(":
            continue
        close = _div_find_close(mask, p, len(sql))
        if close == -1:
            continue
        ncols = len(_div_split_args(mask, p + 1, close))
        # extend over , (row), (row) …
        i = close + 1
        while True:
            j = _skip_ws(mask, i)
            if j < len(sql) and mask[j] == ",":
                j2 = _skip_ws(mask, j + 1)
                if j2 < len(sql) and mask[j2] == "(":
                    c2 = _div_find_close(mask, j2, len(sql))
                    if c2 != -1:
                        i = c2 + 1
                        continue
            break
        end = i
        collist = ", ".join(f"column{c + 1}" for c in range(ncols))
        n_seen += 1
        if not derived:
            edits.append((a, a, "SELECT * FROM ("))
            edits.append((end, end,
                          f") AS filesql_values{n_seen} ({collist})"))
            continue
        # derived position: what follows the rows?
        j = _skip_ws(mask, end)
        if j < len(sql) and mask[j] == ")":
            # bare `(VALUES …)`: alias may follow the close
            j2 = _skip_ws(mask, j + 1)
            wm = _WORD_RX.match(mask, j2) if j2 < len(sql) else None
            if wm:
                w = low[wm.start():wm.end()]
                if w == "as":
                    j2 = _skip_ws(mask, wm.end())
                    wm = _WORD_RX.match(mask, j2)
                    w = low[wm.start():wm.end()] if wm else ""
                if wm and w and w not in _VALUES_NONALIAS_WORDS:
                    j3 = _skip_ws(mask, wm.end())
                    if j3 < len(sql) and mask[j3] == "(":
                        continue  # explicit column list: user names win
                    edits.append((wm.end(), wm.end(), f" ({collist})"))
                    continue
            # no alias: name the whole parenthesized relation
            edits.append((j + 1, j + 1,
                          f" AS filesql_values{n_seen} ({collist})"))
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]), reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _sqlite_double_text_static(v: float) -> str:
    """SQLite's %!.15g rendering of a REAL, computed statically for
    literal operands (json1.double_to_text is the runtime twin)."""
    s = f"{v:.15g}"
    if "." not in s and "e" not in s and "inf" not in s and "nan" not in s:
        s += ".0"
    return s


_CMP_OPS = ("<=", ">=", "<>", "!=", "==", "=", "<", ">")
# result when the TEXT side is unconvertible (numerics order before
# text, collation order BINARY): keyed by op with the text side RIGHT
_CMP_TEXT_GREATER = {
    "=": "false", "==": "false", "!=": "true", "<>": "true",
    "<": "true", "<=": "true", ">": "false", ">=": "false",
}
_CMP_MIRROR = {
    "=": "=", "==": "==", "!=": "!=", "<>": "<>",
    "<": ">", "<=": ">=", ">": "<", ">=": "<=",
}


def _bitop_positions(mask: str) -> list[tuple[int, str]]:
    """Candidate (pos, op) of bitwise & | << >> in code text — skipping
    ||, JSON arrows (->>), and <=>."""
    out: list[tuple[int, str]] = []
    i = 0
    while i < len(mask):
        c = mask[i]
        if c == "&":
            out.append((i, "&"))
        elif c == "|":
            if mask[i + 1:i + 2] == "|":
                i += 2
                continue
            if i == 0 or mask[i - 1] != "|":
                out.append((i, "|"))
        elif c in "<>" and mask[i + 1:i + 2] == c:
            if (i == 0 or mask[i - 1] not in "<>-") and \
                    mask[i + 2:i + 3] != c:
                out.append((i, c + c))
            i += 2
            continue
        i += 1
    return out


_SHIFT_LIT_RX = re.compile(r"^\+?\s*(\d+)$")


def _bit_shift_emit(op: str, a: str, b: str) -> str:
    """Guarded shift with SQLite count semantics (vdbe.c OP_ShiftLeft):
    negative count shifts the OTHER way, |count| >= 64 clamps to the
    sign fill; Java/Spark wrap the count mod 64."""
    # TRY_CAST / L-suffix literals for the plumbing: SQLite-spelled
    # CAST(… AS INT*) here would be re-expanded by the later cast pass
    if op == "<<":
        big = "0L"
        neg_big = f"(CASE WHEN ({a}) < 0 THEN -1L ELSE 0L END)"
        fwd, rev = "shiftleft", "shiftright"
    else:
        big = f"(CASE WHEN ({a}) < 0 THEN -1L ELSE 0L END)"
        neg_big = "0L"
        fwd, rev = "shiftright", "shiftleft"
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL "
        f"THEN TRY_CAST(NULL AS BIGINT) "
        f"WHEN ({b}) >= 64 THEN {big} "
        f"WHEN ({b}) <= -64 THEN {neg_big} "
        f"WHEN ({b}) < 0 THEN {rev}({a}, TRY_CAST(-({b}) AS INT)) "
        f"ELSE {fwd}({a}, TRY_CAST(({b}) AS INT)) END)"
    )


def _rewrite_bitwise(sql: str, coltypes) -> str:
    """SQLite coerces bitwise operands numerically (vdbe.c OP_BitAnd
    family): TEXT prefix-parses, REAL truncates toward zero, NULL
    poisons — '3.7' & 1 is 3 & 1, ~'2.5' is -3; Spark's & | << >> ~
    are integral-typed and throw on TEXT/REAL operands. Shift counts
    also differ at the edges (see _bit_shift_emit). Chains whose
    leaves are all provably INTEGER with in-range literal shift counts
    stay native — the common case, zero plan change. Anything else is
    rebuilt left-associatively with CAST(… AS INTEGER)-coerced leaves
    (the later cast pass expands those to the prefix parse). Leaves
    appear twice in guarded shifts — non-deterministic element
    expressions diverge, the BETWEEN-expansion caveat. Unary ~ over a
    non-INTEGER primary is coerced in a first sweep; a ~ embedded
    mid-chain still bails that chain to native (residue)."""
    if not any(ch in sql for ch in "&|<>~"):
        return sql

    def _leaf_type(leaf: str) -> str | None:
        m0 = _div_mask(leaf)
        return _div_walk(leaf, m0, 0, len(leaf), coltypes, [])

    def _coerce(leaf: str) -> str:
        prefix, t = "", leaf
        while t.startswith("~"):  # ~ binds in: coerce under it (r15)
            prefix += "~"
            t = t[1:].lstrip()
        if _leaf_type(t) == "int":
            return f"({leaf})"
        core = f"CAST(({t}) AS INTEGER)"
        return f"({prefix}{core})" if prefix else core

    # sweep 1: unary ~ over a non-INTEGER primary
    for _ in range(sql.count("~") + 1):
        mask = _div_mask(sql)
        done = False
        i = len(sql) - 1
        while i >= 0:
            if mask[i] != "~":
                i -= 1
                continue
            j = _skip_ws(mask, i + 1)
            f0, e0, t0 = _div_scan_primary(sql, mask, j, len(sql),
                                           coltypes, [])
            if t0 == "kw" or e0 <= j:
                i -= 1
                continue
            leaf = sql[j:e0].strip()
            if _leaf_type(leaf) == "int":
                i -= 1
                continue
            sql = sql[:j] + f"CAST(({leaf}) AS INTEGER)" + sql[e0:]
            done = True
            break
        if not done:
            break
    # sweep 2: binary chains
    for _ in range(len(sql)):
        mask = _div_mask(sql)
        cands = _bitop_positions(mask)
        if not cands:
            return sql
        edited = False
        skip_before = 0
        for pos, op in cands:
            if pos < skip_before:
                continue
            e = pos
            while e > 0 and mask[e - 1] in " \t\r\n":
                e -= 1
            l_start = _cmp_walk_back(sql, mask, e, stop_at_cmp=True)
            if l_start is None:
                continue
            fwd = _cmp_walk_fwd(sql, mask, pos + len(op), coltypes,
                                stop_at_cmp=True)
            if fwd is None:
                continue
            r_end = fwd[1]
            # tokenize [l_start, r_end) at depth 0 into leaves/ops
            sub = mask[l_start:r_end]
            ops_in = [(p - l_start, o) for p, o in cands
                      if l_start <= p < r_end]
            depth = 0
            top_ops: list[tuple[int, str]] = []
            oset = dict(ops_in)
            k = 0
            while k < len(sub):
                if sub[k] == "(":
                    depth += 1
                elif sub[k] == ")":
                    depth -= 1
                elif depth == 0 and k in oset:
                    top_ops.append((k, oset[k]))
                    k += len(oset[k])
                    continue
                k += 1
            if not top_ops:
                skip_before = r_end
                continue
            leaves: list[str] = []
            prev = 0
            for k, o in top_ops:
                leaves.append(sql[l_start + prev:l_start + k].strip())
                prev = k + len(o)
            leaves.append(sql[l_start + prev:r_end].strip())
            if not all(leaves):
                skip_before = r_end
                continue
            need = any(_leaf_type(lf) != "int" for lf in leaves)
            for idx, ((k, o), cnt) in enumerate(zip(top_ops, leaves[1:])):
                if o in ("<<", ">>"):
                    # native only when the count is an in-range literal
                    # AND the left side is a bare int column: Spark
                    # types small literals INT (32-bit) and shifts wrap
                    # at 32 bits there, while SQLite is always int64
                    # (1 << 63 read -2147483648 natively); engine
                    # columns are BIGINT, so a simple column is safe
                    m1 = _SHIFT_LIT_RX.match(cnt)
                    left_col = idx == 0 and _VD_IDENT_RX.fullmatch(
                        leaves[0])
                    if not (m1 and int(m1.group(1)) <= 63 and left_col):
                        need = True
            if not need:
                skip_before = r_end
                continue
            acc = _coerce(leaves[0])
            for (k, o), leaf in zip(top_ops, leaves[1:]):
                cl = _coerce(leaf)
                if o in ("&", "|"):
                    acc = f"({acc} {o} {cl})"
                    continue
                # 64-bit shift arithmetic regardless of how Spark typed
                # the left side (int literals are 32-bit)
                acc = f"TRY_CAST({acc} AS BIGINT)"
                m1 = _SHIFT_LIT_RX.match(leaf)
                if m1 and int(m1.group(1)) <= 63:
                    fn = "shiftleft" if o == "<<" else "shiftright"
                    acc = f"{fn}({acc}, {m1.group(1)})"
                else:
                    acc = _bit_shift_emit(o, acc, cl)
            sql = sql[:l_start] + acc + sql[r_end:]
            edited = True
            break
        if not edited:
            return sql
    return sql


def _rewrite_row_values(sql: str) -> str:
    """Row-value comparisons `(a, b) op (c, d)` (SQLite rowvalue.html;
    Spark has no tuple-comparison syntax) expand to their scalar
    equivalents BEFORE the affinity pass, so each element pair gets
    per-element comparison affinity exactly as SQLite applies it:

    - `=`  → (a=c) AND (b=d); `!=` → NOT of that — pinned equivalent
      for every NULL placement (81-combination grid vs sqlite3, r15)
    - `<`  → (a<c) OR ((a=c) AND (b<d)), recursive for arity > 2; the
      non-strict ops relax only the LAST element (also grid-pinned)

    Scope: both sides literal parenthesized lists of equal arity ≥ 2.
    Row values vs subqueries, in IN lists, or under IS stay native
    (Spark's loud error). Elements are duplicated by the ordering
    expansion — same caveat as BETWEEN expansion for non-deterministic
    element expressions."""
    if "(" not in sql:
        return sql
    for _ in range(sql.count("(") + 1):
        mask = _div_mask(sql)
        low = sql.lower()
        hit = None
        pos = 0
        low = sql.lower()
        while pos < len(sql) and hit is None:
            c = mask[pos]
            op = None
            if c in "iI" and low[pos:pos + 2] == "is" and (
                pos == 0 or not (mask[pos - 1].isalnum()
                                 or mask[pos - 1] == "_")
            ) and not (mask[pos + 2:pos + 3].isalnum()
                       or mask[pos + 2:pos + 3] == "_"):
                # row values under IS / IS NOT: element-wise IS
                # conjunction (grid-pinned 162/162 vs sqlite3, r15)
                op = "IS"
                jn = _skip_ws(mask, pos + 2)
                wn = _WORD_RX.match(mask, jn)
                if wn and low[wn.start():wn.end()] == "not":
                    op = "IS NOT"
                    op_end = wn.end()
                else:
                    op_end = pos + 2
            elif c not in "<>=!":
                pos += 1
                continue
            if op is None:
                two = mask[pos:pos + 2]
                if two in ("<<", ">>"):
                    pos += 2
                    continue
                op = two if two in _CMP_OPS else (
                    c if c in "<>=" else None)
                if op is None or (c == "!" and two != "!="):
                    pos += 1
                    continue
                if pos > 0 and mask[pos - 1] in "<>=!":
                    pos += 1
                    continue
                op_end = pos + len(op)
            # right side must be a bare paren group
            j = _skip_ws(mask, op_end)
            if j >= len(sql) or mask[j] != "(":
                pos = max(op_end, pos + 1)
                continue
            rclose = _div_find_close(mask, j, len(sql))
            if rclose == -1:
                pos = max(op_end, pos + 1)
                continue
            # left side must END with a paren group not glued to a name
            e = pos
            while e > 0 and mask[e - 1] in " \t\r\n":
                e -= 1
            if e == 0 or mask[e - 1] != ")":
                pos = max(op_end, pos + 1)
                continue
            depth = 1
            k = e - 2
            while k >= 0 and depth:
                if mask[k] == ")":
                    depth += 1
                elif mask[k] == "(":
                    depth -= 1
                k -= 1
            if depth:
                pos = max(op_end, pos + 1)
                continue
            lopen = k + 1
            k2 = lopen - 1
            while k2 >= 0 and mask[k2] in " \t\r\n":
                k2 -= 1
            if k2 >= 0 and (mask[k2].isalnum() or mask[k2] == "_"):
                ws = k2
                while ws > 0 and (mask[ws - 1].isalnum()
                                  or mask[ws - 1] == "_"):
                    ws -= 1
                if low[ws:k2 + 1] not in (
                    "select", "where", "and", "or", "not", "on", "when",
                    "then", "else", "having", "by", "case", "union",
                    "all", "except", "intersect", "distinct",
                ):
                    pos = max(op_end, pos + 1)  # function call glued to the group
                    continue
            elif k2 >= 0 and mask[k2] in "`\")'":
                pos = max(op_end, pos + 1)  # identifier/close-paren glued
                continue
            ls = _div_split_args(mask, lopen + 1, e - 1)
            rs = _div_split_args(mask, j + 1, rclose)
            if (
                len(ls) < 2 or len(ls) != len(rs)
                or re.match(r"(?i)\s*select\b", sql[lopen + 1:e - 1])
                or re.match(r"(?i)\s*select\b", sql[j + 1:rclose])
                or re.match(r"(?i)\s*values\b", low[lopen + 1:e - 1])
            ):
                pos = max(op_end, pos + 1)
                continue
            lparts = [sql[a0:b0].strip() for a0, b0 in ls]
            rparts = [sql[a0:b0].strip() for a0, b0 in rs]
            hit = (lopen, rclose + 1, op, lparts, rparts)
        if hit is None:
            return sql
        a, b, op, lparts, rparts = hit
        if op in ("IS", "IS NOT"):
            body = " AND ".join(
                f"({l}) IS ({r})" for l, r in zip(lparts, rparts)
            )
            repl = f"({body})" if op == "IS" else f"(NOT ({body}))"
        elif op in ("=", "=="):
            body = " AND ".join(
                f"({l}) = ({r})" for l, r in zip(lparts, rparts)
            )
            repl = f"({body})"
        elif op in ("!=", "<>"):
            body = " AND ".join(
                f"({l}) = ({r})" for l, r in zip(lparts, rparts)
            )
            repl = f"(NOT ({body}))"
        else:
            strict = op[0]

            def _rec(i: int) -> str:
                l, r = lparts[i], rparts[i]
                if i == len(lparts) - 1:
                    return f"({l}) {op} ({r})"
                return (
                    f"(({l}) {strict} ({r})) OR "
                    f"((({l}) = ({r})) AND ({_rec(i + 1)}))"
                )

            repl = f"({_rec(0)})"
        sql = sql[:a] + repl + sql[b:]
    return sql


def _affinity_triggers(sql: str, coltypes) -> bool:
    """Shared gate for the comparison- and range-affinity passes: a
    TEXT column or string literal (classic affinity sites), or an
    r15 bool-operand site (EXISTS/predicate/TRUE/FALSE/~) or a
    collation-consuming site — those fire without any TEXT column
    (`true IN (n, 2)` must coerce the boolean even on an all-numeric
    table; r16 advice extended this gate to the range pass too)."""
    return bool(
        (coltypes and "text" in coltypes.values()) or "'" in sql
        or "~" in sql
        or re.search(r"(?i)\b(exists|collate|true|false)\b", sql)
        or ("(" in sql and re.search(r"\)\s*[<>=!]|[<>=!]=?\s*\(", sql))
        # parenthesized predicate as IN/BETWEEN left operand:
        # `(n = 1) IN (0, 2)` has its comparison chars inside the
        # parens, so the adjacency regex above never fires (r16)
        or (re.search(r"[<>=!]", sql)
            and re.search(r"(?i)\)\s*(not\s+)?(in|between)\b", sql))
    )


def _rewrite_compare_affinity(
    sql: str, coltypes: dict[str, str] | None
) -> str:
    """SQLite comparison affinity (expr.c comparisonAffinity) between
    numeric and TEXT operands:

    - numeric-affinity side vs TEXT column → NUMERIC conversion is
      attempted per row; unconvertible text stays TEXT and numerics
      order before all text (Spark's implicit string→double cast
      ANSI-crashes on the first junk value instead).
    - TEXT-affinity column vs numeric LITERAL (which carries NO
      affinity) → TEXT affinity applies to the literal: the comparison
      is a STRING comparison against SQLite's text rendering
      (s = 7.0 matches '7.0'; Spark would compare numerically).
    - numeric side vs junk TEXT literal → statically unconvertible:
      the type-order constant (NULL-guarded on the other side).

    Affinity model (pinned empirically vs sqlite3, r14): only COLUMN
    references (parens transparent) and CASTs carry affinity;
    arithmetic chains, function calls, CASE, and unary +/- carry NONE —
    so `a + 1 > s` string-compares the rendered sum (the TEXT column
    side wins), `abs(a) = s` likewise, and `'abc' > 5*2` is a type-
    order constant (text above numerics), NULL-guarded.

    Scope: operands are primaries or +-*/% chains of primaries; ||/
    bitwise-glued operands, CASE operands, and unknown-typed spans keep
    Spark semantics (documented residue)."""
    if not _affinity_triggers(sql, coltypes):
        return sql
    # the CASE-distribution emission (r16) adds one comparison site per
    # arm, each needing its own iteration — budget for them
    for _ in range(sql.count("=") + sql.count("<") + sql.count(">")
                   + 1 + 4 * sql.lower().count("case")):
        mask = _div_mask(sql)
        pos = 0
        replaced = False
        while pos < len(sql):
            c = mask[pos]
            if c not in "<>=!":
                pos += 1
                continue
            two = mask[pos:pos + 2]
            if two in ("<<", ">>"):
                pos += 2  # bitwise shift, not a comparison (r15)
                continue
            op = two if two in _CMP_OPS else (c if c in "<>=" else None)
            if op is None or (c == "!" and two != "!="):
                pos += 1
                continue
            # not part of a longer operator already consumed
            if pos > 0 and mask[pos - 1] in "<>=!":
                pos += 1
                continue
            hit = _cmp_match_site(sql, mask, pos, op, coltypes)
            if hit is None:
                pos += max(1, len(op))
                continue
            a, b, repl = hit
            sql = sql[:a] + repl + sql[b:]
            replaced = True
            break
        if not replaced:
            break
    return sql


_BETWEEN_RX = re.compile(r"(?i)\b(not\s+)?between\b")
_IN_RX = re.compile(r"(?i)\b(not\s+)?in\b")


def _in_sub_first_item(sql, mask, low, a, b):
    """Span text of a subquery's single select item ([a, b) starts just
    after its SELECT keyword), or None (multi-column / unscannable)."""
    i = _skip_ws(mask, a)
    wm = _WORD_RX.match(mask, i)
    if wm and low[wm.start():wm.end()] in ("distinct", "all"):
        i = _skip_ws(mask, wm.end())
    depth = 0
    j = i
    item_end = -1
    while j < b:
        c = mask[j]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif c == "," and depth == 0:
            return None  # multi-column select list
        elif depth == 0:
            w = _WORD_RX.match(mask, j)
            if w:
                if low[w.start():w.end()] == "from":
                    item_end = w.start()
                    break
                j = w.end()
                continue
        j += 1
    if item_end == -1:
        item_end = j  # SELECT <expr> with no FROM
    item = sql[i:item_end].strip()
    if not item:
        return None
    am = re.match(  # peel a trailing alias from a bare column item
        r"(?is)^([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)"
        r"\s+(?:as\s+)?[A-Za-z_][A-Za-z0-9_]*$", item)
    if am:
        item = am.group(1)
    return item


def _in_subquery_affinity_edit(sql, mask, e, neg, p, close, coltypes):
    """`x IN (SELECT y …)` under comparison affinity (r14): the affinity
    pair (x, first select item) decides the conversion, exactly as for
    a direct comparison (expr.c sqlite3CompareAffinity on TK_IN):

    - NUMERIC: text-valued sides convert per row; junk text on the
      subquery side is dropped (it can never equal a numeric), junk x
      falls to FALSE — or NULL when the list holds a NULL.
    - TEXT: the no-affinity numeric-valued side renders as SQLite text
      and the IN becomes a string-set membership.
    - no affinity on both sides, mixed value classes: numerics and text
      never compare equal — FALSE, NULL-guarded.

    NULL-presence note: Spark's IN-subquery yields FALSE where SQL
    three-valued logic yields NULL (no match + NULL in list); in WHERE
    context both drop the row, which is the exercised contract. Only
    mixed-affinity sites are rewritten, so affinity-clean queries keep
    Spark's native plan (a left-semi join)."""
    low = sql.lower()
    l_start = _cmp_walk_back(sql, mask, e)
    if l_start is None:
        return None
    x = sql[l_start:e].strip()
    if not x:
        return None
    affX, vclX = _cmp_classify(x, coltypes)
    if "unk" in (affX, vclX) or vclX in ("null", "bool"):
        return None
    ia = _skip_ws(mask, p + 1)
    wsel = _WORD_RX.match(mask, ia)
    item = _in_sub_first_item(sql, mask, low, wsel.end(), close)
    if item is None:
        return None
    affY, vclY = _cmp_classify(item, coltypes)
    if "unk" in (affY, vclY) or vclY in ("null", "bool"):
        return None
    sub = sql[p + 1:close].strip()
    NUM = ("int", "real")
    if affX is not None and affY is not None:
        if affX in NUM and affY in NUM:
            return None  # both numeric: native semantics agree
        if affX == "text" and affY == "text":
            return None  # both TEXT: binary value compare — native
        a_cmp = "numeric"
    elif affX is not None:
        a_cmp = "numeric" if affX in NUM else "text"
    elif affY is not None:
        a_cmp = "numeric" if affY in NUM else "text"
    else:
        a_cmp = "none"
    x_textval = affX == "text" or (
        affX is None and vclX in ("text", "strlit"))
    y_textval = affY == "text" or (
        affY is None and vclY in ("text", "strlit"))
    if a_cmp == "numeric":
        if not x_textval and not y_textval:
            return None
        sub_num = f"({sub})"
        if y_textval:
            sub_num = (
                f"(SELECT CASE WHEN __c IS NULL THEN CAST(NULL AS DOUBLE) "
                f"ELSE TRY_CAST(__c AS DOUBLE) END "
                f"FROM ({sub}) AS __in_aff(__c) "
                f"WHERE __c IS NULL OR TRY_CAST(__c AS DOUBLE) IS NOT NULL)"
            )
        if x_textval:
            # empty-set gate FIRST: SQLite's x IN (empty) is 0 (false)
            # even for NULL x (r14 advice, low) — the IS NULL arm must
            # not fire before emptiness is known.
            body = (
                f"(CASE WHEN (SELECT count(*) FROM ({sub}) AS __in_e) = 0 "
                f"THEN false "
                f"WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"WHEN TRY_CAST(({x}) AS DOUBLE) IS NOT NULL "
                f"THEN TRY_CAST(({x}) AS DOUBLE) IN {sub_num} "
                f"ELSE (SELECT CASE WHEN count(__c) = count(*) THEN false "
                f"END FROM ({sub}) AS __in_nul(__c)) END)"
            )
        else:
            body = f"(({x}) IN {sub_num})"
    elif a_cmp == "text":
        if x_textval and y_textval:
            return None  # both text-valued: native string membership
        if not x_textval:
            cm0 = _div_mask(x)
            t0 = _div_walk(x, cm0, 0, len(x), coltypes, [])
            if t0 == "int":
                rend = f"TRY_CAST(({x}) AS STRING)"  # see _cmp render
            elif t0 == "real":
                rend = f"filesql_double_text(TRY_CAST(({x}) AS DOUBLE))"
            else:
                return None
            body = f"(({rend}) IN ({sub}))"
        else:
            cm0 = _div_mask(item)
            t0 = _div_walk(item, cm0, 0, len(item), coltypes, [])
            if t0 == "int":
                rend = "TRY_CAST(__c AS STRING)"
            elif t0 == "real":
                rend = "filesql_double_text(TRY_CAST(__c AS DOUBLE))"
            else:
                return None
            body = f"(({x}) IN (SELECT {rend} FROM ({sub}) AS __in_r(__c)))"
    else:
        if x_textval == y_textval:
            return None  # same value class: native semantics agree
        const = (
            f"(SELECT CASE WHEN count(__c) = count(*) THEN false END "
            f"FROM ({sub}) AS __in_c(__c))"
        )
        if vclX in ("numlit", "strlit"):
            body = const
        else:
            # same empty-set-first ordering as the numeric branch
            body = (
                f"(CASE WHEN (SELECT count(*) FROM ({sub}) AS __in_e) = 0 "
                f"THEN false "
                f"WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"ELSE {const} END)"
            )
    if neg:
        body = f"(NOT {body})"
    return l_start, close + 1, body


def _in_list_mixed_edit(sql, mask, e, neg, p, close, coltypes):
    """`x IN (e1, e2, …)` with non-literal or compound operands of
    mixed value class (r15 campaign find): natively Spark type-crashes
    ('abc' IN (-n, CAST(s AS REAL))). SQLite's IN uses ONLY the LEFT
    operand's affinity — item affinities are IGNORED (pinned: '7.0' IN
    (CAST('7' AS REAL)) is 0 while '7.0' = CAST('7' AS REAL) is 1, and
    7 IN (s) is 0 while 7 = s is 1). Expand to the OR chain — exactly
    IN's three-valued semantics — converting each item per x's
    affinity: numeric x converts text items per row, TEXT x renders
    numeric items, no-affinity x compares storage classes raw
    (cross-family pairs are constant false, NULL-guarded). x is
    duplicated per item (the BETWEEN-expansion caveat). Lists needing
    no conversion stay native."""
    l_start = _cmp_walk_back(sql, mask, e)
    if l_start is None:
        return None
    x = sql[l_start:e].strip()
    if not x:
        return None
    affX, vclX = _cmp_classify(x, coltypes)
    if "unk" in (affX, vclX) or vclX == "null":
        return None
    NUM = ("int", "real")
    NUMISH = ("num", "numlit", "bool")
    TEXTISH = ("text", "strlit")

    def fam(aff, vcl):
        if aff in NUM or (aff is None and vcl in NUMISH):
            return "n"
        if aff == "text" or (aff is None and vcl in TEXTISH):
            return "t"
        return "?"

    fx = fam(affX, vclX)
    if fx == "?":
        return None

    def wr(t):
        return t if _vd_simple_primary(t) else f"({t})"

    x_r = wr(x)
    if affX is None and vclX == "bool":
        x_r = f"TRY_CAST(({x}) AS INT)"
    parts = []
    any_help = False
    for s0, s1 in _div_split_args(mask, p + 1, close):
        t = sql[s0:s1].strip()
        if not t:
            return None
        if t.lower() == "null":
            parts.append(f"{x_r} = NULL")
            continue
        affI, vclI = _cmp_classify(t, coltypes)
        if "unk" in (affI, vclI) or vclI == "null":
            return None
        fi = fam(affI, vclI)
        if fi == "?":
            return None
        ib = vclI == "bool"
        if affX in NUM:
            if fi == "t":
                parts.append(
                    f"(CASE WHEN ({x}) IS NULL OR ({t}) IS NULL "
                    f"THEN CAST(NULL AS BOOLEAN) "
                    f"WHEN TRY_CAST(({t}) AS DOUBLE) IS NOT NULL "
                    f"THEN ({x}) = TRY_CAST(({t}) AS DOUBLE) "
                    f"ELSE false END)"
                )
                any_help = True
            elif ib:
                parts.append(f"{x_r} = TRY_CAST(({t}) AS INT)")
                any_help = True
            else:
                parts.append(f"{x_r} = {wr(t)}")
        elif affX == "text":
            if fi == "n":
                if ib:
                    rend = f"TRY_CAST(TRY_CAST(({t}) AS BIGINT) AS STRING)"
                else:
                    t0 = _cmp_num_type(t, coltypes)
                    if t0 == "int":
                        rend = f"TRY_CAST(({t}) AS STRING)"
                    elif t0 == "real":
                        rend = (f"filesql_double_text("
                                f"TRY_CAST(({t}) AS DOUBLE))")
                    else:
                        return None
                parts.append(f"{x_r} = ({rend})")
                any_help = True
            else:
                parts.append(f"{x_r} = {wr(t)}")
        else:  # x carries NO affinity: raw storage-class compare
            if fi != fx:
                parts.append(
                    f"(CASE WHEN ({x}) IS NULL OR ({t}) IS NULL "
                    f"THEN CAST(NULL AS BOOLEAN) ELSE false END)"
                )
                any_help = True
            elif ib != (vclX == "bool"):
                ir = f"TRY_CAST(({t}) AS INT)" if ib else wr(t)
                parts.append(f"{x_r} = {ir}")
                any_help = True
            elif ib:
                parts.append(f"{wr(x)} = {wr(t)}")  # both boolean
            else:
                parts.append(f"{x_r} = {wr(t)}")
    if not any_help or not parts:
        return None
    body = "(" + " OR ".join(parts) + ")"
    if neg:
        body = f"(NOT {body})"
    return l_start, close + 1, body


def _rewrite_range_affinity(sql: str, coltypes) -> str:
    """BETWEEN and literal IN-lists under comparison affinity (r13b —
    runs BEFORE _rewrite_compare_affinity so its sites land there):

    - `x BETWEEN a AND b` with a string literal bound and a numeric-
      affinity x (or numeric bound and TEXT x) expands to the
      comparison conjunction, which the affinity pass then converts.
    - `x IN (literals…)`: x's affinity applies to each item (SQLite
      in-operator rules): numeric x unquotes clean-numeric strings and
      DROPS junk ones (they can never match; NULL items kept for the
      three-valued result); TEXT x renders numeric items as SQLite
      text. Subquery / non-literal lists stay untouched."""
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    for m in _BETWEEN_RX.finditer(mask):
        e = m.start()
        while e > 0 and mask[e - 1] in " \t\r\n":
            e -= 1
        l_start = _cmp_walk_back(sql, mask, e)
        if l_start is None:
            continue  # also skips ROWS/RANGE BETWEEN window frames
        x = sql[l_start:e].strip()
        if not x:
            continue
        xa, xv = _cmp_classify(x, coltypes)
        if "unk" in (xa, xv) or xv == "null":
            continue
        fa = _cmp_walk_fwd(sql, mask, m.end(), coltypes)
        if fa is None:
            continue
        a0, a1 = fa
        j = _skip_ws(mask, a1)
        wm = _WORD_RX.match(mask, j)
        if not wm or low[wm.start():wm.end()] != "and":
            continue
        fb = _cmp_walk_fwd(sql, mask, wm.end(), coltypes)
        if fb is None:
            continue
        b0, b1 = fb
        a_txt, b_txt = sql[a0:a1].strip(), sql[b0:b1].strip()
        aa, av = _cmp_classify(a_txt, coltypes)
        ba, bv = _cmp_classify(b_txt, coltypes)
        if "unk" in (aa, av, ba, bv):
            continue
        NUM = ("int", "real")

        def _tx(aff, vcl):
            return aff == "text" or (aff is None and vcl in
                                     ("strlit", "text"))

        def _nm(aff, vcl):
            return aff in NUM or (aff is None and vcl in
                                  ("num", "numlit"))

        mixed = (
            _tx(xa, xv) and (_nm(aa, av) or _nm(ba, bv))
        ) or (
            _nm(xa, xv) and (_tx(aa, av) or _tx(ba, bv))
        )
        # a bool-valued operand (TRUE/FALSE/EXISTS/predicate) is
        # INTEGER 0/1 in SQLite but crashes Spark's BETWEEN against
        # ints — expand and let the comparison-affinity pass convert
        # each site with its r15 bool-operand handling (an explicit
        # TRY_CAST AS INT here would LEAK int affinity the bare SQLite
        # boolean does not carry — r16 campaign find: `true BETWEEN s
        # AND …` must TEXT-compare '1' vs s, not numeric-compare)
        boolish = "bool" in (xv, av, bv)
        if not mixed and not boolish:
            continue
        # expand to the conjunction the comparison-affinity pass then
        # converts site by site (expr.c evaluates BETWEEN exactly so);
        # compounds get parens (the chain walk re-scans through them),
        # simple primaries stay bare
        wr = (lambda t: t if _vd_simple_primary(t) else f"({t})")
        body = (
            f"({wr(x)} >= {wr(a_txt)} AND {wr(x)} <= {wr(b_txt)})"
        )
        if m.group(1):
            body = f"(NOT {body})"
        edits.append((l_start, b1, body))
    for m in _IN_RX.finditer(mask):
        e = m.start()
        while e > 0 and mask[e - 1] in " \t\r\n":
            e -= 1
        p = _skip_ws(mask, m.end())
        if p >= len(sql) or mask[p] != "(":
            continue
        close = _div_find_close(mask, p, len(sql))
        if close == -1:
            continue
        inner_a = _skip_ws(mask, p + 1)
        wsel = _WORD_RX.match(mask, inner_a) if inner_a < close else None
        if wsel and low[wsel.start():wsel.end()] == "select":
            # IN (SELECT …): comparison affinity between x and the
            # subquery's result column (r14, VERDICT r13 #5)
            edit = _in_subquery_affinity_edit(
                sql, mask, e, bool(m.group(1)), p, close, coltypes
            )
            if edit is not None:
                edits.append(edit)
            continue
        # x is the full operand CHAIN (r15: _rev_primary_start grabbed
        # only the last primary, splicing `n + 1 IN (…)` into
        # `n + ((1) IN …)` — silent corruption), and the literal fast
        # path requires x to CARRY affinity: a literal/expression x has
        # none, and SQLite then compares storage classes raw
        # (7 IN ('7') is 0 — pinned), which the helper implements.
        l_start = _cmp_walk_back(sql, mask, e)
        if l_start is None:
            continue
        x = sql[l_start:e].strip()
        affX0, _vclX0 = _cmp_classify(x, coltypes)
        if affX0 not in ("int", "real", "text") or \
                not _vd_simple_primary(x):
            edit = _in_list_mixed_edit(
                sql, mask, e, bool(m.group(1)), p, close, coltypes)
            if edit is not None:
                edits.append(edit)
            continue
        xt = affX0
        items = []
        changed = False
        ok = True
        for s0, s1 in _div_split_args(mask, p + 1, close):
            t = sql[s0:s1].strip()
            if t.lower() == "null":
                items.append(t)
                continue
            if not (_VD_LIT_RX.fullmatch(t) or _NUM_LIT_RX.fullmatch(
                    t.lstrip("+-"))):
                ok = False
                break
            it = _div_walk(sql, mask, s0, s1, coltypes, [])
            if xt in ("int", "real"):
                if t.startswith("'"):
                    changed = True
                    if it in ("int", "real"):
                        items.append(_literal_content(t).strip())
                    # junk text: can never match a numeric — dropped
                else:
                    items.append(t)
            else:  # TEXT x: numeric items render as SQLite text
                if not t.startswith("'") and it in ("int", "real"):
                    body = t.lstrip("+-")
                    neg = t[:len(t) - len(body)].count("-") % 2 == 1
                    if _div_lit_type(body) == "real" or body[-1:] in "dDfF":
                        v = float(body.rstrip("dDfF"))
                        lit = _sqlite_double_text_static(-v if neg else v)
                    else:
                        lit = ("-" if neg else "") + body
                    items.append("'" + lit.replace("'", "''") + "'")
                    changed = True
                else:
                    items.append(t)
        if not ok:
            edit = _in_list_mixed_edit(
                sql, mask, e, bool(m.group(1)), p, close, coltypes)
            if edit is not None:
                edits.append(edit)
            continue
        if not changed:
            continue
        neg = bool(m.group(1))
        if not items:
            body = (
                f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"ELSE false END)"
            )
            if neg:
                body = f"(NOT {body})"
        else:
            body = f"(({x}) {'NOT ' if neg else ''}IN ({', '.join(items)}))"
        edits.append((l_start, close + 1, body))
    if not edits:
        return sql
    # BETWEEN/literal-IN edits never nest, but an IN-subquery edit can
    # CONTAIN a site inside its subquery body: the inner rewrite wins
    # and the outer keeps native semantics (its body text would clobber
    # the inner edit otherwise)
    edits = [
        (a, b, r) for i0, (a, b, r) in enumerate(edits)
        if not any(
            j != i0 and a2 >= a and b2 <= b and (a2, b2) != (a, b)
            for j, (a2, b2, _r2) in enumerate(edits)
        )
    ]
    # apply right-to-left
    for a, b, repl in sorted(edits, key=lambda t: t[0], reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _rev_case_start(sql, mask, e):
    """Start of the CASE expression whose END keyword ends at e
    (exclusive), or None — the backward twin of _div_scan_case, for
    the comparison pass's left-operand walk (r14)."""
    low = sql.lower()
    j = e - 1
    while j >= 0 and (mask[j].isalnum() or mask[j] == "_"):
        j -= 1
    if low[j + 1:e] != "end":
        return None
    depth = 1
    k = j
    while k >= 0:
        if mask[k].isalnum() or mask[k] == "_":
            w_end = k + 1
            while k >= 0 and (mask[k].isalnum() or mask[k] == "_"):
                k -= 1
            w = low[k + 1:w_end]
            if w == "end":
                depth += 1
            elif w == "case":
                depth -= 1
                if depth == 0:
                    return k + 1
        else:
            k -= 1
    return None


def _cmp_walk_back(sql, mask, e, stop_at_cmp=False):
    """Start of the arithmetic operand chain ENDING at e (exclusive):
    primary ((+|-|*|/|%) primary)* with unary +/- allowed; a primary
    may be a whole CASE … END. None when unscannable or glued to a
    non-arithmetic operator (||, bitwise — stepped since r15 — or
    another comparison: out of scope, Spark semantics kept).
    ``stop_at_cmp`` (the bitwise pass): a comparison/word-operator
    boundary ENDS the chain instead of bailing the site."""
    l_start = _rev_primary_start(sql, mask, e)
    if l_start is None:
        l_start = _rev_case_start(sql, mask, e)
    if l_start is None:
        return None
    while True:
        k = l_start - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k < 0:
            break
        c = mask[k]
        if c == "|" and k > 0 and mask[k - 1] == "|":
            # || chain: the concat result is a TEXT value with NO
            # affinity — include the left primary and walk on (r14)
            k2 = k - 2
            while k2 >= 0 and mask[k2] in " \t\r\n":
                k2 -= 1
            if k2 < 0:
                return None
            prev = _rev_primary_start(sql, mask, k2 + 1)
            if prev is None:
                prev = _rev_case_start(sql, mask, k2 + 1)
            if prev is None:
                return None
            l_start = prev
            continue
        if c in "+-*/%":
            k2 = k - 1
            while k2 >= 0 and mask[k2] in " \t\r\n":
                k2 -= 1
            if k2 >= 0 and (
                mask[k2].isalnum() or mask[k2] in "_)\x00"
            ):
                prev = _rev_primary_start(sql, mask, k2 + 1)
                if prev is None:
                    prev = _rev_case_start(sql, mask, k2 + 1)
                if prev is not None:
                    l_start = prev  # binary: include the left primary
                    continue
                # a keyword precedes (WHERE -1 …): the sign is unary
            if c in "+-":
                l_start = k  # unary sign binds into the operand
                continue
            return None  # stray * / % with nothing to its left
        # bitwise glue (& single-| << >>): binds tighter than any
        # comparison, result INTEGER with NO affinity (r15) — include
        # the left primary and walk on, like arithmetic
        bit = 0
        if c == "&" or (c == "|" and (k == 0 or mask[k - 1] != "|")):
            bit = 1
        elif c in "<>" and k > 0 and mask[k - 1] == c:
            bit = 2
        if bit:
            k2 = k - bit
            while k2 >= 0 and mask[k2] in " \t\r\n":
                k2 -= 1
            if k2 < 0:
                return None
            prev = _rev_primary_start(sql, mask, k2 + 1)
            if prev is None:
                prev = _rev_case_start(sql, mask, k2 + 1)
            if prev is None:
                return None
            l_start = prev
            continue
        if c == "~":
            l_start = k  # unary ~ binds into the operand (r15)
            continue
        if c in "|&<>=!":
            if stop_at_cmp:
                break  # chain boundary, not a bail (bitwise pass)
            return None
        if c.isalnum() or c == "_":
            # word OPERATOR glued to the chain (a LIKE b IS 0 parses as
            # (a LIKE b) IS 0 — LIKE binds tighter than IS): bail like
            # the symbol-operator case so the native compare is kept
            # instead of misgrouping the operand (r14 advice, low).
            ws = k
            while ws > 0 and (mask[ws - 1].isalnum() or mask[ws - 1] == "_"):
                ws -= 1
            w = sql[ws:k + 1].lower()
            if w == "div":
                # the division pass's own ` DIV ` emission (it runs
                # before the bitwise pass, whose operand walk lands
                # here): a mul-chain operator — include the left
                # primary and walk on (r16: `n / 3 >> x` became
                # `n DIV nullif(3,0) >> x` and the shift's left walk
                # stopped at the keyword, regrouping the division)
                k2 = ws - 1
                while k2 >= 0 and mask[k2] in " \t\r\n":
                    k2 -= 1
                if k2 < 0:
                    return None
                prev = _rev_primary_start(sql, mask, k2 + 1)
                if prev is None:
                    prev = _rev_case_start(sql, mask, k2 + 1)
                if prev is None:
                    return None
                l_start = prev
                continue
            if w in (
                "like", "glob", "regexp", "match", "escape", "is", "in",
                "between",
            ):
                if stop_at_cmp:
                    break
                return None
            if w == "and" and _and_closes_between(sql, mask, ws):
                # BETWEEN's AND: the operand is the upper bound of
                # (a BETWEEN b AND c) = s — rewriting [c = s] spliced
                # mid-expression (r15, was silent corruption)
                if stop_at_cmp:
                    break
                return None
        break
    # a paren-group primary preceded by EXISTS: the EXISTS belongs to
    # the operand (r15 — without this the span classified as a SCALAR
    # subquery, the wrong semantics entirely)
    if l_start < len(mask) and mask[l_start] == "(":
        k = l_start - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k >= 5 and sql[k - 5:k + 1].lower() == "exists" and (
            k == 5 or not (mask[k - 6].isalnum() or mask[k - 6] == "_")
        ):
            l_start = k - 5
    # a bare-word primary preceded by COLLATE is a collation NAME:
    # the operand is `<expr> COLLATE <name>` — include the collated
    # expression (r15; was an unconditional bail to native)
    wl = _WORD_RX.match(mask, l_start)
    if wl:
        k = l_start - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k >= 6 and sql[k - 6:k + 1].lower() == "collate" and (
            k == 6 or not (mask[k - 7].isalnum() or mask[k - 7] == "_")
        ):
            pe = k - 6
            while pe > 0 and mask[pe - 1] in " \t\r\n":
                pe -= 1
            prev = _cmp_walk_back(sql, mask, pe, stop_at_cmp)
            if prev is None or prev >= pe:
                return None
            l_start = prev
    return l_start


def _and_closes_between(sql, mask, pos) -> bool:
    """True when the AND at ``pos`` is a BETWEEN's conjunction: scanning
    BACKWARDS at the same paren depth, a `between` word appears before
    any boolean/clause boundary (a boolean AND would hit the previous
    predicate's comparison operator or keyword first)."""
    low = sql.lower()
    k = pos - 1
    while k >= 0:
        c = mask[k]
        if c in " \t\r\n":
            k -= 1
            continue
        if c == ")":
            close_depth = 1
            k -= 1
            while k >= 0 and close_depth:
                if mask[k] == ")":
                    close_depth += 1
                elif mask[k] == "(":
                    close_depth -= 1
                k -= 1
            continue
        if c == "(" or c in "=<>!,;":
            return False
        if c.isalnum() or c == "_":
            ws = k
            while ws > 0 and (mask[ws - 1].isalnum() or mask[ws - 1] == "_"):
                ws -= 1
            w = low[ws:k + 1]
            if w == "between":
                return True
            if w in ("and", "or", "not", "where", "on", "when", "then",
                     "else", "end", "having", "select", "from", "case",
                     "is", "in", "like", "glob", "match", "regexp",
                     "escape", "set", "by"):
                return False
            k = ws - 1
            continue
        k -= 1
    return False


# words that CONTINUE a comparison after a complete operand chain — a
# same-band or looser word operator ((s = n) LIKE p), a postfix null
# test, or an explicit collation; rewriting the inner site would splice
# mid-expression, so the walkers bail and native semantics are kept
_CMP_CONT_WORDS = frozenset({
    "is", "in", "like", "glob", "regexp", "match", "between", "not",
    "isnull", "notnull", "escape", "collate",
})


def _cmp_walk_fwd(sql, mask, pos, coltypes, stop_at_collate=False,
                  stop_at_cmp=False):
    """(first, end) of the arithmetic operand chain STARTING at pos:
    primary ((+|-|*|/|%) primary)*. None when the next token is a
    structural keyword or the chain glues into ||/bitwise."""
    j0 = _skip_ws(mask, pos)
    tpos = j0
    while tpos < len(sql) and mask[tpos] == "~":
        tpos = _skip_ws(mask, tpos + 1)  # unary ~ binds in (r15)
    r_first, r_end, rt = _div_scan_primary(
        sql, mask, tpos, len(sql), coltypes, []
    )
    if tpos > j0:
        if rt == "kw" or r_end <= tpos:
            return None
        r_first, rt = j0, "expr"
    if rt == "kw":
        # EXISTS (…) is a valid operand primary (INTEGER 0/1 in
        # SQLite): consume the keyword plus its paren group (r15)
        wm0 = _WORD_RX.match(mask, j0)
        if not (wm0 and sql[wm0.start():wm0.end()].lower() == "exists"):
            return None
        jp = _skip_ws(mask, wm0.end())
        if jp >= len(sql) or mask[jp] != "(":
            return None
        close0 = _div_find_close(mask, jp, len(sql))
        if close0 == -1:
            return None
        r_first, r_end = j0, close0 + 1
    while True:
        j = r_end
        while j < len(sql) and mask[j] in " \t\r\n":
            j += 1
        if j + 1 < len(sql) and mask[j] == "|" and mask[j + 1] == "|":
            # || chain: concat result is a TEXT value, NO affinity
            nf, ne, nt = _div_scan_primary(
                sql, mask, j + 2, len(sql), coltypes, []
            )
            if nt == "kw" or ne <= j + 2:
                return None
            r_end = ne
            continue
        if j < len(sql) and mask[j] in "+-*/%":
            nf, ne, nt = _div_scan_primary(
                sql, mask, j + 1, len(sql), coltypes, []
            )
            if nt == "kw" or ne <= j + 1:
                return None
            r_end = ne
            continue
        # ` DIV ` — the division pass's own emission (that pass runs
        # BEFORE the bitwise pass, whose operand walk lands here): a
        # mul-chain operator, continue through it (r16: `1 << n / 2`
        # became `1 << n DIV nullif(2,0)` and the count walk stopped
        # at the keyword, regrouping the shift)
        wdiv = _WORD_RX.match(mask, j) if j < len(sql) else None
        if wdiv and sql[wdiv.start():wdiv.end()].lower() == "div":
            nf, ne, nt = _div_scan_primary(
                sql, mask, wdiv.end(), len(sql), coltypes, []
            )
            if nt == "kw" or ne <= wdiv.end():
                return None
            r_end = ne
            continue
        # bitwise glue (& single-| << >>): tighter than any comparison,
        # INTEGER result, NO affinity (r15) — include the next primary
        bit = 0
        if j < len(sql) and mask[j] == "&":
            bit = 1
        elif j < len(sql) and mask[j] == "|":
            bit = 1  # single | (|| consumed above)
        elif (
            j + 1 < len(sql) and mask[j] in "<>" and mask[j + 1] == mask[j]
        ):
            bit = 2
        if bit:
            jn = _skip_ws(mask, j + bit)
            while jn < len(sql) and mask[jn] == "~":
                jn = _skip_ws(mask, jn + 1)  # unary ~ binds in (r15)
            nf, ne, nt = _div_scan_primary(
                sql, mask, jn, len(sql), coltypes, []
            )
            if nt == "kw" or ne <= jn:
                return None
            r_end = ne
            continue
        if j < len(sql) and mask[j] == "~":
            return None  # unary-~ glued: out of scope
        if j < len(sql) and mask[j] in "<>=!":
            # chained comparison: the op we're the operand of binds
            # LOOSER or equal (s = n < 1 is s = (n < 1) — SQLite's
            # <-family binds tighter than =); rewriting [s = n] would
            # splice mid-expression (r15, was silent corruption)
            if stop_at_cmp:
                break
            return None
        wmc = _WORD_RX.match(mask, j) if j < len(sql) else None
        if (
            stop_at_collate and wmc
            and sql[wmc.start():wmc.end()].lower() == "collate"
        ):
            break  # caller handles the collation clause (r15)
        if wmc and sql[wmc.start():wmc.end()].lower() in _CMP_CONT_WORDS:
            # word-operator continuation ((s = n) LIKE p, (s = n) IS 0,
            # x BETWEEN a AND (b = s) shapes): same mis-splice risk
            if stop_at_cmp:
                break
            return None
        break
    return r_first, r_end


# SQLite functions whose RESULT is text (func.c/date.c) — used only by
# the comparison classifier for the value class; they carry NO affinity
# numeric-RESULT functions whose passthru/static typing follows the
# argument, but whose SQLite VALUE is always a number (args coerce):
# the comparison classifier must not treat them as text (r17)
_CMP_NUM_RESULT_FUNCS = frozenset({
    "sum", "abs", "ceil", "ceiling", "floor", "trunc",
})
_CMP_AGG_CALL_RX = re.compile(
    r"(?i)\b(sum|avg|total|count|min|max|group_concat|string_agg)\s*\("
)
_CMP_TEXT_FUNCS = frozenset({
    "upper", "lower", "trim", "ltrim", "rtrim", "substr", "substring",
    "replace", "hex", "quote", "char", "typeof", "printf", "format",
    "group_concat", "string_agg", "date", "time", "datetime", "strftime",
    "concat", "concat_ws", "json", "json_quote", "json_insert",
    "json_replace", "json_set", "json_remove", "json_patch",
})


def _cmp_classify(span: str, coltypes):
    """SQLite affinity + static value class of a comparison operand
    (expr.c sqlite3ExprAffinity, pinned empirically: ONLY column
    references — parens transparent — and CASTs carry affinity;
    arithmetic, function calls, CASE, unary +/- all carry NONE).

    Returns (affinity, vclass): affinity in {'int','real','text',None,
    'unk'} with None = SQLite's NO affinity; vclass in {'num','text',
    'numlit','strlit','null','unk'} describing the static VALUE."""
    core = span.strip()
    while core.startswith("("):
        cm = _div_mask(core)
        if _div_find_close(cm, 0, len(core)) != len(core) - 1:
            break
        core = core[1:-1].strip()
    if not core:
        return "unk", "unk"
    cmc = re.match(r"(?is)^(.*\S)\s+collate\s+[a-z_][a-z0-9_]*$", core)
    if cmc:
        # COLLATE is transparent for affinity (expr.c sqlite3ExprAffinity
        # walks through TK_COLLATE) — classify the collated expression
        return _cmp_classify(cmc.group(1), coltypes)
    cm = _div_mask(core)
    sm = re.match(r"(?i)^select\b", core)
    if sm:
        # scalar subquery: affinity/value class of its first select item
        # (expr.c sqlite3ExprAffinity TK_SELECT — pinned: (SELECT m)
        # carries m's affinity, (SELECT max(m)) carries NONE)
        item = _in_sub_first_item(core, cm, core.lower(), sm.end(),
                                  len(core))
        if item is None:
            return "unk", "unk"
        aff, vcl = _cmp_classify(item, coltypes)
        # a literal item is still NULL-able through an empty result set:
        # demote to the guarded value classes
        if vcl == "numlit":
            vcl = "num"
        elif vcl == "strlit":
            vcl = "text"
        return aff, vcl
    em = re.match(r"(?i)^exists\s*\(", core)
    if em and _div_find_close(cm, em.end() - 1, len(core)) == len(core) - 1:
        # EXISTS is INTEGER 0/1 in SQLite (never NULL), boolean in
        # Spark: the 'bool' class routes it through an INT cast (r15)
        return None, "bool"
    tilde = core.startswith("~")
    # NOTE: a leading ~ must NOT classify before the depth-0 scan —
    # `~s < 10` is a COMPARISON at the top (bool), the ~ binds tighter
    # (r15 campaign find); the flag resolves after the scan below
    t = _div_walk(core, cm, 0, len(core), coltypes, [])
    low = core.lower()
    if low == "null":
        return None, "null"
    if _VD_IDENT_RX.fullmatch(core):
        if low in ("true", "false"):
            # TRUE/FALSE are INTEGER 1/0 literals in SQLite (3.23+),
            # BOOLEAN in Spark: the bool class converts them (r15)
            return None, "bool"
        if t in ("int", "real"):
            return t, "num"
        if t == "text":
            return "text", "text"
        return "unk", "unk"  # column of unknown type: bail
    if core.startswith("'") and _VD_LIT_RX.fullmatch(core):
        return None, "strlit"
    stripped = re.sub(r"^[+\-\s]+", "", core)
    if stripped and _NUM_LIT_RX.fullmatch(stripped):
        return None, "numlit"
    cmm = re.match(r"(?i)^(?:try_)?cast\s*\(", core)
    if cmm and core.endswith(")") and _div_find_close(
        cm, cmm.end() - 1, len(core)
    ) == len(core) - 1:
        inner = low[cmm.end():-1]
        k = inner.rfind(" as ")
        target = inner[k + 4:].strip().split("(")[0].strip() if k != -1 \
            else ""
        if "int" in target:
            return "int", "num"
        if any(x in target for x in ("real", "floa", "doub")):
            return "real", "num"
        if any(x in target for x in ("char", "clob", "text", "string")):
            return "text", "text"
        if target == "boolean":
            # engine emissions (CAST(NULL AS BOOLEAN) guard arms) and
            # Spark-typed user casts: boolean-valued (r15)
            return None, "bool"
        return "unk", "unk"  # BLOB / NUMERIC targets: out of scope
    wm = re.match(r"(?i)^([a-z_][a-z0-9_]*)\s*\(", core)
    if (
        wm and core.endswith(")")
        and wm.group(1).lower() in _CMP_TEXT_FUNCS
        and _div_find_close(cm, wm.end() - 1, len(core)) == len(core) - 1
    ):
        return None, "text"  # text-RESULT function, no affinity
    if (
        wm and core.endswith(")")
        and wm.group(1).lower() in _CMP_NUM_RESULT_FUNCS
        and _div_find_close(cm, wm.end() - 1, len(core)) == len(core) - 1
    ):
        # numeric-RESULT call even over TEXT args: SQLite coerces the
        # arguments, so sum(s)/abs(s)/ceil(s) are NUMBERS — the
        # passthru tracker types them by the argument, which fed a
        # WRONG type-order constant (`HAVING sum(s) > 10` was always
        # true — r17 silent find)
        return None, "num"
    if re.match(r"(?i)^case\b", core):
        marks = _case_marks(core, cm, 0, len(core))
        if marks and marks[-1][1] == "end" and \
                marks[-1][0] + 3 == len(core):
            # full-span CASE: the common class of its THEN/ELSE arms —
            # engine emissions (rowwise guards, type-order constants)
            # and user CASEs alike classify instead of bailing (r15).
            # NULL arms don't decide; mixed or unknown arms bail.
            arms = []
            prev_kw, prev_pos = None, None
            for mpos, kw in marks:
                if prev_kw in ("then", "else"):
                    arms.append(core[prev_pos:mpos].strip())
                prev_kw, prev_pos = kw, mpos + len(kw)
            cls = set()
            for a0 in arms:
                if not a0:
                    return "unk", "unk"
                _a0, v0 = _cmp_classify(a0, coltypes)
                if v0 == "null":
                    continue
                if v0 in ("num", "numlit"):
                    cls.add("num")
                elif v0 in ("text", "strlit"):
                    cls.add("text")
                elif v0 == "bool":
                    cls.add("bool")
                else:
                    return "unk", "unk"
            if len(cls) == 1:
                return None, cls.pop()
            return "unk", "unk"
    depth = 0
    has_concat = has_bitwise = has_cmp = has_arith = False
    after_operand = False
    i0 = 0
    while i0 < len(cm):
        c0 = cm[i0]
        if c0 == "(":
            depth += 1
        elif c0 == ")":
            depth -= 1
            if depth == 0:
                after_operand = True
        elif depth == 0:
            if c0 == "|" and cm[i0 + 1:i0 + 2] == "|":
                has_concat = True
                after_operand = False
                i0 += 2
                continue
            if (c0 in "<>" and cm[i0 + 1:i0 + 2] == c0):
                has_bitwise = True
                after_operand = False
                i0 += 2
                continue
            if c0 in "&|":
                has_bitwise = True
                after_operand = False
                i0 += 1
                continue
            if c0 in "<>=!":
                has_cmp = True
                after_operand = False
                i0 += 1
                continue
            if c0 in "+-*/%":
                # binary arithmetic (an operand precedes): the span's
                # VALUE is numeric — SQLite coerces every operand, so
                # `n + upper(s)` is a number even with text elements
                # (r16 c3; leading signs stay unary and don't decide)
                if after_operand:
                    has_arith = True
                after_operand = False
                i0 += 1
                continue
            w0 = _WORD_RX.match(cm, i0)
            if w0:
                word = core[i0:w0.end()].lower()
                if word == "case":
                    marks = _case_marks(core, cm, i0, len(core))
                    if marks is None:
                        return "unk", "unk"
                    i0 = marks[-1][0] + 3
                    after_operand = True
                    continue
                if word in ("is", "in", "like", "glob", "match",
                            "regexp", "between", "isnull", "notnull",
                            "and", "or", "not", "exists"):
                    # boolean connective / predicate at the top level:
                    # the span's VALUE is SQLite 0/1 INTEGER (r15)
                    has_cmp = True
                    after_operand = False
                    i0 = w0.end()
                    continue
                after_operand = True
                i0 = w0.end()
                continue
            if c0 not in " \t\r\n":
                after_operand = True
        i0 += 1
    if has_cmp:
        # comparisons bind loosest: the span is a predicate — INTEGER
        # 0/1 (possibly NULL) in SQLite, BOOLEAN in Spark
        return None, "bool"
    if has_bitwise:
        # bitwise glue binds LOOSEST of the value operators: the span's
        # top-level operator — result always INTEGER, no affinity (r15)
        return None, "num"
    if has_concat and not has_arith:
        # || binds TIGHTER than + - * / % — a span with top-level
        # binary arithmetic AND concat is an arithmetic chain over a
        # concat operand (numeric VALUE, r17); only a pure || chain
        # is a TEXT value
        return None, "text"  # || chain: TEXT value, no affinity
    if tilde:
        # ~x is ALWAYS INTEGER in SQLite (operand coerced) — the type
        # walker sees through to the operand and mis-typed ~s as TEXT,
        # which fed a WRONG type-order constant (r15 campaign find)
        return None, "num"
    # arithmetic chain / function call / unary sign: affinity NONE,
    # value class from the static type tracker
    if t == "null":
        return None, "null"
    if has_arith or core.startswith("-"):
        # binary arithmetic, or unary MINUS (numeric coercion then
        # negate — `-s` is a NUMBER; unary + is identity and keeps the
        # operand's class): numeric VALUE regardless of operand types
        return None, "num"
    if t in ("int", "real"):
        return None, "num"
    if t == "text":
        return None, "text"
    return "unk", "unk"


_IS_WORD_RX = re.compile(r"(?i)\bis\b")
_IS_SKIP_WORDS = frozenset({"null", "true", "false", "distinct"})


def _rewrite_is_operator(sql: str, coltypes) -> str:
    """SQLite `x IS y` / `x IS NOT y` with a general operand: null-safe
    equality UNDER COMPARISON AFFINITY (expr.c treats IS exactly like =
    plus NULL-equality; pinned: `s IS 7` matches '7', `n IS '7'`
    matches 7). Spark only parses IS [NOT] NULL/TRUE/FALSE/DISTINCT
    FROM, so the general form was a loud parse error before (r14).
    Untouched: those Spark-native forms."""
    if " is " not in sql.lower() and "\tis " not in sql.lower():
        if not re.search(r"(?i)\bis\b", sql):
            return sql
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    for m in _IS_WORD_RX.finditer(mask):
        j = _skip_ws(mask, m.end())
        wm = _WORD_RX.match(mask, j)
        neg = False
        opd_start = j
        if wm and low[wm.start():wm.end()] == "not":
            neg = True
            j2 = _skip_ws(mask, wm.end())
            wm2 = _WORD_RX.match(mask, j2)
            if wm2 and low[wm2.start():wm2.end()] in _IS_SKIP_WORDS:
                continue  # IS NOT NULL / IS NOT DISTINCT FROM / booleans
            opd_start = j2
        elif wm and low[wm.start():wm.end()] in _IS_SKIP_WORDS:
            continue  # IS NULL / IS DISTINCT FROM / IS TRUE/FALSE
        fwd = _cmp_walk_fwd(sql, mask, opd_start, coltypes)
        if fwd is None:
            continue
        r_first, r_end = fwd
        e = m.start()
        while e > 0 and mask[e - 1] in " \t\r\n":
            e -= 1
        l_start = _cmp_walk_back(sql, mask, e)
        if l_start is None:
            continue
        x = sql[l_start:e].strip()
        r = sql[r_first:r_end].strip()
        if not x or not r:
            continue
        body = _is_body(x, r, coltypes)
        if neg:
            body = f"(NOT {body})"
        edits.append((l_start, r_end, body))
    # IS sites never nest inside each other's operand spans (the walks
    # stop at comparison glue), but an operand may be a subquery holding
    # another site: inner wins, as in the range pass
    edits = [
        (a, b, r0) for i0, (a, b, r0) in enumerate(edits)
        if not any(
            j0 != i0 and a2 >= a and b2 <= b and (a2, b2) != (a, b)
            for j0, (a2, b2, _r2) in enumerate(edits)
        )
    ]
    for a, b, repl in sorted(edits, key=lambda t: t[0], reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _is_body(x: str, r: str, coltypes) -> str:
    """Null-safe-equality body for `x IS r` under comparison affinity."""
    affL, vclL = _cmp_classify(x, coltypes)
    affR, vclR = _cmp_classify(r, coltypes)
    base = f"(({x}) <=> ({r}))"
    if "unk" in (affL, affR, vclL, vclR) or "null" in (vclL, vclR):
        return base
    NUM = ("int", "real")

    def _ns_rowwise(num, txt):
        d = f"TRY_CAST(({txt}) AS DOUBLE)"
        return (
            f"(CASE WHEN ({num}) IS NULL OR ({txt}) IS NULL "
            f"THEN (({num}) IS NULL AND ({txt}) IS NULL) "
            f"WHEN {d} IS NOT NULL THEN ({num}) = {d} "
            f"ELSE false END)"
        )

    if affL is not None and affR is not None:
        if affL in NUM and affR == "text":
            return _ns_rowwise(x, r)
        if affL == "text" and affR in NUM:
            return _ns_rowwise(r, x)
        return base
    if (affL is None) != (affR is None):
        x_is_left = affR is None
        xa = affL if x_is_left else affR
        x_text = x if x_is_left else r
        o_text = r if x_is_left else x
        ov = vclR if x_is_left else vclL
        if ov in ("strlit", "numlit"):
            # peel balanced outer parens — classify saw through them
            # (row-value IS expansion emits `(n) IS ('2')` shapes, r15)
            while o_text.startswith("("):
                om = _div_mask(o_text)
                if _div_find_close(om, 0, len(o_text)) != len(o_text) - 1:
                    break
                o_text = o_text[1:-1].strip()
        if xa in NUM:
            if ov == "strlit":
                if _div_str_lit_type(_literal_content(o_text)) in NUM:
                    bare = _literal_content(o_text).strip()
                    return f"(({x_text}) <=> ({bare}))"
                return "(1 = 0)"  # junk literal never IS a numeric
            if ov == "text":
                return _ns_rowwise(x_text, o_text)
            if ov == "bool":
                return (f"(({x_text}) <=> "
                        f"(TRY_CAST(({o_text}) AS INT)))")
            return base
        if ov == "bool":
            # TEXT affinity: render the 0/1 through BIGINT (r15)
            return (f"(({x_text}) <=> "
                    f"(TRY_CAST(TRY_CAST(({o_text}) AS BIGINT) "
                    f"AS STRING)))")
        if ov == "numlit":
            body = o_text.lstrip("+- \t")
            neg0 = o_text[:len(o_text) - len(body)].count("-") % 2 == 1
            if _div_lit_type(body) == "real" or body[-1:] in "dDfF":
                v = float(body.rstrip("dDfF"))
                lit = _sqlite_double_text_static(-v if neg0 else v)
            else:
                lit = ("-" if neg0 else "") + body
            lit_sql = "'" + lit.replace("'", "''") + "'"
            return f"(({x_text}) <=> {lit_sql})"
        if ov == "num":
            t0 = _cmp_num_type(o_text, coltypes)
            if t0 == "int":
                rend = f"TRY_CAST(({o_text}) AS STRING)"
            elif t0 == "real":
                rend = f"filesql_double_text(TRY_CAST(({o_text}) AS DOUBLE))"
            else:
                return base
            return f"(({x_text}) <=> ({rend}))"
        return base
    num_l = vclL in ("num", "numlit")
    txt_r = vclR in ("strlit", "text")
    num_r = vclR in ("num", "numlit")
    txt_l = vclL in ("strlit", "text")
    if (num_l and txt_r) or (txt_l and num_r):
        guards = [
            f"({t0}) IS NULL"
            for t0, vc in ((x, vclL), (r, vclR))
            if vc in ("num", "text")
        ]
        if not guards:
            return "(1 = 0)"  # literal vs literal of mixed classes
        if len(guards) == 2:
            return f"({guards[0]} AND {guards[1]})"
        return "(1 = 0)"  # one side a literal: never both NULL
    return base


def _cmp_num_type(span: str, coltypes):
    """Static int/real type of a numeric-valued comparison operand, for
    the TEXT-rendering branch — descends into a scalar subquery's first
    select item (the span itself walks as unknown)."""
    core = span.strip()
    while core.startswith("("):
        cm0 = _div_mask(core)
        if _div_find_close(cm0, 0, len(core)) != len(core) - 1:
            break
        core = core[1:-1].strip()
    sm = re.match(r"(?i)^select\b", core)
    if sm:
        cm0 = _div_mask(core)
        item = _in_sub_first_item(core, cm0, core.lower(), sm.end(),
                                  len(core))
        if item is None:
            return None
        return _cmp_num_type(item, coltypes)
    if core.startswith("~"):
        return "int"  # ~x is always INTEGER (r15)
    cm0 = _div_mask(core)
    depth = 0
    i0 = 0
    while i0 < len(cm0):  # bitwise chain: result is ALWAYS INTEGER
        c0 = cm0[i0]
        if c0 == "(":
            depth += 1
        elif c0 == ")":
            depth -= 1
        elif depth == 0:
            if c0 == "|" and cm0[i0 + 1:i0 + 2] == "|":
                i0 += 2
                continue
            if c0 in "&|" or (c0 in "<>" and cm0[i0 + 1:i0 + 2] == c0):
                return "int"
        i0 += 1
    return _div_walk(core, cm0, 0, len(core), coltypes, [])


def _cmp_chain_render(span: str, coltypes) -> str | None:
    """SQLite TEXT-affinity rendering of a numeric-valued arithmetic
    chain whose int-vs-real flavor is VALUE-dependent (TEXT operands
    under numeric-prefix coercion — `n + (1 || '2')`, `n - s`): the
    flavor is INTEGER exactly when no text operand carries a real
    prefix, so dispatch the rendering on the same RLIKE condition the
    value-dependent arithmetic pass uses (r17 — closes the concat-
    inside-arithmetic-inside-comparison loud residue). None when the
    span has non-analyzable operands (stays loud-native)."""
    core = span.strip()
    while core.startswith("("):
        cm0 = _div_mask(core)
        if _div_find_close(cm0, 0, len(core)) != len(core) - 1:
            break
        inner = core[1:-1].strip()
        if not inner:
            return None
        core = inner
    mask = _div_mask(core)
    conds: list[str] = []
    saw_real = False
    pos, end = 0, len(core)
    expect_primary = True
    while pos < end:
        c = mask[pos]
        if c in " \t\r\n":
            pos += 1
            continue
        if expect_primary:
            first, p_end, t = _div_scan_primary(
                core, mask, pos, end, coltypes, []
            )
            if t == "kw" or p_end <= pos:
                return None
            p_text = core[first:p_end].strip()
            # strip leading unary signs for the flavor probe (the sign
            # commutes through the coercion's int/real decision; a ~
            # coerces INTEGER regardless)
            bare = p_text
            tilde = False
            while bare[:1] in "+-~":
                tilde = tilde or bare[0] == "~"
                bare = bare[1:].lstrip()
            if t in ("int", "null") or tilde:
                pass
            elif t == "real":
                saw_real = True
            elif t == "text":
                if not _vd_operand_ok(bare) or _CMP_AGG_CALL_RX.search(
                    bare
                ):
                    # aggregates have their own group-level flavor
                    # dispatch (_sum_text_render) — out of scope here
                    return None
                conds.append(
                    f"NOT (({bare}) RLIKE {_VD_REAL_PREFIX_SQL})"
                )
            else:
                return None
            pos = p_end
            expect_primary = False
            continue
        # operator position
        if c in "+-*/%":
            pos += 1
            expect_primary = True
            continue
        if c == "|" and mask[pos + 1:pos + 2] == "|":
            return None  # raw top-level concat: the grouping pass
            # normally parenthesizes these; decline the rest
        if c in "&|<>=!" or _WORD_RX.match(mask, pos):
            return None  # bitwise/comparison/keyword glue: not a bare
            # arithmetic chain — out of scope
        return None
    if expect_primary:
        return None
    if saw_real:
        # a REAL element fixes the chain's flavor regardless of the
        # text operands' content: render %!.15g unconditionally
        return f"filesql_double_text(TRY_CAST(({span}) AS DOUBLE))"
    if not conds:
        return None  # statically typed: the caller's static path owns it
    cond = " AND ".join(conds)
    return (
        f"(CASE WHEN {cond} "
        f"THEN CAST(TRY_CAST(({span}) AS BIGINT) AS STRING) "
        f"ELSE filesql_double_text(TRY_CAST(({span}) AS DOUBLE)) END)"
    )


def _cmp_case_distribute(case_text, other_text, cmp_op, case_is_left):
    """`CASE … END op other` with mixed-class arms → the CASE of the
    per-arm comparisons (SQLite evaluates exactly one arm, so the
    rewrite is identity; each emitted site is then re-processed by the
    compare pass under that arm's own affinity). None when the span is
    not a full searched CASE. A missing ELSE yields NULL — compared,
    still NULL."""
    core = case_text.strip()
    while core.startswith("("):
        cm0 = _div_mask(core)
        if _div_find_close(cm0, 0, len(core)) != len(core) - 1:
            break
        core = core[1:-1].strip()
    if not re.match(r"(?i)^case\b", core):
        return None
    cm = _div_mask(core)
    marks = _case_marks(core, cm, 0, len(core))
    if not marks or marks[-1][1] != "end" or \
            marks[-1][0] + 3 != len(core.rstrip()) and \
            marks[-1][0] + 3 != len(core):
        return None
    if marks[0][1] != "when" or core[4:marks[0][0]].strip():
        return None  # simple CASE (compares values): out of scope
    def _arm_wrap(arm):
        # a CASE's VALUE carries NO affinity (sqlite3ExprAffinity:
        # only columns and CASTs do, and TK_CASE is neither) — but a
        # distributed arm that IS a column or CAST would re-carry it
        # at the new site. Unary + strips affinity with the exact
        # SQLite semantics (and this engine's classifier models it).
        a0 = arm.strip()
        if _VD_IDENT_RX.fullmatch(a0) and a0.lower() not in (
            "null", "true", "false"
        ):
            return f"+{a0}"
        if re.match(r"(?i)^(try_)?cast\s*\(", a0):
            return f"+({a0})"
        return a0

    def site(arm):
        if case_is_left:
            return f"(({_arm_wrap(arm)}) {cmp_op} ({other_text}))"
        return f"(({other_text}) {cmp_op} ({_arm_wrap(arm)}))"
    parts = ["CASE"]
    prev_kw, prev_pos = None, None
    has_else = False
    for mpos, kw in marks:
        if prev_kw == "when":
            parts.append(f"WHEN {core[prev_pos:mpos].strip()}")
        elif prev_kw in ("then", "else"):
            arm = core[prev_pos:mpos].strip()
            if not arm:
                return None
            parts.append(f"THEN {site(arm)}" if prev_kw == "then"
                         else f"ELSE {site(arm)}")
            has_else = has_else or prev_kw == "else"
        prev_kw, prev_pos = kw, mpos + len(kw)
    if not has_else:
        parts.append("ELSE CAST(NULL AS BOOLEAN)")
    parts.append("END")
    return "(" + " ".join(parts) + ")"


def _cmp_match_site(sql, mask, opos, op, coltypes):
    e = opos
    while e > 0 and mask[e - 1] in " \t\r\n":
        e -= 1
    l_start = _cmp_walk_back(sql, mask, e)
    if l_start is None:
        return None
    fwd = _cmp_walk_fwd(sql, mask, opos + len(op), coltypes,
                        stop_at_collate=True)
    if fwd is None:
        return None
    r_first, r_end = fwd
    # trailing COLLATE (r15, datatype3.html §5.2): affinity conversion
    # happens FIRST, then the collation applies only if the comparison
    # is still textual. NOCASE on a text-compare site attaches as
    # UTF8_LCASE; on a numeric-conversion or type-order site the
    # collation is irrelevant and is consumed. Unknown collations and
    # affinity-clean sites stay native (the collate pass renames them).
    low = sql.lower()
    coll = None
    r_close = r_end
    jc = _skip_ws(mask, r_end)
    wmc = _WORD_RX.match(mask, jc) if jc < len(sql) else None
    if wmc and low[wmc.start():wmc.end()] == "collate":
        jn = _skip_ws(mask, wmc.end())
        wmn = _WORD_RX.match(mask, jn) if jn < len(sql) else None
        if not wmn or low[wmn.start():wmn.end()] not in ("nocase",
                                                         "binary"):
            return None  # RTRIM/custom: native (collate pass raises)
        coll = low[wmn.start():wmn.end()]
        r_close = wmn.end()
        # COLLATE binds tighter than || / arithmetic / bitwise
        # (datatype3.html §5.2): if such an operator follows the
        # collation name, the right operand CONTINUES past it —
        # `s = n COLLATE NOCASE || 'y'` is `s = ((n COLLATE NOCASE)
        # || 'y')`. Consuming the clause here would splice the bare
        # compare and leave the operator glued to a boolean; keep
        # the native path instead (the collate-rename pass groups
        # it correctly).
        jp = _skip_ws(mask, r_close)
        if jp < len(mask):
            nx2 = mask[jp:jp + 2]
            if nx2 in ("||", "<<", ">>") or mask[jp] in "+-*/%&|~":
                return None
    coll_sfx = " COLLATE UTF8_LCASE" if coll == "nocase" else ""
    p_text = sql[l_start:e].strip()
    r_text = sql[r_first:r_end].strip()
    if not p_text or not r_text:
        return None
    cmp_op = "=" if op == "==" else op
    affL, vclL = _cmp_classify(p_text, coltypes)
    affR, vclR = _cmp_classify(r_text, coltypes)
    if "unk" in (affL, affR, vclL, vclR):
        # a mixed-arm searched CASE operand (arms of DIFFERENT value
        # classes — `CASE WHEN c THEN '0' ELSE abs(n) END`) has
        # PER-ROW comparison semantics SQLite decides by the fired
        # arm's storage class; no static class captures it. When the
        # OTHER side is cheap to duplicate, DISTRIBUTE the comparison
        # into the arms and let this pass re-process each site with
        # its exact affinity (r16 campaign 4; Spark's static typing
        # would coerce every arm to the common STRING type instead).
        def _dup_ok(t0):
            # the other side is duplicated per arm: simple/compound
            # operands qualify directly; deterministic chains qualify
            # through a paren wrap (same cap/blocklist)
            return _vd_operand_ok(t0) or _vd_compound_operand(f"({t0})")

        d = None
        if "unk" in (affL, vclL) and coll is None and _dup_ok(r_text):
            d = _cmp_case_distribute(p_text, r_text, cmp_op, True)
        elif "unk" in (affR, vclR) and coll is None and _dup_ok(p_text):
            d = _cmp_case_distribute(r_text, p_text, cmp_op, False)
        if d is not None:
            return l_start, r_close, d
        return None
    if "null" in (vclL, vclR):
        if "bool" in (vclL, vclR) or coll is not None:
            # NULL vs a predicate/EXISTS operand (boolean crash) or a
            # trailing COLLATE (Spark rejects it on non-strings): the
            # SQLite result is NULL unconditionally — emit it (r15)
            return l_start, r_close, "TRY_CAST(NULL AS BOOLEAN)"
        return None
    NUM = ("int", "real")

    def _strip_coll():
        # the comparison resolved NUMERIC on both sides: SQLite ignores
        # the collation there, but Spark rejects COLLATE on a numeric —
        # re-emit the bare comparison, consuming the clause (r15)
        if coll is None:
            return None
        return l_start, r_close, f"(({p_text}) {cmp_op} ({r_text}))"

    def _rowwise(num, txt, text_right):
        # numeric-affinity side vs text-VALUED side: NUMERIC conversion
        # attempted per row; unconvertible text keeps type order
        d = f"TRY_CAST(({txt}) AS DOUBLE)"
        n_op_d = (
            f"({num}) {cmp_op} {d}" if text_right
            else f"{d} {cmp_op} ({num})"
        )
        const = _CMP_TEXT_GREATER[
            cmp_op if text_right else _CMP_MIRROR[cmp_op]
        ]
        return l_start, r_close, (
            f"(CASE WHEN ({num}) IS NULL OR ({txt}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {d} IS NOT NULL THEN {n_op_d} "
            f"ELSE {const} END)"
        )

    # ---- both sides carry affinity (columns / CASTs): NUMERIC wins
    if affL is not None and affR is not None:
        if affL in NUM and affR == "text":
            return _rowwise(p_text, r_text, True)
        if affL == "text" and affR in NUM:
            return _rowwise(r_text, p_text, False)
        if affL in NUM and affR in NUM:
            return _strip_coll()  # numeric compare: collation inert
        return None  # both text: native semantics agree
    # ---- exactly one side carries affinity: it applies to the other
    if (affL is None) != (affR is None):
        x_is_left = affR is None
        xa = affL if x_is_left else affR
        x_text = p_text if x_is_left else r_text
        o_text = r_text if x_is_left else p_text
        ov = vclR if x_is_left else vclL
        if ov in ("strlit", "numlit"):
            # classify saw through balanced outer parens — peel them so
            # the literal render/unquote paths see the bare token (r15:
            # row-value expansion emits `(n) = ('2')` shapes)
            while o_text.startswith("("):
                om = _div_mask(o_text)
                if _div_find_close(om, 0, len(o_text)) != len(o_text) - 1:
                    break
                o_text = o_text[1:-1].strip()
        if xa in NUM:
            if ov == "strlit":
                if _div_str_lit_type(_literal_content(o_text)) in NUM:
                    # clean-numeric string literal converts: unquote so
                    # Spark compares numerically (its native cast to
                    # the column's INTEGER type ANSI-crashes on '7.5')
                    bare = _literal_content(o_text).strip()
                    if x_is_left:
                        return l_start, r_close, \
                            f"(({x_text}) {cmp_op} ({bare}))"
                    return l_start, r_close, f"(({bare}) {cmp_op} ({x_text}))"
                # junk literal: statically unconvertible → type order
                const = _CMP_TEXT_GREATER[
                    cmp_op if x_is_left else _CMP_MIRROR[cmp_op]
                ]
                return l_start, r_close, (
                    f"(CASE WHEN ({x_text}) IS NULL "
                    f"THEN CAST(NULL AS BOOLEAN) ELSE {const} END)"
                )
            if ov == "text":
                # text-valued no-affinity operand (upper(s), s1||s2 via
                # funcs): NUMERIC affinity converts per row
                return _rowwise(x_text, o_text, x_is_left)
            if ov == "bool":
                # predicate operand: SQLite 0/1 INTEGER vs Spark
                # BOOLEAN — numeric compare through an INT cast (r15)
                ob = f"TRY_CAST(({o_text}) AS INT)"
                if x_is_left:
                    return l_start, r_close, f"(({x_text}) {cmp_op} ({ob}))"
                return l_start, r_close, f"(({ob}) {cmp_op} ({x_text}))"
            # numeric-valued operand: both sides numeric
            return _strip_coll()
        # X carries TEXT affinity: it applies to the numeric other side
        if ov == "bool":
            # TEXT affinity renders the 0/1 (BIGINT first: a bare
            # boolean casts to 'true'/'false' strings in Spark)
            rend = f"TRY_CAST(TRY_CAST(({o_text}) AS BIGINT) AS STRING)"
            if x_is_left:
                return l_start, r_close, \
                    f"(({x_text}) {cmp_op} ({rend}{coll_sfx}))"
            return l_start, r_close, \
                f"(({rend}{coll_sfx}) {cmp_op} ({x_text}))"
        if ov == "numlit":
            # STRING comparison against SQLite's static rendering;
            # peel parens AND signs in any nesting order — classify
            # saw through them, so `(1)` / `-(2)` reach here (r15)
            body, neg = o_text, False
            while True:
                b2 = body.lstrip("+ \t")
                while b2.startswith("-"):
                    neg = not neg
                    b2 = b2[1:].lstrip("+ \t")
                if b2.startswith("("):
                    bm0 = _div_mask(b2)
                    if _div_find_close(bm0, 0, len(b2)) == len(b2) - 1:
                        body = b2[1:-1].strip()
                        continue
                body = b2
                break
            if _div_lit_type(body) == "real" or body[-1:] in "dDfF":
                v = float(body.rstrip("dDfF"))
                lit = _sqlite_double_text_static(-v if neg else v)
            else:
                lit = ("-" if neg else "") + body
            lit_sql = "'" + lit.replace("'", "''") + "'"
            if x_is_left:
                return l_start, r_close, \
                    f"(({x_text}) {cmp_op} ({lit_sql}{coll_sfx}))"
            return l_start, r_close, \
                f"(({lit_sql}{coll_sfx}) {cmp_op} ({x_text}))"
        if ov == "num":
            # numeric-valued compound/function (a+1, abs(a), a/2 …):
            # TEXT affinity renders the VALUE, then string-compares
            # (r14 — the compound-operand residue, VERDICT r13 #4;
            # empirically arithmetic carries NO affinity in SQLite, so
            # the TEXT column side wins — not NUMERIC as assumed)
            t0 = _cmp_num_type(o_text, coltypes)
            if t0 == "int":
                # TRY_CAST, not CAST: the cast pass skips the whole
                # interior of a CAST it declines, leaving any SQLite-
                # spelled casts inside o_text (truthiness wraps, user
                # CASTs) unexpanded; try_cast is not matched by it
                rend = f"TRY_CAST(({o_text}) AS STRING)"
            elif t0 == "real":
                rend = f"filesql_double_text(TRY_CAST(({o_text}) AS DOUBLE))"
            else:
                # value-dependent chain (TEXT operands): runtime
                # flavor dispatch (r17)
                rend = _cmp_chain_render(o_text, coltypes)
                if rend is None:
                    return None
            if x_is_left:
                return l_start, r_close, \
                    f"(({x_text}) {cmp_op} ({rend}{coll_sfx}))"
            return l_start, r_close, \
                f"(({rend}{coll_sfx}) {cmp_op} ({x_text}))"
        return None  # strlit / text value vs TEXT affinity: native
    # ---- neither side carries affinity: raw values, type order
    if (vclL == "bool") != (vclR == "bool") and {vclL, vclR} <= {
        "num", "numlit", "bool"
    }:
        # bool vs numeric value: SQLite compares the 0/1 numerically;
        # Spark cannot compare BOOLEAN with a number — INT-cast it
        bool_left = vclL == "bool"
        b_t = p_text if bool_left else r_text
        o_t = r_text if bool_left else p_text
        ob = f"TRY_CAST(({b_t}) AS INT)"
        if bool_left:
            return l_start, r_close, f"(({ob}) {cmp_op} ({o_t}))"
        return l_start, r_close, f"(({o_t}) {cmp_op} ({ob}))"
    num_l = vclL in ("num", "numlit", "bool")
    txt_r = vclR in ("strlit", "text")
    num_r = vclR in ("num", "numlit", "bool")
    txt_l = vclL in ("strlit", "text")
    if (num_l and txt_r) or (txt_l and num_r):
        const = _CMP_TEXT_GREATER[
            cmp_op if txt_r else _CMP_MIRROR[cmp_op]
        ]
        guards = [
            f"({t0}) IS NULL"
            for t0, vc in ((p_text, vclL), (r_text, vclR))
            if vc in ("num", "text", "bool")  # literals are never NULL
        ]
        if not guards:
            # (1 = 1)/(1 = 0), not (true)/(false): a bare paren'd
            # identifier after WHERE parses as a relation column-alias
            # list in Spark (r15 campaign find)
            safe = "(1 = 1)" if const == "true" else "(1 = 0)"
            return l_start, r_close, safe
        return l_start, r_close, (
            f"(CASE WHEN {' OR '.join(guards)} "
            f"THEN CAST(NULL AS BOOLEAN) ELSE {const} END)"
        )
    if not (txt_l or txt_r):
        return _strip_coll()  # numeric/bool compare: collation inert
    return None


_SELECT_WORD_RX = re.compile(r"(?i)\bselect\b")
_MINMAX_ITEM_RX = re.compile(r"(?i)^(min|max)\s*\(")
_BARE_IDENT_ALIAS_RX = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)"
    r"(\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*))?$",
    re.IGNORECASE,
)
_BARE_SKIP_WORDS = frozenset({
    "distinct", "all", "null", "true", "false", "case", "cast",
})


def _rewrite_bare_minmax(sql: str) -> str:
    """SQLite's bare-columns-in-aggregate extension (select.c
    minMaxQuery): when a select list holds EXACTLY ONE single-argument
    min()/max() aggregate, bare columns take their values from a row
    holding that extremum — exactly Spark's min_by/max_by. Handled for
    select lists whose non-aggregate items are simple (optionally
    aliased) column references; anything else stays on Spark's loud
    MISSING_GROUP_BY error (which also covers SQLite's arbitrary-row
    cases: zero or several min/max aggregates)."""
    low = sql.lower()
    if "min(" not in low and "max(" not in low and "min (" not in low \
            and "max (" not in low:
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for sm in _SELECT_WORD_RX.finditer(mask):
        # select list span: to the matching depth-0 FROM
        i = sm.end()
        depth = 0
        list_end = -1
        while i < len(sql):
            c = mask[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif depth == 0:
                wm = _WORD_RX.match(mask, i)
                if wm:
                    if low[wm.start():wm.end()] == "from":
                        list_end = wm.start()
                        break
                    i = wm.end()
                    continue
            i += 1
        if list_end == -1:
            continue
        items = _div_split_args(mask, sm.end(), list_end)
        if len(items) < 2:
            continue
        agg = None          # ('min'|'max', arg_text)
        bare = []           # (index, ident, alias)
        ok = True
        for idx, (a, b) in enumerate(items):
            t = sql[a:b].strip()
            body, alias = t, None
            am = re.match(
                r"(?is)^(.*\))\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*)$", t
            )
            if am and am.group(2).lower() not in _BARE_SKIP_WORDS:
                body, alias = am.group(1).strip(), am.group(2)
            m = _MINMAX_ITEM_RX.match(body)
            bmask = _div_mask(body)
            if m and body.endswith(")") and _div_find_close(
                bmask, m.end() - 1, len(body)
            ) == len(body) - 1:
                args = _div_split_args(bmask, m.end(), len(body) - 1)
                if len(args) != 1:
                    ok = False  # scalar min/max mixed in: out of scope
                    break
                if agg is not None:
                    ok = False  # several min/max: SQLite arbitrary row
                    break
                arg_txt = body[args[0][0]:args[0][1]].strip()
                # max(DISTINCT b): DISTINCT is a no-op for min/max, but
                # max_by(x, DISTINCT b) won't parse — pair on the bare arg
                arg_txt = re.sub(r"(?i)^distinct\b\s*", "", arg_txt)
                if not arg_txt:
                    ok = False
                    break
                agg = (m.group(1).lower(), arg_txt)
                continue
            cm = re.match(r"^[A-Za-z_][A-Za-z0-9_]*\s*\(", body)
            if cm and body.endswith(")") and _div_find_close(
                bmask, cm.end() - 1, len(body)
            ) == len(body) - 1:
                continue  # another whole-call item (count(*), sum(x)…):
                # leave as written — aggregates are fine, and a scalar
                # call over ungrouped columns keeps Spark's loud error
            bm = _BARE_IDENT_ALIAS_RX.match(t)
            if bm and bm.group(1).lower() not in _BARE_SKIP_WORDS and (
                not bm.group(3) or bm.group(3).lower() not in
                _BARE_SKIP_WORDS
            ):
                bare.append((idx, bm.group(1), bm.group(3)))
                continue
            ok = False  # expression item: out of scope
            break
        if not ok or agg is None or not bare:
            continue
        # GROUP BY columns stay bare legally
        gb_cols: set[str] = set()
        grouped_pos: set[int] = set()
        j = list_end
        depth = 0
        while j < len(sql):
            c = mask[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif depth == 0:
                wm = _WORD_RX.match(mask, j)
                if wm and low[wm.start():wm.end()] == "group":
                    k = _skip_ws(mask, wm.end())
                    wb = _WORD_RX.match(mask, k)
                    if wb and low[wb.start():wb.end()] == "by":
                        k = wb.end()
                        # cols until terminator
                        kk = k
                        d2 = 0
                        while kk < len(sql):
                            cc = mask[kk]
                            if cc == "(":
                                d2 += 1
                            elif cc == ")":
                                if d2 == 0:
                                    break
                                d2 -= 1
                            elif cc == ";" and d2 == 0:
                                break
                            elif d2 == 0:
                                w2 = _WORD_RX.match(mask, kk)
                                if w2:
                                    w = low[w2.start():w2.end()]
                                    if w in ("having", "order", "limit",
                                             "union", "intersect",
                                             "except", "window"):
                                        break
                                    kk = w2.end()
                                    continue
                            kk += 1
                        for g0, g1 in _div_split_args(mask, k, kk):
                            g = sql[g0:g1].strip().lower()
                            if g.isdigit():
                                # GROUP BY <ordinal> → that select item
                                grouped_pos.add(int(g) - 1)
                            else:
                                gb_cols.add(g)
                    break
                if wm:
                    j = wm.end()
                    continue
            j += 1
        fn = "max_by" if agg[0] == "max" else "min_by"
        for idx, ident, alias in bare:
            lo_id = ident.lower()
            # a bare item is legally grouped when GROUP BY names it by
            # ordinal position, by its alias, by its full (possibly
            # dotted) name, or by the unqualified last segment either way
            if (
                idx in grouped_pos
                or lo_id in gb_cols
                or lo_id.split(".")[-1] in gb_cols
                or any(g.split(".")[-1] == lo_id for g in gb_cols)
                or (alias and alias.lower() in gb_cols)
                or ident == "*"
            ):
                continue
            a, b = items[idx]
            out_name = alias or ident.split(".")[-1]
            edits.append((
                a, b,
                f" {fn}({ident}, {agg[1]}) AS {out_name}",
            ))
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda t: t[0], reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


_LIMIT_WORD_RX = re.compile(r"(?i)\blimit\b")


_RANK_FRAME_FNS = frozenset({
    "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
    "ntile", "lag", "lead",
})
_OVER_PAREN_RX = re.compile(r"(?i)\bover\s*\(")


def _strip_rank_frames(sql: str) -> str:
    """SQLite IGNORES the frame clause on ranking/offset window
    functions (window.c: row_number/rank/dense_rank/percent_rank/
    cume_dist/ntile/lag/lead are frame-insensitive); Spark REJECTS any
    explicit non-default frame on them. Strip ROWS/RANGE/GROUPS …
    from their OVER specs so the form runs with SQLite semantics."""
    if "over" not in sql.lower():
        return sql
    mask = _div_mask(sql)
    low = sql.lower()
    edits: list[tuple[int, int, str]] = []
    for m in _OVER_PAREN_RX.finditer(mask):
        # the call this OVER belongs to: fn ( … ) immediately before
        e = m.start()
        while e > 0 and mask[e - 1] in " \t\r\n":
            e -= 1
        l_start = _rev_primary_start(sql, mask, e)
        if l_start is None:
            continue
        wm = _WORD_RX.match(mask, l_start)
        if not wm or low[wm.start():wm.end()] not in _RANK_FRAME_FNS:
            continue
        popen = m.end() - 1
        close = _div_find_close(mask, popen, len(sql))
        if close == -1:
            continue
        j = popen + 1
        depth = 0
        while j < close:
            c = mask[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0:
                w = _WORD_RX.match(mask, j)
                if w:
                    if low[w.start():w.end()] in ("rows", "range",
                                                  "groups"):
                        # only a real frame clause: the next token must
                        # START one (BETWEEN/UNBOUNDED/CURRENT/<number>).
                        # A column legitimately named `range` in the
                        # ORDER BY must survive (r14 advice, low).
                        k = _skip_ws(mask, w.end())
                        nw = _WORD_RX.match(mask, k) if k < close else None
                        nxt = low[nw.start():nw.end()] if nw else ""
                        if (nxt in ("between", "unbounded", "current")
                                or (k < close and mask[k].isdigit())):
                            edits.append((w.start(), close, ""))
                            break
                    j = w.end()
                    continue
            j += 1
    for a, b, repl in sorted(edits, key=lambda t: t[0], reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _rewrite_limit_forms(sql: str) -> str:
    """SQLite's two extra LIMIT spellings (select.c): `LIMIT a, b` is
    LIMIT b OFFSET a (the MySQL-compatible comma form), and a NEGATIVE
    literal limit means no limit at all (Spark rejects negatives)."""
    if "limit" not in sql.lower():
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _LIMIT_WORD_RX.finditer(mask):
        i = _skip_ws(mask, m.end())
        # negative integer literal → drop the clause
        nm = re.match(r"-\s*\d+", mask[i:])
        if nm:
            j = _skip_ws(mask, i + nm.end())
            wm = _WORD_RX.match(mask, j) if j < len(sql) else None
            nxt = sql[wm.start():wm.end()].lower() if wm else ""
            if not nxt or nxt != "offset":
                edits.append((m.start(), i + nm.end(), ""))
            else:
                # Spark limits are INT-typed and LIMIT+OFFSET must fit
                # in int32: 2^30 is "no limit" for any real result set
                edits.append((m.start(), i + nm.end(),
                              f"LIMIT {2**30}"))
            continue
        # comma form: first expr ends at a depth-0 comma before any
        # terminator
        depth = 0
        k = i
        comma = -1
        while k < len(sql):
            c = mask[k]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif c == "," and depth == 0:
                comma = k
                break
            elif depth == 0:
                wm = _WORD_RX.match(mask, k)
                if wm:
                    if sql[wm.start():wm.end()].lower() in (
                        "offset", "union", "intersect", "except", "order",
                    ):
                        break
                    k = wm.end()
                    continue
            k += 1
        if comma == -1:
            continue
        # second expr: to the next terminator
        k2 = comma + 1
        depth = 0
        while k2 < len(sql):
            c = mask[k2]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif depth == 0:
                wm = _WORD_RX.match(mask, k2)
                if wm:
                    if sql[wm.start():wm.end()].lower() in (
                        "offset", "union", "intersect", "except", "order",
                    ):
                        break
                    k2 = wm.end()
                    continue
            k2 += 1
        a_txt = sql[i:comma].strip()
        b_txt = sql[comma + 1:k2].strip()
        if not a_txt or not b_txt:
            continue
        if re.match(r"^-\s*\d+$", b_txt):
            # negative limit in the comma form too means "no limit"
            # (offset still applies): LIMIT 1, -1 ≡ everything after 1
            b_txt = str(2**30)
        edits.append((m.start(), k2, f"LIMIT {b_txt} OFFSET {a_txt}"))
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda t: t[0], reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


_CLAUSE_WORD_RX = re.compile(r"(?i)\b(where|having|on)\b")
_WHERE_TERMINATORS = frozenset({
    "group", "having", "order", "limit", "offset", "window", "union",
    "intersect", "except", "returning",
})
_ON_TERMINATORS = _WHERE_TERMINATORS | frozenset({
    "where", "on", "join", "inner", "left", "right", "full", "cross",
    "natural", "using",
})
_JOIN_WORDS = frozenset({"join"})


def _rewrite_clause_truthiness(sql: str) -> str:
    """WHERE / HAVING / join-ON conditions evaluate under SQLite
    truthiness exactly like CASE WHEN (`SELECT … WHERE flag`,
    `HAVING count(*) - 1`); Spark demands BOOLEAN. Each clause span is
    handed to _cond_truthy_edits, which recurses through AND/OR and
    wraps only non-boolean operands — the common comparison-shaped
    clause produces zero edits. ON is only a truthiness context after a
    JOIN (never INSERT's ON CONFLICT, never DDL — CREATE statements are
    skipped wholesale)."""
    mask = _div_mask(sql)
    low = sql.lower()
    if low.lstrip()[:6] == "create":
        return sql
    edits: list[tuple[int, int, str]] = []
    for m in _CLAUSE_WORD_RX.finditer(mask):
        kw = low[m.start():m.end()]
        start = m.end()
        if kw == "on":
            nxt = _WORD_RX.match(mask, _skip_ws(mask, start))
            if nxt and low[nxt.start():nxt.end()] == "conflict":
                continue
            before = low[:m.start()]
            if "join" not in before:
                continue
        terms = _ON_TERMINATORS if kw == "on" else _WHERE_TERMINATORS
        i, depth = start, 0
        end = len(sql)
        while i < len(sql):
            c = mask[i]
            if c == "(":
                depth += 1
                i += 1
                continue
            if c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
                i += 1
                continue
            if c == ";" and depth == 0:
                end = i
                break
            if c == "," and depth == 0 and kw == "on":
                end = i
                break
            if depth == 0:
                wm = _WORD_RX.match(mask, i)
                if wm:
                    w = low[i:wm.end()]
                    if w in terms:
                        end = i
                        break
                    if w == "case":
                        marks = _case_marks(sql, mask, i, len(sql))
                        if marks is None:
                            return sql  # malformed: leave untouched
                        i = marks[-1][0] + 3
                        continue
                    i = wm.end()
                    continue
            i += 1
        _cond_truthy_edits(sql, mask, low, start, end, edits)
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]), reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _skip_ws(mask: str, i: int) -> int:
    while i < len(mask) and mask[i] in " \t\r\n":
        i += 1
    return i


def _span_numeric_literal(sql: str, a: int, b: int):
    """('int' | 'real' | 'null', value) when span [a, b) is a literal
    NULL or an (optionally signed) numeric literal; None otherwise."""
    s = sql[a:b].strip()
    if s.lower() == "null":
        return ("null", None)
    sign = 1
    if s[:1] in "+-":
        sign = -1 if s[0] == "-" else 1
        s = s[1:].lstrip()
    if not s or _NUM_LIT_RX.fullmatch(s) is None:
        return None
    low = s.lower()
    if low.startswith("0x"):
        return ("int", sign * int(s, 16))
    if low[-1] in "df":  # D/F suffix from the real-literal pass
        return ("real", sign * float(s[:-1]))
    if "." in s or "e" in low:
        return ("real", sign * float(s))
    return ("int", sign * int(s))


def _fold_sametype_literal(word, sql, arg_spans):
    """Result affinity of ifnull/coalesce/min/max/least/greatest/nvl
    when the value-deciding arguments are numeric literals; None when
    any deciding argument is runtime-dependent."""
    if not arg_spans:
        return None
    if word in ("ifnull", "coalesce", "nvl"):
        for a, b in arg_spans:  # first non-NULL argument decides
            lit = _span_numeric_literal(sql, a, b)
            if lit is None:
                return None
            if lit[0] != "null":
                return lit[0]
        return "null"
    if word in ("min", "max", "least", "greatest"):
        lits = [_span_numeric_literal(sql, a, b) for a, b in arg_spans]
        if any(l is None or l[0] == "null" for l in lits):
            return None  # scalar min/max with any NULL arg is NULL
        best = 0
        for i in range(1, len(lits)):
            if word in ("min", "least"):
                if lits[i][1] <= lits[best][1]:  # ties: LAST minimal
                    best = i
            elif lits[i][1] > lits[best][1]:  # ties: FIRST maximal
                best = i
        return lits[best][0]
    return None


def _div_scan_primary(sql, mask, pos, end, coltypes, edits):
    """Scan one tight-binding operand starting at/after pos. Returns
    (first_char_pos, end_pos, type) with type in {'int','real',None} or
    the sentinel 'kw' when the next token is a structural keyword."""
    low = sql.lower()
    while pos < end and mask[pos] in " \t\r\n":
        pos += 1
    if pos >= end:
        return pos, pos, "kw"
    first = pos
    # unary signs / bitwise-not bind tighter than '/' and keep affinity
    while pos < end and mask[pos] in "+-~ \t\r\n":
        pos += 1
    if pos >= end:
        return first, pos, None
    c = mask[pos]
    if c == "\x00":  # string literal or backtick identifier
        run = pos
        while run < end and mask[run] == "\x00":
            run += 1
        text = sql[pos:run]
        if text.startswith("'"):
            return first, run, _div_str_lit_type(_literal_content(text))
        if text.startswith("`"):  # quoted column reference
            name = text[1:-1].replace("``", "`").lower()
            # qualified `t`.`c` — take the last component
            nxt = run
            while nxt < end and mask[nxt] == ".":
                run2 = nxt + 1
                if run2 < end and mask[run2] == "\x00":
                    r = run2
                    while r < end and mask[r] == "\x00":
                        r += 1
                    name = sql[run2:r][1:-1].replace("``", "`").lower()
                    run = r
                    nxt = r
                elif run2 < end:
                    m = _WORD_RX.match(mask, run2)
                    if not m:
                        break
                    name = low[m.start():m.end()]
                    run = m.end()
                    nxt = m.end()
                else:
                    break
            return first, run, (coltypes or {}).get(name)
        return first, run, None
    if c.isdigit() or (c == "." and pos + 1 < end and mask[pos + 1].isdigit()):
        m = _NUM_LIT_RX.match(mask, pos)
        if m is None:  # non-ASCII digit: isdigit() true, \d-regex false
            return first, pos + 1, None
        return first, m.end(), _div_lit_type(m.group(0))
    if c == "(":
        close = _div_find_close(mask, pos, end)
        if close == -1:
            return first, end, None
        t = _div_walk(sql, mask, pos + 1, close, coltypes, edits)
        return first, close + 1, t
    if c.isalpha() or c == "_":
        m = _WORD_RX.match(mask, pos)
        if m is None:  # non-ASCII letter: isalpha() true, regex false
            return first, pos + 1, None
        word = low[m.start():m.end()]
        wend = m.end()
        if word == "null":
            return first, wend, "null"  # neutral: NULL result either way
        if word == "case":
            e, t = _div_scan_case(sql, mask, pos, end, coltypes, edits)
            return first, e, t
        if word in ("not", "exists") or word in _DIV_KEYWORDS:
            return first, wend, "kw"
        # call?
        j = wend
        while j < end and mask[j] in " \t\r\n":
            j += 1
        if j < end and mask[j] == "(":
            close = _div_find_close(mask, j, end)
            if close == -1:
                return first, end, None
            if word in ("cast", "try_cast"):
                # CAST(expr AS type): walk expr, type from the target
                # (try_cast included: the % rewrite emits it, and this
                # tracker also types already-rewritten text)
                inner_lo = low[j + 1:close]
                k = inner_lo.rfind(" as ")
                depth_probe = inner_lo[k + 4:] if k != -1 else ""
                if k == -1:
                    return first, close + 1, None
                _div_walk(sql, mask, j + 1, j + 1 + k, coltypes, edits)
                target = depth_probe.strip().split("(")[0].strip().lower()
                if target in ("integer", "int", "bigint", "smallint",
                              "tinyint", "mediumint", "int2", "int8"):
                    t = "int"
                elif target in ("real", "float", "double", "doubleprecision"):
                    t = "real"
                elif target in ("text", "char", "varchar", "clob", "nchar",
                                "nvarchar", "string", "character"):
                    # CAST to a TEXT-affinity target yields a string
                    # value: arithmetic over it numeric-prefix-coerces
                    # (SQLite castTo then applyNumericAffinity), so the
                    # value-dependent pass must see it as 'text' (r17 —
                    # closes the `n % CAST(s AS TEXT)` loud residue)
                    t = "text"
                else:
                    t = None
                return first, close + 1, t
            arg_spans = [
                s for s in _div_split_args(mask, j + 1, close)
                if sql[s[0]:s[1]].strip() not in ("", "*")
            ]
            arg_types = [
                _div_walk(sql, mask, a, b, coltypes, edits)
                for a, b in arg_spans
            ]
            # DISTINCT inside an aggregate: strip for typing purposes
            if word == "count":
                t = "int"
            elif word in _DIV_INT_FUNCS:
                t = "int"
            elif word in _DIV_REAL_FUNCS:
                t = "real"
            elif word in _DIV_TEXT_FUNCS:
                t = "text"
            elif word in _DIV_PASSTHRU_FUNCS:
                t = arg_types[0] if arg_types else None
            elif word in _DIV_SAMETYPE_FUNCS:
                pick = arg_types[1:] if word in ("iif", "if") else arg_types
                pick = [x for x in pick if x != "null"]  # NULL args neutral
                if not pick:
                    t = "null"
                else:
                    t = pick[0] if all(x == pick[0] for x in pick) else None
                if t is None:
                    # value-dependent mixed int/real — but when the
                    # deciding args are numeric LITERALS the runtime
                    # value is static, so SQLite's choice is too (r12,
                    # shrinks the documented `ifnull(3, 2.5) / 2`
                    # divergence): ifnull/coalesce take the first
                    # non-NULL arg; scalar min keeps the LAST minimal
                    # arg, max the FIRST maximal (pinned vs sqlite3:
                    # typeof(min(2,2.0))=real, typeof(max(2,2.0))=int).
                    t = _fold_sametype_literal(word, sql, arg_spans)
                    if t == "int":
                        # Spark widens mixed int/real args to DOUBLE;
                        # the runtime value IS the integer literal, so
                        # pin value and rendering with an exact cast.
                        # ONE replacement edit (not two boundary
                        # inserts: those interleave wrongly with the
                        # zero-guard's inserts at the same positions),
                        # and TRY_CAST (plain CAST would be re-expanded
                        # by the later SQLite-CAST pass).
                        edits.append((
                            first, close + 1,
                            f"TRY_CAST({sql[first:close + 1]} AS BIGINT)",
                        ))
            else:
                t = None
            # `FILTER (WHERE …)` / `OVER (spec)` / `OVER name` suffixes
            # bind tighter than any arithmetic operator: the windowed
            # expression is ONE primary, so a div/mod guard must wrap the
            # whole thing — never splice nullif() between the call and
            # its OVER clause (r11 ADVICE fix: `x / sum(x) OVER (…)`
            # used to produce `nullif(sum(x), 0) OVER (…)`, an
            # AnalysisException).
            tail = close + 1
            while True:
                k = tail
                while k < end and mask[k] in " \t\r\n":
                    k += 1
                m2 = _WORD_RX.match(mask, k) if k < end else None
                if m2 is None:
                    break
                w2 = low[m2.start():m2.end()]
                if w2 not in ("filter", "over"):
                    break
                k2 = m2.end()
                while k2 < end and mask[k2] in " \t\r\n":
                    k2 += 1
                if k2 < end and mask[k2] == "(":
                    close2 = _div_find_close(mask, k2, end)
                    if close2 == -1:
                        return first, end, None
                    # the clause body still needs its own div/mod edits
                    # (e.g. OVER (ORDER BY a / b))
                    _div_walk(sql, mask, k2 + 1, close2, coltypes, edits)
                    tail = close2 + 1
                    continue
                if w2 == "over":
                    m3 = _WORD_RX.match(mask, k2) if k2 < end else None
                    if m3 is not None:
                        w3 = low[m3.start():m3.end()]
                        if w3 not in _DIV_KEYWORDS and w3 not in (
                            "not", "exists", "case", "when", "then",
                            "else", "end", "and", "or",
                        ):
                            tail = m3.end()  # named window: OVER w
                            continue
                break
            return first, tail, t
        # column reference, possibly qualified t.c / t.`c`
        name = word
        run = wend
        while run < end and mask[run] == ".":
            nxt = run + 1
            if nxt < end and mask[nxt] == "\x00":
                r = nxt
                while r < end and mask[r] == "\x00":
                    r += 1
                name = sql[nxt:r][1:-1].replace("``", "`").lower()
                run = r
            else:
                m2 = _WORD_RX.match(mask, nxt)
                if not m2:
                    break
                name = low[m2.start():m2.end()]
                run = m2.end()
        if word == "distinct":  # aggregate modifier, not an operand
            return first, wend, "kw"
        return first, run, (coltypes or {}).get(name)
    # anything else: consume one char, unknown
    return first, pos + 1, None


def _div_guard(edits, r_first, r_end) -> None:
    edits.append((r_first, r_first, "nullif("))
    edits.append((r_end, r_end, ", 0)"))


def _div_walk(sql, mask, start, end, coltypes, edits):
    """Walk an expression span left-to-right; rewrite `/` and `%` sites
    (appending to ``edits``) and return the span's static affinity."""
    low = sql.lower()
    chain: str | None = None  # type of the current *·/·% chain
    chain_start = start  # where the chain's text begins (for % casts)
    have_chain = False
    expr: str | None = None  # additive accumulator
    have_expr = False
    unknown = False
    pending_mul = False
    saw_concat = False
    saw_bitwise = False
    pos = start

    def fold_chain():
        nonlocal expr, have_expr, chain, have_chain
        if have_chain:
            expr = chain if not have_expr else _div_combine(expr, chain)
            have_expr = True
        chain = None
        have_chain = False

    while pos < end:
        c = mask[pos]
        if c in " \t\r\n":
            pos += 1
            continue
        if c == "/":
            op_pos = pos
            r_first, r_end, rt = _div_scan_primary(
                sql, mask, pos + 1, end, coltypes, edits
            )
            if rt == "kw":
                unknown = True
                pos = r_end if r_end > pos else pos + 1
                have_chain = False
                continue
            lt = chain if have_chain else None
            if not have_chain:
                chain_start = op_pos
            if lt in ("int", "null") and rt in ("int", "null"):
                edits.append((op_pos, op_pos + 1, " DIV "))
                _div_guard(edits, r_first, r_end)
                chain = "int"
            else:
                if rt in ("int", "real"):
                    _div_guard(edits, r_first, r_end)
                chain = (
                    "real"
                    if lt in ("int", "real", "null") and rt in ("int", "real", "null")
                    else None
                )
            have_chain = True
            pos = r_end
            continue
        if c == "%":
            op_pos = pos
            r_first, r_end, rt = _div_scan_primary(
                sql, mask, pos + 1, end, coltypes, edits
            )
            if rt == "kw":
                unknown = True
                pos = r_end if r_end > pos else pos + 1
                have_chain = False
                continue
            lt = chain if have_chain else None
            known = ("int", "real", "null")
            if lt in known and rt in known and "real" in (lt, rt):
                # SQLite % casts BOTH operands to INTEGER and types the
                # result REAL when either operand is (pinned: 7.5 % 2.3
                # → 1.0). Spark's fmod semantics differ, so wrap the
                # whole left mul-chain and the right primary. TRY_CAST,
                # not CAST: the later SQLite-CAST pass would re-expand a
                # CAST(… AS BIGINT) emission ~4× per nesting level
                # (exponential on chained %) — EXCEPT when a side may
                # be a runtime STRING ('1e2' types real but TRY_CAST
                # AS BIGINT strict-parses it to NULL where SQLite's
                # integer prefix parse reads 1 — r16 campaign find):
                # such sides take the SQLite-spelled CAST, expanded to
                # the exact prefix parse by the cast pass.
                l_str = "'" in sql[chain_start:op_pos]
                r_str = "'" in sql[r_first:r_end]
                l_cast = ("CAST((", ") AS INTEGER)") if l_str else \
                    ("TRY_CAST((", ") AS BIGINT)")
                r_cast = ("CAST((", ") AS INTEGER)") if r_str else \
                    ("TRY_CAST((", ") AS BIGINT)")
                edits.append((chain_start, chain_start,
                              f"TRY_CAST(({l_cast[0]}"))
                edits.append((op_pos, op_pos + 1,
                              f"{l_cast[1]} % nullif({r_cast[0]}"))
                edits.append((r_end, r_end,
                              f"{r_cast[1]}, 0)) AS DOUBLE)"))
                chain = "real"
            else:
                if rt in ("int", "real"):
                    _div_guard(edits, r_first, r_end)
                chain = (
                    "int"
                    if lt in ("int", "null") and rt in ("int", "null")
                    else None
                )
            have_chain = True
            pos = r_end
            continue
        if c == "*":
            if not have_chain:
                # SELECT * / count(*) star — not an operator
                unknown = True
                pos += 1
                continue
            pending_mul = True
            pos += 1
            continue
        if c in "+-":
            if have_chain and not pending_mul:
                fold_chain()  # binary additive: chain boundary
            pos += 1
            continue
        if c == "~":
            pos += 1
            continue
        if c == "|" and mask[pos + 1:pos + 2] == "|":
            # || yields TEXT (or NULL) regardless of operand types —
            # a span whose top level is a concat chain types 'text'
            # (r16: lets the value-dependent pass coerce `(n||s) + 1`;
            # mixed ||-and-arithmetic spans are parenthesized by the
            # grouping pass before any walk sees them)
            saw_concat = True
            have_chain = False
            chain = None
            pos += 2
            continue
        if c in "&|" or (c in "<>" and mask[pos + 1:pos + 2] == c):
            # bitwise chain: SQLite's & | << >> always yield INTEGER
            # regardless of operand types (r16: lets the value-
            # dependent pass coerce `s * (n & 1)`). The bitwise pass
            # itself rewrites the operators later.
            saw_bitwise = True
            have_chain = False
            chain = None
            pos += 2 if c in "<>" else 1
            continue
        if c in ",;=<>!":
            unknown = True
            fold_chain()
            have_expr = False
            expr = None
            pos += 1
            continue
        # operand (number, string, identifier, call, paren, CASE)
        p_first, p_end, t = _div_scan_primary(sql, mask, pos, end, coltypes, edits)
        if t == "kw":
            if sql[p_first:p_end].lower() == "div" and have_chain:
                # `a DIV b`: this pass's own earlier emission (seen when
                # re-typing already-rewritten text, e.g. _cast_call's
                # TEXT branch) — integer division, typed like int `/`
                r_first, r_end, rt = _div_scan_primary(
                    sql, mask, p_end, end, coltypes, edits
                )
                chain = (
                    "int"
                    if chain in ("int", "null") and rt in ("int", "null")
                    else None
                )
                pos = r_end if r_end > p_end else p_end
                continue
            unknown = True
            fold_chain()
            have_expr = False
            expr = None
            pos = p_end if p_end > pos else pos + 1
            continue
        if pending_mul and have_chain:
            chain = _div_combine(chain, t)
        else:
            if have_chain:
                fold_chain()  # two operands in a row (alias etc.)
            chain = t
            chain_start = p_first
        have_chain = True
        pending_mul = False
        pos = p_end if p_end > pos else pos + 1
    fold_chain()
    if saw_bitwise:
        # checked before concat: in a mixed span the || binds tighter
        # (SQLite), so the top level is the bitwise chain — INTEGER
        return None if unknown else "int"
    if saw_concat:
        return None if unknown else "text"
    return None if unknown else expr


# ------------------------------------------- FILTER over window frames
# SQLite supports `agg(x) FILTER (WHERE p) OVER (…)`; Spark rejects
# filtered window aggregates outright ("not supported yet"). The exact
# reduction: aggregates ignore NULLs, so
#   agg(x)  FILTER (WHERE p) OVER w  ≡  agg(CASE WHEN p THEN x END) OVER w
#   count(*) FILTER (WHERE p) OVER w ≡  count(CASE WHEN p THEN 1 END) OVER w
# Plain (non-window) FILTER is Spark-native and left untouched.

_FILTER_KW_RX = re.compile(r"(?i)\bFILTER\s*\(")


def _rewrite_filter_over(sql: str) -> str:
    while True:
        code = _div_mask(sql)
        edit = None
        for m in _FILTER_KW_RX.finditer(code):
            fopen = code.index("(", m.start())
            fclose = _div_find_close(code, fopen, len(code))
            if fclose == -1:
                continue
            k = fclose + 1
            while k < len(code) and code[k] in " \t\r\n":
                k += 1
            if code[k:k + 4].lower() != "over" or (
                k + 4 < len(code) and (code[k + 4].isalnum() or code[k + 4] == "_")
            ):
                continue  # plain aggregate FILTER: Spark-native
            inner = sql[fopen + 1:fclose].strip()
            if not re.match(r"(?i)^WHERE\b", inner):
                continue
            pred = inner[5:].strip()
            # backward: the aggregate call this FILTER attaches to
            j = m.start() - 1
            while j >= 0 and code[j] in " \t\r\n":
                j -= 1
            if j < 0 or code[j] != ")":
                continue
            depth = 0
            copen = -1
            for i in range(j, -1, -1):
                if code[i] == ")":
                    depth += 1
                elif code[i] == "(":
                    depth -= 1
                    if depth == 0:
                        copen = i
                        break
            if copen <= 0:
                continue
            e = copen - 1
            while e >= 0 and code[e] in " \t\r\n":
                e -= 1
            s = e
            while s >= 0 and (code[s].isalnum() or code[s] == "_"):
                s -= 1
            fn = sql[s + 1:e + 1]
            if not fn or not (fn[0].isalpha() or fn[0] == "_"):
                continue
            arg = sql[copen + 1:j].strip()
            dm = re.match(r"(?i)^DISTINCT\s+(.*)$", arg, re.S)
            prefix = "DISTINCT " if dm else ""
            core = dm.group(1) if dm else arg
            if core == "*":
                fn, core = "count", "1"
            else:
                depth2, multi = 0, False
                for ch in code[copen + 1:j]:
                    if ch == "(":
                        depth2 += 1
                    elif ch == ")":
                        depth2 -= 1
                    elif ch == "," and depth2 == 0:
                        multi = True
                        break
                if multi:
                    continue  # multi-arg aggregate: no single-slot reduction
            new_call = (
                f"{fn}({prefix}CASE WHEN ({pred}) THEN {core} END)"
            )
            edit = (s + 1, fclose + 1, new_call)
            break
        if edit is None:
            return sql
        a, b, repl = edit
        sql = sql[:a] + repl + sql[b:]


# ------------------------------------------------- || float rendering
# SQLite renders a REAL operand of `||` with %!.15g ('x' || 1.0/3 →
# 'x0.333333333333333'); Spark's concat renders doubles Java-style
# (17-digit shortest round-trip). Reuse the division pass's affinity
# tracker: every provably-REAL primary adjacent to a `||` routes through
# the double_to_text session UDF.
#
# Scope note (documented divergence): SQLite's `||` binds TIGHTER than
# * / % + - (`1 + 2 || 'x'` is 1 + ('2x'→2) = 3), Spark's binds looser
# ('3x'). Unparenthesized arithmetic mixed into a concat therefore
# parses differently to begin with — this pass wraps only
# arithmetic-free positions, where both engines agree on the parse, and
# the precedence delta itself stays a loud/documented divergence
# (tests/test_dialect.py::test_divergence_concat_precedence).


def _dtext_wrap(edits: list, a: int, b: int) -> None:
    # TRY_CAST, not CAST: the later SQLite-CAST pass would re-expand a
    # CAST(… AS DOUBLE) emission into the prefix-parse machinery; the
    # operand here is provably REAL so the two are identical
    edits.append((a, a, "filesql_double_text(TRY_CAST(("))
    edits.append((b, b, ") AS DOUBLE))"))


def _sum_text_edit(sql, mask, a, b, edits) -> None:
    """The || pass's twin of the _sum_text_render hook: a sum() over a
    TEXT argument types 'text' in the tracker (sum is passthru), so the
    real/None wrap branches never see it — recognize it here and emit
    one replacement edit with the per-group rendering dispatch."""
    while b > a and mask[b - 1] in " \t\r\n":
        b -= 1
    if "(" not in sql[a:b]:
        return  # plain text primary: the common case, skip the probe
    r = _sum_text_render(sql[a:b])
    if r is not None:
        edits.append((a, b, r))


def _rewrite_concat_real(sql: str, coltypes: dict[str, str] | None) -> str:
    if "||" not in sql:
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    _concat_walk(sql, mask, 0, len(sql), coltypes, edits)
    if not edits:
        return sql
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]), reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _concat_strlit(sql, mask, a, b) -> bool:
    """Span [a, b) is a bare STRING literal: SQLite's || keeps it
    VERBATIM ('2e1' || x is '2e1x'), so the real/value-dependent
    rendering wraps must never fire on it (r16 campaign find — the
    'real' static type from _div_str_lit_type describes its coercion
    class in arithmetic, not its identity under concat)."""
    t = sql[a:b].strip()
    if not (t.startswith("'") and t.endswith("'")):
        return False
    return all(mask[i] == "\x00" or mask[i] in " \t\r\n"
               for i in range(a, b))


def _concat_walk(sql, mask, start, end, coltypes, edits) -> None:
    throwaway: list = []  # nested div edits belong to the later div pass
    pos = start
    last: tuple[int, int, str | None] | None = None  # preceding primary
    last_clean = True  # preceding primary not glued to arithmetic
    while pos < end:
        c = mask[pos]
        if c in " \t\r\n":
            pos += 1
            continue
        if c == "|" and pos + 1 < end and mask[pos + 1] == "|":
            if last is not None and last_clean and _concat_strlit(
                sql, mask, last[0], last[1]
            ):
                pass  # bare string literal: verbatim under ||
            elif last is not None and last_clean and last[2] == "real":
                _dtext_wrap(edits, last[0], last[1])
            elif last is not None and last_clean and last[2] is None:
                _vd_dtext_edit(sql, mask, last[0], last[1], coltypes, edits)
            elif last is not None and last_clean and last[2] == "text":
                _sum_text_edit(sql, mask, last[0], last[1], edits)
            rf, re_, rt = _div_scan_primary(
                sql, mask, pos + 2, end, coltypes, throwaway
            )
            _concat_descend(sql, mask, rf, re_, coltypes, edits)
            k = re_
            while k < end and mask[k] in " \t\r\n":
                k += 1
            clean_right = not (k < end and mask[k] in "*/%+-")
            if _concat_strlit(sql, mask, rf, re_):
                pass  # bare string literal: verbatim under ||
            elif rt == "real" and clean_right:
                _dtext_wrap(edits, rf, re_)
            elif rt is None and clean_right:
                _vd_dtext_edit(sql, mask, rf, re_, coltypes, edits)
            elif rt == "text" and clean_right:
                _sum_text_edit(sql, mask, rf, re_, edits)
            # the chain's running result is TEXT — middles of a||b||c get
            # wrapped exactly once (as the right operand of their ||)
            last = None if rt == "kw" else (rf, re_, "text")
            last_clean = True
            pos = re_ if re_ > pos + 2 else pos + 2
            continue
        if c in "*/%":
            last, last_clean = None, False
            pos += 1
            continue
        if c in "+-~":
            if last is None:  # unary sign: part of the next primary
                pf, pe, pt = _div_scan_primary(
                    sql, mask, pos, end, coltypes, throwaway
                )
                last = None if pt == "kw" else (pf, pe, pt)
                pos = pe if pe > pos else pos + 1
                continue
            last, last_clean = None, False
            pos += 1
            continue
        if c in ",;=<>!&":
            last, last_clean = None, True
            pos += 1
            continue
        pf, pe, pt = _div_scan_primary(sql, mask, pos, end, coltypes, throwaway)
        # a primary can hide concats one level down — a paren group, a
        # function's arguments, a subquery item — which scan_primary
        # consumes opaquely; descend into its paren groups
        _concat_descend(sql, mask, pf, pe, coltypes, edits)
        if pt == "kw":
            last, last_clean = None, True
        else:
            # a primary right after an arithmetic op is dirty (its value
            # feeds the arithmetic under Spark's parse, not the concat)
            last = (pf, pe, pt)
            last_clean = last is not None and last_clean
        pos = pe if pe > pos else pos + 1


def _concat_descend(sql, mask, pf, pe, coltypes, edits) -> None:
    """Walk the paren groups AND the CASE sub-spans (operand, WHEN
    conditions, THEN/ELSE arms — r12, closes the unparenthesized-CASE-arm
    miss documented at commit a5b90cd) inside a consumed primary span for
    nested `||` sites. Recursion happens through _concat_walk's own
    primary scan, so each site is visited exactly once."""
    if "||" not in mask[pf:pe]:
        return
    low = sql.lower()
    i = pf
    while i < pe:
        c = mask[i]
        if c == "(":
            close = _div_find_close(mask, i, pe)
            if close == -1:
                return
            _concat_walk(sql, mask, i + 1, close, coltypes, edits)
            i = close + 1
            continue
        if (c.isalpha() or c == "_") and low.startswith("case", i):
            m = _WORD_RX.match(mask, i)
            if m is not None and low[m.start():m.end()] == "case":
                marks = _case_marks(sql, mask, i, pe)
                if marks is None:
                    return
                prev = i + 4
                for mpos, kw in marks:
                    _concat_walk(sql, mask, prev, mpos, coltypes, edits)
                    prev = mpos + len(kw)
                i = marks[-1][0] + 3  # past END
                continue
        if c.isalpha() or c == "_":
            m = _WORD_RX.match(mask, i)
            i = m.end() if m is not None else i + 1
            continue
        i += 1


_REAL_LIT_TOKEN_RX = re.compile(
    r"(?<![\w.`$])(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?(?![\w.])"
)
_HEX_LIT_TOKEN_RX = re.compile(r"(?<![\w.`$])0[xX][0-9a-fA-F]+(?![\w.])")


def _rewrite_real_literals(sql: str) -> str:
    """SQLite non-integer numeric literals are 8-byte IEEE doubles
    (https://sqlite.org/datatype3.html); Spark parses `1.5` as
    DECIMAL(2,1), whose fixed-scale arithmetic truncates where SQLite's
    double math would not (0.5 / 0.62 → 0.806452 vs 0.8064516…).  Suffix
    every fractional/exponent literal with `D` so Spark types it double.
    Integer literals stay integral (affinity pass above relies on it)."""

    def repl(m: re.Match) -> str:
        tok = m.group(0)
        if "." not in tok and "e" not in tok and "E" not in tok:
            return tok  # integer literal: leave for INTEGER affinity
        if tok.endswith("."):
            tok += "0"  # `1.` → Spark rejects `1.D`
        return tok + "D"

    def hex_repl(m: re.Match) -> str:
        # SQLite hex literals are 64-bit INTEGERs (datatype3.html §1.1);
        # Spark SQL has no 0x form, so normalize to decimal
        return str(int(m.group(0), 16))

    return "".join(
        _REAL_LIT_TOKEN_RX.sub(repl, _HEX_LIT_TOKEN_RX.sub(hex_repl, text))
        if kind == "code" else text
        for kind, text in _split_tokens(sql)
    )


# Clause keywords that terminate a select list (a select-list EXPRESSION
# can contain when/then/else/end/between/and/or/... — none of these).
_SELECT_LIST_END = frozenset({
    "from", "where", "group", "having", "order", "limit", "offset",
    "union", "intersect", "except", "window",
})


def _derived_select_items(sql: str, mask: str, min_depth: int = 1):
    """(expr_start, expr_end, alias) for every ALIASED select-list item
    of every SELECT at paren depth >= 1 (subquery bodies, CTE bodies) —
    the scopes whose aliases are visible to enclosing queries. Top-level
    (depth-0) select lists are skipped on purpose: SQLite resolves
    select-list expressions against FROM columns, never against sibling
    aliases, so `SELECT n/2 AS n FROM t` keeps catalog typing (r12
    ADVICE fix). Explicit (`AS n`), implicit (`avg(x) n`), and quoted
    (backtick or SQLite's string-literal `avg(x) 'n'`) aliases are all
    detected (r11 verdict #4)."""
    low = sql.lower()
    n = len(mask)
    out = []
    depth = 0
    scanned = 0
    for m in _WORD_RX.finditer(mask):
        seg = mask[scanned:m.start()]
        depth += seg.count("(") - seg.count(")")
        scanned = m.start()
        if depth < min_depth or low[m.start():m.end()] != "select":
            continue
        i = m.end()
        while True:  # skip DISTINCT / ALL quantifiers
            while i < n and mask[i] in " \t\r\n":
                i += 1
            w = _WORD_RX.match(mask, i) if i < n else None
            if w and low[w.start():w.end()] in ("distinct", "all"):
                i = w.end()
                continue
            break
        item_start, end_pos = i, None
        while i < n:
            c = mask[i]
            if c == "(":
                close = _div_find_close(mask, i, n)
                if close == -1:
                    end_pos = n
                    break
                i = close + 1
                continue
            if c == ")":
                end_pos = i
                break
            if c == ",":
                item = _item_alias(sql, mask, low, item_start, i)
                if item is not None:
                    out.append(item)
                item_start = i + 1
                i += 1
                continue
            if c.isalpha() or c == "_":
                w = _WORD_RX.match(mask, i)
                if w is not None:
                    if low[w.start():w.end()] in _SELECT_LIST_END:
                        end_pos = w.start()
                        break
                    i = w.end()
                    continue
            i += 1
        if end_pos is None:
            end_pos = n
        item = _item_alias(sql, mask, low, item_start, end_pos)
        if item is not None:
            out.append(item)
    return out


def _item_alias(sql, mask, low, a, b):
    """Split one select-list item [a, b) into (expr_start, expr_end,
    alias_name, alias_start, alias_end, quote_char), or None when the
    item carries no alias. quote_char is '`', \"'\" or '' (bare)."""
    while b > a and mask[b - 1] in " \t\r\n":
        b -= 1
    while a < b and mask[a] in " \t\r\n":
        a += 1
    if b <= a:
        return None
    j = b - 1
    quote = ""
    if mask[j] == "\x00" and sql[j] in "`'":  # quoted alias (SQLite
        # allows a string literal as a column alias: `avg(x) 'n'`)
        ws = j
        while ws > a and mask[ws - 1] == "\x00":
            ws -= 1
        quote = sql[ws]
        if quote not in "`'" or sql[j] != quote:
            return None  # not a simple quoted token
        body = sql[ws:b][1:-1]
        name = (body.replace("``", "`") if quote == "`"
                else body.replace("''", "'")).lower()
    elif mask[j].isalnum() or mask[j] == "_":
        ws = j + 1
        while ws > a and (mask[ws - 1].isalnum() or mask[ws - 1] == "_"):
            ws -= 1
        name = low[ws:j + 1]
        if name[0].isdigit() or name in _DIV_KEYWORDS or name == "case":
            return None  # numeric literal / CASE…END / keyword tail
        if ws > a and mask[ws - 1] == ".":
            return None  # qualified tail t.c — a reference, not an alias
    else:
        return None  # ends in ')', a literal, '*', …: no alias
    # what precedes the candidate decides explicit/implicit/none
    k = ws - 1
    while k >= a and mask[k] in " \t\r\n":
        k -= 1
    if k < a:
        return None  # the item IS the word: bare column, no alias
    c = mask[k]
    if c.isalnum() or c == "_":
        ts = k
        while ts > a and (mask[ts - 1].isalnum() or mask[ts - 1] in "_."):
            ts -= 1
        prev = low[ts:k + 1]
        if prev == "as":
            return (a, ts, name, ws, b, quote)  # explicit alias
        if prev[0].isdigit() or prev in ("end", "null") or "." in prev:
            return (a, ws, name, ws, b, quote)
        if prev in _DIV_KEYWORDS or prev == "case":
            return None  # keyword precedes an operand, not an alias
        return (a, ws, name, ws, b, quote)  # bare ident + implicit alias
    if c in ")\x00":
        return (a, ws, name, ws, b, quote)  # call/group/literal + implicit
    return None  # operator: mid-expression


def _rev_primary_start(sql: str, mask: str, e: int):
    """Start index of the tight-binding primary ENDING at e (exclusive):
    a literal/backtick token, an identifier (with t.c qualifiers), or a
    paren group with an optional function name. None when unscannable."""
    i = e - 1
    if i < 0:
        return None
    c = mask[i]
    if c == "\x00":
        while i >= 0 and mask[i] == "\x00":
            i -= 1
        start = i + 1
    elif c == ")":
        depth = 0
        while i >= 0:
            if mask[i] == ")":
                depth += 1
            elif mask[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i < 0:
            return None
        start = i
        j = start - 1
        while j >= 0 and mask[j] in " \t\r\n":
            j -= 1
        if j >= 0 and (mask[j].isalnum() or mask[j] == "_"):
            ws = j
            while ws > 0 and (mask[ws - 1].isalnum() or mask[ws - 1] == "_"):
                ws -= 1
            if sql[ws:j + 1].lower() not in _DIV_KEYWORDS:
                start = ws
    elif c.isalnum() or c == "_":
        while i >= 0 and (mask[i].isalnum() or mask[i] == "_"):
            i -= 1
        start = i + 1
        if sql[start:e].lower() in _DIV_KEYWORDS:
            return None
    else:
        return None
    while start > 0 and mask[start - 1] == ".":  # qualifier chain t.c
        i = start - 2
        if i >= 0 and mask[i] == "\x00":
            while i >= 0 and mask[i] == "\x00":
                i -= 1
            start = i + 1
        elif i >= 0 and (mask[i].isalnum() or mask[i] == "_"):
            while i >= 0 and (mask[i].isalnum() or mask[i] == "_"):
                i -= 1
            start = i + 1
        else:
            break
    return start


def _rewrite_json_arrows(sql: str) -> str:
    """SQLite 3.38's JSON operators: `X -> P` extracts as JSON text
    (strings stay quoted, containers stay JSON), `X ->> P` extracts as
    an SQL value — exactly json_quote(json_extract(X, P)) and
    json_extract(X, P) respectively, with SQLite's shorthand paths
    normalized statically ('key' → '$.key' verbatim, 2 → '$[2]').
    Left-associative chaining works (each rewrite makes the call text
    the next arrow's LHS primary). Documented limits: the right operand
    must be a literal (SQLite also evaluates dynamic paths), and the
    LHS binds one primary (a `||`-chain LHS would need parens)."""
    if "->" not in sql:
        return sql
    while True:
        mask = _div_mask(sql)
        pos = mask.find("->")
        if pos == -1:
            return sql
        oplen = 3 if mask[pos + 2:pos + 3] == ">" else 2
        deep = oplen == 3  # ->> : SQL value; -> : JSON text
        e = pos
        while e > 0 and mask[e - 1] in " \t\r\n":
            e -= 1
        start = _rev_primary_start(sql, mask, e)
        if start is None:
            raise FilesqlError(
                f"cannot parse the left operand of {'->>'[:oplen]} near: "
                f"{sql[max(0, pos - 30):pos + 3]!r}"
            )
        k = pos + oplen
        while k < len(mask) and mask[k] in " \t\r\n":
            k += 1
        sign = ""
        if k < len(mask) and mask[k] in "+-":
            sign, k = sql[k], k + 1
        if k < len(mask) and mask[k] == "\x00" and sql[k] == "'" and not sign:
            r = k
            while r < len(mask) and mask[r] == "\x00":
                r += 1
            body = sql[k:r][1:-1].replace("''", "'")
            path = body if body.startswith("$") else "$." + body
            rhs_end = r
        elif k < len(mask) and mask[k].isdigit():
            r = k
            while r < len(mask) and mask[r].isdigit():
                r += 1
            if sign == "-":
                raise FilesqlError(
                    "JSON path error near: negative array index in "
                    f"{'->>'[:oplen]} (use '$[#-n]' paths)"
                )
            path = f"$[{sql[k:r]}]"
            rhs_end = r
        else:
            raise FilesqlError(
                f"the right operand of {'->>'[:oplen]} must be a string "
                "or integer literal path"
            )
        # one UDF call per arrow (json1.arrow_text): keeps the document
        # expression single-copy (a CASE-splice emission embeds ~7
        # copies per chain level and made wide selects quadratic to
        # analyze), supports full SQLite path syntax incl. [#-n], and
        # renders a PRESENT null member as 'null' under `->` — which
        # the get_json_object path cannot distinguish from missing
        p = path.replace("'", "''")
        repl = (
            f"filesql_json_arrow(CAST(({sql[start:e]}) AS STRING), "
            f"'{p}', {'true' if deep else 'false'})"
        )
        sql = sql[:start] + repl + sql[rhs_end:]


def _rewrite_string_aliases(sql: str) -> str:
    """SQLite (a kept-for-compat misfeature, quirks.html §4) allows a
    string literal as a column alias — `SELECT avg(x) 'n'`,
    `… AS 'n'`. Spark's parser rejects both; rewrite the alias-position
    literal to a backtick identifier. Runs FIRST in the pipeline so the
    literal body is still unescaped and every later pass sees a normal
    identifier alias."""
    if "'" not in sql:
        return sql
    mask = _div_mask(sql)
    edits = [
        # original case preserved (the lowercased `name` is for the
        # affinity map only; result column names keep the user's case)
        (ws, be,
         "`" + sql[ws + 1:be - 1].replace("''", "'").replace("`", "``") + "`")
        for _a, _b, _name, ws, be, quote in _derived_select_items(
            sql, mask, min_depth=0
        )
        if quote == "'"
    ]
    for a, b, repl in sorted(edits, reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _alias_shadow_types(
    sql: str, mask: str, coltypes: dict[str, str]
) -> dict[str, str | None]:
    """Affinity overrides for names rebound in derived scopes.

    The division/concat passes must not type a bare identifier from the
    global catalog when a subquery/CTE select list rebinds that name:
    with an int column `n`, `WITH c AS (SELECT avg(x) AS n FROM t)
    SELECT n/2 FROM c` must divide a REAL (r11 ADVICE fix). Instead of
    merely STRIPPING such names (r11's conservative fix — which made
    `(SELECT min(n) n FROM t)` lose min()'s INTEGER affinity and skip a
    truncation SQLite performs), the binding expression's affinity is
    COMPUTED with the same _div_walk tracker the division pass uses:
    avg → real, count → int, min/max/sum follow their argument, CAST
    follows its target. Returns name → 'int' | 'real' | None (unknown,
    or conflicting across multiple bindings → degrade to untyped, which
    keeps real division and never wrongly truncates).

    Chained scopes (a CTE reading another CTE's alias) converge by
    fixpoint: bindings re-evaluate under the previous round's overrides,
    and anything still unstable after 3 rounds degrades to None."""
    items = _derived_select_items(sql, mask)
    if not items:
        return {}
    throwaway: list = []
    result: dict[str, str | None] = {}
    merged = dict(coltypes)
    for _ in range(3):
        new: dict[str, str | None] = {}
        for a, b, name, *_ in items:
            t = _div_walk(sql, mask, a, b, merged, throwaway)
            t = t if t in ("int", "real") else None
            if name in new:
                if new[name] != t:
                    new[name] = None
            else:
                new[name] = t
        if new == result:
            return result
        result = new
        merged = dict(coltypes)
        for k, v in result.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = v
    return {k: None for k in result}  # no fixpoint: degrade to untyped


def _apply_shadow(
    sql: str, mask: str, coltypes: dict[str, str]
) -> dict[str, str]:
    """Catalog column types with derived-scope alias rebinds applied
    (see _alias_shadow_types)."""
    shadow = _alias_shadow_types(sql, mask, coltypes)
    if not shadow:
        return coltypes
    merged = dict(coltypes)
    for k, v in shadow.items():
        if v is None:
            merged.pop(k, None)
        else:
            merged[k] = v
    return merged


_SAMETYPE_CALL_RX = re.compile(
    r"(?i)\b(?:ifnull|coalesce|nvl|min|max|least|greatest)\s*\("
)

# --------------------------------- runtime-value-dependent division affinity
# SQLite picks int-vs-real division by each operand's RUNTIME type; for
# `ifnull(col_int, 2.5) / 2` that depends on which argument fired — the
# long-documented divergence (SURVEY §5, engine contract). No static
# rewrite can replicate it, but a RUNTIME one can: for ifnull/coalesce/
# nvl the deciding argument is exactly the first non-NULL one, so the
# division dispatches on the arguments' null-ness — `CASE WHEN <the
# firing arg has INTEGER affinity> THEN … DIV … ELSE … / … END`. Scoped
# tight (r13): the conditional call must be a whole `/` operand (not a
# sub-factor of a *·% chain), its arguments simple primaries (columns /
# numeric / string literals / NULL — duplicated into the condition, so
# they must be pure and cheap), the other operand a known-int/NULL
# primary. Everything outside that scope keeps the documented float-
# division fallback. min/max stay divergent (their deciding argument
# needs value comparisons, not null-ness). Differentially fuzzed vs
# stdlib sqlite3 (which HAS the runtime semantics) in
# test_fuzz_dialect.py::test_value_dependent_division_runtime_dispatch.

_VD_COND_FUNCS = ("ifnull", "nvl", "coalesce", "min", "max", "iif")
_VD_CALL_RX = re.compile(
    r"(?i)(ifnull|nvl|coalesce|min|max|iif)\s*\("  # via .match(s, pos)
)
# a division CASE this pass itself emitted — recognized so a CHAINED
# division (`ifnull(n, 2.5) / 2 / 3`) can propagate the condition: the
# emission's value is int exactly when its condition held, so the next
# `/` dispatches on the same condition. The condition text never
# contains ' THEN ' (it is built from IS NULL checks and comparisons of
# simple primaries), so the split is unambiguous.
_VD_EMITTED_RX = re.compile(
    r"(?s)^\(CASE WHEN (.*?) THEN TRY_CAST\(.* DIV .* END\)$"
)
# the r17 absorption emission: `emission op int-operand` re-emitted as
# a dispatch CASE on the same condition (value int exactly when the
# condition held), so later / % sites keep recognizing the chain
_VD_ABSORB_RX = re.compile(
    r"(?s)^\(CASE WHEN (.*?) THEN TRY_CAST\(.+ AS BIGINT\) [-+*] .+"
    r" ELSE .+ END\)$"
)


def _vd_emission_match(text: str):
    """Match any of this pass's int-iff-condition dispatch emissions
    (division, text-repl, r17 absorption); group(1) is the condition."""
    return (
        _VD_EMITTED_RX.match(text)
        or _VD_TEXTREPL_RX.match(text)
        or _VD_ABSORB_RX.match(text)
    )
_VD_IDENT_RX = re.compile(
    r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*"
    r"|`[^`]+`(\.`[^`]+`)?"
)
_VD_LIT_RX = re.compile(
    # trailing D/F: the real-literal pass (2.5 -> 2.5D) runs before the
    # _CALL_REWRITES consumers (CAST-AS-TEXT, concat, group_concat)
    r"(?i)[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?[dDfF]?|null|'(?:[^']|'')*'"
)


def _vd_simple_primary(text: str) -> bool:
    s = text.strip()
    return bool(
        _VD_IDENT_RX.fullmatch(s) or _VD_LIT_RX.fullmatch(s)
    )


_VD_TEXT_FN_RX = re.compile(
    r"(?i)\b(upper|lower|trim|ltrim|rtrim|replace|hex|quote|char|"
    r"translate|substr|substring|typeof|printf|format|concat|"
    r"concat_ws|group_concat|string_agg)\s*\("
)
_VD_COMPOUND_BLOCK_RX = re.compile(
    # nondeterministic / session-state calls cannot be duplicated into
    # the dispatch CASE; windows (over) stay out for plan-cost reasons.
    # Scalar subqueries/EXISTS are deterministic within a statement and
    # bounded by the length cap — allowed (r16: `trim(s) - EXISTS(…)`)
    r"(?i)\b(random|randomblob|changes|total_changes|"
    r"last_insert_rowid|over)\b"
)


def _vd_compound_operand(text: str) -> bool:
    """A call or paren group acceptable as a TEXT-coercion arithmetic
    operand (r16: `upper(s) * 2`, `(n || s) + 1`). The operand text is
    duplicated into the dispatch CASE, so it must be deterministic
    (no random/changes), cheap (no subquery/window), and bounded."""
    s = text.strip()
    if not s or len(s) > 200 or s[-1] != ")":
        return False
    if _VD_COMPOUND_BLOCK_RX.search(s):
        return False
    mask = _div_mask(s)
    a, b, t = _div_scan_primary(s, mask, 0, len(s), None, [])
    return a == 0 and b == len(s) and t != "kw"


def _vd_operand_ok(text: str) -> bool:
    return _vd_simple_primary(text) or _vd_compound_operand(text)


def _vd_emitted_type(text: str) -> str | None:
    """'real' when the span is one of this pass's own dispatch-CASE
    emissions (their VALUE is always numeric — int or real per the
    runtime dispatch, exactly representable in the static DOUBLE), so
    a later site can use them as numeric operands (r16: `s - -s` —
    the inner -s repl feeds the outer subtraction)."""
    t = text.strip()
    if len(t) <= 4000 and _vd_emission_match(t):
        return "real"
    return None


_VD_PEEL_RX = re.compile(
    # affinity-preserving unary wrappers: the dispatch condition of the
    # wrapped call carries through (abs/trunc/ceil/floor keep int int
    # and real real; likely/likelihood/unlikely return arg 1 unchanged)
    r"(?i)(abs|likely|unlikely|likelihood|trunc|ceil|ceiling|floor)\s*\("
)
# pure, deterministic, cheap-to-duplicate functions allowed inside a
# CASE decider's WHEN conditions (the truthiness pass emits try_cast)
_VD_COND_PURE_FUNCS = frozenset({
    "try_cast", "cast", "nvl", "coalesce", "ifnull", "nullif", "length",
    "abs", "upper", "lower", "substr", "substring", "typeof", "instr",
})
_VD_COND_BARE_WORDS = frozenset({
    "and", "or", "not", "is", "null", "in", "like", "between", "escape",
    "true", "false", "then", "as", "double", "bigint", "real", "integer",
    "string", "glob", "distinct", "from",
})


def _vd_pure_nested(sql, mask, low, a, b) -> bool:
    """True when span [a, b) is itself a conditional call (or an
    affinity-preserving wrapper over one) whose arguments are all simple
    primaries or pure nested calls — cheap and side-effect-free to
    duplicate into a dispatch condition (r13b nested-decider support:
    `ifnull(ifnull(n, 2), 2.5) / 2` dispatches on the inner call)."""
    while a < b and mask[a] in " \t\r\n":
        a += 1
    while b > a and mask[b - 1] in " \t\r\n":
        b -= 1
    if a >= b or sql[b - 1] != ")":
        return False
    m = _VD_CALL_RX.match(sql, a) or _VD_PEEL_RX.match(sql, a)
    if not m or _div_find_close(mask, m.end() - 1, b) != b - 1:
        return False
    for s0, s1 in _div_split_args(mask, m.end(), b - 1):
        t = sql[s0:s1].strip()
        if not _vd_simple_primary(t) and not _vd_pure_nested(
            sql, mask, low, s0, s1
        ):
            return False
    return True


def _vd_cond_duplicable(sql, mask, low, a, b) -> bool:
    """True when a WHEN-condition span is safe to duplicate into a
    dispatch condition: identifiers, literals, comparisons, boolean
    connectives, and a whitelist of pure functions — no subqueries, no
    nondeterminism (random()/rand()), no CASE, no window refs."""
    i = a
    while i < b:
        c = mask[i]
        if c == "\x00" or c in " \t\r\n()=<>!+-*/%,.|&'0123456789":
            i += 1
            continue
        m = _WORD_RX.match(mask, i)
        if not m:
            i += 1
            continue
        w = low[i:m.end()]
        k = m.end()
        while k < b and mask[k] in " \t\r\n":
            k += 1
        if k < b and mask[k] == "(":
            if w not in _VD_COND_PURE_FUNCS:
                return False
        elif w == "select" or w == "case":
            return False
        i = m.end()
    return True


def _vd_analyze_case(sql, mask, low, start, e, coltypes):
    """CASE decider (r13b): `CASE WHEN c1 THEN a1 … ELSE z END` where the
    arms are simple primaries of known but MIXED int/real affinity and
    every condition is duplicable-pure. Returns the condition under
    which the runtime value has INTEGER affinity: OR over int arms of
    (their condition AND NOT any earlier condition, null-safe), plus the
    all-conditions-false conjunction when the ELSE arm is int. NULL arms
    are unconstrained (the value is NULL — both division branches render
    NULL). Simple CASE (`CASE x WHEN v`) is out of scope."""
    if low[start:start + 4] != "case" or (
        start + 4 < e and (mask[start + 4].isalnum() or mask[start + 4] == "_")
    ):
        return None
    marks = _case_marks(sql, mask, start, e)
    if not marks:
        return None
    # the CASE must span exactly [start, e): last mark is its END
    if sql[marks[-1][0] + 3:e].strip():
        return None
    first_pos, first_kw = marks[0]
    if first_kw != "when" or sql[start + 4:first_pos].strip():
        return None
    conds: list[str] = []          # WHEN conditions in order
    arm_types: list[str] = []      # arm affinity per condition
    else_type = "null"             # implicit ELSE NULL
    prev_pos, prev_kw = start + 4, "case"
    pending_cond: str | None = None
    for mpos, kw in marks:
        span = sql[prev_pos:mpos].strip()
        if prev_kw == "when":
            if kw != "then" or not _vd_cond_duplicable(
                sql, mask, low, prev_pos, mpos
            ):
                return None
            pending_cond = span
        elif prev_kw == "then":
            if not _vd_simple_primary(span):
                return None
            t = _div_walk(sql, mask, prev_pos, mpos, coltypes, [])
            if t not in ("int", "real", "null"):
                return None
            conds.append(pending_cond)
            arm_types.append(t)
        elif prev_kw == "else":
            if not _vd_simple_primary(span):
                return None
            else_type = _div_walk(sql, mask, prev_pos, mpos, coltypes, [])
            if else_type not in ("int", "real", "null"):
                return None
        prev_pos, prev_kw = mpos + len(kw), kw
    known = [t for t in arm_types + [else_type] if t != "null"]
    if "int" not in known or "real" not in known:
        return None  # not value-dependent
    branches = []
    for i, t in enumerate(arm_types):
        if t != "int":
            continue
        prior = [f"NOT coalesce({conds[j]}, false)" for j in range(i)]
        branches.append(
            "(" + " AND ".join(prior + [f"coalesce({conds[i]}, false)"]) + ")"
        )
    if else_type == "int":
        branches.append(
            "(" + " AND ".join(
                f"NOT coalesce({c}, false)" for c in conds
            ) + ")"
        )
    return " OR ".join(branches) if branches else None


def _vd_analyze_call(sql, mask, low, start, e, coltypes, numeric_only=False,
                     rendering=False):
    """If sql[start:e] is an ifnull/nvl/coalesce/min/max/iif call (args:
    simple primaries or pure nested conditional calls) of statically
    known but MIXED int/real affinity — or such a call under an
    affinity-preserving wrapper (abs/trunc/ceil/floor/likely…) — return
    the SQL condition under which the runtime value has INTEGER
    affinity; else None. ``numeric_only`` additionally bails on
    string-literal args — required by the RENDERING consumers, where a
    TEXT value must surface verbatim ('3.50' stays '3.50'), while the
    division consumer applies SQLite's numeric coercion anyway.
    ``rendering`` unlocks paren-stripping and searched-CASE analysis —
    safe ONLY for the single-scan rendering consumers: the division
    pass rescans after each replacement, and its own emissions keep
    their operands parenthesized precisely so this analyzer refuses
    them (the division path handles CASE by arm distribution in
    _vd_match_site instead)."""
    while start < e and mask[start] in " \t\r\n":
        start += 1
    while e > start and mask[e - 1] in " \t\r\n":
        e -= 1
    if start >= e:
        return None
    if rendering:
        # redundant parens around the whole span
        if mask[start] == "(" and _div_find_close(mask, start, e) == e - 1:
            return _vd_analyze_call(
                sql, mask, low, start + 1, e - 1, coltypes, numeric_only,
                rendering,
            )
        cond = _vd_analyze_case(sql, mask, low, start, e, coltypes)
        if cond is not None:
            return cond
    # affinity-preserving unary wrapper: peel and analyze the inside
    pm = _VD_PEEL_RX.match(sql, start)
    if pm and sql[e - 1] == ")":
        close = _div_find_close(mask, pm.end() - 1, e)
        if close == e - 1:
            spans = _div_split_args(mask, pm.end(), e - 1)
            if spans:
                a, b = spans[0]
                return _vd_analyze_call(
                    sql, mask, low, a, b, coltypes, numeric_only, rendering
                )
        return None
    m = _VD_CALL_RX.match(sql, start)
    if not m or m.end() > e or sql[e - 1] != ")":
        return None
    word = m.group(1).lower()
    op = m.end() - 1
    arg_spans = _div_split_args(mask, op + 1, e - 1)
    if not arg_spans:
        return None
    texts, types = [], []
    for a, b in arg_spans:
        t_text = sql[a:b].strip()
        if not _vd_simple_primary(t_text) and not _vd_pure_nested(
            sql, mask, low, a, b
        ):
            return None
        if numeric_only and t_text.startswith("'"):
            return None
        t = _div_walk(sql, mask, a, b, coltypes, [])
        if t not in ("int", "real", "null"):
            return None
        texts.append(t_text)
        types.append(t)
    if "int" not in types or "real" not in types:
        return None  # not value-dependent (static paths cover it)
    if word == "iif":
        # iif(X, Y, Z): Y when X is truthy (non-NULL, numerically
        # non-zero — SQLite coerces), else Z. X must be a simple primary
        # of known affinity so the truthiness test is cheap to duplicate.
        if len(texts) != 3:
            return None
        x, ty, tz = texts[0], types[1], types[2]
        if {ty, tz} != {"int", "real"}:
            return None  # value branches not mixed: static paths cover it
        truthy = f"(({x}) IS NOT NULL AND TRY_CAST(({x}) AS DOUBLE) <> 0)"
        return truthy if ty == "int" else f"(NOT {truthy})"
    if word in ("min", "max"):
        # scalar form only (1-arg min/max is the aggregate); deciding
        # argument = the chosen extremum under SQLite's tie rules (min
        # keeps the LAST minimal, max the FIRST maximal). Comparisons
        # are numeric, so TEXT operands are out (SQLite orders numerics
        # before all text — a numeric comparison would mis-pick): bail
        # on string-literal args; a NULL arg makes the result NULL (the
        # condition's comparisons go NULL -> ELSE -> float NULL, same
        # value, so 'null'-typed args only need the literal-NULL bail).
        if len(texts) < 2 or "null" in types:
            return None
        if any(t.startswith("'") for t in texts):
            return None
        branches = []
        for i, t in enumerate(types):
            if t != "int":
                continue
            conds = []
            for j in range(len(texts)):
                if j == i:
                    continue
                if word == "min":
                    cmp_op = "<=" if j < i else "<"
                else:
                    cmp_op = ">" if j < i else ">="
                conds.append(f"({texts[i]}) {cmp_op} ({texts[j]})")
            branches.append("(" + " AND ".join(conds) + ")")
        return " OR ".join(branches) if branches else None
    branches = []
    for i, t in enumerate(types):
        if t != "int":
            continue
        conds = [f"({texts[j]}) IS NULL" for j in range(i)]
        conds.append(f"({texts[i]}) IS NOT NULL")
        branches.append("(" + " AND ".join(conds) + ")")
    if not branches:
        return None
    return " OR ".join(branches)


_VD_MINMAX_SHIM_RX = re.compile(
    # the exact _scalar_minmax emission: CASE … THEN NULL ELSE
    # least/greatest(args) END. THEN NULL makes the match value-safe
    # even for a hand-written CASE of this shape: whenever the WHEN
    # fires the value is NULL and both rendering branches agree.
    r"(?is)^\(?\s*CASE\s+WHEN\s.*?\sTHEN\s+NULL\s+ELSE\s+"
    r"(least|greatest)\s*\((.*)\)\s+END\s*\)?$"
)


def _vd_render_text(expr: str) -> str | None:
    """Runtime-dispatched SQLite TEXT rendering for a value-dependent
    conditional call (the r13 closure's rendering consumers, SURVEY §5
    divergence #2): INTEGER text when the firing argument has int
    affinity, %!.15g via double_to_text otherwise. None when ``expr``
    is not a direct in-scope conditional call. Scalar min/max arrive
    here already rewritten to their NULL-shim CASE (the _CALL_REWRITES
    sweep runs min/max before cast/concat), so that emission shape is
    recognized too."""
    s = expr.strip()
    if not s or "(" not in s:
        return None
    target = s  # the call whose args decide the runtime affinity
    m = _VD_MINMAX_SHIM_RX.match(s)
    if m:
        word = "min" if m.group(1).lower() == "least" else "max"
        target = f"{word}({m.group(2)})"
    mask = _div_mask(target)
    cond = _vd_analyze_call(
        target, mask, target.lower(), 0, len(target), _ACTIVE_COLUMN_TYPES,
        numeric_only=True, rendering=True,
    )
    if cond is None:
        return None
    return (
        f"(CASE WHEN {cond} THEN CAST(TRY_CAST(({s}) AS BIGINT) AS STRING) "
        f"ELSE filesql_double_text(TRY_CAST(({s}) AS DOUBLE)) END)"
    )


def _vd_dtext_edit(sql, mask, a, b, coltypes, edits) -> None:
    """The `||` pass's edit-based twin of _vd_render_text: one
    REPLACEMENT edit over the primary span (never two boundary inserts —
    those interleave wrongly with other same-position inserts)."""
    while b > a and mask[b - 1] in " \t\r\n":
        b -= 1
    cond = _vd_analyze_call(
        sql, mask, sql.lower(), a, b, coltypes, numeric_only=True,
        rendering=True,
    )
    if cond is None:
        return
    p = sql[a:b]
    edits.append((
        a, b,
        f"(CASE WHEN {cond} THEN CAST(TRY_CAST(({p}) AS BIGINT) AS STRING) "
        f"ELSE filesql_double_text(TRY_CAST(({p}) AS DOUBLE)) END)",
    ))


def _vd_case_span(sql, mask, low, a, b, allow_simple=False):
    """(case_start, marks) when span [a, b) is exactly a searched CASE,
    possibly behind redundant parens; else None. ``allow_simple``
    additionally admits the simple form `CASE x WHEN v …` — safe for
    the arm-distribution rewrite, which copies operand and WHEN values
    verbatim (only the condition-ANALYSIS path must refuse it)."""
    while True:
        while a < b and mask[a] in " \t\r\n":
            a += 1
        while b > a and mask[b - 1] in " \t\r\n":
            b -= 1
        if a < b and mask[a] == "(" and _div_find_close(mask, a, b) == b - 1:
            a, b = a + 1, b - 1
            continue
        break
    if a >= b or low[a:a + 4] != "case":
        return None
    if a + 4 < b and (mask[a + 4].isalnum() or mask[a + 4] == "_"):
        return None
    marks = _case_marks(sql, mask, a, b)
    if not marks or sql[marks[-1][0] + 3:b].strip():
        return None
    if marks[0][1] != "when":
        return None
    if not allow_simple and sql[a + 4:marks[0][0]].strip():
        return None
    return a, marks


def _vd_case_distribute(sql, mask, low, a, b, other, op, coltypes,
                        other_left):
    """Searched-CASE operand of `/` or `%` with simple-primary arms of
    known MIXED affinity: distribute the operator into the arms (r13b).
    `CASE WHEN c THEN 1 ELSE 2.5 END / 2` becomes
    `CASE WHEN c THEN (1) / (2) ELSE (2.5) / (2) END` — the conditions
    are copied exactly once (no duplication, no purity constraint), and
    the static division pass then types each arm's site with certain
    affinity, which is precisely SQLite's runtime choice. The implicit
    ELSE stays implicit (NULL op anything is NULL). ``other`` (the
    non-CASE operand) must be a simple primary — it IS duplicated per
    arm."""
    hit = _vd_case_span(sql, mask, low, a, b, allow_simple=True)
    if hit is None:
        return None
    ca, marks = hit
    out = ["CASE"]
    types: list[str] = []
    prev_pos, prev_kw = ca + 4, "case"
    for mpos, kw in marks:
        seg = sql[prev_pos:mpos]
        if prev_kw in ("then", "else"):
            arm = seg.strip()
            if not _vd_simple_primary(arm):
                return None
            t = _div_walk(sql, mask, prev_pos, mpos, coltypes, [])
            if t not in ("int", "real", "null"):
                return None
            types.append(t)
            if other_left:
                seg = f" ({other}) {op} ({arm}) "
            else:
                seg = f" ({arm}) {op} ({other}) "
        out.append(seg)
        out.append(sql[mpos:mpos + len(kw)])
        prev_pos, prev_kw = mpos + len(kw), kw
    known = {t for t in types if t != "null"}
    if known != {"int", "real"}:
        return None  # not value-dependent: static typing is already exact
    return "(" + "".join(out) + ")"


# a TEXT operand's numeric prefix is REAL when digits run into a
# fraction/exponent (or it starts with a bare decimal point); everything
# else — clean ints, int-prefixed junk, junk (coerces to 0) — is INTEGER
_VD_REAL_PREFIX_SQL = r"'^[ \\t\\r\\n]*[+-]?([0-9]+[.eE]|[.][0-9])'"
# the text-repl dispatch CASE (emitted by _vd_text_repl below): its
# value is int exactly when the NOT-RLIKE condition held, so a chained
# / or % can dispatch on the same condition — the r16 closure of
# `+s * n / 2` float-dividing where SQLite DIVs the int flavor
_VD_TEXTREPL_RX = re.compile(
    r"(?s)^\(CASE WHEN ("
    r"NOT \(\(.+?\) RLIKE " + re.escape(_VD_REAL_PREFIX_SQL) + r"\)"
    r"(?: AND NOT \(\(.+?\) RLIKE " + re.escape(_VD_REAL_PREFIX_SQL)
    + r"\))?"
    r") THEN .+ ELSE .+ END\)$"
)


def _vd_text_repl(l, r, lt, rt, op):
    """SQLite arithmetic over a TEXT operand: numeric-prefix coercion,
    int-vs-real decided per VALUE (r13b). Emits a dispatch CASE whose
    arms carry SQLite-spelled CAST(x AS INTEGER/REAL) — the later cast
    pass expands those to the exact prefix parse, and the main division
    pass types each arm statically (DIV + zero guards)."""
    def forms(t, side_t):
        if side_t == "text":
            return f"CAST(({t}) AS INTEGER)", f"CAST(({t}) AS REAL)"
        return f"({t})", f"({t})"

    l_int, l_real = forms(l, lt)
    r_int, r_real = forms(r, rt)
    if op == "%":
        # `%` converts BOTH operands with the INTEGER prefix parse
        # (sqlite3VdbeIntValue: 10 %% '2e1' is 10 %% 2), so the VALUE
        # never needs the real form; the result TYPE is REAL when any
        # side's numeric coercion is real — unrepresentable per-row in
        # Spark's static typing, so the whole expression lands on
        # DOUBLE (value exact; same documented class as SURVEY §5 #2).
        v = f"(({l_int}) % ({r_int}))"
        if lt == "int" and rt == "int":
            return v  # unreachable (a text side brought us here)
        return f"TRY_CAST({v} AS DOUBLE)"
    if lt == "real" or rt == "real":
        # a REAL side forces the float flavor regardless of the text
        # side's prefix — no dispatch needed
        return f"({l_real} {op} {r_real})"
    conds = []
    if lt == "text":
        conds.append(f"NOT (({l}) RLIKE {_VD_REAL_PREFIX_SQL})")
    if rt == "text":
        conds.append(f"NOT (({r}) RLIKE {_VD_REAL_PREFIX_SQL})")
    return (
        f"(CASE WHEN {' AND '.join(conds)} THEN {l_int} {op} {r_int} "
        f"ELSE {l_real} {op} {r_real} END)"
    )


def _vd_chain_back(sql, mask, low, l_start, coltypes, site_op):
    """Start position of the whole left OPERAND of a ``site_op`` site
    whose adjacent primary begins at ``l_start``; None unless every
    chained operand is a duplication-safe primary (the chain text is
    copied into both dispatch arms). Precedence-aware (r17): an
    additive site's operand extends back across + - * / %; a
    multiplicative site's only across * / % (binary + - bind looser
    and END the operand)."""
    stop_additive = site_op not in "+-"
    start = l_start
    for _guard in range(64):  # chains are short; hard bound
        k = start - 1
        while k >= 0 and mask[k] in " \t\r\n":
            k -= 1
        if k < 0:
            return start
        if mask[k] in "+-" and _is_unary_sign(sql, mask, low, k):
            start = k  # the sign belongs to this operand; keep walking
            continue
        if mask[k] not in "+-*/%" or (stop_additive and mask[k] in "+-"):
            return start
        e2 = k
        while e2 > 0 and mask[e2 - 1] in " \t\r\n":
            e2 -= 1
        p0 = _rev_primary_start(sql, mask, e2)
        if p0 is None:
            return None
        p_text = sql[p0:e2].strip()
        if not p_text or not _vd_operand_ok(p_text):
            return None
        start = p0
    return None


def _vd_match_site(sql, mask, low, slash, coltypes):
    """Try to match one value-dependent site around the `/`, `%` (full
    dispatch family) or `+`, `-`, `*` (TEXT-coercion only, r13b) at
    ``slash``; return (span_start, span_end, replacement) or None."""
    op = sql[slash]
    e = slash
    while e > 0 and mask[e - 1] in " \t\r\n":
        e -= 1
    l_start = _rev_primary_start(sql, mask, e)
    if op in "+-" and l_start is None:
        # unary +/- over a TEXT primary: + is identity (SQLite keeps the
        # operand verbatim), - is 0 - x under numeric-prefix coercion
        k = e - 1
        # an arithmetic operator before the sign makes it unary too:
        # `s - -s` — the inner -s is the right operand (r16)
        ctx_ok = k < 0 or mask[k] in "(,;=<>+-*/%"
        if not ctx_ok:
            ws = k
            while ws >= 0 and (mask[ws].isalnum() or mask[ws] == "_"):
                ws -= 1
            ctx_ok = ws < k and low[ws + 1:k + 1] in (
                "select", "when", "then", "else", "and", "or", "not",
                "where", "by", "having", "on", "set",
                "returning", "limit", "offset", "in",
            )
        if ctx_ok:
            r_first, r_end, rt = _div_scan_primary(
                sql, mask, slash + 1, len(sql), coltypes, []
            )
            r_text = sql[r_first:r_end].strip()
            if rt == "text" and _vd_operand_ok(r_text):
                j = r_end
                while j < len(sql) and mask[j] in " \t\r\n":
                    j += 1
                if j < len(sql) and mask[j] in "|&":
                    return None  # bitwise-glued: integer coercion of
                    # the SIGNED operand — the bitwise pass owns it
                # continuation is value-safe (r16): an IMMEDIATE / or
                # % chains on the repl's dispatch CASE (the
                # _VD_TEXTREPL_RX recognizer dispatches DIV/int-cast
                # on the same condition), and + - * & | << >> agree on
                # the VALUE. A / or % AFTER a + - * needs every
                # intervening operand statically numeric: int/null
                # operands are ABSORBED into the dispatch CASE (r17),
                # a real operand fixes the flavor real (native float
                # is then correct) — only an unknown/text operand
                # breaks the chain (bail, loud-native).
                jj = j
                seen_addmul = False
                unsafe = False
                while jj < len(sql):
                    c2 = mask[jj]
                    if c2 in " \t\r\n":
                        jj += 1
                        continue
                    if c2 in "+-*/%":
                        if c2 in "/%" and seen_addmul and unsafe:
                            return None
                        if c2 in "+-*":
                            seen_addmul = True
                        nf, ne, nt = _div_scan_primary(
                            sql, mask, jj + 1, len(sql), coltypes, []
                        )
                        if nt == "kw" or ne <= jj:
                            break
                        if nt not in ("int", "real", "null"):
                            unsafe = True
                        jj = ne
                        continue
                    break  # any other token ends the arithmetic chain
                # (`+s * EXISTS(…)` was an out-of-scope bail)
                if op == "+":
                    return slash, r_end, f"({r_text})"
                return slash, r_end, _vd_text_repl(
                    "0", r_text, "int", "text", "-"
                )
        return None
    if l_start is None and op in "/%" and e >= 3 and low[e - 3:e] == "end" \
            and (
        e - 4 < 0 or not (mask[e - 4].isalnum() or mask[e - 4] == "_")
    ):
        # unparenthesized CASE … END as the left operand: extend the
        # primary back to its CASE (word-level case/end depth scan)
        depth = 0
        for wm in reversed(list(_WORD_RX.finditer(mask, 0, e))):
            w = low[wm.start():wm.end()]
            if w == "end":
                depth += 1
            elif w == "case":
                depth -= 1
                if depth == 0:
                    l_start = wm.start()
                    break
    if l_start is None:
        return None
    # the matched primary must be the WHOLE left operand: a preceding
    # tight-binding operator would regroup the arithmetic ( `a * P / 2`
    # divides a*P, not P; `~P / 2` divides ~P ).  Unary +/- are safe:
    # DIV and the %-int-cast truncate toward zero, so the sign commutes,
    # and the CASE condition ignores it.
    k = l_start - 1
    while k >= 0 and mask[k] in " \t\r\n":
        k -= 1
    chain_ok = False
    if op in "+-*" and k >= 0 and mask[k] in "+-*%/" and not (
        mask[k] in "+-" and _is_unary_sign(sql, mask, low, k)
    ):
        # the site's primary is MID-CHAIN (`n + 4 - s`, `a * b + s`):
        # extend the left operand to the whole chain when every earlier
        # operand is a duplication-safe primary; the chain's static
        # flavor then joins the dispatch (r17 — text operands past the
        # second chain position were bailed loud-native)
        cs = _vd_chain_back(sql, mask, low, l_start, coltypes, op)
        if cs is None:
            return None
        # a multiplicative site stopped at a binary +/- without
        # extending: the primary IS the whole left operand — plain
        # primary path (text operands allowed), no chain constraint
        chain_ok = cs < l_start
        l_start = cs
    elif k >= 0 and mask[k] in "*%/~":
        return None
    elif op in "+-*" and k >= 0 and mask[k] in "+-":
        # a unary sign before the primary: the unary-repl site (visited
        # first) owns signed operands — decline, as before r17
        return None
    if op in "/%" and k >= 0 and mask[k] in "+-" and _is_unary_sign(
        sql, mask, low, k
    ):
        # unary minus over a TEXT-valued primary REAL-parses it
        # (-'1e2' is -100.0) while this site's dispatch would INT-
        # prefix-parse the bare string (1) — the sign does NOT commute
        # through the string coercion (r16). The unary-repl site (the
        # sign's own scan position, visited first) owns the operand;
        # decline here so a bailed unary path stays loud-native.
        if _div_walk(sql, mask, l_start, e, coltypes, []) == "text":
            return None
    r_first, r_end, rt = _div_scan_primary(
        sql, mask, slash + 1, len(sql), coltypes, []
    )
    if rt == "kw":
        return None
    r_chain_ok = False
    if op in "+-":
        j = r_end
        while j < len(sql) and mask[j] in " \t\r\n":
            j += 1
        if j < len(sql) and mask[j] in "*/%":
            # a tighter op owns the right primary — the right operand
            # is a multiplicative CHAIN. Extend across * / % when every
            # element is a duplication-safe, statically numeric primary
            # (r17 — `s + 1 / 2` was bailed loud-native); a text or
            # unknown element still declines.
            if rt not in ("int", "real", "null") or not _vd_operand_ok(
                sql[r_first:r_end].strip()
            ):
                return None
            r_chain_ok = True
            types = {rt}
            cur = j
            while cur < len(sql) and mask[cur] in "*/%":
                nf, ne, nt = _div_scan_primary(
                    sql, mask, cur + 1, len(sql), coltypes, []
                )
                if nt not in ("int", "real", "null") or ne <= cur:
                    return None
                if not _vd_operand_ok(sql[nf:ne].strip()):
                    return None
                types.add(nt)
                r_end = ne
                cur = ne
                while cur < len(sql) and mask[cur] in " \t\r\n":
                    cur += 1
            rt = "real" if "real" in types else "int"
    p_text = sql[l_start:e]
    r_text = sql[r_first:r_end]
    if op in "+-*":
        # TEXT coercion is the only dispatch for additive ops
        p_s, r_s = p_text.strip(), r_text.strip()
        pe_t, re_t = _vd_emitted_type(p_s), _vd_emitted_type(r_s)
        if (chain_ok or _vd_operand_ok(p_s) or pe_t) and (
            r_chain_ok or _vd_operand_ok(r_s) or re_t
        ):
            lt0 = pe_t or _div_walk(sql, mask, l_start, e, coltypes, [])
            rt2 = re_t or rt
            if pe_t and not re_t and rt2 in ("int", "null"):
                # dispatch-CASE emission op int operand: ABSORB the
                # operator into a new dispatch CASE on the same
                # condition, so a LATER / or % still recognizes the
                # chain and DIVs the int flavor (r17 — `s / 2 * 3 / 4`
                # float-divided where SQLite DIVs)
                m0 = _vd_emission_match(p_s)
                if m0:
                    return l_start, r_end, (
                        f"(CASE WHEN {m0.group(1)} "
                        f"THEN TRY_CAST(({p_s}) AS BIGINT) {op} ({r_s}) "
                        f"ELSE ({p_s}) {op} ({r_s}) END)"
                    )
            if (not pe_t and not re_t and rt2 in ("int", "null")
                    and lt0 is None):
                # conditional-call left operand (ifnull(n, 2.5) * 2):
                # absorb on its own int-iff condition, same pattern
                # (r17 — a later / float-divided where SQLite DIVs)
                left_cond = _vd_analyze_call(
                    sql, mask, low, l_start, e, coltypes
                )
                if left_cond is not None:
                    return l_start, r_end, (
                        f"(CASE WHEN {left_cond} "
                        f"THEN TRY_CAST(({p_s}) AS BIGINT) {op} ({r_s}) "
                        f"ELSE ({p_s}) {op} ({r_s}) END)"
                    )
            if chain_ok and lt0 not in ("int", "real", "null"):
                # an extended chain must be statically numeric (a text
                # or signed-text element inside it would need its own
                # dispatch) — decline, stays loud-native
                return None
            if (
                "text" in (lt0, rt2)
                and lt0 in ("int", "real", "null", "text")
                and rt2 in ("int", "real", "null", "text")
            ):
                return l_start, r_end, _vd_text_repl(
                    p_s, r_s, lt0, rt2, op
                )
        return None
    # searched-CASE operand → distribute the operator into the arms
    if rt in ("int", "real", "null") and _vd_simple_primary(r_text):
        d = _vd_case_distribute(
            sql, mask, low, l_start, e, r_text.strip(), op, coltypes,
            other_left=False,
        )
        if d is not None:
            return l_start, r_end, d
    if _vd_operand_ok(p_text.strip()):
        lt0 = _div_walk(sql, mask, l_start, e, coltypes, [])
        if lt0 in ("int", "real", "null") and _vd_simple_primary(
            p_text.strip()
        ):
            d = _vd_case_distribute(
                sql, mask, low, r_first, r_end, p_text.strip(), op,
                coltypes, other_left=True,
            )
            if d is not None:
                return l_start, r_end, d
        # TEXT operand(s): numeric-prefix coercion, flavor per VALUE
        if (
            "text" in (lt0, rt)
            and lt0 in ("int", "real", "null", "text")
            and rt in ("int", "real", "null", "text")
            and _vd_operand_ok(r_text.strip())
        ):
            return l_start, r_end, _vd_text_repl(
                p_text.strip(), r_text.strip(), lt0, rt, op
            )
    left_cond = _vd_analyze_call(sql, mask, low, l_start, e, coltypes)
    if left_cond is not None:
        if _vd_analyze_call(sql, mask, low, r_first, r_end, coltypes):
            return None  # both sides value-dependent: out of scope
        if op == "%":
            if rt not in ("int", "real", "null"):
                return None
            return l_start, r_end, _vd_mod_repl(
                left_cond, p_text, r_text, other_real=(rt == "real")
            )
        if rt not in ("int", "null"):
            return None  # real/unknown right side: float division is
            # already correct / stays documented-divergent
        repl = (
            f"(CASE WHEN {left_cond} THEN TRY_CAST({p_text} AS BIGINT) "
            f"DIV nullif({r_text}, 0) ELSE ({p_text}) / ({r_text}) END)"
        )
        return l_start, r_end, repl
    # chained arithmetic off this pass's own emission: the CASE's value
    # is int exactly when its condition held, so the next / dispatches
    # on the same condition (`ifnull(n,2.5) / 2 / 3`) and the next %
    # reuses it for the REAL-iff-either-real result type
    m = _vd_emission_match(p_text.strip())
    if m and not _vd_analyze_call(
        sql, mask, low, r_first, r_end, coltypes
    ):
        if op == "%" and rt in ("int", "real", "null"):
            return l_start, r_end, _vd_mod_repl(
                m.group(1), p_text, r_text, other_real=(rt == "real")
            )
        if op == "/" and rt in ("int", "null"):
            repl = (
                f"(CASE WHEN {m.group(1)} THEN TRY_CAST({p_text} AS BIGINT) "
                f"DIV nullif({r_text}, 0) ELSE ({p_text}) / ({r_text}) END)"
            )
            return l_start, r_end, repl
    right_cond = _vd_analyze_call(sql, mask, low, r_first, r_end, coltypes)
    if right_cond is None:
        # a dispatch-CASE emission as the DIVISOR: its value is int
        # exactly when its own condition held — reuse it (r16:
        # `n / -s` DIVs on the int flavor instead of float-dividing)
        mR = _vd_emission_match(r_text.strip())
        if mR:
            right_cond = mR.group(1)
    if right_cond is None:
        return None
    lt = _div_walk(sql, mask, l_start, e, coltypes, [])
    if op == "%":
        if lt not in ("int", "real", "null"):
            return None
        return l_start, r_end, _vd_mod_repl(
            right_cond, p_text, r_text, other_real=(lt == "real"),
            cond_side_right=True,
        )
    if lt not in ("int", "null"):
        return None
    # the ELSE divisor needs its own zero-guard: the later division pass
    # types the parenthesized conditional call as unknown and would skip
    # it, and ANSI mode errors on float division by zero (SQLite: NULL)
    repl = (
        f"(CASE WHEN {right_cond} THEN ({p_text}) DIV "
        f"nullif(TRY_CAST({r_text} AS BIGINT), 0) "
        f"ELSE ({p_text}) / nullif(({r_text}), 0) END)"
    )
    return l_start, r_end, repl


def _vd_mod_repl(cond, l_text, r_text, other_real, cond_side_right=False):
    """SQLite `%` with a value-dependent operand. The VALUE is
    condition-free — SQLite casts BOTH operands to INTEGER — but the
    result TYPE is REAL iff either runtime operand is REAL, so the
    rendering dispatches: int result when the known side is int AND the
    conditional side fired int, REAL (…\\.0) otherwise. With a REAL
    known side the result is always REAL — no CASE needed."""
    # no explicit zero-guard here: the later division pass types both
    # TRY_CAST(… AS BIGINT) operands int and wraps the divisor itself
    base = (
        f"(TRY_CAST(({l_text}) AS BIGINT) % "
        f"TRY_CAST(({r_text}) AS BIGINT))"
    )
    if other_real:
        return f"TRY_CAST({base} AS DOUBLE)"
    return (
        f"(CASE WHEN {cond} THEN {base} "
        f"ELSE TRY_CAST({base} AS DOUBLE) END)"
    )


def _rewrite_value_dependent_div(
    sql: str, column_types: dict[str, str] | None
) -> str:
    """Pre-pass to _rewrite_division (pipeline order matters: the main
    pass then walks the emitted CASE — typing its DIV arm, zero-guarding
    its ELSE arm, and rewriting any constructs inside the duplicated
    argument text consistently across all copies)."""
    maybe_text = "'" in sql or "||" in sql or (
        column_types and "text" in column_types.values()
    ) or _VD_TEXT_FN_RX.search(sql) is not None
    if "/" not in sql and "%" not in sql and not (
        maybe_text and any(c in sql for c in "+-*")
    ):
        return sql
    low = sql.lower()
    if (
        not any(f in low for f in _VD_COND_FUNCS)
        and "case" not in low
        and not maybe_text
    ):
        return sql
    # TEXT-operand +/-/* sites (numeric-prefix coercion) are scanned
    # only when text affinity is possible — numeric-only statements pay
    # nothing (r13b; r16 added text-returning calls and || chains as
    # triggers, so `hex(n) + 1` fires on an all-numeric table)
    text_possible = maybe_text
    scan_chars = "/%" + ("+-*" if text_possible else "")
    # each pass replaces one site, then rescans; emitted CASE arms never
    # re-match (their operands are parenthesized, not direct calls), so
    # the count of operator sites bounds the loop — cap generously above
    for _ in range(sum(sql.count(c) for c in scan_chars) + 1):
        mask = _div_mask(sql)
        low = sql.lower()
        pos = 0
        replaced = False
        while True:
            nxt = [i for i in (mask.find(c, pos) for c in scan_chars)
                   if i != -1]
            if not nxt:
                break
            pos = min(nxt)
            if mask[pos + 1 : pos + 2] == "/" and mask[pos] == "/":
                pos += 2  # not a division token
                continue
            try:
                hit = _vd_match_site(sql, mask, low, pos, column_types)
            except FilesqlError:
                hit = None
            if hit is None:
                pos += 1
                continue
            a, b, repl = hit
            sql = sql[:a] + repl + sql[b:]
            replaced = True
            break
        if not replaced:
            return sql
    return sql


def _rewrite_division(sql: str, column_types: dict[str, str] | None = None) -> str:
    """Apply the SQLite division/modulo semantics pass (module docstring
    above): int/int `/` → `DIV`, zero divisors → NULL via nullif. Also
    walks statements with sametype calls but no `/`: the literal-fold
    (`ifnull(3, 2.5)`) emits its value-pinning CAST through this pass,
    and a rendering site (`ifnull(3, 2.5) || 'x'`) needs it too."""
    if "/" not in sql and "%" not in sql and not _SAMETYPE_CALL_RX.search(sql):
        return sql
    mask = _div_mask(sql)
    edits: list[tuple[int, int, str]] = []
    _div_walk(sql, mask, 0, len(sql), column_types, edits)
    for a, b, repl in sorted(edits, key=lambda e: (e[0], e[1]), reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


# --------------------------------------------------- json_each / json_tree
# SQLite's json_each(X) / json_tree(X) table-valued functions → a lateral
# inline over the filesql_json_each / filesql_json_tree session UDFs
# (json1.py). Two supported shapes, the idiomatic SQLite uses:
#   FROM json_each(E) [AS a]     →  FROM (SELECT inline(…)) AS a
#   FROM t, json_each(E) [AS a]  →  FROM t LATERAL VIEW inline(…) a
# (the comma form is how SQLite correlates the TVF with a driving table;
# LATERAL VIEW is Spark's exact equivalent — per-row expansion, no join).

_JSON_EACH_ALIAS_RX = re.compile(
    r"\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)", re.IGNORECASE
)


def _rewrite_json_each(sql: str) -> str:
    for fn in ("json_each", "json_tree"):
        sql = _rewrite_json_tvf(sql, fn)
    return sql


def _rewrite_json_tvf(sql: str, fn: str) -> str:
    pos = 0
    while True:
        hit = _find_call(sql, fn, pos)
        if hit is None:
            return sql
        start, end, args = hit
        if len(args) not in (1, 2) or not args[0].strip():
            raise FilesqlError(
                f"{fn} expects 1-2 args ({fn}(doc) or {fn}(doc, path)), "
                f"got {len(args)}"
            )
        before = sql[:start].rstrip()
        alias, aend = None, end
        m = _JSON_EACH_ALIAS_RX.match(sql, end)
        if m:
            word = m.group(1)
            if word.lower() not in _DIV_KEYWORDS and word.lower() != "lateral":
                alias, aend = word, m.end()
        alias = alias or fn
        if len(args) == 2:
            # the path form: walk the subtree at P, with every
            # path-bearing column re-rooted exactly as SQLite roots them
            # — fullkey '$.a[0]' (not '$[0]'), and the ROOT row (the one
            # whose un-rooted fullkey is '$' — json_tree's subtree root,
            # or json_each over a scalar target) takes its key from P's
            # last segment and its path from P's parent. get_json_object
            # peels the subtree; missing path → NULL doc → zero rows,
            # matching SQLite.
            doc, p = args[0], args[1]
            if fn == "json_tree":
                # json_tree's ROOT row (un-rooted fullkey '$'): key is
                # P's last segment when it's an object key ('.name'),
                # NULL for '$' or an array index; path is P's PARENT.
                # (Both pinned empirically against sqlite3.)
                rk = (
                    f"(CASE WHEN ({p}) RLIKE '\\\\.[^.\\\\[]+$' "
                    f"THEN regexp_extract(({p}), '\\\\.([^.\\\\[]+)$', 1) "
                    f"ELSE CAST(NULL AS STRING) END)"
                )
                rpath = (
                    f"(CASE WHEN ({p}) = '$' THEN '$' ELSE "
                    f"regexp_replace(({p}), "
                    f"'(\\\\.[^.\\\\[]+|\\\\[[0-9]+\\\\])$', '') END)"
                )
                key_expr = (
                    f"CASE WHEN s.fullkey = '$' THEN {rk} ELSE s.key END"
                )
                path_expr = (
                    f"CASE WHEN s.fullkey = '$' THEN {rpath} "
                    f"ELSE concat(({p}), substring(s.path, 2)) END"
                )
            else:
                # json_each's root row (scalar target) keeps key NULL
                # and path = P — exactly what plain re-rooting produces
                key_expr = "s.key"
                path_expr = f"concat(({p}), substring(s.path, 2))"
            inner = (
                f"inline(transform(filesql_{fn}("
                f"get_json_object({doc}, {p})), "
                f"s -> named_struct("
                f"'key', {key_expr}, "
                f"'value', s.value, 'type', s.type, "
                f"'atom', s.atom, 'id', s.id, 'parent', s.parent, "
                f"'fullkey', concat(({p}), substring(s.fullkey, 2)), "
                f"'path', {path_expr})))"
            )
        else:
            inner = f"inline(filesql_{fn}({args[0]}))"
        if before.endswith(","):
            comma = len(before) - 1
            repl = f" LATERAL VIEW {inner} {alias}"
            sql = sql[:comma] + repl + sql[aend:]
            pos = comma + len(repl)
        elif re.search(r"(?i)\b(from|join)\s*$", sql[:start]):
            repl = f"(SELECT {inner}) AS {alias}"
            sql = sql[:start] + repl + sql[aend:]
            pos = start + len(repl)
        else:
            raise FilesqlError(
                f"{fn} is a table-valued function and is only "
                "supported in the FROM clause"
            )


_COLLATE_NOCASE_RE = re.compile(r"\bcollate\s+nocase\b", re.IGNORECASE)
_COLLATE_BINARY_RE = re.compile(r"\bcollate\s+binary\b", re.IGNORECASE)
_COLLATE_RTRIM_RE = re.compile(r"\bcollate\s+rtrim\b", re.IGNORECASE)


def _rewrite_collate(sql: str) -> str:
    """SQLite collation names → Spark collations: NOCASE → UTF8_LCASE
    (same ASCII-vs-Unicode folding caveat as the LIKE rewrite), BINARY →
    UTF8_BINARY (both are the respective defaults). RTRIM has no Spark
    equivalent and raises."""
    parts = []
    for kind, text in _split_tokens(sql):
        if kind == "code":
            if _COLLATE_RTRIM_RE.search(text):
                raise FilesqlError("COLLATE RTRIM is not supported")
            text = _COLLATE_NOCASE_RE.sub("COLLATE UTF8_LCASE", text)
            text = _COLLATE_BINARY_RE.sub("COLLATE UTF8_BINARY", text)
        parts.append(text)
    return "".join(parts)


# the column-affinity catalog for the CURRENT rewrite() call — read by
# builders that run deep inside _CALL_REWRITES (e.g. _cast_call's TEXT
# branch) where threading a parameter through every builder signature
# isn't worth it. Single-threaded by contract (the reference's SQLite
# connection is explicitly not thread-safe either, README.md:347-371).
_ACTIVE_COLUMN_TYPES: dict[str, str] | None = None


def rewrite(sql: str, column_types: dict[str, str] | None = None) -> str:
    """SQLite-dialect SQL → Spark SQL.

    ``column_types`` (lowercased column name → 'int' | 'real') feeds the
    integer-division affinity pass; the engine supplies it from its table
    catalog (Engine._column_types). Without it only literal/function
    affinities are tracked — still correct, just more conservative."""
    global _ACTIVE_COLUMN_TYPES
    _ACTIVE_COLUMN_TYPES = column_types
    sql = _strip_rank_frames(blank_comments(sql))
    if re.search(r"(?i)\bGROUPS\s+(BETWEEN|\d+|UNBOUNDED|CURRENT)\b", _div_mask(sql)):
        # Spark SQL has no GROUPS frame mode; fail with the reduction
        # instead of surfacing Spark's opaque parse error
        raise FilesqlError(
            "GROUPS window frames are not supported by Spark SQL; rewrite "
            "as a RANGE frame over DENSE_RANK() of the ORDER BY key (see "
            "the window_groups_frame operator for the exact reduction)"
        )
    sql = _strip_indexed_clauses(sql)
    sql = _rewrite_values_columns(sql)
    sql = _rewrite_limit_forms(sql)
    sql = _rewrite_bare_minmax(sql)
    sql = _rewrite_string_aliases(sql)
    sql = _rewrite_json_arrows(sql)
    sql = _escape_string_backslashes(sql)
    sql = _requote_identifiers(sql)
    if column_types:
        # apply the derived-scope alias shadow ONCE (after requote, so
        # double-quoted aliases are already backticks), so every
        # affinity consumer — the ||/division passes AND the
        # _CALL_REWRITES builders reading _ACTIVE_COLUMN_TYPES, e.g.
        # _cast_call's TEXT branch and _concat_call — sees the same
        # rebind-adjusted types
        column_types = _apply_shadow(sql, _div_mask(sql), column_types)
        _ACTIVE_COLUMN_TYPES = column_types
    sql = _strip_unary_plus(sql)
    sql = _rewrite_null_postfix(sql)
    sql = _rewrite_exists_operand(sql)
    sql = _rewrite_numlit_arith(sql)
    sql = _rewrite_concat_grouping(sql)
    sql = _rewrite_case_truthiness(sql)
    sql = _rewrite_clause_truthiness(sql)
    sql = _rewrite_bare_not(sql)
    sql = _rewrite_row_values(sql)
    if _affinity_triggers(sql, column_types):
        sql = _rewrite_range_affinity(sql, column_types)
    sql = _rewrite_compare_affinity(sql, column_types)
    sql = _rewrite_is_operator(sql, column_types)
    sql = _rewrite_filter_over(sql)
    sql = _rewrite_concat_real(sql, column_types)
    sql = _rewrite_value_dependent_div(sql, column_types)
    sql = _rewrite_division(sql, column_types)
    sql = _rewrite_bitwise(sql, column_types)
    sql = _rewrite_real_literals(sql)
    sql = _rewrite_json_each(sql)
    sql = _rewrite_glob(sql)
    sql = _rewrite_calls(sql, "like", _like_call)  # before the operator pass
    sql = _rewrite_like(sql)
    sql = _rewrite_collate(sql)
    sql = _rewrite_total_over(sql)  # before the call pass (r17)
    for name, fn in _CALL_REWRITES.items():
        sql = _rewrite_calls(sql, name, fn)
    for old, new in _SIMPLE_RENAMES.items():
        sql = _rewrite_calls(sql, old, lambda args, n=new: f"{n}({', '.join(args)})")
    return sql
