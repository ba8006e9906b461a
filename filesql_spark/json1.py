"""SQLite json1 mutation functions and the json_each table-valued
function, Spark-side.

The reference advertises the json1 surface by delegating to SQLite
(README.md:331 "JSON functions"; builder.go:353-361). Extraction,
construction and aggregation are pure Catalyst rewrites (dialect.py);
the MUTATION functions — json_set / json_insert / json_replace /
json_remove — and the json_each TVF need real JSON-tree edits that
Spark's built-in expression surface cannot do on arbitrary documents,
so they ride an Arrow-batched pandas UDF (never row-at-a-time Python).

Scale note: JSON mutation in a query is per-row scalar work on bounded
documents — embarrassingly parallel, no shuffle, and the Arrow batch
transfer is the same path the multimodal/text pipeline operators use.
The hot analytical path (extraction) stays JVM-side in codegen.

Semantics are pinned differentially against the real SQLite (stdlib
sqlite3) in tests/test_fuzz_dialect.py's json tier:

- paths: ``$``, ``.key``, ``."quoted key"``, ``[n]``, ``[#]``,
  ``[#-n]``;
- json_set creates missing leaves AND intermediate containers, whose
  kind (object/array) is inferred from the next path component;
- array index == length appends; index > length is a silent no-op
  (pinned: json_set('[1,2]', '$[5]', 9) → '[1,2]');
- json_insert never overwrites, json_replace never creates;
- json_remove applies its paths left-to-right on the evolving document
  and removing ``$`` yields SQL NULL;
- output is the canonical minimal serialization (compact separators,
  raw unicode). Divergence: SQLite preserves the *input's* escape
  spelling for untouched spans (a doc written with ``\\u00e9`` keeps
  it); this engine re-serializes, so escapes normalize to raw text.
  Raw-unicode documents round-trip identically;
- plain SQL values are inserted as scalars; values produced by other
  json1 calls carry the JSON "subtype" and are inserted as JSON trees
  (json_set('{}', '$.a', '[1]') → {"a":"[1]"} but with json('[1]') →
  {"a":[1]}) — the dialect detects subtype syntactically at rewrite
  time and tags each value with a flag the UDF dispatches on.
"""

from __future__ import annotations

import json

from filesql_spark.errors import FilesqlError

_MISSING = object()


# ------------------------------------------------------------------ paths


def parse_path(path: str) -> list[tuple[str, object]]:
    """SQLite JSON path → components: ('key', name) | ('idx', n) |
    ('end', -k) for ``[#-k]`` / ``[#]`` (k=0). Raises on malformed input
    with SQLite's wording."""
    if not isinstance(path, str) or not path.startswith("$"):
        raise FilesqlError(f"bad JSON path: {path!r}")
    comps: list[tuple[str, object]] = []
    i, n = 1, len(path)
    while i < n:
        c = path[i]
        if c == ".":
            i += 1
            if i < n and path[i] == '"':
                j = i + 1
                buf = []
                while j < n and path[j] != '"':
                    if path[j] == "\\" and j + 1 < n:
                        esc = path[j + 1]
                        buf.append(json.loads(f'"\\{esc}"') if esc in
                                   'bfnrt"\\/' else esc)
                        j += 2
                        continue
                    buf.append(path[j])
                    j += 1
                if j >= n:
                    raise FilesqlError(f"bad JSON path: {path!r}")
                comps.append(("key", "".join(buf)))
                i = j + 1
            else:
                j = i
                while j < n and path[j] not in ".[":
                    j += 1
                if j == i:
                    raise FilesqlError(f"bad JSON path: {path!r}")
                comps.append(("key", path[i:j]))
                i = j
        elif c == "[":
            j = path.find("]", i)
            if j == -1:
                raise FilesqlError(f"bad JSON path: {path!r}")
            inner = path[i + 1:j].strip()
            if inner == "#":
                comps.append(("end", 0))
            elif inner.startswith("#-"):
                try:
                    comps.append(("end", -int(inner[2:])))
                except ValueError:
                    raise FilesqlError(f"bad JSON path: {path!r}") from None
            else:
                try:
                    comps.append(("idx", int(inner)))
                except ValueError:
                    raise FilesqlError(f"bad JSON path: {path!r}") from None
            i = j + 1
        else:
            raise FilesqlError(f"bad JSON path: {path!r}")
    return comps


# --------------------------------------------------------------- mutation


def _apply(node, comps, i, value, mode):
    """New subtree for ``node`` after applying the edit at comps[i:].
    ``node`` is _MISSING where the path does not (yet) exist; returning
    _MISSING means "leave absent" (no-op)."""
    if i == len(comps):
        if node is _MISSING:
            return value if mode in ("set", "insert") else _MISSING
        return value if mode in ("set", "replace") else node
    kind, arg = comps[i]
    created = False  # a failed descent must not leave the container
    if kind == "key":
        if node is _MISSING:
            if mode == "replace":
                return _MISSING
            node, created = {}, True
        if not isinstance(node, dict):
            return node  # container-type mismatch: SQLite no-op
        new = _apply(node.get(arg, _MISSING), comps, i + 1, value, mode)
        if new is _MISSING:
            return _MISSING if created else node
        node[arg] = new
        return node
    # array component
    if node is _MISSING:
        if mode == "replace":
            return _MISSING
        node, created = [], True
    if not isinstance(node, list):
        return node
    n = arg if kind == "idx" else len(node) + arg
    if 0 <= n < len(node):
        new = _apply(node[n], comps, i + 1, value, mode)
        if new is not _MISSING:
            node[n] = new
    elif n == len(node):
        new = _apply(_MISSING, comps, i + 1, value, mode)
        if new is _MISSING:
            return _MISSING if created else node
        node.append(new)
    elif created:
        # out-of-range in a just-created array: whole edit is a no-op
        return _MISSING
    # n > len(node) or negative on an existing array: silent no-op
    return node


def _remove_at(node, comps, i):
    """Remove the element addressed by comps[i:]; returns the new node,
    or _MISSING when the node itself was removed."""
    if i == len(comps):
        return _MISSING
    if node is _MISSING:
        return _MISSING
    kind, arg = comps[i]
    if kind == "key":
        if not isinstance(node, dict) or arg not in node:
            return node
        new = _remove_at(node[arg], comps, i + 1)
        if new is _MISSING:
            del node[arg]
        else:
            node[arg] = new
        return node
    if not isinstance(node, list):
        return node
    n = arg if kind == "idx" else len(node) + arg
    if not 0 <= n < len(node):
        return node
    new = _remove_at(node[n], comps, i + 1)
    if new is _MISSING:
        node.pop(n)
    else:
        node[n] = new
    return node


def _merge_patch(target, patch):
    """RFC-7386 merge patch (SQLite json_patch): null patch values
    remove keys, object patches recurse (creating {} over non-objects),
    non-object patches replace wholesale."""
    if not isinstance(patch, dict):
        return patch
    if not isinstance(target, dict):
        target = {}
    for k, v in patch.items():
        if v is None:
            target.pop(k, None)
        else:
            target[k] = _merge_patch(target.get(k), v)
    return target


def _decode_value(text: str | None, flag: str):
    """One value argument → the Python JSON value to splice in.
    flag 's': text is the json_quote encoding of a plain SQL scalar;
    flag 'j': text carries the JSON subtype — must parse;
    flag 'l': loose (json_extract output): parse if valid JSON, else
    treat as a plain string (SQLite's subtype rides container/numeric
    extractions but not scalar-string ones)."""
    if text is None:
        return None
    if flag == "s":
        return json.loads(text)
    if flag == "j":
        try:
            return json.loads(text)
        except ValueError:
            raise FilesqlError(f"malformed JSON: {text!r}") from None
    try:
        return json.loads(text)
    except ValueError:
        return text


def _dumps(doc) -> str:
    return json.dumps(doc, separators=(",", ":"), ensure_ascii=False)


def mutate(doc: str | None, op: str, paths, vals, flags: str) -> str | None:
    """Apply json_set/json_insert/json_replace/json_remove semantics to
    one document. ``vals``/``flags`` are empty for remove."""
    if doc is None:
        return None
    try:
        tree = json.loads(doc)
    except ValueError:
        raise FilesqlError(f"malformed JSON: {doc!r}") from None
    if op == "json":  # json(X): validate + minify
        return _dumps(tree)
    if op == "pretty":
        # json_pretty(X[, indent]) — SQLite 3.46: four-space indent by
        # default, or the caller's indent string (doc-derived format;
        # stdlib sqlite3 here is 3.40, so no differential oracle).
        # Python's indented dumps matches the documented shape: ': '
        # after keys, ',' between entries, closing brackets dedented.
        indent = vals[0] if vals and vals[0] is not None else "    "
        return json.dumps(tree, indent=indent, ensure_ascii=False)
    if op == "patch":  # json_patch(T, P): RFC-7386 merge
        if not vals or vals[0] is None:
            return None
        try:
            patch = json.loads(vals[0])
        except ValueError:
            raise FilesqlError(f"malformed JSON: {vals[0]!r}") from None
        return _dumps(_merge_patch(tree, patch))
    if op == "remove":
        for p in paths:
            if p is None:  # NULL path: no-op (pinned vs sqlite3)
                continue
            tree = _remove_at(tree, parse_path(p), 0)
            if tree is _MISSING:
                return None
        return _dumps(tree)
    for p, v, f in zip(paths, vals, flags):
        if p is None:
            continue
        value = _decode_value(v, f)
        tree = _apply(tree, parse_path(p), 0, value, op)
    if tree is _MISSING:
        return None
    return _dumps(tree)


# -------------------------------------------------------------- json_each


def _sqlite_type_name(v) -> str:
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "real"
    if isinstance(v, str):
        return "text"
    if isinstance(v, list):
        return "array"
    return "object"


def _value_text(v) -> str | None:
    """SQLite json_each.value: scalars as their SQL text, containers as
    JSON text, null as SQL NULL."""
    if v is None:
        return None
    if v is True:
        return "1"
    if v is False:
        return "0"
    if isinstance(v, (dict, list)):
        return _dumps(v)
    if isinstance(v, str):
        return v
    return repr(v) if not isinstance(v, float) else json.dumps(v)


def _each_row(key, v, rid, parent, fullkey, path) -> dict:
    atom = None if isinstance(v, (dict, list)) else _value_text(v)
    return {
        "key": key, "value": _value_text(v), "type": _sqlite_type_name(v),
        "atom": atom, "id": rid, "parent": parent, "fullkey": fullkey,
        "path": path,
    }


def _key_path(base: str, k: str) -> str:
    return (f"{base}.{k}" if k and k.replace("_", "").isalnum()
            else f'{base}."{k}"')


def each(doc: str | None) -> list[dict]:
    """Rows of SQLite's json_each(X): one row per top-level element of
    an array/object, or a single row for a scalar.

    Documented divergences: ``key`` and ``value`` are TEXT (SQLite types
    them per-value); ``id`` is a sequential per-row counter (SQLite's is
    an opaque internal node number — only uniqueness is contractual).
    ``parent`` is NULL on every json_each row, as in SQLite."""
    if doc is None:
        return []
    try:
        tree = json.loads(doc)
    except ValueError:
        raise FilesqlError(f"malformed JSON: {doc!r}") from None
    if isinstance(tree, list):
        return [
            _each_row(str(i), v, i + 1, None, f"$[{i}]", "$")
            for i, v in enumerate(tree)
        ]
    if isinstance(tree, dict):
        return [
            _each_row(k, v, i + 1, None, _key_path("$", k), "$")
            for i, (k, v) in enumerate(tree.items())
        ]
    return [_each_row(None, tree, 0, None, "$", "$")]


def tree(doc: str | None) -> list[dict]:
    """Rows of SQLite's json_tree(X): pre-order DFS over every node —
    the root row first (key NULL, parent NULL), then each container's
    children with ``parent`` = the container's row id and ``path`` = the
    container's fullkey. Same TEXT-typing/sequential-id divergences as
    :func:`each`."""
    if doc is None:
        return []
    try:
        root = json.loads(doc)
    except ValueError:
        raise FilesqlError(f"malformed JSON: {doc!r}") from None
    rows: list[dict] = []

    def visit(key, v, parent, fullkey, path):
        rid = len(rows)
        rows.append(_each_row(key, v, rid, parent, fullkey, path))
        if isinstance(v, dict):
            for k, c in v.items():
                visit(k, c, rid, _key_path(fullkey, k), fullkey)
        elif isinstance(v, list):
            for i, c in enumerate(v):
                visit(str(i), c, rid, f"{fullkey}[{i}]", fullkey)

    visit(None, root, None, "$", "$")
    return rows


# ------------------------------------------------- float → TEXT rendering
# (registered here because this module owns the engine's session-UDF
# registration; not json-specific)


def double_to_text(v) -> str | None:
    """SQLite's float→TEXT rendering — ``%!.15g``: 15 significant
    digits, trailing zeros stripped, and the ``!`` flag forcing a
    decimal point ('1' → '1.0', '1e+20' → '1.0e+20'). Java's
    Double.toString (Spark's CAST AS STRING) uses shortest-roundtrip
    17-digit form instead ('0.3333333333333333' vs SQLite's
    '0.333333333333333'). Pinned against sqlite3 CAST in
    tests/test_fuzz_dialect.py."""
    if v is None:
        return None
    if v != v:  # NaN: SQLite has no NaN doubles (stored as NULL)
        return None
    if v == float("inf"):
        return "Inf"
    if v == float("-inf"):
        return "-Inf"
    if v == 0:
        return "0.0"  # covers -0.0: SQLite renders '0.0'
    s = "%.15g" % v
    if "e" in s:
        mant, _, exp = s.partition("e")
        if "." not in mant:
            mant += ".0"
        return f"{mant}e{exp}"
    if "." not in s:
        s += ".0"
    return s


def quote_double(v) -> str | None:
    """SQLite quote() of a REAL (func.c quoteFunc): render %!.15g and
    keep it if it round-trips to the same double; otherwise re-render
    as SQLite's 20-digit scientific form, which TRUNCATES the exact
    binary expansion (1/3 → '3.33333333333333314829e-01' — the exact
    digits continue …616, i.e. not rounded). Pinned vs sqlite3."""
    s = double_to_text(v)
    if s is None or s in ("Inf", "-Inf", "0.0"):
        return s
    try:
        if float(s) == v:
            return s
    except ValueError:
        return s
    from decimal import Decimal

    d = Decimal(v)
    sign = "-" if d < 0 else ""
    d = abs(d)
    adj = d.adjusted()  # exponent of the leading digit
    q = int(d.scaleb(20 - adj))  # 21 significant digits, truncated
    ds = str(q)[:21].ljust(21, "0")
    return f"{sign}{ds[0]}.{ds[1:21]}e{adj:+03d}"


_EACH_SCHEMA = (
    "array<struct<key:string, value:string, type:string, atom:string, "
    "id:bigint, parent:bigint, fullkey:string, path:string>>"
)

_REGISTERED_FLAG = "filesql.internal.json1.registered"
# bump when the UDF set changes so long-lived sessions re-register
_REGISTERED_GEN = "5"  # 5: + filesql_real_int, filesql_shl, filesql_shr


# -------------------------------------------------------- -> / ->> ops


def _get_at(node, comps, i):
    """Read-only walk of a parsed path; _MISSING when absent."""
    if i == len(comps):
        return node
    kind, arg = comps[i]
    if kind == "key":
        if isinstance(node, dict) and arg in node:
            return _get_at(node[arg], comps, i + 1)
        return _MISSING
    if not isinstance(node, list):
        return _MISSING
    j = arg if kind == "idx" else len(node) + arg
    if 0 <= j < len(node):
        return _get_at(node[j], comps, i + 1)
    return _MISSING


def arrow_text(doc, path, deep):
    """SQLite's JSON operators over one document. ``deep`` False is
    `X -> P` (result is JSON text: strings quoted, containers/numbers/
    booleans spliced, a PRESENT null member is the text 'null' — exact,
    unlike the get_json_object path which cannot see presence);
    ``deep`` True is `X ->> P` (SQL-value text form, riding
    json_extract's documented riders: numbers and booleans come back as
    their text forms). Missing path → NULL either way."""
    if doc is None or path is None:
        return None
    try:
        tree = json.loads(doc)
    except ValueError:
        raise FilesqlError(f"malformed JSON: {doc!r}") from None
    node = _get_at(tree, parse_path(path), 0)
    if node is _MISSING:
        return None
    if deep:
        if node is None:
            return None
        if isinstance(node, str):
            return node
    return _dumps(node)


def json_type_at(doc, path):
    """SQLite json_type(X, P) (json_func.c jsonTypeFunc): the type name
    of the value at path — 'null'/'true'/'false'/'integer'/'real'/
    'text'/'array'/'object' — NULL when the path selects nothing,
    SQLite's 'malformed JSON' error for invalid input."""
    if doc is None or path is None:
        return None
    try:
        tree = json.loads(doc)
    except ValueError:
        raise FilesqlError(f"malformed JSON: {doc!r}") from None
    node = _get_at(tree, parse_path(path), 0)
    if node is _MISSING:
        return None
    if node is None:
        return "null"
    if node is True:
        return "true"
    if node is False:
        return "false"
    if isinstance(node, int):
        return "integer"
    if isinstance(node, float):
        return "real"
    if isinstance(node, str):
        return "text"
    if isinstance(node, list):
        return "array"
    return "object"


# ------------------------------------------------------------- timediff
# SQLite 3.43's timediff(A, B): the signed calendar amount that must be
# added to B to reach A, formatted '+YYYY-MM-DD HH:MM:SS.SSS'. Algorithm
# per SQLite's date.c: step whole years, then whole months (with
# SQLite's day-overflow normalization — Jan 31 + 1 month = Mar 3), then
# the exact remainder as days/time. The bundled stdlib sqlite3 predates
# the function, so correctness is pinned by the round-trip property
# against the differentially-pinned datetime() modifiers
# (tests/test_dialect.py) plus doc examples.

_TD_FORMATS = (
    "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M",
    "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%dT%H:%M",
    "%Y-%m-%d",
)


def _td_parse(s):
    import datetime as _dt

    if s is None:
        return None
    s = str(s).strip()
    for fmt in _TD_FORMATS:
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    # time-only values sit on SQLite's reference date 2000-01-01
    for fmt in ("%H:%M:%S.%f", "%H:%M:%S", "%H:%M"):
        try:
            t = _dt.datetime.strptime(s, fmt)
            return t.replace(year=2000, month=1, day=1)
        except ValueError:
            continue
    return None


def _td_add_months(dt, n: int):
    import datetime as _dt

    y = dt.year + (dt.month - 1 + n) // 12
    m = (dt.month - 1 + n) % 12 + 1
    base = _dt.datetime(y, m, 1, dt.hour, dt.minute, dt.second,
                        dt.microsecond)
    return base + _dt.timedelta(days=dt.day - 1)  # overflow rolls forward


def timediff_text(a, b):
    da, db = _td_parse(a), _td_parse(b)
    if da is None or db is None:
        return None
    sign, hi, lo = ("+", da, db) if da >= db else ("-", db, da)
    years = hi.year - lo.year
    t = _td_add_months(lo, 12 * years)
    while years > 0 and t > hi:
        years -= 1
        t = _td_add_months(lo, 12 * years)
    months = (hi.year - t.year) * 12 + (hi.month - t.month)
    t2 = _td_add_months(t, months)
    # loops, not single decrements: day-overflow normalization can
    # overshoot twice (lo day 31, hi on the 1st-2nd: Jan 31 + 1 month
    # = Mar 3 > Mar 1, so the month must step back to 0 and the span
    # falls entirely to days) — caught by the r13 round-trip corpus,
    # which once produced a negative day field here
    while months > 0 and t2 > hi:
        months -= 1
        t2 = _td_add_months(t, months)
    delta = hi - t2
    ms = round(delta.microseconds / 1000)
    secs = delta.seconds
    if ms == 1000:
        ms, secs = 0, secs + 1
    h, rem = divmod(secs, 3600)
    mi, s = divmod(rem, 60)
    return (f"{sign}{years:04d}-{months:02d}-{delta.days:02d} "
            f"{h:02d}:{mi:02d}:{s:02d}.{ms:03d}")


def register_udfs(spark) -> None:
    """Register the json1 session UDFs and the dialect's session SQL
    functions (idempotent per SparkSession). The UDFs are Arrow-batched
    pandas UDFs — the per-row Python work is the unavoidable JSON tree
    edit; transfer stays vectorized.

    Idempotency rides a session conf tag, NOT ``id(spark)``: after a
    stopped session is garbage-collected, a new one can reuse the same
    id and would silently skip registration (r11 ADVICE fix). The conf
    tag lives and dies with the session's own state."""
    try:
        if spark.conf.get(_REGISTERED_FLAG, None) == _REGISTERED_GEN:
            return
    except Exception:
        pass  # unreadable conf: fall through and re-register (idempotent)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    try:
        # Ship this module (and the error type it raises) inside the UDF
        # pickle instead of by import reference: executors are not
        # guaranteed to have the package on their PYTHONPATH when the
        # driver was launched from a different working directory.
        import sys

        from pyspark import cloudpickle

        import filesql_spark.errors as _errors_mod

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        cloudpickle.register_pickle_by_value(_errors_mod)
    except Exception:
        pass  # older cloudpickle: fall back to by-reference pickling

    def _mutate_fn(doc, op, paths, vals, flags):
        out = []
        for d, o, p, v, f in zip(doc, op, paths, vals, flags):
            out.append(mutate(
                d, o,
                list(p) if p is not None else [],
                list(v) if v is not None else [],
                f or "",
            ))
        return pd.Series(out, dtype=object)

    def _each_fn(doc):
        return pd.Series([each(d) for d in doc], dtype=object)

    def _tree_fn(doc):
        return pd.Series([tree(d) for d in doc], dtype=object)

    def _dtext_fn(x):
        return pd.Series([double_to_text(v) for v in x], dtype=object)

    def _qdbl_fn(x):
        return pd.Series([quote_double(v) for v in x], dtype=object)

    def _timediff_fn(a, b):
        return pd.Series(
            [timediff_text(x, y) for x, y in zip(a, b)], dtype=object
        )

    def _arrow_fn(doc, path, deep):
        return pd.Series(
            [arrow_text(d, p, bool(x)) for d, p, x in zip(doc, path, deep)],
            dtype=object,
        )

    def _jtype_fn(doc, path):
        return pd.Series(
            [json_type_at(d, p) for d, p in zip(doc, path)], dtype=object
        )

    # annotations set explicitly: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf's type inference rejects
    _mutate_fn.__annotations__ = {
        k: pd.Series for k in ("doc", "op", "paths", "vals", "flags", "return")
    }
    _each_fn.__annotations__ = {"doc": pd.Series, "return": pd.Series}
    _tree_fn.__annotations__ = {"doc": pd.Series, "return": pd.Series}
    _dtext_fn.__annotations__ = {"x": pd.Series, "return": pd.Series}
    _qdbl_fn.__annotations__ = {"x": pd.Series, "return": pd.Series}
    _timediff_fn.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    _arrow_fn.__annotations__ = {
        "doc": pd.Series, "path": pd.Series, "deep": pd.Series,
        "return": pd.Series,
    }
    _jtype_fn.__annotations__ = {
        "doc": pd.Series, "path": pd.Series, "return": pd.Series,
    }

    spark.udf.register("filesql_json_mutate", pandas_udf(_mutate_fn, "string"))
    spark.udf.register("filesql_json_each", pandas_udf(_each_fn, _EACH_SCHEMA))
    spark.udf.register("filesql_json_tree", pandas_udf(_tree_fn, _EACH_SCHEMA))
    spark.udf.register("filesql_double_text", pandas_udf(_dtext_fn, "string"))
    spark.udf.register("filesql_quote_double", pandas_udf(_qdbl_fn, "string"))
    spark.udf.register("filesql_timediff", pandas_udf(_timediff_fn, "string"))
    spark.udf.register("filesql_json_arrow", pandas_udf(_arrow_fn, "string"))
    spark.udf.register("filesql_json_type", pandas_udf(_jtype_fn, "string"))
    from filesql_spark.dialect import session_functions

    for ddl in session_functions():
        spark.sql(ddl)
    spark.conf.set(_REGISTERED_FLAG, _REGISTERED_GEN)
