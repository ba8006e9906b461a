"""Differential expression fuzzing: random SQLite-dialect scalar
expressions evaluated by the REAL reference dialect engine (stdlib
sqlite3) and by this engine's front door, compared value-for-value.

The generator is deterministic (seeded random, no hypothesis) so a batch
of expressions can be evaluated in ONE query per engine — one Spark
round trip for the whole corpus — and failures replay exactly.

The grammar is type-tracked (num/str) and dodges the handful of
documented SQLite-vs-Spark divergences that are out of shim scope:
substr(x, 0, n) legacy indexing and cross-type comparisons (SQLite
orders num < text). Everything else — arithmetic incl. `/` and float
`%` (both SQLite-exact since r10), string functions, CASE, boolean
logic, NULL propagation, ||, ifnull/nullif/coalesce — is fair game.

Division gets its own tier (test_division_corpus_matches_sqlite): the
dialect's type-tracked `/`→`DIV` rewrite is exact only where operand
affinity is statically certain (SQLite decides int-vs-real division by
the runtime VALUE type; e.g. ifnull(col, 2.5) is value-dependent —
documented divergence, SURVEY §5 — though literal-deciding forms like
ifnull(3, 2.5) fold statically and match exactly since r12). The
division generator therefore builds operands from the affinity-certain
grammar subset — exactly the contract the rewrite promises.
"""

from __future__ import annotations

import random
import sqlite3

import pytest

import filesql_spark as fs

ALPHABET = "abXY 9'%_\\é"


def _lit_str(rng: random.Random) -> tuple[str, str]:
    s = "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 6)))
    return "'" + s.replace("'", "''") + "'", "str"


def _lit_num(rng: random.Random) -> tuple[str, str]:
    if rng.random() < 0.25:
        return repr(round(rng.uniform(-50, 50), 3)), "num"
    return str(rng.randint(-50, 100)), "num"


def _gen(rng: random.Random, depth: int, want: str | None = None) -> tuple[str, str]:
    """Return (sql, type) with type in {'num', 'str'}."""
    if want is None:
        want = rng.choice(["num", "str"])
    if depth <= 0:
        if rng.random() < 0.08:
            return "NULL", want
        return _lit_num(rng) if want == "num" else _lit_str(rng)

    def sub(w):
        return _gen(rng, depth - 1, w)[0]

    if want == "num":
        pick = rng.randrange(15)
        if pick == 12:
            # math-extension affinity functions (r13b)
            fn = rng.choice(["trunc", "ceil", "ceiling", "floor"])
            return f"{fn}({sub('num')})", "num"
        if pick == 13:
            return f"mod({sub('num')}, {sub('num')})", "num"
        if pick == 14:
            # truthy (bare numeric) searched-CASE condition (r13b)
            return (
                f"(CASE WHEN {sub('num')} THEN {sub('num')} "
                f"ELSE {sub('num')} END)",
                "num",
            )
        if pick == 0:
            op = rng.choice(["+", "-", "*"])
            return f"({sub('num')} {op} {sub('num')})", "num"
        if pick == 1:
            # % on ints only (float remainder sign rules differ)
            return f"({rng.randint(-50, 100)} % nullif({rng.randint(-9, 9)}, 0))", "num"
        if pick == 2:
            return f"abs({sub('num')})", "num"
        if pick == 3:
            return f"length({sub('str')})", "num"
        if pick == 4:
            return f"ifnull({sub('num')}, {sub('num')})", "num"
        if pick == 5:
            return f"nullif({sub('num')}, {sub('num')})", "num"
        if pick == 6:
            return f"coalesce({sub('num')}, {sub('num')}, {sub('num')})", "num"
        if pick == 7:
            fn = rng.choice(["min", "max"])
            n = rng.randint(2, 3)
            return f"{fn}({', '.join(sub('num') for _ in range(n))})", "num"
        if pick == 8:
            return f"instr({sub('str')}, {sub('str')})", "num"
        if pick == 9:
            nd = rng.randint(-2, 3)  # SQLite takes negative digits as 0
            return f"round({sub('num')}, {nd})", "num"
        if pick == 10 and depth >= 2:
            # TEXT → number casts parse the longest numeric prefix
            t = rng.choice(["INTEGER", "REAL"])
            return f"CAST({sub('str')} AS {t})", "num"
        return (
            f"(CASE WHEN {_gen_bool(rng, depth - 1)} THEN {sub('num')} "
            f"ELSE {sub('num')} END)",
            "num",
        )
    pick = rng.randrange(14)
    if pick == 0:
        return f"({sub('str')} || {sub('str')})", "str"
    if pick == 1:
        return f"upper({sub('str')})", "str"
    if pick == 2:
        return f"lower({sub('str')})", "str"
    if pick == 3:
        start = rng.randint(-8, 8)  # 0 and out-of-range included
        if rng.random() < 0.3:
            return f"substr({sub('str')}, {start})", "str"
        n = rng.randint(-6, 6)  # negative = chars BEFORE start (SQLite)
        return f"substr({sub('str')}, {start}, {n})", "str"
    if pick == 4:
        frm, _ = _lit_str(rng)
        while frm == "''":
            frm, _ = _lit_str(rng)
        return f"replace({sub('str')}, {frm}, {sub('str')})", "str"
    if pick == 5:
        fn = rng.choice(["trim", "ltrim", "rtrim"])
        if rng.random() < 0.4:
            chars = "'" + "".join(
                rng.choice("abX ") for _ in range(rng.randint(1, 2))
            ) + "'"
            return f"{fn}({sub('str')}, {chars})", "str"
        return f"{fn}({sub('str')})", "str"
    if pick == 6:
        return f"ifnull({sub('str')}, {sub('str')})", "str"
    if pick == 7:
        return f"nullif({sub('str')}, {sub('str')})", "str"
    if pick == 8:
        return f"hex({sub('str')})", "str"
    if pick == 9:
        fn = rng.choice(["min", "max"])
        return f"{fn}({sub('str')}, {sub('str')})", "str"
    if pick == 10:
        return _gen_date(rng), "str"
    if pick == 11 and depth >= 2:
        # printf with arg coercion (%d of text/float, %s of NULL, %q)
        d = rng.choice(["%d", "%s", "%.2f", "%x", "%q", "%05d"])
        src = "num" if rng.random() < 0.5 else "str"
        return f"printf('[{d}]', {sub(src)})", "str"
    if pick == 12:
        j = _gen_json_literal(rng)
        lit = "'" + j.replace("'", "''") + "'"
        fn = rng.choice(["json_type", "json_quote", "json_valid"])
        if fn == "json_valid":
            # returns 1/0 — wrap to keep this production string-typed
            return f"(json_valid({lit}) || '')", "str"
        return f"{fn}({lit})", "str"
    return (
        f"(CASE WHEN {_gen_bool(rng, depth - 1)} THEN {sub('str')} "
        f"ELSE {sub('str')} END)",
        "str",
    )


def _gen_json_literal(rng: random.Random, depth: int = 2) -> str:
    """A random VALID JSON value as Python text (not yet SQL-quoted)."""
    import json as _json

    if depth <= 0 or rng.random() < 0.4:
        return _json.dumps(
            rng.choice([rng.randint(-99, 99), rng.uniform(-5, 5), True,
                        False, None, "".join(rng.choice('ab"\\n é')
                                             for _ in range(rng.randint(0, 4)))])
        )
    if rng.random() < 0.5:
        return "[" + ", ".join(
            _gen_json_literal(rng, depth - 1) for _ in range(rng.randint(0, 3))
        ) + "]"
    return "{" + ", ".join(
        f'"k{i}": {_gen_json_literal(rng, depth - 1)}'
        for i in range(rng.randint(0, 3))
    ) + "}"


def _gen_date(rng: random.Random) -> str:
    """date()/datetime()/strftime() over a literal date and random
    modifiers — the SQLite datetime surface the shim re-implements."""
    base = (
        f"'{rng.randint(1995, 2030):04d}-{rng.randint(1, 12):02d}-"
        f"{rng.randint(1, 28):02d}'"
    )
    mods = []
    for _ in range(rng.randint(0, 2)):
        mods.append(
            rng.choice(
                [
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 400)} days'",
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 30)} months'",
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 99)} hours'",
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 500)} minutes'",
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 9999)} seconds'",
                    f"'{rng.choice(['+', '-'])}{rng.randint(0, 20)}.5 days'",
                    "'start of month'",
                    "'start of year'",
                    "'start of day'",
                    f"'weekday {rng.randint(0, 6)}'",
                ]
            )
        )
    args = ", ".join([base] + mods)
    fn = rng.choice(["date", "datetime", "strftime_ym"])
    if fn == "strftime_ym":
        fmt = rng.choice(["'%Y-%m'", "'%Y-%m-%d'", "'%j'", "'%w'", "'%H:%M'"])
        return f"strftime({fmt}, {args})"
    return f"{fn}({args})"


def _gen_bool(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.5:
        if rng.random() < 0.15:
            # literal pattern only: computed LIKE patterns keep Spark's
            # backslash-escape semantics (documented divergence)
            a, _ = _gen(rng, max(depth - 1, 0), "str")
            b, _ = _lit_str(rng)
            return f"({a} LIKE {b})"
        # same-type comparison (SQLite orders num < text across types)
        t = rng.choice(["num", "str"])
        a, _ = _gen(rng, max(depth - 1, 0), t)
        b, _ = _gen(rng, max(depth - 1, 0), t)
        op = rng.choice(["<", "<=", "=", "!=", ">", ">="])
        return f"({a} {op} {b})"
    op = rng.choice(["AND", "OR"])
    neg = "NOT " if rng.random() < 0.3 else ""
    return f"{neg}({_gen_bool(rng, depth - 1)} {op} {_gen_bool(rng, depth - 1)})"


def _norm(v):
    import decimal

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


@pytest.mark.parametrize("seed", [2024, 77, 31337])
def test_expression_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    exprs = [_gen(rng, rng.randint(1, 4))[0] for _ in range(60)]
    select = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(exprs)
    )

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()

    for i, e in enumerate(exprs):
        g, x = _norm(got[i]), _norm(expected[i])
        if isinstance(g, float) or isinstance(x, float):
            assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (seed, i, e)
        else:
            assert g == x, (seed, i, e, g, x)


# Comments carrying every character a scanner could mistake for a token
# boundary: quotes, placeholders, statement separators.
_COMMENTS = [
    "/* it's a \"q\" ? ; */",
    "-- don't ?1 ; \"x\n",
    "/*'*/",
    "--?;'\n",
    "/* :n ; */",
]


def _commented(rng: random.Random, sql: str) -> str:
    """``sql`` with some spaces outside string literals replaced by
    comments (the generator quotes only with '…', '' escaped)."""
    out, in_str = [], False
    for ch in sql:
        if ch == "'":
            in_str = not in_str
        elif ch == " " and not in_str and rng.random() < 0.3:
            ch = f" {rng.choice(_COMMENTS)} "
        out.append(ch)
    return "".join(out)


@pytest.mark.parametrize("seed", [2024, 77, 31337])
def test_commented_expression_corpus_matches_sqlite(spark, tmp_path, seed):
    """The seeded expression corpus above, with comments interleaved:
    comments are whitespace to sqlite3, so they must be to the shim."""
    rng = random.Random(seed)
    exprs = [_gen(rng, rng.randint(1, 4))[0] for _ in range(60)]
    crng = random.Random(-seed)
    select = "SELECT " + ", ".join(
        f"{_commented(crng, e)} {crng.choice(_COMMENTS)} AS c{i}"
        for i, e in enumerate(exprs)
    )

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()

    for i, e in enumerate(exprs):
        g, x = _norm(got[i]), _norm(expected[i])
        if isinstance(g, float) or isinstance(x, float):
            assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (seed, i, e)
        else:
            assert g == x, (seed, i, e, g, x)


# ------------------------------------------------------------ division
# Affinity-tracked generator: every production's SQLite result affinity
# ('int' | 'real') is statically certain, so `/` and `%` land exactly on
# the cases the dialect rewrite promises to translate (int/int → DIV
# with a nullif zero guard, anything-real → fractional with the guard).


def _gen_affine(rng: random.Random, depth: int,
                want: str | None = None) -> tuple[str, str]:
    """Return (sql, affinity) with affinity in {'int', 'real'}."""
    if want is None:
        want = rng.choice(["int", "real"])
    if depth <= 0:
        if want == "int":
            return str(rng.randint(-50, 100)), "int"
        return repr(round(rng.uniform(-50, 50), 3)), "real"

    def sub(w):
        return _gen_affine(rng, depth - 1, w)[0]

    pick = rng.randrange(11)
    if pick == 9:
        # r12 literal-fold surface: MIXED int/real literal args are
        # value-static — ifnull/coalesce take the first non-NULL arg's
        # type, scalar min keeps the LAST minimal, max the FIRST maximal
        fn = rng.choice(["ifnull", "coalesce", "min", "max"])
        mk = {
            "int": lambda: str(rng.randint(-50, 100)),
            "real": lambda: repr(round(rng.uniform(-50, 50), 3)),
        }
        for _ in range(8):
            n = 2 if fn == "ifnull" else rng.randint(2, 3)
            kinds = [rng.choice(["int", "real"]) for _ in range(n)]
            texts = [mk[k]() for k in kinds]
            if fn in ("ifnull", "coalesce"):
                got = kinds[0]
            else:
                vals = [float(x) for x in texts]
                best = 0
                for i in range(1, len(vals)):
                    if fn == "min":
                        if vals[i] <= vals[best]:
                            best = i
                    elif vals[i] > vals[best]:
                        best = i
                got = kinds[best]
            if got == want:
                return f"{fn}({', '.join(texts)})", want
        pick = 10  # bad luck: fall through to the CASE production
    if pick == 0:
        op = rng.choice(["+", "-", "*"])
        if want == "int":
            return f"({sub('int')} {op} {sub('int')})", "int"
        other = rng.choice(["int", "real"])
        l, r = ("real", other) if rng.random() < 0.5 else (other, "real")
        return f"({sub(l)} {op} {sub(r)})", "real"
    if pick == 1:
        # the tier's reason to exist: division, zero divisors included
        if want == "int":
            den = sub("int") if rng.random() < 0.8 else "0"
            return f"({sub('int')} / {den})", "int"
        l = rng.choice(["int", "real"])
        r = "real" if l == "int" else rng.choice(["int", "real"])
        den = sub(r) if rng.random() < 0.8 else ("0.0" if r == "real" else "0")
        return f"({sub(l)} / {den})", "real"
    if pick == 2:
        # % casts operands to INTEGER in SQLite (r10 closes the float
        # forms too); result REAL iff either operand is. Zero divisors
        # legal (NULL in both engines).
        if want == "int":
            den = str(rng.randint(-9, 9)) if rng.random() < 0.8 else "0"
            return f"({rng.randint(-50, 100)} % {den})", "int"
        l = rng.choice(["int", "real"])
        r = "real" if l == "int" else rng.choice(["int", "real"])
        return f"({sub(l)} % {sub(r)})", "real"
    if pick == 3:
        return f"abs({sub(want)})", want
    if pick == 4 and want == "int":
        s, _ = _lit_str(rng)
        return f"length({s})", "int"
    if pick == 5:
        fn = rng.choice(["ifnull", "coalesce", "min", "max"])
        n = 3 if fn == "coalesce" else 2
        return f"{fn}({', '.join(sub(want) for _ in range(n))})", want
    if pick == 6:
        return f"nullif({sub(want)}, {sub(want)})", want
    if pick == 7 and want == "real":
        return f"round({sub(rng.choice(['int', 'real']))}, {rng.randint(0, 3)})", "real"
    if pick == 8:
        t = "INTEGER" if want == "int" else "REAL"
        v = (str(rng.randint(-99, 99)) if want == "int"
             else repr(round(rng.uniform(-9, 9), 2)))
        return f"CAST('{v}' AS {t})", want
    return (
        f"(CASE WHEN {_gen_bool(rng, depth - 1)} THEN {sub(want)} "
        f"ELSE {sub(want)} END)",
        want,
    )


@pytest.mark.parametrize("seed", [314, 2718, 1618])
def test_division_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    exprs = []
    # depth ≤ 3: the dialect's guard-wrapping rewrites grow nested
    # expressions multiplicatively, and a depth-4 60-column SELECT once
    # OOMed the ANTLR parse — semantic coverage doesn't need the stress
    while len(exprs) < 60:
        e, _ = _gen_affine(rng, rng.randint(2, 3))
        if "/" in e or "%" in e:  # keep the tier on-topic
            exprs.append(e)
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()

    for i, e in enumerate(exprs):
        g, x = _norm(got[i]), _norm(expected[i])
        if isinstance(g, float) or isinstance(x, float):
            assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (seed, i, e)
        else:
            assert g == x, (seed, i, e, g, x)


def test_division_on_typed_columns_matches_sqlite(spark, tmp_path):
    """Column-affinity divisions through the engine catalog: int/int
    columns truncate, real taints, zero divisors are NULL."""
    rows = [(1, 7, 2, 2.5), (2, -7, 2, 0.5), (3, 9, 0, 0.0), (4, -9, -2, 4.0)]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE d (id INTEGER, a INTEGER, b INTEGER, f REAL)")
    con.executemany("INSERT INTO d VALUES (?,?,?,?)", rows)
    stmt = ("SELECT id, a / b AS q, a * 2 / b AS q2, f / b AS fq, "
            "a % b AS m, (a + 1) / (b + 1) AS q3 FROM d ORDER BY id")
    expected = con.execute(stmt).fetchall()
    con.close()

    csv = "id,a,b,f\n" + "\n".join(f"{i},{a},{b},{f}" for i, a, b, f in rows)
    (tmp_path / "d.csv").write_text(csv + "\n")
    eng = fs.open(str(tmp_path / "d.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(stmt).collect()]
    finally:
        eng.close()
    for grow, erow in zip(got, expected):
        for g, x in zip(grow, erow):
            g, x = _norm(g), _norm(x)
            if isinstance(g, float) or isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12, abs=1e-12), (grow, erow)
            else:
                assert g == x, (grow, erow)


# ----------------------------------------------------------- CAST → TEXT
# SQLite renders floats with %!.15g (15 significant digits, forced
# decimal point); Spark's CAST AS STRING uses Java's 17-digit shortest
# round-trip. The dialect routes float TEXT-casts through the
# double_to_text session UDF — this tier proves the rendering matches
# over the affinity-tracked expression grammar plus pinned edge values.


@pytest.mark.parametrize("seed", [41, 4242])
def test_cast_text_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    exprs = [
        f"CAST(({_gen_affine(rng, rng.randint(1, 3))[0]}) AS TEXT)"
        for _ in range(40)
    ] + [
        "CAST(1.0 AS TEXT)", "CAST(1e20 AS TEXT)", "CAST(0.1 AS TEXT)",
        "CAST(-0.0 AS TEXT)", "CAST(1.0/3 AS TEXT)", "CAST(1e15 AS TEXT)",
        "CAST(-2.5e-8 AS TEXT)", "CAST(123456789.123456789 AS TEXT)",
        "CAST(2.0/7 AS TEXT)", "CAST(7 AS TEXT)", "CAST('x' AS TEXT)",
        "CAST(NULL AS TEXT)", "CAST(9007199254740993.0 AS TEXT)",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()

    for i, e in enumerate(exprs):
        assert got[i] == expected[i], (seed, i, e, got[i], expected[i])


# -------------------------------------------------------- json1 mutation
# Differential tier for json_set/insert/replace/remove and json(): random
# documents, random valid paths, values drawn from scalars AND from
# subtype-carrying json1 calls — all evaluated by real SQLite and by the
# engine front door in one batched query each.


def _gen_doc(rng: random.Random) -> str:
    # raw unicode, not \uXXXX escapes: SQLite preserves the input's
    # escape spelling; the shim re-serializes canonically (documented
    # divergence in json1.py) — both agree on raw text
    j = _gen_json_literal(rng, rng.randint(1, 3))
    import json as _json

    return _json.dumps(_json.loads(j), ensure_ascii=False)


def _gen_json_path(rng: random.Random) -> str:
    parts = ["$"]
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.55:
            key = rng.choice(["a", "b", "k0", "k1", "k2", "x y"])
            parts.append(f'."{key}"' if " " in key else f".{key}")
        elif rng.random() < 0.8:
            parts.append(f"[{rng.randint(0, 4)}]")
        else:
            parts.append(rng.choice(["[#]", "[#-1]", "[#-2]"]))
    return "".join(parts)


def _gen_json_value(rng: random.Random) -> str:
    pick = rng.randrange(6)
    if pick == 0:
        return str(rng.randint(-99, 99))
    if pick == 1:
        return repr(round(rng.uniform(-9, 9), 2))
    if pick == 2:
        return _lit_str(rng)[0]
    if pick == 3:
        return "NULL"
    if pick == 4:  # subtype-carrying container value
        j = _gen_json_literal(rng, 1)
        return "json('" + j.replace("'", "''") + "')"
    # mixed-type elements: exact since r10's element-wise json_quote
    return (f"json_array({rng.randint(0, 9)}, {_lit_str(rng)[0]}, "
            f"NULL, {repr(round(rng.uniform(-9, 9), 2))})")


def _gen_json_mutation(rng: random.Random) -> str:
    op = rng.choice(["json_set", "json_insert", "json_replace", "json_remove",
                     "json", "json_patch"])
    doc = "'" + _gen_doc(rng).replace("'", "''") + "'"
    if op == "json":
        return f"json({doc})"
    if op == "json_patch":
        patch = "'" + _gen_doc(rng).replace("'", "''") + "'"
        return f"json_patch({doc}, {patch})"
    if op == "json_remove":
        paths = ", ".join(f"'{_gen_json_path(rng)}'"
                          for _ in range(rng.randint(1, 3)))
        return f"json_remove({doc}, {paths})"
    pairs = ", ".join(
        f"'{_gen_json_path(rng)}', {_gen_json_value(rng)}"
        for _ in range(rng.randint(1, 3))
    )
    return f"{op}({doc}, {pairs})"


@pytest.mark.parametrize("seed", [86, 1729])
def test_json_mutation_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    exprs = [_gen_json_mutation(rng) for _ in range(50)]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()

    for i, e in enumerate(exprs):
        g, x = got[i], expected[i]
        # sqlite3 returns the dynamic type for whole-doc scalar results;
        # the UDF is string-typed — compare text forms
        x = None if x is None else str(x)
        assert g == x, (seed, i, e, g, x)


# ---------------------------------------------------------- aggregates
# Same differential idea one level up: aggregate expressions over a
# seeded table, GROUP BY a key, rows compared order-insensitively.


def _gen_agg(rng: random.Random) -> str:
    """One aggregate expression over columns n (int, nullable) and
    s (text, nullable)."""
    inner_n = rng.choice(
        ["n", "n + 1", "abs(n)", "n * 2", "ifnull(n, 0)",
         "(CASE WHEN n > 50 THEN n ELSE 0 END)", "length(s)"]
    )
    pick = rng.randrange(8)
    if pick == 0:
        return f"count({rng.choice(['*', 'n', 's'])})"
    if pick == 1:
        return f"count(DISTINCT {rng.choice(['n', 's'])})"
    if pick == 2:
        return f"sum({inner_n})"
    if pick == 3:
        return f"avg({inner_n})"
    if pick == 4:
        return f"min({inner_n})"
    if pick == 5:
        return f"max({inner_n})"
    if pick == 6:
        return f"total({inner_n})"
    return f"sum({inner_n}) + count(*)"


@pytest.mark.parametrize("seed", [11, 404])
def test_aggregate_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                rng.randint(0, 9),  # group key
                rng.randint(-100, 100) if rng.random() > 0.1 else None,
                # non-empty, no spaces/commas: an empty CSV field loads
                # as NULL (pinned in test_sources), and unquoted
                # whitespace round-trips are the CSV layer's business —
                # this fuzzer targets the aggregate semantics only
                "".join(rng.choice("abcXY") for _ in range(rng.randint(1, 5)))
                if rng.random() > 0.1
                else None,
            )
        )
    aggs = [_gen_agg(rng) for _ in range(25)]
    stmt = (
        "SELECT k, "
        + ", ".join(f"{a} AS c{i}" for i, a in enumerate(aggs))
        + " FROM agg_t GROUP BY k ORDER BY k"
    )

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE agg_t (id INTEGER, k INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO agg_t VALUES (?,?,?,?)", rows)
    expected = con.execute(stmt).fetchall()
    con.close()

    csv = "id,k,n,s\n" + "\n".join(
        f"{i},{k},{'' if n is None else n},{'' if s is None else s}"
        for i, k, n, s in rows
    )
    (tmp_path / "agg_t.csv").write_text(csv + "\n")
    eng = fs.open(str(tmp_path / "agg_t.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(stmt).collect()]
    finally:
        eng.close()

    assert len(got) == len(expected)
    for grow, erow in zip(got, expected):
        for i, (g, x) in enumerate(zip(grow, erow)):
            g, x = _norm(g), _norm(x)
            if isinstance(g, float) or isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (seed, i, grow, erow)
            else:
                assert g == x, (seed, "col", i - 1, aggs[i - 1] if i else "k", g, x)


# ------------------------------------------------------------- windows
# Third tier: window functions over a seeded table. ORDER BY the unique
# id inside every OVER () so ties can't make the comparison ambiguous.


def _gen_window(rng: random.Random) -> str:
    part = rng.choice(["PARTITION BY k", ""])
    frame = rng.choice(
        ["", " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
         " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
         " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
         f" RANGE BETWEEN {rng.randint(1, 5)} PRECEDING AND "
         f"{rng.randint(0, 4)} FOLLOWING",
         " RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"]
    )
    over = f"OVER ({part} ORDER BY id{frame})"
    over_plain = f"OVER ({part} ORDER BY id)"
    pick = rng.randrange(14)
    if pick == 0:
        return f"row_number() {over_plain}"
    if pick == 1:
        return f"rank() {over_plain}"
    if pick == 2:
        return f"dense_rank() {over_plain}"
    if pick == 3:
        return f"sum(ifnull(n, 0)) {over}"
    if pick == 4:
        return f"count(n) {over}"
    if pick == 5:
        return f"min(n) {over}"
    if pick == 6:
        return f"lag(n, {rng.randint(1, 3)}) {over_plain}"
    if pick == 7:
        return f"lead(n, {rng.randint(1, 2)}, -1) {over_plain}"
    if pick == 8:
        return f"first_value(n) {over}"
    if pick == 9:
        return f"last_value(n) {over}"
    if pick == 10:
        return f"nth_value(n, {rng.randint(1, 3)}) {over}"
    if pick == 11:
        return f"ntile({rng.randint(2, 5)}) {over_plain}"
    if pick == 12:
        # ×1e9, rounded: keeps the float compare integral-exact
        return f"CAST(round(percent_rank() {over_plain} * 1000000000, 0) AS INTEGER)"
    return f"avg(ifnull(n, 0)) {over}"


@pytest.mark.parametrize("seed", [5, 909])
def test_window_corpus_matches_sqlite(spark, tmp_path, seed):
    rng = random.Random(seed)
    rows = [
        (
            i,
            rng.randint(0, 4),
            rng.randint(-50, 50) if rng.random() > 0.15 else None,
        )
        for i in range(80)
    ]
    wins = [_gen_window(rng) for _ in range(18)]
    stmt = (
        "SELECT id, "
        + ", ".join(f"{w} AS c{i}" for i, w in enumerate(wins))
        + " FROM win_t ORDER BY id"
    )

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE win_t (id INTEGER, k INTEGER, n INTEGER)")
    con.executemany("INSERT INTO win_t VALUES (?,?,?)", rows)
    expected = con.execute(stmt).fetchall()
    con.close()

    csv = "id,k,n\n" + "\n".join(
        f"{i},{k},{'' if n is None else n}" for i, k, n in rows
    )
    (tmp_path / "win_t.csv").write_text(csv + "\n")
    eng = fs.open(str(tmp_path / "win_t.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(stmt).collect()]
    finally:
        eng.close()

    assert len(got) == len(expected)
    for grow, erow in zip(got, expected):
        for i, (g, x) in enumerate(zip(grow, erow)):
            g, x = _norm(g), _norm(x)
            if isinstance(g, float) or isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (seed, i, wins[i - 1])
            else:
                assert g == x, (seed, "col", wins[i - 1] if i else "id", g, x)


# ------------------------------------------- r11 ADVICE regression tier
# Four bugs found by the r10 advisor, each pinned differentially here:
# (1) a div/mod guard spliced between an aggregate call and its OVER
#     clause (invalid SQL); the guard must wrap the WHOLE windowed
#     expression. (2) the catalog affinity map typed identifiers that a
#     statement rebinds via `AS <name>` (CTE/select-list aliases),
#     wrongly truncating real values. (3) json_array treated a
#     json_extract argument ('l' loose subtype class) as a plain scalar,
#     double-encoding extracted containers. (4) json1.register_udfs
#     keyed idempotency on id(spark), which a GC'd session can reuse.


def _differential(spark, tmp_path, stmt, rows, ddl, csv_header, name="t"):
    con = sqlite3.connect(":memory:")
    con.execute(ddl)
    ph = ",".join("?" * len(rows[0]))
    con.executemany(f"INSERT INTO {name} VALUES ({ph})", rows)
    expected = con.execute(stmt).fetchall()
    con.close()

    csv = csv_header + "\n" + "\n".join(
        ",".join("" if v is None else str(v) for v in r) for r in rows
    )
    (tmp_path / f"{name}.csv").write_text(csv + "\n")
    eng = fs.open(str(tmp_path / f"{name}.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(stmt).collect()]
    finally:
        eng.close()
    assert len(got) == len(expected), (stmt, got, expected)
    for grow, erow in zip(got, expected):
        for g, x in zip(grow, erow):
            g, x = _norm(g), _norm(x)
            if isinstance(g, float) or isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-9, abs=1e-9), (stmt, grow, erow)
            else:
                assert g == x, (stmt, grow, erow)


def test_division_window_over_matches_sqlite(spark, tmp_path):
    """Share-of-total and ratio-to-window: `x / sum(x) OVER (…)` must
    wrap the whole windowed expression in the zero guard (and int/int
    still truncates — sum() OVER of ints is int in both engines)."""
    rows = [(1, 10, 1), (2, 30, 1), (3, 5, 2), (4, 0, 2), (5, 7, 1)]
    stmt = (
        "SELECT id, "
        "a / sum(a) OVER (PARTITION BY g) AS share, "
        "sum(a) OVER (ORDER BY id) / 2 AS half, "
        "a * 100 / sum(a) OVER (PARTITION BY g) AS pct, "
        "a * 1.0 / sum(a) OVER (PARTITION BY g) AS fshare, "
        # Spark rejects filtered window aggregates; the dialect reduces
        # them to agg(CASE WHEN p THEN x END) OVER (exact: aggs skip NULL)
        "a / sum(a) FILTER (WHERE a > 0) OVER (PARTITION BY g) AS fsh "
        "FROM t ORDER BY id"
    )
    _differential(
        spark, tmp_path, stmt, rows,
        "CREATE TABLE t (id INTEGER, a INTEGER, g INTEGER)", "id,a,g",
    )


def test_division_alias_shadowing_matches_sqlite(spark, tmp_path):
    """A statement that rebinds a catalog column name via `AS <name>`
    must not type the rebound identifier from the catalog: with int
    column `n`, `WITH c AS (SELECT avg(x) AS n …) SELECT n/2` divides a
    REAL and must not truncate."""
    rows = [(1, 7), (2, 8), (3, 11)]
    stmt = (
        "WITH c AS (SELECT avg(n) AS n FROM t) "
        "SELECT n / 2 AS h, n / 2.0 AS h2 FROM c"
    )
    _differential(
        spark, tmp_path, stmt, rows,
        "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )


def test_division_toplevel_self_alias_matches_sqlite(spark, tmp_path):
    """r12 ADVICE regression: SQLite resolves select-list expressions
    against FROM columns, never against sibling aliases, so a top-level
    self-alias (`SELECT n/2 AS n`) keeps the catalog's INTEGER typing
    and truncates. Only derived-scope rebinds (subquery/CTE select
    lists) shadow the catalog."""
    rows = [(1, 7), (2, 8), (3, 11)]
    # top level: n stays catalog-int → DIV (SQLite: 3, 4, 5)
    _differential(
        spark, tmp_path,
        "SELECT n / 2 AS n, n / 2 AS m, id FROM t ORDER BY id",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )
    # sibling alias in the same select list does not shadow either:
    # h divides the catalog's INTEGER n, not the REAL sibling alias
    _differential(
        spark, tmp_path,
        "SELECT n / 2 AS h, n * 1.5 AS n FROM t ORDER BY id",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )
    # but a derived-scope rebind still strips catalog typing: avg is
    # REAL, the outer division must not truncate
    _differential(
        spark, tmp_path,
        "SELECT n / 2 AS h FROM (SELECT avg(n) AS n FROM t)",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )
    # implicit (AS-less) aliases in derived scopes shadow too (r11
    # verdict #4): `SELECT avg(n) n` rebinds n without AS
    _differential(
        spark, tmp_path,
        "SELECT n / 2 AS h FROM (SELECT avg(n) n FROM t)",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )
    _differential(
        spark, tmp_path,
        "WITH c AS (SELECT avg(n) n FROM t) SELECT n / 2 AS h FROM c",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )


def test_json_array_extract_loose_matches_sqlite(spark, tmp_path):
    """json_array over json_extract output (the 'l' loose subtype
    class): extracted containers and numbers splice, extracted scalar
    text is quoted, NULL renders as json null. Boolean extractions are
    excluded: they ride the pinned json_extract divergence (SQLite
    extracts true as int 1; get_json_object yields the text 'true')."""
    cases = [
        ("""json_array(json_extract('{"a":[1,2]}', '$.a'))""", "[[1,2]]"),
        ("""json_array(json_extract('{"a":{"x":1}}', '$.a'))""", '[{"x":1}]'),
        ("""json_array(json_extract('{"a":5}', '$.a'))""", "[5]"),
        ("""json_array(json_extract('{"a":5.5}', '$.a'))""", "[5.5]"),
        ("""json_array(json_extract('{"a":"hi"}', '$.a'))""", '["hi"]'),
        ("""json_array(json_extract('{"a":1}', '$.nope'))""", "[null]"),
        ("""json_array(0, json_extract('{"a":[7]}', '$.a'), 'z')""",
         '[0,[7],"z"]'),
    ]
    select = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, (e, _) in enumerate(cases)
    )
    con = sqlite3.connect(":memory:")
    reference = con.execute(select).fetchone()
    con.close()
    assert list(reference) == [want for _, want in cases]  # pins stay honest

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, (e, want) in enumerate(cases):
        assert got[i] == want, (e, got[i], want)


def test_json_array_extract_rewrite_stays_small():
    """The loose-element CASE must not be re-expanded by the substr pass
    (one element once ballooned to ~4KB of staged-CASE SQL)."""
    from filesql_spark.dialect import rewrite

    out = rewrite("SELECT json_array(json_extract(d, '$.a')) FROM t")
    assert len(out) < 1500, len(out)
    assert "greatest(" not in out  # staged substr path never fires


def test_json1_udfs_register_per_session(spark):
    """Registration idempotency is keyed per-session (conf tag), not by
    id(spark): a fresh newSession() has its own function registry and
    must get its own registration."""
    from filesql_spark import json1

    json1.register_udfs(spark)
    assert spark.conf.get(
        json1._REGISTERED_FLAG, None) == json1._REGISTERED_GEN
    # NOTE: never ns.stop() — it would stop the shared SparkContext
    ns = spark.newSession()
    assert ns.conf.get(
        json1._REGISTERED_FLAG, None) != json1._REGISTERED_GEN
    json1.register_udfs(ns)
    row = ns.sql(
        "SELECT filesql_json_mutate('{}', 'set', array('$.a'), "
        "array('1'), 's') AS r"
    ).collect()[0]
    assert row.r == '{"a":1}'


# -------------------------------------------------- || float rendering
# SQLite renders REAL operands of `||` with %!.15g; the dialect routes
# provably-REAL primaries adjacent to a concat through double_to_text
# (r11). Parenthesized operands are precedence-safe in both engines, so
# the tier can use the full typed grammar.


def test_concat_real_pinned_cases(spark, tmp_path):
    cases = [
        "'x' || (1.0 / 3)",
        "1.5 || 2.5",
        "(1e20) || ''",
        "'a' || NULL",
        "2 || 'b'",
        "'p' || (0.1 + 0.2)",
        "-1.5 || 'z'",
        # nested one level down: paren groups and function arguments
        "('x' || (1.0 / 3))",
        "upper('v' || (1.0 / 3))",
        "length(('p' || 1e20) || 'q')",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(cases))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(cases):
        assert got[i] == expected[i], (e, got[i], expected[i])


def test_concat_real_in_case_arms(spark, tmp_path):
    """r12: `||` float rendering must reach unparenthesized CASE arms
    (operand, WHEN condition, THEN/ELSE branches) — the last documented
    conservative miss of the concat descent (commit a5b90cd)."""
    cases = [
        "CASE WHEN 1 = 1 THEN 'x' || (1.0 / 3) ELSE 'n' END",
        "CASE WHEN 1 = 1 THEN 1.5 || 2.5 END",
        "CASE WHEN 1 = 0 THEN 'n' ELSE 'p' || (0.1 + 0.2) END",
        "CASE 'a' || 1e20 WHEN 'a' THEN 'hit' ELSE 'a' || 1e20 END",
        "CASE WHEN ('w' || 2.5) = 'w2.5' THEN 'y' ELSE 'n' END",
        # nested CASE inside a CASE arm
        "CASE WHEN 1 = 1 THEN "
        "CASE WHEN 2 = 2 THEN 'i' || -1.5 END ELSE 'n' END",
        # CASE as a || operand (outer concat) with a real-typed branch
        "'o' || CASE WHEN 1 = 1 THEN 0.5 ELSE 1.5 END",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(cases))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(cases):
        assert got[i] == expected[i], (e, got[i], expected[i])


@pytest.mark.parametrize("seed", [77, 909])
def test_concat_corpus_matches_sqlite(spark, tmp_path, seed):
    """Random typed expressions (the affinity-certain grammar), each
    parenthesized and joined with || — full %!.15g rendering parity."""
    rng = random.Random(seed)
    exprs = []
    while len(exprs) < 30:
        parts = []
        for _ in range(rng.randint(2, 4)):
            if rng.random() < 0.3:
                parts.append(_lit_str(rng)[0])
            else:
                e, _t = _gen_affine(rng, rng.randint(1, 2))
                parts.append(f"({e})")
        exprs.append(" || ".join(parts))
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(exprs):
        assert got[i] == expected[i], (seed, i, e, got[i], expected[i])


def test_window_filter_clause_matches_sqlite(spark, tmp_path):
    """`agg FILTER (WHERE p) OVER (…)` — Spark rejects it natively; the
    dialect reduces to agg(CASE WHEN p THEN x END) OVER, which is exact
    because aggregates ignore NULLs. count(*) and DISTINCT forms too."""
    rows = [(1, 10, 1), (2, -5, 1), (3, 7, 2), (4, 0, 2), (5, 10, 1)]
    stmt = (
        "SELECT id, "
        "sum(a) FILTER (WHERE a > 0) OVER (PARTITION BY g) AS s, "
        "count(*) FILTER (WHERE a < 0) OVER (PARTITION BY g) AS c, "
        # (DISTINCT inside a window aggregate: unsupported in BOTH
        # engines — sqlite3 raises 'DISTINCT is not supported for
        # window functions')
        "avg(a) FILTER (WHERE a <> 0) OVER "
        "(ORDER BY id ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m "
        "FROM t ORDER BY id"
    )
    _differential(
        spark, tmp_path, stmt, rows,
        "CREATE TABLE t (id INTEGER, a INTEGER, g INTEGER)", "id,a,g",
    )


def test_group_concat_and_printf_render_reals_like_sqlite(spark, tmp_path):
    """REAL values reaching TEXT through group_concat elements and
    printf %s/%q render with SQLite's %!.15g (r11)."""
    rows = [(1, 0.3333333333333333), (2, 1e20)]
    stmt = (
        "SELECT group_concat(f) AS g, "
        "group_concat(f, ';') AS g2, "
        "printf('[%s]', min(f)) AS p "
        "FROM t"
    )
    _differential(
        spark, tmp_path, stmt, rows,
        "CREATE TABLE t (id INTEGER, f REAL)", "id,f",
    )


def test_json_tvf_path_form_matches_sqlite(spark, tmp_path):
    """json_each(X, P) / json_tree(X, P) — the path form (r11): subtree
    walk with fullkey/path re-rooted at P, root-row key/path following
    SQLite's exact (empirically pinned) rules: json_each's scalar-root
    keeps key NULL and path = P; json_tree's root key is P's last
    segment for object keys (NULL for '$'/array index) and its path is
    P's parent. Includes the correlated comma form."""
    queries = [
        """SELECT key, value, type, fullkey, path """
        """FROM json_each('{"a":[5,{"x":1}],"b":2}', '$.a')""",
        """SELECT key, value, fullkey, path FROM json_each('{"a":5}', '$.a')""",
        """SELECT key, value, fullkey, path FROM json_each('[9]', '$[0]')""",
        """SELECT key, fullkey, path FROM json_tree('{"a":{"b":[7]}}', '$.a')""",
        """SELECT count(*) AS c FROM json_each('{"a":1}', '$.nope')""",
        """SELECT key, fullkey, path FROM json_tree('[[1]]', '$[0]')""",
        """SELECT key, fullkey, path FROM json_tree('{"a":1}', '$')""",
        """SELECT d.id, je.key, je.value FROM d, json_each(d.doc, '$.tags') """
        """AS je ORDER BY d.id, je.key""",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE d (id INTEGER, doc TEXT)")
    con.executemany(
        "INSERT INTO d VALUES (?,?)",
        [(1, '{"tags":["x","y"]}'), (2, '{"tags":[]}'), (3, "{}")],
    )
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()

    (tmp_path / "d.csv").write_text(
        'id,doc\n1,"{""tags"":[""x"",""y""]}"\n2,"{""tags"":[]}"\n3,"{}"\n'
    )
    eng = fs.open(str(tmp_path / "d.csv"), spark=spark)

    def norm(rows):
        return [
            tuple(str(v) if v is not None else None for v in r) for r in rows
        ]

    try:
        for q, e in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert norm(got) == norm(e), (q, got, e)
    finally:
        eng.close()


# ------------------------------------------ DML-sequence differential
# Seeded random INSERT/UPDATE/DELETE/transaction sequences against a
# table carrying a dynamic view and an audit trigger — final table,
# view, and audit contents compared row-for-row against sqlite3. This
# exercises the r11 machinery end-to-end: view re-derivation after
# every mutation, trigger firing (plain + upsert paths), and
# snapshot/rollback of tables, views, and defs together.


def _gen_dml_sequence(rng: random.Random) -> list[str]:
    stmts = []
    next_id = 100
    in_txn = False
    for _ in range(rng.randint(10, 16)):
        pick = rng.randrange(10)
        if pick <= 3:
            rows = ", ".join(
                f"({next_id + k}, {rng.randint(-20, 99)})"
                for k in range(rng.randint(1, 3))
            )
            next_id += 3
            stmts.append(f"INSERT INTO t VALUES {rows}")
        elif pick <= 5:
            # affinity-sensitive SET/WHERE expressions: the DML path is
            # catalog-typed since r13 (int division truncates, ifnull
            # dispatches) — exercise it, not just additive arithmetic
            set_expr = rng.choice([
                f"n + {rng.randint(-5, 9)}",
                f"n / {rng.randint(2, 4)}",
                f"ifnull(n, {round(rng.uniform(0.5, 5.5), 1)}) / 2",
                f"n * 2 - n / {rng.randint(2, 3)}",
            ])
            stmts.append(
                f"UPDATE t SET n = {set_expr} "
                f"WHERE id % {rng.randint(2, 4)} = {rng.randint(0, 1)}"
            )
        elif pick == 6:
            where = rng.choice([
                f"n < {rng.randint(-10, 5)}",
                f"n / 3 = {rng.randint(0, 4)}",
            ])
            stmts.append(f"DELETE FROM t WHERE {where}")
        elif pick == 7:
            rid = rng.choice([1, 2, 3, next_id])
            if rid == next_id:
                next_id += 1  # consume: a later plain INSERT must not
                # reuse the id (sqlite enforces PK uniqueness; plain-
                # INSERT constraint enforcement is a documented non-goal
                # here, so a collision would diverge trivially)
            stmts.append(
                f"INSERT OR REPLACE INTO t VALUES ({rid}, {rng.randint(0, 50)})"
            )
        elif pick == 8 and not in_txn:
            stmts.append("BEGIN")
            in_txn = True
        else:
            if in_txn:
                stmts.append(rng.choice(["COMMIT", "ROLLBACK"]))
                in_txn = False
            else:
                stmts.append(f"INSERT INTO t VALUES ({next_id}, 7)")
                next_id += 1
    if in_txn:
        stmts.append(rng.choice(["COMMIT", "ROLLBACK"]))
    return stmts


@pytest.mark.parametrize("seed", [5, 99, 1234])
def test_dml_sequence_with_views_and_triggers_matches_sqlite(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    stmts = _gen_dml_sequence(rng)
    seed_rows = [(1, 10), (2, -3), (3, 25)]

    con = sqlite3.connect(":memory:")
    con.isolation_level = None  # autocommit: explicit BEGIN/COMMIT work
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", seed_rows)
    con.execute("CREATE VIEW v AS SELECT id, n * 2 AS dbl FROM t WHERE n >= 0")
    con.execute("CREATE TABLE log (id INTEGER)")
    con.execute(
        "CREATE TRIGGER au AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES (NEW.id); END"
    )
    exp_rowids = []
    for s in stmts:
        con.execute(s)
        exp_rowids.append(con.execute("SELECT last_insert_rowid()").fetchone()[0])
    exp_t = sorted(con.execute("SELECT * FROM t").fetchall())
    exp_v = sorted(con.execute("SELECT * FROM v").fetchall())
    exp_log = sorted(con.execute("SELECT * FROM log").fetchall())
    con.close()

    (tmp_path / "seed.csv").write_text("x\n1\n")
    eng = fs.open(str(tmp_path / "seed.csv"), spark=spark)
    try:
        eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, n INTEGER)")
        for r in seed_rows:
            eng.execute(f"INSERT INTO t VALUES {r}")
        eng.execute(
            "CREATE VIEW v AS SELECT id, n * 2 AS dbl FROM t WHERE n >= 0"
        )
        eng.execute("CREATE TABLE log (id INTEGER)")
        eng.execute(
            "CREATE TRIGGER au AFTER UPDATE ON t BEGIN "
            "INSERT INTO log VALUES (NEW.id); END"
        )
        got_rowids = []
        for s in stmts:
            eng.execute(s)
            got_rowids.append(
                eng.query("SELECT last_insert_rowid() AS r").collect()[0].r
            )
        got_t = sorted(tuple(r) for r in eng.query("SELECT * FROM t").collect())
        got_v = sorted(tuple(r) for r in eng.query("SELECT * FROM v").collect())
        got_log = sorted(
            tuple(r) for r in eng.query("SELECT * FROM log").collect()
        )
    finally:
        eng.close()
    assert got_t == exp_t, (seed, stmts, got_t, exp_t)
    assert got_v == exp_v, (seed, stmts)
    assert got_log == exp_log, (seed, stmts, got_log, exp_log)
    # last_insert_rowid() tracks statement-for-statement (r12: upsert
    # paths move the counter like SQLite; trigger-body inserts into the
    # audit table revert when the trigger program ends)
    assert got_rowids == exp_rowids, (seed, stmts, got_rowids, exp_rowids)


# --------------------------------------------- r12 randomized tiers
# Two corpora locking this round's dialect surfaces: %!.15g rendering
# for `||` sites inside unparenthesized CASE arms, and catalog-affinity
# shadowing for aliases (explicit and implicit) at mixed paren depths.


def _gen_concat(rng: random.Random) -> str:
    """`a || b [|| c]` with string literals and parenthesized typed
    operands (parens keep SQLite/Spark || precedence identical; the CASE
    ARM position is the thing under test, not operator precedence)."""
    parts = []
    for _ in range(rng.randint(2, 3)):
        if rng.random() < 0.4:
            parts.append(_lit_str(rng)[0])
        else:
            e, _t = _gen_affine(rng, rng.randint(1, 2))
            parts.append(f"({e})")
    return " || ".join(parts)


@pytest.mark.parametrize("seed", [4242, 5151])
def test_concat_in_case_corpus_matches_sqlite(spark, tmp_path, seed):
    """Random CASE expressions with `||` chains in unparenthesized
    operand/WHEN/THEN/ELSE positions, plus CASE itself as a || operand —
    full rendering parity vs sqlite3 (r12 _concat_descend CASE walk)."""
    rng = random.Random(seed)
    exprs = []
    while len(exprs) < 25:
        kind = rng.randrange(4)
        if kind == 0:  # searched CASE, concat in THEN/ELSE arms
            exprs.append(
                f"CASE WHEN {_gen_bool(rng, 1)} THEN {_gen_concat(rng)} "
                f"ELSE {_gen_concat(rng)} END"
            )
        elif kind == 1:  # no ELSE (implicit NULL branch)
            exprs.append(
                f"CASE WHEN {_gen_bool(rng, 1)} THEN {_gen_concat(rng)} END"
            )
        elif kind == 2:  # concat as the CASE operand and the WHEN key
            exprs.append(
                f"CASE {_gen_concat(rng)} WHEN {_gen_concat(rng)} "
                f"THEN 'hit' ELSE {_gen_concat(rng)} END"
            )
        else:  # CASE nested as a || operand; branches typed affine
            a, _ = _gen_affine(rng, 1, "real")
            b, _ = _gen_affine(rng, 1, "real")
            exprs.append(
                f"{_lit_str(rng)[0]} || CASE WHEN {_gen_bool(rng, 1)} "
                f"THEN ({a}) ELSE ({b}) END"
            )
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))

    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(exprs):
        assert got[i] == expected[i], (seed, i, e, got[i], expected[i])


@pytest.mark.parametrize("seed", [7001, 8002])
def test_alias_shadow_corpus_matches_sqlite(spark, tmp_path, seed):
    """Random alias-shadowing statements over typed columns: top-level
    self-aliases keep catalog typing (int division truncates), derived
    scopes (subquery/CTE, explicit AS or implicit) shadow it — each
    statement differential vs sqlite3 (r12 depth-scoped shadow set)."""
    rng = random.Random(seed)
    rows = [(i, rng.randint(-40, 90)) for i in range(1, 7)]
    ddl, header = "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n"
    aggs = ["avg", "sum", "min", "max", "count", "total"]
    for _ in range(12):
        agg = rng.choice(aggs)
        # explicit, implicit, and quoted alias spellings (SQLite allows
        # a string literal as a column alias)
        bind = rng.choice(["AS n", "n", "AS 'n'", "'n'", '"n"'])
        k = rng.choice([2, 3, 4])
        shape = rng.randrange(4)
        if shape == 0:  # top-level self-alias: catalog int, truncates
            stmt = f"SELECT n / {k} AS n, id FROM t ORDER BY id"
        elif shape == 1:  # top-level sibling alias: no shadow either
            stmt = (f"SELECT n / {k} AS h, n * 1.5 AS n "
                    f"FROM t ORDER BY id")
        elif shape == 2:  # derived table rebinds n (agg typing wins)
            stmt = (f"SELECT n / {k} AS h "
                    f"FROM (SELECT {agg}(n) {bind} FROM t)")
        else:  # CTE rebinds n
            stmt = (f"WITH c AS (SELECT {agg}(n) {bind} FROM t) "
                    f"SELECT n / {k} AS h FROM c")
        _differential(spark, tmp_path, stmt, rows, ddl, header)
    # chained scopes: the second CTE's alias affinity depends on the
    # first's (the fixpoint in _alias_shadow_types) — avg taints REAL
    # through the chain, min keeps INTEGER through it
    for agg, bind in (("avg", "AS n"), ("min", "n"), ("sum", "m")):
        alias = bind.split()[-1]
        stmt = (f"WITH a AS (SELECT {agg}(n) {bind} FROM t), "
                f"b AS (SELECT {alias} + 1 AS w FROM a) "
                f"SELECT w / 2 AS h FROM b")
        _differential(spark, tmp_path, stmt, rows, ddl, header)


def test_value_dependent_affinity_literal_fold(spark, tmp_path):
    """r12: SQLite picks ifnull/coalesce/min/max result type by runtime
    VALUE — statically undecidable in general (documented divergence),
    but decidable when the deciding args are numeric literals. Pinned
    against sqlite3: first-non-NULL rule for ifnull/coalesce; scalar min
    keeps the LAST minimal argument on ties, max the FIRST maximal."""
    cases = [
        "ifnull(3, 2.5) / 2",        # int 3 wins -> 1
        "coalesce(NULL, 2.5, 3) / 2",  # real 2.5 -> 1.25
        "coalesce(NULL, 3, 2.5) / 2",  # int 3 -> 1
        "min(3, 2.5) / 2",           # real 2.5 -> 1.25
        "max(3, 2.5) / 2",           # int 3 -> 1
        "min(2, 2.0) / 4",           # tie: last minimal (2.0) -> 0.5
        "min(2.0, 2) / 4",           # tie: last minimal (2) -> 0
        "max(-1, -1.0) / 4",         # tie: first maximal (-1) -> 0
        "max(-1.0, -1) / 4",         # tie: first maximal (-1.0) -> -0.25
        "ifnull(NULL, 4) / 8",       # int 4 -> 0
        "coalesce(1e2, 5) / 8",      # real 1e2 -> 12.5
        "min(0x10, 9.5) / 2",        # real 9.5 -> 4.75
        "ifnull(3, 2.5) || 'x'",     # int rendering: '3x'
        "min(3, 2.5) || 'x'",        # real rendering: '2.5x'
        # folded calls as DIVISORS (the zero-guard nests around the
        # value-pinning TRY_CAST) and as both operands
        "6 / ifnull(3, 2.5)",        # 6/3 -> 2
        "7 % min(3, 2.5)",           # 7 % int(2.5) -> 1.0 (real)
        "ifnull(3, 2.5) / ifnull(2, 1.5)",  # 3/2 -> 1
        "6 / ifnull(0, 2.5)",        # zero divisor -> NULL
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(cases))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(cases):
        g, x = _norm(got[i]), _norm(expected[i])
        assert g == x, (e, g, x)


def test_json_arrow_operators_match_sqlite(spark, tmp_path):
    """SQLite 3.38 `->` (extract as JSON text) and `->>` (extract as SQL
    value) with shorthand paths and chaining, pinned vs sqlite3. Known
    riders excluded: boolean extraction and present-vs-missing null
    under `->` follow the documented json_extract divergences."""
    cases = [
        """'{"a":{"b":1}}' -> 'a'""",      # container stays JSON text
        """'{"a":{"b":1}}' -> '$.a.b'""",  # full path form
        """'{"a":"txt"}' -> 'a'""",        # string stays QUOTED
        """'{"a":"txt"}' ->> 'a'""",       # ->> unquotes
        """'{"a":2.5}' -> 'a'""",          # JSON text '2.5'
        """'[1,2,3]' -> 2""",              # integer shorthand -> '$[2]'
        """'{"a":{"b":"x"}}' -> 'a' ->> 'b'""",  # left-assoc chaining
        """'{"a":1}' -> 'zz'""",           # missing -> NULL
        """'{"a.b":5}' -> 'a.b'""",        # bare key is verbatim $.a.b
        """upper('{"a":"v"}' ->> 'a')""",  # inside a call argument
        """'{"a":null}' -> 'a'""",         # PRESENT null -> text 'null'
        """'[1,2,3]' -> '$[#-1]'""",       # SQLite [#-n] path form
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(cases))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
        # ->> of a NUMBER rides json_extract's pinned divergence: SQLite
        # returns SQL numbers, get_json_object their text forms
        diverge = eng.query(
            """SELECT '{"a":2.5}' ->> 'a' AS r, '[1,2,3]' ->> 2 AS i"""
            " FROM one"
        ).collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(cases):
        g, x = _norm(got[i]), _norm(expected[i])
        assert g == x, (e, g, x)
    assert (diverge.r, diverge.i) == ("2.5", "3")


def test_cast_text_respects_alias_shadow(spark, tmp_path):
    """r12: the CAST-AS-TEXT %!.15g decision must see the same
    rebind-adjusted affinities as the division pass — a derived-scope
    avg() rebind of an int column renders as REAL text, a count()
    rebind of a real column as plain int text."""
    rows = [(1, 7), (2, 8), (3, 11)]
    _differential(
        spark, tmp_path,
        "SELECT CAST(n AS TEXT) AS s FROM (SELECT avg(n) n FROM t)",
        rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n",
    )
    _differential(
        spark, tmp_path,
        "WITH c AS (SELECT count(*) AS f FROM t) "
        "SELECT CAST(f AS TEXT) AS s FROM c",
        [(1, 0.5), (2, 1.5)],
        "CREATE TABLE t (id INTEGER, f REAL)", "id,f",
    )


@pytest.mark.parametrize("seed", [1212, 3434])
def test_json_arrow_corpus_matches_sqlite(spark, tmp_path, seed):
    """Randomized `->`/`->>` differential vs stdlib sqlite3 (3.38+ has
    the operators): random docs, bare-key/full-path/index shorthands,
    chaining. Known riders are excluded by construction: json-null
    members under `->` (presence detection), and numbers/booleans under
    `->>` (json_extract's text-form divergence)."""
    rng = random.Random(seed)
    exprs = []
    while len(exprs) < 30:
        # build a doc with typed members we can safely extract
        keys = {}
        parts = []
        for i in range(rng.randint(2, 4)):
            k = f"k{i}"
            kind = rng.choice(["str", "num", "obj", "arr"])
            if kind == "str":
                v = '"s%d"' % rng.randint(0, 99)
            elif kind == "num":
                v = rng.choice([str(rng.randint(-99, 99)),
                                repr(round(rng.uniform(-9, 9), 3))])
            elif kind == "obj":
                v = '{"in": %d}' % rng.randint(0, 9)
            else:
                v = "[%s]" % ", ".join(
                    str(rng.randint(0, 9)) for _ in range(rng.randint(1, 3))
                )
            keys[k] = kind
            parts.append(f'"{k}": {v}')
        doc = "'{" + ", ".join(parts) + "}'"
        k = rng.choice(list(keys))
        kind = keys[k]
        form = rng.choice([f"'{k}'", f"'$.{k}'"])
        if kind in ("str", "num", "obj", "arr"):
            exprs.append(f"{doc} -> {form}")
        if kind == "str":
            exprs.append(f"{doc} ->> {form}")
        elif kind == "obj":
            # chain into the nested member; ->> of a number rides the
            # text divergence, so chain with -> (JSON text both sides)
            exprs.append(f"{doc} -> {form} -> 'in'")
        elif kind == "arr":
            exprs.append(f"{doc} -> {form} -> {rng.randint(0, 0)}")
        # missing key: NULL under both operators
        exprs.append(f"{doc} {rng.choice(['->', '->>'])} 'zz'")
    exprs = exprs[:30]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()

    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(exprs):
        assert _norm(got[i]) == _norm(expected[i]), (seed, i, e, got[i], expected[i])


# ------------------------------------------------- timediff property corpus
# SQLite 3.43's timediff() postdates the bundled stdlib sqlite3, so there
# is no differential oracle; the defining equation IS the oracle instead:
# timediff(A, B) is the signed component vector V with datetime(B, +V) == A
# (stepping whole years, then whole months with SQLite's day-overflow
# normalization, then the exact day/time remainder). Our datetime()/
# strftime() modifiers ARE differentially pinned against sqlite3, so
# asserting the round-trip through them grounds timediff in the pinned
# surface (VERDICT r12 #3: widen beyond the hand-computed cases).


def _td_roundtrip_pairs(eng, pairs, subsec):
    """Batch-evaluate timediff over ``pairs`` and assert the round-trip
    property for each: applying the reported components to the smaller
    timestamp via the (differentially pinned) datetime/strftime modifiers
    reproduces the larger one exactly."""
    sel = ", ".join(
        f"timediff('{a}', '{b}') AS d{i}" for i, (a, b) in enumerate(pairs)
    )
    diffs = eng.query(f"SELECT {sel} FROM one").collect()[0]
    rt_exprs = []
    want = []
    for i, (a, b) in enumerate(pairs):
        d = diffs[i]
        sign, rest = d[0], d[1:]
        assert sign in "+-", (a, b, d)
        ymd, hms = rest.split(" ")
        yy, mm, dd = ymd.split("-")
        hh, mi, ss = hms.split(":")
        lo = b if sign == "+" else a  # components step lo upward to hi
        hi = a if sign == "+" else b
        mods = ", ".join(
            f"'+{v} {u}'"
            for v, u in ((int(yy), "years"), (int(mm), "months"),
                         (int(dd), "days"), (int(hh), "hours"),
                         (int(mi), "minutes"), (ss, "seconds"))
        )
        if subsec:
            rt_exprs.append(
                f"strftime('%Y-%m-%d %H:%M:%f', '{lo}', {mods}) AS r{i}"
            )
        else:
            rt_exprs.append(f"datetime('{lo}', {mods}) AS r{i}")
        want.append((a, b, d, hi))
    got = eng.query("SELECT " + ", ".join(rt_exprs) + " FROM one").collect()[0]
    for i, (a, b, d, hi) in enumerate(want):
        assert got[i] == hi, (a, b, d, got[i], hi)


@pytest.mark.parametrize("seed", [4343, 7878])
def test_timediff_monthend_roundtrip_corpus(spark, tmp_path, seed):
    """Month-end overflow sweep: anchors on days 28-31 (the Jan-31 +
    1-month = Mar-2/3 normalization zone, incl. leap Feb) paired with
    random dates in both orders, whole seconds, round-tripped through
    datetime()."""
    rng = random.Random(seed)
    anchors = [
        "2023-01-29", "2023-01-30", "2023-01-31", "2023-02-28",
        "2024-02-29", "2023-03-31", "2023-05-31", "2023-12-31",
        "2024-01-31", "2023-08-31", "2023-10-31", "2023-04-30",
    ]
    pairs = []
    for anchor in anchors:
        t = (f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
             f"{rng.randint(0, 59):02d}")
        other = (f"{rng.randint(1999, 2030):04d}-{rng.randint(1, 12):02d}-"
                 f"{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:"
                 f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")
        a, b = f"{anchor} {t}", other
        if rng.random() < 0.5:
            a, b = b, a  # negative spans too
        pairs.append((a, b))
    # anchor-vs-anchor: both ends in the overflow zone
    for _ in range(4):
        a, b = rng.sample(anchors, 2)
        pairs.append((f"{a} 12:00:00", f"{b} 13:30:15"))
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        _td_roundtrip_pairs(eng, pairs, subsec=False)
    finally:
        eng.close()


@pytest.mark.parametrize("seed", [6161])
def test_timediff_subsecond_roundtrip_corpus(spark, tmp_path, seed):
    """Subsecond components: random millisecond-grain pairs (incl.
    negative spans and month-end anchors), round-tripped through
    strftime('%f') so the .SSS fraction is asserted exactly."""
    rng = random.Random(seed)

    def stamp():
        day = rng.choice([rng.randint(1, 28), 29, 30, 31])
        month = rng.randint(1, 12)
        if day > 28:
            month = rng.choice([1, 3, 5, 7, 8, 10, 12])  # day always valid
        return (f"{rng.randint(2000, 2029):04d}-{month:02d}-{day:02d} "
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                f"{rng.randint(0, 59):02d}.{rng.randint(0, 999):03d}")

    pairs = [(stamp(), stamp()) for _ in range(16)]
    pairs.append(("2023-01-01 00:00:00.001", "2023-01-01 00:00:00.999"))
    pairs.append(("2023-03-01 00:00:00.000", "2023-01-31 23:59:59.999"))
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        _td_roundtrip_pairs(eng, pairs, subsec=True)
    finally:
        eng.close()


def test_timediff_now_form(spark, tmp_path):
    """timediff's 'now' base: both-'now' is exactly zero (one
    current_timestamp() per query, so the two sides agree), and
    'now' vs a datetime('now') offset lands on the expected whole-day
    span (the fractional tail is current_timestamp()'s subseconds,
    which datetime() truncates — assert the stable prefix)."""
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        r = eng.query(
            "SELECT timediff('now', 'now') AS z, "
            "timediff('now', datetime('now', '-3 days')) AS d FROM one"
        ).collect()[0]
    finally:
        eng.close()
    assert r.z == "+0000-00-00 00:00:00.000"
    # 3 days + [0, 1) s of current_timestamp() subseconds
    assert r.d.startswith("+0000-00-03 00:00:0"), r.d


# ---------------------------------------------- json_pretty format corpus
# SQLite 3.46's json_pretty() also postdates the bundled sqlite3; the
# documented format (four-space default indent, ': ' after keys, ','
# separators, closing brackets dedented, empty containers inline) is
# pinned by hand here — nested/empty containers and the 2-arg indent
# form (VERDICT r12 #3).


def test_json_pretty_format_corpus(spark, tmp_path):
    cases = [
        # (doc, indent-or-None, expected)
        ('{}', None, '{}'),
        ('[]', None, '[]'),
        ('3', None, '3'),
        ('"x"', None, '"x"'),
        ('{"a":{}}', None, '{\n    "a": {}\n}'),
        ('{"a":[],"b":{}}', None, '{\n    "a": [],\n    "b": {}\n}'),
        ('[[1]]', None, '[\n    [\n        1\n    ]\n]'),
        ('{"a":{"b":{"c":1}}}', None,
         '{\n    "a": {\n        "b": {\n            "c": 1\n        }\n    }\n}'),
        ('[1,"s",null,true]', None,
         '[\n    1,\n    "s",\n    null,\n    true\n]'),
        ('{"k":"é"}', None, '{\n    "k": "é"\n}'),  # raw unicode kept
        # 2-arg indent forms
        ('{"a":1,"b":[2]}', "'\\t'", None),  # expected built below (tab)
        ('{"a":1}', "''", '{\n"a": 1\n}'),   # empty indent: bare newlines
        ('{"a":1}', "'  '", '{\n  "a": 1\n}'),
        ('{"a":1}', "NULL", '{\n    "a": 1\n}'),  # NULL indent -> default
    ]
    cases[10] = ('{"a":1,"b":[2]}', "'\t'",
                 '{\n\t"a": 1,\n\t"b": [\n\t\t2\n\t]\n}')
    sel = ", ".join(
        ("json_pretty('{d}') AS p{i}" if ind is None
         else "json_pretty('{d}', {ind}) AS p{i}").format(
            d=doc.replace("'", "''"), ind=ind, i=i)
        for i, (doc, ind, _x) in enumerate(cases)
    )
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(f"SELECT {sel} FROM one").collect()[0]
    finally:
        eng.close()
    for i, (doc, ind, expected) in enumerate(cases):
        assert got[i] == expected, (doc, ind, got[i], expected)


# ------------------------------------- arrow rewrite analysis-cost guard


def test_json_arrow_wide_select_single_copy(spark, tmp_path):
    """Regression guard for the r12 arrow-emission fix: a wide
    `->`/`->>` select must rewrite to exactly ONE filesql_json_arrow
    call per operator (the old CASE-splice embedded ~7 copies of the
    document per chain level and made a 30-column select quadratic to
    analyze: 7 min before the fix, ~12 s after). Bounds both the rewrite
    (pure Python, must be near-instant) and rewrite+analyze+execute."""
    import time as _time

    from filesql_spark.dialect import rewrite

    n_cols = 32
    exprs = [
        f"d -> 'k{i}' ->> 'v' AS c{i}" if i % 2 == 0
        else f"d ->> '$.k{i}.v' AS c{i}"
        for i in range(n_cols)
    ]
    stmt = "SELECT " + ", ".join(exprs) + " FROM t"
    n_arrows = sum(e.count("->") - e.count("->>") for e in exprs) + sum(
        e.count("->>") for e in exprs
    )
    t0 = _time.perf_counter()
    out = rewrite(stmt)
    rewrite_sec = _time.perf_counter() - t0
    assert out.count("filesql_json_arrow(") == n_arrows, out[:500]
    assert rewrite_sec < 5.0, rewrite_sec

    doc = "{" + ",".join(f'""k{i}"":{{""v"":{i}}}' for i in range(n_cols)) + "}"
    (tmp_path / "t.csv").write_text(f'd\n"{doc}"\n')
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        t0 = _time.perf_counter()
        row = eng.query(stmt).collect()[0]
        total_sec = _time.perf_counter() - t0
    finally:
        eng.close()
    assert total_sec < 120.0, total_sec  # quadratic regression read 7 min
    assert row.c2 == "2" and row.c3 == "3"


# ----------------------- runtime-value-dependent division (r13 closure)
# SQLite picks int-vs-real division by the operands' RUNTIME types; for
# ifnull/coalesce/nvl operands the deciding argument is the first
# non-NULL one, so the dialect now dispatches at runtime on argument
# null-ness (dialect._rewrite_value_dependent_div) — closing the
# `ifnull(col, 2.5) / 2` divergence documented since SURVEY §5. stdlib
# sqlite3 HAS these semantics, so this is a true differential oracle.


def test_value_dependent_division_runtime_dispatch(spark, tmp_path):
    rows = [(1, 7, 2.5), (2, None, 4.0), (3, -9, None), (4, 0, 1.25),
            (5, 8, 0.0)]
    exprs = [
        "ifnull(n, 2.5) / 2",      # n not null -> int division
        "ifnull(n, 2.5) / 3",
        "coalesce(n, 2.5) / 2",
        "coalesce(NULL, n, 2.5) / 2",
        "7 / ifnull(n, 2.5)",      # conditional divisor
        "ifnull(r, 2) / 4",        # real col, int default
        "9 / ifnull(r, 2)",
        "-ifnull(n, 2.5) / 2",     # unary minus outside the dispatch
        "+ifnull(n, 2.5) / 2",
        "ifnull(n, 2.5) / 0",      # zero divisor -> NULL both branches
        "0 / ifnull(n, 2.5)",
        "ifnull(n, 2.5) / 2 + 1",  # additive context
        "1 + ifnull(n, 2.5) / 2",
        "coalesce(NULL, r, 3) / 2",
        "ifnull(n, 0.5) / id",     # column divisor
        # min/max deciders (r13b): chosen-extremum comparisons with
        # SQLite's tie rules (min keeps LAST minimal, max FIRST maximal)
        "min(n, 2.5) / 2",
        "max(n, 2.5) / 2",
        "min(n, 3) / 2",           # both int: static path, values agree
        "max(r, 4) / 3",
        "9 / max(n, 1.5)",
        "min(n, 7.0) / 2",         # tie n=7: LAST minimal (7.0) -> real
        "max(n, 7.0) / 2",         # tie n=7: FIRST maximal (n) -> int
        "min(n, id, 2.5) / 2",     # 3-arg
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()

    (tmp_path / "t.csv").write_text(
        "id,n,r\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if r is None else r}"
            for i, n, r in rows
        ) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (rows[rx], e, g, x)


def test_value_dependent_division_out_of_scope_stays_float(spark, tmp_path):
    """The documented residue: a conditional call as a *·% chain factor,
    both-sides-conditional, chained division off the CASE result, and
    min/max deciders stay on float division (never wrongly truncates)."""
    from filesql_spark.dialect import rewrite

    ct = {"n": "int", "a": "int", "r": "real"}
    for stmt in [
        "SELECT a * ifnull(n, 2.5) / 2 FROM t",   # chain factor
        "SELECT ifnull(n, 2.5) / ifnull(a, 1.5) FROM t",  # both sides
        "SELECT min(n, '2.5') / 2 FROM t",        # TEXT arg: SQLite orders
        # numerics before all text — numeric comparisons would mis-pick
        "SELECT ifnull(n, 2.5) / r FROM t",       # real divisor: float anyway
    ]:
        out = rewrite(stmt, ct)
        # no runtime dispatch: no DIV arm anywhere (min()'s own
        # NULL-propagation CASE is unrelated and allowed)
        assert " DIV " not in out, (stmt, out)
    # and the dispatch DOES fire on the in-scope shape
    out = rewrite("SELECT ifnull(n, 2.5) / 2 FROM t", ct)
    assert " DIV " in out and "IS NOT NULL" in out, out


@pytest.mark.parametrize("seed", [777, 888])
def test_value_dependent_division_corpus_matches_sqlite(spark, tmp_path, seed):
    """Randomized differential over the dispatch scope: random int/real
    column-vs-literal ifnull/coalesce operands, random int divisors/
    dividends, random null patterns in the data."""
    rng = random.Random(seed)
    rows = [
        (
            i,
            rng.choice([None, rng.randint(-50, 50)]),
            rng.choice([None, round(rng.uniform(-20, 20), 2)]),
        )
        for i in range(1, 13)
    ]
    exprs = []
    while len(exprs) < 28:
        fn = rng.choice(["ifnull", "coalesce", "min", "max", "iif"])
        intlit = str(rng.randint(-9, 9))
        reallit = repr(round(rng.uniform(-9, 9), 2))
        if fn in ("min", "max"):
            args = rng.choice([
                f"n, {reallit}", f"r, {intlit}", f"n, id, {reallit}",
                f"n, {rng.randint(-9, 9)}.0",  # integral real: tie rules
            ])
        elif fn == "iif":
            cond = rng.choice(["n", "id", "r"])
            args = rng.choice([
                f"{cond}, {intlit}, {reallit}",
                f"{cond}, {reallit}, {intlit}",
                f"{cond}, n, {reallit}",
            ])
        else:
            args = rng.choice([
                f"n, {reallit}", f"r, {intlit}",
                f"NULL, n, {reallit}" if fn == "coalesce" else f"n, {reallit}",
            ])
        call = f"{fn}({args})"
        other = rng.choice([str(rng.randint(-7, 7)), "id"])
        e = f"{call} / {other}" if rng.random() < 0.6 else f"{other} / {call}"
        if rng.random() < 0.25:  # chained dispatch
            e += f" / {rng.choice(['2', '3', 'id'])}"
        exprs.append(e)
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()

    (tmp_path / "t.csv").write_text(
        "id,n,r\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if r is None else r}"
            for i, n, r in rows
        ) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (seed, rows[rx], e, g, x)


def test_value_dependent_rendering_runtime_dispatch(spark, tmp_path):
    """The rendering half of the r13 closure (SURVEY §5 divergence #2):
    CAST-AS-TEXT, `||`, concat(), and group_concat() of a value-
    dependent conditional call render by the firing argument's RUNTIME
    affinity — INTEGER text vs %!.15g — exactly like sqlite3. String-
    literal arguments stay undispatched (the TEXT value must surface
    verbatim: ifnull(NULL, '3.50') renders '3.50')."""
    rows = [(1, 7), (2, None), (3, -9)]
    exprs = [
        "CAST(ifnull(n, 2.5) AS TEXT)",
        "ifnull(n, 2.5) || 'x'",
        "'x' || ifnull(n, 0.25)",
        "'a' || ifnull(n, 2.5) || 'b'",
        # concat() itself postdates the bundled sqlite3 (3.44); its
        # dispatch is asserted below by consistency with the
        # differentially-pinned || rendering
        "CAST(max(n, 2.5) AS TEXT)",
        "min(n, 1.5) || ''",
        # NOTE ifnull(n, '3.50') is NOT here: string-literal args are
        # excluded from the dispatch (pinned by the rewrite-shape
        # assertion below), and Spark's own ANSI nvl coercion errors on
        # int+non-integer-string regardless — a pre-existing divergence
        # independent of this pass
        "CAST(coalesce(NULL, n, 0.1) AS TEXT)",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    gc = con.execute(
        "SELECT group_concat(ifnull(n, 2.5)) FROM t"
    ).fetchone()[0]
    con.close()

    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
        got_gc = eng.query(
            "SELECT group_concat(ifnull(n, 2.5)) AS g FROM t"
        ).collect()[0].g
        cc = eng.query(
            "SELECT concat('a', ifnull(n, 2.5)) AS c, "
            "'a' || ifnull(n, 2.5) AS p FROM t ORDER BY id"
        ).collect()
        assert [r.c for r in cc] == [r.p for r in cc]
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            assert grow[i] == xrow[i], (rows[rx], e, grow[i], xrow[i])
    # group_concat order: both engines emit in scan order here (3 rows,
    # one partition) — compare as multisets to stay order-robust
    assert sorted(got_gc.split(",")) == sorted(gc.split(",")), (got_gc, gc)
    # string-literal args stay undispatched (rewrite shape)
    from filesql_spark.dialect import rewrite as _rw

    out = _rw("SELECT ifnull(n, '3.50') || 'x' FROM t", {"n": "int"})
    assert "filesql_double_text" not in out and "TRY_CAST" not in out, out


def test_value_dependent_modulo_runtime_dispatch(spark, tmp_path):
    """SQLite `%` casts BOTH operands to INTEGER and types the result
    REAL iff either runtime operand is REAL. With a value-dependent
    conditional operand the VALUE is condition-free but the TYPE
    dispatches on the firing argument — and without the rewrite Spark's
    fmod gives a different VALUE outright (ifnull(n,2.5) % 2 with n
    NULL: fmod 0.5 vs SQLite 0.0)."""
    rows = [(1, 7), (2, None), (3, -9), (4, 0)]
    exprs = [
        "ifnull(n, 2.5) % 2",
        "7 % ifnull(n, 2.5)",
        "ifnull(n, 2.5) % 3.5",   # real known side: always REAL
        "3.5 % ifnull(n, 2.5)",
        "max(n, 1.5) % 3",
        "min(n, 4.5) % 2",
        "ifnull(n, 2.5) % 0",     # zero divisor -> NULL
        "coalesce(NULL, n, 0.5) % 2",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()

    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (rows[rx], e, g, x)


def test_iif_truthiness_and_dispatch_matches_sqlite(spark, tmp_path):
    """r13: iif()'s condition follows SQLite truthiness (numeric
    coercion, non-zero, NULL -> else) — the bare if() rename errored on
    numeric-column conditions. The division dispatch covers iif's
    value-dependent mixed int/real branches, and chained division off a
    dispatched result propagates the condition."""
    rows = [(1, 7), (2, None), (3, 0), (4, -2)]
    exprs = [
        "iif(n, 'y', 'n')",          # numeric truthiness incl. NULL/0
        "iif(n > 3, 'a', 'b')",      # comparison condition
        "iif(n, 1, 2.5) / 2",        # value-dependent division
        "iif(n, 2.5, 3) / 2",
        "7 / iif(n, 1, 2.5)",
        "iif(n, 1, 2.5)",            # bare value
        "ifnull(n, 2.5) / 2 / 3",    # chained dispatch
        "ifnull(n, 4.5) / 2 / 2 / 1",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()

    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
        # 2-arg iif (SQLite 3.48, postdates the bundled sqlite3):
        # NULL on false/NULL condition — hand-pinned
        two = eng.query(
            "SELECT id, iif(n, 5) AS v FROM t ORDER BY id").collect()
        assert [r.v for r in two] == [5, None, None, 5]
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (rows[rx], e, g, x)


def test_value_dependent_dispatch_on_dml_path(spark, tmp_path):
    """The dispatch pre-pass serves every statement the dialect
    rewrites — UPDATE SET expressions and WHERE predicates included,
    pinned statement-for-statement vs sqlite3."""
    stmts = [
        "UPDATE t SET v = ifnull(n, 2.5) / 2",
        "UPDATE t SET v = v + 1 WHERE ifnull(n, 2.5) / 2 > 1",
        "DELETE FROM t WHERE iif(n, 1, 2.5) / 2 = 0",
    ]
    rows = [(1, 7, 0.0), (2, None, 0.0), (3, -9, 0.0), (4, 0, 0.0)]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, v REAL)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    (tmp_path / "t.csv").write_text(
        "id,n,v\n" + "\n".join(
            f"{i},{'' if n is None else n},{v}" for i, n, v in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for s in stmts:
            con.execute(s)
            eng.execute(s)
        exp = con.execute("SELECT id, n, v FROM t ORDER BY id").fetchall()
        got = [
            (r.id, r.n, r.v)
            for r in eng.query("SELECT id, n, v FROM t ORDER BY id").collect()
        ]
    finally:
        eng.close()
        con.close()
    assert [tuple(g) for g in got] == [tuple(x) for x in exp], (got, exp)


def test_chained_modulo_off_dispatch_matches_sqlite(spark, tmp_path):
    """`%` chained off a dispatched division reuses its condition for
    the REAL-iff-either-real result type; the value is the int-cast
    remainder either way (r13b)."""
    rows = [(1, 7), (2, None), (3, -9)]
    exprs = [
        "ifnull(n, 2.5) / 2 % 3",
        "ifnull(n, 7.5) / 2 % 2",
        "iif(n, 9, 2.5) / 2 % 3",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (rows[rx], e, g, x)


def test_math_function_affinity_matches_sqlite(spark, tmp_path):
    """SQLite math functions (func.c, 3.35 math extension): ceil/floor
    preserve input affinity, 1-arg trunc truncates toward zero (INTEGER
    passthrough), mod is fmod (always REAL, NULL on zero divisor, strict
    text coercion), likelihood/likely/unlikely are transparent passthru
    — value AND rendering (typeof via ||-context) pinned (r13b)."""
    rows = [(1, 7, 2.5), (2, None, None), (3, -9, -0.125), (4, 100, 42.0)]
    exprs = [
        "trunc(-2.7)", "trunc(2.7)", "trunc(5)", "trunc(n)", "trunc(r)",
        "trunc('3.9')", "trunc('2x')", "trunc(NULL)",
        "trunc(n) / 2", "trunc(r) / 2", "trunc(-2.7) || ''",
        "ceil(2.1)", "ceil(-2.1)", "ceil(5)", "ceil(n)", "ceil(r)",
        "ceiling(2.1)", "floor(2.9)", "floor(r)", "floor(n)",
        "ceil(n) / 2", "ceil(r) || ''", "floor(2.9) || ''",
        "mod(10, 3)", "mod(-7, 2)", "mod(7, -2)", "mod(7.5, 2)",
        "mod(n, 3)", "mod(n, 0)", "mod('10', 3)", "mod('abc', 3)",
        "mod(10, 3) || ''", "mod(10, 3) / 2",
        "likelihood(n, 0.5) / 2", "likely(r) / 2", "unlikely(n) / 2",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,r\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if r is None else r}"
            for i, n, r in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (rows[rx], e, g, x)
            else:
                assert g == x, (rows[rx], e, type(g), type(x))


def test_mixed_affinity_pick_and_text_aggregates_match_sqlite(spark, tmp_path):
    """Dynamic-typing projections (r13b): coalesce/ifnull over MIXED
    text/numeric affinities render SQLite-style TEXT per argument
    (INTEGER via CAST, REAL via %!.15g) instead of Spark's per-row
    DOUBLE-widening crash; avg/sum/total over TEXT inputs apply SQLite's
    numeric coercion (prefix parse, junk → 0, NULLs still skipped)."""
    rows = [
        (1, 7, 2.5, "hello"), (2, None, None, "12abc"),
        (3, -9, -0.125, None), (4, 100, 42.0, " 5 "),
        (5, 3, 0.5, "6.25e1"), (6, 8, 1.0, ""),
    ]
    pick_exprs = [
        "coalesce(n, r, s)", "coalesce(n, r, s) || '|'",
        "coalesce(s, n)", "ifnull(n, s)", "ifnull(s, 2.5)",
        "coalesce(n, s, 'fallback')",
    ]
    agg_exprs = [
        "avg(s)", "sum(s)", "total(s)",
        "avg(n)", "sum(r)", "count(s)",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    sel_pick = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(pick_exprs))
    sel_agg = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(agg_exprs))
    exp_pick = con.execute(sel_pick + " FROM t ORDER BY id").fetchall()
    exp_agg = con.execute(sel_agg + " FROM t").fetchall()
    con.close()

    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "r", "s"])
        for i, n, r, s in rows:
            w.writerow([i, "" if n is None else n, "" if r is None else r,
                        "\x01missing" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        # the CSV layer can't express NULL text vs empty text; patch row 3
        eng.execute("UPDATE t SET s = NULL WHERE id = 3")
        eng.execute("UPDATE t SET s = '' WHERE id = 6")
        got_pick = eng.query(sel_pick + " FROM t ORDER BY id").collect()
        got_agg = eng.query(sel_agg + " FROM t").collect()
    finally:
        eng.close()

    for rx, (grow, xrow) in enumerate(zip(got_pick, exp_pick)):
        for i, e in enumerate(pick_exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            # the projection renders SQLite TEXT for every row; SQLite
            # keeps per-row types — compare through SQLite's own text
            # rendering of the expected value
            if isinstance(x, int) and not isinstance(x, bool):
                x = str(x)
            elif isinstance(x, float):
                c2 = sqlite3.connect(":memory:")
                x = c2.execute("SELECT CAST(? AS TEXT)", (x,)).fetchone()[0]
                c2.close()
            assert g == x, (rows[rx], e, g, x)
    for i, e in enumerate(agg_exprs):
        g, x = _norm(got_agg[0][i]), _norm(exp_agg[0][i])
        if isinstance(g, float) or isinstance(x, float):
            assert g == pytest.approx(x, rel=1e-12), (e, g, x)
        else:
            assert g == x, (e, g, x)


def test_case_when_truthiness_matches_sqlite(spark, tmp_path):
    """Searched-CASE WHEN conditions evaluate under SQLite truthiness
    (numeric coercion, non-zero, NULL falls through — including through
    NOT/AND/OR with three-valued logic); Spark natively rejects
    non-boolean conditions (r13b). Simple CASE stays value-compared."""
    rows = [(1, 7, 2.5, "x"), (2, None, None, "2"),
            (3, 0, 0.0, "0"), (4, -1, -0.5, "abc")]
    exprs = [
        "CASE WHEN 1 THEN 'a' ELSE 'b' END",
        "CASE WHEN 0 THEN 'a' ELSE 'b' END",
        "CASE WHEN 2.5 THEN 'a' ELSE 'b' END",
        "CASE WHEN NULL THEN 'a' ELSE 'b' END",
        "CASE WHEN n THEN 'a' ELSE 'b' END",
        "CASE WHEN r THEN 'a' ELSE 'b' END",
        "CASE WHEN s THEN 'a' ELSE 'b' END",
        "CASE WHEN NOT n THEN 'a' ELSE 'b' END",
        "CASE WHEN n AND r THEN 'a' ELSE 'b' END",
        "CASE WHEN n OR r THEN 'a' ELSE 'b' END",
        "CASE WHEN n > 0 AND r THEN 'a' ELSE 'b' END",
        "CASE WHEN n THEN 'a' WHEN r THEN 'c' ELSE 'b' END",
        "CASE WHEN (n) THEN 'a' ELSE 'b' END",
        "CASE WHEN CASE WHEN n THEN 1 END THEN 'a' ELSE 'b' END",
        "CASE n WHEN 7 THEN 'a' ELSE 'b' END",
        "CASE WHEN n BETWEEN -1 AND 5 THEN 'a' ELSE 'b' END",
        "CASE WHEN n + 1 THEN 'a' ELSE 'b' END",
        "CASE WHEN length(s) - 1 THEN 'a' ELSE 'b' END",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,r,s\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if r is None else r},{s}"
            for i, n, r, s in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            assert _norm(grow[i]) == _norm(xrow[i]), (rows[rx], e, grow[i], xrow[i])


def test_value_dependent_dispatch_extensions_match_sqlite(spark, tmp_path):
    """r13b dispatch extensions: nested conditional deciders
    (ifnull(ifnull(n,2),2.5)), affinity-preserving wrapper peels
    (abs/trunc/ceil/floor/likelihood over a decider), and searched-CASE
    operands of / and %% (distributed into the arms — SQLite picks the
    division flavor by the fired arm's value type)."""
    rows = [(1, 7, 2.5), (2, None, None), (3, -9, -0.125), (4, 0, 4.0)]
    exprs = [
        "ifnull(ifnull(n, 2), 2.5) / 2",
        "ifnull(coalesce(n, 4), 0.5) / 2",
        "abs(ifnull(n, 2.5)) / 2",
        "trunc(ifnull(n, 2.5)) / 2",
        "ceil(ifnull(n, 2.49)) / 2",
        "floor(ifnull(n, 2.51)) / 2",
        "likelihood(ifnull(n, 2.5), 0.5) / 2",
        "abs(ifnull(n, 2.5)) || ''",
        "CASE WHEN id = 1 THEN 1 ELSE 2.5 END / 2",
        "(CASE WHEN id = 1 THEN 1 ELSE 2.5 END) / 2",
        "(CASE WHEN n THEN 1 WHEN r > 0 THEN 2.5 ELSE 3 END) / 2",
        "10 / (CASE WHEN id = 1 THEN 2 ELSE 2.5 END)",
        "(CASE WHEN id = 1 THEN 1 ELSE 2.5 END) % 2",
        "9 % (CASE WHEN id = 1 THEN 2 ELSE 2.5 END)",
        "(CASE WHEN id = 2 THEN 7 ELSE 0.5 END) / 2",
        "(CASE WHEN id = 1 THEN 1 ELSE 2.5 END) || ''",
        "CASE WHEN id = 1 THEN 1 ELSE 2 END / 2",
        "n + CASE WHEN id = 1 THEN 1 ELSE 2.5 END / 2",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,r\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if r is None else r}"
            for i, n, r in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (rows[rx], e, g, x)
            else:
                assert g == x, (rows[rx], e, g, x, type(g), type(x))


def test_json_object_subtype_and_dynamic_keys_match_sqlite(spark, tmp_path):
    """json_object (r13b rebuild): JSON-subtype values splice as trees
    (jsonObjectFunc's subtype check), json_extract values follow the
    loose rule, duplicate keys are kept in order, NULL values render as
    json null, and keys may be arbitrary TEXT expressions."""
    rows = [(1, 7, "alpha"), (2, None, "beta")]
    exprs = [
        "json_object('a', 1, 'b', json('[1,2]'))",
        "json_object('a', json_object('n', n))",
        "json_object('a', 1, 'a', 2)",
        "json_object('k', json_extract('[1,2]', '$'))",
        "json_object('k', json_extract('{\"x\":\"s\"}', '$.x'))",
        "json_object('k', NULL)",
        "json_object('k', 2.5)",
        "json_object(s, n)",
        "json_object(s || '!', 'v')",
        "json_object('q', json_array(1, 'x', NULL))",
        "json_object('k', json_set('{}', '$.z', 9))",
        "json_object()",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s\n" + "\n".join(
            f"{i},{'' if n is None else n},{s}" for i, n, s in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            assert grow[i] == xrow[i], (rows[rx], e, grow[i], xrow[i])


def test_json_nesting_and_arrow_subtype_match_sqlite(spark, tmp_path):
    """Same-name json_array/json_object nesting (the per-name sweep
    skips its own emission — explicit recursion required) and the `->`
    operator's JSON subtype inside json_object/json_array (r13b)."""
    exprs = [
        "json_array(json_array(1), 2)",
        "json_array(json_array(json_array()), json_object('k', 1))",
        "json_object('o', json_object('i', json_object('x', 1)))",
        "json_object('a', json_array(), 'b', json_object())",
        "json_array(json_object('k', json_array(1, 2)))",
        "json_object('k', '{\"a\":[1]}' -> 'a')",
        "json_object('k', '{\"a\":[1]}' ->> 'a')",
        "json_array('{\"a\":[1]}' -> '$.a', '{\"a\":[1]}' ->> '$.a')",
        "json_set('{}', '$.p', json_array(json_array(7)))",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
    finally:
        eng.close()
    for i, e in enumerate(exprs):
        assert got[i] == expected[i], (e, got[i], expected[i])


def test_json_type_path_form_matches_sqlite(spark, tmp_path):
    """json_type(X, P) via the filesql_json_type session UDF (r13b —
    previously a documented unsupported error): exact type names,
    NULL for a missing path, malformed-JSON error."""
    exprs = [
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a')",
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a[0]')",
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a[1]')",
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a[2]')",
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a[3]')",
        "json_type('{\"a\":[2,3.5,\"x\",true,null]}', '$.a[4]')",
        "json_type('{\"a\":1}', '$.missing')",
        "json_type('{\"a\":{\"b\":false}}', '$.a.b')",
        "json_type('3', '$')",
        "json_type(NULL, '$')",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
        import pytest as _pytest
        from py4j.protocol import Py4JJavaError
        with _pytest.raises(Exception) as exc:
            eng.query("SELECT json_type('bad', '$') FROM one").collect()
        assert "malformed JSON" in str(exc.value)
    finally:
        eng.close()
    for i, e in enumerate(exprs):
        assert got[i] == expected[i], (e, got[i], expected[i])


def test_clause_truthiness_matches_sqlite(spark, tmp_path):
    """WHERE / HAVING / join-ON truthiness (r13b): bare numeric (or
    text) conditions coerce like SQLite's sqlite3ExprIfTrue; comparisons
    and boolean connectives are untouched (three-valued logic agrees)."""
    rows = [(1, 7, "x"), (2, 0, "2"), (3, None, "abc"), (4, -1, "0")]
    queries = [
        "SELECT id FROM t WHERE n ORDER BY id",
        "SELECT id FROM t WHERE NOT n ORDER BY id",
        "SELECT id FROM t WHERE s ORDER BY id",
        "SELECT id FROM t WHERE n AND s ORDER BY id",
        "SELECT id FROM t WHERE n OR s ORDER BY id",
        "SELECT id FROM t WHERE n - 7 ORDER BY id",
        "SELECT id FROM t WHERE length(s) - 1 ORDER BY id",
        "SELECT n, count(*) AS c FROM t GROUP BY n HAVING n ORDER BY n",
        "SELECT count(*) AS c FROM t GROUP BY s HAVING count(*) - 1",
        "SELECT a.id AS i, b.id AS j FROM t a JOIN t b ON b.n "
        "ORDER BY a.id, b.id",
        "SELECT id FROM t WHERE CASE WHEN n THEN 1 END ORDER BY id",
        "SELECT id FROM t WHERE id IN (SELECT id FROM t WHERE n) "
        "ORDER BY id",
        "SELECT id FROM t WHERE n BETWEEN -1 AND 5 ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s\n" + "\n".join(
            f"{i},{'' if n is None else n},{s}" for i, n, s in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_datetime_julian_values_indexed_match_sqlite(spark, tmp_path):
    """r13b batch: numeric datetime/julianday bases are JULIAN DAY
    numbers (SQLite's default — was wrongly epoch seconds), 'auto' /
    'julianday' modifiers, julianday() modifier support, %G/%g/%U/%V
    strftime codes, VALUES tables named column1..N, and INDEXED BY /
    NOT INDEXED stripped as planner hints."""
    exprs = [
        "datetime(2460380.0)",
        "datetime(2460380.75)",
        "date(2440587.5)",
        "datetime('2460380.5')",
        "datetime(1700000000, 'auto')",
        "datetime(2460380.0, 'auto')",
        "datetime(2460380.0, 'julianday')",
        "datetime(1700000000, 'unixepoch')",
        "julianday(2460380.5)",
        "julianday('2024-03-10', '+1 day')",
        "julianday('2024-03-10 12:00:00')",
        "strftime('%V', '2024-01-01')",
        "strftime('%G', '2024-01-01')",
        "strftime('%g', '2024-01-01')",
        "strftime('%G-%V', '2021-01-03')",
        "strftime('%U', '2024-03-10')",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    expected = con.execute(select).fetchone()
    con.close()
    (tmp_path / "one.csv").write_text("id\n1\n")
    eng = fs.open(str(tmp_path / "one.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM one").collect()[0]
        for i, e in enumerate(exprs):
            g, x = _norm(got[i]), _norm(expected[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (e, g, x)
            else:
                # sqlite 3.40 predates %G/%g/%V (NULL there; engine
                # matches the reference's modern bundled SQLite)
                if x is None and e.startswith("strftime"):
                    assert isinstance(g, str) and g, (e, g)
                else:
                    assert g == x, (e, g, x)
        vals = [
            ("SELECT column1 + column2 AS v FROM (VALUES (1, 2), (3, 4)) "
             "ORDER BY column1", [(3,), (7,)]),
            ("SELECT v.column1 AS v FROM (VALUES (5, 6)) v", [(5,)]),
            ("VALUES (1, 'a'), (2, 'b')", [(1, "a"), (2, "b")]),
            ("WITH c AS (VALUES (9)) SELECT column1 AS v FROM c", [(9,)]),
            ("SELECT id AS v FROM one WHERE id IN (VALUES (1), (3))",
             [(1,)]),
            ("SELECT id AS v FROM one NOT INDEXED WHERE id = 1", [(1,)]),
            ("SELECT id AS v FROM one INDEXED BY anything WHERE id = 1",
             [(1,)]),
        ]
        for q, exp in vals:
            got_rows = [tuple(r) for r in eng.query(q).collect()]
            assert got_rows == exp, (q, got_rows, exp)
    finally:
        eng.close()


@pytest.mark.parametrize("seed", [4242, 909])
def test_case_division_corpus_matches_sqlite(spark, tmp_path, seed):
    """Randomized searched-CASE operands of / and % with literal arms
    (the r13b arm-distribution path): SQLite picks the division flavor
    by the fired arm's value type, per row."""
    rng = random.Random(seed)
    exprs = []
    for _ in range(50):
        n_when = rng.randint(1, 3)
        arms = []
        for _ in range(n_when):
            cond = f"n {rng.choice(['<', '<=', '=', '>', '>='])} {rng.randint(-5, 8)}"
            val = (repr(round(rng.uniform(-40, 40), 2))
                   if rng.random() < 0.5 else str(rng.randint(-40, 80)))
            arms.append(f"WHEN {cond} THEN {val}")
        els = ""
        if rng.random() < 0.8:
            v = (repr(round(rng.uniform(-40, 40), 2))
                 if rng.random() < 0.5 else str(rng.randint(-40, 80)))
            els = f" ELSE {v}"
        case = f"CASE {' '.join(arms)}{els} END"
        op = rng.choice(["/", "%"])
        other = (repr(round(rng.uniform(-9, 9), 1))
                 if rng.random() < 0.35 else str(rng.randint(-9, 9)))
        if rng.random() < 0.5:
            exprs.append(f"({case}) {op} {other}")
        else:
            exprs.append(f"{other} {op} ({case})")
    rows = [(i, n) for i, n in enumerate([-7, -1, 0, 3, 6, None])]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (seed, rows[rx], e, g, x)
            else:
                assert g == x, (seed, rows[rx], e, g, x)


def test_simple_case_division_matches_sqlite(spark, tmp_path):
    """Simple CASE (`CASE x WHEN v THEN …`) as a / or % operand also
    distributes (operand and WHEN values copy verbatim, r13b)."""
    rows = [(1, 1), (2, 2), (3, None)]
    exprs = [
        "(CASE n WHEN 1 THEN 10 ELSE 2.5 END) / 2",
        "CASE n WHEN 1 THEN 10 WHEN 2 THEN 0.5 ELSE 7 END / 2",
        "9 / (CASE n WHEN 2 THEN 2 ELSE 4.5 END)",
        "(CASE n WHEN 1 THEN 7 ELSE 2.5 END) % 2",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n\n" + "\n".join(
            f"{i},{'' if n is None else n}" for i, n in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (rows[rx], e, g, x)
            else:
                assert g == x, (rows[rx], e, g, x)


def test_text_operand_division_matches_sqlite(spark, tmp_path):
    """TEXT operands of / and %: SQLite coerces by numeric prefix and
    picks int-vs-real per VALUE ('5x'/2 is 2, '5.5x'/2 is 2.75, junk is
    0); Spark's implicit string→double cast crashed on junk (r13b)."""
    rows = [(1, "5"), (2, "5x"), (3, "5.5x"), (4, "hello"), (5, None),
            (6, " 12 "), (7, ".5"), (8, "-7"), (9, "2e1"), (10, "")]
    exprs = [
        "s / 2", "s / 2.0", "2 / s", "s % 3", "s % 2.5",
        "s / s", "'5x' / 2", "'5.5x' / 2", "'abc' / 2", "10 % s",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "s"])
        for i, s in rows:
            w.writerow([i, "\x01null" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 5")
        eng.execute("UPDATE t SET s = '' WHERE id = 10")
        eng.execute("UPDATE t SET s = ' 12 ' WHERE id = 6")
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (rows[rx], e, g, x)
            else:
                assert g == x, (rows[rx], e, g, x)


def test_comparison_affinity_matches_sqlite(spark, tmp_path):
    """SQLite comparison affinity (expr.c): numeric vs TEXT column
    converts per row (junk stays text, numerics order before text);
    TEXT column vs numeric LITERAL compares as STRINGS against SQLite's
    rendering. Spark natively ANSI-crashes or compares numerically
    (r13b)."""
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "7.0"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (5, None, None, None), (6, -3, 70.0, " 7 ")]
    exprs = [
        "n = s", "n != s", "n < s", "n <= s", "n > s", "n >= s",
        "s = n", "s < n", "r = s", "r < s",
        "s = 7", "s = 7.0", "s > 10", "s < 8", "s >= 70",
        "7 = s", "10 > s",
        "n = '7x'", "n < '7x'", "n > 'abc'", "'9x' >= n",
        "n = '7'", "n < '7.5'",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "r", "s"])
        for i, n, r, s in rows:
            w.writerow([i, "" if n is None else n, "" if r is None else r,
                        "\x01null" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 5")
        eng.execute("UPDATE t SET s = ' 7 ' WHERE id = 6")
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (rows[rx], e, g, x)


def test_between_in_affinity_matches_sqlite(spark, tmp_path):
    """BETWEEN and literal IN-lists under comparison affinity (r13b):
    x's affinity applies to bounds/items; junk items drop from numeric
    IN-lists (never matchable); TEXT x renders numeric items as SQLite
    text; NULL items keep three-valued results."""
    rows = [(1, 7, "7.0"), (2, 3, "2"), (3, None, None), (4, -1, "abc")]
    exprs = [
        "n BETWEEN '1' AND '5.5'", "n BETWEEN '1' AND 'x'",
        "n NOT BETWEEN '1' AND '5.5'", "s BETWEEN 1 AND 9",
        "s BETWEEN '1' AND '8'", "n BETWEEN 1 AND 5",
        "n IN ('7', '8x', 3)", "n IN ('a', 'b')", "n NOT IN ('8x')",
        "n NOT IN ('7', 'junk')", "s IN (7, 7.0, 2)",
        "n IN (7, NULL)", "n IN ('3', NULL)",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s\n" + "\n".join(
            f"{i},{'' if n is None else n},{'' if s is None else s}"
            for i, n, s in rows) + "\n"
    )
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 3")
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            assert _norm(grow[i]) == _norm(xrow[i]), (rows[rx], e, grow[i], xrow[i])


def test_bare_minmax_and_limit_blob_match_sqlite(spark, tmp_path):
    """r13b batch: SQLite's bare-columns-with-min/max extension
    (select.c minMaxQuery → Spark min_by/max_by), MySQL-style
    LIMIT offset, count / negative LIMIT, and CAST(X AS BLOB)."""
    rows = [(1, 1, 5), (2, 1, 9), (3, 2, 7), (4, 2, 3)]
    queries = [
        "SELECT id, max(n) AS m FROM t",
        "SELECT id, min(n) AS m FROM t",
        "SELECT g, id, max(n) AS m FROM t GROUP BY g ORDER BY g",
        "SELECT id AS i, max(n) AS m FROM t",
        "SELECT id, max(n) AS m, count(*) AS c FROM t",
        "SELECT id AS v FROM t ORDER BY id LIMIT 2, 1",
        "SELECT id AS v FROM t ORDER BY id LIMIT -1",
        "SELECT id AS v FROM t ORDER BY id LIMIT -1 OFFSET 1",
        "SELECT CAST(7.5 AS BLOB) AS b, CAST(n AS BLOB) AS c, "
        "CAST('xy' AS BLOB) AS d FROM t ORDER BY id LIMIT 1",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, g INTEGER, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,g,n\n" + "\n".join(f"{i},{g},{n}" for i, g, n in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                         else v for v in r)
                   for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_text_additive_and_unary_match_sqlite(spark, tmp_path):
    """TEXT operands of + - * and unary +/- (r13b): numeric-prefix
    coercion with int-vs-real per VALUE; unary + is identity (the
    operand stays verbatim), unary - is 0 - x under the same rules."""
    rows = [(1, "5"), (2, "5x"), (3, "5.5x"), (4, "hello"), (5, None),
            (6, "2e1"), (7, "-3"), (8, "")]
    exprs = [
        "s + 1", "1 + s", "s - 2", "10 - s", "s * 3", "s * 2.5",
        "s + s", "s - s", "-s", "+s", "'5x' + 1", "'abc' * 2",
    ]
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "s"])
        for i, s in rows:
            w.writerow([i, "\x01null" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 5")
        eng.execute("UPDATE t SET s = '' WHERE id = 8")
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            if isinstance(g, float) and isinstance(x, float):
                assert g == pytest.approx(x, rel=1e-12), (rows[rx], e, g, x)
            else:
                assert g == x, (rows[rx], e, g, x)


# ------------------------------------------------- r14: compound-operand
# comparison affinity (VERDICT r13 #4). Affinity model pinned empirically:
# only column references (parens transparent) and CASTs carry affinity;
# arithmetic chains, function calls, and unary +/- carry NONE — so
# `a + 1 > s` STRING-compares the rendered sum (the TEXT column side
# wins), and `'12' = 10+2` is a type-order constant.

def _gen_cmp_operand(rng: random.Random) -> str:
    """One comparison operand over columns n (INTEGER), r (REAL),
    s (TEXT) and literals, with arithmetic chains and function calls."""
    pick = rng.randrange(14)
    if pick == 12:
        # bitwise glue (r15): binds tighter than any comparison, result
        # INTEGER, NO affinity; operands coerce per vdbe.c (TEXT
        # integer-prefix-parses, REAL truncates toward zero) and shift
        # counts clamp at |64| / flip on negatives — all emulated
        return rng.choice([
            "n & 3", "n | 1", "n & 1 | 4", "n << 1", "n >> 1",
            "(n & 1)", "n & 1 + 1", "3 & n", "n << 1 & 6",
            "s & 3", "r & 7", "~n", "~s", "n << 65", "1 << -1",
            "n >> n", "s << 1", "r | n",
        ])
    if pick == 13:
        # || chains as comparison operands: TEXT value, NO affinity
        return rng.choice([
            "s || ''", "s || '0'", "'' || s", "n || ''", "s || s",
            "n || s",
        ])
    if pick == 0:
        return rng.choice(["n", "r", "s", "(n)", "(s)", "(r)"])
    if pick == 1:
        return str(rng.randint(-20, 120))
    if pick == 2:
        return repr(round(rng.uniform(-5, 15), 2))
    if pick == 3:
        return rng.choice(
            ["'7'", "'07'", "'7.0'", "'abc'", "'7x'", "''", "'-3'",
             "'1e2'", "' 7 '"]
        )
    if pick == 4:
        col = rng.choice(["n", "r"])
        op = rng.choice(["+", "-", "*"])
        lit = (str(rng.randint(1, 9)) if rng.random() < 0.7
               else repr(round(rng.uniform(0.5, 3.5), 1)))
        return rng.choice([f"{col} {op} {lit}", f"({col} {op} {lit})",
                           f"{lit} {op} {col}"])
    if pick == 5:
        col = rng.choice(["n", "r"])
        den = rng.choice(["2", "3", "0", "2.5"])
        return f"{col} {rng.choice(['/', '%'])} {den}"
    if pick == 6:
        return rng.choice(["abs(n)", "abs(r)", "coalesce(n, 0)",
                           "length(s)", "abs(n) + 1", "n + r"])
    if pick == 7:
        return rng.choice(["upper(s)", "lower(s)", "trim(s)",
                           "substr(s, 1, 2)", "ltrim(s, '0')"])
    if pick == 8:
        return rng.choice(["-n", "+n", "+s", "-r", "- n + 2"])
    if pick == 9:
        return rng.choice(["CAST(n AS TEXT)", "CAST(s AS INTEGER)",
                           "CAST(s AS REAL)", "CAST(r AS INTEGER)"])
    if pick == 10:
        return f"n + {rng.randint(1, 5)} - {rng.randint(1, 5)}"
    if pick == 11 and rng.random() < 0.7:
        # CASE operands carry NO affinity (r14: both sides of the
        # comparison walk through CASE … END)
        return rng.choice([
            "CASE WHEN n > 7 THEN 1 ELSE 2 END",
            "CASE WHEN s THEN 7 ELSE 8 END",
            "CASE n WHEN 7 THEN 10 ELSE 20 END",
            "1 + CASE WHEN n > 7 THEN 1 ELSE 2 END",
        ])
    return rng.choice(["NULL", "n", "s"])


@pytest.mark.parametrize("seed", [41, 141, 914])
def test_compound_comparison_affinity_matches_sqlite(spark, tmp_path, seed):
    """Randomized compound-operand comparisons (arith chains, function
    calls, casts, unary signs, mixed columns/literals) differentially
    vs stdlib sqlite3 (r14 — extends the r13b simple-primary tier)."""
    rng = random.Random(seed)
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (5, None, None, None), (6, -3, 70.0, " 7 "),
            (7, 8, 8.25, "8.25"), (8, 100, 1e2, "1e2")]
    exprs = []
    while len(exprs) < 45:
        op = rng.choice(["=", "!=", "<", "<=", ">", ">=", "<>",
                         "IS", "IS NOT"])
        e = f"{_gen_cmp_operand(rng)} {op} {_gen_cmp_operand(rng)}"
        exprs.append(e)
    select = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "r", "s"])
        for i, n, r, s in rows:
            w.writerow([i, "" if n is None else n, "" if r is None else r,
                        "\x01null" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 5")
        eng.execute("UPDATE t SET s = ' 7 ' WHERE id = 6")
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(exprs):
            g, x = _norm(grow[i]), _norm(xrow[i])
            assert g == x, (seed, rows[rx], e, g, x)


def test_in_subquery_affinity_matches_sqlite(spark, tmp_path):
    """`x IN (SELECT y …)` under comparison affinity (r14, VERDICT r13
    #5): numeric x vs TEXT-column subquery converts y per row (junk
    dropped — it can never equal a numeric); TEXT x vs numeric subquery
    converts x per row (junk x → FALSE); TEXT-affinity vs no-affinity
    numeric expression renders as SQLite text and string-compares; two
    no-affinity sides of mixed value class never match."""
    t1 = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
          (4, 0, 0.5, "abc"), (5, 12, 8.25, "8.25")]
    t2 = [(1, 7, "7"), (2, 8, "07"), (3, 9, "junk"), (4, 10, "8.25")]
    queries = [
        "SELECT id, n IN (SELECT y FROM t2) AS h FROM t1 ORDER BY id",
        "SELECT id FROM t1 WHERE n IN (SELECT y FROM t2) ORDER BY id",
        "SELECT id FROM t1 WHERE r IN (SELECT y FROM t2) ORDER BY id",
        "SELECT id, s IN (SELECT m FROM t2) AS h FROM t1 ORDER BY id",
        "SELECT id FROM t1 WHERE s IN (SELECT m FROM t2) ORDER BY id",
        "SELECT id FROM t1 WHERE s NOT IN (SELECT m FROM t2) ORDER BY id",
        "SELECT id, s IN (SELECT m + 0 FROM t2) AS h FROM t1 ORDER BY id",
        "SELECT id, n + 0 IN (SELECT y FROM t2) AS h FROM t1 ORDER BY id",
        "SELECT 7 IN (SELECT y FROM t2) AS h",
        "SELECT 8.25 IN (SELECT y FROM t2) AS h",
        "SELECT id, abs(n) IN (SELECT upper(y) FROM t2) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id FROM t1 WHERE n IN (SELECT m FROM t2) ORDER BY id",
        "SELECT id FROM t1 WHERE s IN (SELECT y FROM t2) ORDER BY id",
        "SELECT id FROM t1 WHERE n NOT IN (SELECT y FROM t2) ORDER BY id",
        "SELECT id, n IN (SELECT y FROM t2 WHERE m > 7) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, n IN (SELECT DISTINCT y FROM t2) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, n IN (SELECT y AS z FROM t2) AS h FROM t1 ORDER BY id",
        "SELECT id, n IN (SELECT y FROM t2 WHERE m IN ('7', '8x', 8)) AS h "
        "FROM t1 ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t1 (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.execute("CREATE TABLE t2 (id2 INTEGER, m INTEGER, y TEXT)")
    con.executemany("INSERT INTO t1 VALUES (?,?,?,?)", t1)
    con.executemany("INSERT INTO t2 VALUES (?,?,?)", t2)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t1.csv").write_text(
        "id,n,r,s\n" + "\n".join(",".join(map(str, r)) for r in t1) + "\n")
    (tmp_path / "t2.csv").write_text(
        "id2,m,y\n" + "\n".join(",".join(map(str, r)) for r in t2) + "\n")
    eng = fs.open(str(tmp_path), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_sum_text_integer_typing_renders_like_sqlite(spark, tmp_path):
    """SQLite types sum() INTEGER when every non-NULL TEXT input is a
    clean integer string; ANY junk/partial/real-format input ('5x', '',
    '5.0', '5e1') flips the whole sum to REAL (func.c sumStep, pinned).
    Spark's schema is static so the VALUE stays DOUBLE (exact —
    COVERAGE.md r14 decision note); the dispatch lands at rendering
    sites (CAST AS TEXT, ||) with a per-group aggregate condition."""
    matrices = [
        ("5", "6"), ("5", "6.5"), ("5x", "6"), ("5.0x", "6"),
        ("abc", "6"), ("5e1", "2"), ("5", "-6"), ("+5", "05"),
        (" 5 ", "6"),
    ]
    rows = [(gi, v) for gi, vals in enumerate(matrices) for v in vals]
    queries = [
        "SELECT g, CAST(sum(s) AS TEXT) AS r FROM t GROUP BY g ORDER BY g",
        "SELECT g, sum(s) || '!' AS r FROM t GROUP BY g ORDER BY g",
        "SELECT g, 'v=' || sum(s) AS r FROM t GROUP BY g ORDER BY g",
        "SELECT CAST(sum(s) AS TEXT) AS r FROM t WHERE g = 0",
        "SELECT CAST(sum(s) AS TEXT) AS r FROM t WHERE g = 99",  # empty
        "SELECT g, avg(s) AS r FROM t GROUP BY g ORDER BY g",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (g INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["g", "s"])
        for g, s in rows:
            w.writerow([g, s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            for grow, xrow in zip(got, exp):
                for gv, xv in zip(grow, xrow):
                    g0, x0 = _norm(gv), _norm(xv)
                    if isinstance(g0, float) or isinstance(x0, float):
                        assert float(g0) == pytest.approx(float(x0)), (
                            q, got, exp)
                    else:
                        assert g0 == x0, (q, got, exp)
            assert len(got) == len(exp), (q, got, exp)
    finally:
        eng.close()


def test_case_operand_comparison_affinity_matches_sqlite(spark, tmp_path):
    """CASE … END operands (either side, nested, arithmetic-glued) carry
    NO affinity in SQLite — the TEXT column side wins and the rendered
    CASE value string-compares (r14; left side walks back through the
    END keyword via _rev_primary_start)."""
    rows = [(1, 7, "7", "abc"), (2, 8, "8", "12"), (3, 9, "07", ""),
            (4, 7, "7x", "7")]
    exprs = [
        "s = CASE WHEN s2 THEN 7 ELSE 8 END",
        "s = CASE WHEN 1 THEN 7 ELSE 8 END",
        "s > CASE WHEN n > 7 THEN 1.5 ELSE 0.5 END",
        "CASE WHEN s2 THEN 7 ELSE 8 END = s",
        "CASE WHEN n > 7 THEN 1 ELSE 2 END < s",
        "1 + CASE WHEN n > 7 THEN 1 ELSE 2 END = s",
        "CASE n WHEN 7 THEN 10 ELSE 20 END = s",
        "CASE WHEN CASE WHEN n > 7 THEN 1 ELSE 0 END THEN 5 ELSE 6 END = s",
    ]
    select = "SELECT id, " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(exprs))
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT, s2 TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expected = con.execute(select + " FROM t ORDER BY id").fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s,s2\n" + "\n".join(
            ",".join(map(str, r)) for r in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = eng.query(select + " FROM t ORDER BY id").collect()
    finally:
        eng.close()
    for rx, (grow, xrow) in enumerate(zip(got, expected)):
        for i, e in enumerate(["id"] + exprs):
            assert _norm(grow[i]) == _norm(xrow[i]), (rows[rx], e,
                                                      grow[i], xrow[i])


def test_scalar_subquery_operand_affinity_matches_sqlite(spark, tmp_path):
    """Scalar-subquery comparison operands (r14): `(SELECT m …)` carries
    m's affinity (expr.c TK_SELECT — the first result column decides),
    so a TEXT x converts per row against it; `(SELECT max(m) …)` and
    `(SELECT m + 0 …)` carry NO affinity, so the TEXT column side wins
    and the value renders as SQLite text."""
    t1 = [(1, 7, "07"), (2, 8, "8"), (3, 2, "abc")]
    t2 = [(1, 7, "07"), (2, 99, "zz")]  # 'zz' keeps y TEXT-inferred
    queries = [
        "SELECT id, s = (SELECT m FROM t2 WHERE id2 = 1) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, s = (SELECT max(m) FROM t2 WHERE id2 = 1) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, s = (SELECT m + 0 FROM t2 WHERE id2 = 1) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, n = (SELECT y FROM t2 WHERE id2 = 1) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, n + 0 = (SELECT y FROM t2 WHERE id2 = 1) AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, (SELECT y FROM t2 WHERE id2 = 1) = n AS h "
        "FROM t1 ORDER BY id",
        "SELECT id, s = (SELECT m FROM t2 WHERE id2 = 99) AS h "
        "FROM t1 ORDER BY id",  # empty result: NULL through the guard
        "SELECT id FROM t1 WHERE s = (SELECT m FROM t2 WHERE id2 = 1) "
        "ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t1 (id INTEGER, n INTEGER, s TEXT)")
    con.execute("CREATE TABLE t2 (id2 INTEGER, m INTEGER, y TEXT)")
    con.executemany("INSERT INTO t1 VALUES (?,?,?)", t1)
    con.executemany("INSERT INTO t2 VALUES (?,?,?)", t2)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t1.csv").write_text(
        "id,n,s\n" + "\n".join(",".join(map(str, r)) for r in t1) + "\n")
    (tmp_path / "t2.csv").write_text(
        "id2,m,y\n" + "\n".join(",".join(map(str, r)) for r in t2) + "\n")
    eng = fs.open(str(tmp_path), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_quote_real_rendering_matches_sqlite(spark, tmp_path):
    """quote() of a provably-REAL input (r14): %!.15g when it
    round-trips ('9.0', '1.5', '1.0e+20'), else SQLite's 20-digit
    scientific fallback — truncated exact expansion, which matches the
    stdlib printer on the pinned values (the tail digits vary across
    SQLite's own printer generations; the first ~17 match all)."""
    rows = [(1, 1.0 / 3.0), (2, 9.0), (3, 1.5), (4, 1e20), (5, -0.5)]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, r REAL)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    q = "SELECT id, quote(r) AS a, quote(r/3) AS b FROM t ORDER BY id"
    expected = con.execute(q).fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,r\n" + "\n".join(f"{i},{repr(r)}" for i, r in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(q).collect()]
    finally:
        eng.close()
    for grow, xrow in zip(got, expected):
        assert grow[0] == xrow[0] and grow[1] == xrow[1], (grow, xrow)
        if grow[0] == 4:
            # 1e20/3: the stdlib legacy printer emits FP-noise tail
            # digits (…19686) where the exact expansion ends …19680 —
            # assert the 17 matching significant digits only
            assert grow[2][:18] == xrow[2][:18], (grow, xrow)
        else:
            assert grow[2] == xrow[2], (grow, xrow)
    assert len(got) == len(expected)


def test_between_compound_operands_match_sqlite(spark, tmp_path):
    """BETWEEN with compound operands (r14): `n + 1 BETWEEN '1' AND s`
    previously mis-captured x as the last primary and spliced the
    expansion mid-expression (silent corruption); the chain walker now
    captures the full operand and the expansion hands each comparison
    to the affinity pass. Rank-family window functions also ignore
    their frame clause like SQLite (Spark rejects explicit frames on
    row_number)."""
    rows = [(1, 7, "07"), (2, 3, "2"), (3, 0, "abc"), (4, -1, "5.5"),
            (5, 2, "4")]
    queries = [
        "SELECT id, n + 1 BETWEEN '1' AND s AS h FROM t ORDER BY id",
        "SELECT id, abs(n) BETWEEN '1' AND '5.5' AS h FROM t ORDER BY id",
        "SELECT id, s BETWEEN 1 AND abs(n) AS h FROM t ORDER BY id",
        "SELECT id, n + 1 NOT BETWEEN '1' AND s AS h FROM t ORDER BY id",
        "SELECT id, s BETWEEN n - 1 AND n + 1 AS h FROM t ORDER BY id",
        "SELECT id, row_number() OVER (ORDER BY id ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS h FROM t ORDER BY id",
        "SELECT id, sum(n) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING "
        "AND CURRENT ROW) AS h FROM t ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s\n" + "\n".join(",".join(map(str, r)) for r in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_is_operator_affinity_matches_sqlite(spark, tmp_path):
    """`x IS y` / `x IS NOT y` with a general operand (r14): null-safe
    equality under comparison affinity, exactly like `=` plus
    NULL-equality (pinned: `s IS 7` matches '7', `n IS '7'` matches 7,
    junk literal IS numeric column is constant false). Spark only
    parses IS [NOT] NULL/TRUE/FALSE/DISTINCT FROM natively."""
    rows = [(1, 7, "7"), (2, 2, "abc"), (3, 8, "07"), (4, 0, "0")]
    queries = [
        "SELECT id, s IS 7 AS a FROM t ORDER BY id",
        "SELECT id, s IS NOT 7 AS a FROM t ORDER BY id",
        "SELECT id, n IS '7' AS a FROM t ORDER BY id",
        "SELECT id, s IS n AS a FROM t ORDER BY id",
        "SELECT id, n IS s AS a FROM t ORDER BY id",
        "SELECT id, n IS 7 AS a FROM t ORDER BY id",
        "SELECT id, s IS '7' AS a FROM t ORDER BY id",
        "SELECT id, n IS NULL AS a FROM t ORDER BY id",
        "SELECT id, n IS NOT NULL AS a FROM t ORDER BY id",
        "SELECT id, n + 1 IS s AS a FROM t ORDER BY id",
        "SELECT id, n IS 'xyz' AS a FROM t ORDER BY id",
        "SELECT id FROM t WHERE s IS 7 ORDER BY id",
        "SELECT id FROM t WHERE s IS NOT 7 ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    con.execute("INSERT INTO t VALUES (5, NULL, NULL)")
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "s"])
        for r in rows:
            w.writerow(r)
        w.writerow([5, "", ""])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_concat_operand_comparison_affinity_matches_sqlite(spark, tmp_path):
    """`||` chains as comparison operands (r14): the concat result is a
    TEXT value with NO affinity, so vs a numeric column it converts per
    row (s1 || s2 = n matches when the glued digits equal n), vs a
    numeric literal it is a type-order constant, and IS follows the
    same rules null-safely."""
    rows = [(1, 78, "7", "8"), (2, 2, "a", "bc"), (3, 0, "0", "x")]
    queries = [
        "SELECT id, s || s2 = n AS a FROM t ORDER BY id",
        "SELECT id, n = s || s2 AS a FROM t ORDER BY id",
        "SELECT id, s || s2 = '78' AS a FROM t ORDER BY id",
        "SELECT id, s || '' = 7 AS a FROM t ORDER BY id",
        "SELECT id, s || s2 IS n AS a FROM t ORDER BY id",
        "SELECT id FROM t WHERE s || s2 = n ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, s TEXT, s2 TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,n,s,s2\n" + "\n".join(
            ",".join(map(str, r)) for r in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert got == [tuple(x) for x in exp], (q, got, exp)
    finally:
        eng.close()


def test_cast_numeric_affinity_matches_sqlite(spark, tmp_path):
    """CAST(x AS NUMERIC) (r14): SQLite numeric affinity — text prefix-
    parses exactly like REAL ('abc' → 0, '1e2' → 100, '7.5x' → 7.5;
    was an ANSI decimal crash). Values exact; SQLite types integral
    results INTEGER where the static schema stays DOUBLE (documented,
    same class as sum()'s decision note)."""
    rows = [(1, "7.5"), (2, "7.0"), (3, "abc"), (4, "1e2"),
            (5, "7.5x"), (6, ".5"), (7, "42")]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    q = "SELECT id, CAST(s AS NUMERIC) AS v FROM t ORDER BY id"
    expected = con.execute(q).fetchall()
    con.close()
    (tmp_path / "t.csv").write_text(
        "id,s\n" + "\n".join(f"{i},{s}" for i, s in rows) + "\n")
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(q).collect()]
    finally:
        eng.close()
    assert [(i, float(v)) for i, v in got] == \
        [(i, float(v)) for i, v in expected]


def test_scalar_minmax_mixed_classes_match_sqlite(spark, tmp_path):
    """Scalar min()/max() over statically-MIXED numeric/text args (r14):
    SQLite compares by storage class — every numeric sorts below every
    text — so min picks among the numeric args and max among the text
    args; NULL anywhere still yields NULL. Closes the TEXT-args residue
    for the engine's single-typed columns."""
    rows = [(1, 7, 1.5, "abc"), (2, 2, 9.5, "1"), (3, 9, 0.5, "zz")]
    queries = [
        "SELECT id, min(n, s) AS a, max(n, s) AS b FROM t ORDER BY id",
        "SELECT id, min(n, r, s) AS a, max(n, r, s) AS b "
        "FROM t ORDER BY id",
        "SELECT id, min(s, 'm') AS a, max(s, 'm') AS b FROM t ORDER BY id",
        "SELECT id, min(n, r) AS a, max(n, r) AS b FROM t ORDER BY id",
        "SELECT id, min(s, 5) AS a FROM t ORDER BY id",
        "SELECT id, max('5', n) AS a FROM t ORDER BY id",
        "SELECT id, min(n+1, s) AS a FROM t ORDER BY id",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    con.execute("INSERT INTO t VALUES (4, NULL, 1.0, 'x')")
    expected = [con.execute(q).fetchall() for q in queries]
    con.close()
    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "r", "s"])
        for r in rows:
            w.writerow(r)
        w.writerow([4, "", 1.0, "x"])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)

    def nm(rws):
        return [
            tuple(
                float(v) if isinstance(v, (int, float))
                and not isinstance(v, bool) else v for v in r0
            )
            for r0 in rws
        ]
    try:
        for q, exp in zip(queries, expected):
            got = [tuple(r) for r in eng.query(q).collect()]
            assert nm(got) == nm(exp), (q, got, exp)
    finally:
        eng.close()
