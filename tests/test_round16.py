"""Round-16 regression pins: the r15 ADVICE items (trailing-COLLATE
operand-continuation regression, NOT stop-words for ORDER BY
modifiers, bool-operand triggers for the range-affinity gate) plus
the collate-inert truthiness trim — differential vs stdlib sqlite3
through the engine front door where SQLite semantics apply."""

from __future__ import annotations

import os
import sqlite3
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import filesql_spark as fs  # noqa: E402


def _diff(spark, tmp_path, stmt, rows, ddl, header, name="t"):
    con = sqlite3.connect(":memory:")
    con.execute(ddl)
    ph = ",".join("?" * len(rows[0]))
    con.executemany(f"INSERT INTO {name} VALUES ({ph})", rows)
    expected = con.execute(stmt).fetchall()
    con.close()
    csv = header + "\n" + "\n".join(
        ",".join("" if v is None else str(v) for v in r) for r in rows
    )
    (tmp_path / f"{name}.csv").write_text(csv + "\n")
    eng = fs.open(str(tmp_path / f"{name}.csv"), spark=spark)
    try:
        got = [tuple(r) for r in eng.query(stmt).collect()]
    finally:
        eng.close()
    assert got == expected, (stmt, got, expected)


# ------- r15 advice (medium): COLLATE followed by a tighter operator
# must NOT be consumed by the comparison-affinity site — COLLATE binds
# tighter than || and arithmetic (`s = n COLLATE NOCASE || 'y'` is
# `s = ((n COLLATE NOCASE) || 'y')`). The site now declines (native
# path: loud analysis error on a numeric operand, never the silently
# spliced compare of the regression).

def test_collate_continuation_declines_to_native():
    from filesql_spark.dialect import rewrite

    ct = {"s": "text", "n": "int"}
    for op in ("|| 'y'", "+ 1", "* 2", "- 3", "% 2", "& 1", "<< 1"):
        out = rewrite(f"SELECT s = n COLLATE NOCASE {op} AS r FROM t", ct)
        # the spliced rowwise compare must not appear with the
        # operator glued onto its boolean result
        assert "TRY_CAST((s) AS DOUBLE)" not in out, (op, out)


def test_collate_trailing_still_consumed_when_operand_ends(
    spark, tmp_path
):
    # no continuation: the r15 consume path stays (numeric compare,
    # collation inert)
    rows = [(1, "5y", 5), (2, "5", 5)]
    _diff(
        spark, tmp_path,
        "SELECT id, s = n COLLATE NOCASE AS r FROM t ORDER BY id",
        rows, "CREATE TABLE t (id INTEGER, s TEXT, n INTEGER)", "id,s,n",
    )


# ------- r15 advice (low): ORDER BY modifiers end the bare-NOT operand

@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t ORDER BY NOT s DESC, id",
    "SELECT id FROM t ORDER BY NOT s ASC, id",
    "SELECT id FROM t ORDER BY NOT s NULLS LAST, id",
    "SELECT id FROM t ORDER BY NOT s COLLATE NOCASE, id",
])
def test_not_operand_stops_at_order_modifiers(spark, tmp_path, stmt):
    rows = [(1, "5y"), (2, "abc"), (3, "3"), (4, "0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT)", "id,s")


# ------- collate-inert truthiness: COLLATE on a truthiness operand is
# trimmed (it never changes the value and breaks the prefix-parse's
# typeof() guard — Spark's typeof of a collated string is not 'string')

@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t WHERE s COLLATE NOCASE ORDER BY id",
    "SELECT id FROM t WHERE NOT s COLLATE NOCASE ORDER BY id",
    "SELECT id, CASE WHEN s COLLATE NOCASE THEN 1 ELSE 0 END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN s COLLATE NOCASE AND id THEN 1 ELSE 0 END AS c "
    "FROM t ORDER BY id",
])
def test_truthiness_trims_inert_collate(spark, tmp_path, stmt):
    rows = [(1, "5y"), (2, "abc"), (3, "3"), (4, "0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT)", "id,s")


# ------- r15 advice (low): bool operands reach the range-affinity pass
# even with no TEXT column / quote in the SQL (the compare-pass gate's
# r15 triggers; the fused comparison pass has no such gate now)

# ------- VERDICT r15 #4: EXISTS glued into arithmetic/bitwise/concat
# chains evaluates to INTEGER 0/1 (coerced via TRY_CAST AS INT before
# the truthiness/affinity passes)

@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t WHERE 1 + EXISTS(SELECT 1) = s ORDER BY id",
    "SELECT id FROM t WHERE s = 1 + EXISTS(SELECT 1) ORDER BY id",
    "SELECT id, 1 + EXISTS(SELECT 1) * n AS v FROM t ORDER BY id",
    "SELECT id FROM t WHERE n - EXISTS(SELECT 1 WHERE 0) = 2 "
    "ORDER BY id",
    "SELECT id FROM t WHERE EXISTS(SELECT 1) + 1 = n ORDER BY id",
    "SELECT id, EXISTS(SELECT 1) || 'x' AS v FROM t ORDER BY id",
    "SELECT id, -EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, ~EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, EXISTS(SELECT 1) << 2 AS v FROM t ORDER BY id",
    "SELECT id FROM t WHERE 1 + EXISTS(SELECT 1) ORDER BY id",
    "SELECT id FROM t WHERE n = EXISTS(SELECT 1) + EXISTS(SELECT 2) "
    "ORDER BY id",
    # predicate-position EXISTS stays native boolean
    "SELECT id FROM t WHERE EXISTS(SELECT 1) ORDER BY id",
    "SELECT id FROM t WHERE NOT EXISTS(SELECT 1) ORDER BY id",
])
def test_exists_in_arithmetic_chain(spark, tmp_path, stmt):
    rows = [(1, "2", 5), (2, "abc", 0), (3, "2x", 2), (4, "0", 1)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT, n INTEGER)", "id,s,n")


# ------- VERDICT r15 #5: value-context NOT inside function arguments
# yields SQLite's 0/1/NULL INTEGER (TRY_CAST of the boolean wrap)

@pytest.mark.parametrize("stmt", [
    "SELECT id, abs(NOT s) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT n) AS v FROM t ORDER BY id",
    "SELECT id, max(NOT s, 0) AS v FROM t ORDER BY id",
    "SELECT id, min(5, NOT s) AS v FROM t ORDER BY id",
    "SELECT id, coalesce(NOT s, 9) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT s = 1) AS v FROM t ORDER BY id",
    "SELECT id, iif(NOT s, 'a', 'b') AS v FROM t ORDER BY id",
    "SELECT id, length(NOT s) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT s COLLATE NOCASE) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT s + 1) AS v FROM t ORDER BY id",
    "SELECT id, nullif(NOT s, 0) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT NOT s) AS v FROM t ORDER BY id",
    "SELECT id, abs(NOT NULL) AS v FROM t ORDER BY id",
    "SELECT id, coalesce(NOT NULL, 3) AS v FROM t ORDER BY id",
    "SELECT id FROM t WHERE abs(NOT s) = 1 ORDER BY id",
    "SELECT id, iif(n, NOT s, 7) AS v FROM t ORDER BY id",
])
def test_not_in_function_arguments(spark, tmp_path, stmt):
    rows = [(1, "2", 5), (2, "abc", 0), (3, "2x", 2), (4, "0", 1)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT, n INTEGER)", "id,s,n")


# ------- SQLite postfix null tests: expr NOTNULL / ISNULL / NOT NULL

@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t WHERE s NOTNULL ORDER BY id",
    "SELECT id FROM t WHERE s ISNULL ORDER BY id",
    "SELECT id FROM t WHERE s NOT NULL ORDER BY id",
    "SELECT id FROM t WHERE (s) NOT NULL ORDER BY id",
    "SELECT id FROM t WHERE s IS NOT NULL ORDER BY id",
    "SELECT id FROM t WHERE s NOTNULL AND id NOT NULL ORDER BY id",
    "SELECT id, CASE WHEN s NOT NULL THEN 1 ELSE 0 END AS c "
    "FROM t ORDER BY id",
    "SELECT id FROM t WHERE coalesce(s, '1') NOT NULL ORDER BY id",
    # prefix NOT over the NULL literal is NOT the postfix test
    "SELECT id FROM t WHERE NOT NULL ORDER BY id",
])
def test_postfix_null_tests(spark, tmp_path, stmt):
    rows = [(1, "2"), (2, None), (3, "0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT)", "id,s")


@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t WHERE true IN (n, 2) ORDER BY id",
    "SELECT id FROM t WHERE false IN (n, 2) ORDER BY id",
    "SELECT id FROM t WHERE (n = 1) IN (0, 2) ORDER BY id",
    "SELECT id FROM t WHERE (n > 1) IN (1, 2) ORDER BY id",
    "SELECT id FROM t WHERE (n = 1) NOT IN (0, 2) ORDER BY id",
    "SELECT id FROM t WHERE (n = 1) IN (0, NULL) ORDER BY id",
    "SELECT id FROM t WHERE EXISTS(SELECT 1) IN (n, 9) ORDER BY id",
    "SELECT id FROM t WHERE true BETWEEN n AND 2 ORDER BY id",
    "SELECT id FROM t WHERE n BETWEEN false AND true ORDER BY id",
    "SELECT id FROM t WHERE (n > 1) BETWEEN 0 AND 0 ORDER BY id",
    "SELECT id FROM t WHERE EXISTS(SELECT 1) BETWEEN n AND 2 "
    "ORDER BY id",
])
def test_bool_operand_range_affinity(spark, tmp_path, stmt):
    rows = [(1, 5), (2, 0), (3, 2), (4, 1)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n")


# ------- VERDICT r15 #6: repeated dup-span calls must not accumulate
# pinned executor storage (LRU-of-1 swap in _swap_persist)

def test_dup_spans_no_storage_growth(spark):
    from filesql_spark.pipeline.text import dup_spans
    from filesql_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # count only RDDs persisted after this point: other tests' RDDs
    # (engine snapshots) can be released between the calls below
    before = persisted_ids()

    def n_persisted():
        return len(persisted_ids() - before)

    counts = []
    for _ in range(3):
        dup_spans(docs, bloom_n="auto").count()
        counts.append(n_persisted())
    # level, not growing: each call swapped out the previous set
    assert counts[0] == counts[1] == counts[2], counts


# ------- r16 campaign find (silent wrong values, pre-existing since
# r11): SQLite binds || ABOVE arithmetic/bitwise; Spark binds it below.
# _rewrite_concat_grouping parenthesizes ||-runs adjacent to those
# operators; the widened value-dependent pass then coerces the
# TEXT-valued result (concat chains, text-returning function calls)
# with the numeric-prefix parse.

@pytest.mark.parametrize("stmt", [
    "SELECT id, 1 + n || s AS v FROM t ORDER BY id",
    "SELECT id, 2 * n || s AS v FROM t ORDER BY id",
    "SELECT id, n || s + 1 AS v FROM t ORDER BY id",
    "SELECT id, 1 + n || s + 1 AS v FROM t ORDER BY id",
    "SELECT id, n - s || 'x' AS v FROM t ORDER BY id",
    "SELECT id, -n || s AS v FROM t ORDER BY id",
    "SELECT id, ~n || s AS v FROM t ORDER BY id",
    "SELECT id, 1 + ~n || s AS v FROM t ORDER BY id",
    "SELECT id, n & 1 || s AS v FROM t ORDER BY id",
    "SELECT id FROM t WHERE n || s = '107x' ORDER BY id",
    "SELECT id, 'x' || s || 'y' AS v FROM t ORDER BY id",
])
def test_concat_binds_above_arithmetic(spark, tmp_path, stmt):
    rows = [(1, 7, "7"), (2, 10, "7x"), (3, 0, "abc")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


@pytest.mark.parametrize("stmt", [
    "SELECT id, upper(s) * 2 AS v FROM t ORDER BY id",
    "SELECT id, trim(s) - 1 AS v FROM t ORDER BY id",
    "SELECT id, hex(n) + 1 AS v FROM t ORDER BY id",
    "SELECT id, 1 + (n || s) AS v FROM t ORDER BY id",
    "SELECT id, (s || 'x') + 1 AS v FROM t ORDER BY id",
    "SELECT id, length(s || 'x') + 1 AS v FROM t ORDER BY id",
    "SELECT id, trim(s) - EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, upper(s) * EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, 'abc' - EXISTS(SELECT 1) AS v FROM t ORDER BY id",
])
def test_text_valued_operands_in_arithmetic(spark, tmp_path, stmt):
    rows = [(1, 7, "7"), (2, 10, "7x"), (3, 0, "abc")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


def test_shift_count_owns_division_chain(spark, tmp_path):
    # `/` binds tighter than `<<` in both engines, but the division
    # pass's ` DIV ` emission used to stop the bitwise pass's count
    # walk, regrouping `1 << n / 2` as `(1 << n) / 2`
    rows = [(1, 7), (2, 10), (3, 2)]
    _diff(spark, tmp_path,
          "SELECT id, 1 << n / 2 AS v FROM t ORDER BY id",
          rows, "CREATE TABLE t (id INTEGER, n INTEGER)", "id,n")


# ------- r16 closing: the campaign grammar, committed (pinned seeds) —
# EXISTS in chains, NOT in function args, postfix null tests,
# bool-operand IN/BETWEEN, || precedence over the operand grammar

def _gen_r16_expr(rng):
    from tests.test_fuzz_dialect import _gen_cmp_operand

    op = lambda: _gen_cmp_operand(rng)
    ar = lambda: rng.choice(["+", "-", "*", "%", "&", "|", "<<", ">>",
                             "||"])
    ex = lambda: f"EXISTS (SELECT 1 FROM t WHERE n > {rng.randint(-5, 200)})"
    k = rng.randrange(9)
    if k == 0:
        return f"{op()} {ar()} {ex()}"
    if k == 1:
        return f"{ex()} {ar()} {op()}"
    if k == 2:
        return f"{op()} {rng.choice(['=', '<', '>=', '!='])} {op()} {ar()} {ex()}"
    if k == 3:
        f_ = rng.choice(["abs", "length", "coalesce2", "max2", "iif3"])
        inner = f"NOT {op()}"
        if f_ == "coalesce2":
            return f"coalesce({inner}, {rng.randint(-3, 9)})"
        if f_ == "max2":
            return f"max({inner}, {op()})"
        if f_ == "iif3":
            return f"iif({inner}, {rng.randint(0, 9)}, {rng.randint(10, 19)})"
        return f"{f_}({inner})"
    if k == 4:
        t_ = rng.choice(["NOTNULL", "ISNULL", "NOT NULL"])
        return f"{op()} {t_}"
    if k == 5:
        t_ = rng.choice(["NOTNULL", "ISNULL", "NOT NULL"])
        return f"CASE WHEN {op()} {t_} THEN 1 ELSE 0 END"
    if k == 6:
        x = rng.choice(["true", "false", f"({op()} = {op()})", ex()])
        return f"{x} IN ({op()}, {op()})"
    if k == 7:
        x = rng.choice(["true", "false", f"({op()} = {op()})", ex()])
        return f"{x} BETWEEN {op()} AND {op()}"
    return f"{op()} {ar()} {op()} || {op()}"


@pytest.mark.parametrize("seed", [1616, 2718])
def test_r16_grammar_differential(spark, tmp_path, seed):
    import random

    from tests.test_fuzz_dialect import _norm

    rng = random.Random(seed)
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (5, None, None, None),
            (6, -3, 70.0, " 7 "), (7, 8, 8.25, "8.25"),
            (8, 100, 1e2, "1e2"), (9, 2, -0.5, "0"), (10, 63, 64.0, "64")]

    def sqlite_ok(e):
        con = sqlite3.connect(":memory:")
        con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
        try:
            con.execute(f"SELECT {e} FROM t")
            return True
        except sqlite3.OperationalError:
            return False
        finally:
            con.close()

    exprs = []
    while len(exprs) < 25:
        e = _gen_r16_expr(rng)
        if sqlite_ok(e):
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


# ------- r16: clean-numeric STRING literals glued to arithmetic
# unquote to their numeric form (SQLite coerces '1e2' - 1 to 99.0;
# Spark strict-casts the string and crashes); comparison/concat
# adjacency stays quoted (different semantics)

@pytest.mark.parametrize("stmt", [
    "SELECT id, '1e2' - 1 AS v FROM t ORDER BY id",
    "SELECT id, '1e2' % 1 AS v FROM t ORDER BY id",
    "SELECT id, '7.5' % 2 AS v FROM t ORDER BY id",
    "SELECT id, 7 % '2e1' AS v FROM t ORDER BY id",
    "SELECT id, NOT '1e2' - EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, '' + EXISTS(SELECT 1 WHERE 0) AS v FROM t ORDER BY id",
    "SELECT id, '5' * n AS v FROM t ORDER BY id",
    "SELECT id, n + '2.5' AS v FROM t ORDER BY id",
    "SELECT id, '3' & n AS v FROM t ORDER BY id",
    "SELECT id, '-7' + 1 AS v FROM t ORDER BY id",
    "SELECT id, -'1e2' + n AS v FROM t ORDER BY id",
    # quoting preserved where it matters
    "SELECT id FROM t WHERE s = '7' ORDER BY id",
    "SELECT id FROM t WHERE s = '1e2' ORDER BY id",
    "SELECT id, '1' || '2' AS v FROM t ORDER BY id",
    "SELECT id, '2' < n AS v FROM t ORDER BY id",
    "SELECT id, '1' + '2' AS v FROM t ORDER BY id",
])
def test_numeric_string_literals_in_arithmetic(spark, tmp_path, stmt):
    rows = [(1, 7, "7"), (2, 10, "7x"), (3, 0, "abc")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


# ------- r16: unary sign over a TEXT operand glued to arithmetic
# (was an out-of-scope bail; `+` is identity, `-` is 0 - coerce(x))

@pytest.mark.parametrize("stmt", [
    "SELECT id, +s * EXISTS(SELECT 1) AS v FROM t ORDER BY id",
    "SELECT id, -s * 2 AS v FROM t ORDER BY id",
    "SELECT id, +s + 1 AS v FROM t ORDER BY id",
    "SELECT id, -s - 1 AS v FROM t ORDER BY id",
    "SELECT id, -s % 3 AS v FROM t ORDER BY id",
    "SELECT id FROM t WHERE n + 4 - 4 != +s * EXISTS(SELECT 1 WHERE 1) "
    "ORDER BY id",
])
def test_unary_sign_text_operand_glued(spark, tmp_path, stmt):
    rows = [(1, 7, "7"), (2, 10, "7x"), (3, 0, "abc")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


# ------- r16 campaign 2 closures: unary +/- interplay with coercion

@pytest.mark.parametrize("stmt", [
    # unary + is a SQLite no-op: the STRING survives downstream
    # coercion (Spark's unary + numerically coerces — stripped)
    "SELECT id, +'1e2' | n AS v FROM t ORDER BY id",
    "SELECT id, +'2e1' % 3 AS v FROM t ORDER BY id",
    "SELECT id, +'7x' + 1 AS v FROM t ORDER BY id",
    "SELECT id, +n | 0 AS v FROM t ORDER BY id",
    # unary - REAL-coerces a string before any int context
    "SELECT id, -'1e2' % (r) AS v FROM t ORDER BY id",
    "SELECT id, -'2e1' & 3 AS v FROM t ORDER BY id",
    "SELECT id, -'2e1' >> 1 AS v FROM t ORDER BY id",
    # || keeps string literals VERBATIM ('2e1' stays '2e1')
    "SELECT id, '2e1' || 'x' AS v FROM t ORDER BY id",
    "SELECT id, '2e1' || n AS v FROM t ORDER BY id",
    "SELECT id, r || '2e1' AS v FROM t ORDER BY id",
    "SELECT id, '1e2' || n + 5 - 1 * n + 2 - 1 AS v FROM t ORDER BY id",
    "SELECT id, n - '2e1' || s AS v FROM t ORDER BY id",
    "SELECT id, '2e1' || (n) & CAST(s AS REAL) AS v FROM t ORDER BY id",
    # unquoted real literals still render SQLite-style under ||
    "SELECT id, 1e2 || n AS v FROM t ORDER BY id",
    # unary-repl emissions chain through / % * and as right operands
    "SELECT id, +s * n / 2 AS v FROM t ORDER BY id",
    "SELECT id, -s % r / 2 AS v FROM t ORDER BY id",
    "SELECT id, -s % 8 * r AS v FROM t ORDER BY id",
    "SELECT id, -s % 3 / 2 AS v FROM t ORDER BY id",
    "SELECT id, -s / 25 AS v FROM t ORDER BY id",
    "SELECT id, s - -s AS v FROM t ORDER BY id",
    "SELECT id, n / -s AS v FROM t ORDER BY id",
    "SELECT id, n % -s AS v FROM t ORDER BY id",
    "SELECT id, -s + -s AS v FROM t ORDER BY id",
    "SELECT id, n - -s * 2 AS v FROM t ORDER BY id",
    "SELECT id, 10 / -s AS v FROM t ORDER BY id",
])
def test_unary_sign_coercion_interplay(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 10, 2.0, "7x"), (3, 0, 0.5, "abc"),
            (8, 100, 100.0, "1e2")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


# ------- r16 campaign 3 closures: comparison-context classification

@pytest.mark.parametrize("stmt", [
    # a binary-arithmetic chain's VALUE is numeric regardless of text
    # elements (SQLite coerces every operand): no-affinity text vs the
    # chain storage-compares (type order), never converts
    "SELECT id FROM t WHERE '0' BETWEEN +n + upper(s) "
    "AND +n * CAST(r AS INTEGER) ORDER BY id",
    "SELECT id FROM t WHERE CAST(s AS INTEGER) || '0' <= "
    "r + 2 || '1e2' ORDER BY id",
    "SELECT id FROM t WHERE n + upper(s) = 14 ORDER BY id",
    # unary minus numeric-coerces: -s is a NUMBER in comparisons
    "SELECT id FROM t WHERE -s = -7 ORDER BY id",
    "SELECT id FROM t WHERE -s IN ('7x' & trim(s), +n) ORDER BY id",
    "SELECT id FROM t WHERE -'' BETWEEN +r AND '7.5' ORDER BY id",
    "SELECT id FROM t WHERE +s * '07' >= '+5' ORDER BY id",
    # + before a string literal is identity in every context
    "SELECT id FROM t WHERE '2e1' IN (+'2e1', '7.5') ORDER BY id",
    "SELECT id FROM t WHERE s = +'7' ORDER BY id",
    # keyword-preceded unary minus binds INTO a concat operand
    "SELECT id FROM t WHERE -n || '' IN (+n + coalesce(n, 0), "
    "'1e2' || '1e2') ORDER BY id",
    "SELECT id FROM t WHERE -r || '1e2' BETWEEN '-3' * abs(n) "
    "AND '7x' ORDER BY id",
    # signed-content unquote parenthesizes (never `--3` = a comment,
    # never positional ORDER BY 0)
    "SELECT id FROM t ORDER BY -'0', id",
    "SELECT id FROM t ORDER BY -'-3', id",
    "SELECT id, -'-3' - r AS v FROM t ORDER BY id",
    # int-typed literals unquote into bitwise/% (prefix == value)
    "SELECT id, '0' & '+5' | '-3' AS v FROM t ORDER BY id",
    "SELECT id, ~'5' AS v FROM t ORDER BY id",
    "SELECT id, '5' << 1 AS v FROM t ORDER BY id",
    "SELECT id, r % '5' AS v FROM t ORDER BY id",
    # bitwise chains type INTEGER for the coercion passes
    "SELECT id, s * (n & 1) AS v FROM t ORDER BY id",
    # affinity-stripping + on columns still modeled
    "SELECT id FROM t WHERE +s >= 6 ORDER BY id",
])
def test_comparison_context_classification(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (9, 2, -0.5, "0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


# ------- r16 closing: the comparison-context campaign grammar,
# committed with pinned seeds (signed/string-literal operands in
# WHERE comparisons incl. IS/IS NOT, IN lists, BETWEEN bounds, and
# ORDER BY keys)

_R16C3_STRLITS = ["'1e2'", "'7.5'", "'-3'", "'0'", "'2e1'", "'7x'",
                  "''", "'+5'"]


def _gen_r16c3_operand(rng):
    from tests.test_fuzz_dialect import _gen_cmp_operand

    k = rng.randrange(6)
    if k == 0:
        return rng.choice(_R16C3_STRLITS)
    if k == 1:
        return (rng.choice(["+", "-"])
                + rng.choice(["s", "n", "r"] + _R16C3_STRLITS))
    if k == 2:
        return (f"{rng.choice(_R16C3_STRLITS)} "
                f"{rng.choice(['+', '-', '*', '%', '&', '<<'])} "
                f"{_gen_cmp_operand(rng)}")
    if k == 3:
        return f"{_gen_cmp_operand(rng)} || {rng.choice(_R16C3_STRLITS)}"
    if k == 4:
        return (f"+{rng.choice(['s', 'n'])} {rng.choice(['*', '+'])} "
                f"{_gen_cmp_operand(rng)}")
    return _gen_cmp_operand(rng)


def _gen_r16c3_query(rng):
    a, b = _gen_r16c3_operand(rng), _gen_r16c3_operand(rng)
    k = rng.randrange(5)
    if k == 0:
        op2 = rng.choice(["=", "<", ">=", "!=", "<=", "IS", "IS NOT"])
        return f"SELECT id FROM t WHERE {a} {op2} {b} ORDER BY id"
    if k == 1:
        return f"SELECT id FROM t WHERE {a} ORDER BY id"
    if k == 2:
        return (f"SELECT id FROM t WHERE {a} BETWEEN {b} AND "
                f"{_gen_r16c3_operand(rng)} ORDER BY id")
    if k == 3:
        return (f"SELECT id FROM t WHERE {a} IN ({b}, "
                f"{_gen_r16c3_operand(rng)}) ORDER BY id")
    return f"SELECT id FROM t ORDER BY {a}, id"


@pytest.mark.parametrize("seed", [7007, 7707])
def test_r16_comparison_grammar_differential(spark, tmp_path, seed):
    import random

    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (5, None, None, None),
            (6, -3, 70.0, " 7 "), (7, 8, 8.25, "8.25"),
            (8, 100, 1e2, "1e2"), (9, 2, -0.5, "0"), (10, 63, 64.0, "64")]

    def sqlite_eval(q):
        con = sqlite3.connect(":memory:")
        con.execute(
            "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
        con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
        try:
            return con.execute(q).fetchall()
        finally:
            con.close()

    import csv as _csv
    with open(tmp_path / "t.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["id", "n", "r", "s"])
        for i, n, r, s in rows:
            w.writerow([i, "" if n is None else n, "" if r is None else r,
                        "\x01null" if s is None else s])
    eng = fs.open(str(tmp_path / "t.csv"), spark=spark)
    rng = random.Random(seed)
    checked = 0
    try:
        eng.execute("UPDATE t SET s = NULL WHERE id = 5")
        eng.execute("UPDATE t SET s = ' 7 ' WHERE id = 6")
        while checked < 25:
            q = _gen_r16c3_query(rng)
            try:
                exp = sqlite_eval(q)
            except sqlite3.OperationalError:
                continue
            try:
                got = [tuple(r) for r in eng.query(q).collect()]
            except Exception:
                continue  # loud residue classes stay loud — only
                # SILENT divergence fails this tier
            checked += 1
            assert got == exp, (seed, q, got, exp)
    finally:
        eng.close()


# ------- r16 campaign 4: mixed-arm CASE comparison operands
# distribute into per-arm sites (each re-processed under its own
# affinity; column/CAST arms affinity-stripped via unary + exactly as
# SQLite's no-affinity CASE value)

@pytest.mark.parametrize("stmt", [
    "SELECT id FROM t WHERE (n & 1) < CASE WHEN n > 23 THEN '0' "
    "ELSE abs(n) END ORDER BY id",
    "SELECT id, CASE WHEN '7x' * r | n > CASE WHEN n > 20 THEN '1e2' "
    "ELSE 2.8 + n END THEN 1 ELSE 0 END AS c FROM t ORDER BY id",
    "SELECT id FROM t WHERE CASE WHEN n > 23 THEN '0' ELSE abs(n) END "
    "= n ORDER BY id",
    "SELECT id FROM t WHERE CASE WHEN n > 23 THEN '0' WHEN n > 5 "
    "THEN s ELSE abs(n) END >= 7 ORDER BY id",
    "SELECT id FROM t WHERE CASE WHEN n > 23 THEN '0' END = 0 "
    "ORDER BY id",
    "SELECT id FROM t WHERE CASE WHEN n > 5 THEN CAST(s AS INTEGER) "
    "ELSE '9' END >= 7 ORDER BY id",
    "SELECT id FROM t WHERE s = CASE WHEN n > 5 THEN 7 ELSE '0' END "
    "ORDER BY id",
])
def test_mixed_arm_case_comparison(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (6, -3, 70.0, " 7 "),
            (7, 8, 8.25, "8.25"), (8, 100, 1e2, "1e2"),
            (9, 2, -0.5, "0"), (10, 63, 64.0, "64")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")
