"""Round-15 regression pins: the r14 ADVICE items (declined-CAST
truthiness expansion, rank-frame strip vs a column named `range`,
word-operator operand grouping, IN-subquery vs the empty set) and the
verdict's `bloom_n="auto"` task — differential vs stdlib sqlite3
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


# ------------------------- r14 advice (high): truthiness in declined CAST

@pytest.mark.parametrize("stmt", [
    # the truthiness pass emits CAST(… AS REAL) inside the WHEN; the
    # cast pass must expand it even when the ENCLOSING cast target is
    # declined (DATE here) — the raw REAL cast crashed Spark's ANSI
    # mode on junk text. Whether the arm fired IS SQLite-comparable
    # (the fired value itself is a pinned CAST-AS-DATE divergence).
    "SELECT id, CASE WHEN CAST(CASE WHEN s THEN '2021-01-01' END AS DATE)"
    " IS NULL THEN 1 ELSE 0 END AS isn FROM t ORDER BY id",
    "SELECT id, CASE WHEN CAST(CASE WHEN s THEN '5' END AS DECIMAL(4,1))"
    " IS NULL THEN 1 ELSE 0 END AS isn FROM t ORDER BY id",
])
def test_truthiness_inside_declined_cast(spark, tmp_path, stmt):
    rows = [(1, "abc"), (2, "12abc"), (3, None), (4, "0"), (5, "3.5")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, s TEXT)", "id,s")


def test_declined_cast_interior_expansion():
    from filesql_spark.dialect import rewrite

    out = rewrite(
        "SELECT CAST(CASE WHEN s THEN '2021-01-01' END AS DATE) AS d FROM t",
        {"s": "text"},
    )
    assert "AS REAL" not in out, out  # expanded to the prefix parse


# ------------- r14 advice (low): rank-frame strip vs a column named range

def test_rank_frame_strip_spares_range_column(spark, tmp_path):
    rows = [(1, 30), (2, 10), (3, 20)]
    _diff(
        spark, tmp_path,
        "SELECT id, row_number() OVER (ORDER BY range) AS rn "
        "FROM t ORDER BY id",
        rows, "CREATE TABLE t (id INTEGER, range INTEGER)", "id,range",
    )


def test_rank_frame_strip_still_strips_real_frames():
    from filesql_spark.dialect import _strip_rank_frames

    s = ("SELECT rank() OVER (ORDER BY x "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert "BETWEEN" not in _strip_rank_frames(s)
    s2 = "SELECT lag(x) OVER (ORDER BY x ROWS 2 PRECEDING) FROM t"
    assert "PRECEDING" not in _strip_rank_frames(s2)


# ------ r14 advice (low): word operators bound tighter than IS must not
# have their right operand re-grouped by the IS affinity pass

def test_is_pass_bails_on_word_operator_operand():
    from filesql_spark.dialect import rewrite

    out = rewrite(
        "SELECT a LIKE b IS 0 AS c FROM t", {"a": "text", "b": "text"}
    )
    # (a LIKE b) IS 0 in SQLite; misgrouping rendered a ILIKE ((b) <=> 0)
    # — silently wrong. The comparison pass takes the LIKE as IS's left
    # operand, a boolean read as INTEGER 0/1, as SQLite groups it.
    assert "ILIKE ((b)" not in out, out
    assert out == "SELECT ((TRY_CAST((a ILIKE b) AS INT)) <=> (0)) AS c FROM t", out


# -------------- r14 advice (low): x IN (empty subquery) is FALSE even
# for NULL / junk-text x (SQLite in-operator rule)

@pytest.mark.parametrize("stmt", [
    # mixed-affinity (TEXT s vs INTEGER a) triggers the rewrite; the
    # empty-set gate must fire before the IS NULL arm
    "SELECT a, CASE WHEN s IN (SELECT a FROM t WHERE a > 100) THEN 'T' "
    "WHEN NOT (s IN (SELECT a FROM t WHERE a > 100)) THEN 'F' "
    "ELSE 'N' END AS m FROM t ORDER BY a",
    # non-empty set: NULL s stays NULL (three-valued), matches kept
    "SELECT a, CASE WHEN s IN (SELECT a FROM t WHERE a < 100) THEN 'T' "
    "WHEN NOT (s IN (SELECT a FROM t WHERE a < 100)) THEN 'F' "
    "ELSE 'N' END AS m FROM t ORDER BY a",
    # NOT IN over the empty set is TRUE for every x, NULL included
    "SELECT a, CASE WHEN s NOT IN (SELECT a FROM t WHERE a > 100) "
    "THEN 'T' ELSE 'F' END AS m FROM t ORDER BY a",
])
def test_in_subquery_empty_set_null_operand(spark, tmp_path, stmt):
    rows = [(1, "1"), (2, "junk"), (3, None), (4, "2.0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (a INTEGER, s TEXT)", "a,s")


# --------------------------- verdict r15 #3: bloom_n="auto" sizing mode

def test_dup_spans_bloom_auto_same_results_and_mapside(spark):
    """Auto mode sizes the Bloom from a count() on the persisted dup
    set: results identical to plain and to explicit bloom_n, the prune
    still adds no data shuffle (only the kilobyte word-table builds),
    and the persisted handle is exposed for caller unpersist."""
    import random
    import re as _re

    from tests.test_round14 import _exchange_keys, _formatted
    from filesql_spark.pipeline.text import dup_spans, dup_spans_bytes

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rng = random.Random(7)
    shared = " ".join(rng.choice(vocab) for _ in range(8))
    docs = []
    for i in range(10):
        words = [rng.choice(vocab) for _ in range(rng.randrange(6, 18))]
        if i % 3 == 0:
            pos = rng.randrange(0, len(words) + 1)
            words[pos:pos] = shared.split()
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    plain = dup_spans(df, n=5)
    auto = dup_spans(df, n=5, bloom_n="auto")
    plan = _formatted(auto)
    assert "shiftleft" in plan
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2
    extra = list(_exchange_keys(auto))
    for k in _exchange_keys(plain):
        extra.remove(k)
    assert extra and all(k.startswith(("word", "__w")) for k in extra), extra

    rows = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    assert rows(plain) == rows(auto)
    assert len(rows(plain)) > 0
    assert auto._filesql_persisted is not None
    auto._filesql_persisted.unpersist()
    assert plain._filesql_persisted is None

    plain_b = dup_spans_bytes(df, min_len=20)
    auto_b = dup_spans_bytes(df, min_len=20, bloom_n="auto")
    assert rows(plain_b) == rows(auto_b)
    assert len(rows(plain_b)) > 0
    auto_b._filesql_persisted.unpersist()


# ---------------- verdict r15 #4: bitwise-glued comparison operands
# (SQLite: & | << >> bind tighter than comparisons, result INTEGER with
# NO affinity — a TEXT column on the other side wins, string compare)

@pytest.mark.parametrize("stmt", [
    "SELECT n, s, s = n & 1 AS c FROM t ORDER BY n",
    "SELECT n, s, s = (n | 2) AS c FROM t ORDER BY n",
    "SELECT n, s, s > n << 1 AS c FROM t ORDER BY n",
    "SELECT n, s, s = 6 >> 1 AS c FROM t ORDER BY n",
    "SELECT n, s, s != n & 1 | 4 AS c FROM t ORDER BY n",
    # both sides numeric-valued: native semantics agree, no rewrite
    "SELECT n, n & 1 = n % 2 AS c FROM t ORDER BY n",
])
def test_bitwise_glued_comparison_affinity(spark, tmp_path, stmt):
    rows = [(1, "1"), (3, "3"), (2, "junk"), (6, "6"), (5, "4")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (n INTEGER, s TEXT)", "n,s")


# ---------------- r15: chained comparisons must not be mis-spliced.
# SQLite binds <-family tighter than =-family and left-associates the
# rest; the affinity pass used to rewrite the inner [s = n] site and
# splice mid-expression (silent corruption). The comparison pass now
# rewrites the inner comparison whole and hands it to the outer site as
# its operand, a boolean read as INTEGER 0/1 (or its TEXT '0'/'1').

_ROW = ("CASE WHEN (n) IS NULL OR (s) IS NULL THEN CAST(NULL AS BOOLEAN) WHEN "
        "TRY_CAST((s) AS DOUBLE) IS NOT NULL THEN TRY_CAST((s) AS DOUBLE) {} (n) ELSE false END")


@pytest.mark.parametrize("stmt", [
    "SELECT s = n < 1 AS c FROM t",
    "SELECT s < n = 1 AS c FROM t",
    "SELECT a BETWEEN 1 AND n = s AS c FROM t",
    "SELECT s = n IS 0 AS c FROM t",
])
def test_chained_comparisons_not_spliced(stmt):
    from filesql_spark.dialect import rewrite

    out = rewrite(stmt, {"s": "text", "n": "int", "a": "int"})
    assert out == {
        "SELECT s = n < 1 AS c FROM t":
            "SELECT ((s) = (TRY_CAST(TRY_CAST((n < 1) AS BIGINT) AS STRING))) AS c FROM t",
        "SELECT s < n = 1 AS c FROM t":
            f"SELECT ((TRY_CAST((({_ROW.format('<')})) AS INT)) = (1)) AS c FROM t",
        "SELECT a BETWEEN 1 AND n = s AS c FROM t":
            "SELECT ((TRY_CAST(TRY_CAST((a BETWEEN 1 AND n) AS BIGINT) AS STRING)) = (s)) "
            "AS c FROM t",
        "SELECT s = n IS 0 AS c FROM t":
            f"SELECT ((TRY_CAST((({_ROW.format('=')})) AS INT)) <=> (0)) AS c FROM t",
    }[stmt], (stmt, out)


def test_boolean_and_still_rewrites():
    from filesql_spark.dialect import rewrite

    out = rewrite("SELECT x FROM t WHERE a = 1 AND n = s",
                  {"s": "text", "n": "int", "a": "int"})
    assert "TRY_CAST" in out  # a boolean AND is not BETWEEN's AND


# --------------- verdict r15 #5: row-value comparisons (a,b) op (c,d)
# expand to scalar equivalents BEFORE the affinity pass, so each element
# pair gets per-element comparison affinity; grid-pinned vs sqlite3

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN (n, m) = (1, 2) THEN 'T' "
    "WHEN NOT ((n, m) = (1, 2)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n, m) != (1, 2) THEN 'T' "
    "WHEN NOT ((n, m) != (1, 2)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n, m) < (2, 2) THEN 'T' "
    "WHEN NOT ((n, m) < (2, 2)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n, m) >= (1, 3) THEN 'T' "
    "WHEN NOT ((n, m) >= (1, 3)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    # per-element affinity: s TEXT vs numeric literal string-compares,
    # n INTEGER vs clean-numeric string converts
    "SELECT id, CASE WHEN (s, n) = (1, '2') THEN 'T' "
    "WHEN NOT ((s, n) = (1, '2')) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id FROM t WHERE (n, m) <= (2, 9) ORDER BY id",
    "SELECT id, CASE WHEN (n, m, id) > (1, 2, 0) THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
])
def test_row_value_comparisons(spark, tmp_path, stmt):
    rows = [(1, 1, 2, "1"), (2, 1, 3, "2"), (3, 2, 1, "junk"),
            (4, None, 2, None), (5, 1, None, "1.0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, m INTEGER, s TEXT)",
          "id,n,m,s")


def test_row_value_non_targets_untouched():
    from filesql_spark.dialect import _rewrite_comparisons

    for s in [
        "SELECT f(a, b) = (c, d) AS x FROM t",      # function call
        "SELECT (a) = (c) AS x FROM t",             # arity 1
        "SELECT (a, b) = (SELECT 1, 2) FROM t",     # subquery side
        "SELECT max(a, b) = (1, 2) FROM t",
    ]:
        assert _rewrite_comparisons(s, None) == s, s


# ------------- verdict r15 #6: affinity-then-collation (datatype3 §5.2:
# affinity conversion first, THEN the collation — which only matters if
# the comparison is still textual)

@pytest.mark.parametrize("stmt", [
    # numeric affinity converts; the collation is irrelevant and dropped
    "SELECT id, CASE WHEN s = n COLLATE NOCASE THEN 'T' "
    "WHEN NOT (s = n COLLATE NOCASE) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    # TEXT affinity renders the literal; NOCASE applies to the compare
    "SELECT id, CASE WHEN u = 'abc' COLLATE NOCASE THEN 'T' "
    "ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN u = 7 COLLATE NOCASE THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # both-TEXT comparison under NOCASE (native collation path)
    "SELECT id, CASE WHEN u = v COLLATE NOCASE THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN u < v COLLATE NOCASE THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # BINARY collation = both defaults
    "SELECT id, CASE WHEN u = 'ABC' COLLATE BINARY THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # no-affinity render + NOCASE ('1E2' matches the rendered '1e2'
    # only case-insensitively — the interplay observable end-to-end)
    "SELECT id, CASE WHEN u = n + 0.0 COLLATE NOCASE THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
])
def test_affinity_then_collation(spark, tmp_path, stmt):
    rows = [(1, 7, "7", "ABC", "abc"), (2, 100, "junk", "abc", "abc"),
            (3, 0, "0.0", "AbC", "ABD"), (4, None, None, "7", "7"),
            (5, 100, "100", "1E+21", "xyz")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT, u TEXT, v TEXT)",
          "id,n,s,u,v")


# ---------------- r15: bitwise operand coercion (vdbe.c OP_BitAnd
# family — TEXT integer-prefix-parses with int64 clamp, REAL truncates
# toward zero, NULL poisons) and SQLite shift-count edge semantics
# (negative count = opposite shift, |count| >= 64 clamps to sign fill)

@pytest.mark.parametrize("stmt", [
    "SELECT id, s & 1 AS c FROM t ORDER BY id",
    "SELECT id, s | 4 AS c FROM t ORDER BY id",
    "SELECT id, r & 3 AS c FROM t ORDER BY id",
    "SELECT id, ~s AS c FROM t ORDER BY id",
    "SELECT id, ~r AS c FROM t ORDER BY id",
    "SELECT id, s << 1 AS c FROM t ORDER BY id",
    "SELECT id, s >> 1 AS c FROM t ORDER BY id",
    "SELECT id, n & s | 2 AS c FROM t ORDER BY id",
    "SELECT id, '3.7' & 1 AS c FROM t ORDER BY id",
    "SELECT id, '3e2' & 1023 AS c FROM t ORDER BY id",
    # shift-count edges: negative, >= 64, non-literal counts
    "SELECT id, 1 << -1 AS c FROM t ORDER BY id",
    "SELECT id, 8 >> -2 AS c FROM t ORDER BY id",
    "SELECT id, 1 << 65 AS c FROM t ORDER BY id",
    "SELECT id, -1 >> 100 AS c FROM t ORDER BY id",
    "SELECT id, n << n AS c FROM t ORDER BY id",
    "SELECT id, n >> n AS c FROM t ORDER BY id",
    "SELECT id, 1 << 63 AS c FROM t ORDER BY id",
    # comparison affinity composes: TEXT column vs coerced bitwise
    "SELECT id, CASE WHEN s = r & 1 THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    # all-int chains stay native (plan unchanged) — value check only
    "SELECT id, n & 3 | 1 AS c FROM t ORDER BY id",
    "SELECT id, n << 2 AS c FROM t ORDER BY id",
])
def test_bitwise_operand_coercion(spark, tmp_path, stmt):
    rows = [(1, 1, "1", 1.0), (2, 3, "3.9", 2.9), (3, -2, "junk", -2.9),
            (4, None, None, None), (5, 70, "12abc", 0.5),
            (6, 0, " 12 ", 63.9)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT, r REAL)",
          "id,n,s,r")


def test_bitwise_all_int_untouched():
    from filesql_spark.dialect import rewrite

    ct = {"n": "int", "m": "int"}
    for s in ["SELECT n & 1 AS c FROM t", "SELECT n | m AS c FROM t",
              "SELECT n << 1 AS c FROM t", "SELECT n >> 63 AS c FROM t",
              "SELECT ~n AS c FROM t"]:
        assert rewrite(s, ct) == s, s


# ---------------- r15: predicate-valued comparison operands — SQLite
# comparisons/EXISTS yield INTEGER 0/1 (never NULL for EXISTS), Spark
# BOOLEAN; the 'bool' operand class routes them through INT casts /
# digit rendering so mixed sites compare as SQLite does

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN s = (n < 2) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n < 2) = s THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN n = (s < '2') THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN 1 = (n < 2) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN s = EXISTS (SELECT 1 FROM t WHERE n > 100) "
    "THEN 'T' ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN s = EXISTS (SELECT 1 FROM t WHERE n < 100) "
    "THEN 'T' ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN EXISTS (SELECT 1 FROM t WHERE n < 100) = s "
    "THEN 'T' ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN s IS (n < 2) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN s = (n IN (1, 2)) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
])
def test_bool_operand_comparisons(spark, tmp_path, stmt):
    rows = [(1, 1, "1"), (2, 3, "0"), (3, 0, "junk"), (4, None, None),
            (5, 2, "1.0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


# -------- r15: LEFT-glued collation (`x COLLATE name op y`): COLLATE is
# affinity-transparent (expr.c walks TK_COLLATE), so the site converts
# exactly as without it; the collation rides along inline and only
# matters where the comparison stays textual

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN s COLLATE NOCASE = n THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN u COLLATE NOCASE = 7 THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN u COLLATE NOCASE = 'abc' THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN u COLLATE BINARY = 'ABC' THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
])
def test_left_glued_collation(spark, tmp_path, stmt):
    rows = [(1, 7, "7", "ABC"), (2, 100, "junk", "abc"),
            (3, 0, "0.0", "AbC"), (4, None, None, "7"),
            (5, 100, "100", "xyz")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT, u TEXT)",
          "id,n,s,u")


# ------- r15 closing campaign finds (80-seed scratch differential over
# the widened grammar ran clean after these):

@pytest.mark.parametrize("stmt", [
    # ~s mis-typed TEXT fed a WRONG type-order constant in row-value
    # elements (silent corruption — the round's one wrong-value find)
    "SELECT id, CASE WHEN (n, 5 + n) <= (n % 3, ~s) THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN 5 <= ~s THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    # trailing COLLATE on a numeric comparison is inert in SQLite and
    # must be consumed (Spark rejects COLLATE on numerics)
    "SELECT id, CASE WHEN n + 5 - 5 = 7 COLLATE NOCASE THEN 'T' "
    "ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN 1.47 > 9.78 COLLATE BINARY THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN n % 3 = r COLLATE BINARY THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # ~ binds tighter than the comparison: (~s < 10) is a bool operand
    "SELECT id, CASE WHEN (~s < 10.35) = -4.0 THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # engine emissions classify: chained affinity comparisons compose
    "SELECT id, CASE WHEN (n = s) != -3 THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (lower(s) >= r) = CASE WHEN s THEN 7 ELSE 8 "
    "END THEN 'T' ELSE 'F' END AS c FROM t ORDER BY id",
    # TRUE/FALSE are INTEGER 1/0 literals in SQLite
    "SELECT id, CASE WHEN s = TRUE THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN n = FALSE THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
])
def test_campaign_finds_r15(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 0, 0.5, "abc"), (3, -3, 70.0, "1"),
            (4, None, None, None), (5, 1, -0.5, "0")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


def test_null_vs_exists_constant(spark, tmp_path):
    _diff(
        spark, tmp_path,
        "SELECT id, CASE WHEN (NULL = EXISTS (SELECT 1 FROM t)) IS NULL "
        "THEN 1 ELSE 0 END AS c FROM t ORDER BY id",
        [(1, 5), (2, 7)], "CREATE TABLE t (id INTEGER, n INTEGER)",
        "id,n",
    )


# ------- r15: IN-list affinity uses ONLY the left operand (pinned:
# item affinities are IGNORED — 7 IN (s) is 0 while 7 = s is 1); mixed
# non-literal lists expand to the per-item OR chain, WHERE-context
# shifts get truthiness, and boolean constants emit parser-safe forms

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN 7 IN (s) THEN 'T' WHEN NOT (7 IN (s)) "
    "THEN 'F' ELSE 'N' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN '64' IN (64, n) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN n IN ('7.0', s) THEN 'T' "
    "WHEN NOT (n IN ('7.0', s)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN s IN (r, 7) THEN 'T' "
    "WHEN NOT (s IN (r, 7)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN 'abc' IN (-n, CAST(s AS REAL)) THEN 'T' "
    "WHEN NOT ('abc' IN (-n, CAST(s AS REAL))) THEN 'F' ELSE 'N' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN n NOT IN (s, r) THEN 'T' "
    "WHEN NOT (n NOT IN (s, r)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    # WHERE-context: shifts are values (truthiness), literal compares
    # are parser-safe constants
    "SELECT id FROM t WHERE n >> 1 ORDER BY id",
    "SELECT id FROM t WHERE -3 >> 1 ORDER BY id",
    "SELECT id FROM t WHERE s >> n ORDER BY id",
    "SELECT id FROM t WHERE 105 <= '7' ORDER BY id",
    "SELECT id FROM t WHERE NOT (105 <= '7') ORDER BY id",
    "SELECT id FROM t WHERE -2.39 IS lower(s) ORDER BY id",
])
def test_in_list_left_affinity_and_where_context(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 63, 64.0, "64"), (3, 0, 0.5, "abc"),
            (4, None, None, None)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


# ------- r15: value-context NOT (SELECT-list) applies truthiness; was
# a Spark boolean-type crash on every non-boolean operand

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN (NOT s) IS NULL THEN 'N' WHEN NOT s THEN 'T' "
    "ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN (NOT n) IS NULL THEN 'N' WHEN NOT n THEN 'T' "
    "ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN (NOT (n + 1)) IS NULL THEN 'N' "
    "WHEN NOT (n + 1) THEN 'T' ELSE 'F' END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN NOT NOT s THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    # postfix NOT-forms keep their own semantics
    "SELECT id, CASE WHEN s NOT LIKE '1%' THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
])
def test_value_context_not_truthiness(spark, tmp_path, stmt):
    rows = [(1, 1, "1"), (2, 0, "0"), (3, 2, "junk"), (4, None, None),
            (5, -1, "12abc")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, s TEXT)", "id,n,s")


# ------- r15: IN-list x is the full operand CHAIN and literal x has no
# affinity (n + 1 IN ('2', 3) used to splice into n + ((1) IN (2, 3)))

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN n + 1 IN ('2', 3) THEN 'T' "
    "WHEN NOT (n + 1 IN ('2', 3)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN s || 'x' IN ('2x', 3) THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN r & 7 IN ('07', 5.0) THEN 'T' "
    "WHEN NOT (r & 7 IN ('07', 5.0)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN 7 IN ('7', 3) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN n IN ('7', 3) THEN 'T' "
    "WHEN NOT (n IN ('7', 3)) THEN 'F' ELSE 'N' END AS c "
    "FROM t ORDER BY id",
])
def test_in_list_chain_operand(spark, tmp_path, stmt):
    rows = [(1, 1, 2.5, "2"), (2, 7, 5.5, "1"), (3, 2, 7.0, "junk"),
            (4, None, None, None)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


# ------- r15: row values under IS / IS NOT expand element-wise
# (grid-pinned 162/162 vs sqlite3)

@pytest.mark.parametrize("stmt", [
    "SELECT id, CASE WHEN (n, m) IS (1, 2) THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n, m) IS NOT (1, 2) THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN (n, m) IS (NULL, NULL) THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
    # per-element affinity through the IS pass
    "SELECT id, CASE WHEN (s, n) IS (1, '2') THEN 'T' ELSE 'F' "
    "END AS c FROM t ORDER BY id",
])
def test_row_value_is(spark, tmp_path, stmt):
    rows = [(1, 1, 2, "1"), (2, 1, 3, "2"), (3, None, None, None),
            (4, 2, None, "junk")]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, m INTEGER, s TEXT)",
          "id,n,m,s")


# ------- r15: ~ embedded mid-chain in bitwise expressions (was a
# bail-to-native residue)

@pytest.mark.parametrize("stmt", [
    "SELECT id, s & ~s AS c FROM t ORDER BY id",
    "SELECT id, n & ~s AS c FROM t ORDER BY id",
    "SELECT id, ~r & 7 AS c FROM t ORDER BY id",
    "SELECT id, n & ~n AS c FROM t ORDER BY id",
    "SELECT id, CASE WHEN s = n & ~r THEN 'T' ELSE 'F' END AS c "
    "FROM t ORDER BY id",
    "SELECT id, n | ~s << 1 AS c FROM t ORDER BY id",
])
def test_tilde_mid_chain(spark, tmp_path, stmt):
    rows = [(1, 7, 7.5, "7"), (2, 0, 0.5, "abc"), (3, -3, -2.9, "12"),
            (4, None, None, None)]
    _diff(spark, tmp_path, stmt, rows,
          "CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)",
          "id,n,r,s")


# ------- r15 closing: the campaign grammar, committed. A compact
# version of the scratch differential that drove this round's fixes
# (row values, collation forms, bitwise chains + coercion, bool
# operands, value-context NOT, IN/BETWEEN over the widened grammar) —
# pinned seeds so future rounds inherit the coverage.

def _gen_r15_expr(rng):
    from tests.test_fuzz_dialect import _gen_cmp_operand

    k = rng.randrange(8)
    if k == 0:
        a, b = _gen_cmp_operand(rng), _gen_cmp_operand(rng)
        c, d = _gen_cmp_operand(rng), _gen_cmp_operand(rng)
        op = rng.choice(["=", "!=", "<", "<=", ">", ">=", "IS"])
        return f"({a}, {b}) {op} ({c}, {d})"
    if k == 1:
        op = rng.choice(["=", "<", ">", "!="])
        coll = rng.choice(["NOCASE", "BINARY"])
        return (f"{_gen_cmp_operand(rng)} {op} "
                f"{_gen_cmp_operand(rng)} COLLATE {coll}")
    if k == 2:
        coll = rng.choice(["NOCASE", "BINARY"])
        return (f"s COLLATE {coll} {rng.choice(['=', '<', '>'])} "
                f"{_gen_cmp_operand(rng)}")
    if k == 3:
        inner = (f"{_gen_cmp_operand(rng)} {rng.choice(['<', '=', '>='])} "
                 f"{_gen_cmp_operand(rng)}")
        return f"({inner}) {rng.choice(['=', '!='])} {_gen_cmp_operand(rng)}"
    if k == 4:
        return (f"{_gen_cmp_operand(rng)} {rng.choice(['=', '<'])} "
                f"EXISTS (SELECT 1 FROM t WHERE n > {rng.randint(-5, 200)})")
    if k == 5:
        return rng.choice([
            "s & 3 | n", "~r & 7", "r << 2", "s >> n", "n & s",
            "'junk' & n", "n << 64", "n >> -1", "-3 >> 1", "~~s",
            "n & ~s", "~r & 7 | n",
        ])
    if k == 6:
        if rng.random() < 0.4:
            return f"NOT {_gen_cmp_operand(rng)}"
        op = rng.choice(["IS", "IS NOT"])
        return f"{_gen_cmp_operand(rng)} {op} {_gen_cmp_operand(rng)}"
    x = _gen_cmp_operand(rng)
    if rng.random() < 0.35:
        return (f"{x} BETWEEN {_gen_cmp_operand(rng)} "
                f"AND {_gen_cmp_operand(rng)}")
    if rng.random() < 0.5:
        return f"{x} IN ({_gen_cmp_operand(rng)}, {_gen_cmp_operand(rng)})"
    return f"{x} {rng.choice(['=', '<>', '<=', '>'])} {_gen_cmp_operand(rng)}"


@pytest.mark.parametrize("seed", [5151, 7711])
def test_r15_grammar_differential(spark, tmp_path, seed):
    import random

    from tests.test_fuzz_dialect import _norm

    rng = random.Random(seed)
    rows = [(1, 7, 7.5, "7"), (2, 7, 7.0, "07"), (3, 10, 2.0, "7x"),
            (4, 0, 0.5, "abc"), (5, None, None, None),
            (6, -3, 70.0, " 7 "), (7, 8, 8.25, "8.25"),
            (8, 100, 1e2, "1e2"), (9, 2, -0.5, "0"), (10, 63, 64.0, "64")]
    exprs = []
    while len(exprs) < 25:
        e = _gen_r15_expr(rng)
        con = sqlite3.connect(":memory:")
        con.execute("CREATE TABLE t (id INTEGER, n INTEGER, r REAL, s TEXT)")
        try:
            con.execute(f"SELECT {e} FROM t")
            exprs.append(e)
        except sqlite3.OperationalError:
            pass  # grammar made invalid SQLite — skip
        finally:
            con.close()
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
