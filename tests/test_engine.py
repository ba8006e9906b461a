"""Engine API: open/query/DML/transactions/auto-save/catalog compat.

Ports the observable behaviors of the reference's integration tests
(filesql_test.go:116-180 TestSQLQueries; builder_test.go:609-958 auto-save).
"""

from __future__ import annotations

import pytest

import filesql_spark as fs
from filesql_spark.engine import Engine
from filesql_spark.errors import DuplicateTableError, FilesqlError, TransactionError

SAMPLE = "id,name,age,email\n1,John Doe,30,john@example.com\n2,Jane Smith,25,jane@example.com\n3,Bob Johnson,35,bob@example.com\n"


@pytest.fixture
def eng(spark, tmp_path):
    (tmp_path / "sample.csv").write_text(SAMPLE)
    e = fs.open(str(tmp_path / "sample.csv"), spark=spark)
    yield e
    e.close()


def test_open_and_query(eng):
    # TestSQLQueries' three assertions (filesql_test.go:116-180)
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 3
    assert eng.query("SELECT name FROM sample WHERE id = 1").collect()[0].name == "John Doe"
    assert eng.query("SELECT COUNT(*) AS n FROM sample WHERE age > 30").collect()[0].n == 1


def test_quoted_identifiers(eng):
    assert eng.query('SELECT "name" FROM "sample" WHERE "id" = 2').collect()[0].name == "Jane Smith"


def test_sqlite_master(eng):
    rows = eng.query("SELECT name FROM sqlite_master WHERE type='table'").collect()
    assert [r.name for r in rows] == ["sample"]
    sql = eng.query("SELECT sql FROM sqlite_master").collect()[0].sql
    assert 'CREATE TABLE "sample"' in sql and '"age" INTEGER' in sql


def test_pragma_table_info(eng):
    rows = eng.query("PRAGMA table_info(sample)").collect()
    assert [(r.name, r.type) for r in rows] == [
        ("id", "INTEGER"),
        ("name", "TEXT"),
        ("age", "INTEGER"),
        ("email", "TEXT"),
    ]


def test_pragma_index_list_and_database_list(eng):
    import pytest as _pytest

    from filesql_spark.errors import FilesqlError

    assert eng.query("PRAGMA index_list(sample)").collect() == []
    with _pytest.raises(FilesqlError):
        eng.query("PRAGMA index_list(nonexistent)")
    rows = eng.query("PRAGMA database_list").collect()
    assert [(r.seq, r.name) for r in rows] == [(0, "main")]


def test_pragma_connectlike_noops(eng):
    """PRAGMAs SQLite client code issues reflexively on connect: the
    foreign_keys toggle is an accepted no-op (query form reports 0,
    SQLite's default), journal_mode reports 'memory' like a ':memory:'
    connection."""
    assert eng.query("PRAGMA foreign_keys = ON").collect() == []
    rows = eng.query("PRAGMA foreign_keys").collect()
    assert [(r.foreign_keys,) for r in rows] == [(0,)]
    rows = eng.query("PRAGMA journal_mode").collect()
    assert [(r.journal_mode,) for r in rows] == [("memory",)]
    assert eng.query("PRAGMA journal_mode = WAL").collect()[0].journal_mode == "memory"


def test_pragma_foreign_key_list(eng):
    import pytest as _pytest

    from filesql_spark.errors import FilesqlError

    df = eng.query("PRAGMA foreign_key_list(sample)")
    assert df.collect() == []
    assert df.columns[:5] == ["id", "seq", "table", "from", "to"]
    with _pytest.raises(FilesqlError):
        eng.query("PRAGMA foreign_key_list(nonexistent)")


def test_insert_values(eng):
    n = eng.execute("INSERT INTO sample VALUES (4, 'Ann Lee', 41, 'ann@example.com')")
    assert n == 1
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 4
    assert eng.query("SELECT age FROM sample WHERE id = 4").collect()[0].age == 41


def test_insert_with_columns(eng):
    n = eng.execute("INSERT INTO sample (id, name) VALUES (5, 'NoAge'), (6, 'Also')")
    assert n == 2
    row = eng.query("SELECT * FROM sample WHERE id = 5").collect()[0]
    assert row.age is None and row.name == "NoAge"


def test_insert_select(eng):
    n = eng.execute(
        "INSERT INTO sample SELECT id + 100, name, age, email FROM sample WHERE age >= 30"
    )
    assert n == 2
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 5


def test_update(eng):
    n = eng.execute("UPDATE sample SET age = age + 1 WHERE id = 1")
    assert n == 1
    assert eng.query("SELECT age FROM sample WHERE id = 1").collect()[0].age == 31
    # unmatched rows untouched
    assert eng.query("SELECT age FROM sample WHERE id = 2").collect()[0].age == 25


def test_update_all_rows(eng):
    assert eng.execute("UPDATE sample SET email = 'x@y.z'") == 3


def test_delete(eng):
    n = eng.execute("DELETE FROM sample WHERE age > 30")
    assert n == 1
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 2


def test_transaction_rollback(eng):
    eng.begin()
    eng.execute("DELETE FROM sample")
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 0
    eng.rollback()
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 3


def test_transaction_commit(eng):
    eng.begin()
    eng.execute("INSERT INTO sample VALUES (9, 'T', 1, 'e')")
    eng.commit()
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 4
    with pytest.raises(TransactionError):
        eng.commit()


def test_create_table_and_view(eng):
    eng.execute("CREATE TABLE extra (k INTEGER, v TEXT)")
    assert eng.query("SELECT COUNT(*) AS n FROM extra").collect()[0].n == 0
    eng.execute("INSERT INTO extra VALUES (1, 'a')")
    eng.execute("CREATE VIEW adults AS SELECT * FROM sample WHERE age >= 30")
    assert eng.query("SELECT COUNT(*) AS n FROM adults").collect()[0].n == 2
    kinds = {
        (r.type, r.name)
        for r in eng.query("SELECT type, name FROM sqlite_master").collect()
    }
    assert ("table", "extra") in kinds and ("view", "adults") in kinds
    eng.execute("DROP TABLE extra")
    assert "extra" not in eng.table_names()


def test_create_index_noop_and_trigger_error(eng):
    assert eng.execute("CREATE INDEX idx ON sample(id)") == 0
    with pytest.raises(FilesqlError):
        eng.execute("CREATE TRIGGER tr AFTER INSERT ON sample BEGIN SELECT 1; END")


def test_duplicate_table_error(spark, tmp_path):
    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    d1.mkdir()
    d2.mkdir()
    (d1 / "users.csv").write_text("id\n1\n")
    (d2 / "users.csv").write_text("id\n2\n")
    with pytest.raises(DuplicateTableError):
        fs.open(str(d1 / "users.csv"), str(d2 / "users.csv"), spark=spark)


def test_builder_reader(spark):
    eng = (
        fs.Builder()
        .add_reader(b"id,v\n1,10\n2,20\n", "inline", "csv")
        .open(spark=spark)
    )
    try:
        assert eng.query("SELECT SUM(v) AS s FROM inline").collect()[0].s == 30
    finally:
        eng.close()


def test_dialect_through_engine(eng):
    # strftime through the shim on a datetime-typed string column
    (row,) = eng.query(
        "SELECT strftime('%Y', '2024-03-05') AS y"
    ).collect()
    assert row.y == "2024"


def test_rollback_drops_views_created_in_txn(eng):
    """A rolled-back CREATE TABLE/VIEW must vanish from spark.sql too, not
    just from the engine catalog (ADVICE r1: temp view leak)."""
    eng.begin()
    eng.execute("CREATE TABLE txn_tmp (k INTEGER)")
    assert eng.query("SELECT COUNT(*) AS n FROM txn_tmp").collect()[0].n == 0
    eng.rollback()
    assert "txn_tmp" not in eng.table_names()
    with pytest.raises(Exception):
        eng.query("SELECT * FROM txn_tmp").collect()


def test_create_existing_table_raises(eng):
    """SQLite: CREATE TABLE over an existing name is an error; silently
    replacing would drop user data (ADVICE r1)."""
    eng.execute("CREATE TABLE dup_t (k INTEGER)")
    with pytest.raises(DuplicateTableError):
        eng.execute("CREATE TABLE dup_t (k INTEGER)")
    assert eng.execute("CREATE TABLE IF NOT EXISTS dup_t (k INTEGER)") == 0
    eng.execute("DROP TABLE dup_t")


def test_execute_script_multi_statement(eng):
    """database/sql-style script execution (reference example_test.go:295
    feeds semicolon-separated DDL+DML scripts verbatim)."""
    n = eng.execute_script(
        """
        CREATE TABLE scratch (id INTEGER, tag TEXT);
        INSERT INTO scratch VALUES (1, 'a; not a split'), (2, 'b');
        UPDATE scratch SET tag = 'z' WHERE id = 2;
        -- trailing comment statement
        """
    )
    assert n == 3  # 2 inserted + 1 updated (CREATE contributes 0)
    rows = eng.query("SELECT id, tag FROM scratch ORDER BY id").collect()
    assert [(r.id, r.tag) for r in rows] == [(1, "a; not a split"), (2, "z")]


def test_execute_script_savepoint_autocommits(eng):
    # a script's un-released savepoint leaves the implicit txn open;
    # a following plain ROLLBACK undoes the whole script
    eng.execute_script("SAVEPOINT sp1; INSERT INTO sample VALUES (9,'x',1,'e')")
    assert _count(eng) == 4
    eng.execute("ROLLBACK")
    assert _count(eng) == 3


def test_nested_begin_mentions_savepoints(eng):
    eng.begin()
    with pytest.raises(TransactionError, match="SAVEPOINT"):
        eng.begin()
    eng.rollback()


def test_implicit_upsert_without_pk_clean_error(eng):
    """File-loaded tables declare no PRIMARY KEY, so the implicit-target
    upsert forms must fail with a clear message (the explicit
    ON CONFLICT(col) forms work — tested below)."""
    with pytest.raises(FilesqlError, match="no.*declared PRIMARY KEY"):
        eng.execute("INSERT OR REPLACE INTO sample VALUES (1,'x',1,'e')")
    with pytest.raises(FilesqlError, match="no.*declared PRIMARY KEY"):
        eng.execute("INSERT OR IGNORE INTO sample VALUES (1,'x',1,'e')")
    with pytest.raises(FilesqlError, match="no.*declared PRIMARY KEY"):
        eng.execute(
            "INSERT INTO sample VALUES (9,'x',1,'e') ON CONFLICT DO NOTHING"
        )


def test_on_conflict_do_nothing_explicit_target(eng):
    """ON CONFLICT(col) needs no declared PK: id=1 exists → skipped;
    id=9 is new → inserted. changes() counts inserted rows only."""
    n = eng.execute(
        "INSERT INTO sample VALUES (1,'Dup',1,'d'), (9,'New',9,'n') "
        "ON CONFLICT (id) DO NOTHING"
    )
    assert n == 1
    rows = {r.id: r.name for r in eng.query("SELECT id, name FROM sample").collect()}
    assert rows[9] == "New"
    assert rows[1] != "Dup"  # existing row untouched


def test_on_conflict_do_update(eng):
    """DO UPDATE SET with excluded.* and a WHERE guard, SQLite 3.24+."""
    before = {r.id: (r.name, r.age) for r in eng.query("SELECT * FROM sample").collect()}
    n = eng.execute(
        "INSERT INTO sample (id, name, age) VALUES (1, 'Upd', 99), (9, 'New', 9) "
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name, age = excluded.age + 1"
    )
    assert n == 2  # one updated + one inserted
    rows = {r.id: (r.name, r.age) for r in eng.query("SELECT * FROM sample").collect()}
    assert rows[1] == ("Upd", 100)
    assert rows[9] == ("New", 9)
    assert rows[2] == before[2]  # untouched row

    # WHERE guard: only update when the incoming age is larger
    n = eng.execute(
        "INSERT INTO sample (id, name, age) VALUES (1, 'Low', 5) "
        "ON CONFLICT (id) DO UPDATE SET age = excluded.age WHERE excluded.age > sample.age"
    )
    assert n == 0  # guard false → neither updated nor inserted
    rows = {r.id: r.age for r in eng.query("SELECT id, age FROM sample").collect()}
    assert rows[1] == 100


def test_on_conflict_do_update_duplicate_batch_keys_raise(eng):
    with pytest.raises(FilesqlError, match="duplicate conflict keys"):
        eng.execute(
            "INSERT INTO sample (id, name) VALUES (1, 'a'), (1, 'b') "
            "ON CONFLICT (id) DO UPDATE SET name = excluded.name"
        )


def test_insert_or_replace_with_declared_pk(eng):
    """CREATE TABLE declares the PK; OR REPLACE swaps the conflicting row
    and PRAGMA table_info reports the pk ordinal."""
    eng.execute("CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO kv VALUES ('a', 1), ('b', 2)")
    n = eng.execute("INSERT OR REPLACE INTO kv VALUES ('a', 10), ('c', 3)")
    assert n == 2  # each attempted row counts, like SQLite changes()
    rows = {r.k: r.v for r in eng.query("SELECT * FROM kv").collect()}
    assert rows == {"a": 10, "b": 2, "c": 3}
    n = eng.execute("INSERT OR IGNORE INTO kv VALUES ('a', 99), ('d', 4)")
    assert n == 1
    rows = {r.k: r.v for r in eng.query("SELECT * FROM kv").collect()}
    assert rows == {"a": 10, "b": 2, "c": 3, "d": 4}
    info = {r.name: r.pk for r in eng.query("PRAGMA table_info(kv)").collect()}
    assert info == {"k": 1, "v": 0}
    eng.execute("DROP TABLE kv")


def test_replace_into_alias(eng):
    """SQLite: ``REPLACE INTO`` is a pure alias for INSERT OR REPLACE
    (the reference inherits it via its SQLite engine); RETURNING works
    through the alias like on any INSERT."""
    eng.execute("CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO kv VALUES ('a', 1), ('b', 2)")
    n = eng.execute("REPLACE INTO kv VALUES ('a', 10), ('c', 3)")
    assert n == 2  # each attempted row counts, like SQLite changes()
    rows = {r.k: r.v for r in eng.query("SELECT * FROM kv").collect()}
    assert rows == {"a": 10, "b": 2, "c": 3}
    df = eng.query("REPLACE INTO kv VALUES ('b', 20) RETURNING k, v")
    assert [(r.k, r.v) for r in df.collect()] == [("b", 20)]
    # not-an-INTO REPLACE still errors cleanly
    with pytest.raises(FilesqlError):
        eng.execute("REPLACE kv SET v = 1")
    eng.execute("DROP TABLE kv")


def test_upsert_composite_pk_and_intra_batch_last_wins(eng):
    eng.execute(
        "CREATE TABLE m (a INTEGER, b INTEGER, v TEXT, PRIMARY KEY (a, b))"
    )
    eng.execute("INSERT INTO m VALUES (1, 1, 'x')")
    # same key twice in one OR REPLACE: last wins (SQLite row-at-a-time)
    eng.execute("INSERT OR REPLACE INTO m VALUES (1, 1, 'first'), (1, 1, 'second')")
    rows = eng.query("SELECT * FROM m").collect()
    assert [(r.a, r.b, r.v) for r in rows] == [(1, 1, "second")]
    eng.execute("DROP TABLE m")


def test_upsert_null_keys_never_conflict(eng):
    """SQLite: NULL PK/unique values never conflict with anything."""
    eng.execute("CREATE TABLE nk (k INTEGER PRIMARY KEY, v TEXT)")
    eng.execute("INSERT INTO nk VALUES (NULL, 'a')")
    n = eng.execute("INSERT OR IGNORE INTO nk VALUES (NULL, 'b'), (NULL, 'c')")
    assert n == 2
    assert eng.query("SELECT COUNT(*) AS n FROM nk").collect()[0].n == 3
    eng.execute("DROP TABLE nk")


def test_upsert_returning(eng):
    """RETURNING on upsert returns the post-upsert rows: updated rows with
    their new values plus inserted rows; DO NOTHING omits skipped rows."""
    df = eng.query(
        "INSERT INTO sample (id, name, age) VALUES (1, 'Up', 50), (9, 'New', 9) "
        "ON CONFLICT (id) DO UPDATE SET age = excluded.age RETURNING id, age"
    )
    assert {(r.id, r.age) for r in df.collect()} == {(1, 50), (9, 9)}
    df = eng.query(
        "INSERT INTO sample (id, name) VALUES (1, 'skip'), (20, 'kept') "
        "ON CONFLICT (id) DO NOTHING RETURNING id, name"
    )
    assert [(r.id, r.name) for r in df.collect()] == [(20, "kept")]


def test_insert_returning(eng):
    """SQLite 3.35+ RETURNING on INSERT: the inserted rows come back as a
    result set (query()); execute() applies the insert and reports count."""
    df = eng.query(
        "INSERT INTO sample (id, name, age) VALUES (9, 'Zed', 41), (10, 'Yan', 17) "
        "RETURNING id, name"
    )
    assert [(r.id, r.name) for r in df.collect()] == [(9, "Zed"), (10, "Yan")]
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 5
    df2 = eng.query("INSERT INTO sample (id, name) VALUES (11, 'Quo') RETURNING *")
    row = df2.collect()[0]
    assert (row.id, row.name, row.age, row.email) == (11, "Quo", None, None)


def test_insert_without_returning_via_query_raises(eng):
    with pytest.raises(FilesqlError, match="RETURNING"):
        eng.query("INSERT INTO sample VALUES (9, 'x', 1, 'e')")


def test_update_returning(eng):
    """UPDATE … RETURNING returns the affected rows' NEW values
    (SQLite 3.35+); the table is mutated as a side effect."""
    df = eng.query(
        "UPDATE sample SET age = age + 10 WHERE id <= 2 RETURNING id, age"
    )
    got = {(r.id, r.age) for r in df.collect()}
    table = {r.id: r.age for r in eng.query("SELECT id, age FROM sample").collect()}
    assert got == {(i, table[i]) for i in (1, 2)}
    assert len(got) == 2


def test_delete_returning(eng):
    """DELETE … RETURNING returns the deleted rows (their last values)."""
    before = {r.id: r.name for r in eng.query("SELECT id, name FROM sample").collect()}
    df = eng.query("DELETE FROM sample WHERE id = 1 RETURNING id, name")
    assert [(r.id, r.name) for r in df.collect()] == [(1, before[1])]
    assert eng.query("SELECT COUNT(*) AS n FROM sample WHERE id = 1").collect()[0].n == 0


def test_update_delete_without_returning_via_query_raises(eng):
    with pytest.raises(FilesqlError, match="RETURNING"):
        eng.query("UPDATE sample SET age = 1 WHERE id = 1")
    with pytest.raises(FilesqlError, match="RETURNING"):
        eng.query("DELETE FROM sample WHERE id = 1")


def test_returning_in_string_literal_not_detected(eng):
    # the word 'returning' inside inserted data must not trigger the parser
    n = eng.execute("INSERT INTO sample (id, name) VALUES (12, 'returning home')")
    assert n == 1
    assert eng.query("SELECT name FROM sample WHERE id = 12").collect()[0].name \
        == "returning home"


def test_insert_with_on_conflict_text_in_values(eng):
    # ADVICE r4: a literal containing 'on conflict' must not trip the
    # upsert guard (it scans literal-blanked text only)
    n = eng.execute("INSERT INTO sample (id, name) VALUES (13, 'we are ON CONFLICT here')")
    assert n == 1


def test_execute_script_comment_aware(eng):
    """ADVICE r4: semicolons and apostrophes inside -- and /* */ comments
    must not split statements or open phantom string tokens."""
    n = eng.execute_script(
        """
        -- don't split; here
        CREATE TABLE notes (id INTEGER, t TEXT);
        /* a block; with 'quotes' and ; semicolons */
        INSERT INTO notes VALUES (1, 'a'); -- tail comment; with semicolon
        INSERT INTO notes VALUES (2, 'b');
        """
    )
    assert n == 2
    assert eng.query("SELECT COUNT(*) AS n FROM notes").collect()[0].n == 2


def test_explain_query_plan(eng):
    """SQLite's EXPLAIN QUERY PLAN surface — since r11 with SQLite's
    (id, parent, notused, detail) tree schema over the physical plan."""
    rows = eng.query(
        "EXPLAIN QUERY PLAN SELECT name FROM sample WHERE id = 1"
    ).collect()
    text = "\n".join(r.detail for r in rows)
    assert "Filter" in text and len(rows) >= 2
    assert rows[0].id == 0 and all(r.parent < r.id for r in rows[1:])
    rows2 = eng.query("EXPLAIN SELECT COUNT(*) FROM sample").collect()
    assert any("Aggregate" in r.detail for r in rows2)


def test_dml_with_comments(eng):
    n = eng.execute("-- add a row; carefully\nINSERT INTO sample (id, name) VALUES (20, 'Cmt')")
    assert n == 1
    n = eng.execute("/* block 'comment' */ DELETE FROM sample WHERE id = 20")
    assert n == 1


# ------------------------------------------------- one lexer vs sqlite3
# Comments, quoted identifiers and trigger bodies follow SQLite's single
# tokenizer; every case runs the same script and query through stdlib
# sqlite3 and compares rows.

_LEX_SETUP = """
CREATE TABLE t (id INTEGER, name TEXT, amount INTEGER);
INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30);
"""


def _lex_differential(eng, script, sql):
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.executescript(script)
    want = con.execute(sql).fetchall()
    con.close()
    eng.execute_script(script)
    got = [tuple(r) for r in eng.query(sql).collect()]
    assert got == want, (sql, got, want)
    return got


def test_comment_with_apostrophe_matches_sqlite(eng):
    got = _lex_differential(
        eng, _LEX_SETUP,
        "SELECT id, amount / 3 AS q -- don't divide by zero\n"
        "FROM t WHERE name = 'b'",
    )
    assert got == [(2, 6)]
    eng.execute("DROP TABLE t")
    got = _lex_differential(
        eng, _LEX_SETUP,
        "SELECT id /* the customer's id */, amount / 3 AS q "
        "FROM t WHERE name = 'b'",
    )
    assert got == [(2, 6)]


def test_quoted_identifier_with_comma_in_call_matches_sqlite(eng):
    got = _lex_differential(
        eng, _LEX_SETUP,
        'SELECT upper("n,m") AS u FROM (SELECT name AS "n,m" FROM t) ORDER BY u',
    )
    assert got == [("A",), ("B",), ("C",)]


def test_update_set_quoted_identifier_with_comma_matches_sqlite(eng):
    from filesql_spark import dml

    assert dml._split_level0('a = 1, "x,y" = 2') == ["a = 1", '"x,y" = 2']
    script = (
        'CREATE TABLE u (id INTEGER, "x,y" INTEGER);'
        "INSERT INTO u VALUES (1, 10), (2, 20);"
        'UPDATE u SET "x,y" = "x,y" + 1, id = id * 10 WHERE id = 2;'
    )
    got = _lex_differential(eng, script, 'SELECT id, "x,y" FROM u ORDER BY id')
    assert got == [(1, 10), (20, 21)]


def test_execute_script_keeps_trigger_body_whole(eng):
    script = """
    CREATE TABLE b (id INTEGER);
    CREATE TABLE c (v INTEGER);
    CREATE TRIGGER tr AFTER INSERT ON b BEGIN
      INSERT INTO c VALUES (NEW.id);
      INSERT INTO c VALUES (CASE WHEN NEW.id > 1 THEN NEW.id * 10 ELSE 0 END);
    END;
    INSERT INTO b VALUES (1), (2);
    """
    got = _lex_differential(eng, script, "SELECT v FROM c ORDER BY v")
    assert got == [(0,), (1,), (2,), (20,)]


def test_upsert_golden_vs_sqlite(eng):
    """Golden integration: run one upsert-heavy script through this engine
    AND through the actual reference dialect engine (stdlib sqlite3);
    the final table contents must be identical."""
    import sqlite3

    script = """
    CREATE TABLE inv (sku TEXT PRIMARY KEY, qty INTEGER, price REAL);
    INSERT INTO inv VALUES ('a', 1, 1.50), ('b', 2, 2.25);
    INSERT OR REPLACE INTO inv VALUES ('a', 10, 1.00), ('c', 3, 3.00);
    INSERT OR IGNORE INTO inv VALUES ('b', 99, 9.99), ('d', 4, 4.00);
    INSERT INTO inv VALUES ('a', 5, 0.10)
        ON CONFLICT (sku) DO UPDATE SET qty = inv.qty + excluded.qty;
    INSERT INTO inv VALUES ('e', 6, 6.00)
        ON CONFLICT (sku) DO UPDATE SET qty = excluded.qty;
    INSERT INTO inv VALUES ('d', 40, 0.40)
        ON CONFLICT (sku) DO UPDATE SET qty = excluded.qty
        WHERE excluded.qty > inv.qty;
    INSERT INTO inv VALUES ('d', 1, 0.01)
        ON CONFLICT (sku) DO UPDATE SET qty = excluded.qty
        WHERE excluded.qty > inv.qty;
    UPDATE inv SET price = price * 2 WHERE qty >= 10;
    DELETE FROM inv WHERE sku = 'b';
    """
    con = sqlite3.connect(":memory:")
    con.executescript(script)
    expected = con.execute("SELECT sku, qty, price FROM inv ORDER BY sku").fetchall()
    con.close()

    eng.execute_script(script)
    got = [
        (r.sku, r.qty, r.price)
        for r in eng.query("SELECT sku, qty, price FROM inv ORDER BY sku").collect()
    ]
    assert got == [tuple(row) for row in expected]


def test_returning_golden_vs_sqlite(eng):
    """UPDATE/DELETE RETURNING row sets match the real SQLite."""
    import sqlite3

    setup = "CREATE TABLE r (id INTEGER PRIMARY KEY, v INTEGER);" \
            "INSERT INTO r VALUES (1, 10), (2, 20), (3, 30);"
    upd = "UPDATE r SET v = v + 1 WHERE id >= 2 RETURNING id, v"
    dele = "DELETE FROM r WHERE v > 25 RETURNING id, v"

    con = sqlite3.connect(":memory:")
    con.executescript(setup)
    exp_upd = sorted(con.execute(upd).fetchall())
    exp_del = sorted(con.execute(dele).fetchall())
    exp_final = con.execute("SELECT id, v FROM r ORDER BY id").fetchall()
    con.close()

    eng.execute_script(setup)
    assert sorted((r.id, r.v) for r in eng.query(upd).collect()) == exp_upd
    assert sorted((r.id, r.v) for r in eng.query(dele).collect()) == exp_del
    got = [(r.id, r.v) for r in eng.query("SELECT id, v FROM r ORDER BY id").collect()]
    assert got == [tuple(row) for row in exp_final]


# ------------------------------------------------------------- savepoints
# SQLite lang_savepoint.html semantics: nesting, case-insensitive names,
# most-recent binding wins, ROLLBACK TO keeps the savepoint, RELEASE of
# the outermost savepoint of an implicit transaction commits it.


def _count(eng):
    return eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n


def test_savepoint_rollback_to(eng):
    eng.begin()
    eng.execute("DELETE FROM sample WHERE id = 1")
    eng.execute("SAVEPOINT sp1")
    eng.execute("DELETE FROM sample")
    assert _count(eng) == 0
    eng.execute("ROLLBACK TO sp1")
    assert _count(eng) == 2  # sp1 state: one row deleted
    eng.rollback()
    assert _count(eng) == 3


def test_savepoint_nested_release(eng):
    eng.execute("SAVEPOINT outer")
    eng.execute("DELETE FROM sample WHERE id = 1")
    eng.execute("SAVEPOINT inner")
    eng.execute("DELETE FROM sample WHERE id = 2")
    eng.execute("RELEASE SAVEPOINT inner")  # folds inner into outer
    assert _count(eng) == 1
    eng.execute("ROLLBACK TO SAVEPOINT outer")
    assert _count(eng) == 3
    eng.execute("RELEASE outer")  # outermost release of implicit txn = commit
    with pytest.raises(TransactionError):
        eng.commit()  # nothing left in progress


def test_savepoint_rollback_to_keeps_savepoint(eng):
    eng.execute("SAVEPOINT a")
    eng.execute("DELETE FROM sample WHERE id = 1")
    eng.execute("ROLLBACK TO a")
    eng.execute("DELETE FROM sample WHERE id = 2")
    eng.execute("ROLLBACK TO a")  # still on the stack
    assert _count(eng) == 3
    eng.execute("RELEASE a")


def test_savepoint_case_insensitive_and_most_recent_wins(eng):
    eng.execute("SAVEPOINT SP")
    eng.execute("DELETE FROM sample WHERE id = 1")
    eng.execute("SAVEPOINT sp")  # same name, new binding
    eng.execute("DELETE FROM sample WHERE id = 2")
    eng.execute('ROLLBACK TO "sp"')  # hits the most recent binding
    assert _count(eng) == 2
    eng.execute("RELEASE sp")  # releases the inner binding only
    eng.execute("ROLLBACK TO sp")  # now resolves to the outer one
    assert _count(eng) == 3
    eng.execute("RELEASE sp")


def test_savepoint_unknown_name_errors(eng):
    with pytest.raises(TransactionError, match="no such savepoint"):
        eng.execute("RELEASE nope")
    eng.execute("SAVEPOINT a")
    with pytest.raises(TransactionError, match="no such savepoint"):
        eng.execute("ROLLBACK TO b")
    eng.execute("RELEASE a")


def test_plain_rollback_cancels_implicit_savepoint_txn(eng):
    eng.execute("SAVEPOINT s1")
    eng.execute("DELETE FROM sample")
    eng.execute("ROLLBACK")
    assert _count(eng) == 3
    with pytest.raises(TransactionError):
        eng.execute("ROLLBACK TO s1")  # txn gone, savepoint with it


def test_begin_inside_savepoint_txn_errors(eng):
    eng.execute("SAVEPOINT s1")
    with pytest.raises(TransactionError):
        eng.begin()
    eng.execute("RELEASE s1")


def test_savepoint_rollback_drops_tables_created_after_it(eng):
    eng.execute("SAVEPOINT s1")
    eng.execute("CREATE TABLE tmp_sp (k INTEGER)")
    eng.execute("INSERT INTO tmp_sp VALUES (1)")
    eng.execute("ROLLBACK TO s1")
    assert "tmp_sp" not in eng.table_names()
    with pytest.raises(Exception):
        eng.query("SELECT * FROM tmp_sp").collect()
    eng.execute("RELEASE s1")


def test_savepoint_script(eng):
    eng.execute_script(
        """
        SAVEPOINT s1;
        DELETE FROM sample WHERE id = 3;
        SAVEPOINT s2;
        DELETE FROM sample WHERE id = 2;
        ROLLBACK TO s2;
        RELEASE s1;
        """
    )
    assert _count(eng) == 2


def test_vacuum_analyze_reindex_noops(eng):
    assert eng.execute("VACUUM") == 0
    assert eng.execute("ANALYZE") == 0
    assert eng.execute("REINDEX") == 0
    assert _count(eng) == 3  # data untouched
    eng.execute_script("ANALYZE; VACUUM;")


def test_vacuum_refuses_inside_transaction(eng):
    eng.begin()
    with pytest.raises(TransactionError, match="VACUUM"):
        eng.execute("VACUUM")
    eng.rollback()
    eng.execute("SAVEPOINT s")
    with pytest.raises(TransactionError, match="VACUUM"):
        eng.execute("VACUUM")
    eng.execute("RELEASE s")


# ----------------------------------------------------------- ALTER TABLE


def test_alter_rename_table(eng):
    eng.execute("ALTER TABLE sample RENAME TO people")
    assert eng.query("SELECT COUNT(*) AS n FROM people").collect()[0].n == 3
    with pytest.raises(Exception):  # Spark TABLE_OR_VIEW_NOT_FOUND
        eng.query("SELECT * FROM sample").collect()
    assert "people" in eng.table_names() and "sample" not in eng.table_names()


def test_alter_rename_table_collision(eng, spark):
    eng.execute("CREATE TABLE other (x INTEGER)")
    with pytest.raises(FilesqlError, match="already another table"):
        eng.execute("ALTER TABLE sample RENAME TO other")


def test_alter_rename_column(eng):
    eng.execute("ALTER TABLE sample RENAME COLUMN name TO full_name")
    r = eng.query("SELECT full_name FROM sample WHERE id = 1").collect()
    assert r[0].full_name == "John Doe"
    # COLUMN keyword optional (SQLite accepts both)
    eng.execute("ALTER TABLE sample RENAME full_name TO nm")
    assert eng.query("SELECT nm FROM sample WHERE id = 2").collect()[0].nm == "Jane Smith"
    with pytest.raises(FilesqlError, match="no such column"):
        eng.execute("ALTER TABLE sample RENAME COLUMN ghost TO x")
    with pytest.raises(FilesqlError, match="duplicate column"):
        eng.execute("ALTER TABLE sample RENAME COLUMN nm TO age")


def test_alter_add_column_default_and_null(eng):
    eng.execute("ALTER TABLE sample ADD COLUMN score INTEGER DEFAULT 7")
    rows = eng.query("SELECT id, score FROM sample ORDER BY id").collect()
    assert [r.score for r in rows] == [7, 7, 7]
    eng.execute("ALTER TABLE sample ADD COLUMN note TEXT")
    rows = eng.query("SELECT note FROM sample").collect()
    assert all(r.note is None for r in rows)
    with pytest.raises(FilesqlError, match="duplicate column"):
        eng.execute("ALTER TABLE sample ADD COLUMN score REAL")
    with pytest.raises(FilesqlError, match="PRIMARY KEY or UNIQUE"):
        eng.execute("ALTER TABLE sample ADD COLUMN k INTEGER PRIMARY KEY")


def test_alter_drop_column(eng):
    eng.execute("ALTER TABLE sample DROP COLUMN email")
    cols = eng.query("SELECT * FROM sample").columns
    assert "email" not in cols and "name" in cols
    with pytest.raises(FilesqlError, match="no such column"):
        eng.execute("ALTER TABLE sample DROP COLUMN email")


def test_alter_drop_pk_column_refused(eng):
    eng.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    with pytest.raises(FilesqlError, match="PRIMARY KEY"):
        eng.execute("ALTER TABLE t DROP COLUMN k")


def test_alter_rolls_back_with_transaction(eng):
    eng.execute("BEGIN")
    eng.execute("ALTER TABLE sample ADD COLUMN tmp INTEGER DEFAULT 1")
    eng.execute("ALTER TABLE sample RENAME TO renamed")
    assert eng.query("SELECT COUNT(*) AS n FROM renamed").collect()[0].n == 3
    eng.execute("ROLLBACK")
    assert "sample" in eng.table_names() and "renamed" not in eng.table_names()
    assert "tmp" not in eng.query("SELECT * FROM sample").columns


def test_alter_interacts_with_dml(eng):
    eng.execute("ALTER TABLE sample ADD COLUMN score INTEGER DEFAULT 0")
    assert eng.execute("UPDATE sample SET score = age * 2 WHERE id <= 2") == 2
    rows = {r.id: r.score for r in eng.query("SELECT id, score FROM sample").collect()}
    assert rows == {1: 60, 2: 50, 3: 0}


def test_alter_no_such_table(eng):
    with pytest.raises(FilesqlError, match="no such table"):
        eng.execute("ALTER TABLE ghost RENAME TO x")


def test_alter_rename_column_starting_with_to(eng):
    # "total" begins with TO — must route to the COLUMN branch, not be
    # garbled by the table-rename keyword match
    eng.execute("ALTER TABLE sample ADD COLUMN total INTEGER DEFAULT 1")
    eng.execute("ALTER TABLE sample RENAME total TO t2")
    assert eng.query("SELECT t2 FROM sample").collect()[0].t2 == 1
    # invalid: RENAME without TO must error, never silently rename the table
    with pytest.raises(FilesqlError, match="cannot parse"):
        eng.execute("ALTER TABLE sample RENAME tonew")
    assert "sample" in eng.table_names()


def test_alter_column_matching_is_case_insensitive(eng):
    eng.execute("ALTER TABLE sample RENAME COLUMN NAME TO nm")
    assert "nm" in eng.query("SELECT * FROM sample").columns
    with pytest.raises(FilesqlError, match="duplicate column"):
        eng.execute("ALTER TABLE sample ADD COLUMN NM TEXT")
    eng.execute("ALTER TABLE sample DROP COLUMN EMAIL")
    assert "email" not in eng.query("SELECT * FROM sample").columns
    eng.execute("CREATE TABLE t (K INTEGER PRIMARY KEY, v TEXT)")
    with pytest.raises(FilesqlError, match="PRIMARY KEY"):
        eng.execute("ALTER TABLE t DROP COLUMN k")


def test_alter_add_column_default_with_constraints(eng):
    # constraints after DEFAULT must not leak into the default expression
    eng.execute("ALTER TABLE sample ADD COLUMN score INTEGER DEFAULT 5 NOT NULL")
    assert eng.query("SELECT score FROM sample").collect()[0].score == 5
    # NOT NULL without a default is SQLite's hard error
    with pytest.raises(FilesqlError, match="NOT NULL"):
        eng.execute("ALTER TABLE sample ADD COLUMN z INTEGER NOT NULL")
    # typeless column with a DEFAULT keeps the constant's own type
    eng.execute("ALTER TABLE sample ADD COLUMN n DEFAULT 7")
    row = eng.query("SELECT n FROM sample").collect()[0]
    assert row.n == 7 and not isinstance(row.n, str)
    # garbage default is a clean engine error, not a raw ParseException
    with pytest.raises(FilesqlError, match="DEFAULT"):
        eng.execute("ALTER TABLE sample ADD COLUMN bad INTEGER DEFAULT ,")


def test_alter_rename_rollback_restores_origins(spark, tmp_path):
    # a rolled-back RENAME must leave auto-save still writing the
    # original file (regression: origins were not snapshot)
    (tmp_path / "users.csv").write_text("id,name\n1,Ann\n")
    out = tmp_path / "users.csv"
    e = fs.Builder().add_path(str(out)).enable_auto_save("", on="close").open(
        spark=spark
    )
    try:
        e.execute("BEGIN")
        e.execute("ALTER TABLE users RENAME TO members")
        e.execute("ROLLBACK")
        assert "users" in e._catalog.origins and "members" not in e._catalog.origins
        e.execute("UPDATE users SET name = 'Zoe' WHERE id = 1")
    finally:
        e.close()  # auto-save on close → must overwrite the ORIGINAL file
    assert "Zoe" in out.read_text()


def test_filter_clause_through_engine(eng):
    """SQLite 3.30+ aggregate FILTER clause runs verbatim through the
    dialect shim (Spark SQL supports the identical syntax)."""
    rows = eng.query(
        "SELECT COUNT(*) AS n, "
        "COUNT(*) FILTER (WHERE age > 28) AS n_old, "
        "SUM(age) FILTER (WHERE name LIKE 'a%') AS a_sum "
        "FROM sample"
    ).collect()
    r = rows[0]
    assert r.n >= r.n_old >= 0


# ----------------------------------------------------------------- params
# database/sql placeholder binding (filesql.go exposes plain
# db.QueryContext(ctx, query, args...); filesql_integration_test.go:783
# drives `WHERE id = ?` — every placeholder form SQLite accepts).


def test_query_positional_params(eng):
    r = eng.query("SELECT name FROM sample WHERE id = ?", [1]).collect()
    assert r[0].name == "John Doe"
    r = eng.query(
        "SELECT COUNT(*) AS n FROM sample WHERE age > ? AND name LIKE ?",
        (25, "%John%"),
    ).collect()
    assert r[0].n == 2


def test_query_numbered_and_repeated_params(eng):
    # ?1 reused twice, bare ? continues from the largest index (SQLite rule)
    r = eng.query(
        "SELECT COUNT(*) AS n FROM sample WHERE id = ?1 OR age = ?1 OR name = ?",
        [30, "Jane Smith"],
    ).collect()
    assert r[0].n == 2  # John (age 30) + Jane (name)


def test_query_named_params(eng):
    r = eng.query(
        "SELECT name FROM sample WHERE age > :lo AND age < @hi AND id != $skip",
        {"lo": 20, "hi": 32, "skip": 2},
    ).collect()
    assert [x.name for x in r] == ["John Doe"]


def test_params_string_escaping(eng):
    # quotes and backslashes survive binding byte-for-byte
    eng.execute(
        "INSERT INTO sample (id, name, age, email) VALUES (?, ?, ?, ?)",
        [9, "O'Brien \\ Sons", 44, "ob@example.com"],
    )
    got = eng.query("SELECT name FROM sample WHERE id = ?", [9]).collect()
    assert got[0].name == "O'Brien \\ Sons"


def test_params_null_and_placeholder_in_literal(eng):
    # NULL binding; a '?' inside a string literal is data, not a slot
    r = eng.query("SELECT (? IS NULL) AS isn, '?' AS q FROM sample LIMIT 1",
                  [None]).collect()
    assert bool(r[0].isn) is True and r[0].q == "?"
    # nor is one inside a comment: sqlite3 binds a single parameter
    import sqlite3

    from filesql_spark import dialect

    assert dialect.bind_params("SELECT ? AS a -- why?\n", [1]).strip() == "SELECT 1 AS a"
    con = sqlite3.connect(":memory:")
    con.executescript("CREATE TABLE sample (id INTEGER); INSERT INTO sample VALUES (1);")
    for sql, params in [
        ("SELECT ? AS a -- why?\n", [1]),
        ("SELECT /* ?1 or :x? */ ? AS a FROM sample WHERE id = ?", [2, 1]),
    ]:
        want = con.execute(sql, params).fetchall()
        assert [tuple(r) for r in eng.query(sql, params).collect()] == want
    con.close()


def test_params_errors(eng):
    with pytest.raises(FilesqlError, match="out of range"):
        eng.query("SELECT * FROM sample WHERE id = ?", [])
    with pytest.raises(FilesqlError, match="never referenced"):
        eng.query("SELECT * FROM sample", [1])
    with pytest.raises(FilesqlError, match="needs a dict"):
        eng.query("SELECT * FROM sample WHERE id = :a", [1])
    with pytest.raises(FilesqlError, match="needs a sequence"):
        eng.query("SELECT * FROM sample WHERE id = ?", {"a": 1})
    with pytest.raises(FilesqlError, match="no value supplied"):
        eng.query("SELECT * FROM sample WHERE id = :a", {"b": 1})


def test_execute_update_with_params(eng):
    n = eng.execute("UPDATE sample SET age = age + ? WHERE name LIKE ?",
                    [1, "%John%"])
    assert n == 2
    r = eng.query("SELECT SUM(age) AS s FROM sample").collect()
    assert r[0].s == 30 + 25 + 35 + 2


def test_prepared_statement(eng):
    # database/sql Prepare → repeated Query/Exec with different args
    # (reference bulk-insert loop shape, builder.go:692-704)
    with eng.prepare("SELECT name FROM sample WHERE id = ?") as st:
        assert st.query([1]).collect()[0].name == "John Doe"
        assert st.query([2]).collect()[0].name == "Jane Smith"
    with pytest.raises(FilesqlError, match="closed"):
        st.query([3])
    ins = eng.prepare("INSERT INTO sample (id, name, age, email) VALUES (?, ?, ?, ?)")
    for row in [(20, "A", 1, "a@x"), (21, "B", 2, "b@x")]:
        assert ins.execute(list(row)) == 1
    ins.close()
    assert eng.query("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 5
    with pytest.raises(FilesqlError, match="empty"):
        eng.prepare("   ")


def test_changes_and_total_changes(eng):
    # SQLite connection-state functions, resolved against the engine's
    # DML counters (sqlite3 ground truth: changes() = rows of the LAST
    # completed DML, total_changes() = running sum)
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE s (id INTEGER, name TEXT, age INTEGER)")
    con.executemany("INSERT INTO s VALUES (?,?,?)",
                    [(1, "John Doe", 30), (2, "Jane Smith", 25), (3, "Bob Johnson", 35)])
    con.execute("UPDATE s SET age = age + 1 WHERE age > 26")
    exp = con.execute("SELECT changes(), total_changes()").fetchone()
    con.close()

    eng.execute("UPDATE sample SET age = age + 1 WHERE age > 26")
    got = eng.query("SELECT changes() AS c, total_changes() AS t").collect()[0]
    # sqlite3's total includes its 3 setup inserts; ours counts the one
    # UPDATE (the CSV load is ingestion, not DML) — changes() matches
    assert got.c == exp[0] == 2
    assert got.t == 2
    eng.execute("DELETE FROM sample WHERE id = 1")
    got = eng.query("SELECT changes() AS c, total_changes() AS t").collect()[0]
    assert (got.c, got.t) == (1, 3)


def test_last_insert_rowid(eng):
    """r11 bridge — every expectation pinned against stdlib sqlite3.
    Exact for integer-PRIMARY-KEY tables (SQLite's rowid alias → the
    inserted key) and append-only implicit-rowid tables (dense 1..R file
    rowids + per-insert counts). Contract/divergences documented at
    engine.__init__'s counter."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 0
    con.execute("CREATE TABLE s (id INTEGER, name TEXT)")
    con.executemany("INSERT INTO s VALUES (?,?)",
                    [(1, "a"), (2, "b"), (3, "c")])  # mirrors sample.csv
    con.execute("INSERT INTO s VALUES (50, 'x')")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 4
    con.execute("INSERT INTO s VALUES (51, 'y'), (52, 'z')")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 6
    con.execute("CREATE TABLE k (pk INTEGER PRIMARY KEY, v TEXT)")
    con.execute("INSERT INTO k VALUES (500, 'q')")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 500
    con.execute("INSERT INTO k VALUES (600, 'r'), (601, 's')")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 601
    con.close()

    q = lambda: eng.query("SELECT last_insert_rowid() AS r").collect()[0].r
    assert q() == 0  # fresh connection, no INSERT yet
    # implicit rowids: sample.csv loaded 3 rows → dense rowids 1..3
    eng.execute("INSERT INTO sample VALUES (50, 'x', 1, 'x@x')")
    assert q() == 4
    eng.execute("INSERT INTO sample VALUES (51, 'y', 2, 'y@x'), "
                "(52, 'z', 3, 'z@x')")
    assert q() == 6
    # declared integer PRIMARY KEY = SQLite's rowid alias
    eng.execute("CREATE TABLE k (pk INTEGER PRIMARY KEY, v TEXT)")
    eng.execute("INSERT INTO k VALUES (500, 'q')")
    assert q() == 500
    eng.execute("INSERT INTO k VALUES (600, 'r'), (601, 's')")
    assert q() == 601


def test_last_insert_rowid_delete_histories(eng):
    """r13 decision (VERDICT r12 #6): the post-DELETE re-count policy
    stays. It is exact vs sqlite3 for max-rowid deletes and delete-all
    (SQLite reuses the freed id, and a re-count lands on the same
    number); the one divergent history — a NON-max delete followed by
    an insert — is pinned explicitly. A mark surviving deletes would
    invert the trade (middle deletes exact, max/delete-all wrong), and
    telling the cases apart needs a per-row hidden rowid — a total
    ordering this engine deliberately avoids (engine.__init__)."""
    import sqlite3

    def sqlite_history(deletes):
        con = sqlite3.connect(":memory:")
        con.execute("CREATE TABLE s (id INTEGER, name TEXT, age INTEGER, email TEXT)")
        con.executemany(
            "INSERT INTO s VALUES (?,?,?,?)",
            [(1, "a", 30, "a@x"), (2, "b", 25, "b@x"), (3, "c", 35, "c@x")],
        )
        con.execute("INSERT INTO s VALUES (50, 'x', 1, 'x@x')")  # rowid 4
        for d in deletes:
            con.execute(d.replace("sample", "s"))
        con.execute("INSERT INTO s VALUES (60, 'y', 2, 'y@x')")
        v = con.execute("SELECT last_insert_rowid()").fetchone()[0]
        con.close()
        return v

    q = lambda: eng.query("SELECT last_insert_rowid() AS r").collect()[0].r
    # max-rowid delete: SQLite reuses the freed id; the re-count agrees
    eng.execute("INSERT INTO sample VALUES (50, 'x', 1, 'x@x')")  # rowid 4
    eng.execute("DELETE FROM sample WHERE id = 50")
    eng.execute("INSERT INTO sample VALUES (60, 'y', 2, 'y@x')")
    assert q() == sqlite_history(["DELETE FROM sample WHERE id = 50"]) == 4
    # delete-all: next rowid restarts at 1 in both engines
    eng.execute("DELETE FROM sample")
    eng.execute("INSERT INTO sample VALUES (70, 'z', 3, 'z@x')")
    assert q() == sqlite_history(["DELETE FROM sample"]) == 1
    # the pinned divergence: delete a NON-max row — SQLite's next rowid
    # is max+1 (here 3: rows 1 and 70's rowid 1... rebuild a 3-row table)
    eng.execute("INSERT INTO sample VALUES (71, 'w', 4, 'w@x'), "
                "(72, 'v', 5, 'v@x')")  # rowids 2,3
    eng.execute("DELETE FROM sample WHERE id = 71")  # frees rowid 2
    eng.execute("INSERT INTO sample VALUES (73, 'u', 6, 'u@x')")
    assert q() == 3  # ours: re-count (2 survivors) + 1
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE s (id INTEGER)")
    con.executemany("INSERT INTO s VALUES (?)", [(70,), (71,), (72,)])
    con.execute("DELETE FROM s WHERE id = 71")
    con.execute("INSERT INTO s VALUES (73)")
    assert con.execute("SELECT last_insert_rowid()").fetchone()[0] == 4
    con.close()


def test_sqlite_style_error_messages(eng):
    """Analysis errors surface with SQLite's wording (the reference
    passes SQLite messages through verbatim; Test_ErrorMessageQuality,
    filesql_test.go:2274). The Spark exception stays chained."""
    with pytest.raises(FilesqlError, match="no such table: missing"):
        eng.query("SELECT * FROM missing")
    with pytest.raises(FilesqlError, match="no such column: nope"):
        eng.query("SELECT nope FROM sample")
    with pytest.raises(FilesqlError, match="ambiguous column name: id"):
        eng.query("SELECT id FROM sample a, sample b")
    with pytest.raises(FilesqlError, match="syntax error"):
        eng.query("SELECT * FORM sample")
    # chained cause preserved for debugging
    try:
        eng.query("SELECT * FROM missing")
    except FilesqlError as ex:
        assert ex.__cause__ is not None


def test_sqlite_master_stores_view_sql(eng):
    """SQLite stores each object's creating statement in sqlite_master.sql
    — views included (r11; table DDL was already synthesized)."""
    eng.execute("CREATE VIEW adults AS SELECT name FROM sample WHERE age >= 18")
    row = eng.query(
        "SELECT sql FROM sqlite_master WHERE type = 'view' AND name = 'adults'"
    ).collect()[0]
    assert row.sql == (
        'CREATE VIEW "adults" AS SELECT name FROM sample WHERE age >= 18'
    )


def test_explain_query_plan_tree(eng):
    """EXPLAIN QUERY PLAN keeps SQLite's (id, parent, notused, detail)
    schema with the parent tree derived from Spark's physical plan; a
    join plan exercises the branching (':-') prefix form."""
    rows = eng.query(
        "EXPLAIN QUERY PLAN SELECT a.name FROM sample a "
        "JOIN sample b ON a.id = b.id WHERE a.age > 1"
    ).collect()
    assert [r.id for r in rows] == list(range(len(rows)))
    assert rows[0].parent == 0
    by_id = {r.id: r for r in rows}
    for r in rows[1:]:
        assert r.parent in by_id and r.parent < r.id  # a well-formed tree
    assert any("Join" in r.detail for r in rows)
    assert any("FileScan" in r.detail or "Scan" in r.detail for r in rows)
    # bare EXPLAIN: formatted text lines
    flat = eng.query("EXPLAIN SELECT count(*) FROM sample").collect()
    assert flat[0].detail.startswith("== Physical Plan ==")


def test_view_rederivation_is_lazy_and_failures_recorded(eng):
    """r12 ADVICE: base-table mutations mark views dirty instead of
    re-analyzing every view per statement; the first read flushes. A
    re-derivation failure (base table dropped) keeps the last-good
    DataFrame (documented divergence) and is recorded in _view_errors."""
    eng.execute("CREATE TABLE b (k INTEGER, v TEXT)")
    eng.execute("INSERT INTO b VALUES (1, 'a')")
    eng.execute("CREATE VIEW vb AS SELECT k * 2 AS kk FROM b")
    assert eng.query("SELECT kk FROM vb").collect()[0].kk == 2
    # the mutation reaches Spark, and the views re-derive, on the next read
    eng.execute("INSERT INTO b VALUES (5, 'z')")
    assert eng._bound["b"] is not eng.table("b")
    assert sorted(r.kk for r in eng.query("SELECT kk FROM vb").collect()) == [2, 10]
    assert eng._bound["b"] is eng.table("b")
    # drop the base: the view keeps its last-good rows, and the failure
    # is recorded instead of silently swallowed
    eng.execute("DROP TABLE b")
    assert sorted(r.kk for r in eng.query("SELECT kk FROM vb").collect()) == [2, 10]
    assert "vb" in eng._view_errors and "b" in eng._view_errors["vb"]
    # recreating the base heals the view and clears the record
    eng.execute("CREATE TABLE b (k INTEGER, v TEXT)")
    eng.execute("INSERT INTO b VALUES (7, 'q')")
    assert [r.kk for r in eng.query("SELECT kk FROM vb").collect()] == [14]
    assert "vb" not in eng._view_errors


def test_explain_query_plan_corpus(eng):
    """r12 (VERDICT r11 #8): a pinned corpus of EXPLAIN QUERY PLAN
    outputs locking the tree surface — every plan must be a well-formed
    SQLite-schema tree (root id 0, parent < id, notused = 0) and its
    detail column must name the physical operator families the query
    shape implies (the Spark analogue of SQLite's SCAN/SEARCH/USE INDEX
    wording). Exact node text is NOT pinned — AQE renames nodes across
    Spark versions; operator families don't."""
    corpus = [
        # (sql, substrings that must appear somewhere in detail)
        ("SELECT name FROM sample WHERE id = 1",
         ["Scan", "Filter"]),
        ("SELECT COUNT(*) FROM sample",
         ["Aggregate"]),
        ("SELECT age, COUNT(*) FROM sample GROUP BY age",
         ["Aggregate", "Scan"]),
        ("SELECT a.name FROM sample a JOIN sample b ON a.id = b.id",
         ["Join", "Scan"]),
        # ORDER BY + LIMIT compiles to the top-k operator, not a full
        # sort — the plan SQLite's "USE TEMP B-TREE FOR ORDER BY" maps to
        ("SELECT name FROM sample ORDER BY age LIMIT 2",
         ["TakeOrderedAndProject", "Scan"]),
        ("SELECT DISTINCT age FROM sample",
         ["Aggregate"]),
        ("SELECT name FROM sample UNION ALL SELECT name FROM sample",
         ["Union", "Scan"]),
        ("SELECT name, SUM(age) OVER (PARTITION BY email) FROM sample",
         ["Window"]),
    ]
    for sql, needles in corpus:
        rows = eng.query(f"EXPLAIN QUERY PLAN {sql}").collect()
        assert rows, sql
        assert [c for c in rows[0].__fields__] == [
            "id", "parent", "notused", "detail"
        ], sql
        assert rows[0].id == 0 and rows[0].parent == 0, sql
        assert all(r.notused == 0 for r in rows), sql
        ids = [r.id for r in rows]
        assert ids == list(range(len(rows))), (sql, ids)  # preorder ids
        assert all(r.parent < r.id for r in rows[1:]), sql  # a tree
        text = "\n".join(r.detail for r in rows)
        for needle in needles:
            assert needle in text, (sql, needle, text)


# ---------------------------------------------------- in-memory snapshots
# Every table version is a lazy local checkpoint: computed on its first
# read, then served from executor memory (engine.py, "State model").


def _materialized(df) -> bool:
    """Whether a stored table version has been read (its local
    checkpoint is filled)."""
    return df._jdf.queryExecution().analyzed().rdd().isCheckpointed()


def test_autosave_over_original_counts_each_row_once(spark, tmp_path):
    # the table is never read before the first commit overwrites its
    # file; the next statement must build on the snapshot, not re-read
    # the rewritten file (which double-counted the inserted row)
    import sqlite3

    path = tmp_path / "t.csv"
    path.write_text("id,v\n1,10\n2,20\n3,30\n")
    stmts = [
        "BEGIN", "INSERT INTO t VALUES (4, 40)", "COMMIT",
        "BEGIN", "UPDATE t SET v = v + 1 WHERE id = 1", "COMMIT",
    ]
    con = sqlite3.connect(":memory:", isolation_level=None)
    con.executescript(
        "CREATE TABLE t (id INTEGER, v INTEGER);"
        "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30);"
    )
    for s in stmts:
        con.execute(s)
    want = con.execute("SELECT count(*), sum(v) FROM t").fetchall()
    con.close()
    e = fs.Builder().add_path(str(path)).enable_auto_save("", on="commit").open(
        spark=spark
    )
    try:
        for s in stmts:
            e.execute(s)
        got = [tuple(r) for r in e.query("SELECT count(*), sum(v) FROM t").collect()]
    finally:
        e.close()
    assert got == want == [(4, 101)]
    assert path.read_text().splitlines() == ["id,v", "1,11", "2,20", "3,30", "4,40"]


def test_open_failure_closes_engine(spark, tmp_path, monkeypatch):
    import lzma
    import tempfile

    from filesql_spark.errors import EmptyFileError

    spill = tmp_path / "spill"
    spill.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(spill))
    (tmp_path / "snap_leak_a.csv.xz").write_bytes(lzma.compress(b"id,v\n1,10\n"))
    (tmp_path / "snap_leak_empty.csv").write_text("")
    (tmp_path / "snap_leak_empty2.csv").write_text("")
    with pytest.raises(EmptyFileError, match=r"snap_leak_empty\.csv"):
        fs.open(
            str(tmp_path / "snap_leak_a.csv.xz"),
            str(tmp_path / "snap_leak_empty.csv"),
            str(tmp_path / "snap_leak_empty2.csv"),
            spark=spark,
        )
    assert list(spill.iterdir()) == []
    assert not spark.catalog.tableExists("snap_leak_a")


_SNAP_SETUP = [
    "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
    "CREATE TRIGGER no_neg BEFORE INSERT ON t BEGIN "
    "SELECT RAISE(ABORT, 'negative') WHERE NEW.v < 0; END",
    "INSERT INTO t VALUES (1, 10), (2, 20)",
]


@pytest.mark.parametrize(
    "stmts",
    [
        ["BEGIN", "INSERT INTO t VALUES (3, 30)", "ROLLBACK"],
        [
            "BEGIN", "INSERT INTO t VALUES (3, 30)", "SAVEPOINT sp",
            "INSERT INTO t VALUES (4, 40)", "ROLLBACK TO sp", "COMMIT",
        ],
        ["INSERT INTO t VALUES (3, 30)", "INSERT INTO t VALUES (4, -1)"],
    ],
    ids=["rollback", "rollback_to", "raise_abort"],
)
def test_unwind_restores_unread_version_matches_sqlite(eng, stmts):
    import sqlite3

    from filesql_spark.errors import TriggerRaise

    con = sqlite3.connect(":memory:", isolation_level=None)
    want_errors, got_errors = [], []
    for s in _SNAP_SETUP + stmts:
        try:
            con.execute(s)
        except sqlite3.DatabaseError as err:
            want_errors.append((s, str(err)))
        try:
            eng.execute(s)
        except TriggerRaise as err:
            got_errors.append((s, str(err)))
    want = con.execute("SELECT id, v FROM t ORDER BY id").fetchall()
    con.close()
    # the restored version was never read: its first read is this query
    assert not _materialized(eng.table("t"))
    got = [tuple(r) for r in eng.query("SELECT id, v FROM t ORDER BY id").collect()]
    assert got == want
    assert [s for s, _ in got_errors] == [s for s, _ in want_errors]
    assert _materialized(eng.table("t"))


# ------------------------------------------------ one catalog vs sqlite3
# Tables and views share one namespace, and triggers follow the object
# they are defined on. Each case runs the same statements through stdlib
# sqlite3 (autocommit) and the engine, and compares the error messages
# and then the rows of one query.

_NS_SETUP = [
    "CREATE TABLE t (id INTEGER, v TEXT)",
    "INSERT INTO t VALUES (1, 'a'), (2, 'b')",
    "CREATE VIEW v AS SELECT id FROM t WHERE id = 1",
    "CREATE TABLE log (id INTEGER)",
]
_MASTER = "SELECT type, name, tbl_name FROM sqlite_master WHERE name <> 'sample' ORDER BY name"


@pytest.mark.parametrize(
    "stmts, sql",
    [
        (["CREATE VIEW t AS SELECT 9 AS id, 'z' AS v"], "SELECT id, v FROM t ORDER BY id"),
        (["CREATE VIEW v AS SELECT id FROM t WHERE id = 2"], "SELECT id FROM v"),
        (["CREATE TABLE v (x INTEGER)"], _MASTER),
        (["CREATE VIEW IF NOT EXISTS v AS SELECT id FROM t WHERE id = 2"], "SELECT id FROM v"),
        (["DROP TABLE v", "DROP VIEW t"], _MASTER),
        (["CREATE TABLE T (x INTEGER)", "CREATE VIEW V AS SELECT 1 AS x"], _MASTER),
        (["ALTER TABLE log RENAME TO v"], _MASTER),
        (
            ['CREATE VIEW "my view" AS SELECT v FROM t WHERE id = 2'],
            'SELECT v FROM "my view"',
        ),
        (
            [
                "CREATE TRIGGER tv INSTEAD OF INSERT ON v "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "DROP VIEW v",
            ],
            _MASTER,
        ),
        (
            [
                "CREATE TRIGGER ta AFTER INSERT ON t "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "ALTER TABLE t RENAME TO u",
                "INSERT INTO u VALUES (3, 'c')",
            ],
            "SELECT id FROM log",
        ),
        (
            [
                "CREATE TRIGGER ta AFTER INSERT ON t "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "ALTER TABLE t RENAME TO u",
            ],
            "SELECT name, tbl_name FROM sqlite_master WHERE type = 'trigger'",
        ),
        # a view over a dropped table heals when the table is recreated
        (
            [
                "DROP TABLE t",
                "CREATE TABLE t AS SELECT 1 AS id, 'n' AS v UNION ALL SELECT 1, 'm'",
            ],
            "SELECT id FROM v",
        ),
        # a WHEN subquery sees the firing statement's write
        (
            [
                "CREATE TRIGGER tw AFTER INSERT ON t WHEN (SELECT count(*) FROM t) > 2 "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "INSERT INTO t VALUES (3, 'c')",
            ],
            "SELECT id FROM log",
        ),
        # ... and the write of a trigger that fired before it: whichever
        # of the two fires first, the other's WHEN is then false
        (
            [
                "CREATE TRIGGER w1 AFTER INSERT ON t WHEN (SELECT count(*) FROM log) = 0 "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "CREATE TRIGGER w2 AFTER INSERT ON t WHEN (SELECT count(*) FROM log) = 0 "
                "BEGIN INSERT INTO log VALUES (NEW.id + 100); END",
                "INSERT INTO t VALUES (3, 'c')",
            ],
            "SELECT count(*) FROM log",
        ),
        # a statement names a table or view in any letter case
        (["INSERT INTO T VALUES (3, 'c')"], "SELECT id, v FROM t ORDER BY id"),
        (["UPDATE T SET v = 'z' WHERE id = 1"], "SELECT id, v FROM t ORDER BY id"),
        (["DELETE FROM T WHERE id = 2"], "SELECT id, v FROM t ORDER BY id"),
        (
            [
                "CREATE TRIGGER vd INSTEAD OF DELETE ON v "
                "BEGIN INSERT INTO log VALUES (OLD.id); END",
                "DELETE FROM V",
            ],
            "SELECT id FROM log",
        ),
        (["DROP TABLE T"], _MASTER),
        (["ALTER TABLE T ADD COLUMN c INTEGER"], "SELECT id, v, c FROM t ORDER BY id"),
        (
            [
                "CREATE TRIGGER ta AFTER INSERT ON T "
                "BEGIN INSERT INTO log VALUES (NEW.id); END",
                "INSERT INTO t VALUES (3, 'c')",
            ],
            "SELECT id FROM log",
        ),
        (["CREATE TABLE k (ID INTEGER PRIMARY KEY, v TEXT)"], "PRAGMA table_info(K)"),
        # ALTER TABLE on a view raises SQLite's error for each form
        (["ALTER TABLE v ADD COLUMN z INTEGER"], _MASTER),
        (["ALTER TABLE v RENAME TO v2"], _MASTER),
        (["ALTER TABLE v RENAME COLUMN id TO k"], _MASTER),
        (["ALTER TABLE v DROP COLUMN id"], _MASTER),
    ],
    ids=[
        "view_over_table", "view_twice", "table_over_view", "view_if_not_exists",
        "drop_wrong_kind", "names_ignore_case", "rename_onto_view", "quoted_view_name",
        "drop_view_drops_triggers", "rename_trigger_fires", "rename_trigger_tbl_name",
        "view_heals_on_recreate", "when_sees_statement_write", "when_sees_earlier_trigger_write",
        "insert_table_case", "update_table_case", "delete_table_case", "delete_view_case",
        "drop_table_case", "alter_table_case", "trigger_target_case", "pragma_table_case",
        "alter_view_add", "alter_view_rename", "alter_view_rename_column",
        "alter_view_drop_column",
    ],
)
def test_one_namespace_matches_sqlite(eng, stmts, sql):
    _catalog_differential(eng, stmts, sql)


# ------------------------------------------------- one DML path vs sqlite3
# Top-level, view (INSTEAD OF), trigger-body and upsert writes share one
# statement compiler: column names resolve case-insensitively and the
# target is aliased by its name everywhere.

_UPSERT_SETUP = [
    "CREATE TABLE u (id INTEGER PRIMARY KEY, v TEXT)",
    "INSERT INTO u VALUES (1, 'a')",
]
_VIEW_SETUP = [
    "CREATE VIEW w AS SELECT id, v FROM t",
    "CREATE TRIGGER wu INSTEAD OF UPDATE ON w "
    "BEGIN UPDATE t SET v = NEW.v WHERE id = OLD.id; END",
]
_T_ROWS = "SELECT id, v FROM t ORDER BY id"
_U_ROWS = "SELECT id, v FROM u ORDER BY id"


@pytest.mark.parametrize(
    "stmts, sql",
    [
        (["INSERT INTO t (ID, V) VALUES (3, 'z')"], _T_ROWS),
        (
            _UPSERT_SETUP
            + ["INSERT INTO u (ID, V) VALUES (1, 'b'), (2, 'c') "
               "ON CONFLICT(id) DO UPDATE SET v = excluded.v"],
            _U_ROWS,
        ),
        (["UPDATE t SET ID = 10 WHERE id = 1"], _T_ROWS),
        (
            _UPSERT_SETUP
            + ["INSERT INTO u VALUES (1, 'b') ON CONFLICT(id) DO UPDATE SET V = excluded.v"],
            _U_ROWS,
        ),
        (_VIEW_SETUP + ["UPDATE w SET V = 'w' WHERE id = 2"], _T_ROWS),
        (["UPDATE t SET v = 'q' WHERE t.id = 2"], _T_ROWS),
        (["UPDATE t SET v = t.v || '!' WHERE id = 2"], _T_ROWS),
        (["DELETE FROM t WHERE t.id = 1"], _T_ROWS),
        (
            _VIEW_SETUP
            + [
                "CREATE TRIGGER li AFTER INSERT ON log "
                "BEGIN UPDATE w SET v = 'L' || NEW.id WHERE id = 2; END",
                "INSERT INTO log VALUES (7)",
            ],
            _T_ROWS,
        ),
        # a statement that changes no row fires no row trigger
        (
            [
                "INSERT INTO log VALUES (0)",
                "CREATE TRIGGER tu AFTER UPDATE ON t BEGIN UPDATE log SET id = id + 1; END",
                "UPDATE t SET v = 'x' WHERE id = 9",
            ],
            "SELECT id FROM log",
        ),
        (
            [
                'CREATE TABLE "my t" (id INTEGER, v TEXT)',
                "CREATE TRIGGER tl AFTER INSERT ON log "
                "BEGIN INSERT INTO \"my t\" VALUES (NEW.id, 'x'); END",
                "INSERT INTO log VALUES (5)",
            ],
            'SELECT id, v FROM "my t"',
        ),
        # a view or correlated trigger-body statement that matches no
        # row fires nothing either
        (
            [
                "INSERT INTO log VALUES (0)",
                "CREATE VIEW w AS SELECT id, v FROM t",
                "CREATE TRIGGER wu INSTEAD OF UPDATE ON w "
                "BEGIN UPDATE log SET id = id + 1; END",
                "UPDATE w SET v = 'x' WHERE id = 9",
            ],
            "SELECT id FROM log",
        ),
        (
            [
                "INSERT INTO log VALUES (0)",
                "CREATE VIEW w AS SELECT id, v FROM t",
                "CREATE TRIGGER wd INSTEAD OF DELETE ON w "
                "BEGIN UPDATE log SET id = id + 1; END",
                "DELETE FROM w WHERE id = 9",
            ],
            "SELECT id FROM log",
        ),
        (
            [
                "INSERT INTO log VALUES (0)",
                "CREATE VIEW w AS SELECT id, v FROM t",
                "CREATE TRIGGER wi INSTEAD OF INSERT ON w "
                "BEGIN UPDATE log SET id = id + 1; END",
                "INSERT INTO w SELECT id, v FROM t WHERE 0",
            ],
            "SELECT id FROM log",
        ),
        (
            [
                "CREATE TABLE c (n INTEGER)",
                "INSERT INTO c VALUES (0)",
                "CREATE TRIGGER tu AFTER UPDATE ON t BEGIN UPDATE c SET n = n + 1; END",
                "CREATE TRIGGER li AFTER INSERT ON log "
                "BEGIN UPDATE t SET v = 'z' WHERE id = NEW.id + 100; END",
                "INSERT INTO log VALUES (1)",
            ],
            "SELECT n FROM c",
        ),
        # a DO UPDATE that inserts moves the implicit-rowid mark on
        (
            [
                "CREATE TABLE s (k TEXT PRIMARY KEY, v TEXT)",
                "INSERT INTO s VALUES ('a', '1')",
                "INSERT INTO s VALUES ('b', '2') ON CONFLICT(k) DO UPDATE SET v = excluded.v",
                "INSERT INTO s VALUES ('c', '3')",
            ],
            "SELECT last_insert_rowid()",
        ),
    ],
    ids=[
        "insert_column_case", "upsert_insert_column_case", "update_set_case",
        "upsert_set_case", "view_update_set_case", "update_where_qualified",
        "update_set_qualified", "delete_where_qualified", "body_update_on_view",
        "zero_row_update_fires_nothing", "body_insert_quoted_table",
        "zero_row_view_update_fires_nothing", "zero_row_view_delete_fires_nothing",
        "zero_row_view_insert_fires_nothing", "zero_row_body_update_fires_nothing",
        "upsert_insert_moves_rowid",
    ],
)
def test_dml_paths_match_sqlite(eng, stmts, sql):
    _catalog_differential(eng, stmts, sql)


def _catalog_differential(eng, stmts, sql):
    import sqlite3

    con = sqlite3.connect(":memory:", isolation_level=None)
    want_errors, got_errors = [], []
    for s in _NS_SETUP + stmts:
        try:
            con.execute(s)
        except sqlite3.DatabaseError as err:
            want_errors.append((s, str(err)))
        try:
            eng.execute(s)
        except FilesqlError as err:
            got_errors.append((s, str(err)))
    want = con.execute(sql).fetchall()
    con.close()
    got = [tuple(r) for r in eng.query(sql).collect()]
    assert got_errors == want_errors
    assert got == want


@pytest.mark.parametrize("first", ["path", "reader"])
def test_builder_duplicate_name_raises(spark, tmp_path, first):
    # the reference treats a duplicate table name as a hard error
    # (stream_processor.go:109-121), whichever inputs collide
    (tmp_path / "users.csv").write_text("id\n1\n")
    b = fs.Builder()
    if first == "path":
        b.add_path(str(tmp_path / "users.csv"))
    else:
        b.add_reader(b"id\n1\n", "users", "csv")
    b.add_reader(b"id\n2\n", "users", "csv")
    with pytest.raises(DuplicateTableError, match="table users already exists"):
        b.open(spark=spark)


def test_dml_with_trigger_never_rebuilds_sqlite_master(eng, monkeypatch):
    eng.execute("CREATE TABLE log (id INTEGER)")
    eng.execute(
        "CREATE TRIGGER tr AFTER INSERT ON sample "
        "BEGIN INSERT INTO log VALUES (NEW.id); END"
    )
    master = eng.query(_MASTER).collect()
    bound = []
    bind = eng._bind
    monkeypatch.setattr(
        eng, "_bind", lambda name, df: (bound.append(name), bind(name, df))
    )
    for k in range(3):
        eng.execute(f"INSERT INTO sample VALUES ({10 + k}, 'n', 1, 'e')")
        eng.execute(f"UPDATE sample SET age = age + 1 WHERE id = {10 + k}")
        eng.execute(f"DELETE FROM sample WHERE id = {10 + k}")
    assert eng.query("SELECT COUNT(*) AS n FROM log").collect()[0].n == 3
    assert eng.query(_MASTER).collect() == master
    assert "sample" in bound and "log" in bound
    assert "sqlite_master" not in bound


def test_open_leaves_spark_side_derived(eng):
    # open ends with a flush: a bare spark.sql sees the loaded tables and
    # sqlite_master before any engine statement runs
    assert eng.spark.sql("SELECT COUNT(*) AS n FROM sample").collect()[0].n == 3
    assert [r.name for r in eng.spark.sql("SELECT name FROM sqlite_master").collect()] == ["sample"]
