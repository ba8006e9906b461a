"""Engine: the Spark-native equivalent of the reference's in-memory SQLite DB.

Reference architecture (SURVEY §1.1): one `:memory:` SQLite holding N tables,
queried via database/sql, dumped via DumpDatabase, with auto-save hooks on
Close()/Commit() (save.go). Here: one SparkSession holding N temp views over
DataFrames, queried via spark.sql behind the SQLite-dialect shim, dumped via
the sinks package, with the same auto-save hooks.

State model: one ``Catalog`` value holds everything SQLite keeps in its
``:memory:`` schema: tables, views (defining SQL + current DataFrame),
triggers, and the per-table origins, primary keys and rowid marks.
Tables and views share one case-insensitive namespace, checked in one
place (``register`` for file loads, Builder readers and CREATE TABLE;
CREATE VIEW and RENAME ask the same ``Catalog.kind``). Every stored table
version is an in-memory snapshot, the reference's ingest-once
``:memory:`` database in Spark terms: ``_reregister`` is the one snapshot
point, and it stores ``df.localCheckpoint(eager=False)``. A loaded
table's file is parsed, and a DML/DDL/trigger result is computed, once,
on the version's first read; every later statement, view, RETURNING and
dump reads executor memory instead of re-parsing the file and replaying
the table's DML history.

Because every value in the catalog is immutable, a transaction is a saved
``catalog.copy()``, mirroring save.go:268-294, 340-361. One save stack
holds ``(savepoint name, or None for BEGIN, saved catalog)``; rollback,
ROLLBACK TO and a statement's RAISE unwind all restore by making a saved
catalog current again. An old table version stays alive only while a
saved catalog references it; Spark's ContextCleaner frees it after that.

The Spark-side objects (one temp view per table and view, and
``sqlite_master``) are derived from the catalog by ``_flush``, on entry
to ``query``/``execute``, before a trigger's WHEN and before each
trigger-body statement. It binds what changed, drops what is gone,
re-derives the views when a table changed (SQLite views are dynamic),
and rebuilds ``sqlite_master`` only when its rows change. ``open`` ends
with a flush, so the loaded tables and ``sqlite_master`` are Spark temp
views right away; a bare ``spark.sql`` sees a statement's change only
after the engine's next ``query``/``execute``.

Caveats of local checkpoints: snapshots live in executor block storage,
which suits the engine's local mode (driver and executor are one JVM); on
a cluster, a lost executor loses the snapshots it held. A source file
edited after ``open`` is seen only until its table's first read.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, fields, replace

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from filesql_spark import dialect
from filesql_spark.errors import DuplicateTableError, FilesqlError, TransactionError
from filesql_spark.session import get_spark
from filesql_spark.sources.loader import load_file
from filesql_spark.sources.walker import collect_files_from_paths


@dataclass
class AutoSaveConfig:
    """Reference: builder.go:196-241 (EnableAutoSave / EnableAutoSaveOnCommit).

    ``output_dir == ""`` means overwrite the original input files'
    directories (save.go:386-399).
    """

    output_dir: str
    on: str = "close"  # "close" | "commit"
    format: str | None = None  # None → keep each table's original format
    compression: str | None = None


@dataclass
class Catalog:
    """The database schema and its per-table side data, as one value.
    Every entry is immutable (table versions are snapshots, triggers are
    frozen, a view pairs its SQL with a DataFrame), so a transaction
    saves a shallow ``copy``."""

    tables: dict[str, DataFrame] = field(default_factory=dict)
    # view name → (defining SELECT, current DataFrame), in creation order
    views: dict[str, tuple[str, DataFrame]] = field(default_factory=dict)
    origins: dict[str, str] = field(default_factory=dict)  # table → source file
    # declared PRIMARY KEY columns (from CREATE TABLE), the implicit
    # conflict target for INSERT OR REPLACE/IGNORE and bare ON CONFLICT
    primary_keys: dict[str, list[str]] = field(default_factory=dict)
    # lowercased trigger name → triggers.Trigger
    triggers: dict[str, object] = field(default_factory=dict)
    # implicit-rowid high-water marks (last_insert_rowid, see Engine.__init__)
    rowid_hwm: dict[str, int] = field(default_factory=dict)

    def copy(self) -> Catalog:
        return Catalog(**{f.name: dict(getattr(self, f.name)) for f in fields(self)})

    def resolve(self, name: str) -> str | None:
        """The stored spelling of the table or view ``name`` names in the
        one namespace both share, or None. Names match case-insensitively,
        like SQLite (and Spark's temp views) match identifiers."""
        key = name.lower()
        return next((n for n in [*self.tables, *self.views] if n.lower() == key), None)

    def kind(self, name: str) -> str | None:
        """'table' or 'view' if ``name`` is taken (see ``resolve``)."""
        stored = self.resolve(name)
        if stored is None:
            return None
        return "table" if stored in self.tables else "view"

    def drop(self, name: str) -> None:
        """DROP TABLE/VIEW: the object's triggers and side data go with it
        (lang_droptable.html, lang_dropview.html)."""
        for d in (self.tables, self.views, self.primary_keys, self.rowid_hwm):
            d.pop(name, None)
        self.triggers = {
            k: t for k, t in self.triggers.items() if t.table.lower() != name.lower()
        }

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE … RENAME TO: the triggers and side data follow."""
        for d in (self.tables, self.origins, self.primary_keys, self.rowid_hwm):
            if old in d:
                d[new] = d.pop(old)
        self.triggers = {
            k: replace(t, table=new) if t.table.lower() == old.lower() else t
            for k, t in self.triggers.items()
        }


class Engine:
    """A loaded database: named DataFrames + SQL front door + export."""

    def __init__(self, spark: SparkSession | None = None, auto_save: AutoSaveConfig | None = None):
        self.spark = spark or get_spark()
        from filesql_spark.json1 import register_udfs

        register_udfs(self.spark)  # json1 mutation + json_each (idempotent)
        self.auto_save = auto_save
        self._catalog = Catalog()
        # save stack: (lowercased savepoint name, or None for BEGIN, saved
        # catalog). A savepoint issued outside BEGIN starts an implicit
        # transaction (SQLite: releasing the outermost savepoint commits).
        self._saves: list[tuple[str | None, Catalog]] = []
        # what _flush last derived: temp view name → bound DataFrame, and
        # the rows sqlite_master was built from
        self._bound: dict[str, DataFrame] = {}
        self._master_rows: list[tuple] | None = None
        self._trigger_depth = 0  # trigger cascade depth (triggers.fire)
        self._temp_files: list[str] = []
        self._closed = False
        # connection-state function counters (SQLite changes() /
        # total_changes()); updated on the execute() DML path
        self._changes = 0
        self._total_changes = 0
        # last_insert_rowid() bridge (r11): the rowid of the most recent
        # plain INSERT. Exact vs sqlite3 for (a) tables with a declared
        # single-column integer PRIMARY KEY — SQLite's rowid alias, we
        # report the max inserted key (== the last row's for single-row
        # and ascending multi-row inserts) — and (b) append-only
        # implicit-rowid histories, via a per-table row-count high-water
        # mark. Divergences (documented, not silent): a DELETE that frees
        # the max rowid invalidates the mark (SQLite would reuse the
        # freed id; next INSERT here re-counts), upsert paths leave the
        # counter untouched, and multi-row inserts with NON-ascending
        # explicit keys report the max, not the last.
        # Decision (r13, VERDICT r12 #6): the delete divergence stays.
        # A mark that SURVIVES deletes is exact only when the deleted
        # set excludes the current max rowid; it becomes wrong for
        # max-row deletes and delete-all (SQLite reuses the freed id:
        # 1..5, DELETE rowid 5, INSERT -> rowid 5 again), which the
        # re-count gets right. Neither policy dominates, and telling
        # them apart needs a per-row hidden rowid — a total ordering
        # over the table, which this engine deliberately avoids (no
        # scalable dense id in a distributed DataFrame). Re-count keeps
        # the suffix-delete/delete-all histories exact and the contract
        # simple; tests pin both the exact and the divergent cases.
        self._last_insert_rowid = 0
        # view name → last re-derivation failure (see _flush)
        self._view_errors: dict[str, str] = {}

    # ------------------------------------------------------------------ load

    def load_paths(self, paths: list[str]) -> None:
        """Collect + load every input path (reference Build/Open flow,
        builder.go:255-344).

        Files load concurrently, one thread per Spark core; the tables
        register on this thread in input order, so a duplicate name fails
        the same way on every run. If a file fails, the temp files of
        every file that did load are recorded (``close`` removes them)
        and the first error in input order is raised."""
        files = collect_files_from_paths(paths)
        load = inheritable_thread_target(self.spark)(
            lambda path: load_file(self.spark, path)
        )
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            futures = [pool.submit(load, path) for path in files]
        for fut in futures:
            if fut.exception() is None:
                self._temp_files.extend(fut.result().temp_files)
        for path, fut in zip(files, futures):
            for name, df in fut.result().tables:
                self.register(name, df, origin=path)

    def register(self, name: str, df: DataFrame, origin: str | None = None) -> None:
        """Add table ``name``. File loads, Builder readers and CREATE TABLE
        all come through here, so this is where a name already taken by a
        table or view fails (a hard error, like
        stream_processor.go:109-121)."""
        self._check_free(name, origin)
        if origin:
            self._catalog.origins[name] = origin
        self._reregister(name, df)

    def _check_free(self, name: str, origin: str | None = None) -> None:
        kind = self._catalog.kind(name)
        if kind is not None:
            src = f" (from {origin})" if origin else ""
            raise DuplicateTableError(f"{kind} {name} already exists{src}")

    def _reregister(self, name: str, df: DataFrame) -> None:
        """Store ``df`` as the table's current version: the engine's one
        snapshot point (see the module docstring). The lazy local
        checkpoint plans ``df`` now and computes it on its first read;
        from then on the version is a scan of executor memory."""
        self._catalog.tables[name] = df.localCheckpoint(eager=False)

    def _flush(self) -> None:
        """Derive the Spark-side objects from the catalog (see the module
        docstring). When a table changed, every view re-derives from its
        defining SQL in creation order, so reads see current data; the
        cost is analysis only, since a view stays a plan over the tables'
        snapshots. A view whose re-derivation fails (e.g. its base table
        was dropped) keeps its last-good DataFrame (documented
        divergence: SQLite errors at view-query time); the failure is
        recorded in ``_view_errors`` instead of vanishing."""
        cat, bound = self._catalog, self._bound
        gone = bound.keys() - cat.tables.keys() - cat.views.keys() - {"sqlite_master"}
        for name in gone:
            self.spark.catalog.dropTempView(_view_ident(name))
            del bound[name]
        changed = [n for n, df in cat.tables.items() if bound.get(n) is not df]
        for name in changed:
            self._bind(name, cat.tables[name])
        for name, (body, df) in cat.views.items():
            if gone or changed:
                try:
                    df = self.spark.sql(dialect.rewrite(body, self._column_types()))
                except Exception as e:
                    self._view_errors[name] = f"{type(e).__name__}: {e}"
                else:
                    self._view_errors.pop(name, None)
                    cat.views[name] = (body, df)
            if bound.get(name) is not df:
                self._bind(name, df)
        rows = self._sqlite_master_rows()
        if rows != self._master_rows:
            self._master_rows = rows
            schema = "type string, name string, tbl_name string, rootpage int, sql string"
            self._bind("sqlite_master", self.spark.createDataFrame(rows, schema=schema))

    def _bind(self, name: str, df: DataFrame) -> None:
        """The one place a Spark temp view is created: ``_view_ident``
        quotes names Spark would reject bare."""
        df.createOrReplaceTempView(_view_ident(name))
        self._bound[name] = df

    # --------------------------------------------------------------- catalog

    def table(self, name: str) -> DataFrame:
        stored = self._catalog.resolve(name)
        if stored not in self._catalog.tables:
            raise FilesqlError(f"no such table: {name}")
        return self._catalog.tables[stored]

    def table_names(self) -> list[str]:
        return sorted(self._catalog.tables)

    def _column_types(self) -> dict[str, str]:
        """Lowercased column → SQLite affinity bucket ('int' | 'real' |
        'text') for the dialect's affinity passes; columns whose name is
        typed differently across tables drop out (ambiguous →
        untracked). 'text' (r13b) lets the dialect project
        mixed-affinity coalesce/ifnull to SQLite TEXT rendering and
        apply SQLite's numeric coercion inside avg/sum/total — every
        numeric consumer treats it exactly like untracked."""
        out: dict[str, str | None] = {}
        cat = self._catalog
        for df in [*cat.tables.values(), *(df for _sql, df in cat.views.values())]:
            for f in df.schema.fields:
                s = f.dataType.simpleString()
                if s in ("tinyint", "smallint", "int", "bigint"):
                    t = "int"
                elif s in ("float", "double") or s.startswith("decimal"):
                    t = "real"
                elif s == "string":
                    t = "text"
                else:
                    t = None
                key = f.name.lower()
                if key in out and out[key] != t:
                    out[key] = None
                else:
                    out[key] = t
        return {k: v for k, v in out.items() if v is not None}

    def _ddl_for(self, name: str) -> str:
        cols = ", ".join(
            f'"{f.name}" {_sqlite_type(f.dataType.simpleString())}'
            for f in self._catalog.tables[name].schema.fields
        )
        return f'CREATE TABLE "{name}" ({cols})'

    def _sqlite_master_rows(self) -> list[tuple]:
        """Rows of the ``sqlite_master`` compat view (filesql.go:224-248;
        README.md:149 queries it verbatim). SQLite stores each object's
        creating statement verbatim; table DDL is synthesized."""
        cat = self._catalog
        return (
            [("table", n, n, 0, self._ddl_for(n)) for n in cat.tables]
            + [
                ("view", n, n, 0, f'CREATE VIEW "{n}" AS {body}')
                for n, (body, _df) in cat.views.items()
            ]
            + [("trigger", t.name, t.table, 0, t.sql) for t in cat.triggers.values()]
        )

    def pragma_table_info(self, name: str) -> DataFrame:
        """PRAGMA table_info(t) compat (filesql.go:275-301 uses it)."""
        fields = self.table(name).schema.fields
        keys = self._catalog.primary_keys.get(self._catalog.resolve(name), [])
        pk = {c.lower(): i + 1 for i, c in enumerate(keys)}
        rows = [
            (i, f.name, _sqlite_type(f.dataType.simpleString()), 0, None,
             pk.get(f.name.lower(), 0))
            for i, f in enumerate(fields)
        ]
        return self.spark.createDataFrame(
            rows,
            schema="cid int, name string, type string, notnull int, dflt_value string, pk int",
        )

    # ----------------------------------------------------------------- query

    def query(self, sql: str, params=None) -> DataFrame:
        """Run a SELECT-shaped statement (SQLite dialect) → DataFrame.

        ``params`` binds SQLite-style placeholders (``?``/``?N`` with a
        sequence, ``:name``/``@name``/``$name`` with a dict) exactly like
        the reference's database/sql surface (filesql.go: plain
        ``db.QueryContext(ctx, query, args...)``)."""
        self._flush()
        sql = dialect.blank_comments(sql)
        if params is not None:
            sql = dialect.bind_params(sql, params)
        sql = dialect.substitute_session_functions(
            sql, self._changes, self._total_changes,
            self._last_insert_rowid,
        )
        stmt = _first_keyword(sql)
        if stmt == "PRAGMA":
            return self._pragma(sql)
        if stmt == "WITH":
            from filesql_spark.recursive import is_recursive, run_recursive

            if is_recursive(sql):
                # Spark SQL lacks WITH RECURSIVE; emulate by delta iteration
                ctypes = self._column_types()
                return run_recursive(
                    self.spark, sql, lambda s: dialect.rewrite(s, ctypes)
                )
        if stmt in ("SELECT", "WITH", "VALUES"):
            from pyspark.errors import AnalysisException

            try:
                return self.spark.sql(dialect.rewrite(sql, self._column_types()))
            except AnalysisException as e:
                translated = _sqlite_style_error(e)
                if translated is not None:
                    raise translated from e
                raise
        if stmt in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
            # DML … RETURNING behaves as a row-producing statement
            # (SQLite 3.35+); dml raises if the clause is absent.
            # REPLACE is SQLite's alias for INSERT OR REPLACE.
            from filesql_spark import dml

            return dml.dml_returning(self, sql.strip())
        if stmt == "EXPLAIN":
            # SQLite's EXPLAIN [QUERY PLAN] <select> — surfaced honestly
            # as Spark's plan. QUERY PLAN keeps SQLite's exact schema
            # (id, parent, notused, detail) with the parent tree derived
            # from the PHYSICAL plan's structure; bare EXPLAIN returns
            # the formatted explain text one line per row (SQLite's VDBE
            # opcode listing has no meaningful Spark equivalent, and its
            # docs tell applications not to depend on the format).
            m = re.match(r"(?is)^\s*EXPLAIN(\s+QUERY\s+PLAN)?\s+(.*)$", sql)
            qp, inner = m.group(1), m.group(2)
            qe = self.query(inner)._jdf.queryExecution()
            if qp:
                rows = []
                last_at_depth: dict[int, int] = {}
                for i, line in enumerate(
                    qe.executedPlan().toString().splitlines()
                ):
                    t = re.match(r"^([: ]*)(?:[+:]-\s)?(.*)$", line)
                    depth = (len(t.group(1)) // 3 + 1) if t.group(1) or line.lstrip().startswith(("+-", ":-")) else 0
                    last_at_depth[depth] = i
                    parent = last_at_depth.get(depth - 1, 0) if depth else 0
                    rows.append((i, parent, 0, t.group(2)))
                return self.spark.createDataFrame(
                    rows,
                    "id int, parent int, notused int, detail string",
                )
            plan = qe.explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            return self.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "detail string"
            )
        raise FilesqlError(
            f"query() handles SELECT statements; use execute() for {stmt}"
        )

    def execute(self, sql: str, params=None) -> int:
        """Run a DML/DDL/transaction statement; returns affected-row count
        (database/sql Exec semantics). ``params`` binds placeholders as in
        :meth:`query`."""
        from filesql_spark import dml

        self._flush()
        sql = dialect.blank_comments(sql)
        if params is not None:
            sql = dialect.bind_params(sql, params)
        sql = dialect.substitute_session_functions(
            sql, self._changes, self._total_changes,
            self._last_insert_rowid,
        )

        stmt = _first_keyword(sql)
        if stmt == "BEGIN":
            self.begin()
            return 0
        if stmt == "COMMIT":
            self.commit()
            return 0
        if stmt == "ROLLBACK":
            name = _savepoint_target(sql)
            if name is not None:
                self.rollback_to(name)
            else:
                self.rollback()
            return 0
        if stmt == "SAVEPOINT":
            name = _savepoint_ident(sql, "SAVEPOINT")
            self.savepoint(name)
            return 0
        if stmt in ("VACUUM", "ANALYZE", "REINDEX"):
            # SQLite maintenance statements. All three are storage/stats
            # chores with no observable query effect here: Spark has no
            # freelist to VACUUM, Catalyst collects its own statistics
            # (ANALYZE), and CREATE INDEX is already a catalog no-op
            # (REINDEX). Accepted so scripts written for SQLite run
            # unchanged; VACUUM keeps SQLite's one observable rule —
            # it refuses inside a transaction.
            if stmt == "VACUUM" and self._saves:
                raise TransactionError("cannot VACUUM from within a transaction")
            return 0
        if stmt == "RELEASE":
            name = _savepoint_ident(sql, "RELEASE")
            self.release(name)
            return 0
        if stmt in ("INSERT", "REPLACE", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER"):
            # the dml regex parsers anchor on the keyword: comments were
            # blanked on entry
            n = dml.execute(self, sql.strip())
            if stmt in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
                self._changes = n
                self._total_changes += n
            return n
        # SELECT via execute: run it, report row count
        return self.query(sql).count()

    def execute_script(self, script: str) -> int:
        """Run a semicolon-separated multi-statement script (DDL + DML +
        transaction control), like database/sql's Exec of a script — the
        reference's examples feed such scripts verbatim
        (example_test.go:295). Returns the total affected-row count.

        Statements split with SQLite's rule (dialect.split_statements):
        semicolons inside literals, quoted identifiers, comments and
        trigger bodies don't split.
        """
        total = 0
        for stmt in dialect.split_statements(script):
            kw = _first_keyword(stmt)
            if not kw:
                continue  # no leading keyword
            if kw in ("SELECT", "WITH", "VALUES", "PRAGMA"):
                self.query(stmt).count()
            else:
                total += self.execute(stmt)
        return total

    def prepare(self, sql: str) -> "Statement":
        """Prepared-statement handle (database/sql ``db.Prepare`` →
        ``Stmt.Query/Exec`` — the reference passes Prepare through its
        driver.Conn, save.go:296-299, and bulk-loads via PrepareContext,
        builder.go:692-704). Spark has no compile-once plan handle — every
        run re-analyzes — so this is a thin rebind-per-call wrapper; the
        statement keyword is validated eagerly like SQLite's prepare."""
        kw = _first_keyword(sql)
        if not kw:
            raise FilesqlError("cannot prepare an empty statement")
        return Statement(self, sql)

    def _pragma(self, sql: str) -> DataFrame:
        import re

        m = re.match(r"\s*PRAGMA\s+table_info\s*\(\s*[\"'`]?([^)\"'`]+)[\"'`]?\s*\)", sql, re.I)
        if m:
            return self.pragma_table_info(m.group(1).strip())
        m = re.match(r"\s*PRAGMA\s+index_list\s*\(\s*[\"'`]?([^)\"'`]+)[\"'`]?\s*\)", sql, re.I)
        if m:
            # CREATE INDEX is a catalog no-op here (Spark plans its own
            # access paths), so every table reports zero indexes — the
            # same shape SQLite returns for an unindexed table
            self.table(m.group(1).strip())  # raises on unknown table
            return self.spark.createDataFrame(
                [], schema="seq int, name string, `unique` int, origin string, partial int"
            )
        m = re.match(r"\s*PRAGMA\s+foreign_key_list\s*\(\s*[\"'`]?([^)\"'`]+)[\"'`]?\s*\)", sql, re.I)
        if m:
            # no FK constraints are tracked (file-backed tables have none;
            # CREATE TABLE accepts-and-ignores them) — empty result, the
            # shape SQLite returns for an unconstrained table
            self.table(m.group(1).strip())  # raises on unknown table
            return self.spark.createDataFrame(
                [],
                schema=(
                    "id int, seq int, `table` string, `from` string, "
                    "`to` string, on_update string, on_delete string, "
                    "`match` string"
                ),
            )
        m = re.match(
            r"\s*PRAGMA\s+foreign_keys\s*(=\s*(ON|OFF|TRUE|FALSE|1|0)\s*)?;?\s*$",
            sql,
            re.I,
        )
        if m:
            # reflexively issued by SQLite client code on connect; FK
            # enforcement doesn't exist here, so the toggle is accepted
            # and the query form reports it off — SQLite's own default
            return self.spark.createDataFrame(
                [] if m.group(1) else [(0,)], schema="foreign_keys int"
            )
        if re.match(r"\s*PRAGMA\s+journal_mode\s*(=\s*\w+\s*)?;?\s*$", sql, re.I):
            # in-memory database: SQLite reports journal_mode=memory for
            # ':memory:' connections (the reference's builder.go:353-361
            # connection string), and mode changes are accepted no-ops
            return self.spark.createDataFrame(
                [("memory",)], schema="journal_mode string"
            )
        if re.match(r"\s*PRAGMA\s+database_list\s*;?\s*$", sql, re.I):
            # single in-memory database, exactly like the reference's
            # ':memory:' connection (builder.go:353-361)
            return self.spark.createDataFrame(
                [(0, "main", "")], schema="seq int, name string, file string"
            )
        raise FilesqlError(f"unsupported PRAGMA: {sql.strip()}")

    # ---------------------------------------------------------- transactions

    def begin(self) -> None:
        if self._saves:
            raise TransactionError(
                "transaction already in progress (nested BEGIN is not "
                "supported; use SAVEPOINT for nesting)"
            )
        self._saves.append((None, self._catalog.copy()))

    def commit(self) -> None:
        if not self._saves:
            raise TransactionError("no transaction in progress")
        self._saves.clear()
        if self.auto_save and self.auto_save.on == "commit":
            self._perform_auto_save()

    def rollback(self) -> None:
        """Cancel the whole transaction — back to BEGIN, or (for a
        savepoint-started implicit transaction) to the first SAVEPOINT."""
        if not self._saves:
            raise TransactionError("no transaction in progress")
        self._catalog = self._saves[0][1]
        self._saves.clear()

    # SQLite savepoint semantics (lang_savepoint.html): a savepoint outside
    # a transaction starts one; RELEASE of the outermost savepoint commits
    # it; ROLLBACK TO rewinds state but keeps the savepoint on the stack.
    # Names match case-insensitively; the most recent binding wins.

    def savepoint(self, name: str) -> None:
        self._saves.append((name.lower(), self._catalog.copy()))

    def _find_savepoint(self, name: str) -> int:
        key = name.lower()
        for i in range(len(self._saves) - 1, -1, -1):
            if self._saves[i][0] == key:
                return i
        raise TransactionError(f"no such savepoint: {name}")

    def release(self, name: str) -> None:
        del self._saves[self._find_savepoint(name):]
        # outermost savepoint of an implicit transaction → commit
        if not self._saves and self.auto_save and self.auto_save.on == "commit":
            self._perform_auto_save()

    def rollback_to(self, name: str) -> None:
        i = self._find_savepoint(name)
        del self._saves[i + 1 :]
        self._catalog = self._saves[i][1].copy()

    # ------------------------------------------------------------- lifecycle

    def dump(
        self,
        output_dir: str,
        format: str = "csv",  # noqa: A002
        compression: str | None = None,
        single_file: bool = True,
    ) -> list[str]:
        from filesql_spark.sinks.dump import dump_database

        return dump_database(
            self,
            output_dir,
            format=format,
            compression=compression,
            single_file=single_file,
        )

    def _perform_auto_save(self) -> None:
        """save.go:364-399: dump to output_dir, or overwrite originals when
        the configured dir is empty."""
        cfg = self.auto_save
        assert cfg is not None
        from filesql_spark.sinks.dump import dump_database, dump_table_to_path

        if cfg.output_dir:
            dump_database(
                self, cfg.output_dir, format=cfg.format or "csv", compression=cfg.compression
            )
            return
        cat = self._catalog
        for name, origin in cat.origins.items():
            if name in cat.tables:
                dump_table_to_path(cat.tables[name], origin)

    def close(self) -> None:
        if self._closed:
            return
        if self.auto_save and self.auto_save.on == "close":
            self._perform_auto_save()
        for name in self._bound:
            try:
                self.spark.catalog.dropTempView(_view_ident(name))
            except Exception:
                pass
        for tmp in self._temp_files:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        self._bound.clear()
        self._catalog = Catalog()
        self._closed = True

    def __enter__(self) -> Engine:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class Statement:
    """database/sql ``Stmt``: a reusable statement bound to its engine.
    ``query``/``execute`` mirror Stmt.Query/Stmt.Exec; ``close`` is a
    no-op kept for lifecycle parity (``defer stmt.Close()``)."""

    def __init__(self, engine: Engine, sql: str) -> None:
        self._engine = engine
        self._sql = sql
        self._closed = False

    def query(self, params=None) -> DataFrame:
        self._check_open()
        return self._engine.query(self._sql, params)

    def execute(self, params=None) -> int:
        self._check_open()
        return self._engine.execute(self._sql, params)

    def close(self) -> None:
        self._closed = True

    def _check_open(self) -> None:
        if self._closed:
            raise FilesqlError("statement is closed")

    def __enter__(self) -> "Statement":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def open(*paths: str, spark: SparkSession | None = None) -> Engine:  # noqa: A001
    """filesql.Open equivalent (filesql.go:92-94): load paths, return Engine."""
    if not paths:
        raise FilesqlError("at least one path is required")
    eng = Engine(spark=spark)
    try:
        eng.load_paths(list(paths))
        eng._flush()
    except BaseException:
        eng.close()  # drop the views and spill files of what did load
        raise
    return eng


def _sqlite_style_error(e) -> FilesqlError | None:
    """Map Spark's analysis errors onto SQLite's wording, which the
    reference surfaces verbatim (error-handling code matching
    'no such table'/'no such column' keeps working —
    filesql_test.go:2274 Test_ErrorMessageQuality). The Spark exception
    stays chained as __cause__."""
    cond = None
    for m in ("getCondition", "getErrorClass"):
        try:
            cond = getattr(e, m)()
            break
        except Exception:
            continue
    if not cond:
        return None
    try:
        params = e.getMessageParameters() or {}
    except Exception:
        params = {}

    def unq(s: str | None) -> str:
        return (s or "?").strip("`\"")

    if cond.startswith("TABLE_OR_VIEW_NOT_FOUND"):
        return FilesqlError(f"no such table: {unq(params.get('relationName'))}")
    if cond.startswith("UNRESOLVED_COLUMN"):
        return FilesqlError(f"no such column: {unq(params.get('objectName'))}")
    if cond.startswith("AMBIGUOUS_REFERENCE"):
        return FilesqlError(f"ambiguous column name: {unq(params.get('name'))}")
    if cond == "PARSE_SYNTAX_ERROR":
        tok = (params.get("error") or "?").strip("'")
        return FilesqlError(f'near "{tok}": syntax error')
    return None


def _view_ident(name: str) -> str:
    """Temp-view identifier for createOrReplaceTempView/dropTempView:
    Spark rejects names with spaces/unicode/punctuation unless backticked
    (the reference supports them via double-quoting, filesql_test.go:1736,
    :1892-2273)."""
    import re

    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return name
    return "`" + name.replace("`", "``") + "`"


def _first_keyword(sql: str) -> str:
    m = re.match(r"\s*(\w+)", dialect.blank_comments(sql))
    return m.group(1).upper() if m else ""


_IDENT = r"""(?:"([^"]+)"|`([^`]+)`|\[([^\]]+)\]|'([^']+)'|([A-Za-z_][\w$]*))"""


def _ident_of(m) -> str:
    return next(g for g in m.groups()[-5:] if g is not None)


def _savepoint_ident(sql: str, kind: str) -> str:
    """Name from `SAVEPOINT name` / `RELEASE [SAVEPOINT] name` (quoted or
    bare, per the SQLite grammar)."""
    import re

    pat = (
        rf"\s*{kind}\s+(?:SAVEPOINT\s+)?{_IDENT}\s*;?\s*$"
        if kind == "RELEASE"
        else rf"\s*{kind}\s+{_IDENT}\s*;?\s*$"
    )
    m = re.match(pat, sql, re.I)
    if not m:
        raise TransactionError(f"cannot parse {kind} statement: {sql.strip()}")
    return _ident_of(m)


def _savepoint_target(sql: str) -> str | None:
    """`ROLLBACK [TRANSACTION] TO [SAVEPOINT] name` → name; plain
    ROLLBACK → None."""
    import re

    m = re.match(
        rf"\s*ROLLBACK\s+(?:TRANSACTION\s+)?TO\s+(?:SAVEPOINT\s+)?{_IDENT}\s*;?\s*$",
        sql,
        re.I,
    )
    return _ident_of(m) if m else None


def _sqlite_type(spark_type: str) -> str:
    """Spark type → SQLite storage-class name (types.go:172-195 inverse)."""
    if spark_type in ("bigint", "int", "smallint", "tinyint"):
        return "INTEGER"
    if spark_type in ("double", "float"):
        return "REAL"
    return "TEXT"
