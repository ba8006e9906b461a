"""CREATE TRIGGER — bounded SQLite-trigger subset, set-based execution.

The reference inherits triggers wholesale from SQLite (reference
README.md:333-334, doc.go:74).  This engine supports the subset real
deployments of the reference use — audit-log and cascade triggers on the
three DML verbs — re-expressed the Spark-first way:

Instead of SQLite's row-at-a-time FOR EACH ROW loop, a fired trigger
binds the statement's *transition relation* (the affected rows, with
``new``/``old`` struct columns) and runs each body statement ONCE,
set-based, against it — the SQL-standard statement-trigger-with-
transition-tables model.  For bodies that are per-row functional (every
``INSERT``/``UPDATE``/``DELETE`` whose effect on each row depends only on
that row's NEW/OLD values — the audit and cascade patterns), this is
row-for-row identical to SQLite, while staying one distributed DataFrame
plan instead of a driver-side loop.

Supported:

- ``CREATE [TEMP] TRIGGER [IF NOT EXISTS] name [BEFORE|AFTER|INSTEAD OF]
  {INSERT | DELETE | UPDATE [OF cols]} ON table-or-view [FOR EACH ROW]
  [WHEN expr] BEGIN stmt; ... END``
- Body statements: ``INSERT INTO t [(cols)] VALUES (...), ...`` and
  ``INSERT INTO t [(cols)] SELECT`` / ``UPDATE t SET ... [WHERE ...]`` /
  ``DELETE FROM t [WHERE ...]``, each free to reference ``new.col`` /
  ``old.col``. They run through dml.py's one statement path, as SQLite
  compiles body steps with its top-level INSERT/UPDATE/DELETE code: an
  INSERT's VALUES become a SELECT over the transition relation, and an
  UPDATE/DELETE that reads new./old. takes the transition relation as
  its correlation source (a broadcast join on the WHERE predicate). The
  target may be a table or a view with an INSTEAD OF trigger, matched
  case-insensitively. Plus single-expression ``SELECT`` statements containing
  ``RAISE(ABORT|FAIL|ROLLBACK, msg)`` (the precondition-check pattern,
  both the ``SELECT RAISE(…) WHERE cond`` and ``SELECT CASE WHEN cond
  THEN RAISE(…) END`` spellings), evaluated set-based over the
  transition relation — any matching row raises with SQLite's exact
  message. ABORT undoes the triggering statement, ROLLBACK cancels the
  enclosing transaction, FAIL keeps the applied effects (dml.py's raise
  guard; SQLite's row-order-dependent FAIL partial effects have no
  distributed equivalent — set-based all-rows effects are kept instead).
- ``INSTEAD OF`` triggers on views (r11): DML against a view with a
  matching INSTEAD OF trigger takes the same path as DML on a table, up
  to the apply step: the transition relation holds the view's rows
  (INSERT: the would-be rows; UPDATE/DELETE: matching view rows with SET
  applied for ``new``) and the body runs INSTEAD of mutating — the view
  itself is never written, and ``changes()`` reports 0, both exactly as
  SQLite. Registration errors use SQLite's
  wording ("cannot create INSTEAD OF trigger on table: t" / "cannot
  create BEFORE trigger on view: v").
- Cascading triggers fire (depth-capped); ``DROP TRIGGER`` removes one.

Documented divergences (each raises or is noted, never silent):

- ``BEFORE`` triggers run after the mutation is computed (the transition
  relation carries the correct pre/post images; only bodies that re-read
  the target table mid-statement could tell the difference).
- ``RAISE(IGNORE)`` is unsupported → error (a per-row skip cannot be
  reproduced once the statement applied set-based).
- A body UPDATE/DELETE whose WHERE matches one target row against
  MULTIPLE transition rows raises (SQLite applies them sequentially in
  rowid order; a distributed plan has no such order — same call as the
  upsert batch divergence in dml._insert).
- A body statement with no ``new``/``old`` reference runs once per
  *statement*, not once per affected row (statement-trigger semantics);
  relative updates like ``SET n = n + 1`` therefore bump once per fire,
  not once per row.  INSERT bodies are exempt: they always produce one
  row per transition row, exactly like SQLite. A top-level table
  statement that changes no row fires nothing, like SQLite's FOR EACH
  ROW triggers; view and trigger-body statements are not counted, so
  they fire over whatever rows matched, possibly none.
- Upsert branches fire triggers with SQLite's recursive_triggers=OFF
  semantics (the default, inherited by the reference): OR REPLACE fires
  INSERT triggers for the landed rows (the implicit delete of a
  replaced row fires nothing), OR IGNORE / DO NOTHING fire INSERT only
  for rows that actually inserted, DO UPDATE fires UPDATE triggers on
  conflicted rows and INSERT triggers on the inserted remainder — all
  pinned differentially (r11; test_triggers).
- Statement atomicity: SQLite rolls back the triggering statement AND
  all trigger effects if any body statement errors; here a mid-body
  failure leaves earlier body effects applied unless the caller wrapped
  the statement in BEGIN/SAVEPOINT (which restores tables and triggers
  alike).  Wrap DML in a transaction where that matters.
"""

from __future__ import annotations

import dataclasses
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filesql_spark import dialect
from filesql_spark.errors import FilesqlError

_MAX_DEPTH = 10  # cascade cap (SQLite: SQLITE_MAX_TRIGGER_DEPTH = 1000)


@dataclasses.dataclass(frozen=True)
class Trigger:
    name: str
    timing: str  # "BEFORE" | "AFTER" ("" parses as BEFORE, SQLite's default)
    event: str  # "INSERT" | "UPDATE" | "DELETE"
    update_of: tuple[str, ...] | None  # lowercased; None = any column
    table: str
    when: str | None
    body: tuple[str, ...]
    sql: str  # original statement, for sqlite_master


_CREATE_TRIGGER_RE = re.compile(
    r"""^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TRIGGER\s+
        (?P<ine>IF\s+NOT\s+EXISTS\s+)?
        (?:["'`\[]?)(?P<name>[\w$]+)(?:["'`\]]?)\s+
        (?P<timing>BEFORE\s+|AFTER\s+|INSTEAD\s+OF\s+)?
        (?P<event>INSERT|DELETE|UPDATE(?:\s+OF\s+(?P<ofcols>[^)]*?))?)\s+
        ON\s+(?:["'`\[]?)(?P<table>[\w$]+)(?:["'`\]]?)\s*
        (?:FOR\s+EACH\s+ROW\s*)?
        (?:WHEN\s+(?P<when>.*?)\s*)?
        BEGIN\s+(?P<body>.*?)\s*END\s*;?\s*$""",
    re.I | re.S | re.X,
)


def parse_create_trigger(sql: str) -> tuple[Trigger, bool]:
    """Parse CREATE TRIGGER; returns (trigger, if_not_exists)."""
    m = _CREATE_TRIGGER_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse CREATE TRIGGER: {sql.strip()[:120]}")
    timing = re.sub(r"\s+", " ", (m.group("timing") or "").strip().upper())
    event_raw = m.group("event").upper()
    event = "UPDATE" if event_raw.startswith("UPDATE") else event_raw
    update_of = None
    if m.group("ofcols"):
        update_of = tuple(
            c.strip().strip('"`[]').lower() for c in m.group("ofcols").split(",")
        )
    body = tuple(dialect.split_statements(m.group("body")))
    if not body:
        raise FilesqlError("CREATE TRIGGER: empty body")
    for stmt in body:
        kw = stmt.split(None, 1)[0].upper()
        if kw == "SELECT":
            if not _contains_raise(stmt):
                raise FilesqlError(
                    "SELECT in a trigger body is only supported when it "
                    "contains RAISE() (a plain SELECT's results would be "
                    "discarded)"
                )
            if re.search(r"(?i)\braise\s*\(\s*ignore\b", dialect._div_mask(stmt)):
                # reject at CREATE time, not first fire
                raise FilesqlError(
                    "RAISE(IGNORE) is not supported: the statement applies "
                    "set-based before triggers run, so a per-row skip "
                    "cannot be reproduced"
                )
            continue
        if kw not in ("INSERT", "UPDATE", "DELETE"):
            raise FilesqlError(
                f"unsupported statement in trigger body: {kw} "
                "(INSERT/UPDATE/DELETE, or SELECT with RAISE(), only)"
            )
        if _contains_raise(stmt):
            raise FilesqlError(
                "RAISE() is only supported inside trigger-body SELECT "
                "statements (the SQLite precondition-check pattern)"
            )
    return (
        Trigger(
            name=m.group("name"),
            timing=timing or "BEFORE",
            event=event,
            update_of=update_of,
            table=m.group("table"),
            when=m.group("when"),
            body=body,
            sql=sql.strip().rstrip(";"),
        ),
        m.group("ine") is not None,
    )


def _has_transition_ref(stmt: str) -> bool:
    return re.search(r"(?i)\b(new|old)\s*\.", dialect._div_mask(stmt)) is not None


def _contains_raise(stmt: str) -> bool:
    return re.search(r"(?i)\braise\s*\(", dialect._div_mask(stmt)) is not None


# ------------------------------------------------------------------- RAISE
# SQLite's RAISE(kind, msg) trigger expression → a marker string the
# set-based evaluation can detect: 'KIND\x01' || (msg). The body SELECT
# runs once over the (scoped) transition relation; any row whose result
# carries the marker raises TriggerRaise with the user message verbatim
# (sqlite3 surfaces exactly that text as IntegrityError).

_RAISE_KINDS = frozenset({"ROLLBACK", "ABORT", "FAIL"})
_RAISE_SEP = "\x01"


def _raise_marker(args: list[str]) -> str:
    """The ``raise`` call builder for ``dialect._rewrite_calls``."""
    kind = args[0].upper()
    if kind == "IGNORE":
        raise FilesqlError(
            "RAISE(IGNORE) is not supported: the statement applies "
            "set-based before triggers run, so a per-row skip cannot "
            "be reproduced"
        )
    if kind not in _RAISE_KINDS or len(args) != 2:
        call = f"RAISE({', '.join(args)})"
        raise FilesqlError(f"cannot parse RAISE(): {call[:80]}")
    return f"('{kind}{_RAISE_SEP}' || ({args[1]}))"


_TAIL_RX = re.compile(r"(?i)\b(?:where|group|having|order|limit)\b")
_FROM_OR_TAIL_RX = re.compile(r"(?i)\b(?:from|where|group|having|order|limit)\b")


def _splice_tx_source(stmt: str, view: str) -> str:
    """Bind the body SELECT to the transition relation: append
    ``FROM <txview>`` when the statement has no FROM (``SELECT RAISE(…)
    WHERE cond``), or ``CROSS JOIN <txview>`` when it does (the
    existence-check pattern ``SELECT RAISE(…) FROM t WHERE t.k = NEW.k``
    — SQLite evaluates the body once per transition row; the cross join
    is the set-based equivalent). NEW./OLD. resolve as fields of the
    relation's ``new``/``old`` struct columns."""
    code = dialect._div_mask(stmt)
    m = dialect._find_depth0(code, _FROM_OR_TAIL_RX)
    insert = f" FROM {view} "
    if m is not None and m.group().lower() == "from":
        insert = f" CROSS JOIN {view} "
        m = dialect._find_depth0(code, _TAIL_RX, m.end())
    if m is not None:
        return stmt[: m.start()] + insert + stmt[m.start() :]
    return stmt + insert


def _body_select_raise(engine, stmt: str, tx: DataFrame) -> None:
    """Evaluate a RAISE-bearing body SELECT over the transition relation;
    raise TriggerRaise if any row produces a marker value."""
    from filesql_spark.errors import TriggerRaise

    view = _register_tx(engine, tx)
    try:
        s = dialect._rewrite_calls(stmt.rstrip().rstrip(";"), "raise", _raise_marker)
        s = _splice_tx_source(s, view)
        df = engine.spark.sql(dialect.rewrite(s, engine._column_types()))
        if len(df.columns) != 1:
            raise FilesqlError(
                "trigger-body SELECT with RAISE() must be a single "
                "expression"
            )
        # auto-generated column names may contain dots — re-alias first
        df = df.toDF("__raise__")
        col = F.col("__raise__").cast("string")
        hits = df.filter(col.contains(_RAISE_SEP)).limit(1).collect()
        if hits:
            kind, _, msg = str(hits[0][0]).partition(_RAISE_SEP)
            raise TriggerRaise(kind, msg)
    finally:
        _drop_tx(engine, view)


# ------------------------------------------------------------------ firing


def registered(engine, table: str, event: str) -> list:
    """The triggers registered for (table, event)."""
    return [
        t
        for t in engine._catalog.triggers.values()
        if t.table.lower() == table.lower() and t.event == event
    ]


def fire(
    engine,
    table: str,
    event: str,
    tx: DataFrame,
    set_cols: set[str] | None = None,
) -> None:
    """Fire every trigger registered for (table, event) with transition
    relation ``tx`` (columns: ``new`` and/or ``old`` structs)."""
    matching = registered(engine, table, event)
    if not matching:
        return
    from filesql_spark.errors import TriggerRaise

    depth = engine._trigger_depth
    if depth >= _MAX_DEPTH:
        raise FilesqlError(f"trigger cascade exceeds depth {_MAX_DEPTH}")
    engine._trigger_depth = depth + 1
    # sqlite3_last_insert_rowid(): "once the trigger program ends, the
    # value reverts to what it was before the trigger fired" — body
    # INSERTs see their own rowids mid-body, but never leak outward
    pre_rowid = engine._last_insert_rowid
    try:
        for t in matching:
            if (
                t.event == "UPDATE"
                and t.update_of is not None
                and set_cols is not None
                and not (set(t.update_of) & {c.lower() for c in set_cols})
            ):
                continue  # UPDATE OF cols: none of them assigned
            scoped = tx
            if t.when:
                # a WHEN subquery must see the statement's write and those
                # of the triggers that fired before this one
                engine._flush()
                scoped = scoped.filter(
                    F.coalesce(
                        F.expr(dialect.rewrite(t.when, engine._column_types())).cast("boolean"),
                        F.lit(False),
                    )
                )
            try:
                for stmt in t.body:
                    _run_body_stmt(engine, stmt, scoped)
            except TriggerRaise as e:
                # overwrite at every cascade level: the OUTERMOST fire's
                # trigger timing decides the statement-level counter
                # unwind in dml._run (BEFORE → no row landed)
                e.timing = t.timing
                raise
    finally:
        engine._trigger_depth = depth
        engine._last_insert_rowid = pre_rowid


def _run_body_stmt(engine, stmt: str, tx: DataFrame) -> None:
    # an earlier body statement may have mutated a table; the Spark-side
    # tables and views the body reads must catch up first (engine._flush)
    engine._flush()
    kw = stmt.split(None, 1)[0].upper()
    if kw == "SELECT":
        _body_select_raise(engine, stmt, tx)
    elif kw == "INSERT":
        _body_insert(engine, stmt, tx)
    else:
        from filesql_spark import dml

        # the transition relation is the correlation source of a body
        # UPDATE/DELETE that reads new./old.; one that does not runs
        # once per statement
        dml._run(engine, stmt, tx if _has_transition_ref(stmt) else None)


def _body_insert(engine, stmt: str, tx: DataFrame) -> None:
    """INSERT body → one inserted row per transition row (FOR EACH ROW
    parity): the VALUES tuple becomes a SELECT over the transition
    relation, then rides the normal INSERT path (and thereby fires any
    cascading triggers on the target)."""
    from filesql_spark import dml

    m = dml._INSERT_RE.match(stmt)
    if not m:
        raise FilesqlError(f"cannot parse trigger-body INSERT: {stmt[:120]}")
    view = _register_tx(engine, tx)
    try:
        src = m.group("body").strip().rstrip(";")
        if src.upper().startswith("VALUES"):
            tuples = _level0_tuples(src[6:])
            selects = [
                f"SELECT {t} FROM {view}" for t in tuples
            ]
            select_src = " UNION ALL ".join(selects)
        else:
            if _has_transition_ref(src):
                raise FilesqlError(
                    "trigger-body INSERT … SELECT may not reference new/old "
                    "(use VALUES with new.col/old.col expressions)"
                )
            # no transition refs: SQLite runs it once per affected row;
            # cross join the transition relation to preserve multiplicity
            select_src = (
                f"SELECT s.* FROM ({src.rstrip(';')}) AS s CROSS JOIN {view}"
            )
        dml.execute(engine, stmt[: m.start("body")] + select_src)
    finally:
        _drop_tx(engine, view)


def _level0_tuples(values_src: str) -> list[str]:
    """['a, b', 'c, d'] from 'VALUES (a, b), (c, d)' minus the keyword."""
    from filesql_spark import dml

    tuples = []
    for piece in dml._split_level0(values_src):
        piece = piece.strip().rstrip(";").strip()
        if not (piece.startswith("(") and piece.endswith(")")):
            raise FilesqlError(f"cannot parse VALUES tuple: {piece[:80]}")
        tuples.append(piece[1:-1])
    return tuples


_TX_SEQ = 0


def _register_tx(engine, tx: DataFrame) -> str:
    global _TX_SEQ
    _TX_SEQ += 1
    view = f"__filesql_trigger_tx_{_TX_SEQ}__"
    tx.createOrReplaceTempView(view)
    return view


def _drop_tx(engine, view: str) -> None:
    try:
        engine.spark.catalog.dropTempView(view)
    except Exception:
        pass
