"""DML / DDL emulation over the engine catalog (SURVEY §2.B DML rows, §7.2 phase 5).

SQLite mutates B-trees; Spark DataFrames are immutable. Each statement
computes the table's next DataFrame lazily and stores it as the table's
new version in the engine catalog.

Every write takes one path, the way SQLite compiles a trigger's body
steps with the code it uses for top-level statements (trigger.c,
``codeTriggerProgram``): top-level INSERT/UPDATE/DELETE and REPLACE, the
upsert forms, DML on a view through its INSTEAD OF trigger, and
trigger-body DML (triggers.py). ``_run`` is the one dispatch; then, per
statement:

1. **compile** — ``_compile`` resolves the target (table or view) through
   ``Catalog.resolve`` and aliases its frame by the stored name, so
   ``t.col`` resolves; named columns resolve case-insensitively; one
   ``_column_types()`` map serves every dialect rewrite of the statement;
   ``_compile_set`` is the one SET compiler.
2. **match** — which rows the statement touches: the WHERE predicate over
   the target; or, for a trigger-body UPDATE/DELETE that reads
   ``new.``/``old.``, a broadcast join to the transition relation (the
   correlation source; a target row matching several transition rows
   raises); or, for ``ON CONFLICT … DO UPDATE``, a broadcast join to the
   incoming rows on the conflict key (``excluded.col``; duplicate keys in
   the batch raise).
3. **apply** — ``_apply`` stores the new version through
   ``engine._reregister``. A view is never written: its INSTEAD OF trigger
   fires instead and the statement reports 0 changes, like SQLite.
4. **transition** — ``_transition`` builds the ``new``/``old`` relation of
   the affected rows, once per fired event.
5. **fire** — ``triggers.fire`` runs the event's triggers over it.
6. **RETURNING** (SQLite 3.35+) — evaluated over the affected rows, on the
   immutable pre-swap plan, and handed back lazily.

Per verb: INSERT unions the incoming rows (VALUES or SELECT) onto the
table; the upserts (``INSERT OR REPLACE/IGNORE``, ``ON CONFLICT(key) DO
UPDATE/NOTHING``; SQLite 3.24+, doc.go:68-77) are key joins against the
current version; UPDATE is ``when(match, new).otherwise(old)`` per SET
column; DELETE keeps the rows the match rejects (a NULL predicate keeps
the row, SQL's three-valued DELETE).

DDL: CREATE TABLE/VIEW, DROP, CREATE INDEX (accepted no-op), CREATE
TRIGGER (triggers.py — BEFORE/AFTER/INSTEAD OF + RAISE) — the reference
advertises these via SQLite (README.md:333-334) — and ALTER TABLE RENAME
TO / RENAME COLUMN / ADD COLUMN / DROP COLUMN (SQLite 3.35+ forms) as plan
rewrites.

Affected-row counts match database/sql's Exec contract.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filesql_spark import dialect, triggers
from filesql_spark.errors import FilesqlError

_IDENT = r'(?:"(?P<q>[^"]+)"|`(?P<b>[^`]+)`|(?P<p>[\w-￿]+))'


def _ident(m: re.Match) -> str:
    return m.group("q") or m.group("b") or m.group("p")


def _keyword(sql: str) -> str:
    words = sql.split(None, 1)
    return words[0].upper() if words else ""


def _replace_alias(sql: str) -> str:
    """``REPLACE INTO t …`` → ``INSERT OR REPLACE INTO t …``. SQLite
    defines REPLACE as a pure alias for INSERT OR REPLACE (inherited by
    the reference via its SQLite engine, go.mod:11); rewriting the
    keyword routes it through the existing upsert machinery, RETURNING
    included."""
    out = re.sub(
        r"^\s*REPLACE\s+INTO\b", "INSERT OR REPLACE INTO", sql, count=1, flags=re.I
    )
    if out == sql:
        raise FilesqlError(f"cannot parse REPLACE: {sql.strip()[:120]}")
    return out


def execute(engine, sql: str) -> int:
    kw = _keyword(sql)
    if kw in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
        return _run(engine, sql)[0]
    if kw == "CREATE":
        return _create(engine, sql)
    if kw == "DROP":
        return _drop(engine, sql)
    if kw == "ALTER":
        return _alter(engine, sql)
    raise FilesqlError(f"unsupported statement: {kw}")


def dml_returning(engine, sql: str):
    """INSERT/UPDATE/DELETE … RETURNING … → DataFrame of the returned
    rows (SQLite 3.35+, inherited by the reference's engine). The
    mutation is applied as a side effect, like SQLite's."""
    _n, rows = _run(engine, sql)
    if rows is None:
        raise FilesqlError(f"query() on {_keyword(sql)} requires a RETURNING clause")
    return rows


def _run(engine, sql: str, tx: DataFrame | None = None):
    """The one DML dispatch (``execute``, ``dml_returning`` and
    trigger-body UPDATE/DELETE): returns (affected rows, RETURNING
    DataFrame | None). ``tx`` is the correlation source of a trigger-body
    statement that reads ``new.``/``old.``.

    A top-level statement runs with RAISE() unwind semantics
    (triggers.py): ABORT/ROLLBACK undo the statement's table effects
    (ROLLBACK additionally cancels an enclosing transaction, exactly
    SQLite's scope); FAIL keeps the applied effects. Statements fired
    from inside a trigger cascade pass through — the OUTERMOST statement
    owns the unwind."""
    kw = _keyword(sql)
    if kw == "REPLACE":
        sql, kw = _replace_alias(sql), "INSERT"
    verb = {"INSERT": _insert, "UPDATE": _update, "DELETE": _delete}[kw]
    if engine._trigger_depth:
        return verb(engine, sql, tx)
    from filesql_spark.errors import TriggerRaise

    pre, pre_rowid = engine._catalog.copy(), engine._last_insert_rowid
    try:
        return verb(engine, sql, tx)
    except TriggerRaise as e:
        if e.kind == "ROLLBACK" and engine._saves:
            # tables rewind to transaction start, not statement start
            engine.rollback()
        elif e.kind != "FAIL":
            # the statement's rows are undone, and so are its rowid
            # marks: the next insert reuses their rowids, exactly like
            # SQLite's reverted max-rowid
            engine._catalog = pre
        # last_insert_rowid(): sqlite3 keeps the aborted row's rowid when
        # an AFTER trigger raised (the row was inserted, then undone) but
        # leaves the counter untouched for a BEFORE-trigger raise (no row
        # ever landed) — both pinned empirically (test_triggers r12)
        if getattr(e, "timing", "") == "BEFORE" and e.kind != "FAIL":
            engine._last_insert_rowid = pre_rowid
        raise


# ------------------------------------------------------------------ compile


@dataclass(frozen=True)
class _Target:
    """A compiled statement's target: the stored name, the current frame
    aliased by that name, whether it is a view, and the one column-type
    map every dialect rewrite of the statement uses."""

    name: str
    df: DataFrame
    view: bool
    ctypes: dict[str, str]

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def expr(self, src: str) -> Column:
        return F.expr(dialect.rewrite(src, self.ctypes))

    def pred(self, where: str | None) -> Column:
        """WHERE → a never-NULL boolean (NULL does not match)."""
        if where is None:
            return F.lit(True)
        return F.coalesce(self.expr(where).cast("boolean"), F.lit(False))


def _compile(engine, name: str, event: str) -> _Target:
    """Resolve the statement's target. DML on a view needs an INSTEAD OF
    trigger for the event; without one, SQLite's error."""
    cat = engine._catalog
    stored = cat.resolve(name)
    view = stored in cat.views
    if view:
        if not any(
            t.table.lower() == stored.lower() and t.event == event and t.timing == "INSTEAD OF"
            for t in cat.triggers.values()
        ):
            raise FilesqlError(f"cannot modify {stored} because it is a view")
        df = cat.views[stored][1]
    else:
        df = engine.table(name)  # raises "no such table"
    return _Target(stored, df.alias(stored), view, engine._column_types())


def _resolve_col(df, name: str) -> str | None:
    """Actual column name for a case-insensitive identifier (SQLite and
    Spark SQL both resolve identifiers case-insensitively)."""
    return {c.lower(): c for c in df.columns}.get(name.lower())


def _compile_set(st: _Target, set_part: str, excluded: bool = False) -> dict[str, Column]:
    """``SET col = expr, …`` → {stored column: expr cast to its type}: the
    one SET compiler (UPDATE on a table or view, trigger-body UPDATE, DO
    UPDATE, where ``excluded`` enables ``excluded.col``)."""
    types = {f.name: f.dataType for f in st.df.schema.fields}
    assigns = {}
    for piece in _split_level0(set_part):
        col, _eq, src = piece.partition("=")
        written = col.strip().strip('"`')
        name = _resolve_col(st.df, written)
        if name is None:
            raise FilesqlError(f"no such column: {written}")
        if excluded:
            src = _rewrite_excluded(src)
        assigns[name] = st.expr(src.strip()).cast(types[name])
    return assigns


def _split_level0(text: str) -> list[str]:
    """Split on commas at paren depth 0, outside literals and quoted
    identifiers."""
    spans = dialect._div_split_args(dialect._div_mask(text), 0, len(text))
    return [p for p in (text[a:b].strip() for a, b in spans) if p]


_RETURNING_RX = re.compile(r"\bRETURNING\b", re.I)
_ON_CONFLICT_RX = re.compile(r"\bON\s+CONFLICT\b", re.I)
_WHERE_RX = re.compile(r"\bWHERE\b", re.I)


def _extract_where(body: str) -> tuple[str, str | None]:
    """Split '... WHERE pred' at the depth-0 WHERE keyword."""
    m = dialect._find_depth0(dialect._div_mask(body), _WHERE_RX)
    if m is None:
        return body.strip().rstrip(";"), None
    return body[: m.start()].strip(), body[m.end() :].strip().rstrip(";")


def _strip_returning(sql: str) -> tuple[str, list[str] | None]:
    """Split a trailing ``RETURNING expr, …`` off a DML statement.

    The keyword is located on the token mask (a column value containing
    the word 'returning' must not trigger), at paren depth 0 — SQLite
    only allows it as the final clause."""
    m = dialect._find_depth0(dialect._div_mask(sql), _RETURNING_RX)
    if m is None:
        return sql, None
    exprs = _split_level0(sql[m.end() :].strip().rstrip(";"))
    if not exprs:
        raise FilesqlError("RETURNING requires at least one expression")
    return sql[: m.start()], exprs


# ------------------------------------------------ apply, transition, fire


def _apply(engine, st: _Target, version, fires, rows, returning, assigns=None):
    """Store ``version`` as the table's next version (a view stores
    nothing), fire each ``(event, affected rows, count)`` in ``fires``
    unless its count is 0, and return (affected rows, RETURNING over
    ``rows``). ``assigns`` are an UPDATE's SET. A count of None (a view
    or a correlated trigger-body statement) is taken here, and only when
    a trigger is registered for the event."""
    assigns = assigns or {}
    if not st.view:
        engine._reregister(st.name, version)
    if engine._catalog.triggers:
        for event, affected, n in fires:
            if n is None and triggers.registered(engine, st.name, event):
                n = affected.count()
            if n:
                images = assigns if event == "UPDATE" else {}
                triggers.fire(
                    engine, st.name, event,
                    _transition(event, affected, st.columns, images),
                    set_cols=set(images),
                )
    n = 0 if st.view else sum(n or 0 for _event, _affected, n in fires)
    return n, _returning_over(st, rows, returning)


def _transition(event: str, rows, cols: list[str], assigns: dict[str, Column]):
    """The transition relation: ``new`` and/or ``old`` struct images of
    the affected rows (``new`` applies an UPDATE's SET assignments)."""
    old = F.struct(*[F.col(c) for c in cols]).alias("old")
    new = F.struct(
        *[assigns[c].alias(c) if c in assigns else F.col(c) for c in cols]
    ).alias("new")
    return rows.select(*{"INSERT": [new], "DELETE": [old], "UPDATE": [old, new]}[event])


def _returning_over(st: _Target, rows, returning: list[str] | None):
    """RETURNING evaluates over the affected rows (SQLite semantics); '*'
    is the row itself, expressions go through the dialect shim."""
    if returning is None:
        return None
    return rows.alias(st.name).select(
        *["*" if e.strip() == "*" else st.expr(e) for e in returning]
    )


def _track_rowid(engine, table, target, aligned, n: int,
                 pk_only: bool = False) -> None:
    """Maintain the last_insert_rowid() bridge (contract and divergences
    documented at engine.__init__'s counter). Tracking must never fail
    the INSERT itself. ``pk_only`` is the upsert mode: only the declared
    integer-PRIMARY-KEY branch applies (the landed-row count does not
    grow the table by n, so the implicit-rowid high-water arithmetic
    would corrupt)."""
    if n == 0:
        return
    try:
        pk = engine._catalog.primary_keys.get(table)
        if pk and len(pk) == 1:
            f = next(
                (f for f in target.schema.fields if f.name == pk[0]), None
            )
            if f is not None and f.dataType.simpleString() in (
                "tinyint", "smallint", "int", "bigint"
            ):
                # SQLite's rowid alias: the declared integer PRIMARY KEY
                v = aligned.agg(F.max(pk[0])).collect()[0][0]
                if v is not None:
                    engine._last_insert_rowid = int(v)
                    return
        if pk_only:
            return
        hwm = engine._catalog.rowid_hwm.get(table)
        if hwm is None:
            hwm = target.count()  # file-loaded rowids are dense 1..R
        hwm += n
        engine._catalog.rowid_hwm[table] = hwm
        engine._last_insert_rowid = hwm
    except Exception:
        pass


# ------------------------------------------------------------------- INSERT

_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+(?:OR\s+(?P<or_act>\w+)\s+)?INTO\s+{_IDENT}\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*(?P<body>VALUES\b.*|SELECT\b.*|WITH\b.*)$",
    re.I | re.S,
)

_ON_CONFLICT_TAIL_RE = re.compile(
    r"^\s*(?:\(\s*(?P<cols>[^)]*)\)\s*)?DO\s+(?P<act>NOTHING\b|UPDATE\s+SET\b)"
    r"(?P<rest>.*)$",
    re.I | re.S,
)


def _strip_on_conflict(sql: str) -> tuple[str, str | None]:
    """Split a depth-0 ``ON CONFLICT …`` tail off an INSERT (located on
    the token mask, like RETURNING — data containing the words must not
    trigger)."""
    m = dialect._find_depth0(dialect._div_mask(sql), _ON_CONFLICT_RX)
    if m is None:
        return sql, None
    return sql[: m.start()], sql[m.end() :].strip().rstrip(";")


def _resolve_key(engine, st: _Target, cols_src: str | None, form: str) -> list[str]:
    """Conflict-target columns: explicit ``ON CONFLICT(cols)``, else the
    table's declared PRIMARY KEY (CREATE TABLE). File-loaded tables have
    no PK, so the implicit forms fail cleanly there."""
    if cols_src:
        key = []
        for c in _split_level0(cols_src):
            name = c.strip('"`')
            resolved = _resolve_col(st.df, name)
            if resolved is None:
                raise FilesqlError(f"{form}: no such column {name!r} in {st.name!r}")
            key.append(resolved)
        return key
    pk = engine._catalog.primary_keys.get(st.name)
    if not pk:
        raise FilesqlError(
            f"{form} needs a conflict target: table {st.name!r} has no "
            "declared PRIMARY KEY — use ON CONFLICT(col, …) or declare "
            "the key in CREATE TABLE"
        )
    return pk


def _rewrite_excluded(expr: str) -> str:
    """``excluded.col`` → the joined incoming-row column ``__exc_col``
    (SQLite upsert's name for the row that failed to insert). Operates on
    code positions only — literals containing 'excluded.' are data."""
    code = dialect._div_mask(expr)
    out, last = [], 0
    pat = re.compile(rf"\bexcluded\s*\.\s*{_IDENT}", re.I)
    for m in pat.finditer(code):
        # the identifier text lives in sql at the same positions
        sub = expr[m.start() : m.end()]
        name = pat.match(sub)
        out.append(expr[last : m.start()])
        out.append(f"`__exc_{_ident(name)}`")
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _with_seq(df):
    """Statement-order sequence for intra-batch conflict resolution.
    Deterministic for literal VALUES (single local relation); for
    INSERT…SELECT sources the order is whatever the SELECT produced,
    matching SQLite's unordered-SELECT behavior."""
    return df.withColumn("__seq", F.monotonically_increasing_id())


def _dedup_by_key(aligned, key: list[str], keep: str):
    """One row per conflict key within the incoming batch (first or last
    in statement order). Rows with any NULL key column never conflict
    (SQLite: NULLs are distinct) and all pass through."""
    from pyspark.sql import Window

    null_key = None
    for k in key:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    seq = _with_seq(aligned)
    nk = seq.filter(null_key)
    order = F.col("__seq").desc() if keep == "last" else F.col("__seq").asc()
    w = Window.partitionBy(*key).orderBy(order)
    deduped = (
        seq.filter(~null_key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return deduped.unionByName(nk).drop("__seq")


def _insert(engine, sql: str, tx=None) -> tuple[int, "object | None"]:
    """Apply an INSERT (incl. SQLite upsert forms); returns
    (affected rows, RETURNING DataFrame | None).

    Upsert semantics (SQLite doc.go:68-77 pins the dialect; SQLite 3.24+):

    - ``INSERT OR REPLACE``: delete the existing row with the same key,
      insert the new one. Key = declared PRIMARY KEY. changes() counts
      each attempted row; the last incoming row per key wins.
    - ``INSERT OR IGNORE`` / ``ON CONFLICT … DO NOTHING``: skip rows whose
      key already exists; the first incoming row per key wins. changes()
      and RETURNING count inserted rows only.
    - ``ON CONFLICT(key) DO UPDATE SET col = expr [WHERE pred]``: update
      the existing row; ``excluded.col`` refers to the incoming row.

    All forms are one anti/left join on the key against the current view —
    a broadcast-sized incoming batch never shuffles the standing table.
    NULL key columns never conflict (SQLite: NULL ≠ NULL), so such rows
    always insert. Triggers fire with SQLite's recursive_triggers=OFF
    semantics: INSERT triggers for the rows that landed (never DELETE for
    a replaced row), and for DO UPDATE, UPDATE triggers on the conflicted
    rows. Divergence: duplicate keys WITHIN one DO UPDATE batch raise
    (SQLite applies them sequentially; a distributed plan has no
    row-at-a-time order — PostgreSQL makes the same call).

    ``tx`` is always None: a trigger-body INSERT reads the transition
    relation as a temp view in its SELECT (triggers._body_insert).
    """
    sql, returning = _strip_returning(sql)
    sql, conflict_tail = _strip_on_conflict(sql)
    m = _INSERT_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse INSERT: {sql.strip()[:120]}")
    or_act = (m.group("or_act") or "").upper()
    if or_act in ("ABORT", "FAIL", "ROLLBACK"):
        # conflict-ERROR behaviors; with no constraints to violate outside
        # the upsert machinery they reduce to a plain INSERT (OR ABORT is
        # SQLite's default)
        or_act = ""
    if or_act and or_act not in ("REPLACE", "IGNORE"):
        raise FilesqlError(f"unsupported INSERT OR {or_act}")
    if or_act and conflict_tail is not None:
        raise FilesqlError("INSERT OR … cannot be combined with ON CONFLICT")
    upsert = bool(or_act) or conflict_tail is not None
    st = _compile(engine, _ident(m), "INSERT")
    if st.view and upsert:
        raise FilesqlError(
            "upsert forms (OR REPLACE/IGNORE, ON CONFLICT) are not "
            "supported on views"
        )
    body = m.group("body").rstrip().rstrip(";")
    src = engine.spark.sql(dialect.rewrite(body, st.ctypes))
    names = st.columns
    if m.group("cols"):
        names = []
        for c in _split_level0(m.group("cols")):
            written = c.strip('"`')
            resolved = _resolve_col(st.df, written)
            if resolved is None:
                raise FilesqlError(f"table {st.name} has no column named {written}")
            names.append(resolved)
    if len(src.columns) != len(names):
        raise FilesqlError(
            f"INSERT column count mismatch: {len(src.columns)} values for {len(names)} columns"
        )
    # missing columns → NULL; align types to the target schema
    src = src.toDF(*names)
    aligned = src.select(
        *[
            (F.col(c) if c in names else F.lit(None)).cast(f.dataType).alias(c)
            for c, f in zip(st.columns, st.df.schema.fields)
        ]
    )
    if st.view:
        return _apply(engine, st, None, [("INSERT", aligned, None)], aligned, returning)

    target, act = st.df, or_act
    if conflict_tail is not None:
        t = _ON_CONFLICT_TAIL_RE.match(conflict_tail)
        if not t:
            raise FilesqlError(
                f"cannot parse ON CONFLICT clause: {conflict_tail[:80]}"
            )
        key = _resolve_key(engine, st, t.group("cols"), "ON CONFLICT")
        if t.group("act").upper() != "NOTHING":
            return _upsert_update(engine, st, aligned, key, t.group("rest"), returning)
        act = "IGNORE"
    elif or_act:
        key = _resolve_key(engine, st, None, f"INSERT OR {or_act}")
    if act == "REPLACE":
        n = aligned.count()
        landed = _dedup_by_key(aligned, key, keep="last")
        survivors = target.join(landed.select(*key).distinct(), key, "left_anti")
        version = survivors.unionByName(landed)
    elif act == "IGNORE":
        landed = _dedup_by_key(aligned, key, keep="first").join(
            target.select(*key).distinct(), key, "left_anti"
        )
        n = landed.count()
        version = target.unionByName(landed)
    else:
        n, landed = aligned.count(), aligned
        version = target.unionByName(aligned)
    if upsert:
        engine._catalog.rowid_hwm.pop(st.name, None)
    _track_rowid(engine, st.name, target, landed, n, pk_only=upsert)
    return _apply(engine, st, version, [("INSERT", landed, n)], landed, returning)


def _upsert_update(engine, st: _Target, aligned, key, rest, returning):
    """DO UPDATE SET …: the match is a broadcast join of the standing rows
    to the incoming rows on the key; matched rows take the SET
    expressions, unmatched incoming rows insert."""
    set_part, where = _extract_where(rest)
    # duplicate keys within one batch have no distributed row-at-a-time
    # order to apply sequentially — refuse, like PostgreSQL
    if _dedup_by_key(aligned, key, keep="first").count() != aligned.count():
        raise FilesqlError(
            "ON CONFLICT DO UPDATE: the incoming rows contain duplicate "
            "conflict keys; a set-oriented upsert cannot apply them "
            "sequentially — de-duplicate the batch first"
        )
    exc = aligned.select(
        F.lit(True).alias("__exc_present"),
        *[F.col(c).alias(f"__exc_{c}") for c in aligned.columns],
    )
    cond = None
    for k in key:
        c = st.df[k].eqNullSafe(F.col(f"__exc_{k}")) & F.col(f"__exc_{k}").isNotNull()
        cond = c if cond is None else (cond & c)
    joined = st.df.join(F.broadcast(exc), cond, "left")
    hit = F.coalesce(F.col("__exc_present"), F.lit(False))
    if where:
        hit = hit & st.pred(_rewrite_excluded(where))
    assigns = _compile_set(st, set_part, excluded=True)
    inserted = aligned.join(st.df.select(*key).distinct(), key, "left_anti")
    return _update_apply(engine, st, joined, hit, assigns, returning, inserted)


# ------------------------------------------------------------------- UPDATE

_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+{_IDENT}\s+SET\s+(?P<body>.*)$", re.I | re.S
)


def _update(engine, sql: str, tx=None) -> tuple[int, "object | None"]:
    """Apply an UPDATE; returns (affected rows, RETURNING DataFrame | None).
    RETURNING evaluates over the affected rows' NEW values (SQLite 3.35+).

    With a correlation source ``tx`` (a trigger body reading new./old.),
    the target LEFT-joins the broadcast transition relation on the WHERE
    predicate; matched rows take the SET expressions, which may read
    new./old. too."""
    sql, returning = _strip_returning(sql)
    m = _UPDATE_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse UPDATE: {sql.strip()[:120]}")
    st = _compile(engine, _ident(m), "UPDATE")
    set_part, where = _extract_where(m.group("body"))
    assigns = _compile_set(st, set_part)
    if tx is None:
        return _update_apply(engine, st, st.df, st.pred(where), assigns, returning)
    if where is None:
        raise FilesqlError(
            "trigger-body UPDATE referencing new/old requires a WHERE "
            "clause correlating the target to the transition row"
        )
    joined = _with_seq(st.df).join(
        F.broadcast(tx.withColumn("__hit__", F.lit(1))),
        st.expr(where).cast("boolean"),
        "left",
    )
    hit = F.col("__hit__").isNotNull()
    multi = (
        joined.filter(hit).groupBy("__seq").count()
        .filter(F.col("count") > 1).limit(1).count()
    )
    if multi:
        raise FilesqlError(
            f"trigger-body UPDATE on {st.name!r}: a target row matches "
            "multiple transition rows; SQLite would apply them in rowid "
            "order, which a distributed plan cannot reproduce"
        )
    return _update_apply(engine, st, joined, hit, assigns, returning, counted=False)


def _update_apply(engine, st, frame, hit, assigns, returning, inserted=None,
                  counted=True):
    """The UPDATE apply step over a matched ``frame`` (the target, or its
    join to a correlation source): rows where ``hit`` holds take the SET
    ``assigns``. ``inserted`` are a DO UPDATE's non-conflicting rows."""
    cols = st.columns
    version = frame.select(
        *[F.when(hit, assigns[c]).otherwise(F.col(c)).alias(c) if c in assigns else F.col(c)
          for c in cols]
    )
    affected = frame.filter(hit)
    rows = affected.select(*[assigns[c].alias(c) if c in assigns else F.col(c) for c in cols])
    fires = [("UPDATE", affected, affected.count() if counted and not st.view else None)]
    if inserted is not None:
        n = inserted.count()
        version, rows = version.unionByName(inserted), rows.unionByName(inserted)
        engine._catalog.rowid_hwm.pop(st.name, None)
        _track_rowid(engine, st.name, st.df, inserted, n, pk_only=True)
        fires.append(("INSERT", inserted, n))
    return _apply(engine, st, version, fires, rows, returning, assigns)


# ------------------------------------------------------------------- DELETE

_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+{_IDENT}\s*(?P<rest>.*)$", re.I | re.S
)


def _delete(engine, sql: str, tx=None) -> tuple[int, "object | None"]:
    """Apply a DELETE; returns (affected rows, RETURNING DataFrame | None).
    RETURNING evaluates over the deleted rows (their last values). With a
    correlation source ``tx``, the doomed rows are the target's semi join
    to the broadcast transition relation on the WHERE predicate."""
    sql, returning = _strip_returning(sql)
    m = _DELETE_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse DELETE: {sql.strip()[:120]}")
    st = _compile(engine, _ident(m), "DELETE")
    tail, where = _extract_where(m.group("rest"))
    if tail:
        raise FilesqlError(f"cannot parse DELETE tail: {tail[:80]}")
    if tx is None:
        pred = st.pred(where)
        doomed, kept = st.df.filter(pred), st.df.filter(~pred)
        n = None if st.view else doomed.count()
    else:
        if where is None:
            raise FilesqlError(
                "trigger-body DELETE referencing new/old requires a WHERE clause"
            )
        cond = st.expr(where).cast("boolean")
        doomed = st.df.join(F.broadcast(tx), cond, "left_semi")
        kept = st.df.join(F.broadcast(tx), cond, "left_anti")
        n = None
    if not st.view:
        engine._catalog.rowid_hwm.pop(st.name, None)  # freed rowids: re-count next INSERT
    return _apply(engine, st, kept, [("DELETE", doomed, n)], doomed, returning)


# --------------------------------------------------------------------- DDL

_CREATE_TABLE_RE = re.compile(
    rf"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s*"
    r"(?P<body>\(.*\)|AS\s+.*)$",
    re.I | re.S,
)
_CREATE_VIEW_RE = re.compile(
    rf"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s+AS\s+(?P<body>.*)$",
    re.I | re.S,
)

_SQLITE_TO_SPARK_TYPE = [
    ("INT", "long"),
    ("CHAR", "string"),
    ("CLOB", "string"),
    ("TEXT", "string"),
    ("BLOB", "binary"),
    ("REAL", "double"),
    ("FLOA", "double"),
    ("DOUB", "double"),
    ("NUMERIC", "double"),
    ("DECIMAL", "double"),
    ("BOOL", "boolean"),
    ("DATE", "string"),  # SQLite stores datetimes as TEXT (types.go:190-192)
    ("TIME", "string"),
]


def _affinity(sqlite_type: str) -> str:
    """SQLite type-affinity rules, mapped onto Spark types."""
    t = sqlite_type.upper()
    for frag, spark_t in _SQLITE_TO_SPARK_TYPE:
        if frag in t:
            return spark_t
    return "string"


def _create(engine, sql: str) -> int:
    low = sql.lstrip().lower()
    if re.match(r"create\s+(unique\s+)?index", low):
        return 0  # accepted and ignored (no indexes in Spark; SURVEY §2.B)
    if "trigger" in low.split()[:3]:
        from filesql_spark import triggers as trig

        t, if_not_exists = trig.parse_create_trigger(sql)
        # SQLite's exact pairing rules and wordings: INSTEAD OF targets
        # views only; BEFORE/AFTER target tables only
        cat = engine._catalog
        stored = cat.resolve(t.table)
        is_view = stored in cat.views
        if t.timing == "INSTEAD OF":
            if not is_view:
                raise FilesqlError(
                    f"cannot create INSTEAD OF trigger on table: {t.table}"
                )
        elif is_view:
            raise FilesqlError(
                f"cannot create {t.timing} trigger on view: {t.table}"
            )
        elif stored is None:
            raise FilesqlError(f"no such table: {t.table}")
        if t.name.lower() in cat.triggers:
            if if_not_exists:
                return 0
            raise FilesqlError(f"trigger {t.name} already exists")
        cat.triggers[t.name.lower()] = t
        return 0

    m = _CREATE_VIEW_RE.match(sql)
    if m:
        name = _ident(m)
        if m.group("ine") and engine._catalog.kind(name):
            return 0
        engine._check_free(name)
        body = m.group("body").rstrip().rstrip(";")
        df = engine.spark.sql(dialect.rewrite(body, engine._column_types()))
        # keep the defining SQL: views are dynamic (engine._flush)
        engine._catalog.views[name] = (body, df)
        return 0

    m = _CREATE_TABLE_RE.match(sql)
    if m:
        name = _ident(m)
        if m.group("ine") and engine._catalog.kind(name):
            return 0
        body = m.group("body").strip().rstrip(";")
        pk: list[str] = []
        if body.upper().startswith("AS"):
            df = engine.spark.sql(dialect.rewrite(body[2:].strip(), engine._column_types()))
        else:
            cols = _split_level0(body[1:-1])
            fields = []
            for c in cols:
                tm = re.match(r"(?i)^PRIMARY\s+KEY\s*\(([^)]*)\)", c)
                if tm:
                    # table-level PRIMARY KEY (a, b): recorded as the
                    # implicit conflict target for upserts
                    pk = [p.strip().strip('"`') for p in tm.group(1).split(",")]
                    continue
                if re.match(r"(?i)^(PRIMARY|UNIQUE|CHECK|FOREIGN|CONSTRAINT)\b", c):
                    continue  # other table-level constraints: accepted, ignored
                parts = c.split()
                cname = parts[0].strip('"`')
                ctype = _affinity(parts[1]) if len(parts) > 1 else "string"
                if re.search(r"(?i)\bPRIMARY\s+KEY\b", c):
                    pk = [cname]  # column-level PRIMARY KEY
                fields.append(f"`{cname}` {ctype}")
            df = engine.spark.createDataFrame([], schema=", ".join(fields))
        # raises if the name is taken: replacing would drop user data
        engine.register(name, df)
        if pk:
            engine._catalog.primary_keys[name] = pk
        return 0
    raise FilesqlError(f"cannot parse CREATE: {sql.strip()[:120]}")


def _drop(engine, sql: str) -> int:
    m = re.match(
        rf"^\s*DROP\s+(?P<kind>TABLE|VIEW|INDEX|TRIGGER)\s+(?:IF\s+EXISTS\s+)?{_IDENT}\s*;?\s*$",
        sql,
        re.I,
    )
    if not m:
        raise FilesqlError(f"cannot parse DROP: {sql.strip()[:120]}")
    kind, name = m.group("kind").upper(), _ident(m)
    if_exists = re.search(r"(?i)IF\s+EXISTS", sql) is not None
    if kind == "INDEX":
        return 0
    cat = engine._catalog
    if kind == "TRIGGER":
        if name.lower() not in cat.triggers:
            if if_exists:
                return 0
            raise FilesqlError(f"no such trigger: {name}")
        del cat.triggers[name.lower()]
        return 0
    stored = cat.resolve(name)
    found = None if stored is None else "TABLE" if stored in cat.tables else "VIEW"
    if found is None:
        if if_exists:
            return 0
        raise FilesqlError(f"no such {kind.lower()}: {name}")
    if found != kind:
        raise FilesqlError(f"use DROP {found} to delete {found.lower()} {stored}")
    # views over a dropped table keep their last-good DataFrame
    # (documented divergence, engine._flush)
    cat.drop(stored)
    return 0


# ------------------------------------------------------------------ ALTER

_ALTER_RE = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+{_IDENT}\s+(?P<rest>.+?)\s*;?\s*$"
)


def _alter_ident(text: str) -> tuple[str, str]:
    """Pop one (possibly quoted) identifier off the front of ``text``;
    returns (identifier, remainder)."""
    m = re.match(rf"\s*{_IDENT}\s*", text)
    if not m:
        raise FilesqlError(f"cannot parse identifier at: {text[:60]!r}")
    return _ident(m), text[m.end():]


def _alter(engine, sql: str) -> int:
    """SQLite's four ALTER TABLE forms (3.35+), over the engine catalog —
    each rewrites the table's DataFrame plan (RENAME TO moves the table,
    its side data and its triggers), so ALTER participates in
    transactions/savepoints the same way DML does (a saved catalog holds
    the pre-ALTER state, origins included).

    - RENAME TO new_name
    - RENAME [COLUMN] old TO new
    - ADD [COLUMN] name [type] [constraints] [DEFAULT literal]
    - DROP [COLUMN] name

    Column identifiers match case-insensitively, like every other
    statement here.
    """
    m = _ALTER_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
    table = engine._catalog.resolve(_ident(m)) or _ident(m)
    rest = m.group("rest")
    low = rest.lstrip().lower()
    view = table in engine._catalog.views
    df = None if view else engine.table(table)  # raises "no such table"

    # Table rename only wins on a COMPLETE "RENAME TO <ident>" parse:
    # "RENAME total TO t2" must not match (TO is a prefix of the column
    # name), and "RENAME to TO x" (column literally named "to") falls
    # through to the column branch below.
    tm = re.match(r"(?is)^\s*RENAME\s+TO\s+(?P<after>.+)$", rest)
    if tm:
        try:
            new, tail = _alter_ident(tm.group("after"))
        except FilesqlError:
            new, tail = None, "x"
        if new is not None and not tail.strip():
            if engine._catalog.kind(new):
                raise FilesqlError(
                    "there is already another table or index with this "
                    f"name: {new}"
                )
            if view:
                raise FilesqlError(f"view {table} may not be altered")
            engine._catalog.rename_table(table, new)
            return 0
    if view:  # SQLite's error for each column form
        for verb, msg in (
            ("add", "Cannot add a column to a view"),
            ("rename", f'cannot rename columns of view "{table}"'),
            ("drop", f'cannot drop column from view "{table}"'),
        ):
            if low.startswith(verb):
                raise FilesqlError(msg)

    if low.startswith("rename"):
        body = rest.lstrip()[len("rename"):]
        if re.match(r"(?is)^\s*column\b", body):
            body = re.sub(r"(?is)^\s*column\b", "", body, count=1)
        old, tail = _alter_ident(body)
        tm = re.match(r"(?is)^TO\s+", tail.lstrip())
        if not tm:
            raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
        new, tail2 = _alter_ident(tail.lstrip()[tm.end():])
        if tail2.strip():
            raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
        actual = _resolve_col(df, old)
        if actual is None:
            raise FilesqlError(f"no such column: {old}")
        if _resolve_col(df, new) is not None:
            raise FilesqlError(f"duplicate column name: {new}")
        if table in engine._catalog.primary_keys:
            engine._catalog.primary_keys[table] = [
                new if c == actual else c for c in engine._catalog.primary_keys[table]
            ]
        engine._reregister(table, df.withColumnRenamed(actual, new))
        return 0

    if low.startswith("add"):
        body = rest.lstrip()[len("add"):]
        if re.match(r"(?is)^\s*column\b", body):
            body = re.sub(r"(?is)^\s*column\b", "", body, count=1)
        name, tail = _alter_ident(body)
        if _resolve_col(df, name) is not None:
            raise FilesqlError(f"duplicate column name: {name}")
        tail = tail.strip()
        # DEFAULT takes ONE constant: a parenthesized expression, a
        # string literal, or a bare token — constraints may follow
        # (SQLite: ALTER ADD COLUMN defaults must be constants)
        default_sql = None
        dm = re.search(
            r"(?is)\bDEFAULT\s+(?P<v>\((?:[^()]|\([^()]*\))*\)"
            r"|'(?:[^']|'')*'|\S+)",
            tail,
        )
        if dm:
            default_sql = dm.group("v")
            tail = (tail[: dm.start()] + " " + tail[dm.end():]).strip()
        # SQLite forbids these on ADD COLUMN outright
        if re.search(r"(?is)\b(PRIMARY\s+KEY|UNIQUE)\b", tail):
            raise FilesqlError(
                "Cannot add a PRIMARY KEY or UNIQUE column with ALTER TABLE"
            )
        not_null = re.search(r"(?is)\bNOT\s+NULL\b", tail) is not None
        if not_null and default_sql is None:
            # SQLite: "Cannot add a NOT NULL column with default value NULL"
            raise FilesqlError(
                "Cannot add a NOT NULL column with default value NULL"
            )
        # strip accepted constraints before reading the type token
        type_src = re.sub(
            r"(?is)\bNOT\s+NULL\b|\bCOLLATE\s+\w+", " ", tail
        ).strip()
        ctype = _affinity(type_src.split()[0]) if type_src.split() else None
        if default_sql is not None:
            # typeless column (BLOB affinity): the constant keeps its own
            # type, matching SQLite's store-as-is behavior
            try:
                col = F.expr(default_sql)
                if ctype is not None:
                    col = col.cast(ctype)
                new_df = df.withColumn(name, col)  # parse/analyze happens here
            except FilesqlError:
                raise
            except Exception as e:
                raise FilesqlError(
                    f"cannot parse DEFAULT expression {default_sql!r}"
                ) from e
        else:
            col = F.lit(None).cast(ctype if ctype is not None else "string")
            new_df = df.withColumn(name, col)
        engine._reregister(table, new_df)
        return 0

    if low.startswith("drop"):
        body = rest.lstrip()[len("drop"):]
        if re.match(r"(?is)^\s*column\b", body):
            body = re.sub(r"(?is)^\s*column\b", "", body, count=1)
        name, tail = _alter_ident(body)
        if tail.strip():
            raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
        actual = _resolve_col(df, name)
        if actual is None:
            raise FilesqlError(f"no such column: {name}")
        if len(df.columns) == 1:
            raise FilesqlError(f"cannot drop the only column of {table!r}")
        if actual in engine._catalog.primary_keys.get(table, []):
            # SQLite: "error if the column ... is a PRIMARY KEY"
            raise FilesqlError(f"cannot drop PRIMARY KEY column: {name}")
        engine._reregister(table, df.drop(actual))
        return 0

    raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
