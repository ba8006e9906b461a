"""DML / DDL emulation over temp views (SURVEY §2.B DML rows, §7.2 phase 5).

SQLite mutates B-trees; Spark DataFrames are immutable. Each statement
rewrites the table's DataFrame lazily and re-registers the view:

- INSERT  → union of the existing plan with a literal VALUES (or SELECT) plan
- UPSERT  → ``INSERT OR REPLACE/IGNORE`` and ``ON CONFLICT(key) DO
  UPDATE/NOTHING`` as key-joins against the standing view (SQLite 3.24+;
  the reference inherits them, doc.go:68-77)
- UPDATE  → ``withColumns(when(pred, new).otherwise(old))``
- DELETE  → ``filter(NOT coalesce(pred, false))`` (NULL predicate keeps the
  row, matching SQL three-valued DELETE semantics)
- RETURNING on all three DML forms (SQLite 3.35+): the affected-rows frame
  is built on the immutable pre-swap plan and handed back lazily
- CREATE TABLE/VIEW, DROP, CREATE INDEX (accepted no-op), CREATE TRIGGER
  (triggers.py — BEFORE/AFTER/INSTEAD OF + RAISE) — reference advertises
  these via SQLite (README.md:333-334)
- ALTER TABLE RENAME TO / RENAME COLUMN / ADD COLUMN / DROP COLUMN
  (SQLite 3.35+ forms) as plan rewrites + view re-registration

Affected-row counts match database/sql's Exec contract.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from filesql_spark import dialect
from filesql_spark.errors import FilesqlError

_IDENT = r'(?:"(?P<q>[^"]+)"|`(?P<b>[^`]+)`|(?P<p>[\w-￿]+))'


def _ident(m: re.Match) -> str:
    return m.group("q") or m.group("b") or m.group("p")


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
    head = sql.lstrip()
    kw = head.split(None, 1)[0].upper() if head.split() else ""
    if kw == "REPLACE":
        sql, kw = _replace_alias(sql), "INSERT"
    if kw in ("INSERT", "UPDATE", "DELETE"):
        fn = {"INSERT": _insert, "UPDATE": _update, "DELETE": _delete}[kw]
        n, _rows = _guarded_dml(engine, fn, sql)
        return n
    if kw == "CREATE":
        return _create(engine, sql)
    if kw == "DROP":
        return _drop(engine, sql)
    if kw == "ALTER":
        return _alter(engine, sql)
    raise FilesqlError(f"unsupported statement: {kw}")


def _guarded_dml(engine, fn, sql: str):
    """Run one top-level DML statement with RAISE() unwind semantics
    (triggers.py): ABORT/ROLLBACK undo the statement's table effects
    (ROLLBACK additionally cancels an enclosing transaction, exactly
    SQLite's scope); FAIL keeps the applied effects. Statements fired
    from inside a trigger cascade pass through — the OUTERMOST statement
    owns the unwind."""
    if getattr(engine, "_trigger_depth", 0):
        return fn(engine, sql)
    from filesql_spark.errors import TriggerRaise

    pre = (dict(engine._tables), dict(engine._views), dict(engine._view_defs))
    pre_rowid = getattr(engine, "_last_insert_rowid", 0)
    pre_hwm = dict(getattr(engine, "_rowid_hwm", {}))
    try:
        return fn(engine, sql)
    except TriggerRaise as e:
        if e.kind == "ROLLBACK" and (
            engine._snapshot is not None or engine._savepoints
        ):
            # tables rewind to transaction start, not statement start:
            # rollback()'s _restore_state clears the rowid high-water
            # marks so the next INSERT re-counts the restored tables
            engine.rollback()
        elif e.kind != "FAIL":
            tables, views, defs = pre
            engine._restore_state(
                tables, views, engine._primary_keys, engine._origins,
                engine._triggers, defs,
            )
            # the statement's rows are undone: the next insert reuses
            # their rowids, exactly like SQLite's reverted max-rowid
            engine._rowid_hwm = pre_hwm
        # last_insert_rowid(): sqlite3 keeps the aborted row's rowid when
        # an AFTER trigger raised (the row was inserted, then undone) but
        # leaves the counter untouched for a BEFORE-trigger raise (no row
        # ever landed) — both pinned empirically (test_triggers r12)
        if getattr(e, "timing", "") == "BEFORE" and e.kind != "FAIL":
            engine._last_insert_rowid = pre_rowid
        raise


def dml_returning(engine, sql: str):
    """INSERT/UPDATE/DELETE … RETURNING … → DataFrame of the returned
    rows (SQLite 3.35+, inherited by the reference's engine). The
    mutation is applied as a side effect, like SQLite's."""
    kw = sql.lstrip().split(None, 1)[0].upper()
    if kw == "REPLACE":
        sql, kw = _replace_alias(sql), "INSERT"
    fn = {"INSERT": _insert, "UPDATE": _update, "DELETE": _delete}[kw]
    _n, rows = _guarded_dml(engine, fn, sql)
    if rows is None:
        raise FilesqlError(f"query() on {kw} requires a RETURNING clause")
    return rows


_RETURNING_RX = re.compile(r"\bRETURNING\b", re.I)
_ON_CONFLICT_RX = re.compile(r"\bON\s+CONFLICT\b", re.I)
_WHERE_RX = re.compile(r"\bWHERE\b", re.I)


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


def _resolve_key(engine, table, target, cols_src: str | None, form: str) -> list[str]:
    """Conflict-target columns: explicit ``ON CONFLICT(cols)``, else the
    table's declared PRIMARY KEY (CREATE TABLE). File-loaded tables have
    no PK, so the implicit forms fail cleanly there."""
    if cols_src:
        by_lower = {c.lower(): c for c in target.columns}
        key = []
        for c in _split_level0(cols_src):
            name = c.strip().strip('"`')
            if name.lower() not in by_lower:
                raise FilesqlError(
                    f"{form}: no such column {name!r} in {table!r}"
                )
            key.append(by_lower[name.lower()])
        return key
    pk = engine._primary_keys.get(table)
    if not pk:
        raise FilesqlError(
            f"{form} needs a conflict target: table {table!r} has no "
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
    return deduped.unionByName(nk).drop("__seq"), null_key


def _insert(engine, sql: str) -> tuple[int, "object | None"]:
    """Apply an INSERT (incl. SQLite upsert forms); returns
    (affected rows, RETURNING DataFrame | None).

    Upsert semantics (SQLite doc.go:68-77 pins the dialect; SQLite 3.24+):

    - ``INSERT OR REPLACE``: delete the existing row with the same key,
      insert the new one. Key = declared PRIMARY KEY.
    - ``INSERT OR IGNORE`` / ``ON CONFLICT … DO NOTHING``: skip rows whose
      key already exists.
    - ``ON CONFLICT(key) DO UPDATE SET col = expr [WHERE pred]``: update
      the existing row; ``excluded.col`` refers to the incoming row.

    All forms are one anti/left join on the key against the current view —
    a broadcast-sized incoming batch never shuffles the standing table.
    NULL key columns never conflict (SQLite: NULL ≠ NULL), so such rows
    always insert. Divergence: duplicate keys WITHIN one DO UPDATE batch
    raise (SQLite applies them sequentially; a distributed plan has no
    row-at-a-time order — PostgreSQL makes the same call).
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
    table = _ident(m)
    if table not in engine._tables and table in engine._views:
        if or_act or conflict_tail is not None:
            raise FilesqlError(
                "upsert forms (OR REPLACE/IGNORE, ON CONFLICT) are not "
                "supported on views"
            )
        return _view_insert(engine, table, m, returning)
    target = engine.table(table)
    body = m.group("body").rstrip().rstrip(";")

    src = engine.spark.sql(dialect.rewrite(body, engine._column_types()))

    if m.group("cols"):
        names = [c.strip().strip('"`') for c in m.group("cols").split(",")]
    else:
        names = target.columns
    if len(src.columns) != len(names):
        raise FilesqlError(
            f"INSERT column count mismatch: {len(src.columns)} values for {len(names)} columns"
        )
    src = src.toDF(*names)

    # missing columns → NULL; align types to the target schema
    target_types = {f.name: f.dataType for f in target.schema.fields}
    aligned = src.select(
        *[
            (F.col(c).cast(target_types[c]) if c in src.columns else F.lit(None).cast(target_types[c])).alias(c)
            for c in target.columns
        ]
    )

    if or_act == "REPLACE":
        key = _resolve_key(engine, table, target, None, "INSERT OR REPLACE")
        return _upsert_replace(engine, table, target, aligned, key, returning)
    if or_act == "IGNORE":
        key = _resolve_key(engine, table, target, None, "INSERT OR IGNORE")
        return _upsert_nothing(engine, table, target, aligned, key, returning)
    if conflict_tail is not None:
        t = _ON_CONFLICT_TAIL_RE.match(conflict_tail)
        if not t:
            raise FilesqlError(
                f"cannot parse ON CONFLICT clause: {conflict_tail[:80]}"
            )
        key = _resolve_key(engine, table, target, t.group("cols"), "ON CONFLICT")
        if t.group("act").upper() == "NOTHING":
            return _upsert_nothing(engine, table, target, aligned, key, returning)
        return _upsert_update(
            engine, table, target, aligned, key, t.group("rest"), returning
        )

    n = aligned.count()
    engine._reregister(table, target.unionByName(aligned))
    _track_rowid(engine, table, target, aligned, n)
    if engine._triggers:
        from filesql_spark import triggers as trig

        trig.fire(
            engine,
            table,
            "INSERT",
            aligned.select(
                F.struct(*[F.col(c) for c in aligned.columns]).alias("new")
            ),
        )
    return n, _returning_over(engine, aligned, returning)


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
        pk = engine._primary_keys.get(table)
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
        hwm = engine._rowid_hwm.get(table)
        if hwm is None:
            hwm = target.count()  # file-loaded rowids are dense 1..R
        hwm += n
        engine._rowid_hwm[table] = hwm
        engine._last_insert_rowid = hwm
    except Exception:
        pass


def _returning_over(engine, rows_df, returning: list[str] | None):
    """RETURNING evaluates over the affected rows (SQLite semantics); '*'
    is the row itself, expressions go through the dialect shim."""
    if returning is None:
        return None
    cols = [
        "*" if e.strip() == "*" else F.expr(dialect.rewrite(e, engine._column_types()))
        for e in returning
    ]
    return rows_df.select(*cols)


# --------------------------------------------------- INSTEAD OF (views)
# DML against a view dispatches here: with a matching INSTEAD OF trigger
# the body runs INSTEAD of any mutation (the view is never written and
# changes() stays 0, both SQLite-exact); without one, SQLite's error.


def _view_triggers(engine, table: str, event: str) -> list:
    return [
        t
        for t in engine._triggers.values()
        if t.table.lower() == table.lower()
        and t.event == event
        and t.timing == "INSTEAD OF"
    ]


def _require_instead_of(engine, table: str, event: str) -> None:
    if not _view_triggers(engine, table, event):
        raise FilesqlError(f"cannot modify {table} because it is a view")


def _view_insert(engine, table, m, returning):
    from filesql_spark import triggers as trig

    _require_instead_of(engine, table, "INSERT")
    target = engine._views[table]
    body = m.group("body").rstrip().rstrip(";")
    src = engine.spark.sql(dialect.rewrite(body, engine._column_types()))
    if m.group("cols"):
        names = [c.strip().strip('"`') for c in m.group("cols").split(",")]
    else:
        names = target.columns
    if len(src.columns) != len(names):
        raise FilesqlError(
            f"INSERT column count mismatch: {len(src.columns)} values "
            f"for {len(names)} columns"
        )
    src = src.toDF(*names)
    types = {f.name: f.dataType for f in target.schema.fields}
    aligned = src.select(
        *[
            (
                F.col(c).cast(types[c])
                if c in src.columns
                else F.lit(None).cast(types[c])
            ).alias(c)
            for c in target.columns
        ]
    )
    trig.fire(
        engine,
        table,
        "INSERT",
        aligned.select(
            F.struct(*[F.col(c) for c in aligned.columns]).alias("new")
        ),
    )
    return 0, _returning_over(engine, aligned, returning)


def _view_update(engine, table, m, returning):
    from filesql_spark import triggers as trig

    _require_instead_of(engine, table, "UPDATE")
    df = engine._views[table]
    set_part, where = _extract_where(m.group("body"))
    pred = (
        F.coalesce(F.expr(dialect.rewrite(where, engine._column_types())).cast("boolean"), F.lit(False))
        if where
        else F.lit(True)
    )
    types = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
    assigns = {}
    for piece in _split_level0(set_part):
        col, _eq, expr_src = piece.partition("=")
        name = col.strip().strip('"`')
        if name not in df.columns:
            raise FilesqlError(f"UPDATE: no such column {name!r} in {table!r}")
        assigns[name] = F.expr(dialect.rewrite(expr_src.strip(), engine._column_types())).cast(
            types[name]
        )
    matched = df.filter(pred)
    trig.fire(
        engine,
        table,
        "UPDATE",
        matched.select(
            F.struct(*[F.col(c) for c in df.columns]).alias("old"),
            F.struct(
                *[assigns.get(c, F.col(c)).alias(c) for c in df.columns]
            ).alias("new"),
        ),
        set_cols=set(assigns),
    )
    return 0, _returning_over(engine, matched.withColumns(assigns), returning)


def _view_delete(engine, table, m, returning):
    from filesql_spark import triggers as trig

    _require_instead_of(engine, table, "DELETE")
    df = engine._views[table]
    rest = m.group("rest").strip().rstrip(";")
    if rest:
        if not rest.lower().startswith("where"):
            raise FilesqlError(f"cannot parse DELETE tail: {rest[:80]}")
        pred = F.coalesce(
            F.expr(dialect.rewrite(rest[5:].strip(), engine._column_types())).cast("boolean"),
            F.lit(False),
        )
    else:
        pred = F.lit(True)
    doomed = df.filter(pred)
    trig.fire(
        engine,
        table,
        "DELETE",
        doomed.select(F.struct(*[F.col(c) for c in df.columns]).alias("old")),
    )
    return 0, _returning_over(engine, doomed, returning)


def _fire_insert_trigger(engine, table, rows_df) -> None:
    if not engine._triggers:
        return
    from filesql_spark import triggers as trig

    trig.fire(
        engine,
        table,
        "INSERT",
        rows_df.select(
            F.struct(*[F.col(c) for c in rows_df.columns]).alias("new")
        ),
    )


def _upsert_replace(engine, table, target, aligned, key, returning):
    """OR REPLACE: last incoming row per key wins; matching standing rows
    are dropped. changes() counts each attempted row, like SQLite."""
    n = aligned.count()
    incoming, _ = _dedup_by_key(aligned, key, keep="last")
    survivors = target.join(incoming.select(*key).distinct(), key, "left_anti")
    engine._reregister(table, survivors.unionByName(incoming))
    engine._rowid_hwm.pop(table, None)
    _track_rowid(engine, table, target, incoming, n, pk_only=True)
    # SQLite (recursive_triggers OFF, the default the reference inherits):
    # OR REPLACE fires INSERT triggers for the landed rows; the implicit
    # delete of the replaced row fires nothing
    _fire_insert_trigger(engine, table, incoming)
    return n, _returning_over(engine, incoming, returning)


def _upsert_nothing(engine, table, target, aligned, key, returning):
    """OR IGNORE / DO NOTHING: only rows whose key is absent insert; the
    first incoming row per key wins. changes() counts inserted rows only,
    and RETURNING omits skipped rows, like SQLite."""
    incoming, _ = _dedup_by_key(aligned, key, keep="first")
    inserted = incoming.join(target.select(*key).distinct(), key, "left_anti")
    n = inserted.count()
    engine._reregister(table, target.unionByName(inserted))
    engine._rowid_hwm.pop(table, None)
    _track_rowid(engine, table, target, inserted, n, pk_only=True)
    # SQLite: OR IGNORE / DO NOTHING fire INSERT triggers only for rows
    # that actually inserted
    _fire_insert_trigger(engine, table, inserted)
    return n, _returning_over(engine, inserted, returning)


def _upsert_update(engine, table, target, aligned, key, rest, returning):
    """DO UPDATE SET …: matched standing rows get the SET expressions
    (``excluded.col`` = incoming row), unmatched incoming rows insert."""
    set_part, where = _extract_where(rest)
    if re.match(r"(?i)^\s*NOTHING", set_part):  # defensive; caught earlier
        raise FilesqlError("DO NOTHING parsed as DO UPDATE")

    # duplicate keys within one batch have no distributed row-at-a-time
    # order to apply sequentially — refuse, like PostgreSQL
    dup = (
        _dedup_by_key(aligned, key, keep="first")[0].count() != aligned.count()
    )
    if dup:
        raise FilesqlError(
            "ON CONFLICT DO UPDATE: the incoming rows contain duplicate "
            "conflict keys; a set-oriented upsert cannot apply them "
            "sequentially — de-duplicate the batch first"
        )

    exc = aligned.select(
        F.lit(True).alias("__exc_present"),
        *[F.col(c).alias(f"__exc_{c}") for c in aligned.columns],
    )
    # alias the standing side so SET/WHERE can qualify columns by table
    # name (SQLite allows `SET x = t.x + excluded.x`)
    tgt = target.alias(table)
    cond = None
    for k in key:
        c = tgt[k].eqNullSafe(F.col(f"__exc_{k}")) & F.col(f"__exc_{k}").isNotNull()
        cond = c if cond is None else (cond & c)
    joined = tgt.join(F.broadcast(exc), cond, "left")

    matched = F.coalesce(F.col("__exc_present"), F.lit(False))
    if where:
        matched = matched & F.coalesce(
            F.expr(dialect.rewrite(_rewrite_excluded(where), engine._column_types())).cast("boolean"),
            F.lit(False),
        )

    types = {f.name: f.dataType for f in target.schema.fields}
    out_cols = []
    assigns = {}
    for piece in _split_level0(set_part):
        col, _eq, expr_src = piece.partition("=")
        name = col.strip().strip('"`')
        if name not in types:
            raise FilesqlError(f"DO UPDATE: no such column {name!r} in {table!r}")
        assigns[name] = F.expr(
            dialect.rewrite(_rewrite_excluded(expr_src.strip()), engine._column_types())
        ).cast(types[name])
    for c in target.columns:
        val = F.when(matched, assigns[c]).otherwise(tgt[c]) if c in assigns else tgt[c]
        out_cols.append(val.alias(c))

    updated = joined.select(*out_cols)
    n_updated = joined.filter(matched).count()
    to_insert = aligned.join(target.select(*key).distinct(), key, "left_anti")
    n_inserted = to_insert.count()
    engine._reregister(table, updated.unionByName(to_insert))
    _track_rowid(engine, table, target, to_insert, n_inserted, pk_only=True)
    if engine._triggers:
        # SQLite: DO UPDATE fires UPDATE triggers on the conflicted rows
        # (old = standing row, new = after SET) and INSERT triggers on
        # the non-conflicted inserted rows
        from filesql_spark import triggers as trig

        if n_updated:
            trig.fire(
                engine,
                table,
                "UPDATE",
                joined.filter(matched).select(
                    F.struct(
                        *[tgt[c].alias(c) for c in target.columns]
                    ).alias("old"),
                    F.struct(
                        *[
                            (
                                F.when(matched, assigns[c]).otherwise(tgt[c])
                                if c in assigns
                                else tgt[c]
                            ).alias(c)
                            for c in target.columns
                        ]
                    ).alias("new"),
                ),
                set_cols=set(assigns),
            )
        if n_inserted:
            _fire_insert_trigger(engine, table, to_insert)
    if returning is None:
        return n_updated + n_inserted, None
    # RETURNING sees the post-upsert rows: updated (new values) + inserted
    updated_rows = joined.filter(matched).select(*out_cols)
    return n_updated + n_inserted, _returning_over(engine, 
        updated_rows.unionByName(to_insert), returning
    )


# ------------------------------------------------------------------- UPDATE

_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+{_IDENT}\s+SET\s+(?P<body>.*)$", re.I | re.S
)


def _split_level0(text: str) -> list[str]:
    """Split on commas at paren depth 0, outside literals and quoted
    identifiers."""
    spans = dialect._div_split_args(dialect._div_mask(text), 0, len(text))
    return [p for p in (text[a:b].strip() for a, b in spans) if p]


def _extract_where(body: str) -> tuple[str, str | None]:
    """Split '... WHERE pred' at the depth-0 WHERE keyword."""
    m = dialect._find_depth0(dialect._div_mask(body), _WHERE_RX)
    if m is None:
        return body.strip().rstrip(";"), None
    return body[: m.start()].strip(), body[m.end() :].strip().rstrip(";")


def _update(engine, sql: str) -> tuple[int, "object | None"]:
    """Apply an UPDATE; returns (affected rows, RETURNING DataFrame | None).
    RETURNING evaluates over the affected rows' NEW values (SQLite 3.35+)."""
    sql, returning = _strip_returning(sql)
    m = _UPDATE_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse UPDATE: {sql.strip()[:120]}")
    table = _ident(m)
    if table not in engine._tables and table in engine._views:
        return _view_update(engine, table, m, returning)
    df = engine.table(table)
    set_part, where = _extract_where(m.group("body"))

    pred = (
        F.coalesce(F.expr(dialect.rewrite(where, engine._column_types())).cast("boolean"), F.lit(False))
        if where
        else F.lit(True)
    )
    assigns = {}
    for piece in _split_level0(set_part):
        col, _eq, expr_src = piece.partition("=")
        name = col.strip().strip('"`')
        if name not in df.columns:
            raise FilesqlError(f"UPDATE: no such column {name!r} in {table!r}")
        new_val = F.expr(dialect.rewrite(expr_src.strip(), engine._column_types())).cast(
            dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[name]
        )
        assigns[name] = F.when(pred, new_val).otherwise(F.col(name))

    n = df.filter(pred).count()
    engine._reregister(table, df.withColumns(assigns))
    if engine._triggers:
        from filesql_spark import triggers as trig

        # pre-update plan is immutable → old/new images stay valid
        trig.fire(
            engine,
            table,
            "UPDATE",
            df.filter(pred).select(
                F.struct(*[F.col(c) for c in df.columns]).alias("old"),
                F.struct(
                    *[assigns.get(c, F.col(c)).alias(c) for c in df.columns]
                ).alias("new"),
            ),
            set_cols=set(assigns),
        )
    # the pre-update plan is immutable, so the RETURNING frame (affected
    # rows with assignments applied) stays valid after the view swap
    return n, _returning_over(engine, df.filter(pred).withColumns(assigns), returning)


# ------------------------------------------------------------------- DELETE

_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+{_IDENT}\s*(?P<rest>.*)$", re.I | re.S
)


def _delete(engine, sql: str) -> tuple[int, "object | None"]:
    """Apply a DELETE; returns (affected rows, RETURNING DataFrame | None).
    RETURNING evaluates over the deleted rows (their last values)."""
    sql, returning = _strip_returning(sql)
    m = _DELETE_RE.match(sql)
    if not m:
        raise FilesqlError(f"cannot parse DELETE: {sql.strip()[:120]}")
    table = _ident(m)
    if table not in engine._tables and table in engine._views:
        return _view_delete(engine, table, m, returning)
    df = engine.table(table)
    rest = m.group("rest").strip().rstrip(";")
    if rest:
        if not rest.lower().startswith("where"):
            raise FilesqlError(f"cannot parse DELETE tail: {rest[:80]}")
        pred = F.coalesce(
            F.expr(dialect.rewrite(rest[5:].strip(), engine._column_types())).cast("boolean"), F.lit(False)
        )
    else:
        pred = F.lit(True)
    n = df.filter(pred).count()
    engine._reregister(table, df.filter(~pred))
    engine._rowid_hwm.pop(table, None)
    if engine._triggers:
        from filesql_spark import triggers as trig

        trig.fire(
            engine,
            table,
            "DELETE",
            df.filter(pred).select(
                F.struct(*[F.col(c) for c in df.columns]).alias("old")
            ),
        )
    return n, _returning_over(engine, df.filter(pred), returning)


# --------------------------------------------------------------------- DDL

_CREATE_TABLE_RE = re.compile(
    rf"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s*"
    r"(?P<body>\(.*\)|AS\s+.*)$",
    re.I | re.S,
)
_CREATE_VIEW_RE = re.compile(
    rf"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s+AS\s+(?P<body>.*)$",
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
        is_view = t.table in engine._views
        if t.timing == "INSTEAD OF":
            if not is_view:
                raise FilesqlError(
                    f"cannot create INSTEAD OF trigger on table: {t.table}"
                )
        elif is_view:
            raise FilesqlError(
                f"cannot create {t.timing} trigger on view: {t.table}"
            )
        elif t.table not in engine._tables:
            raise FilesqlError(f"no such table: {t.table}")
        if t.name.lower() in engine._triggers:
            if if_not_exists:
                return 0
            raise FilesqlError(f"trigger {t.name} already exists")
        engine._triggers[t.name.lower()] = t
        engine._refresh_catalog_views()
        return 0

    m = _CREATE_VIEW_RE.match(sql)
    if m:
        name = _ident(m)
        body = m.group("body").rstrip().rstrip(";")
        df = engine.spark.sql(dialect.rewrite(body, engine._column_types()))
        engine._views[name] = df
        # keep the defining SQL: views are dynamic (engine._rederive_views)
        engine._view_defs[name] = body
        df.createOrReplaceTempView(name)
        engine._refresh_catalog_views()
        return 0

    m = _CREATE_TABLE_RE.match(sql)
    if m:
        name = _ident(m)
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
        if name in engine._tables:
            if "IF NOT EXISTS" in sql.upper():
                return 0
            # SQLite raises here; silently replacing would drop user data
            from filesql_spark.errors import DuplicateTableError

            raise DuplicateTableError(f"table {name!r} already exists")
        engine.register(name, df)
        if pk:
            engine._primary_keys[name] = pk
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
    if kind == "TRIGGER":
        if name.lower() not in engine._triggers:
            if if_exists:
                return 0
            raise FilesqlError(f"no such trigger: {name}")
        del engine._triggers[name.lower()]
        engine._refresh_catalog_views()
        return 0
    store = engine._tables if kind == "TABLE" else engine._views
    if name not in store:
        if if_exists:
            return 0
        raise FilesqlError(f"no such {kind.lower()}: {name}")
    del store[name]
    if kind == "VIEW":
        engine._view_defs.pop(name, None)
    if kind == "TABLE":
        # SQLite drops a table's triggers with it (lang_droptable.html)
        engine._triggers = {
            k: t
            for k, t in engine._triggers.items()
            if t.table.lower() != name.lower()
        }
    engine._primary_keys.pop(name, None)
    engine._rowid_hwm.pop(name, None)
    from filesql_spark.engine import _view_ident

    engine.spark.catalog.dropTempView(_view_ident(name))
    if kind == "TABLE":
        # views over the dropped table keep their last-good DataFrame
        # (documented divergence) — the flush records the failure
        engine._mark_views_dirty()
    engine._refresh_catalog_views()
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


def _resolve_col(df, name: str) -> str | None:
    """Actual column name for a case-insensitive identifier (SQLite and
    Spark SQL both resolve identifiers case-insensitively — the same
    by_lower matching the INSERT path uses)."""
    return {c.lower(): c for c in df.columns}.get(name.lower())


def _alter(engine, sql: str) -> int:
    """SQLite's four ALTER TABLE forms (3.35+), over the versioned-view
    registry — each rewrites the table's DataFrame plan and re-registers
    the view, so ALTER participates in transactions/savepoints the same
    way DML does (the snapshot dicts capture the pre-ALTER plans,
    origins included).

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
    table = _ident(m)
    rest = m.group("rest")
    if table not in engine._tables:
        raise FilesqlError(f"no such table: {table}")
    df = engine._tables[table]
    low = rest.lstrip().lower()

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
            if new in engine._tables or new in engine._views:
                raise FilesqlError(
                    f"there is already another table or view named {new!r}"
                )
            from filesql_spark.engine import _view_ident

            del engine._tables[table]
            try:
                engine.spark.catalog.dropTempView(_view_ident(table))
            except Exception:
                pass
            if table in engine._primary_keys:
                engine._primary_keys[new] = engine._primary_keys.pop(table)
            if table in engine._origins:
                engine._origins[new] = engine._origins.pop(table)
            if table in engine._rowid_hwm:
                engine._rowid_hwm[new] = engine._rowid_hwm.pop(table)
            engine._reregister(new, df)
            return 0

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
        if table in engine._primary_keys:
            engine._primary_keys[table] = [
                new if c == actual else c for c in engine._primary_keys[table]
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
        if actual in engine._primary_keys.get(table, []):
            # SQLite: "error if the column ... is a PRIMARY KEY"
            raise FilesqlError(f"cannot drop PRIMARY KEY column: {name}")
        engine._reregister(table, df.drop(actual))
        return 0

    raise FilesqlError(f"cannot parse ALTER: {sql.strip()[:120]}")
