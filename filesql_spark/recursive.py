"""WITH RECURSIVE emulation (SURVEY §7.4 hard-part #7).

SQLite supports recursive CTEs (doc.go:72); Spark SQL (<4.x recursion
support) does not. We emulate with delta iteration — the standard
semi-naive fixpoint:

    acc   := base
    delta := base
    repeat: delta' := step(working_table := delta)
            UNION:      delta' := delta' − acc   (set semantics)
            acc := acc ∪ delta'
    until delta' is empty (or max_iterations)

Each iteration ``localCheckpoint``s the accumulator — without lineage
truncation the logical plan doubles per iteration and Catalyst analysis
goes quadratic; with it, iterative algorithms scale to deep recursion.
This is the general pattern for iterative DataFrame algorithms on a
cluster (PageRank-style loops), not just CTE emulation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from filesql_spark import dialect
from filesql_spark.errors import FilesqlError

MAX_ITERATIONS = 200

_RECURSIVE_RE = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+(?P<name>\"[^\"]+\"|`[^`]+`|\w+)\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*AS\s*\(",
    re.I | re.S,
)


def is_recursive(sql: str) -> bool:
    return _RECURSIVE_RE.match(sql) is not None


_UNION_RX = re.compile(r"\bunion\b(\s+all\b)?", re.I)


def _split_top_level_union(body: str) -> tuple[str, str, bool]:
    """Split the CTE body at the top-level UNION [ALL]; returns
    (base, step, is_union_all)."""
    m = dialect._find_depth0(dialect._div_mask(body), _UNION_RX)
    if m is None:
        raise FilesqlError("recursive CTE body must be 'base UNION [ALL] step'")
    return body[: m.start()], body[m.end() :], m.group(1) is not None


def _extract(sql: str) -> tuple[str, list[str] | None, str, str]:
    """Return (cte_name, columns, body, main_query)."""
    m = _RECURSIVE_RE.match(sql)
    if not m:
        raise FilesqlError("not a WITH RECURSIVE statement")
    name = m.group("name").strip('"`')
    cols = (
        [c.strip().strip('"`') for c in m.group("cols").split(",")]
        if m.group("cols")
        else None
    )
    # the close paren matching "AS ("
    i = dialect._div_find_close(dialect._div_mask(sql), m.end() - 1, len(sql))
    if i == -1:
        raise FilesqlError("unbalanced parentheses in recursive CTE")
    body = sql[m.end() : i]
    main = sql[i + 1 :].strip()
    if main.startswith(","):
        # WITH RECURSIVE a AS (...), b AS (...), ... SELECT — the recursive
        # CTE is iterated here; the trailing (non-recursive) CTEs re-wrap as
        # a plain WITH around the main query. They may reference the
        # recursive name: it is registered as a temp view before main runs.
        main = "WITH " + main[1:].lstrip()
    if not main:
        raise FilesqlError("recursive CTE needs a main SELECT")
    return name, cols, body, main


def run_recursive(
    spark: SparkSession, sql: str, rewrite, max_iterations: int = MAX_ITERATIONS
) -> DataFrame:
    """Execute a WITH RECURSIVE statement by delta iteration."""
    name, cols, body, main = _extract(sql)
    base_sql, step_sql, union_all = _split_top_level_union(body)

    acc = spark.sql(rewrite(base_sql))
    if cols:
        acc = acc.toDF(*cols)
    if not union_all:
        acc = acc.distinct()
    delta = acc

    for _ in range(max_iterations):
        if delta.isEmpty():
            break
        # the recursive reference sees the previous iteration's delta
        delta.createOrReplaceTempView(name)
        new = spark.sql(rewrite(step_sql))
        if cols:
            new = new.toDF(*cols)
        else:
            new = new.toDF(*acc.columns)
        delta = new if union_all else new.subtract(acc)
        if delta.isEmpty():
            break
        # truncate lineage: plan size would double per iteration otherwise
        acc = acc.unionAll(delta).localCheckpoint(eager=True)
        delta = delta.localCheckpoint(eager=True)
    else:
        raise FilesqlError(
            f"recursive CTE exceeded {max_iterations} iterations (no fixpoint)"
        )

    acc.createOrReplaceTempView(name)
    try:
        return spark.sql(rewrite(main))
    finally:
        pass  # view stays registered for the statement's lifetime
