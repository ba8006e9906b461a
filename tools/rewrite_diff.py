"""Byte-identity check of ``dialect.rewrite`` between two source trees.

    python tools/rewrite_diff.py PARENT_TREE [--show N]

Builds one statement corpus from this tree:

- the SQL string literals in ``tests/*.py`` and ``perfbench/workloads.py``;
- ``workloads.dense_select`` for seeds 1-20 at every ``DENSE_SIZES`` size,
  and every statement the benchmark's front_door and sqlite_session
  workloads run at seeds 1-20;
- the seeded generators of ``tests/test_fuzz_dialect.py`` (seeds 2024, 77
  and 31337), one statement per generated expression plus one wide SELECT
  per generator and seed;
- ``operator_pair_selects`` of ``tests/test_dialect.py``: `a op1 b op2 c`
  for every ordered pair of SQLite binary operators but GLOB, one wide
  SELECT per first operator, ``between_rows``: [NOT] BETWEEN next to
  each of those operators, and ``in_rows``: [NOT] IN lists and
  subqueries next to each of them, row values and sites nested in an IN
  or IS subquery, 24 expressions per SELECT.

Each statement is rewritten twice, with no column types and with one
typed map, by ``filesql_spark.dialect`` imported from this tree and from
PARENT_TREE (each in its own interpreter). An error counts as an output:
its class name and message must match too. Prints the pair count, the
total rewrite time of each tree, the 10 largest output/input length
ratios of each tree (a rewrite that blows up shows there) and the first
N differences; exits 1 on any difference.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import random
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TYPED = {
    "id": "int", "n": "int", "m": "int", "a": "int", "b": "int", "k": "int",
    "i": "int", "qty": "int", "x": "real", "r": "real", "price": "real",
    "s": "text", "t": "text", "v": "text", "name": "text", "doc": "text",
}
FUZZ_SEEDS = (2024, 77, 31337)
_SQL_HEAD = re.compile(
    r"(?is)^\s*(select|with|values|insert|update|delete|replace|create|drop"
    r"|alter|pragma|begin|commit|rollback|savepoint|release|explain)\b"
)

# Runs in the interpreter of one tree: reads [[sql, types], ...] on stdin,
# writes [[kind, text], ...] and the total rewrite seconds on stdout.
_WORKER = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
from filesql_spark import dialect
out, total = [], 0.0
for sql, types in json.load(sys.stdin):
    t0 = time.perf_counter()
    try:
        res = ["ok", dialect.rewrite(sql, types)]
    except Exception as exc:
        res = ["err", f"{type(exc).__name__}: {exc}"]
    total += time.perf_counter() - t0
    out.append(res)
json.dump({"results": out, "seconds": total}, sys.stdout)
"""


def _literals(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [
        node.value for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and _SQL_HEAD.match(node.value)
    ]


def _fuzz_statements() -> list[str]:
    sys.path.insert(0, os.path.join(REPO, "tests"))
    import test_fuzz_dialect as fz

    def expr(gen):
        return lambda rng: gen(rng, rng.randint(1, 4))[0]

    gens = {
        "expr": expr(fz._gen),
        "affine": expr(fz._gen_affine),
        "bool": lambda rng: fz._gen_bool(rng, rng.randint(1, 3)),
        "json_mutation": fz._gen_json_mutation,
        "concat": fz._gen_concat,
        "cmp_operand": fz._gen_cmp_operand,
    }
    out: list[str] = []
    for seed in FUZZ_SEEDS:
        for name, gen in gens.items():
            rng = random.Random(f"{name}-{seed}")
            exprs = [gen(rng) for _ in range(80)]
            out += [f"SELECT {e} AS c FROM t" for e in exprs]
            out.append("SELECT " + ", ".join(
                f"{e} AS c{i}" for i, e in enumerate(exprs)) + " FROM t")
        rng = random.Random(seed)
        out += [fz._gen_agg(rng) for _ in range(40)]
        out += [fz._gen_window(rng) for _ in range(40)]
        for _ in range(10):
            out += fz._gen_dml_sequence(rng)
    return out


def corpus() -> list[str]:
    stmts: list[str] = []
    tests = os.path.join(REPO, "tests")
    for name in sorted(os.listdir(tests)):
        if name.endswith(".py"):
            stmts += _literals(os.path.join(tests, name))
    bench = os.path.join(REPO, "perfbench")
    stmts += _literals(os.path.join(bench, "workloads.py"))
    sys.path.insert(0, bench)
    import datagen
    import workloads

    for seed in range(1, 21):
        for size in workloads.DENSE_SIZES:
            stmts.append(workloads.dense_select(random.Random(seed), size))
        ctx = workloads.Ctx(None, "", seed)
        tables = datagen.make_tables(seed, workloads.SESSION_SF)
        for st in workloads.FrontDoor(ctx).statements() + workloads.SqliteSession(ctx).statements(tables):
            stmts.append(st.sql)
    stmts += _fuzz_statements()
    import test_dialect

    # GLOB takes only a literal pattern here: a column pattern fails the
    # whole statement, in both trees alike
    ops = [op for op in test_dialect.PRECEDENCE_OPS if op != "GLOB"]
    stmts += test_dialect.operator_pair_selects(ops, ops).values()
    for gen in (test_dialect.between_rows, test_dialect.in_rows):
        rows = [" ".join(r) for r in gen(ops)]
        stmts += [
            "SELECT " + ", ".join(rows[k:k + 24]) + " FROM t" for k in range(0, len(rows), 24)
        ]
    return list(dict.fromkeys(stmts))


def run_tree(tree: str, pairs: list) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, os.path.abspath(tree)],
        input=json.dumps(pairs), capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="root of the tree to compare against")
    ap.add_argument("--show", type=int, default=5,
                    help="differences to print (default 5)")
    args = ap.parse_args(argv)
    pairs = [[sql, types] for sql in corpus() for types in (None, TYPED)]
    base = run_tree(args.parent, pairs)
    head = run_tree(REPO, pairs)
    diffs = [
        (p, a, b) for p, a, b in zip(pairs, base["results"], head["results"])
        if a != b
    ]
    print(f"pairs: {len(pairs)}  differences: {len(diffs)}")
    print(f"rewrite seconds: parent {base['seconds']:.2f}  "
          f"this tree {head['seconds']:.2f}")
    for label, res in (("parent", base), ("this tree", head)):
        ratios = sorted((
            (len(out) / max(len(sql), 1), len(sql), len(out), sql)
            for (sql, _types), (kind, out) in zip(pairs, res["results"])
            if kind == "ok"
        ), reverse=True)[:10]
        print(f"largest output/input ratios, {label}:")
        for ratio, n_in, n_out, sql in ratios:
            print(f"  {ratio:8.1f}x  {n_in} -> {n_out} chars  {sql[:80]!r}")
    for (sql, types), a, b in diffs[:args.show]:
        print("---", "typed" if types else "untyped", repr(sql[:300]))
        print("  parent:", repr(a[1][:300]))
        print("  this:  ", repr(b[1][:300]))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
