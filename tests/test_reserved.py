"""The one rule for operators' working column names
(operators/reserved.py::reject_reserved): every operator that adds
working columns to a caller's frame refuses a same-named input column,
compared ignoring case as Spark resolves names by default."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datawarehouse_spark.operators import text as T
from datawarehouse_spark.operators.rank import global_cumsum, global_rank
from datawarehouse_spark.operators.temporal import asof_join
from datawarehouse_spark.sources.snapshot import SnapshotTable

PKG = Path(__file__).resolve().parent.parent / "datawarehouse_spark"


def _frame(spark, *cols):
    return spark.createDataFrame(
        [tuple(range(len(cols)))], ", ".join(f"`{c}` long" for c in cols))


def _merge_source(spark, tmp, name):
    t = SnapshotTable.create(spark, _frame(spark, "k", "v"), str(tmp / "t"))
    t.merge(_frame(spark, "k", "v", name), on="k")


def _merge_target(spark, tmp, name):
    t = SnapshotTable.create(
        spark, _frame(spark, "k", "v", name), str(tmp / "t"))
    t.merge(_frame(spark, "k", "v"), on="k")


def _optimize_zorder(spark, tmp, name):
    t = SnapshotTable.create(spark, _frame(spark, "x", name), str(tmp / "t"))
    t.optimize(zorder_by=["x"])


def _asof_left(spark, tmp, name):
    asof_join(_frame(spark, "k", "lt", name), _frame(spark, "k", "rt", "v"),
              "k", "lt", "rt")


def _asof_right(spark, tmp, name):
    asof_join(_frame(spark, "k", "lt", "w"), _frame(spark, "k", "rt", name),
              "k", "lt", "rt")


def _global_rank(spark, tmp, name):
    global_rank(_frame(spark, "id", name), [F.asc("id")]).collect()


def _global_cumsum(spark, tmp, name):
    global_cumsum(_frame(spark, "id", name), [F.asc("id")], "id").collect()


def _ffd_packing(spark, tmp, name):
    T.ffd_packing(
        spark.createDataFrame([(1, "a b")], f"`{name}` long, text string"),
        id_col=name, budget=10,
    ).collect()


#: (operator call, one of its working names); the as-of join's right
#: value column ``v`` is a working name of its left side
CASES = [
    (_merge_source, "_t"),
    (_merge_target, "_s"),
    (_optimize_zorder, "__zo"),
    (_optimize_zorder, "z1"),
    (_asof_left, "_t"),
    (_asof_left, "v"),
    (_asof_right, "_rv"),
    (_global_rank, "_mid"),
    (_global_cumsum, "_blk"),
    (_ffd_packing, "bin_id"),
]


@pytest.mark.parametrize("upper", [False, True], ids=["exact", "upper"])
@pytest.mark.parametrize(
    "call,name", CASES, ids=[f"{c.__name__[1:]}-{n}" for c, n in CASES])
def test_guarded_operators_reject_working_names_ignoring_case(
    spark, tmp_path, call, name, upper
):
    col = name.upper() if upper else name
    with pytest.raises(ValueError, match=rf"\['{col}'\] collide with "
                       "reserved working names"):
        call(spark, tmp_path, col)


def _defs(tree):
    """Top-level functions and class methods of a module."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, ast.FunctionDef))


def test_every_column_collision_guard_is_the_one_helper():
    """Structural pin: the guarded operators call reject_reserved, and
    no other module raises a column-collision ValueError of its own."""
    callers: set[tuple[str, str]] = set()
    own: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for fn in _defs(tree):
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and "reject_reserved" in (
                        getattr(n.func, "id", None),
                        getattr(n.func, "attr", None)):
                    callers.add((rel, fn.name))
        if rel == "operators/reserved.py":
            continue
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Raise) and isinstance(n.exc, ast.Call)
                    and getattr(n.exc.func, "id", None) == "ValueError"):
                continue
            msg = " ".join(c.value for c in ast.walk(n.exc)
                           if isinstance(c, ast.Constant)
                           and isinstance(c.value, str))
            if re.search(r"collid|clash|disjoint|reserved|working name",
                         msg, re.IGNORECASE):
                own.append(f"{rel}:{n.lineno}")
    assert callers >= {
        ("sources/snapshot.py", "merge"),
        ("sources/snapshot.py", "optimize"),
        ("operators/temporal.py", "asof_join"),
        ("operators/rank.py", "global_rank"),
        ("operators/rank.py", "global_cumsum"),
        ("operators/text.py", "ffd_packing"),
    }, callers
    assert not own, own
