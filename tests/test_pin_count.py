"""pin_count: the pin's own jobs size the relation, and no
checkpoint-then-count() pair is left in the package."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from redshells_spark.operators.observe import pin_count


def _jobs(spark, group, fn):
    """→ (fn(), number of Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "shape,make",
    [
        ("empty", lambda spark: spark.createDataFrame([], "a long, b string")),
        (
            "shuffled",
            lambda spark: spark.range(500)
            .groupBy((F.col("id") % 7).alias("a"))
            .agg(F.count(F.lit(1)).alias("b")),
        ),
    ],
)
def test_pin_count_matches_checkpoint_and_count(spark, shape, make):
    (pinned, n), pin_jobs = _jobs(spark, f"pin_count_{shape}", lambda: pin_count(make(spark)))
    ckpt, ckpt_jobs = _jobs(
        spark, f"checkpoint_{shape}", lambda: make(spark).localCheckpoint(eager=True)
    )
    assert n == make(spark).count() == (0 if shape == "empty" else 7)
    assert sorted(pinned.collect()) == sorted(ckpt.collect())
    assert pin_jobs == ckpt_jobs


def _eager_checkpoint(node):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
        and any(
            kw.arg == "eager" and getattr(kw.value, "value", None) is True
            for kw in node.keywords
        )
    )


def _checkpoint_then_count(tree):
    """Yield (function, name, line) wherever ``name = ….localCheckpoint(eager=True)``
    is followed, before ``name`` is rebound, by ``name.count()``."""
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        events = []
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                pinned = _eager_checkpoint(node.value)
                events += [
                    (node.lineno, 0, t.id, pinned)
                    for t in node.targets
                    if isinstance(t, ast.Name)
                ]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "count"
                and not node.args
                and isinstance(node.func.value, ast.Name)
            ):
                events.append((node.lineno, 1, node.func.value.id, None))
        pinned_names = set()
        for line, kind, name, pinned in sorted(events):
            if kind == 0:
                (pinned_names.add if pinned else pinned_names.discard)(name)
            elif name in pinned_names:
                yield fn.name, name, line


def test_checkpoint_scan_sees_a_pair():
    src = "def f(df):\n    x = df.localCheckpoint(eager=True)\n    return x.count()\n"
    assert list(_checkpoint_then_count(ast.parse(src))) == [("f", "x", 3)]
    rebound = "def f(df):\n    x = df.localCheckpoint(eager=True)\n    x = x.limit(1)\n    return x.count()\n"
    assert list(_checkpoint_then_count(ast.parse(rebound))) == []


def test_no_checkpoint_then_count_left_in_package():
    package = Path(__file__).parents[1] / "redshells_spark"
    found = [
        f"{p.relative_to(package)}:{line} {fn} {name}"
        for p in sorted(package.rglob("*.py"))
        for fn, name, line in _checkpoint_then_count(ast.parse(p.read_text()))
    ]
    assert found == [], "size the pin with operators.observe.pin_count"
