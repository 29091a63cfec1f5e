"""``queries._shared.session_memo``: the one in-session cache, and the
only place in ``queries/`` that keys one."""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from redshells_spark.queries import _shared
from redshells_spark.queries._shared import MEMO_PATHS, session_memo


def _memo(make):
    calls = []

    @session_memo
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return make(spark, sf_dir)

    return build, calls


def _cached(spark, sf_dir):
    # one plan per path: the cache manager shares identical plans
    return spark.range(3).select(F.lit(sf_dir).alias("p")).cache()


def _paths(tmp_path):
    return [str(tmp_path / str(i)) for i in range(MEMO_PATHS + 1)]


def test_builds_once_per_path_and_evicts_least_recently_used(spark, tmp_path):
    build, calls = _memo(_cached)
    paths = _paths(tmp_path)
    dfs = [build(spark, p) for p in paths[:-1]]
    assert build(spark, paths[0]) is dfs[0]  # a hit, and paths[0] is now MRU
    assert calls == paths[:-1]
    assert StorageLevel.NONE not in [df.storageLevel for df in dfs]
    build(spark, paths[-1])  # one path too many: paths[1] is the LRU one
    evicted = [df.storageLevel == StorageLevel.NONE for df in dfs]
    assert evicted == [False, True, False, False]
    assert build(spark, paths[1]) is not dfs[1]
    assert calls == paths + [paths[1]]


def test_non_dataframe_values_are_evicted_without_error(spark, tmp_path):
    scalar, scalar_calls = _memo(lambda s, p: 7)
    pair, pair_calls = _memo(lambda s, p: (_cached(s, p), 7))
    paths = _paths(tmp_path)
    first = pair(spark, paths[0])
    for p in paths:
        scalar(spark, p)
    assert first[0].storageLevel == StorageLevel.NONE  # a tuple's frame is released too
    assert pair(spark, paths[0]) is not first and scalar(spark, paths[0]) == 7
    assert pair_calls == [paths[0]] * 2 and scalar_calls == paths + [paths[0]]


def test_evicting_a_checkpoint_memo_frees_its_rdd(spark, tmp_path):
    # unpersist() on a localCheckpoint frame leaves its checkpointed RDD
    # registered; eviction must unpersist that RDD itself
    build, _ = _memo(
        lambda s, p: s.range(3).select(F.lit(p).alias("p")).localCheckpoint(eager=True)
    )
    paths = _paths(tmp_path)
    first = build(spark, paths[0])
    rdd_id = first._jdf.queryExecution().analyzed().rdd().id()

    def persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs()

    assert persistent().contains(rdd_id)
    before = persistent().size()
    for p in paths[1:]:
        build(spark, p)  # the last one evicts paths[0]
    assert not persistent().contains(rdd_id)
    assert persistent().size() <= before + MEMO_PATHS - 1


def test_stale_session_entries_dropped_without_spark(spark, tmp_path):
    build, calls = _memo(lambda s, p: 1)
    dead = object.__new__(DataFrame)  # no JVM handle
    with pytest.raises(Exception):
        dead.unpersist()
    stale = ("stopped-application", str(tmp_path / "old"))
    _shared._MEMO[stale] = {build.__wrapped__: dead}
    build(spark, str(tmp_path))
    assert stale not in _shared._MEMO and calls == [str(tmp_path)]


def test_no_cache_is_keyed_outside_session_memo():
    package = Path(_shared.__file__).parents[1]
    app_ids = {
        f.name: f.read_text().count("applicationId")
        for f in (package / "queries").glob("*.py")
    }
    helper = inspect.getsource(session_memo).count("applicationId")
    assert {f: n for f, n in app_ids.items() if n} == {"_shared.py": helper}
    cache_dict = re.compile(r"^_\w*_CACHE\s*(:[^=]*)?=", re.M)
    assert [f for f in package.rglob("*.py") if cache_dict.search(f.read_text())] == []
    # nor a module-global DataFrame handle rebound by a ``global``
    # statement: such a handle outlives its session, and releasing it
    # from the next session calls into a stopped context
    globals_, handles = [], []
    for f in package.rglob("*.py"):
        tree = ast.parse(f.read_text())
        globals_ += [f.name for n in ast.walk(tree) if isinstance(n, ast.Global)]
        handles += [
            f"{f.name}:{n.lineno}"
            for n in tree.body
            if isinstance(n, ast.AnnAssign) and "DataFrame" in ast.unparse(n.annotation)
        ]
    assert globals_ == [] and handles == []
