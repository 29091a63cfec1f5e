"""``queries._shared._t``: a table's schema is inferred once per
(session, sf_dir, table); every read is still a fresh relation."""

from __future__ import annotations

import itertools
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from redshells_spark.queries import _shared, get_queries
from redshells_spark.queries._shared import MEMO_PATHS, _schemas, _t

DATA = Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.001"
TABLES = sorted(p.name.removesuffix(".parquet") for p in DATA.glob("*.parquet"))
_GROUPS = itertools.count()


@pytest.fixture()
def fresh_dir(tmp_path):
    """A copy of the perfbench tables under a path no memo has seen:
    the memos of one test session are shared by every test."""
    return str(shutil.copytree(DATA, tmp_path / "sf"))


def _jobs(spark, fn):
    """→ (fn(), jobs fn started)."""
    sc = spark.sparkContext
    group = f"table_reads_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_first_read_infers_once_and_later_reads_start_no_job(spark, fresh_dir):
    first, jobs = _jobs(spark, lambda: _t(spark, fresh_dir, "lineitem"))
    assert jobs == 1
    second, jobs = _jobs(spark, lambda: _t(spark, fresh_dir, "lineitem"))
    assert jobs == 0
    assert second.schema == first.schema and second.count() == first.count()
    assert set(_schemas(spark, fresh_dir)) == {"lineitem"}


def test_declared_schema_equals_the_inferred_one_for_every_table(spark, fresh_dir):
    assert "events" in TABLES  # TIMESTAMP(NANOS): read under nanosAsLong
    for name in TABLES:
        _t(spark, fresh_dir, name)
    for name in TABLES:
        hit, jobs = _jobs(spark, lambda: _t(spark, fresh_dir, name))
        assert jobs == 0
        assert hit.schema == spark.read.parquet(f"{fresh_dir}/{name}.parquet").schema, name


def test_second_build_of_a_query_starts_no_job(spark, fresh_dir):
    build = get_queries()["pricing_summary"]
    first, _ = _jobs(spark, lambda: build(spark, fresh_dir))
    second, jobs = _jobs(spark, lambda: build(spark, fresh_dir))
    assert jobs == 0
    assert sorted(second.collect()) == sorted(first.collect())


def test_self_join_of_two_reads_resolves(spark, fresh_dir):
    _t(spark, fresh_dir, "orders")  # the next two reads are hits
    a, b = _t(spark, fresh_dir, "orders"), _t(spark, fresh_dir, "orders")
    # one shared relation would make this condition trivially true
    pairs = a.join(b, a["o_custkey"] == b["o_custkey"])
    got = pairs.select(a["o_orderkey"], b["o_orderkey"].alias("other")).count()
    per_customer = a.groupBy("o_custkey").count()
    assert got == per_customer.select(F.sum(F.col("count") * F.col("count"))).collect()[0][0]


def test_schemas_are_dropped_with_their_path(spark, fresh_dir, tmp_path):
    app = spark.sparkContext.applicationId
    _t(spark, fresh_dir, "nation")
    assert _shared._MEMO[(app, fresh_dir)][_schemas.__wrapped__] == {
        "nation": spark.read.parquet(f"{fresh_dir}/nation.parquet").schema
    }
    for i in range(MEMO_PATHS):  # each new path pushes fresh_dir towards LRU
        _schemas(spark, str(tmp_path / f"other{i}"))
    assert (app, fresh_dir) not in _shared._MEMO
    _, jobs = _jobs(spark, lambda: _t(spark, fresh_dir, "nation"))
    assert jobs == 1  # inferred again

    stale = ("stopped-application", fresh_dir)
    _shared._MEMO[stale] = {_schemas.__wrapped__: {"nation": None}}
    _t(spark, fresh_dir, "nation")
    assert stale not in _shared._MEMO
