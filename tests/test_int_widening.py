"""Spark's rank() is int32 where DuckDB's is BIGINT: arithmetic on it
must widen the operand first, or it wraps at scale before any later
cast. The analyzed plan shows the order without data at that scale."""

from __future__ import annotations

import re

from redshells_spark.queries import get_queries


def test_spearman_widens_rank_before_doubling(spark, sf_dir):
    df = get_queries()["spearman_by_group"](spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()
    ranks = re.findall(r"rank\([^)]*\) windowspecdefinition.*? AS (_we\d+#\d+)", plan)
    assert len(ranks) == 2
    for alias in ranks:
        assert f"cast({alias} as bigint) * " in plan, alias
        assert f"({alias} * 2)" not in plan and f"(2 * {alias})" not in plan
