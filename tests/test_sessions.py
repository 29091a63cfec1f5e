"""Session defaults and lifecycle: the default driver heap fits the
host, a cached aggregate is coalesced like any other plan, building a
Column costs no per-node call-site capture, and the set-similarity
joins keep nothing across sessions — a second
SparkSession started in the same process, after the first is stopped,
runs them exactly like the first (in a subprocess, because it stops
its sessions)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from redshells_spark import session

SCRIPT = """
from pyspark.sql import SparkSession

from redshells_spark.dedup.ppjoin import build_rank_sorted_sets, pairs_from_rank_sorted
from redshells_spark.similarity.stringjoin import token_jaccard_join


def run(spark):
    docs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]), (3, ["a", "b", "d"])],
        "id long, tokens array<string>",
    )
    tjj = token_jaccard_join(docs, "id", "tokens", threshold=0.5)
    sets = docs.selectExpr("id AS doc_id", "explode(tokens) AS el")
    idx = build_rank_sorted_sets(sets, "doc_id", "el")
    pairs = pairs_from_rank_sorted(idx, 5, 10, collapse_identical=True)
    return sorted(map(tuple, tjj.collect())), sorted(map(tuple, pairs.collect()))


results = []
for _ in range(2):
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results.append(run(spark))
    spark.stop()
assert results[0] == results[1], results
assert len(results[0][0]) == len(results[0][1]) == 3, results
"""


@pytest.mark.slow  # ~25s: two session start-ups in a fresh JVM
def test_set_similarity_joins_run_in_a_second_session():
    root = Path(__file__).resolve().parents[1]
    path = filter(None, [str(root), os.environ.get("PYTHONPATH")])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT], env=env, capture_output=True, text=True, timeout=600
    )
    assert done.returncode == 0, done.stderr[-4000:]


@pytest.mark.parametrize("host_gib,heap", [(15, "7680m"), (48, "24576m"), (512, "24576m")])
def test_default_driver_heap_is_half_the_host_at_most_24g(monkeypatch, host_gib, heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": host_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._host_driver_memory() == heap
    # tools/verify_local.py's default: a quarter of the host
    quarter = {15: "3840m", 48: "12288m", 512: "24576m"}[host_gib]
    assert session._host_driver_memory(share=4) == quarter


def test_cached_aggregate_is_coalesced(spark):
    # without spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # a cached plan keeps every shuffle partition of its last stage
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count().cache()
    try:
        assert cached.count() == 5
        assert cached.rdd.getNumPartitions() < shuffle
    finally:
        cached.unpersist()


def test_building_a_column_captures_no_call_site(round_trips):
    def build():
        return (F.lit(3) * F.col("x") + F.lit(5)) % 7

    build()  # the first build also resolves the functions' JVM handles
    # 52 with PySpark's DataFrame debugging on: it sends each node's
    # Python call site to the JVM
    assert round_trips(build)[1] <= 12
