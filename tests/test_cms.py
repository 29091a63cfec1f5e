"""Count-Min sketch: overestimate-only, exactness when collision-free,
merge linearity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.operators.sketches import cms_build, cms_lookup, cms_merge


@pytest.fixture()
def skewed(spark):
    rows = [(k,) for k in range(50) for _ in range(k + 1)]  # key k appears k+1 times
    return spark.createDataFrame(rows, "k long")


def test_cms_never_underestimates(spark, skewed):
    sk = cms_build(skewed, "k", depth=4, width=32)  # narrow -> collisions
    true = skewed.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    got = cms_lookup(sk, true, "k", depth=4, width=32).collect()
    assert len(got) == 50
    assert all(r["est"] >= r["true_cnt"] for r in got)


def test_cms_exact_when_wide(spark, skewed):
    sk = cms_build(skewed, "k", depth=4, width=4096)  # 50 keys, 4096 buckets
    true = skewed.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    got = cms_lookup(sk, true, "k", depth=4, width=4096).collect()
    assert all(r["est"] == r["true_cnt"] for r in got)


def test_cms_merge_equals_build_on_union(spark):
    a = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i % 5,) for i in range(60)], "k long")
    merged = cms_merge(
        cms_build(a, "k", depth=3, width=64), cms_build(b, "k", depth=3, width=64)
    )
    direct = cms_build(a.unionByName(b), "k", depth=3, width=64)
    m = {(r["row"], r["bucket"]): r["c"] for r in merged.collect()}
    d = {(r["row"], r["bucket"]): r["c"] for r in direct.collect()}
    assert m == d


def test_cms_weighted(spark):
    df = spark.createDataFrame([(1, 10), (1, 5), (2, 3)], "k long, w long")
    sk = cms_build(df, "k", depth=2, width=128, weight_column="w")
    keys = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    got = {r["k"]: r["est"] for r in cms_lookup(sk, keys, "k", depth=2, width=128).collect()}
    assert got[1] == 15 and got[2] == 3 and got[3] == 0  # absent key -> 0


def test_cms_guards(spark, skewed):
    with pytest.raises(ValueError, match="depth"):
        cms_build(skewed, "k", depth=0, width=8)


def test_cms_cell_count_bounded(spark, skewed):
    sk = cms_build(skewed, "k", depth=4, width=32)
    assert sk.count() <= 4 * 32
    assert sk.filter((F.col("bucket") < 0) | (F.col("bucket") >= 32)).count() == 0


def test_streaming_cms_equals_batch_sketch(spark, tmp_path, state_ddl_check):
    from redshells_spark.operators.sketches import cms_build
    from redshells_spark.streaming.stats import StreamingCms

    batches = [[(i % 7,) for i in range(50)], [(i % 5,) for i in range(30)],
               [(3,)] * 20]
    cms = StreamingCms(base_path=str(tmp_path / "state"), key_column="k",
                       depth=3, width=64)
    for i, b in enumerate(batches):
        cms.process_batch(spark.createDataFrame(b, "k long"), i)

    all_rows = spark.createDataFrame([r for b in batches for r in b], "k long")
    direct = {(r["row"], r["bucket"]): r["c"]
              for r in cms_build(all_rows, "k", depth=3, width=64).collect()}
    state = {(r["row"], r["bucket"]): r["c"]
             for r in spark.read.parquet(str(tmp_path / "state" / "cms")).collect()}
    assert state == direct

    keys = spark.createDataFrame([(3,), (0,)], "k long")
    got = {r["k"]: r["est"] for r in cms.lookup(spark, keys).collect()}
    true3 = sum(1 for b in batches for (k,) in b if k == 3)
    assert got[3] >= true3


def test_cms_keys_above_2_pow_32_no_overflow(spark):
    # regression: key*A overflowed int64 for keys above ~3.47e9 (ANSI
    # runtime error / silent wrap); the key is now reduced mod P first.
    big = 2**40 + 12345
    df = spark.createDataFrame([(big,)] * 7 + [(2**33,)] * 3, "k long")
    sk = cms_build(df, "k", depth=4, width=1024)
    keys = spark.createDataFrame([(big,), (2**33,)], "k long")
    got = {r["k"]: r["est"] for r in cms_lookup(sk, keys, "k", depth=4, width=1024).collect()}
    assert got[big] >= 7 and got[2**33] >= 3
    buckets = sk.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    assert buckets[0] >= 0 and buckets[1] < 1024
