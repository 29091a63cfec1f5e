"""Batch-4 round-6 tests: digest merge/locate semantics, k-center
coverage property."""

from __future__ import annotations

from pyspark.sql import functions as F

from redshells_spark.data.integrity import corpus_digest
from redshells_spark.similarity.coreset import kcenter_coreset


def test_digest_detects_single_row_change(spark):
    rows = [(i, f"text {i}") for i in range(100)]
    a = spark.createDataFrame(rows, "id long, text string")
    b = spark.createDataFrame(
        [(i, f"text {i}" if i != 42 else "TAMPERED") for i in range(100)],
        "id long, text string",
    )
    da = {r["bucket"]: (r["n_rows"], r["xor_digest"], r["sum_digest"])
          for r in corpus_digest(a, ["id", "text"], 8).collect()}
    db = {r["bucket"]: (r["n_rows"], r["xor_digest"], r["sum_digest"])
          for r in corpus_digest(b, ["id", "text"], 8).collect()}
    assert da[-1] != db[-1]  # global certificate differs
    diff = [k for k in set(da) | set(db) if k != -1 and da.get(k) != db.get(k)]
    assert 1 <= len(diff) <= 2  # localized to the buckets of the 2 row-hashes


def test_digest_order_and_partition_free(spark):
    rows = [(i, f"t{i % 7}") for i in range(60)]
    a = spark.createDataFrame(rows, "id long, text string").repartition(13)
    b = spark.createDataFrame(list(reversed(rows)), "id long, text string").coalesce(1)
    da = sorted(map(tuple, corpus_digest(a, ["id", "text"], 8).collect()))
    db = sorted(map(tuple, corpus_digest(b, ["id", "text"], 8).collect()))
    assert da == db


def test_kcenter_picks_are_spread(spark):
    # 3 tight clusters far apart + noise: the first 3 picks must land
    # in 3 DIFFERENT clusters (farthest-first guarantees it)
    rows = []
    for ci, base in enumerate((0.0, 100.0, 200.0)):
        for j in range(10):
            rows.append((ci * 100 + j, [base + j * 0.01, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(kcenter_coreset(df, k=3, seed=17).collect(), key=lambda r: r["step"])
    clusters = {r["vec_id"] // 100 for r in out}
    assert len(clusters) == 3
    assert out[0]["d2_to_chosen"] == 0.0
    assert all(r["d2_to_chosen"] > 1000 for r in out[1:])  # cross-cluster jumps


def test_kcenter_early_stop_small_corpus(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = kcenter_coreset(df, k=5, seed=17).collect()
    assert len(out) == 2  # only 2 points exist


def test_streaming_digest_batch_parity(spark, tmp_path, state_ddl_check):
    from redshells_spark.streaming.stats import StreamingDigest

    rows = [(i, f"text {i % 17}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = StreamingDigest(base_path=str(tmp_path / "dig"), content_columns=("doc_id", "text"), n_buckets=8)
    d.process_batch(df.filter(F.col("doc_id") % 2 == 0), 0)
    d.process_batch(df.filter(F.col("doc_id") % 2 != 0), 1)
    want = sorted(map(tuple, corpus_digest(df, ["doc_id", "text"], 8).collect()))
    got = sorted(map(tuple, d.digest(spark).collect()))
    assert got == want


def test_revenue_concentration_bounds(spark):
    from redshells_spark.queries import get_queries

    out = get_queries()["revenue_concentration"](spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= out["gini_e6"] <= 1_000_000
    # HHI in [1e6/n, 1e6] (e3-share truncation can only lower it)
    assert out["hhi_e6"] <= 1_000_000
    assert out["hhi_e6"] >= 1_000_000 // out["n_nations"] - out["n_nations"] * 2


def test_dup_cluster_histogram_accounts_all_docs(spark):
    from redshells_spark.queries import get_queries

    rows = get_queries()["dup_cluster_histogram"](spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_docs"] for r in rows) == 500  # every doc in exactly one cluster
    assert all(r["n_dropped_at_keep1"] == r["n_docs"] - r["n_clusters"] for r in rows)


def test_token_pmi_unordered_and_bounded(spark):
    from redshells_spark.queries import get_queries

    rows = get_queries()["token_pmi_topk"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 30
    assert all(r["tok_a"] < r["tok_b"] for r in rows)
    assert all(r["c_ab"] >= 20 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
