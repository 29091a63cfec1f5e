"""Every dtype-sensitive query must produce the SAME logical result on
alternate physical encodings of the testdata (tools/regen_alt_dtypes.py:
events.ts as long-nanos, o_orderdate as date32, embeddings as
list<double>). This is the regression net for the round-2 breakage where
an environment-side dtype flip broke four queries at analysis time.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

# queries that touch the re-encoded columns
DTYPE_SENSITIVE = [
    "sessionize",
    "windowed_event_counts",
    "event_time_gaps",
    "asof_join_orders",
    "monthly_order_rollup",
    "events_rollup",
    "events_cube",
    "events_json_extract",
    "cumulative_revenue",
    "vector_functions",
    "brute_force_topk",
    "dot_product_pairs",
    # round-3 event-time / embedding consumers
    "time_bucket_gapfill",
    "rolling_event_stats",
    "kmv_distinct_users",
    "zorder_events",
    "latest_by_key",
    "pq_topk",
    # round-3 session-2 event-time consumers
    "scd2_user_event_type",
    "max_concurrent_events",
    "interval_coverage_users",
    "cdc_merge_snapshot",
    "seasonal_decompose_profile",
    # round-4 session-2 event-time consumer
    "event_transition_matrix",
]


@pytest.fixture(scope="module")
def alt_dir(tmp_path_factory, sf_dir):
    from regen_alt_dtypes import regen

    return regen(sf_dir, str(tmp_path_factory.mktemp("altdtypes")))


@pytest.fixture(scope="module")
def registry():
    from redshells_spark.queries import get_queries

    return get_queries()


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.collect()]

    def key(t):
        return tuple((x is None, str(x)) for x in t)

    return sorted(rows, key=key)


@pytest.mark.parametrize("name", DTYPE_SENSITIVE)
def test_query_matches_on_alt_dtypes(spark, sf_dir, alt_dir, registry, name):
    fn = registry[name]
    if name == "brute_force_topk":
        # the block kernel reads both encodings: array<float> as stored,
        # array<double> as re-encoded
        emb = "embeddings.parquet"
        assert [
            spark.read.parquet(f"{d}/{emb}").schema["embedding"].dataType.simpleString()
            for d in (sf_dir, alt_dir)
        ] == ["array<float>", "array<double>"]
    base = _canon(fn(spark, sf_dir))
    alt = _canon(fn(spark, alt_dir))
    assert len(base) > 0
    if name in ("vector_functions", "brute_force_topk", "dot_product_pairs"):
        # float32->float64 re-encoding legitimately moves the 4th
        # decimal of rounded scores; require same shape + ids, and
        # values within fp32 tolerance
        assert len(base) == len(alt)
        for b, a in zip(base, alt):
            for x, y in zip(b, a):
                if isinstance(x, float) and isinstance(y, float):
                    assert abs(x - y) <= 1e-3, (b, a)
                else:
                    assert x == y, (b, a)
    else:
        assert base == alt
