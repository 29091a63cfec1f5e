"""PassJoin / prefix-filter completeness vs brute force on random data."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from redshells_spark.dedup.ppjoin import BITSET_UNIVERSE
from redshells_spark.similarity.stringjoin import edit_distance_join, token_jaccard_join


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("k", [1, 2])
def test_edit_distance_join_equals_brute_force(spark, k):
    rng = random.Random(42 + k)
    base = ["spark", "sparky", "shark", "spork", "stream", "steam", "steel",
            "window", "widow", "winnow", "joined", "joint", "point", "paint"]
    strs = []
    for s in base:
        strs.append(s)
        # mutated neighbors
        for _ in range(3):
            i = rng.randrange(len(s))
            strs.append(s[:i] + rng.choice("abcdefgh") + s[i + 1:])
    strs = sorted(set(x for x in strs if len(x) > k))
    expected = {
        (a, b, _levenshtein(a, b))
        for a, b in itertools.combinations(strs, 2)
        if _levenshtein(a, b) <= k
    }
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {
        (r["id1"], r["id2"], r["dist"])
        for r in edit_distance_join(df, "s", "s", k=k).collect()
    }
    assert got == expected


def test_edit_distance_join_refuses_short_strings(spark):
    df = spark.createDataFrame([("ab",), ("x",)], "s string")
    with pytest.raises(ValueError, match="longer than"):
        edit_distance_join(df, "s", "s", k=2)


def test_edit_distance_join_no_cartesian(spark):
    df = spark.createDataFrame([("abcdef",), ("abcdeg",)], "s string")
    plan = edit_distance_join(df, "s", "s", k=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "tau,n_vocab",
    [
        # 30 tokens: the in-row index and the inline bitset verify
        pytest.param(0.5, 30, id="0.5"),
        pytest.param(0.8, 30, id="0.8"),
        # 100 tokens: above one bitset word, so the long-form index
        # fallback and the array verify
        pytest.param(0.5, 100, id="0.5-fallback"),
        pytest.param(0.8, 100, id="0.8-fallback"),
    ],
)
def test_token_jaccard_join_equals_brute_force(spark, tau, n_vocab):
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(n_vocab)]
    sets = {i: set(rng.sample(vocab, rng.randint(3, 12))) for i in range(40)}
    # plant near-duplicates
    for i in range(40, 48):
        src = sets[i - 40]
        s = set(src)
        if len(s) > 3:
            s.discard(next(iter(s)))
        sets[i] = s
    assert (len(set().union(*sets.values())) > BITSET_UNIVERSE) == (n_vocab > 30)
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= tau:
            expected.add((a, b, inter))
    df = spark.createDataFrame(
        [(i, sorted(ts)) for i, ts in sets.items()], "id bigint, tokens array<string>"
    )
    got = {
        (r["id1"], r["id2"], r["inter"])
        for r in token_jaccard_join(df, "id", "tokens", threshold=tau).collect()
    }
    assert got == expected


def test_token_jaccard_join_set_semantics(spark):
    # duplicate tokens collapse before sizing
    rows = [(1, ["a", "a", "b"]), (2, ["a", "b", "b"])]
    df = spark.createDataFrame(rows, "id bigint, tokens array<string>")
    out = token_jaccard_join(df, "id", "tokens", threshold=0.9).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0 and out[0]["n1"] == 2
