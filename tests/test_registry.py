"""Registry pins against tests/registry_order.json: the driver window,
the query and oracle name sets, and the text of every declared oracle.

The correctness check behind `__spark_entry__` reads only the first 50
entries of get_queries() and get_oracles(); past the window the order
carries no contract, so only the window is pinned. Each oracle is pinned by the sha256 of its SQL:
a declared oracle is never edited to agree with the engine.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from redshells_spark.queries import _FRONT, ORACLES, QUERIES, get_oracles, get_queries

HERE = os.path.dirname(os.path.abspath(__file__))
PIN = json.load(open(os.path.join(HERE, "registry_order.json")))


def test_registry_front_window():
    assert len(_FRONT) == len(set(_FRONT)) == 50
    assert list(get_queries())[:50] == _FRONT == PIN["queries_window"]
    assert list(get_oracles())[:50] == PIN["oracles_window"]
    assert set(get_queries()) == set(QUERIES)
    assert set(get_oracles()) == set(ORACLES)


def test_registry_names_and_oracle_texts_pinned():
    assert sorted(QUERIES) == PIN["query_names"]
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in sorted(ORACLES.items())
    }
    want = PIN["oracle_sha256"]
    assert got.keys() == want.keys()
    assert sorted(n for n in want if got[n] != want[n]) == []


def test_bench_headline_names_registered():
    from bench import HEADLINE

    assert [n for n in HEADLINE if n not in QUERIES] == []


def test_query_modules_grouped_by_domain():
    pkg = os.path.join(os.path.dirname(HERE), "redshells_spark", "queries")
    assert glob.glob(os.path.join(pkg, "r[0-9]*_ops.py")) == []
