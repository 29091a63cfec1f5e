"""Self-tests of the benchmark: its statistics, span arithmetic, output
digest, its refusal to run without the package, and a smoke run of
every workload on the tiny tables.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import median, quantile, self_time, tail_supported  # noqa: E402


def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_p90_needs_ten_samples_beyond_it():
    assert not tail_supported(99, 0.9)
    assert tail_supported(100, 0.9)
    assert quantile(list(range(99)), 0.9) is None
    # nearest rank: the 90th of 100 sorted values, with 10 above it
    assert quantile(list(range(100))[::-1], 0.9) == 89
    assert quantile(list(range(20)), 0.5) == 9


def test_self_time_subtracts_the_union_of_children():
    # children cover [1, 5] (overlapping) and [8, 10] (clipped to the span)
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert self_time(0.0, 10.0, [(-1.0, 11.0)]) == pytest.approx(0.0)
    # a child nested in another adds nothing
    assert self_time(0.0, 10.0, [(2.0, 6.0), (3.0, 4.0)]) == pytest.approx(6.0)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = SparkSession.builder.master("local[2]").appName("perfbench-test").getOrCreate()
    yield session
    session.stop()


def test_digest_is_order_insensitive_and_covers_every_column(spark):
    from perfbench.run import digest_frame

    rows = [(i, f"s{i % 7}", {"k": i}, [float(i)]) for i in range(200)]
    schema = "id long, s string, m map<string,int>, v array<double>"
    df = spark.createDataFrame(rows, schema)
    shuffled = spark.createDataFrame(rows[::-1], schema).repartition(5)
    changed = spark.createDataFrame(rows[:-1] + [(199, "s0", {"k": 199}, [0.5])], schema)
    a, b, c = (tuple(digest_frame(d).collect()[0]) for d in (df, shuffled, changed))
    assert a == b
    assert a[0] == c[0] == 200
    assert a[1] != c[1]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "short_analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_smoke_every_workload_reports_every_metric():
    """Every workload at the tiny scale, traced: all outputs correct,
    every per-layer metric of BENCHMARK.json reported, and the untraced
    end-to-end metrics recorded alongside."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--smoke", "--seed", "3", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    details = [json.loads(line)["detail"] for line in lines[:-1]]
    assert result["correct"] and result["failed"] == 0
    assert [d["workload"] for d in details] == [w["name"] for w in spec["workloads"]]
    for d in details:
        assert d["fail_frac"] == 0
        assert set(d["metrics"]) == {m["name"] for m in spec["per_layer"]}
        assert set(d["e2e"]) == {m["name"] for m in spec["end_to_end"]}
        for m in spec["per_layer"]:
            assert result["metrics"][f"{d['workload']}.{m['name']}"]["unit"] == m["unit"]
