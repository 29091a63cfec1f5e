"""streaming/state.py: a restarted stream folds nothing twice, only a
never-written state directory reads as empty, and the package keeps
one way to read, fold and wire streaming state."""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from redshells_spark.streaming.drift import DriftIngest
from redshells_spark.streaming.ingest import _append_bucketed
from redshells_spark.streaming.state import read_state, start_ingest
from redshells_spark.streaming.winrate import WinRateIngest

STREAMING = Path(__file__).resolve().parents[1] / "redshells_spark" / "streaming"


@pytest.mark.parametrize(
    "make,rows,schema,state,state_schema,total",
    [
        (
            DriftIngest, [(1.0, 1), (2.0, 0), (3.0, 1)], "value double, is1 long",
            "value_counts", "v long, c1 long, c2 long", "c1 + c2",
        ),
        (
            WinRateIngest, [("a", "b"), ("a", "b"), ("b", "c")], "winner string, loser string",
            "pair_counts", "model_a string, model_b string, games long, wins_a long", "games",
        ),
    ],
    ids=["drift", "winrate"],
)
def test_restart_does_not_refold_state(
    spark, tmp_path, make, rows, schema, state, state_schema, total
):
    # two runs of one query over the same source and base path, each with
    # a fresh processor: the restart resumes from the checkpoint
    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b0.parquet"))
    runs = []
    for _ in range(2):
        runs.append(make(base_path=str(tmp_path / "state")))
        q = start_ingest(
            spark.readStream.schema(schema).parquet(str(src / "*.parquet")),
            runs[-1],
            "restart_test",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    folded = read_state(spark, str(tmp_path / "state" / state), state_schema)
    assert folded.selectExpr(f"sum({total})").collect()[0][0] == 3  # not 6
    assert len(runs[0].stats) == 1 and runs[1].stats == []


def test_interrupted_overwrite_raises_instead_of_resetting(spark, tmp_path):
    ingest = DriftIngest(base_path=str(tmp_path / "state"))
    ingest.process_batch(
        spark.createDataFrame([(1.0, 1), (2.0, 0), (3.0, 1)], "value double, is1 long"), 0
    )
    assert ingest.stats[-1]["state_rows"] == 3
    # what an overwrite interrupted between its delete and its commit leaves
    state_dir = tmp_path / "state" / "value_counts"
    shutil.rmtree(state_dir)
    (state_dir / "_temporary" / "0").mkdir(parents=True)
    with pytest.raises(AnalysisException):
        ingest.process_batch(
            spark.createDataFrame([(4.0, 1)], "value double, is1 long"), 1
        )
    assert len(ingest.stats) == 1


def test_committed_empty_partitioned_append_reads_as_empty(spark, tmp_path):
    path = str(tmp_path / "buckets")
    spark.createDataFrame([], "k string, __b int").write.mode("append").partitionBy(
        "__b"
    ).parquet(path)
    assert sorted(p.name for p in Path(path).iterdir() if not p.name.startswith(".")) == [
        "_SUCCESS"
    ]
    state = read_state(spark, path, "k string")
    assert state.count() == 0
    assert state.schema.simpleString() == "struct<k:string>"


def test_missing_path_reads_as_empty(spark, tmp_path, monkeypatch):
    # no read is tried: a failed read's analysis error reaches Spark's
    # query listeners, which log it with its stack trace
    reads = []
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *paths: reads.append(paths))
    state = read_state(
        spark, str(tmp_path / "never_written"),
        "id long, words array<bigint>, s struct<x:int,y:int>",
    )
    assert state.count() == 0
    assert state.columns == ["id", "words", "s"]
    assert state.schema.simpleString() == (
        "struct<id:bigint,words:array<bigint>,s:struct<x:int,y:int>>"
    )
    assert reads == []


def test_reading_bucketed_state_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "bucketed")
    _append_bucketed(
        spark.range(40).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v")),
        path, "k", 4,
    )
    sc = spark.sparkContext
    sc.setJobGroup("read_state_jobs", "read_state_jobs")
    try:
        state = read_state(spark, path, "k long, v string")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read_state_jobs") == []
    assert state.schema.simpleString() == "struct<k:bigint,v:string>"
    assert state.count() == 40


# -- structure: one state read, one fold, one wiring -------------------------

# functions that overwrite a directory without folding state through it:
# the CDC A/B snapshot swap, rolling compaction, the kNN graph rebuild and
# two offline reference builders
_OVERWRITE_ALLOWED = {
    ("state.py", "fold_state"),
    ("cdc.py", "process_batch"),
    ("ingest.py", "_compact_bucket"),
    ("knn_index.py", "refresh"),
    ("dsir.py", "freeze_dsir_reference"),
    ("span_filter.py", "build_benchmark_shingle_index"),
}


def _modules():
    for path in sorted(STREAMING.glob("*.py")):
        yield path.name, ast.parse(path.read_text())


def _functions(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node


def _calls(node, attr):
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
    ]


def _reads_parquet(node):
    return any(
        isinstance(c.func.value, ast.Attribute) and c.func.value.attr == "read"
        for c in _calls(node, "parquet")
    ) or any(isinstance(n, ast.Name) and n.id == "read_state" for n in ast.walk(node))


def _catches_everything(handler):
    return handler.type is None or (
        isinstance(handler.type, ast.Name) and handler.type.id in {"Exception", "BaseException"}
    )


def test_one_way_to_read_fold_and_wire_streaming_state():
    offenders = []
    for name, tree in _modules():
        if name != "state.py" and _calls(tree, "foreachBatch"):
            offenders.append(f"{name}: calls foreachBatch")
        for fn in _functions(tree):
            if fn.name == "_read_or_empty":
                offenders.append(f"{name}: defines _read_or_empty")
            overwrites = [
                c for c in _calls(fn, "mode")
                if c.args and getattr(c.args[0], "value", None) == "overwrite"
            ]
            if overwrites and (name, fn.name) not in _OVERWRITE_ALLOWED:
                offenders.append(f"{name}:{fn.name}: overwrites state outside fold_state")
        for node in ast.walk(tree):
            if isinstance(node, ast.Try) and any(map(_catches_everything, node.handlers)):
                if any(_reads_parquet(stmt) for stmt in node.body):
                    offenders.append(f"{name}:{node.lineno}: except Exception around a parquet read")
    assert offenders == []
