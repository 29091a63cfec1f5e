"""Streaming state: the one way a processor reads, folds and wires the
parquet state it keeps under its ``base_path``.

- :func:`read_state` reads a state directory as its declared DDL
  (schema on read: the DDL, not the parquet footers, types the read, so
  reading state launches no schema-inference job). Only a directory
  that was never written reads as empty: the path does not exist, or it
  is a committed empty write (a ``_SUCCESS`` marker and no data files,
  which an empty ``partitionBy`` append leaves). Any other directory
  without data files raises.
- :func:`fold_state` is read → fold → pin → overwrite for state that is
  rewritten whole each micro-batch (sums, sketches, extremes, graphs).
- :func:`start_ingest` wires a processor's ``process_batch`` into a
  stream: one ``availableNow`` trigger and one checkpoint per query
  under ``{base_path}/_checkpoint/{query_name}``.

Idempotency. The checkpoint makes a restart resume after the last
committed micro-batch, so a source is never folded twice by a clean
restart. ``foreachBatch`` is still at-least-once: a batch that failed
after its state write but before its commit runs again and is folded
again (sums double-count, appends double-write). Production points the
state at a transactional table format; the fold logic is unchanged.

Crash window. An overwrite deletes the old files before it commits the
new ones, so a crash in between leaves a directory with no committed
data, typically only ``_temporary``. :func:`read_state` raises on that
directory at the next batch instead of taking it for a first batch and
silently resetting the state.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from redshells_spark.operators.observe import pin_count


def _fs_path(spark: SparkSession, path: str):
    """→ (Hadoop FileSystem, Path) of ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def _unwritten(spark: SparkSession, path: str) -> bool:
    """True when ``path`` does not exist or holds a committed empty
    write (``_SUCCESS`` and only hidden entries)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return True
    names = [s.getPath().getName() for s in fs.listStatus(p)]
    return "_SUCCESS" in names and all(n.startswith(("_", ".")) for n in names)


def read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The state at ``path`` read as the DDL ``schema`` (partition
    columns not named in it, such as ``__b``, are dropped); the empty
    frame of ``schema`` if the state was never written."""
    # split on top-level commas only: "a long, w array<bigint>, s struct<x:int,y:int>"
    cols = [c.split()[0] for c in re.split(r",(?![^<]*>)", schema)]
    # checked before the read: a read of a missing path fails analysis,
    # which every registered query listener logs as an ERROR
    if not _exists(spark, path):
        return spark.createDataFrame([], schema).select(*cols)
    state = spark.read.schema(schema).parquet(path)
    # a declared schema reads a directory without data files as empty
    # instead of failing footer inference: only the file listing the
    # read already made tells a committed empty write from a lost one
    if not state.inputFiles() and not _unwritten(spark, path):
        raise AnalysisException(
            f"state directory {path} holds no data files and no committed empty write"
        )
    return state.select(*cols)


def fold_state(
    spark: SparkSession,
    path: str,
    schema: str,
    fold: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, int]:
    """Overwrite the state at ``path`` with ``fold(old state)`` →
    (the new state, pinned, and its row count). The pin cuts the
    lineage to the files the overwrite deletes."""
    state, rows = pin_count(fold(read_state(spark, path, schema)))
    state.write.mode("overwrite").parquet(path)
    return state, rows


def start_ingest(stream: DataFrame, processor, query_name: str) -> StreamingQuery:
    """Run ``processor.process_batch`` on every micro-batch of
    ``stream`` until the data available at start is processed; the
    caller owns the returned query."""
    return (
        stream.writeStream.foreachBatch(processor.process_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            f"{processor.base_path}/_checkpoint/{query_name}",
        )
        .start()
    )
