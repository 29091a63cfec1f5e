"""Single-pass metrics via Spark's Observation API: write-with-audit
and pin-with-count.

``df.observe`` attaches aggregate expressions to a plan so they are
computed AS A SIDE EFFECT of whatever action consumes it — here a
parquet write. The data-quality numbers a pipeline wants at publish
time (row count, null counts, min/max freshness) normally cost a
second full scan; observed metrics ride along with the write for
free, which at 100 TB is the difference between auditing every
publish and auditing none.

Only aggregates that tolerate partial/merged evaluation are valid
observation expressions (sum/count/min/max — no distinct, no sort);
that is exactly the map-side-combine family, so the audit adds no
shuffle either.

The same trick sizes a pinned relation: :func:`pin_count` observes the
row count during the ``localCheckpoint`` job itself, so an iterative
operator learns |frontier| (and picks broadcast or shuffle) without a
separate ``count()`` — which costs two more jobs under AQE.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def audit_metrics(
    df: DataFrame, null_check_cols: list[str] | None = None
) -> list[Column]:
    """Standard publish-audit expression set: row count + per-column
    null counts (+ add your own to the list)."""
    cols = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols or []:
        cols.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    return cols


def write_parquet_with_audit(
    df: DataFrame,
    path: str,
    metrics: list[Column],
    mode: str = "overwrite",
) -> dict[str, Any]:
    """Write ``df`` to parquet and return the observed metrics — ONE
    scan, no second audit job. Raises if nothing was written (the
    observation would otherwise silently report an empty run)."""
    obs = Observation("write_audit")
    df.observe(obs, *metrics).write.mode(mode).parquet(path)
    got = obs.get
    if got.get("n_rows") == 0:
        raise ValueError(f"write_parquet_with_audit: wrote 0 rows to {path}")
    return got


def pin_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``df.localCheckpoint(eager=True)`` plus its exact row count,
    observed by the checkpoint's own jobs — no extra job."""
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return pinned, obs.get["n"]
