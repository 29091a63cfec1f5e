"""Robust location estimators over grouped fact data.

Heavy-tailed metrics (revenue per user, latency) make the plain mean
useless for experiment readouts; the standard warehouse fix is the
trimmed / winsorized mean. Both are exact order statistics here,
computed on the DISTINCT-VALUE level table (value, n, cum_before) —
the weighted-median pattern (queries/stat_tests.py) — so the only window
runs over distinct values per group, never over fact rows, and every
sum is exact int64: a float appears only in the final mean division.

Reference scope note: the reference library (m3dev/redshells) has no
analytics tier at all; this module follows its test strategy
(threshold/unit gates) with DuckDB oracles on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def trimmed_winsorized_means(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim_pct: int = 10,
) -> DataFrame:
    """→ one row per group: (n, n_kept, v_lo, v_hi, trimmed_mean,
    winsorized_mean). ``trim_pct`` percent of rows is cut from EACH
    tail (rank-exact: lo = (n·trim_pct) div 100 rows per side).

    Level-table algebra: a distinct value v with n_l occurrences
    occupying ranks [cum_before, cum_before+n_l) contributes
    kept_l = max(0, min(cum_before+n_l, n−lo) − max(cum_before, lo))
    rows to the trimmed interval — so the trimmed sum is one exact
    integer aggregate over levels. The winsorized mean clamps the cut
    tails to the boundary order statistics v_lo (rank lo) and v_hi
    (rank n−lo−1), each recovered as min(v | cum_before+n_l ≥ rank+1).
    Values must be integers (cents / counts); trim_pct < 50.
    """
    v = F.col(value_col).cast("long")
    levels = df.groupBy(*group_cols, v.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_l")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    levels = levels.withColumn(
        "cum_before", F.coalesce(F.sum("n_l").over(w), F.lit(0)).cast("long")
    )
    tot = levels.groupBy(*group_cols).agg(F.sum("n_l").cast("long").alias("n"))
    lv = levels.join(tot, group_cols).withColumn(
        "lo", F.expr(f"(n * {int(trim_pct)}) div 100").cast("long")
    )
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum_before") + F.col("n_l"), F.col("n") - F.col("lo"))
        - F.greatest(F.col("cum_before"), F.col("lo")),
    )
    agg = lv.groupBy(*group_cols).agg(
        F.max("n").cast("long").alias("n"),
        F.max("lo").cast("long").alias("lo"),
        F.sum(kept * F.col("v")).cast("long").alias("trimmed_sum"),
        F.min(
            F.when(F.col("cum_before") + F.col("n_l") >= F.col("lo") + 1, F.col("v"))
        )
        .cast("long")
        .alias("v_lo"),
        F.min(
            F.when(
                F.col("cum_before") + F.col("n_l") >= F.col("n") - F.col("lo"),
                F.col("v"),
            )
        )
        .cast("long")
        .alias("v_hi"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_kept = (F.col("n") - 2 * F.col("lo")).cast("long")
    win_sum = (
        F.col("trimmed_sum") + F.col("lo") * F.col("v_lo") + F.col("lo") * F.col("v_hi")
    ).cast("long")
    return agg.select(
        *group_cols,
        "n",
        n_kept.alias("n_kept"),
        "v_lo",
        "v_hi",
        F.round(d("trimmed_sum") / n_kept.cast("double"), 6).alias("trimmed_mean"),
        F.round(win_sum.cast("double") / d("n"), 6).alias("winsorized_mean"),
    )
