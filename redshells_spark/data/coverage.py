"""Greedy maximum-coverage subset selection (coreset/eval-set picking).

"Pick the k documents that together cover the most vocabulary" is the
maximum-coverage problem; the greedy algorithm (pick the document with
the most not-yet-covered elements, repeat) is the classic (1 − 1/e)
approximation (Nemhauser, Wolsey & Fisher 1978) and the standard
recipe for diverse eval subsets, seed corpora, and dictionary-building
passes in data pipelines.

Relational form: ONE groupBy builds the per-id element arrays, then
each of the k bounded rounds is a map-only projection — per-id gain is
``size(array_except(arr, covered))`` against the broadcast covered set
— capped by a ``TakeOrdered`` argmax (orderBy/limit(1), no global
window, no shuffle). The covered set is the union of ≤ k picked
documents' elements, held on the driver (k is a small constant — the
capped-and-loud driver-boundary pattern used by the repo's other
iterative fits). This replaces the earlier per-round anti-join +
localCheckpoint rewrite of the full remaining relation: k fact-scale
shuffles collapse into one array build.

Deterministic (total-order argmax tie-break on id), so the whole loop
unrolls into exact SQL stages — see queries/corpus.py's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns


def greedy_max_coverage(
    sets_df: DataFrame,
    id_column: str = "doc_id",
    element_column: str = "shingle",
    k: int = 6,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """→ (step, ``id_column``, gain, covered_total): the greedy
    max-coverage picks in order. Stops early (fewer than k rows) when
    every element is covered — matching the unrolled-SQL oracle, whose
    later stages go empty the same way.

    ``sets_df`` rows must be distinct (id, element) pairs. Pass
    ``arrays`` — (id, array-of-distinct-elements), e.g. the session's
    cached per-doc shingle arrays — to skip the internal groupBy; the
    first two columns are taken as (id, array).
    """
    require_columns(sets_df, [id_column, element_column])
    if k < 1:
        raise ValueError(f"bad k={k}")
    spark = sets_df.sparkSession
    el_type = dict(sets_df.dtypes)[element_column]
    if arrays is None:
        arrs = sets_df.groupBy(F.col(id_column).alias("__id")).agg(
            F.collect_list(element_column).alias("__arr")
        )
    else:
        c0, c1 = arrays.columns[0], arrays.columns[1]
        arrs = arrays.select(F.col(c0).alias("__id"), F.col(c1).alias("__arr"))
    arrs = arrs.localCheckpoint(eager=True)
    rows: list[tuple[int, object, int, int]] = []
    covered: set = set()
    covered_total = 0
    for step in range(1, k + 1):
        cov_df = spark.createDataFrame(
            [(sorted(covered),)], f"__cov array<{el_type}>"
        )
        top = (
            arrs.crossJoin(F.broadcast(cov_df))
            .select(
                "__id",
                F.array_except("__arr", "__cov").alias("__new"),
            )
            .select("__id", "__new", F.size("__new").cast("long").alias("__g"))
            .orderBy(F.col("__g").desc(), F.col("__id").asc())
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["__g"]) == 0:
            # gain 0 ⇔ the remaining relation of the anti-join
            # formulation is empty — same early stop as the oracle
            break
        pick, gain = top[0]["__id"], int(top[0]["__g"])
        covered_total += gain
        rows.append((step, pick, gain, covered_total))
        # the argmax row carries the newly covered elements — no
        # second job to fetch the picked document's set
        covered.update(top[0]["__new"])
    id_type = dict(sets_df.dtypes)[id_column]
    return spark.createDataFrame(
        rows, f"step long, {id_column} {id_type}, gain long, covered_total long"
    )
